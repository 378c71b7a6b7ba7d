"""Spans and Spark counters recorded from the benchmark's side of each
layer's public functions.

Every span sets its own Spark job group, so each job is charged to the
innermost span that submitted it. After the run the groups are resolved
through ``statusTracker()`` (group -> jobs -> stages) and the status store's
``lastStageAttempt(stageId)`` (tasks, failed tasks, executor CPU, shuffle
write, spill); a stage shared by several jobs is counted once, for the first
job that lists it. A layer's self time is its spans' durations minus the
time covered by their child spans.

A streaming query runs its own offset and listing jobs under a job group
named after its run id; the ``streaming_mentions`` span adds that group.
The micro-batch jobs inherit the group of the span that started the query.

Until ``install`` adds the layer wrappers only the benchmark's own phase
spans exist; ``uninstall`` removes the wrappers again.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

COUNTERS = ("wall_s", "jobs", "tasks", "failed_tasks", "executor_cpu_s",
            "shuffle_write_mb", "spill_mb")
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    run_id: str
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)  # Spark counters, own jobs only
    values: dict = field(default_factory=dict)  # layer-specific counts
    groups: list = field(default_factory=list)  # other job groups charged here


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._persisted: list[DataFrame] = []

    def group(self, span: Span) -> str:
        return f"{self.run_id}-{span.id}"

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), self.run_id, layer, name,
                  parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(self.group(sp), f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), f"{parent.layer}:{parent.name}")
            else:
                self.sc._jsc.clearJobGroup()

    def add(self, key: str, value: float) -> None:
        """Count ``value`` under ``key`` on the innermost open span."""
        values = self.stack[-1].values
        values[key] = values.get(key, 0) + value

    @staticmethod
    def values_of(spans: list[Span]) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in spans:
            for k, v in sp.values.items():
                out[k] = out.get(k, 0) + v
        return out

    # --- status-store counters ------------------------------------------

    def resolve(self) -> None:
        """Fill each span's own (self) Spark counters."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        jobs = sorted(
            (jid, sp) for sp in self.spans
            for g in [self.group(sp), *sp.groups]
            for jid in tracker.getJobIdsForGroup(g)
        )
        for sp in self.spans:
            sp.counters = dict.fromkeys(COUNTERS[1:], 0)
        for jid, sp in jobs:
            c = sp.counters
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # no attempt recorded for this stage
                    continue
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        for sp in self.spans:
            children = [c for c in self.spans if c.parent == sp.id]
            sp.counters["wall_s"] = (sp.end - sp.start) - sum(
                c.end - c.start for c in children
            )

    def under(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def totals(self, spans: list[Span]) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        for sp in spans:
            for k in COUNTERS:
                out[k] += sp.counters.get(k, 0)
        return out

    def by_layer(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        layers: dict[str, list[Span]] = {}
        for sp in spans:
            layers.setdefault(sp.layer, []).append(sp)
        return {layer: self.totals(sps) for layer, sps in layers.items()}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)

    # --- layer wrappers ---------------------------------------------------

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Run ``df`` inside the current span and hand on the cached rows,
        so the work is charged to the layer that defined it."""
        df = df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def install(self) -> None:
        from runne_contrastive_ner_spark.operators import components, graph, linking
        from runne_contrastive_ner_spark.plans import manifest, pipeline
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming import incremental

        tr = self

        def materialized(layer, name, count=None):
            def wrap(orig):
                def run(*a, **kw):
                    with tr.span(layer, name):
                        df, n = tr.materialize(orig(*a, **kw))
                        if count:
                            tr.add(count, n)
                    return df
                return run
            return wrap

        def canonicalize(orig):
            def run(*a, **kw):
                with tr.span("linking", "canonicalize"):
                    entities, edges, linked = orig(*a, **kw)
                    entities, n_nodes = tr.materialize(entities)
                    edges, n_edges = tr.materialize(edges)
                    tr.add("linking.nodes", n_nodes)
                    tr.add("linking.alias_edges", n_edges)
                return entities, edges, linked
            return run

        def connected_components(orig):
            def run(edges, *a, **kw):
                with tr.span("components", "connected_components"):
                    components.LAST_DISTRIBUTED_ROUNDS = None
                    out, _ = tr.materialize(orig(edges, *a, **kw))
                    tr.add("components.rounds", components.LAST_DISTRIBUTED_ROUNDS or 0)
                return out
            return run

        def written(io, table):
            # files new in the current snapshot: a pruned merge hardlinks
            # the untouched partitions of the previous (retained) snapshot
            for d, _, files in os.walk(io.data_path(table)):
                for f in files:
                    st = os.stat(os.path.join(d, f))
                    if f.endswith(".parquet") and st.st_nlink == 1:
                        tr.add("tables.bytes_written", st.st_size)
                        tr.add("tables.files_written", 1)

        def table_write(orig):
            def run(io, df, table, *a, **kw):
                with tr.span("tables", f"write:{table}"):
                    orig(io, df, table, *a, **kw)
                    written(io, table)
            return run

        def table_merge(orig):
            def run(io, table, *a, **kw):
                with tr.span("tables", f"merge:{table}"):
                    orig(io, table, *a, **kw)
                    written(io, table)
            return run

        def table_read(orig):
            def run(io, table, *a, **kw):
                with tr.span("tables", f"read:{table}"):
                    return orig(io, table, *a, **kw)
            return run

        def streaming_mentions(orig):
            def run(*a, **kw):
                # the query runs on its own thread; the span ends when its
                # availableNow trigger has drained the new files
                with tr.span("streaming", "streaming_mentions") as sp:
                    q = orig(*a, **kw)
                    q.awaitTermination()
                    sp.groups.append(str(q.runId))
                return q
            return run

        def kg_fold(orig):
            def run(*a, **kw):
                with tr.span("streaming", "incremental_kg_fold"):
                    return orig(*a, **kw)
            return run

        def stage_run(orig):
            def run(runner, stage, fp, build, *a, **kw):
                built = []

                def traced_build():
                    built.append(stage)
                    return build()

                with tr.span("plans", f"stage:{stage}") as sp:
                    out = orig(runner, stage, fp, traced_build, *a, **kw)
                    sp.name += "" if built else ":skipped"
                return out
            return run

        self._patch(pipeline, "extract_mentions",
                    materialized("mentions", "extract_mentions", "mentions.rows"))
        self._patch(pipeline, "canonicalize", canonicalize)
        self._patch(pipeline, "induce_predicates",
                    materialized("predicates", "induce_predicates", "predicates.triples"))
        self._patch(linking, "connected_components", connected_components)
        self._patch(TableIO, "write", table_write)
        self._patch(TableIO, "read", table_read)
        self._patch(TableIO, "merge", table_merge)
        self._patch(manifest.StageRunner, "run", stage_run)
        # run_analytics_stages and run_streaming import these at call time
        self._patch(graph, "cooccurrence_edges",
                    materialized("graph", "cooccurrence_edges", "graph.edges"))
        for op in ("pagerank", "triangle_counts", "label_propagation", "k_core_numbers"):
            self._patch(graph, op, materialized("graph", op))
        self._patch(incremental, "streaming_mentions", streaming_mentions)
        self._patch(incremental, "incremental_kg_fold", kg_fold)
