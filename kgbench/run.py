"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 kgbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The corpus is generated from the seed in this
process and handed to the pipeline only as parquet; the pipeline is driven
through ``plans.pipeline.run_pipeline`` (batch_build) or
``jobs/run_streaming_pipeline.run_streaming`` (tail_ingest). ``--trace 0``
prints the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run, as BENCHMARK.json names them. Every run checks the pipeline's
outputs against the generator's planted truth. See kgbench/README.md for
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# fail before any work when the program under test is not next to us
from runne_contrastive_ner_spark.plans.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from runne_contrastive_ner_spark.session import build_session  # noqa: E402
from jobs.run_streaming_pipeline import run_streaming  # noqa: E402

import gen  # noqa: E402
import host  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# --trace 0 reports the end_to_end metrics, --trace 1 the per_layer ones
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

LAYERS = ("mentions", "linking", "components", "predicates", "graph", "tables", "plans",
          "streaming")
ANALYTICS_STAGES = ("analytics_pr", "analytics_tri", "analytics_comm", "analytics_core",
                    "analytics")
STAGES = ("mentions", "entities", "edges", "triples", *ANALYTICS_STAGES)
# run_pipeline workloads and whether their rebuild turns the analytics
# stage group on
ANALYTICS = {"batch_build": True, "entity_graph": False}
# warm-up corpus size; entity_graph's keeps its alias list above
# linking.ALIAS_ISIN_LIMIT so the warm-up takes the same linking path
WARM_SCALE = {"batch_build": 0.03, "tail_ingest": 0.05, "entity_graph": 0.15}
MIN_NOOPS = 3
KERNEL_SAMPLE = 300
MIB = 1024 * 1024


class Checks:
    """Compares pipeline outputs with the planted truth; counts every check
    and keeps a message per mismatch."""

    def __init__(self, truth: gen.Truth):
        self.truth = truth
        self.count = 0
        self.mismatches: list[str] = []

    def check(self, what: str, got, want) -> None:
        self.count += 1
        if got != want:
            self.mismatches.append(f"{what}: got {got}, want {want}")

    def build(self, res, k: int) -> None:
        """Every table of a PipelineResult built with ``window_k=k``."""
        from pyspark.sql import functions as F

        t = self.truth
        m = res.mentions.agg(F.count(F.lit(1)), F.sum("start"), F.sum("end")).first()
        self.check("mentions", tuple(int(x or 0) for x in m),
                   (t.mentions, t.start_sum, t.end_sum))
        self.entities(res.entities)
        self.check("edges", res.edges.count(), t.alias_edges)
        self.triples(res, k)

    def entities(self, entities) -> None:
        from pyspark.sql import functions as F

        t = self.truth
        e = entities.agg(
            F.count(F.lit(1)), F.countDistinct("canonical_id"),
            F.sum(F.crc32(F.concat_ws("\t", "surface_norm", "canonical_id")))).first()
        self.check("entities", tuple(int(x or 0) for x in e),
                   (t.surfaces, t.entities, gen.canonical_checksum(t.canonical)))

    def triples(self, res, k: int) -> None:
        self.check(f"triples(k={k})", res.triples.count(), self.truth.triples[k])
        if res.analytics is not None:
            self.check("analytics rows", res.analytics.count(), self.truth.graph_nodes)

    def fold(self, what: str, out: dict, fold: tuple[int, int] | None) -> None:
        """One ``run_streaming`` result; ``fold`` is the expected (delta
        conversations, changed surfaces), None for a poll with no new file."""
        t = self.truth
        self.check(f"{what} tables", (out["mentions"], out["entities"], out["triples"]),
                   (t.mentions, t.surfaces, t.triples[2]))
        want = fold or (0, 0)
        self.check(f"{what} fold", (out["delta_convs"], out["changed_surfaces"]), want)


class Run:
    """One benchmark run: generated input, truth and the session."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.corpus = gen.generate(workload, seed)
        self.input = os.path.join(work, "input")
        self.input_bytes = gen.write_parquet(
            self.corpus.turns, os.path.join(self.input, "part-00000.parquet"))
        self.spark = None
        self.session_s = 0.0

    def pipeline(self, path: str, fp: str, warehouse: str, vocab: gen.Vocab, k: int,
                 analytics: bool):
        cfg = PipelineConfig(
            warehouse=warehouse, window_k=k, gazetteer=vocab.gazetteer,
            aliases=vocab.aliases, analytics=analytics)
        transcripts = self.spark.read.parquet(path)
        # StageRunner reports progress on stdout; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            return run_pipeline(self.spark, transcripts, cfg, input_fp=fp)

    def streaming(self, src: str, warehouse: str) -> dict:
        with contextlib.redirect_stdout(sys.stderr):
            return run_streaming(self.spark, src, warehouse)

    def setup(self, conf: dict) -> float:
        """Build the session, then one warm-up pass over a small corpus of
        the same workload into scratch directories, so the timed phases run
        on a JIT-warm driver with its Python workers up. Returns seconds."""
        warm = gen.generate(self.workload, self.seed + 1_000_003, scale=WARM_SCALE[self.workload])
        src = os.path.join(self.work, "warm-input")
        wh = os.path.join(self.work, "warm-wh")
        gen.write_parquet(warm.turns, os.path.join(src, "part-00000.parquet"))
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="kgbench", master=f"local[{host.cores()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        if self.workload == "tail_ingest":
            self.streaming(src, wh)
        else:
            # like the cold build, without the analytics group
            self.pipeline(src, "warm-up", wh, warm.vocab, 2, analytics=False)
        return time.perf_counter() - t0


def kernel_turns_per_s(run: Run) -> float:
    """The mention kernel in-process, outside Spark, over a fixed sample."""
    from runne_contrastive_ner_spark.functions.scorer import GazetteerScorer
    from runne_contrastive_ner_spark.functions.vocab import ENTITY_TYPES
    from runne_contrastive_ner_spark.operators.mentions import detect_mentions_in_text

    scorer = GazetteerScorer(run.corpus.vocab.gazetteer, ENTITY_TYPES)
    sample = [t.text for t in run.corpus.turns[:KERNEL_SAMPLE]]
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for text in sample:
            detect_mentions_in_text(text, scorer)
        rates.append(len(sample) / (time.perf_counter() - t0))
    return statistics.median(rates)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def timed(tracer: Tracer, phase: str, call):
    """``call()`` inside a phase span; returns its result and seconds."""
    with tracer.span("phase", phase) as sp:
        res = call()
    tracer.release()
    return res, sp.end - sp.start


def polls_until(out: dict, poll, t_start: float, seconds: float) -> None:
    """The no-op polls left: at least MIN_NOOPS in all and until ``seconds``
    have passed since ``t_start``. One poll also follows every cold build
    and refresh, so the samples spread over the run and a short burst of
    host contention moves one of them, not their median."""
    while len(out["noop"]) < MIN_NOOPS or time.perf_counter() - t_start < seconds:
        poll()


def measure_build(run: Run, tracer: Tracer, seconds: float) -> dict:
    """Cold build (window_k=2); then one rebuild with window_k=3 (and, on
    batch_build, the analytics group on), which must skip mentions,
    entities and edges, rebuild triples and build the analytics stages; a
    no-op re-run of the current config after each, on which every stage
    must skip. Every call is timed and its outputs are checked against the
    truth.

    The analytics group runs in the rebuild only: its five stages cost the
    same fixed ~8 s whenever they run, and running them in the cold build
    too would not fit the run budget (see README). One rebuild for the
    same reason."""
    t_start = time.perf_counter()
    wh = os.path.join(run.work, "warehouse")
    vocab = run.corpus.vocab
    checks = Checks(gen.ground_truth(run.corpus.turns, vocab.aliases, (2, 3)))
    with open(os.path.join(run.input, "part-00000.parquet"), "rb") as fh:
        fp = hashlib.sha256(fh.read()).hexdigest()
    out: dict = {"checks": checks, "noop": []}
    analytics = ANALYTICS[run.workload]

    def poll(k: int, on: bool, built) -> None:
        res, s = timed(tracer, "noop", lambda: run.pipeline(run.input, fp, wh, vocab, k, on))
        out["noop"].append(s)
        # a stage that skipped reports the metrics of the build it kept
        checks.check("no-op skips", res.metrics, built.metrics)

    cold, out["cold_s"] = timed(
        tracer, "cold", lambda: run.pipeline(run.input, fp, wh, vocab, 2, False))
    checks.build(cold, 2)
    poll(2, False, cold)
    res, s = timed(tracer, "refresh",
                   lambda: run.pipeline(run.input, fp, wh, vocab, 3, analytics))
    out["refresh"] = [s]
    # skipped stages report the metrics of the cold build
    out["stage_wall_s"] = {s: m["wall_sec"] for s, m in res.metrics.items()}
    checks.check(
        "rebuild skips", {s: res.metrics[s] == cold.metrics.get(s) for s in res.metrics},
        {s: s in ("mentions", "entities", "edges") for s in res.metrics})
    checks.triples(res, 3)
    poll(3, analytics, res)
    polls_until(out, lambda: poll(3, analytics, res), t_start, seconds)
    out["steps"] = 1 + len(out["refresh"]) + len(out["noop"])
    out["stored_bytes"] = dir_bytes(wh)
    return out


def measure_tail(run: Run, tracer: Tracer, seconds: float) -> dict:
    """Cold drain of the base corpus by ``run_streaming``; then each append
    lands as one more parquet file and one ``run_streaming`` call folds it
    in; a poll with no new file follows each. Every call's tables and fold
    sizes are checked against the truth of the turns it has seen."""
    t_start = time.perf_counter()
    wh = os.path.join(run.work, "warehouse")
    aliases = run.corpus.vocab.aliases
    turns = list(run.corpus.turns)
    checks = Checks(gen.ground_truth(turns, aliases))
    out: dict = {"checks": checks, "folds": [], "noop": [], "refresh": []}

    def poll() -> None:
        res, s = timed(tracer, "noop", lambda: run.streaming(run.input, wh))
        out["noop"].append(s)
        checks.fold("no-op poll", res, None)

    res, out["cold_s"] = timed(tracer, "cold", lambda: run.streaming(run.input, wh))
    out["drain_mentions"] = res["mentions"]
    checks.fold("drain", res, gen.fold_delta(None, checks.truth, turns, turns))
    poll()
    for i, delta in enumerate(run.corpus.deltas, 1):
        run.input_bytes += gen.write_parquet(
            delta, os.path.join(run.input, f"part-{i:05d}.parquet"))
        turns += delta
        before, checks.truth = checks.truth, gen.ground_truth(turns, aliases)
        res, s = timed(tracer, "refresh", lambda: run.streaming(run.input, wh))
        out["refresh"].append(s)
        checks.fold(f"append {i}", res, gen.fold_delta(before, checks.truth, delta, turns))
        out["folds"].append((res["delta_convs"], res["changed_surfaces"],
                             len({t.conv_id for t in turns})))
        poll()
    polls_until(out, poll, t_start, seconds)
    from runne_contrastive_ner_spark.sources.tables import TableIO

    checks.entities(TableIO(run.spark, wh).read("entities"))
    out["steps"] = 1 + len(out["refresh"]) + len(out["noop"])
    out["stored_bytes"] = dir_bytes(wh)
    return out


def layer_metrics(tracer: Tracer, run: Run, phases: dict) -> dict[str, float]:
    tracer.resolve()
    roots = [sp for sp in tracer.spans if sp.layer == "phase"]
    measured = [sp for root in roots for sp in tracer.under(root)]
    cold = tracer.under(next(sp for sp in roots if sp.name == "cold"))
    layers = tracer.by_layer(measured)
    m: dict[str, float] = {}
    for layer in LAYERS:
        tot = layers.get(layer, dict.fromkeys(COUNTERS, 0.0))
        for k in COUNTERS:
            m[f"{layer}.{k}"] = tot[k]
    v = tracer.values_of(cold)
    mentions = v.get("mentions.rows", phases.get("drain_mentions", 0))
    m["mentions.rows_per_turn"] = mentions / len(run.corpus.turns)
    m["linking.nodes"] = v.get("linking.nodes", 0)
    m["linking.alias_edges"] = v.get("linking.alias_edges", 0)
    m["components.rounds"] = v.get("components.rounds", 0)
    m["predicates.triples_per_mention"] = v.get("predicates.triples", 0) / max(mentions, 1)
    v = tracer.values_of(measured)
    m["graph.edges"] = v.get("graph.edges", 0)
    m["tables.bytes_written"] = v.get("tables.bytes_written", 0)
    m["tables.files_written"] = v.get("tables.files_written", 0)
    stages = [sp for sp in cold if sp.layer == "plans"]
    m["plans.jobs_per_stage"] = tracer.totals(cold)["jobs"] / len(stages) if stages else 0.0
    refresh = [sp for sp in tracer.under(next(sp for sp in roots if sp.name == "refresh"))
               if sp.layer == "plans"]
    m["plans.stages_skipped_ratio"] = (
        sum(sp.name.endswith(":skipped") for sp in refresh) / len(refresh) if refresh else 0.0)
    for s in STAGES:
        m[f"plans.stage_wall_s.{s}"] = phases.get("stage_wall_s", {}).get(s, 0.0)
    folds = phases.get("folds", [])
    m["streaming.delta_conv_ratio"] = (
        statistics.mean(d / n for d, _, n in folds) if folds else 0.0)
    m["streaming.changed_surfaces"] = sum(c for _, c, _ in folds)
    refreshes = [sp for sp in roots if sp.name == "refresh"]
    m["streaming.jobs_per_refresh"] = (
        sum(tracer.totals(tracer.under(sp))["jobs"] for sp in refreshes) / len(refreshes)
        if folds else 0.0)
    return m


def run_workload(args, work: str) -> dict:
    conf = host.configure(work, ROOT)
    run = Run(args.workload, args.seed, work)
    measure = measure_tail if args.workload == "tail_ingest" else measure_build
    cpu0 = host.cpu_times()
    try:
        setup_s = run.setup(conf)
        tracer = Tracer(run.spark, f"{args.workload}-{args.seed}")
        if args.trace:
            tracer.install()
        with host.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            phases = measure(run, tracer, args.seconds)
        tracer.uninstall()
        e2e = {
            "setup_s": setup_s,
            "turns_per_s": len(run.corpus.turns) / phases["cold_s"],
            "refresh_s": statistics.median(phases["refresh"]),
            "noop_poll_s": statistics.median(phases["noop"]),
            "stored_bytes_per_input_byte": phases["stored_bytes"] / run.input_bytes,
        }
        if args.trace:
            metrics = layer_metrics(tracer, run, phases)
            metrics["functions.kernel_turns_per_s"] = kernel_turns_per_s(run)
            metrics["session.build_s"] = run.session_s
            # the traced twins of the end-to-end figures: their difference
            # from the untraced run of the same seed is the tracing overhead
            metrics.update({f"trace.{k}": v for k, v in e2e.items()})
        else:
            metrics = e2e
        tasks, failed_tasks = host.task_counts(run.spark)
    finally:
        if run.spark is not None:
            host.shutdown_spark(run.spark)
    checks = phases["checks"]
    steal = host.steal_share(cpu0, host.cpu_times())
    attempted = phases["steps"] + checks.count + tasks
    failed = len(checks.mismatches) + failed_tasks
    print(f"[kgbench] {args.workload} seed={args.seed} cpu_steal_share={steal:.3f}"
          f" cores={host.cores()} driver_memory_gb={host.driver_memory_gb()}"
          f" error_rate={failed / attempted:.6f}", file=sys.stderr)
    for msg in checks.mismatches:
        print(f"[kgbench] MISMATCH {msg}", file=sys.stderr)
    if args.trace:
        metrics["host.cpu_steal_share"] = steal
        metrics["host.peak_rss_mb"] = rss.peak / MIB
        metrics["error_rate"] = failed / attempted
        trace_dir = os.path.join(ROOT, ".kgbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                    {"metrics": metrics, "mismatches": checks.mismatches})
    units = PER_LAYER if args.trace else END_TO_END
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metric set mismatch: {sorted(metrics.keys() ^ units.keys())}")
    return {
        "correct": not checks.mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".kgbench_work", f"run-{os.getpid()}")
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
