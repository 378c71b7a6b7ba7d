"""Tests for the tail ingest: the Structured Streaming mention scan, the
incremental KG fold, crash replay, and continuing a warehouse across the
batch and tail entry points."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from jobs.run_streaming_pipeline import run_streaming
from runne_contrastive_ner_spark.operators.mentions import extract_mentions
from runne_contrastive_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
from runne_contrastive_ner_spark.sources.tables import TableIO
from runne_contrastive_ner_spark.sources.transcripts import synthesize
from runne_contrastive_ner_spark.streaming.incremental import streaming_mentions


def _late_file(spark, tdir):
    """Append one more parquet file of new conversations ("late-" ids)
    whose turns repeat the surfaces already in ``tdir``."""
    synthesize(spark, n_convs=2, turns_per_conv=4).withColumn(
        "conv_id", F.concat(F.lit("late-"), F.col("conv_id"))
    ).write.mode("append").parquet(tdir)


def _batch_build(spark, tdir, wh, input_fp):
    """``run_pipeline`` over every file now in ``tdir``."""
    spark.catalog.refreshByPath(tdir)
    run_pipeline(
        spark, spark.read.parquet(tdir), PipelineConfig(warehouse=wh), input_fp
    )


def _assert_equals_scratch(spark, wh, tdir, scratch_wh):
    """``entities`` and ``triples`` of ``wh`` equal a scratch batch build
    over every file in ``tdir``, column types included."""
    _batch_build(spark, tdir, scratch_wh, "scratch")
    got, want = TableIO(spark, wh), TableIO(spark, scratch_wh)

    def ents(io, cols):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in io.read("entities").select(*cols).collect()
        )

    # counts first: they are what a double-folded batch gets wrong
    cols = ["surface_norm", "canonical_id", "n_mentions"]
    assert ents(got, cols) == ents(want, cols)
    cols += ["types", "entity_id"]
    assert ents(got, cols) == ents(want, cols)
    tcols = want.read("triples").columns
    assert Counter(map(tuple, got.read("triples").select(*tcols).collect())) == (
        Counter(map(tuple, want.read("triples").collect()))
    )
    for table in ("entities", "triples"):
        assert got.read(table).dtypes == want.read(table).dtypes, table


def _streaming_replay_after_crash(spark, tmp_path, monkeypatch, method, table):
    """Tail-ingest a late file with ``TableIO.<method>`` raising once for
    ``table``, re-run ``run_streaming``, and compare with a scratch build."""
    tdir = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    synthesize(spark, n_convs=3, turns_per_conv=5).write.parquet(tdir)
    run_streaming(spark, tdir, wh)
    _late_file(spark, tdir)

    real = getattr(TableIO, method)
    crashed = []

    def crash_once(self, *a, **kw):
        # merge(table, ...), write(df, table, ...)
        name = a[0] if method == "merge" else a[1]
        if name == table and not crashed:
            crashed.append(name)
            raise RuntimeError(f"injected crash at the {table} {method}")
        return real(self, *a, **kw)

    monkeypatch.setattr(TableIO, method, crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_streaming(spark, tdir, wh)
    out = run_streaming(spark, tdir, wh)
    assert crashed and out["new_batches"] >= 1
    _assert_equals_scratch(spark, wh, tdir, str(tmp_path / "scratch"))


def test_streaming_replay_after_crash_at_triples_merge(spark, tmp_path, monkeypatch):
    """A tail run that crashes at its triples MERGE, after the stream
    checkpoint took the new file and before the fold manifest was written,
    is replayed by the next run. The replay must end with the tables of a
    scratch build: the entity stats are recounted, so the replayed batch is
    not counted twice."""
    _streaming_replay_after_crash(spark, tmp_path, monkeypatch, "merge", "triples")


def test_streaming_replay_after_crash_at_entities_write(spark, tmp_path, monkeypatch):
    """A tail run that crashes at its entities write, after the triples
    MERGE has landed, is replayed by the next run. The replay re-merges
    triples that already hold the batch and must still end with the
    tables of a scratch build."""
    _streaming_replay_after_crash(spark, tmp_path, monkeypatch, "write", "entities")


class TestCrossEntryPoint:
    """A warehouse built by either entry point is continued by the other:
    both write ``entities`` and ``triples`` with one schema and layout."""

    @staticmethod
    def _dtypes(spark, wh):
        io = TableIO(spark, wh)
        return io.read("entities").dtypes, io.read("triples").dtypes

    def test_batch_then_tail(self, spark, tmp_path):
        tdir = str(tmp_path / "transcripts")
        wh = str(tmp_path / "wh")
        synthesize(spark, n_convs=3, turns_per_conv=5).write.parquet(tdir)
        _batch_build(spark, tdir, wh, "b1")
        batch_dtypes = self._dtypes(spark, wh)
        _late_file(spark, tdir)
        out = run_streaming(spark, tdir, wh)
        assert out["new_batches"] >= 1
        assert self._dtypes(spark, wh) == batch_dtypes
        _assert_equals_scratch(spark, wh, tdir, str(tmp_path / "scratch"))

    def test_tail_then_batch_then_tail(self, spark, tmp_path):
        tdir = str(tmp_path / "transcripts")
        wh = str(tmp_path / "wh")
        synthesize(spark, n_convs=3, turns_per_conv=5).write.parquet(tdir)
        run_streaming(spark, tdir, wh)
        tail_dtypes = self._dtypes(spark, wh)
        _batch_build(spark, tdir, wh, "b1")
        assert self._dtypes(spark, wh) == tail_dtypes
        _late_file(spark, tdir)
        out = run_streaming(spark, tdir, wh)
        assert out["new_batches"] >= 1
        assert self._dtypes(spark, wh) == tail_dtypes
        _assert_equals_scratch(spark, wh, tdir, str(tmp_path / "scratch"))


def test_noop_poll_runs_at_most_one_job(spark, tmp_path):
    """A ``run_streaming`` call with nothing new reads no table: its result
    counts come from Parquet footers, so the only job left in the caller's
    job group is the stream's schema probe of the transcripts dir."""
    tdir = str(tmp_path / "transcripts")
    wh = str(tmp_path / "wh")
    synthesize(spark, n_convs=3, turns_per_conv=5).write.parquet(tdir)
    first = run_streaming(spark, tdir, wh)
    sc = spark.sparkContext
    sc.setJobGroup("noop-poll-probe", "run_streaming with nothing new")
    try:
        again = run_streaming(spark, tdir, wh)
    finally:
        sc._jsc.clearJobGroup()
    assert again["new_batches"] == 0
    assert {k: again[k] for k in ("mentions", "entities", "triples")} == {
        k: first[k] for k in ("mentions", "entities", "triples")
    }
    assert len(sc.statusTracker().getJobIdsForGroup("noop-poll-probe")) <= 1


def test_batch_rerun_after_tail_rebuilds_the_folded_stages(spark, tmp_path):
    """A tail fold rewrites ``entities`` and ``triples`` behind the batch
    build's stage manifests. A later batch run over the original input,
    with the same ``input_fp``, must rebuild those stages rather than skip
    on a manifest that names an older snapshot: its tables equal a scratch
    build over that input, and each manifest's rows match its table."""
    a_dir = str(tmp_path / "a")
    tail_dir = str(tmp_path / "a_and_b")
    wh = str(tmp_path / "wh")
    a = synthesize(spark, n_convs=3, turns_per_conv=5)
    a.write.parquet(a_dir)
    a.write.parquet(tail_dir)
    _late_file(spark, tail_dir)
    _batch_build(spark, a_dir, wh, "A")
    run_streaming(spark, tail_dir, wh)
    spark.catalog.refreshByPath(a_dir)
    res = run_pipeline(
        spark, spark.read.parquet(a_dir), PipelineConfig(warehouse=wh), "A"
    )
    _assert_equals_scratch(spark, wh, a_dir, str(tmp_path / "scratch"))
    io = TableIO(spark, wh)
    for stage in ("mentions", "entities", "edges", "triples"):
        assert res.metrics[stage]["rows"] == io.rows(stage), stage


class TestStreaming:
    def test_streaming_mentions_match_batch(self, spark, tmp_path):
        t = synthesize(spark, n_convs=4, turns_per_conv=6, long_conv_turns=0)
        tdir = str(tmp_path / "transcripts")
        t.write.parquet(tdir)
        out = str(tmp_path / "mentions_out")
        q = streaming_mentions(spark, tdir, out, str(tmp_path / "ck"))
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        streamed = spark.read.parquet(out)
        assert streamed.count() == extract_mentions(t).count()
        assert "batch_id" in streamed.columns


class TestSkewBalance:
    def test_salted_repartition_spreads_long_conversation(self, spark):
        """One conversation 10x longer than the rest must not pin a single
        task: with salting on (conv_id, turn_idx) the max partition holds a
        bounded share of rows (the skew guard from SURVEY.md §7.2)."""
        from pyspark.sql import functions as F2

        t = synthesize(spark, n_convs=4, turns_per_conv=10, long_conv_turns=400)
        salted = t.select("conv_id", "turn_idx", "text").repartition(
            8, F2.col("conv_id"), F2.col("turn_idx")
        )
        sizes = (
            salted.withColumn("pid", F2.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in sizes)
        biggest = max(r["count"] for r in sizes)
        # unsalted, the long conversation (400 of 440 rows) would land in one
        # partition; salted, no partition may hold even half the rows
        assert biggest < total / 2


def test_streaming_job_tail_ingest(spark, tmp_path):
    """The streaming deployment surface (jobs/run_streaming_pipeline.py):
    drain-what's-there (availableNow), restart picks up ONLY new files via
    the stream checkpoint, a no-new-files restart processes zero batches,
    and the folded triple set equals the batch pipeline over the union."""
    from runne_contrastive_ner_spark.operators.linking import canonicalize
    from runne_contrastive_ner_spark.operators.predicates import (
        induce_predicates,
    )

    tdir = str(tmp_path / "tail_transcripts")
    wh = str(tmp_path / "stream_wh")
    t1 = synthesize(spark, n_convs=3, turns_per_conv=5)
    t1.write.parquet(tdir)

    s1 = run_streaming(spark, tdir, wh)
    assert s1["new_batches"] >= 1 and s1["mentions"] > 0

    # drop new files: a second synthesized slice with disjoint conv ids
    t2 = synthesize(spark, n_convs=2, turns_per_conv=4).withColumn(
        "conv_id", F.concat(F.lit("late-"), F.col("conv_id"))
    )
    t2.write.mode("append").parquet(tdir)
    s2 = run_streaming(spark, tdir, wh)
    assert s2["new_batches"] >= 1
    assert s2["mentions"] > s1["mentions"]

    # idle restart: checkpoint says nothing new -> zero new batches
    s3 = run_streaming(spark, tdir, wh)
    assert s3["new_batches"] == 0
    assert s3["mentions"] == s2["mentions"]

    # equivalence with the batch path over the full accumulated input
    allt = spark.read.parquet(tdir)
    _, _, linked = canonicalize(spark, extract_mentions(allt))
    want = induce_predicates(linked, k=2, entity_col="entity_id").count()
    assert s3["triples"] == want


def test_streaming_job_crash_between_checkpoint_and_fold(spark, tmp_path):
    """ADVICE r5 (high): if a run crashes AFTER the stream checkpoint
    committed new batches but BEFORE the fold ran, the restart must fold
    those batches — the skip decision keys on the persisted fold manifest,
    not on what the restarting process observed before its own stream."""
    from runne_contrastive_ner_spark.operators.linking import canonicalize
    from runne_contrastive_ner_spark.operators.predicates import (
        induce_predicates,
    )

    tdir = str(tmp_path / "crash_transcripts")
    wh = str(tmp_path / "crash_wh")
    t1 = synthesize(spark, n_convs=3, turns_per_conv=5)
    t1.write.parquet(tdir)
    s1 = run_streaming(spark, tdir, wh)
    assert s1["triples"] > 0

    # new files land; the stream drains them (checkpoint commits the
    # batches) but the process "crashes" before incremental_kg_fold runs
    t2 = synthesize(spark, n_convs=2, turns_per_conv=4).withColumn(
        "conv_id", F.concat(F.lit("crash-"), F.col("conv_id"))
    )
    t2.write.mode("append").parquet(tdir)
    q = streaming_mentions(
        spark,
        tdir,
        f"{wh}/stream_mentions",
        f"{wh}/_stream_checkpoint",
    )
    q.awaitTermination()

    # restart: its own stream sees nothing new, but the manifest shows the
    # crashed run's batches were never folded -> they enter the delta
    s2 = run_streaming(spark, tdir, wh)
    assert s2["new_batches"] >= 1
    allt = spark.read.parquet(tdir)
    _, _, linked = canonicalize(spark, extract_mentions(allt))
    want = induce_predicates(linked, k=2, entity_col="entity_id").count()
    assert s2["triples"] == want
    assert s2["mentions"] == extract_mentions(allt).count()

    # and the recovery is sticky: an idle restart now skips cleanly
    s3 = run_streaming(spark, tdir, wh)
    assert s3["new_batches"] == 0 and s3["triples"] == want


class TestIncrementalFold:
    """incremental_kg_fold: delta-sized tail maintenance whose result is
    row-identical to a from-scratch batch fold (the invariant), with the
    canonical-id-change propagation case that breaks naive incremental
    linking."""

    MENTION_SCHEMA = (
        "conv_id string, turn_idx int, type string, start int, end int,"
        " surface string, surface_norm string"
    )

    def _mentions(self, spark, rows):
        return spark.createDataFrame(
            [
                (c, t, "PERSON", 0, len(s), s, s)
                for (c, t, s) in rows
            ],
            self.MENTION_SCHEMA,
        )

    def _scratch(self, spark, mentions, aliases):
        from runne_contrastive_ner_spark.operators.linking import canonicalize
        from runne_contrastive_ner_spark.operators.predicates import (
            induce_predicates,
        )

        entities, _, linked = canonicalize(spark, mentions, aliases=aliases)
        triples = induce_predicates(linked, k=2, entity_col="entity_id")
        return entities, triples

    def test_bridge_alias_propagates_to_untouched_conversation(
        self, spark, tmp_path
    ):
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            incremental_kg_fold,
        )

        aliases = [("aa zz", "bb")]
        io = TableIO(spark, str(tmp_path / "foldwh"))
        batch1 = self._mentions(
            spark, [("c1", 0, "bb"), ("c1", 0, "qq"), ("c3", 0, "rr")]
        )
        s1 = incremental_kg_fold(spark, io, batch1, batch1, aliases=aliases)
        assert s1["incremental"] is False
        # round 2: a NEW surface 'aa zz' bridges into 'bb' and, being
        # lexicographically smaller, STEALS the canonical id — conversation
        # c1 (untouched by the batch) must re-derive its triples
        batch2 = self._mentions(spark, [("c2", 0, "aa zz"), ("c2", 0, "mm")])
        all2 = batch1.unionByName(batch2)
        s2 = incremental_kg_fold(spark, io, all2, batch2, aliases=aliases)
        assert s2["incremental"] is True
        # delta = c2 (new) + c1 (contains 'bb' whose canonical moved); c3
        # holds only the unaffected 'rr' and must NOT re-derive
        assert s2["delta_convs"] == 2
        got_ents = {
            (r.surface_norm, r.canonical_id, r.n_mentions)
            for r in io.read("entities").collect()
        }
        want_entities, want_triples = self._scratch(spark, all2, aliases)
        want_ents = {
            (r.surface_norm, r.canonical_id, r.n_mentions)
            for r in want_entities.collect()
        }
        assert got_ents == want_ents
        assert {tuple(r) for r in io.read("triples").drop("conv_bucket").collect()} == {
            tuple(r)
            for r in want_triples.select(
                *io.read("triples").drop("conv_bucket").columns
            ).collect()
        }
        # the bridged canonical id is in force inside c1's triples
        bb_rows = [
            r for r in io.read("entities").collect() if r.surface_norm == "bb"
        ]
        assert bb_rows[0].canonical_id == "aa zz"

    @pytest.mark.parametrize("crash_at", ["triples merge", "entities write"])
    def test_fold_replay_after_crash_equals_scratch(
        self, spark, tmp_path, monkeypatch, crash_at
    ):
        """A bridging fold that crashes at its triples MERGE, or after the
        MERGE and at its entities write, is replayed with the same inputs.
        The replay ends equal to a scratch fold: no surface counted twice,
        and the untouched conversation c1, whose canonical id the bridge
        moved, re-derived."""
        from runne_contrastive_ner_spark.streaming.incremental import (
            incremental_kg_fold,
        )

        aliases = [("aa zz", "bb")]
        io = TableIO(spark, str(tmp_path / "crashwh"))
        batch1 = self._mentions(
            spark, [("c1", 0, "bb"), ("c1", 0, "qq"), ("c3", 0, "rr")]
        )
        incremental_kg_fold(spark, io, batch1, batch1, aliases=aliases)
        batch2 = self._mentions(spark, [("c2", 0, "aa zz"), ("c2", 0, "bb")])
        all2 = batch1.unionByName(batch2)

        method, table = (
            ("merge", "triples") if crash_at == "triples merge" else ("write", "entities")
        )
        real = getattr(TableIO, method)
        crashed = []

        def crash_once(self, *a, **kw):
            name = a[0] if method == "merge" else a[1]
            if name == table and not crashed:
                crashed.append(name)
                raise RuntimeError(f"injected crash at the {crash_at}")
            return real(self, *a, **kw)

        monkeypatch.setattr(TableIO, method, crash_once)
        with pytest.raises(RuntimeError, match="injected crash"):
            incremental_kg_fold(spark, io, all2, batch2, aliases=aliases)
        incremental_kg_fold(spark, io, all2, batch2, aliases=aliases)

        want_entities, want_triples = self._scratch(spark, all2, aliases)
        got = {
            (r.surface_norm, r.canonical_id, r.n_mentions, tuple(r.types))
            for r in io.read("entities").collect()
        }
        assert got == {
            (r.surface_norm, r.canonical_id, r.n_mentions, tuple(r.types))
            for r in want_entities.collect()
        }
        cols = io.read("triples").drop("conv_bucket").columns
        assert Counter(map(tuple, io.read("triples").select(*cols).collect())) == (
            Counter(map(tuple, want_triples.select(*cols).collect()))
        )

    def test_multi_round_fold_equals_scratch(self, spark, tmp_path):
        """Three random-ish batch rounds; after every fold the tables equal
        the from-scratch fold over the accumulated mentions."""
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            incremental_kg_fold,
        )

        aliases = [("spark", "apache spark"), ("ml", "machine learning")]
        io = TableIO(spark, str(tmp_path / "foldwh2"))
        surfaces = ["spark", "apache spark", "ml", "machine learning",
                    "table", "join", "shuffle"]
        rows = []
        batches = []
        for rnd in range(3):
            batch_rows = [
                (f"conv-{rnd}-{i % 4}", t, surfaces[(i * 3 + t + rnd) % len(surfaces)])
                for i in range(6)
                for t in range(3)
            ]
            # round 2 also REVISITS an old conversation (reprocessing shape)
            if rnd == 2:
                batch_rows += [("conv-0-1", 9, "ml")]
            batches.append(batch_rows)
            rows += batch_rows
            all_m = self._mentions(spark, rows)
            new_m = self._mentions(spark, batch_rows)
            incremental_kg_fold(spark, io, all_m, new_m, aliases=aliases)
            want_entities, want_triples = self._scratch(spark, all_m, aliases)
            cols = io.read("triples").drop("conv_bucket").columns
            assert {
                tuple(r)
                for r in io.read("triples").drop("conv_bucket").collect()
            } == {
                tuple(r) for r in want_triples.select(*cols).collect()
            }, f"round {rnd} triples diverged"
            got = {
                (r.surface_norm, r.canonical_id, r.n_mentions, tuple(r.types))
                for r in io.read("entities").collect()
            }
            want = {
                (r.surface_norm, r.canonical_id, r.n_mentions, tuple(r.types))
                for r in want_entities.collect()
            }
            assert got == want, f"round {rnd} entities diverged"


class TestAnalyticsRefresh:
    """VERDICT r6 item 6: after a tail fold, refresh_analytics makes the
    materialized analytics tables exactly equal a from-scratch
    analytics_table over the folded triples — and when the tail did not
    change the co-occurrence graph, every stage skips on the edge-set
    fingerprint. The staleness marker is set by the fold and surfaced by
    register_kg_views until the refresh clears it."""

    MENTION_SCHEMA = TestIncrementalFold.MENTION_SCHEMA

    def _mentions(self, spark, rows):
        return TestIncrementalFold._mentions(self, spark, rows)

    def test_refresh_equals_scratch_and_skips_unchanged_graph(
        self, spark, tmp_path
    ):
        from runne_contrastive_ner_spark.plans.pipeline import analytics_table
        from runne_contrastive_ner_spark.plans.views import register_kg_views
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            analytics_stale_reason,
            incremental_kg_fold,
            refresh_analytics,
        )

        wh = str(tmp_path / "awh")
        io = TableIO(spark, wh)
        batch1 = self._mentions(
            spark,
            [("c1", 0, "aa"), ("c1", 0, "bb"), ("c1", 1, "cc"),
             ("c2", 0, "bb"), ("c2", 0, "cc")],
        )
        incremental_kg_fold(spark, io, batch1, batch1)
        assert analytics_stale_reason(wh) is None  # no analytics yet
        s1 = refresh_analytics(spark, io)
        assert s1["refreshed"] and s1["rebuilt"] == ["analytics"]

        # tail that CHANGES the graph: a new co-occurring pair
        batch2 = self._mentions(spark, [("c3", 0, "aa"), ("c3", 0, "dd")])
        all2 = batch1.unionByName(batch2)
        incremental_kg_fold(spark, io, all2, batch2)
        assert analytics_stale_reason(wh) is not None
        with pytest.warns(UserWarning, match="STALE"):
            register_kg_views(spark, wh, prefix="t7a_")
        s2 = refresh_analytics(spark, io)
        assert analytics_stale_reason(wh) is None
        assert "analytics" in s2["rebuilt"]
        # exact freshness: folded-then-refreshed ≡ scratch over the folded
        # triples (same operators, same defaults)
        scratch = analytics_table(io.read("triples"))
        assert sorted(map(tuple, io.read("analytics").collect())) == sorted(
            map(tuple, scratch.collect())
        )

        # tail that does NOT change the graph: an existing pair re-occurs
        # in a later turn of an existing conversation — triples change,
        # the distinct edge set does not → every stage skips
        batch3 = self._mentions(spark, [("c1", 5, "aa"), ("c1", 5, "bb")])
        all3 = all2.unionByName(batch3)
        incremental_kg_fold(spark, io, all3, batch3)
        assert analytics_stale_reason(wh) is not None
        s3 = refresh_analytics(spark, io)
        assert s3["rebuilt"] == []
        assert analytics_stale_reason(wh) is None
        # and no warning once fresh
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("error")
            register_kg_views(spark, wh, prefix="t7b_")

    def test_refresh_skips_batch_built_warehouse(self, spark, tmp_path):
        """Cross-seed freshness (review finding): a warehouse whose
        analytics were built by the BATCH pipeline (config-seeded stage
        fingerprints) must not be recomputed by refresh_analytics when the
        graph is unchanged — the fold manifest's recorded edge-set
        fingerprint is the proof, whatever seeded the build. The refresh
        also clears a stray staleness marker without rebuilding."""
        from runne_contrastive_ner_spark.plans.pipeline import (
            PipelineConfig,
            run_pipeline,
        )
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.sources.transcripts import synthesize
        from runne_contrastive_ner_spark.streaming.incremental import (
            analytics_stale_reason,
            mark_analytics_stale,
            refresh_analytics,
        )

        t = synthesize(spark, n_convs=4, turns_per_conv=6, long_conv_turns=0)
        wh = str(tmp_path / "bwh")
        cfg = PipelineConfig(warehouse=wh, analytics=True)
        res = run_pipeline(spark, t, cfg, input_fp="b1")
        assert res.analytics is not None
        io = TableIO(spark, wh)
        mark_analytics_stale(wh, reason="test stray marker")
        s = refresh_analytics(spark, io)
        assert s["refreshed"] and s["rebuilt"] == []
        assert analytics_stale_reason(wh) is None

    def test_noop_fold_does_not_mark_stale(self, spark, tmp_path):
        """A fold whose batch yields zero delta conversations (re-delivered
        already-folded content) rewrites nothing, so it must NOT mark the
        analytics tables stale (review finding: unconditional marker)."""
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            analytics_stale_reason,
            incremental_kg_fold,
            refresh_analytics,
        )

        wh = str(tmp_path / "nwh")
        io = TableIO(spark, wh)
        batch = self._mentions(
            spark, [("c1", 0, "aa"), ("c1", 0, "bb"), ("c2", 0, "cc")]
        )
        incremental_kg_fold(spark, io, batch, batch)
        refresh_analytics(spark, io)
        assert analytics_stale_reason(wh) is None
        # re-fold with an EMPTY new batch: all_mentions unchanged, no new
        # convs, no canonical-id movement → delta_convs 0 → no marker
        empty = self._mentions(spark, [])
        s = incremental_kg_fold(spark, io, batch, empty)
        assert s["delta_convs"] == 0 and s["changed_surfaces"] == 0
        assert analytics_stale_reason(wh) is None

    def test_refresh_tier1_skips_without_deriving_edges(
        self, spark, tmp_path, monkeypatch
    ):
        """When the triples snapshot version is unchanged since the
        analytics build, the refresh must prove freshness from the fold
        manifest alone — ZERO Spark jobs, not even the edge-list
        derivation (the distinct shuffle that would dominate a no-op
        refresh at corpus scale). Asserted by making edge derivation
        explode: tier 1 must never reach it."""
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            incremental_kg_fold,
            refresh_analytics,
        )

        wh = str(tmp_path / "twh")
        io = TableIO(spark, wh)
        batch = self._mentions(
            spark, [("c1", 0, "aa"), ("c1", 0, "bb"), ("c2", 0, "cc")]
        )
        incremental_kg_fold(spark, io, batch, batch)
        s1 = refresh_analytics(spark, io)
        assert s1["rebuilt"]  # first build

        def _boom(_triples):
            raise AssertionError("tier 1 must not derive the edge list")

        import runne_contrastive_ner_spark.operators.graph as graph_mod

        monkeypatch.setattr(graph_mod, "cooccurrence_edges", _boom)
        s2 = refresh_analytics(spark, io)
        assert s2["refreshed"] and s2["rebuilt"] == []
        assert s2["rows"] == s1["rows"]

    def test_batch_rebuild_records_freshness_proof(self, spark, tmp_path):
        """Every build of the analytics stage records the freshness proof
        (edges_fp, triples_snapshot and the hyperparameters) and so clears
        a staleness marker. A skip after an out-of-band triples merge keeps
        the old extras and leaves the marker for refresh_analytics."""
        from runne_contrastive_ner_spark.plans.manifest import load_manifest
        from runne_contrastive_ner_spark.plans.pipeline import (
            PipelineConfig,
            run_pipeline,
        )
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.sources.transcripts import synthesize
        from runne_contrastive_ner_spark.streaming.incremental import (
            analytics_stale_reason,
            mark_analytics_stale,
        )

        t = synthesize(spark, n_convs=4, turns_per_conv=6, long_conv_turns=0)
        wh = str(tmp_path / "pwh")
        run_pipeline(
            spark, t, PipelineConfig(warehouse=wh, analytics=True), input_fp="p1"
        )
        io = TableIO(spark, wh)
        assert "edges_fp" in load_manifest(io.path("analytics")).extra

        mark_analytics_stale(wh, reason="stray marker")
        cfg5 = PipelineConfig(warehouse=wh, analytics=True, pagerank_iterations=5)
        run_pipeline(spark, t, cfg5, input_fp="p1")
        mf = load_manifest(io.path("analytics"))
        assert mf.extra["edges_fp"]
        assert mf.extra["triples_snapshot"] == io.current_version("triples")
        assert mf.extra["pagerank_iterations"] == 5
        assert analytics_stale_reason(wh) is None  # the rebuild proves freshness

        # an out-of-band merge moves triples to a new snapshot; the batch
        # fingerprints still match, so the analytics stage skips
        io.write(io.read("triples"), "triples", partition_cols=["conv_bucket"])
        mark_analytics_stale(wh, reason="simulated out-of-band merge")
        run_pipeline(spark, t, cfg5, input_fp="p1")
        assert load_manifest(io.path("analytics")).extra == mf.extra
        assert analytics_stale_reason(wh) is not None  # marker survives

    def test_bucket_change_rebuilds_analytics_layout(self, spark, tmp_path):
        """ADVICE r7 item 1: `buckets` joins the analytics stage
        fingerprint — changing the bucket count on an UNCHANGED graph must
        rebuild the physically-bucketed table with the new layout instead
        of skipping while the manifest stamps the new value."""
        import json
        import os

        from runne_contrastive_ner_spark.plans.manifest import load_manifest
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            incremental_kg_fold,
            refresh_analytics,
        )

        wh = str(tmp_path / "bwh2")
        io = TableIO(spark, wh)
        batch = self._mentions(
            spark, [("c1", 0, "aa"), ("c1", 0, "bb"), ("c2", 0, "cc"), ("c2", 0, "dd")]
        )
        incremental_kg_fold(spark, io, batch, batch)
        s1 = refresh_analytics(spark, io, buckets=16)
        assert s1["rebuilt"] == ["analytics"]
        s2 = refresh_analytics(spark, io, buckets=8)
        assert s2["rebuilt"] == ["analytics"], s2
        assert load_manifest(io.path("analytics")).extra["buckets"] == 8
        with open(os.path.join(io.data_path("analytics"), "_bucketspec.json")) as f:
            assert json.load(f)["n"] == 8
        # and a same-bucket refresh right after is tier-1 quiet again
        s3 = refresh_analytics(spark, io, buckets=8)
        assert s3["rebuilt"] == []

    def test_refresh_without_cooccurrence_edges(self, spark, tmp_path):
        """A triples table with no co_occurs_with rows has an empty
        co-occurrence graph: the analytics table is empty, with the same
        column types as the distributed operators give, and the refresh
        reports 0 rows."""
        from runne_contrastive_ner_spark.operators.graph import (
            cooccurrence_edges,
            k_core_numbers,
            label_propagation,
            pagerank,
            triangle_counts,
        )
        from runne_contrastive_ner_spark.plans.pipeline import (
            analytics_table,
            fold_analytics,
        )
        from runne_contrastive_ner_spark.sources.tables import TableIO
        from runne_contrastive_ner_spark.streaming.incremental import (
            refresh_analytics,
        )

        wh = str(tmp_path / "ewh")
        io = TableIO(spark, wh)
        io.write(
            spark.createDataFrame(
                [("c1", 1, "follows", 2, 0)],
                "conv_id string, subj bigint, pred string, obj bigint, "
                "src_turn_idx int",
            ),
            "triples",
        )
        s = refresh_analytics(spark, io)
        assert s["refreshed"] and s["rows"] == 0
        edges = cooccurrence_edges(io.read("triples"))
        want = fold_analytics(
            pagerank(edges, small_graph_edges=0),
            triangle_counts(edges, small_graph_edges=0),
            label_propagation(edges, small_graph_edges=0),
            k_core_numbers(edges, small_graph_edges=0),
        )
        built = analytics_table(io.read("triples"))
        assert built.count() == 0
        assert built.dtypes == want.dtypes == io.read("analytics").dtypes
        assert dict(built.dtypes)["entity_id"] == "bigint"

    def test_corrupt_stale_marker_degrades_not_raises(self, spark, tmp_path):
        """ADVICE r7 item 3: a torn/corrupt marker file still MEANS stale
        — analytics_stale_reason must degrade to 'unknown', and the atomic
        write path must leave no .tmp residue."""
        import os

        from runne_contrastive_ner_spark.streaming.incremental import (
            analytics_stale_reason,
            mark_analytics_stale,
        )

        wh = str(tmp_path / "mwh")
        mark_analytics_stale(wh, reason="ok")
        assert analytics_stale_reason(wh) == "ok"
        assert not os.path.exists(
            os.path.join(wh, "_analytics_stale.json.tmp")
        )
        with open(os.path.join(wh, "_analytics_stale.json"), "w") as f:
            f.write('{"reason": "torn')  # simulated torn write
        assert analytics_stale_reason(wh) == "unknown"
