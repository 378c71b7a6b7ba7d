"""Generator determinism and planted ground truth.

    python3 -m pytest kgbench/tests -q

The last test drives the real pipeline on tiny corpora, so it starts a local
Spark session (about a minute).
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
from runne_contrastive_ner_spark.functions.scorer import GazetteerScorer  # noqa: E402
from runne_contrastive_ner_spark.functions.vocab import ENTITY_TYPES  # noqa: E402
from runne_contrastive_ner_spark.operators.mentions import detect_mentions_in_text  # noqa: E402

TINY = 0.02


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_identical_parquet(tmp_path, workload):
    a, b = (gen.generate(workload, 7, scale=TINY) for _ in range(2))
    for name, corpus in (("a", a), ("b", b)):
        for i, turns in enumerate([corpus.turns, *corpus.deltas]):
            gen.write_parquet(turns, str(tmp_path / name / f"{i}.parquet"))
    for f in (tmp_path / "a").iterdir():
        assert f.read_bytes() == (tmp_path / "b" / f.name).read_bytes()
    assert a.vocab.gazetteer == b.vocab.gazetteer
    assert a.vocab.aliases == b.vocab.aliases
    other = gen.generate(workload, 8, scale=TINY)
    assert [t.text for t in other.turns] != [t.text for t in a.turns]


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_kernel_finds_exactly_the_planted_mentions(workload):
    corpus = gen.generate(workload, 3, scale=TINY)
    scorer = GazetteerScorer(corpus.vocab.gazetteer, ENTITY_TYPES)
    planted = 0
    for t in corpus.turns + sum(corpus.deltas, []):
        want = sorted(
            (corpus.vocab.gazetteer[s], c0, c0 + len(s)) for s, c0 in zip(t.surfaces, t.starts)
        )
        assert sorted(detect_mentions_in_text(t.text, scorer)) == want, t.text
        planted += len(want)
    assert planted > 0


def test_truth_on_a_hand_built_corpus():
    turns = [
        gen.Turn("a", 0, "", ["x", "y"], [0, 5]),
        gen.Turn("a", 1, "", ["z"], [3]),
        gen.Turn("a", 3, "", ["x"], [0]),
        gen.Turn("b", 0, "", ["w"], [2]),
    ]
    # q and v never occur, so only y~z survives
    truth = gen.ground_truth(turns, [("y", "z"), ("z", "q"), ("w", "v")], ks=(1, 2))
    assert truth.canonical == {"x": "x", "y": "y", "z": "y", "w": "w"}
    assert (truth.mentions, truth.surfaces, truth.entities, truth.alias_edges) == (5, 4, 3, 1)
    assert (truth.start_sum, truth.end_sum) == (10, 15)
    # k=1: a/0 co-occurs x~y (1); a/1 {y} follows {x, y} (2); a/3 has no
    # turn 2 before it. k=2: a/3 {x} also follows a/1 {y} (1 more)
    assert truth.triples == {1: 3, 2: 4}
    # same-turn pairs: x~y (a/0) only; both directions
    assert (truth.graph_edges, truth.graph_nodes) == (2, 2)


def test_fold_delta_counts_moved_and_new_surfaces():
    base = [gen.Turn("a", 0, "", ["x"], [0]), gen.Turn("b", 0, "", ["y"], [0])]
    aliases = [("x", "z")]
    before = gen.ground_truth(base, aliases)
    # z joins x's component under x, so only z changes (it is new) and
    # only conversation c, which mentions it, re-derives
    delta = [gen.Turn("c", 0, "", ["z"], [0])]
    after = gen.ground_truth(base + delta, aliases)
    assert gen.fold_delta(before, after, delta, base + delta) == (1, 1)
    # w < y bridges into y's component and renames it: conversation b holds
    # a moved surface although the append never touched it
    delta2 = [gen.Turn("a", 1, "", ["w"], [0])]
    after2 = gen.ground_truth(base + delta + delta2, aliases + [("w", "y")])
    assert gen.fold_delta(after, after2, delta2, base + delta + delta2) == (2, 2)
    assert gen.fold_delta(None, before, base, base) == (2, 2)


def test_pipeline_output_matches_truth(tmp_path):
    """The truth the benchmark checks against is what the pipeline builds."""
    from jobs.run_streaming_pipeline import run_streaming
    from runne_contrastive_ner_spark.plans.pipeline import PipelineConfig, run_pipeline
    from runne_contrastive_ner_spark.session import build_session

    import run as bench

    spark = build_session(app_name="kgbench-tests", master="local[2]", shuffle_partitions=2)
    try:
        for workload, analytics in bench.ANALYTICS.items():
            corpus = gen.generate(workload, 5, scale=TINY)
            checks = bench.Checks(gen.ground_truth(corpus.turns, corpus.vocab.aliases, (2, 3)))
            path = str(tmp_path / workload / "input.parquet")
            gen.write_parquet(corpus.turns, path)
            for k in (2, 3):
                cfg = PipelineConfig(
                    warehouse=str(tmp_path / workload / "wh"), window_k=k, analytics=analytics,
                    gazetteer=corpus.vocab.gazetteer, aliases=corpus.vocab.aliases)
                checks.build(run_pipeline(spark, spark.read.parquet(path), cfg, workload), k)
            assert checks.mismatches == [], (workload, checks.mismatches)
            assert checks.count == (10 if analytics else 8)

        corpus = gen.generate("tail_ingest", 5, scale=TINY)
        src, wh = str(tmp_path / "tail"), str(tmp_path / "tail-wh")
        turns, before = [], None
        for i, delta in enumerate([corpus.turns, *corpus.deltas]):
            gen.write_parquet(delta, f"{src}/part-{i:05d}.parquet")
            turns += delta
            checks = bench.Checks(gen.ground_truth(turns, corpus.vocab.aliases))
            checks.fold(f"file {i}", run_streaming(spark, src, wh),
                        gen.fold_delta(before, checks.truth, delta, turns))
            before = checks.truth
            assert checks.mismatches == [], checks.mismatches
        checks.fold("no-op poll", run_streaming(spark, src, wh), None)
        assert checks.mismatches == [], checks.mismatches
    finally:
        spark.stop()
