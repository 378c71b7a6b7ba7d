"""Tests for the training-prep operators (T8/T9, M12, M13, A3/A4, J3)."""

import pytest

from runne_contrastive_ner_spark.functions.trainset_kernel import (
    assign_entities_to_sentences,
    chunk_sequence,
    classes_from_indicator,
    indicator_for_type,
)
from runne_contrastive_ner_spark.functions.tokenizer import tokenize_text
from runne_contrastive_ner_spark.operators.trainset import build_ner_trainset


class TestTrainsetKernel:
    def test_classes_from_indicator_reference_cases(self):
        # the reference's adjacent-entity case (test_trainset_building.py
        # semantics): [0,2,2,1] -> O, START-END, START, END
        assert classes_from_indicator([0, 2, 2, 1]) == [0, 4, 1, 2]
        assert classes_from_indicator([2, 1, 1]) == [1, 3, 2]
        assert classes_from_indicator([2]) == [4]
        assert classes_from_indicator([0, 0]) == [0, 0]
        assert classes_from_indicator([2, 2]) == [4, 4]

    def test_indicator_marks_first_subtoken(self):
        text = "verylongword ok"
        _, subtokens = tokenize_text(text)
        # entity covering "verylongword" (chars 0..12, 3 subtokens)
        ind = indicator_for_type(subtokens, [(0, 12)])
        assert ind == [2, 1, 1, 0]

    def test_indicator_unmatchable_span_raises(self):
        _, subtokens = tokenize_text("ab cd")
        with pytest.raises(ValueError, match="matches no subtokens"):
            indicator_for_type(subtokens, [(10, 20)])

    def test_sentence_assignment_and_crossing(self):
        text = "One here. Two there."
        bounds = [(0, 9), (10, 20)]
        per = assign_entities_to_sentences(text, [("X", 0, 3), ("Y", 10, 13)], bounds)
        assert per[0] == [("X", 0, 3)] and per[1] == [("Y", 0, 3)]
        with pytest.raises(ValueError, match="crosses"):
            assign_entities_to_sentences(text, [("X", 4, 12)], bounds)
        with pytest.raises(ValueError, match="duplicate"):
            assign_entities_to_sentences(text, [("X", 0, 3), ("X", 0, 3)], bounds)

    def test_chunking(self):
        assert chunk_sequence(list(range(5)), 2) == [[0, 1], [2, 3], [4]]
        assert chunk_sequence([1], 8) == [[1]]


class TestTrainsetSpark:
    def test_build_ner_trainset(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "spark is here. window there.",
                 [{"type": "PRODUCT", "start": 0, "end": 5},
                  {"type": "FACILITY", "start": 15, "end": 21}]),
                (2, "nothing", []),
            ],
            "id long, text string, ners array<struct<type:string,start:int,end:int>>",
        )
        rows = build_ner_trainset(docs, max_seq_len=4).collect()
        by_key = {(r.id, r.sent_idx, r.chunk_idx): r for r in rows}
        first = by_key[(1, 0, 0)]
        # PRODUCT head: "spark" = 2 subtokens ("spar","##k") -> START, END
        prod_idx = 23  # PRODUCT position in ENTITY_TYPES
        assert first.labels[prod_idx][:2] == [1, 2]
        # chunking: sentence 0 has 5 subtokens -> 2 chunks at max_seq_len=4
        assert (1, 0, 1) in by_key
        # labels aligned with pieces in every chunk
        for r in rows:
            assert len(r.pieces) == len(r.token_ids) <= 4
            assert all(len(lab) == len(r.pieces) for lab in r.labels)

    def test_build_ner_trainset_wordpiece(self, spark, tmp_path):
        """bert_dir switches the trainset to real greedy WordPiece pieces;
        labels stay aligned and entity heads land on the real segmentation."""
        vocab = tmp_path / "vocab.txt"
        vocab.write_text(
            "\n".join(
                ["[UNK]", "[CLS]", "[SEP]", "sp", "##ark", "is", "here",
                 "win", "##dow", "there", "."]
            )
        )
        (tmp_path / "tokenizer_config.json").write_text('{"do_lower_case": false}')
        docs = spark.createDataFrame(
            [(1, "spark is here. window there.",
              [{"type": "PRODUCT", "start": 0, "end": 5}])],
            "id long, text string, ners array<struct<type:string,start:int,end:int>>",
        )
        rows = build_ner_trainset(docs, bert_dir=str(tmp_path)).collect()
        first = next(r for r in rows if r.sent_idx == 0)
        assert first.pieces[:5] == ["sp", "##ark", "is", "here", "."]
        assert "win" in first.pieces and "##dow" in first.pieces
        prod_idx = 23  # PRODUCT position in ENTITY_TYPES
        assert first.labels[prod_idx][:2] == [1, 2]  # START, END on "spark"
        for r in rows:
            assert all(len(lab) == len(r.pieces) for lab in r.labels)

    def test_deterministic_token_ids(self, spark):
        docs = spark.createDataFrame(
            [(1, "spark spark", [])],
            "id long, text string, ners array<struct<type:string,start:int,end:int>>",
        )
        a = build_ner_trainset(docs).collect()[0].token_ids
        b = build_ner_trainset(docs).collect()[0].token_ids
        # pieces are [spar, ##k, spar, ##k]: repeated word -> repeated ids
        assert a == b and a[0] == a[2] and a[1] == a[3]


class TestSiameseTrainset:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (i, "spark is here. the customer saw a window and a batch now.",
                 [{"type": "PRODUCT", "start": 0, "end": 5},
                  {"type": "PROFESSION", "start": 19, "end": 27},
                  {"type": "FACILITY", "start": 34, "end": 40},
                  {"type": "DATE", "start": 47, "end": 52}])
                for i in range(6)
            ],
            "id long, text string, ners array<struct<type:string,start:int,end:int>>",
        )

    def test_span_rows_subtoken_bounds(self, spark):
        from runne_contrastive_ner_spark.operators.trainset import (
            build_ner_trainset,
            trainset_span_rows,
        )

        rows = trainset_span_rows(build_ner_trainset(self._docs(spark))).collect()
        assert {r.type for r in rows} == {"PRODUCT", "PROFESSION", "FACILITY", "DATE"}
        for r in rows:
            assert 0 <= r.sub_start < r.sub_end <= len(r.token_ids)

    def test_pair_tensors(self, spark):
        from runne_contrastive_ner_spark.operators.trainset import build_siamese_trainset

        pairs = build_siamese_trainset(self._docs(spark), per_type=4).collect()
        assert pairs and any(p.label == 1 for p in pairs) and any(p.label == 0 for p in pairs)
        for p in pairs:
            assert len(p.left_ids) == len(p.left_mask)
            assert len(p.right_ids) == len(p.right_mask)
            assert sum(p.left_mask) > 0 and sum(p.right_mask) > 0
            assert set(p.left_mask) <= {0, 1}
        # deterministic under re-run
        again = build_siamese_trainset(self._docs(spark), per_type=4).collect()
        key = lambda p: (p.label, tuple(p.left_ids), tuple(p.left_mask), tuple(p.right_ids), tuple(p.right_mask))  # noqa: E731
        assert sorted(map(key, pairs)) == sorted(map(key, again))
