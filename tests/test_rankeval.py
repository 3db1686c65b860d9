"""Ranking evaluation metrics (ES _rank_eval analog) against hand
computations, including the empty edge cases."""

from __future__ import annotations

import math

import pytest

from contextinator_spark.operators.rankeval import rank_eval


def _metrics(spark, ranking, relevant, k=5):
    rdf = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(ranking)], "rank int, doc_id long"
    )
    qdf = spark.createDataFrame([(d,) for d in relevant], "doc_id long")
    return {r["metric"]: r["value"] for r in rank_eval(spark, rdf, qdf, k=k).collect()}


def test_rank_eval_hand_computed(spark):
    # ranking: [10, 11, 12, 13, 14]; relevant: {11, 13, 99}
    m = _metrics(spark, [10, 11, 12, 13, 14], [11, 13, 99], k=5)
    assert m["precision_at_k"] == round(2 / 5, 6)
    assert m["recall_at_k"] == round(2 / 3, 6)
    assert m["mrr"] == round(1 / 2, 6)
    dcg = 1 / math.log2(2 + 1) + 1 / math.log2(4 + 1)
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert m["ndcg_at_k"] == pytest.approx(round(dcg / idcg, 6), abs=1e-6)


def test_rank_eval_perfect_ranking(spark):
    m = _metrics(spark, [1, 2, 3], [1, 2, 3], k=3)
    assert m == {
        "precision_at_k": 1.0,
        "recall_at_k": 1.0,
        "mrr": 1.0,
        "ndcg_at_k": 1.0,
    }


def test_rank_eval_no_hits_and_no_relevant(spark):
    m = _metrics(spark, [1, 2, 3], [7, 8], k=3)
    assert m == {
        "precision_at_k": 0.0,
        "recall_at_k": 0.0,
        "mrr": 0.0,
        "ndcg_at_k": 0.0,
    }
    m = _metrics(spark, [1, 2, 3], [], k=3)
    assert m["recall_at_k"] == 0.0 and m["ndcg_at_k"] == 0.0


def test_rank_eval_k_cuts_ranking(spark):
    # relevant doc at rank 4 is invisible at k=3
    m = _metrics(spark, [1, 2, 3, 7], [7], k=3)
    assert m["precision_at_k"] == 0.0 and m["mrr"] == 0.0
    m4 = _metrics(spark, [1, 2, 3, 7], [7], k=4)
    assert m4["mrr"] == 0.25
    with pytest.raises(ValueError, match="k must be"):
        _metrics(spark, [1], [1], k=0)


def test_rank_eval_rounds_half_up(spark):
    # 1/128 = 0.0078125 exactly: HALF_UP (Spark/DuckDB round) gives
    # 0.007813 where Python's half-to-even round() gives 0.007812
    m = _metrics(spark, list(range(1, 129)), [128], k=128)
    assert m["mrr"] == 0.007813
    assert m["precision_at_k"] == 0.007813
    assert m["recall_at_k"] == 1.0
