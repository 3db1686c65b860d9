"""Ranking evaluation (ES _rank_eval analog): graded-retrieval metrics of a
top-k ranking against a relevance judgment set.

Given a ranking frame (rank, doc_id, ...) — any executor's output — and a
judgments frame (doc_id) of relevant documents, computes the four standard
binary-relevance metrics ES's ranking evaluation API ships:

    precision_at_k  |top-k ∩ relevant| / k
    recall_at_k     |top-k ∩ relevant| / |relevant|
    mrr             1 / rank of the first relevant hit (0 if none)
    ndcg_at_k       DCG@k / IDCG@k with binary gains and the standard
                    1/log2(rank+1) discount; IDCG@k uses the ideal
                    ranking = min(k, |relevant|) relevant docs up top

Values rounded to 6. Plan shape: the ranking is k rows (driver-bounded by
construction — it came out of a top-k collector); the judgment set may be
corpus-sized, so it is never collected: |relevant| folds map-side
(count agg) and membership of the k ranked docs resolves by broadcasting
the RANKING into a join against the judgments — the big side streams, the
k-row side broadcasts. Output is four (metric, value) rows.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rank_eval(
    spark: SparkSession,
    ranking: DataFrame,
    relevant: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(metric, value) rows for precision/recall/MRR/NDCG at k.

    `ranking` needs (rank, doc_id) columns with rank 1-based and unique;
    `relevant` needs a doc_id column (duplicates tolerated — distinct is
    applied)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    top = ranking.filter(F.col("rank") <= int(k)).select("rank", "doc_id")
    rel = relevant.select("doc_id").distinct()
    n_rel = rel.count()

    hits = rel.join(F.broadcast(top), "doc_id").select("rank")
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_rank"),
        F.sum(1.0 / F.log2(F.col("rank") + F.lit(1.0))).alias("dcg"),
    ).collect()[0]
    n_hits = int(agg["n_hits"])
    first = agg["first_rank"]
    dcg = float(agg["dcg"] or 0.0)

    ideal_n = min(int(k), n_rel)
    idcg = sum(1.0 / _log2(i + 1) for i in range(1, ideal_n + 1))

    rows = [
        ("precision_at_k", _round6(n_hits / float(k))),
        ("recall_at_k", _round6(n_hits / n_rel) if n_rel else 0.0),
        ("mrr", _round6(1.0 / int(first)) if first is not None else 0.0),
        ("ndcg_at_k", _round6(dcg / idcg) if idcg > 0 else 0.0),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


def _round6(x: float) -> float:
    """Spark/DuckDB round(x, 6): HALF_UP, where Python's round() rounds
    half to even (1/128 = 0.0078125 → 0.007813, not 0.007812)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _log2(x: float) -> float:
    import math

    return math.log2(x)
