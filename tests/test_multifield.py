"""Multi-field search: best_fields (multi_match) and BM25F (cross_fields)
against brute-force recomputes of their pinned contracts, plus the
single-field reductions that tie them to the standard executor."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from contextinator_spark.config import BM25_B, BM25_K1, SCORE_ROUND_DECIMALS
from contextinator_spark.operators.multifield import bm25f_topk, multi_match_topk

DOCS = [
    (0, "hash table hash join probe build side"),
    (1, "spark join spark shuffle exchange plan"),
    (2, "hash join merge grace partition memory"),
    (3, "table hash table hash open addressing"),
    (4, "spark hash table broadcast small dim"),
    (5, "merge sort merge external run spill"),
    (6, "join join join hash loop nested inner"),
    (7, "nothing relevant in this one at all"),
]
# short derived second field: first two tokens (a "title")
FIELD_TOKENS = {
    "content": {d: c.split() for d, c in DOCS},
    "title": {d: c.split()[:2] for d, c in DOCS},
}


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    from contextinator_spark.operators.segments import write_index

    docs = spark.createDataFrame(DOCS, "doc_id long, content string")
    dirs = {}
    for field in ("content", "title"):
        d = str(tmp_path_factory.mktemp(f"mf_{field}"))
        corpus = docs
        if field == "title":
            corpus = docs.withColumn(
                "content",
                F.concat_ws(" ", F.slice(F.split("content", " "), 1, 2)),
            )
        write_index(spark, corpus, d)
        dirs[field] = d
    return dirs


def _stats(field):
    toks = FIELD_TOKENS[field]
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    return n, avgdl


def _r6(x):
    """Spark/DuckDB round() is HALF_UP; Python's is banker's — mirror Spark."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _idf(df, n):
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _bm25_field(field, terms, k1=BM25_K1, b=BM25_B):
    """Per-field exact BM25 (same math as _exact_scored_matches)."""
    toks = FIELD_TOKENS[field]
    n, avgdl = _stats(field)
    out = {}
    for t in set(terms):
        df = sum(1 for v in toks.values() if t in v)
        if df == 0:
            continue
        idf = _idf(df, n)
        for d, v in toks.items():
            tf = v.count(t)
            if tf == 0:
                continue
            dl = len(v)
            out[d] = out.get(d, 0.0) + idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
    return {d: _r6(s) for d, s in out.items()}


def _expected_best_fields(terms, weights, tie_breaker, k=10):
    per = {f: _bm25_field(f, terms) for f in weights}
    docs = {d for s in per.values() for d in s}
    rows = []
    for d in docs:
        ws = [weights[f] * per[f].get(d, 0.0) for f in weights if d in per[f]]
        s = _r6(max(ws) + tie_breaker * (sum(ws) - max(ws)))
        rows.append((d, s))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(rows[:k])]


def _expected_bm25f(terms, weights, k=10, k1=BM25_K1, b=BM25_B):
    n = len(DOCS)
    scores = {}
    for t in set(terms):
        dfs = [
            sum(1 for v in FIELD_TOKENS[f].values() if t in v) for f in weights
        ]
        df = max(dfs)
        if df == 0:
            continue
        idf = _idf(df, n)
        for d in FIELD_TOKENS["content"]:
            tfw = 0.0
            for f, w in weights.items():
                v = FIELD_TOKENS[f][d]
                tf = v.count(t)
                if tf == 0:
                    continue
                _n, avgdl = _stats(f)
                bf = 1.0 - b + b * len(v) / avgdl
                tfw += w * tf / bf
            if tfw > 0:
                scores[d] = scores.get(d, 0.0) + idf * tfw / (k1 + tfw)
    rows = sorted(
        ((d, _r6(s)) for d, s in scores.items()),
        key=lambda r: (-r[1], r[0]),
    )
    return [(i + 1, d, s) for i, (d, s) in enumerate(rows[:k])]


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_multi_match_single_field_equals_topk(spark, stores):
    from contextinator_spark.operators.bm25_segments import topk_segments

    terms = ["hash", "spark"]
    got = _rows(multi_match_topk(spark, {"content": stores["content"]}, terms, k=8))
    want = _rows(topk_segments(spark, stores["content"], terms, k=8))
    assert got == want


def test_multi_match_matches_manual(spark, stores):
    terms = ["hash", "spark", "merge"]
    weights = {"content": 1.0, "title": 2.0}
    got = _rows(
        multi_match_topk(spark, stores, terms, k=8, weights=weights, tie_breaker=0.3)
    )
    assert got == _expected_best_fields(terms, weights, 0.3, k=8)


def test_multi_match_tie_breaker_zero_is_pure_max(spark, stores):
    terms = ["hash", "join"]
    weights = {"content": 1.0, "title": 1.0}
    got = _rows(multi_match_topk(spark, stores, terms, k=8, weights=weights))
    assert got == _expected_best_fields(terms, weights, 0.0, k=8)


def test_bm25f_single_field_is_scaled_bm25(spark, stores):
    from contextinator_spark.operators.bm25_segments import topk_segments

    terms = ["hash", "spark"]
    got = _rows(bm25f_topk(spark, {"content": stores["content"]}, terms, k=8))
    want = _rows(topk_segments(spark, stores["content"], terms, k=8))
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    for (_, _, s_f), (_, _, s) in zip(got, want):
        assert s_f == pytest.approx(s / (BM25_K1 + 1.0), abs=2e-6)


def test_bm25f_matches_manual(spark, stores):
    terms = ["hash", "spark", "table"]
    weights = {"content": 1.0, "title": 3.0}
    got = _rows(bm25f_topk(spark, stores, terms, k=8, weights=weights))
    assert got == _expected_bm25f(terms, weights, k=8)


def test_bm25f_title_match_counts_cross_field(spark, stores):
    # doc 5 ("merge sort ...") has 'merge' in BOTH title and content;
    # doc 2 has it in content only — with a heavy title weight doc 5
    # must outrank every content-only match.
    got = _rows(
        bm25f_topk(spark, stores, ["merge"], k=8, weights={"content": 1.0, "title": 5.0})
    )
    assert got[0][1] == 5
    assert got == _expected_bm25f(["merge"], {"content": 1.0, "title": 5.0}, k=8)


def test_absent_terms_empty(spark, stores):
    assert multi_match_topk(spark, stores, ["zzzz_nope"]).count() == 0
    assert bm25f_topk(spark, stores, ["zzzz_nope"]).count() == 0


def test_weight_and_tiebreaker_guards(spark, stores):
    with pytest.raises(ValueError, match="tie_breaker"):
        multi_match_topk(spark, stores, ["hash"], tie_breaker=1.5)
    with pytest.raises(ValueError, match="unknown field"):
        multi_match_topk(spark, stores, ["hash"], weights={"nope": 2.0})
    with pytest.raises(ValueError, match=">= 0"):
        bm25f_topk(spark, stores, ["hash"], weights={"title": -1.0})


def test_bm25f_mismatched_corpus_raises(spark, stores, tmp_path_factory):
    from contextinator_spark.operators.segments import write_index

    other = spark.createDataFrame(DOCS[:4], "doc_id long, content string")
    d = str(tmp_path_factory.mktemp("mf_other"))
    write_index(spark, other, d)
    with pytest.raises(ValueError, match="n_docs"):
        bm25f_topk(spark, {"content": stores["content"], "title": d}, ["hash"])


# ---------------------------------------------------------------------------
# batch executors: many multi-field queries in one plan
# ---------------------------------------------------------------------------

BATCH_QUERIES = {
    1: ["hash", "spark"],
    2: ["merge"],
    3: ["hash", "spark", "table", "merge"],
    4: ["zzzz_absent"],
    5: ["join", "nested"],
}


def _batch_rows(df):
    return [
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()
    ]


def test_multi_match_batch_matches_single(spark, stores):
    from contextinator_spark.operators.multifield import multi_match_topk_multi

    weights = {"content": 1.0, "title": 2.0}
    got = _batch_rows(
        multi_match_topk_multi(
            spark, stores, BATCH_QUERIES, k=8, weights=weights, tie_breaker=0.3
        )
    )
    want = []
    for qid in sorted(BATCH_QUERIES):
        for r, d, s in _rows(
            multi_match_topk(
                spark, stores, BATCH_QUERIES[qid], k=8,
                weights=weights, tie_breaker=0.3, impl="fold",
            )
        ):
            want.append((qid, r, d, s))
    assert got == want


def test_bm25f_batch_matches_single(spark, stores):
    from contextinator_spark.operators.multifield import bm25f_topk_multi

    weights = {"content": 1.0, "title": 3.0}
    got = _batch_rows(
        bm25f_topk_multi(spark, stores, BATCH_QUERIES, k=8, weights=weights)
    )
    want = []
    for qid in sorted(BATCH_QUERIES):
        for r, d, s in _rows(
            bm25f_topk(
                spark, stores, BATCH_QUERIES[qid], k=8, weights=weights,
                impl="fold",
            )
        ):
            want.append((qid, r, d, s))
    assert got == want


def test_batch_empty_and_all_absent(spark, stores):
    from contextinator_spark.operators.multifield import (
        bm25f_topk_multi,
        multi_match_topk_multi,
    )

    assert multi_match_topk_multi(spark, stores, {}).count() == 0
    assert bm25f_topk_multi(spark, stores, {1: ["zzzz_nope"]}).count() == 0


def test_batch_subbatching_is_exact(spark, stores):
    from contextinator_spark.operators.multifield import (
        bm25f_topk_multi,
        multi_match_topk_multi,
    )

    weights = {"content": 1.0, "title": 2.0}
    for fn in (
        lambda **kw: multi_match_topk_multi(
            spark, stores, BATCH_QUERIES, k=8, weights=weights,
            tie_breaker=0.3, **kw,
        ),
        lambda **kw: bm25f_topk_multi(
            spark, stores, BATCH_QUERIES, k=8, weights=weights, **kw
        ),
    ):
        free = _batch_rows(fn())
        # bound of 1 row forces one sub-batch per query; union must be exact
        bounded = _batch_rows(fn(max_partial_rows=1).orderBy("query_id", "rank"))
        assert bounded == free


def test_single_kernel_equals_fold_impl(spark, stores):
    """The default kernel routing of the single-query executors is
    result-identical to the independent Catalyst-fold reference."""
    weights = {"content": 1.0, "title": 2.0}
    for fn in (multi_match_topk, bm25f_topk):
        kw = {"weights": weights}
        if fn is multi_match_topk:
            kw["tie_breaker"] = 0.3
        kern = _rows(fn(spark, stores, ["hash", "spark", "merge"], k=8, **kw))
        fold = _rows(
            fn(spark, stores, ["hash", "spark", "merge"], k=8, impl="fold", **kw)
        )
        assert kern == fold and len(kern) >= 1
    with pytest.raises(ValueError, match="impl"):
        bm25f_topk(spark, stores, ["hash"], impl="nope")


def test_mixed_case_terms_kernel_equals_fold(spark, stores):
    """Mixed-case query terms score as their lowercase forms in both
    multi_match_topk impls (the dictionaries hold lowercased terms)."""
    mixed, lower = ["Hash", "SPARK", "merge"], ["hash", "spark", "merge"]
    kern = _rows(multi_match_topk(spark, stores, mixed, k=8, tie_breaker=0.3))
    fold = _rows(multi_match_topk(spark, stores, mixed, k=8, tie_breaker=0.3, impl="fold"))
    ref = _rows(multi_match_topk(spark, stores, lower, k=8, tie_breaker=0.3, impl="fold"))
    assert kern == fold == ref and len(kern) >= 1


def test_batch_kernel_plan_has_bounded_exchanges(spark, stores):
    """The bucketed batch plan carries exactly the intended shuffles: the
    doc-range bucket co-location and the (tiny) per-query rank window —
    no per-field pre-folds, no fan-out join exchange."""
    from contextinator_spark.operators.multifield import bm25f_topk_multi

    df = bm25f_topk_multi(
        spark, stores, {0: ["hash", "spark"], 1: ["merge"]}, k=5
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    # repartition(bucket) + window partitionBy(query_id) + the final
    # orderBy range-sort of the ≤ n_buckets×nq×k output rows; more than
    # 3 means a per-field pre-fold or the fan-out join crept back
    assert 1 <= n_exchanges <= 3, plan
    assert "hashpartitioning(bucket" in plan
