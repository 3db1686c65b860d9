"""Phrase search: scan form ≡ indexed form, overlap semantics, pruning.

The two strategies in operators/phrase.py must be result-identical (they
share one oracle in entry_queries), and the indexed probe must prune to
the phrase terms' partitions.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from contextinator_spark.operators import phrase as PH

DOCS = [
    (0, "table hash join table hash"),
    (1, "a a a"),
    (2, "hash table"),
    (3, "table  hash, extra"),
    (4, "nothing here"),
    (5, "x table hash y table hash table hash"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, content string")


@pytest.fixture(scope="module")
def phrase_idx(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phrase_idx"))
    stats = PH.write_phrase_index(spark, docs, d)
    assert stats["posting_format"] == 2
    return d


def test_phrase_match_counts_and_overlaps(docs):
    rows = {
        r.doc_id: (r.phrase_tf, r.doc_len)
        for r in PH.phrase_match(docs, ["table", "hash"]).collect()
    }
    # punctuation splits like whitespace; reversed order is not a match
    assert rows == {0: (2, 5), 3: (1, 3), 5: (3, 8)}
    # overlapping starts each count: "a a a" contains "a a" twice
    over = PH.phrase_match(docs, ["a", "a"]).collect()
    assert [(r.doc_id, r.phrase_tf) for r in over] == [(1, 2)]


def test_phrase_match_absent_and_single(docs):
    assert PH.phrase_match(docs, ["zzz", "qqq"]).count() == 0
    # single-term phrase degenerates to plain tf
    one = {r.doc_id: r.phrase_tf for r in PH.phrase_match(docs, ["table"]).collect()}
    assert one == {0: 2, 2: 1, 3: 1, 5: 3}


def test_scan_and_indexed_identical(spark, docs, phrase_idx):
    for terms in (["table", "hash"], ["a", "a"], ["table", "hash", "y"], ["zzz", "x"]):
        scan = [
            (r.rank, r.doc_id, r.score)
            for r in PH.phrase_topk(docs, terms, k=10).collect()
        ]
        idx = [
            (r.rank, r.doc_id, r.score)
            for r in PH.phrase_topk_indexed(spark, phrase_idx, terms, k=10).collect()
        ]
        assert scan == idx, terms


def test_indexed_probe_prunes_partitions(spark, phrase_idx):
    """The probe's plan must carry a partition filter on `partition_id`
    (the xxhash64-derived write-time partition id of the UNIFIED segment
    store) — only the phrase terms' partitions are read."""
    from contextinator_spark.functions.xxhash import term_partition

    terms = ["table", "hash"]
    n_parts = PH.PHRASE_INDEX_PARTITIONS
    expected = sorted({term_partition(t, n_parts) for t in terms})
    store = spark.read.parquet(os.path.join(phrase_idx, "segments"))
    probe = store.filter(
        F.col("partition_id").isin(expected) & F.col("term").isin(terms)
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "partition_id" in plan
    # and the python twin agrees with the JVM hash that wrote the files
    written = {
        int(r.partition_id)
        for r in store.filter(F.col("term").isin(terms)).select("partition_id").collect()
    }
    assert written == set(expected)


def test_phrase_unified_store_serves_bm25(spark, docs, phrase_idx):
    """ONE store answers both positional and BM25 queries: the positions
    blobs are format-compatible with the base decoder (count-bounded
    section reads ignore the trailing positions bytes), and the store has
    the full base layout (terms/, catalog/, doc_meta/, impact stamp)."""
    import json

    from contextinator_spark.operators.bm25 import topk
    from contextinator_spark.operators.bm25_segments import topk_segments
    from contextinator_spark.operators.postings import build_postings, doc_meta

    got = [
        (r.rank, r.doc_id, r.score)
        for r in topk_segments(spark, phrase_idx, ["table", "hash"], k=10).collect()
    ]
    want = [
        (r.rank, r.doc_id, r.score)
        for r in topk(build_postings(docs), doc_meta(docs), ["table", "hash"], k=10).collect()
    ]
    assert got == want and got
    for sub in ("terms", "catalog", "doc_meta"):
        assert os.path.isdir(os.path.join(phrase_idx, sub)), sub
    with open(os.path.join(phrase_idx, "stats.json")) as f:
        st = json.load(f)
    assert st["posting_format"] == 2 and "impact" in st


def test_doc_meta_schema_of_a_phrase_store(spark, phrase_idx):
    """A write_phrase_index store's doc_meta has no repo/path/lang; the
    pinned read still takes the schema Spark infers."""
    from contextinator_spark.operators.bm25_segments import _doc_meta

    want = spark.read.parquet(os.path.join(phrase_idx, "doc_meta")).schema
    assert _doc_meta(spark, phrase_idx).schema == want
    assert "repo" not in want.fieldNames()


def test_phrase_heavy_term_is_sliced(spark, tmp_path):
    """A heavy term in a positions index gets the SAME df-scaled range
    salting as the base store (round-3 VERDICT item 1: the old standalone
    phrase builder funneled a whole term through one Python group) — and
    the salted index still answers phrase queries identically to the scan
    form."""
    from pyspark.sql import functions as SF

    n = 40
    rows = [(i, f"hot pair filler{i} hot pair") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "salted_phrase_idx")
    os.makedirs(d)
    PH.write_phrase_index(spark, docs, d)
    seg = spark.read.parquet(os.path.join(d, "segments"))
    n_slices = seg.filter(SF.col("term") == "hot").count()
    assert n_slices > 1, "heavy term must be split into doc-range slices"
    scan = [
        (r.rank, r.doc_id, r.score)
        for r in PH.phrase_topk(docs, ["hot", "pair"], k=50).collect()
    ]
    idx = [
        (r.rank, r.doc_id, r.score)
        for r in PH.phrase_topk_indexed(spark, d, ["hot", "pair"], k=50).collect()
    ]
    assert scan == idx and len(scan) == n


def test_posting_format_guard(spark, tmp_path):
    import json

    d = str(tmp_path / "not_a_phrase_idx")
    os.makedirs(d)
    with open(os.path.join(d, "stats.json"), "w") as f:
        json.dump({"posting_format": 1, "n_partitions": 8}, f)
    with pytest.raises(ValueError, match="not a positions index"):
        PH.phrase_topk_indexed(spark, d, ["a", "b"])


def test_phrase_tf_expr_short_docs(spark):
    """Docs shorter than the phrase can't error under ANSI mode (F.get
    returns null past the end)."""
    df = spark.createDataFrame([(0, "table"), (1, "")], "doc_id long, content string")
    assert PH.phrase_match(df, ["table", "hash", "join"]).count() == 0


def test_near_match_window_semantics(spark):
    df = spark.createDataFrame(
        [
            (0, "x table q q hash"),     # distance 3
            (1, "table a hash table"),   # anchors at 0 (d=2) and 3 (d=1)
            (2, "table q q q q hash"),   # distance 5
        ],
        "doc_id long, content string",
    )
    w3 = {r.doc_id: r.near_tf for r in PH.near_match(df, ["table", "hash"], 3).collect()}
    assert w3 == {0: 1, 1: 2}
    w2 = {r.doc_id: r.near_tf for r in PH.near_match(df, ["table", "hash"], 2).collect()}
    assert w2 == {1: 2}
    # phrase matches are a subset of near matches at any window ≥ phrase span
    w9 = {r.doc_id: r.near_tf for r in PH.near_match(df, ["table", "hash"], 9).collect()}
    assert set(w3) <= set(w9)


def test_near_scan_and_indexed_identical(spark, docs, phrase_idx):
    for terms, w in ((["table", "hash"], 3), (["table", "hash"], 1), (["a", "a"], 2)):
        scan = [
            (r.rank, r.doc_id, r.score)
            for r in PH.near_topk(docs, terms, w, k=10).collect()
        ]
        idx = [
            (r.rank, r.doc_id, r.score)
            for r in PH.near_topk_indexed(spark, phrase_idx, terms, w, k=10).collect()
        ]
        assert scan == idx, (terms, w)


def test_positional_batch_matches_single_query_paths(spark, docs, phrase_idx):
    """positional_topk_indexed_multi must equal the scan forms phrase_topk
    / near_topk over the same docs for a mixed batch (exact phrases, NEAR,
    duplicates, absent terms, single-term)."""
    queries = {
        1: (["table", "hash"], None),
        2: (["hash", "table"], None),
        3: (["table"], None),
        4: (["zzz", "x"], None),
        5: (["table", "hash"], 3),
        6: (["a", "a"], None),
        7: (["a", "a"], 2),
    }
    multi = PH.positional_topk_indexed_multi(spark, phrase_idx, queries, k=10)
    got: dict[int, list] = {}
    for r in multi.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, (terms, w) in queries.items():
        if w is None:
            want = PH.phrase_topk(docs, terms, k=10)
        else:
            want = PH.near_topk(docs, terms, w, k=10)
        assert sorted(got.get(qid, [])) == sorted(
            (r.rank, r.doc_id, r.score) for r in want.collect()
        ), (qid, terms, w)


def test_positional_batch_local_cut_honours_k1_b(spark, tmp_path_factory):
    """The batch local cut ranks each bucket by the caller's k1/b: with
    b=0 the long doc's two matches beat the short doc's one, although at
    the default b the short doc ranks first."""
    rows = [
        (0, "x y x y " + " ".join(["f"] * 40)),
        (1, "x y"),
        (2, "z z z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path_factory.mktemp("k1b_idx"))
    PH.write_phrase_index(spark, docs, d)
    for k1, b in ((PH.BM25_K1, 0.0), (2.0, 0.0), (PH.BM25_K1, PH.BM25_B)):
        multi = PH.positional_topk_indexed_multi(
            spark, d, {1: (["x", "y"], None)}, k=1, k1=k1, b=b
        )
        want = PH.phrase_topk(docs, ["x", "y"], k=1, k1=k1, b=b)
        assert [(r.doc_id, r.score) for r in multi.collect()] == [
            (r.doc_id, r.score) for r in want.collect()
        ], (k1, b)
    assert [r.doc_id for r in PH.phrase_topk(docs, ["x", "y"], k=1, b=0.0).collect()] == [0]


def test_positional_batch_local_cut_exact_under_ties(spark, tmp_path_factory):
    """The batch executor's per-bucket local top-k must stay EXACT when
    tf_norm values tie heavily (replicated docs — identical (tf, dl) ⇒
    FP-identical tf_norm ⇒ the doc_id tiebreak decides): per-query results
    must match the scan forms bit-for-bit, including which of the tied
    replicas rank."""
    from contextinator_spark.operators.phrase import (
        near_topk,
        phrase_topk,
        positional_topk_indexed_multi,
    )
    from contextinator_spark.operators.segments import write_index
    from pyspark.sql import functions as F

    base = [
        (0, "alpha beta gamma alpha beta"),
        (1, "alpha beta delta"),
        (2, "gamma alpha beta alpha beta alpha beta"),
        (3, "beta alpha nothing here"),
    ]
    docs = spark.createDataFrame(base, "doc_id long, content string")
    # 50 replicas per doc → every (tf, dl) class has 50 FP-identical
    # tf_norms; k=10 forces the local cut to split tie classes
    rep = docs.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(49)))).select(
        (F.col("doc_id") * 50 + F.col("r")).alias("doc_id"), "content"
    )
    d = str(tmp_path_factory.mktemp("tie_idx"))
    write_index(spark, rep, d, positions=True)

    queries = {1: (["alpha", "beta"], None), 2: (["gamma", "beta"], 4)}
    out = positional_topk_indexed_multi(spark, d, queries, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    want1 = [(r.rank, r.doc_id, r.score)
             for r in phrase_topk(rep, ["alpha", "beta"], k=10).collect()]
    want2 = [(r.rank, r.doc_id, r.score)
             for r in near_topk(rep, ["gamma", "beta"], 4, k=10).collect()]
    assert sorted(got[1]) == sorted(want1)
    assert sorted(got[2]) == sorted(want2)
    # the tie classes resolved by doc_id: rank 1..k are the smallest ids
    # within the best (tf, dl) class
    assert got[1][0][1] < got[1][-1][1]


# ---- ordered span-near (Lucene SpanNearQuery(inOrder=true)) ----------------

SPAN_DOCS = [
    (0, "table hash join table hash"),
    (1, "hash table"),
    (2, "table x y hash"),
    (3, "hash x table hash y table"),
    (4, "a a a b a"),
    (5, "table hash table hash table"),
    (6, "nothing relevant"),
]


def _brute_spannear(text: str, terms: list[str], slop: int) -> int:
    """EXHAUSTIVE in-order chain search — the semantic reference the
    greedy kernel (phrase.py _match_bucket ordered branch) is pinned
    against: tf = number of anchor positions p0 of terms[0] for which ANY
    strictly-increasing chain p0 < p1 < … < p_{n-1} over the terms'
    position lists satisfies p_{n-1} - p0 - (n-1) <= slop."""
    from contextinator_spark.oracle import tokenize

    toks = tokenize(text)
    pos = [[i for i, w in enumerate(toks) if w == t] for t in terms]
    n = len(terms)

    def chain(j: int, prev: int, p0: int) -> bool:
        if j == n:
            return True
        return any(
            chain(j + 1, p, p0)
            for p in pos[j]
            if p > prev and p - p0 - (n - 1) <= slop
        )

    return sum(1 for p0 in pos[0] if chain(1, p0, p0))


@pytest.fixture(scope="module")
def span_idx(spark, tmp_path_factory):
    docs = spark.createDataFrame(SPAN_DOCS, "doc_id long, content string")
    d = str(tmp_path_factory.mktemp("span_idx"))
    PH.write_phrase_index(spark, docs, d)
    return d


def test_spannear_matches_exhaustive_reference(spark, span_idx):
    """Greedy chain == exists-chain on asymmetric orders, repeated terms,
    3-term chains, and absent terms."""
    cases = [
        (["table", "hash"], 0),
        (["table", "hash"], 2),
        (["hash", "table"], 1),
        (["hash", "table"], 4),
        (["a", "a"], 0),
        (["a", "a", "b"], 1),
        (["a", "b", "a"], 3),
        (["table", "hash", "table"], 2),
        (["zzz", "table"], 5),
    ]
    for terms, slop in cases:
        matched, _ = PH.positional_matches(
            spark, span_idx, terms, window=slop, ordered=True
        )
        got = {r.doc_id: r.phrase_tf for r in matched.collect()}
        want = {
            did: tf
            for did, text in SPAN_DOCS
            if (tf := _brute_spannear(text, terms, slop))
        }
        assert got == want, (terms, slop)


def test_spannear_order_matters(spark, span_idx):
    """doc 1 = "hash table": ["hash","table"] slop 0 matches, the reversed
    order does not — the asymmetry NEAR cannot express."""
    fwd, _ = PH.positional_matches(spark, span_idx, ["hash", "table"], 0, ordered=True)
    rev, _ = PH.positional_matches(spark, span_idx, ["table", "hash"], 0, ordered=True)
    assert 1 in {r.doc_id for r in fwd.collect()}
    assert 1 not in {r.doc_id for r in rev.collect()}


def test_spannear_slop0_equals_phrase(spark, span_idx):
    """slop=0 degenerates to the exact consecutive phrase — rank, score
    and tf identical to phrase_topk_indexed."""
    for terms in (["table", "hash"], ["a", "a"], ["hash", "table"]):
        span = [
            (r.rank, r.doc_id, r.score)
            for r in PH.spannear_topk_indexed(spark, span_idx, terms, 0, k=10).collect()
        ]
        ph = [
            (r.rank, r.doc_id, r.score)
            for r in PH.phrase_topk_indexed(spark, span_idx, terms, k=10).collect()
        ]
        assert span == ph, terms


def test_spannear_requires_slop():
    import pytest as _pt

    with _pt.raises(ValueError, match="slop"):
        PH.positional_matches(None, "/nonexistent", ["a", "b"], None, ordered=True)
    # a batch spec gets the single query's error, before any read
    spec = {0: (["a", "b"], None, True)}
    with _pt.raises(ValueError, match="slop"):
        PH.positional_matches_multi(None, "/nonexistent", spec)
    with _pt.raises(ValueError, match="slop"):
        PH.positional_topk_indexed_multi(None, "/nonexistent", spec)


def test_positional_batch_ordered_spec(spark, span_idx):
    """The batch executor's 3-tuple (terms, slop, ordered) spec must equal
    the single-query spannear path, mixed with phrase and NEAR specs in
    the same batch."""
    queries = {
        1: (["table", "hash"], 2, True),
        2: (["hash", "table"], 1, True),
        3: (["table", "hash"], 3),
        4: (["table", "hash"], None),
        5: (["a", "a", "b"], 1, True),
    }
    multi = PH.positional_topk_indexed_multi(spark, span_idx, queries, k=10)
    got: dict[int, list] = {}
    for r in multi.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, spec in queries.items():
        terms, w = spec[0], spec[1]
        if len(spec) > 2 and spec[2]:
            want = PH.spannear_topk_indexed(spark, span_idx, terms, w, k=10)
        elif w is None:
            want = PH.phrase_topk_indexed(spark, span_idx, terms, k=10)
        else:
            want = PH.near_topk_indexed(spark, span_idx, terms, w, k=10)
        assert sorted(got.get(qid, [])) == sorted(
            (r.rank, r.doc_id, r.score) for r in want.collect()
        ), (qid, spec)


# ---- MultiPhraseQuery / phrase-prefix ---------------------------------------


def _brute_multiphrase(text: str, slots: list) -> int:
    """Exhaustive multiphrase reference: tf = start positions p0 where
    every slot j's token toks[p0+j] is one of the slot's alternatives."""
    from contextinator_spark.oracle import tokenize

    toks = tokenize(text)
    sl = [[s] if isinstance(s, str) else s for s in slots]
    n = len(sl)
    return sum(
        1
        for p0 in range(len(toks) - n + 1)
        if all(toks[p0 + j] in sl[j] for j in range(n))
    )


def test_multiphrase_matches_exhaustive_reference(spark, span_idx):
    cases = [
        ["table", ["hash", "x"]],
        [["hash", "table"], ["table", "hash"]],
        [["a", "b"], ["a", "b"], ["a", "b"]],
        ["table", ["zzz", "qqq"]],
        [["table", "hash"]],  # single multi-term slot = disjunctive tf
    ]
    for slots in cases:
        matched, _ = PH.positional_matches(spark, span_idx, slots)
        got = {r.doc_id: r.phrase_tf for r in matched.collect()}
        want = {
            did: tf
            for did, text in SPAN_DOCS
            if (tf := _brute_multiphrase(text, slots))
        }
        assert got == want, slots


def test_multiphrase_singleton_equals_phrase(spark, span_idx):
    got = [
        (r.rank, r.doc_id, r.score)
        for r in PH.multiphrase_topk_indexed(
            spark, span_idx, [["table"], ["hash"]], k=10
        ).collect()
    ]
    want = [
        (r.rank, r.doc_id, r.score)
        for r in PH.phrase_topk_indexed(spark, span_idx, ["table", "hash"], k=10).collect()
    ]
    assert got == want


def test_phrase_prefix_expansion_and_bound(spark, tmp_path_factory):
    """phrase_prefix == multiphrase over expand_prefix's expansion; the
    max_expansions bound keeps the top-df terms (df desc, term asc)."""
    docs = spark.createDataFrame(
        [
            (0, "data hash data house"),
            (1, "data harbor data hash"),
            (2, "data house house data"),
            (3, "hash house harbor data"),
            (4, "data data hash"),
        ],
        "doc_id long, content string",
    )
    d = str(tmp_path_factory.mktemp("pp_idx"))
    PH.write_phrase_index(spark, docs, d)
    from contextinator_spark.operators.bm25_segments import expand_prefix

    exp = expand_prefix(spark, d, "h")
    assert sorted(exp) == ["harbor", "hash", "house"]
    got = [
        (r.rank, r.doc_id, r.score)
        for r in PH.phrase_prefix_topk_indexed(spark, d, ["data"], "h", k=10).collect()
    ]
    want = [
        (r.rank, r.doc_id, r.score)
        for r in PH.multiphrase_topk_indexed(spark, d, ["data", exp], k=10).collect()
    ]
    assert got == want and got
    # bound: df(hash)=4 > df(house)=3 > df(harbor)=2 → top-2 drops harbor
    exp2 = expand_prefix(spark, d, "h", max_expansions=2)
    assert sorted(exp2) == ["hash", "house"]
    # absent prefix → empty ranked frame with the ranked schema
    empty = PH.phrase_prefix_topk_indexed(spark, d, ["data"], "zz", k=10)
    assert empty.count() == 0 and empty.columns == ["rank", "doc_id", "score"]


def test_positional_batch_multiphrase_slots(spark, span_idx):
    """Batch specs may carry alternative-term slots (MultiPhraseQuery):
    results equal the single-query multiphrase path, mixed with plain
    phrase / NEAR / span-near specs in one batch."""
    queries = {
        1: ([["hash", "table"], ["table", "hash"]], None),
        2: (["table", ["hash", "x"]], None),
        3: (["table", "hash"], None),
        4: (["table", ["zzz", "qqq"]], None),
        5: ([["table", "hash"], ["hash"]], 2, True),
    }
    multi = PH.positional_topk_indexed_multi(spark, span_idx, queries, k=10)
    got: dict[int, list] = {}
    for r in multi.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, spec in queries.items():
        slots, w = spec[0], spec[1]
        if len(spec) > 2 and spec[2]:
            matched, stats_df = PH.positional_matches(
                spark, span_idx, slots, window=w, ordered=True
            )
            want_df = PH._rank_matches(
                matched, stats_df, 10, PH.BM25_K1, PH.BM25_B
            )
        elif w is None:
            want_df = PH.multiphrase_topk_indexed(spark, span_idx, slots, k=10)
        else:
            matched, stats_df = PH.positional_matches(spark, span_idx, slots, window=w)
            want_df = PH._rank_matches(matched, stats_df, 10, PH.BM25_K1, PH.BM25_B)
        want = [(r.rank, r.doc_id, r.score) for r in want_df.collect()]
        assert sorted(got.get(qid, [])) == sorted(want), (qid, spec)


# ---- SpanFirstQuery (span must end within the first N positions) -----------


def _brute_spanfirst(text: str, terms: list[str], end: int, slop=None) -> int:
    from contextinator_spark.oracle import tokenize

    toks = tokenize(text)
    n = len(terms)
    if slop is None:
        return sum(
            1
            for p0 in range(len(toks) - n + 1)
            if toks[p0:p0 + n] == terms and p0 + n <= end
        )
    pos = [[i for i, w in enumerate(toks) if w == t] for t in terms]

    def chain(j: int, prev: int, p0: int) -> bool:
        if j == n:
            return prev + 1 <= end
        return any(
            chain(j + 1, p, p0)
            for p in pos[j]
            if p > prev and p - p0 - (n - 1) <= slop
        )

    return sum(1 for p0 in pos[0] if chain(1, p0, p0))


def test_spanfirst_matches_exhaustive_reference(spark, span_idx):
    cases = [
        (["table", "hash"], 2, None),
        (["table", "hash"], 5, None),
        (["hash"], 1, None),
        (["a", "a"], 3, None),
        (["table", "hash"], 4, 2),     # span-near inside SpanFirst
        (["hash", "table"], 6, 1),
        (["a", "b"], 4, 3),
    ]
    for terms, end, slop in cases:
        matched, _ = PH.positional_matches(
            spark, span_idx, terms,
            window=slop, ordered=slop is not None, first=end,
        )
        got = {r.doc_id: r.phrase_tf for r in matched.collect()}
        want = {
            did: tf
            for did, text in SPAN_DOCS
            if (tf := _brute_spanfirst(text, terms, end, slop))
        }
        assert got == want, (terms, end, slop)
    # every case again as ONE batch of 4-tuple specs
    batch, _ = PH.positional_matches_multi(
        spark, span_idx,
        {i: (terms, slop, slop is not None, end) for i, (terms, end, slop) in enumerate(cases)},
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r.phrase_tf
    for i, (terms, end, slop) in enumerate(cases):
        want = {
            did: tf
            for did, text in SPAN_DOCS
            if (tf := _brute_spanfirst(text, terms, end, slop))
        }
        assert got.get(i, {}) == want, (terms, end, slop)


def test_spanfirst_topk_and_guards(spark, span_idx):
    # end large enough ⇒ identical to the unrestricted phrase
    a = [
        (r.rank, r.doc_id, r.score)
        for r in PH.spanfirst_topk_indexed(spark, span_idx, ["table", "hash"], 10**6, k=10).collect()
    ]
    b_ = [
        (r.rank, r.doc_id, r.score)
        for r in PH.phrase_topk_indexed(spark, span_idx, ["table", "hash"], k=10).collect()
    ]
    assert a == b_
    with pytest.raises(ValueError, match="NEAR"):
        PH.positional_matches(spark, span_idx, ["a", "b"], window=2, first=3)
    with pytest.raises(ValueError, match="≥ 1"):
        PH.positional_matches(spark, span_idx, ["a"], first=0)
    # batch specs (terms, window, ordered, first) get the same errors
    for batch in (PH.positional_matches_multi, PH.positional_topk_indexed_multi):
        with pytest.raises(ValueError, match="NEAR"):
            batch(spark, span_idx, {0: (["a", "b"], 2, False, 3)})
        with pytest.raises(ValueError, match="≥ 1"):
            batch(spark, span_idx, {0: (["a"], None, False, 0)})


# ---------------------------------------------------------------------------
# phrase suggester (ES phrase suggest with index-collate ranking)
# ---------------------------------------------------------------------------


def test_phrase_suggest_corrects_misspelling(spark, phrase_idx):
    # "tble hash" → "table hash" (phrase df 3: docs 0, 3?, 5 — doc 3 has
    # "table hash" via punctuation split; doc 2 is reversed, no match)
    rows = PH.phrase_suggest(spark, phrase_idx, ["tble", "hash"], k=5).collect()
    assert rows, "expected at least one suggestion"
    top = rows[0]
    assert (top["rank"], top["suggestion"], top["total_dist"]) == (1, "table hash", 1)
    # its phrase_df must equal the real phrase match count
    matched, _ = PH.positional_matches(spark, phrase_idx, ["table", "hash"])
    want_df = matched.filter("phrase_tf > 0").count()
    assert top["phrase_df"] == want_df


def test_phrase_suggest_excludes_identity_and_unverified(spark, phrase_idx):
    # exact query phrase is never suggested, and candidates whose phrase
    # never occurs (e.g. "hash hash") are dropped by the collate step
    rows = PH.phrase_suggest(spark, phrase_idx, ["table", "hash"], k=10).collect()
    sugg = [r["suggestion"] for r in rows]
    assert "table hash" not in sugg
    assert all(r["total_dist"] >= 1 for r in rows)
    assert all(r["phrase_df"] >= 1 for r in rows)


def test_phrase_suggest_ranking_is_df_then_dist(spark, phrase_idx):
    rows = PH.phrase_suggest(
        spark, phrase_idx, ["tble", "hsh"], max_edits=1, k=10
    ).collect()
    keys = [(-r["phrase_df"], r["total_dist"], r["suggestion"]) for r in rows]
    assert keys == sorted(keys)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_phrase_suggest_guards(spark, phrase_idx):
    with pytest.raises(ValueError, match="two terms"):
        PH.phrase_suggest(spark, phrase_idx, ["one"])
    with pytest.raises(ValueError, match="max_edits"):
        PH.phrase_suggest(spark, phrase_idx, ["a", "b"], max_edits=0)
    # hopeless slot: nothing within 1 edit → empty frame, not an error
    assert (
        PH.phrase_suggest(spark, phrase_idx, ["zzzzzzzzzz", "hash"]).count() == 0
    )


# ---------------------------------------------------------------------------
# SpanNotQuery (include phrase minus overlapping exclude spans)
# ---------------------------------------------------------------------------

SPANNOT_DOCS = [
    (0, "table hash join"),            # A at 0; B(join) at 2, post window matters
    (1, "table hash"),                 # clean A
    (2, "join table hash"),            # B before A, pre window matters
    (3, "table hash table hash join"), # two A; second killed at post>=1
    (4, "table join hash"),            # no A
    (5, "a table hash b table hash"),  # two clean A
]


def _spannot_brute(include, exclude, pre, post):
    out = {}
    nA, nB = len(include), len(exclude)
    for d, text in SPANNOT_DOCS:
        toks = text.split()
        a = [i for i in range(len(toks)) if toks[i:i + nA] == include]
        bpos = [j for j in range(len(toks)) if toks[j:j + nB] == exclude]
        surv = [
            i for i in a
            if not any(j <= i + nA - 1 + post and j + nB - 1 >= i - pre for j in bpos)
        ]
        if surv:
            out[d] = (len(surv), len(toks))
    return out


@pytest.fixture(scope="module")
def spannot_docs(spark):
    return spark.createDataFrame(SPANNOT_DOCS, "doc_id long, content string")


def test_span_not_matches_brute_reference(spannot_docs):
    for include, exclude, pre, post in [
        (["table", "hash"], ["join"], 0, 0),
        (["table", "hash"], ["join"], 0, 1),
        (["table", "hash"], ["join"], 1, 0),
        (["table", "hash"], ["join"], 2, 2),
        (["hash"], ["table", "hash"], 0, 0),   # exclude CONTAINS include
        (["table", "hash"], ["zzz"], 0, 3),    # exclude absent → pure phrase
    ]:
        got = {
            r["doc_id"]: (r["phrase_tf"], r["doc_len"])
            for r in PH.span_not_match(
                spannot_docs, include, exclude, pre, post
            ).collect()
        }
        assert got == _spannot_brute(include, exclude, pre, post), (
            include, exclude, pre, post,
        )


def test_span_not_absent_exclude_equals_phrase(spannot_docs):
    plain = {
        r["doc_id"]: r["phrase_tf"]
        for r in PH.phrase_match(spannot_docs, ["table", "hash"]).collect()
    }
    sn = {
        r["doc_id"]: r["phrase_tf"]
        for r in PH.span_not_match(
            spannot_docs, ["table", "hash"], ["never_here"]
        ).collect()
    }
    assert sn == plain


def test_span_not_topk_and_guards(spark, spannot_docs):
    rows = PH.span_not_topk(
        spannot_docs, ["table", "hash"], ["join"], post=1, k=10
    ).collect()
    assert rows and all(r["score"] > 0 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))
    with pytest.raises(ValueError, match="non-empty"):
        PH.span_not_match(spannot_docs, [], ["x"])
    with pytest.raises(ValueError, match=">= 0"):
        PH.span_not_match(spannot_docs, ["a"], ["b"], pre=-1)
