from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from contextinator_spark.operators import bm25, bm25_segments, postings as P, segments as S
from contextinator_spark.oracle import BruteForceBM25

QUERIES = {
    1: ["auth", "token"],
    2: ["def"],                        # heavy hitter → salted slices
    3: ["import", "return", "class"],  # all heavy
    4: ["zzz_no_such_term"],
    5: ["authuser5", "indexquery", "def"],  # rare + heavy mix
}


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    res = S.write_index(spark, c, d)
    from contextinator_spark.config import INDEX_PARTITIONS

    assert res["built_partitions"] == list(range(INDEX_PARTITIONS))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _brute(spark, corpus):
    rows = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61))).select("doc_id", "content").collect()
    return BruteForceBM25({r["doc_id"]: r["content"] for r in rows})


def test_heavy_terms_are_sliced(spark, index_dir):
    seg = spark.read.parquet(f"{index_dir}/segments")
    slices_per_term = seg.groupBy("term").count()
    heavy = slices_per_term.filter(F.col("count") > 1).count()
    assert heavy > 0, "expected heavy-hitter terms ('def', 'import') to be salted into slices"
    # slices of one term hold disjoint, ordered doc ranges
    d = seg.filter(F.col("term") == "def").orderBy("slice_id").collect()
    assert len(d) > 1
    from contextinator_spark.operators.compress import decode_postings

    prev_max = -1
    for r in d:
        ids, _, _ = decode_postings(bytes(r["blob"]))
        assert ids[0] > prev_max
        assert np.all(np.diff(ids) > 0)
        prev_max = int(ids[-1])


def test_segment_topk_rank_identical(spark, corpus, index_dir):
    oracle = _brute(spark, corpus)
    for qid, terms in QUERIES.items():
        got = [
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()
        ]
        exp = oracle.topk(terms, k=10)
        assert got == [(r, d, pytest.approx(s, abs=1e-6)) for r, d, s in exp], f"q{qid}"


def test_pruned_equals_exhaustive(spark, index_dir):
    # driver_path=False so this pins the DISTRIBUTED pruning plan (the
    # small test corpus would otherwise short-circuit to the driver path)
    for qid, terms in QUERIES.items():
        pruned = bm25_segments.topk_segments(
            spark, index_dir, terms, k=10, prune=True, driver_path=False
        ).collect()
        exhaustive = bm25_segments.topk_segments(
            spark, index_dir, terms, k=10, prune=False, driver_path=False
        ).collect()
        assert [tuple(r) for r in pruned] == [tuple(r) for r in exhaustive], f"q{qid}"


def test_driver_scatter_gather_matches_distributed(spark, index_dir):
    """The small-candidate-set driver path is bit-identical to the
    distributed executor on every golden query."""
    for qid, terms in QUERIES.items():
        a = bm25_segments.topk_segments(
            spark, index_dir, terms, k=10, driver_path=True
        ).collect()
        b = bm25_segments.topk_segments(
            spark, index_dir, terms, k=10, driver_path=False
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], f"q{qid}"


def test_postings_invariants(spark, index_dir):
    seg = spark.read.parquet(f"{index_dir}/segments")
    tdict = spark.read.parquet(f"{index_dir}/terms")
    # sum of slice df/cf == dictionary df/cf
    agg = seg.groupBy("term").agg(F.sum("df_slice").alias("df2"), F.sum("cf_slice").alias("cf2"))
    bad = tdict.join(agg, "term").filter((F.col("df") != F.col("df2")) | (F.col("cf") != F.col("cf2")))
    assert bad.count() == 0
    # catalog counters match committed postings
    cat = spark.read.parquet(f"{index_dir}/catalog")
    total_cat = cat.agg(F.sum("n_postings")).collect()[0][0]
    total_seg = seg.agg(F.sum("df_slice")).collect()[0][0]
    assert total_cat == total_seg


def test_resume_after_partial_build(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_resume"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    r1 = S.write_index(spark, c, d, only_partitions=set(range(10)), epoch=0)
    assert r1["built_partitions"] == list(range(10))
    # simulated crash; resume builds only the rest
    r2 = S.write_index(spark, c, d, epoch=1)
    from contextinator_spark.config import INDEX_PARTITIONS

    assert r2["built_partitions"] == list(range(10, INDEX_PARTITIONS))
    assert r2["skipped_partitions"] == list(range(10))
    # identical query results vs a clean one-shot index
    full = str(tmp_path_factory.mktemp("index_full"))
    S.write_index(spark, c, full)
    for terms in QUERIES.values():
        a = [tuple(r) for r in bm25_segments.topk_segments(spark, d, terms, k=10).collect()]
        b = [tuple(r) for r in bm25_segments.topk_segments(spark, full, terms, k=10).collect()]
        assert a == b
    # catalog records both epochs with monotone counters
    cat = spark.read.parquet(f"{d}/catalog")
    assert cat.select("checkpoint_epoch").distinct().count() == 2
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(full, ignore_errors=True)


def test_compaction_preserves_postings(spark, index_dir):
    compacted = S.compact_segments(spark, index_dir)
    assert compacted.groupBy("term").count().filter(F.col("count") > 1).count() == 0
    from contextinator_spark.operators.compress import decode_postings

    seg = spark.read.parquet(f"{index_dir}/segments")
    row = compacted.filter(F.col("term") == "def").collect()[0]
    ids_c, tfs_c, _ = decode_postings(bytes(row["blob"]))
    orig = seg.filter(F.col("term") == "def").orderBy("slice_id").collect()
    ids_o = np.concatenate([decode_postings(bytes(r["blob"]))[0] for r in orig])
    tfs_o = np.concatenate([decode_postings(bytes(r["blob"]))[1] for r in orig])
    assert np.array_equal(ids_c, ids_o)
    assert np.array_equal(tfs_c, tfs_o)


def test_segment_executor_matches_dataframe_executor(spark, corpus, index_dir):
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    post = P.build_postings(c)
    meta = P.doc_meta(c)
    for terms in QUERIES.values():
        a = [tuple(r) for r in bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()]
        b = [tuple(r) for r in bm25.topk(post, meta, terms, k=10).collect()]
        assert a == b


def test_multi_executor_matches_single(spark, index_dir):
    multi = bm25_segments.topk_segments_multi(spark, index_dir, QUERIES, k=10).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, terms in QUERIES.items():
        single = [
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()
        ]
        assert sorted(by_q.get(qid, [])) == sorted(single), f"q{qid}"


def test_multi_pruned_equals_exhaustive(spark, index_dir):
    """Batch-executor θ pruning (union block skip + per-query posting
    masks) is bit-identical to the exhaustive batch scan."""
    a = bm25_segments.topk_segments_multi(spark, index_dir, QUERIES, k=10, prune=True).collect()
    b = bm25_segments.topk_segments_multi(spark, index_dir, QUERIES, k=10, prune=False).collect()
    assert sorted([tuple(r) for r in a]) == sorted([tuple(r) for r in b])


def test_theta_distributed_when_all_terms_heavy(spark, index_dir, monkeypatch):
    """When every query term's df exceeds the driver-collect cap, the θ pass
    must route through the distributed per-slice local-kth job instead of
    collecting a whole term's blobs — and pruning must stay exact."""
    from contextinator_spark.operators import bm25_segments as B

    # force the cap below any real df: driver short-circuit AND the θ
    # driver collect are both disallowed, so θ comes from
    # _distributed_term_kth and top-k from the distributed plan
    monkeypatch.setattr(B, "DRIVER_TOPK_MAX_DF", 0)
    # disable the build-time impact-metadata shortcut — this test pins the
    # job-based fallback that stale/absent impact stamps route through
    monkeypatch.setattr(B, "_impact_ok", lambda *a, **kw: False)
    collected_terms: list[list[str]] = []
    orig = B._distributed_term_kth

    def spy(spark_, idx, need, *a, **kw):
        collected_terms.append(list(need))
        return orig(spark_, idx, need, *a, **kw)

    monkeypatch.setattr(B, "_distributed_term_kth", spy)

    # k=3 keeps total_df above the 50·k θ-pass gate at this corpus size
    terms = ["def", "import", "return"]  # all heavy by construction
    pruned = [
        tuple(r)
        for r in B.topk_segments(spark, index_dir, terms, k=3, prune=True).collect()
    ]
    assert collected_terms, "θ pass did not use the distributed k-th job"
    exact = [
        tuple(r)
        for r in B.topk_segments(spark, index_dir, terms, k=3, prune=False).collect()
    ]
    assert pruned == exact
    # the distributed θ must also actually prune relative to no θ at all:
    # it is a valid lower bound (≤ the exact k-th single-term score)
    stats = B.load_stats(index_dir)
    info = B.probe_dictionary(spark, index_dir, terms)
    idf = {t: B._idf(float(info[t]["df"]), float(stats["n_docs"])) for t in info}
    kth = orig(spark, index_dir, sorted(info), info, idf, 3, 1.2, 0.75, float(stats["avgdl"]))
    assert all(v > 0.0 for v in kth.values())


def test_impact_theta_needs_no_spark_job(spark, index_dir):
    """Build-time impact metadata (per-slice k-th tf-norm in the dictionary)
    makes θ a pure driver-side lookup: with a valid stamp _batch_thetas
    returns before touching Spark AT ALL (spark=None would raise
    otherwise), every query resolves, and the stored bound is ≤ the exact
    k-th that stats=None (no stamp) reads on the driver (conservative ⇒
    pruning exact, covered by test_pruned_equals_exhaustive)."""
    from contextinator_spark.operators import bm25_segments as B

    stats = B.load_stats(index_dir)
    assert stats.get("impact"), "fused build must stamp impact params"
    terms = ["def", "import", "return"]
    info = B.probe_dictionary(spark, index_dir, terms)
    assert all(info[t].get("kth_tfnorm") is not None for t in info)
    idf = {t: B._idf(float(info[t]["df"]), float(stats["n_docs"])) for t in info}
    queries = {1: terms, 2: ["def"]}
    args = (index_dir, queries, info, idf, 10, 1.2, 0.75, float(stats["avgdl"]))
    th_fast = B._batch_thetas(None, *args, stats)
    th_exact = B._batch_thetas(spark, *args, None)
    assert set(th_fast) == set(th_exact) == {1, 2}
    assert all(0.0 < th_fast[q] <= th_exact[q] + 1e-12 for q in queries)


def test_impact_stamp_invalidation(index_dir):
    """The stamp guards exact param equality: a different k1/b, a larger
    query k, or a post-delta avgdl drift all disable the shortcut."""
    from contextinator_spark.operators import bm25_segments as B

    stats = B.load_stats(index_dir)
    assert B._impact_ok(stats, 10, 1.2, 0.75)
    assert B._impact_ok(stats, 5, 1.2, 0.75)       # smaller k: still a lower bound
    assert not B._impact_ok(stats, 20, 1.2, 0.75)  # larger k: bound invalid
    assert not B._impact_ok(stats, 10, 1.5, 0.75)
    assert not B._impact_ok(stats, 10, 1.2, 0.5)
    drifted = {**stats, "avgdl": stats["avgdl"] * 1.01}  # streaming delta moved avgdl
    assert not B._impact_ok(drifted, 10, 1.2, 0.75)
    assert not B._impact_ok({k: v for k, v in stats.items() if k != "impact"}, 10, 1.2, 0.75)


def test_resume_scrubs_uncommitted_partitions(spark, corpus, tmp_path_factory):
    """A crash between the segments append and the catalog commit leaves
    slice rows for partitions the catalog doesn't record; resume must scrub
    them instead of appending duplicates (double-counted postings)."""
    import os
    import shutil as sh

    d = str(tmp_path_factory.mktemp("dirty_idx"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    from contextinator_spark.config import INDEX_PARTITIONS

    half = set(range(INDEX_PARTITIONS // 2))
    S.write_index(spark, c, d, only_partitions=half, epoch=0)

    # simulate the crash window: copy a committed partition's files into an
    # UNCOMMITTED partition dir (slice rows present, no catalog row)
    seg_base = os.path.join(d, "segments")
    committed_dir = next(p for p in sorted(os.listdir(seg_base)) if p.startswith("partition_id="))
    dirty_pid = max(
        set(range(INDEX_PARTITIONS)) - half
    )
    dirty_dir = os.path.join(seg_base, f"partition_id={dirty_pid}")
    sh.copytree(os.path.join(seg_base, committed_dir), dirty_dir)

    # resume: the dirty partition must be scrubbed, then rebuilt cleanly
    S.write_index(spark, c, d, epoch=1)
    seg = spark.read.parquet(os.path.join(d, "segments"))
    tdict = spark.read.parquet(os.path.join(d, "terms"))
    # invariant: dictionary df == sum of slice dfs per term, postings sane
    joined = (
        seg.groupBy("term").agg(F.sum("df_slice").alias("df_seg"))
        .join(tdict.groupBy("term").agg(F.sum("df").alias("df_dict")), "term")
    )
    bad = joined.filter(F.col("df_seg") != F.col("df_dict")).count()
    assert bad == 0
    # and the rebuilt index answers identically to a clean one-shot build
    d2 = str(tmp_path_factory.mktemp("clean_idx"))
    S.write_index(spark, c, d2)
    for terms in (["def"], ["auth", "token"]):
        a = [tuple(r) for r in bm25_segments.topk_segments(spark, d, terms, k=10).collect()]
        b = [tuple(r) for r in bm25_segments.topk_segments(spark, d2, terms, k=10).collect()]
        assert a == b, terms
    sh.rmtree(d, ignore_errors=True)
    sh.rmtree(d2, ignore_errors=True)


def test_sketch_pruning_disjoint_ranges_exact(spark, tmp_path):
    """DAAT-flavored doc-range sketches: two heavy terms living in mostly
    DISJOINT doc-id ranges. The per-bucket rest bound lets each term's
    postings die where the other term is absent — and results must stay
    bit-identical to both the sketchless pruned plan and the exhaustive
    scan."""
    rows = []
    for i in range(1200):
        body = ["filler%d" % (i % 7)]
        if i < 650:
            body.append("aaa aaa")
        if i >= 550:
            body.append("bbb")
        rows.append((i, " ".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "disjoint_idx")
    S.write_index(spark, docs, d)
    kw = dict(k=10, driver_path=False)
    sk = bm25_segments.topk_segments(spark, d, ["aaa", "bbb"], prune=True, sketch=True, **kw).collect()
    nosk = bm25_segments.topk_segments(spark, d, ["aaa", "bbb"], prune=True, sketch=False, **kw).collect()
    ex = bm25_segments.topk_segments(spark, d, ["aaa", "bbb"], prune=False, **kw).collect()
    assert [tuple(r) for r in sk] == [tuple(r) for r in nosk] == [tuple(r) for r in ex]
    assert len(sk) == 10

    # the sketch itself is a valid upper bound: nonzero only where a term
    # has postings, zero in the other term's exclusive region
    from contextinator_spark.operators.bm25_segments import (
        _SKETCH_BUCKETS,
        _idf,
        _term_impact_sketch,
        load_stats,
        probe_dictionary,
    )

    st = load_stats(d)
    info = probe_dictionary(spark, d, ["aaa", "bbb"])
    idf = {t: _idf(float(info[t]["df"]), float(st["n_docs"])) for t in info}
    sks = _term_impact_sketch(
        spark, d, info, idf, float(st["avgdl"]), 1.2, 0.75, int(st["max_doc_id"])
    )
    g = _SKETCH_BUCKETS
    # aaa lives in docs [0, 650) → its sketch must be 0 well above that range
    hi_bucket = int(900 / (st["max_doc_id"] + 1) * g)
    assert sks["aaa"][1][hi_bucket:].max(initial=0.0) == 0.0
    # bbb lives in docs [550, 1200) → 0 well below
    lo_bucket = int(300 / (st["max_doc_id"] + 1) * g)
    assert sks["bbb"][1][:lo_bucket].max(initial=0.0) == 0.0
    assert sks["aaa"][0] > 0 and sks["bbb"][0] > 0


def test_multi_sketch_equals_exhaustive(spark, index_dir):
    """Batch executor with doc-range sketches forced on (sketch=True; the
    auto gate needs 32M df) stays bit-identical to the sketchless pruned
    plan and to the exhaustive batch scan — on the shared mixed-df query
    set including the no-match and all-heavy queries."""
    a = bm25_segments.topk_segments_multi(
        spark, index_dir, QUERIES, k=10, prune=True, sketch=True
    ).collect()
    b = bm25_segments.topk_segments_multi(
        spark, index_dir, QUERIES, k=10, prune=True, sketch=False
    ).collect()
    c = bm25_segments.topk_segments_multi(
        spark, index_dir, QUERIES, k=10, prune=False
    ).collect()
    assert (
        sorted([tuple(r) for r in a])
        == sorted([tuple(r) for r in b])
        == sorted([tuple(r) for r in c])
    )


def test_multi_sketch_disjoint_ranges_exact(spark, tmp_path):
    """Batch form of the disjoint-range sketch test: two queries whose terms
    live in mostly disjoint doc-id ranges, run through topk_segments_multi
    with sketches on — per-(query, bucket) rest bounds must not drop any
    top-k posting."""
    rows = []
    for i in range(1200):
        body = ["filler%d" % (i % 7)]
        if i < 650:
            body.append("aaa aaa")
        if i >= 550:
            body.append("bbb")
        rows.append((i, " ".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "disjoint_idx_multi")
    S.write_index(spark, docs, d)
    qs = {1: ["aaa", "bbb"], 2: ["aaa", "filler3"], 3: ["bbb"]}
    sk = bm25_segments.topk_segments_multi(spark, d, qs, k=10, sketch=True).collect()
    ex = bm25_segments.topk_segments_multi(spark, d, qs, k=10, prune=False).collect()
    assert sorted([tuple(r) for r in sk]) == sorted([tuple(r) for r in ex])
    assert len({r["query_id"] for r in sk}) == 3


def test_multi_chunked_output_identical(spark, index_dir, monkeypatch):
    """The batch kernel's bounded output chunking (_OUT_CHUNK_ROWS — one
    100-query batch over 8M docs previously concentrated ~10^8 rows into a
    single Arrow allocation and OOMed the worker) must not change results:
    force a tiny chunk size so every slice flushes mid-stream and compare
    against the unchunked plan."""
    base = bm25_segments.topk_segments_multi(
        spark, index_dir, QUERIES, k=10, prune=True
    ).collect()
    monkeypatch.setattr(bm25_segments, "_OUT_CHUNK_ROWS", 3)
    tiny = bm25_segments.topk_segments_multi(
        spark, index_dir, QUERIES, k=10, prune=True
    ).collect()
    assert sorted(tuple(r) for r in tiny) == sorted(tuple(r) for r in base)


# ---------------------------------------------------------------------------
# prefix / wildcard multi-term rewrite (round 4; Lucene MultiTermQuery-style)
# ---------------------------------------------------------------------------


def _dict_df(spark, index_dir):
    """term -> df from the store's dictionary (slices summed)."""
    rows = (
        spark.read.parquet(f"{index_dir}/terms")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def test_expand_prefix_bounded_and_df_ordered(spark, index_dir):
    d = _dict_df(spark, index_dir)
    matching = sorted(
        (t for t in d if t.startswith("pa")), key=lambda t: (-d[t], t)
    )
    assert len(matching) >= 3, "synth corpus should have several pa* terms"
    n = len(matching) - 1  # force the bound to bite
    got = bm25_segments.expand_prefix(spark, index_dir, "pa", max_expansions=n)
    assert got == sorted(matching[:n])
    assert all(t.startswith("pa") for t in got)


def test_prefix_topk_matches_manual_disjunction(spark, corpus, index_dir):
    terms = bm25_segments.expand_prefix(spark, index_dir, "pa", max_expansions=3)
    manual = bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()
    via_prefix = bm25_segments.prefix_topk(
        spark, index_dir, "pa", k=10, max_expansions=3
    ).collect()
    assert [tuple(r) for r in via_prefix] == [tuple(r) for r in manual]
    # and the disjunction agrees with the uncompressed DataFrame executor
    c = corpus.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61))
    )
    df_exec = bm25.topk(
        P.build_postings(c), P.doc_meta(c), terms, k=10
    ).select("rank", "doc_id", "score").collect()
    assert [tuple(r) for r in via_prefix] == [tuple(r) for r in df_exec]


def test_wildcard_expansion_forms(spark, index_dir):
    # pure-prefix wildcard == expand_prefix
    assert bm25_segments.expand_wildcard(
        spark, index_dir, "de*", max_expansions=8
    ) == bm25_segments.expand_prefix(spark, index_dir, "de", max_expansions=8)
    # suffix form: *turn must include 'return' (leading-wildcard path)
    got = bm25_segments.expand_wildcard(spark, index_dir, "*turn")
    assert "return" in got
    assert all(t.endswith("turn") for t in got)
    # literal chars are escaped, not regex
    assert bm25_segments.expand_wildcard(spark, index_dir, "re.urn*") == []


def test_prefix_topk_empty_expansion(spark, index_dir):
    out = bm25_segments.prefix_topk(spark, index_dir, "zzzzqqq")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["rank", "doc_id", "score"]


def test_expand_regexp_whole_term_and_bounded(spark, index_dir):
    import re

    d = _dict_df(spark, index_dir)
    # whole-term anchoring: pa.* must behave like the prefix family, not
    # substring-match terms merely containing "pa"
    assert bm25_segments.expand_regexp(
        spark, index_dir, "pa.*", max_expansions=8
    ) == bm25_segments.expand_prefix(spark, index_dir, "pa", max_expansions=8)
    rx = re.compile(r"^(?:[a-z]*urn)$")
    matching = sorted((t for t in d if rx.match(t)), key=lambda t: (-d[t], t))
    assert "return" in matching
    got = bm25_segments.expand_regexp(spark, index_dir, "[a-z]*urn")
    assert got == sorted(matching[: len(got)])
    # the literal-head prefilter must not break patterns with no head
    assert "return" in bm25_segments.expand_regexp(spark, index_dir, "(ret|xyz)urn")
    with pytest.raises(ValueError):
        bm25_segments.expand_regexp(spark, index_dir, "")
    with pytest.raises(Exception):
        bm25_segments.expand_regexp(spark, index_dir, "[unclosed")


def test_synonym_topk_single_term_equals_term_query(spark, index_dir):
    # with one synonym the blended stats collapse to the plain term query
    got = bm25_segments.synonym_topk(spark, index_dir, ["pass"], k=10).collect()
    want = bm25_segments.topk_segments(spark, index_dir, ["pass"], k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # absent set → empty with the executor schema
    empty = bm25_segments.synonym_topk(spark, index_dir, ["zzzzqq"])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["rank", "doc_id", "score"]


def test_synonym_topk_blended_stats(spark, index_dir):
    import math

    from contextinator_spark.config import BM25_B, BM25_K1, SCORE_ROUND_DECIMALS

    syn = ["pass", "return"]
    # ground truth comes from the store's own artifacts: doc_meta for
    # doc_len, the dictionary for per-term df, decoded blobs for tfs
    meta = {
        r["doc_id"]: r["doc_len"]
        for r in spark.read.parquet(f"{index_dir}/doc_meta").collect()
    }
    post = (
        spark.read.parquet(f"{index_dir}/terms")
        .filter(F.col("term").isin(syn))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    dfs = {r["term"]: float(r["df"]) for r in post}
    assert len(dfs) == 2, "both synonyms must exist in the fixture corpus"
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_segments.synonym_topk(spark, index_dir, syn, k=10).collect()
    }
    assert got, "synonym query should match documents"
    # the blended idf uses max df — verify one scored doc end-to-end via
    # the per-term executors' tf streams (sum of tfs, one BM25 application)
    n_docs = float(len(meta))
    avgdl = sum(meta.values()) / n_docs
    df_blend = max(dfs.values())
    idf = math.log(1.0 + (n_docs - df_blend + 0.5) / (df_blend + 0.5))
    # recover per-doc tf sums from the compressed store directly
    from contextinator_spark.operators.compress import decode_postings

    tf_sum: dict[int, int] = {}
    seg = (
        spark.read.parquet(f"{index_dir}/segments")
        .filter(F.col("term").isin(syn))
        .collect()
    )
    for r in seg:
        ids, tfs, _dls = decode_postings(bytes(r["blob"]))
        for d, tf in zip(ids.tolist(), tfs.tolist()):
            tf_sum[d] = tf_sum.get(d, 0) + int(tf)
    for did, score in got.items():
        tf = float(tf_sum[did])
        dl = float(meta[did])
        want = idf * tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
        )
        assert abs(score - round(want, SCORE_ROUND_DECIMALS)) < 1e-9
    # and the fold is NOT the disjunction: scores must differ from Σ BM25_t
    disj = {
        r["doc_id"]: r["score"]
        for r in bm25_segments.topk_segments(spark, index_dir, syn, k=10).collect()
    }
    overlap = set(got) & set(disj)
    assert overlap and any(abs(got[d] - disj[d]) > 1e-9 for d in overlap)


def test_regexp_topk_matches_manual_disjunction(spark, index_dir):
    terms = bm25_segments.expand_regexp(spark, index_dir, "pa.*", max_expansions=3)
    assert terms
    manual = bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()
    via = bm25_segments.regexp_topk(
        spark, index_dir, "pa.*", k=10, max_expansions=3
    ).collect()
    assert [tuple(r) for r in via] == [tuple(r) for r in manual]
    empty = bm25_segments.regexp_topk(spark, index_dir, "zzz[0-9]+qqq")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["rank", "doc_id", "score"]


# ---------------------------------------------------------------------------
# conjunctive (MUST / AND) executor (round 4)
# ---------------------------------------------------------------------------


def _conj_brute(spark, corpus, terms, k=10):
    """Reference conjunctive top-k straight from the corpus."""
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    post, meta = P.build_postings(c), P.doc_meta(c)
    return bm25.topk_conjunctive(post, meta, terms, k=k).collect()


def test_conjunctive_segment_matches_dataframe_executor(spark, corpus, index_dir):
    terms = ["import", "def", "class"]
    seg = bm25_segments.topk_segments_conjunctive(spark, index_dir, terms, k=10).collect()
    ref = _conj_brute(spark, corpus, terms, k=10)
    assert [tuple(r) for r in seg] == [tuple(r) for r in ref]
    assert len(seg) > 0, "expected some docs containing all three terms"


def test_conjunctive_rare_filter_is_result_identical(spark, index_dir):
    terms = ["tokendata4", "def", "import"]
    on = bm25_segments.topk_segments_conjunctive(
        spark, index_dir, terms, k=10, rare_filter=True
    ).collect()
    off = bm25_segments.topk_segments_conjunctive(
        spark, index_dir, terms, k=10, rare_filter=False
    ).collect()
    assert [tuple(r) for r in on] == [tuple(r) for r in off]


def test_conjunctive_subset_of_disjunctive_candidates(spark, corpus, index_dir):
    """Every conjunctive hit contains ALL query terms (checked against the
    raw corpus), and its score equals its disjunctive score."""
    terms = ["tokendata4", "return"]
    conj = bm25_segments.topk_segments_conjunctive(spark, index_dir, terms, k=50).collect()
    assert conj
    c = corpus.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61))
    ).select("doc_id", "content").collect()
    content = {r["doc_id"]: r["content"].lower() for r in c}
    for r in conj:
        for t in terms:
            assert t in content[r["doc_id"]]
    # disjunctive scores of those docs agree (conjunction only filters docs)
    disj = {
        r["doc_id"]: r["score"]
        for r in bm25_segments.topk_segments(
            spark, index_dir, terms, k=10_000, driver_path=False, prune=False
        ).collect()
    }
    for r in conj:
        assert abs(disj[r["doc_id"]] - r["score"]) < 1e-9


def test_conjunctive_absent_term_is_empty(spark, index_dir):
    out = bm25_segments.topk_segments_conjunctive(
        spark, index_dir, ["import", "zzz_no_such_term"]
    )
    assert out.count() == 0
    none = bm25_segments.topk_segments_conjunctive(spark, index_dir, [])
    assert none.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in none.schema.fields] == [
        ("rank", "int"), ("doc_id", "bigint"), ("score", "double")
    ]
    # repeated terms are one MUST clause each, not a second match
    dup = bm25_segments.topk_segments_conjunctive(spark, index_dir, ["import", "import", "def"])
    once = bm25_segments.topk_segments_conjunctive(spark, index_dir, ["def", "import"])
    assert [tuple(r) for r in dup.collect()] == [tuple(r) for r in once.collect()]
    assert once.count() > 0


# ---------------------------------------------------------------------------
# metadata-scoped search (Lucene FILTER clause; round 4)
# ---------------------------------------------------------------------------


def _scope_ids(spark, index_dir, predicate):
    rows = (
        spark.read.parquet(f"{index_dir}/doc_meta").filter(predicate).select("doc_id").collect()
    )
    return {r["doc_id"] for r in rows}


def test_scoped_topk_is_filtered_global_ranking(spark, index_dir):
    """Scoped result == global exhaustive ranking restricted to the scope:
    same docs, same (unscoped) scores, gaps closed."""
    terms = ["import", "return", "class"]
    pred = "lang = 'python'"
    ids = _scope_ids(spark, index_dir, pred)
    assert 0 < len(ids) < 200
    full = bm25_segments.topk_segments(
        spark, index_dir, terms, k=10_000, driver_path=False, prune=False
    ).collect()
    want = [(r["doc_id"], r["score"]) for r in full if r["doc_id"] in ids][:10]
    got = bm25_segments.scoped_topk_segments(
        spark, index_dir, terms, pred, k=10
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_scoped_prune_paths_identical(spark, index_dir):
    terms = ["import", "return", "class"]
    pred = "lang = 'rust'"
    a = bm25_segments.scoped_topk_segments(
        spark, index_dir, terms, pred, k=10, driver_path=False, prune=True
    ).collect()
    b = bm25_segments.scoped_topk_segments(
        spark, index_dir, terms, pred, k=10, driver_path=False, prune=False
    ).collect()
    c = bm25_segments.scoped_topk_segments(spark, index_dir, terms, pred, k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] == [tuple(r) for r in c]
    assert a, "rust docs containing the heavy terms exist in the synth corpus"


def test_scoped_overcap_semijoin_identical(spark, index_dir, monkeypatch):
    terms = ["import", "def"]
    pred = "lang = 'python'"
    arr = bm25_segments.scoped_topk_segments(spark, index_dir, terms, pred, k=10).collect()
    monkeypatch.setattr(bm25_segments, "TOMBSTONE_BROADCAST_MAX", 0)
    over = bm25_segments.scoped_topk_segments(spark, index_dir, terms, pred, k=10).collect()
    assert [tuple(r) for r in over] == [tuple(r) for r in arr]


def test_scoped_empty_scope(spark, index_dir):
    out = bm25_segments.scoped_topk_segments(
        spark, index_dir, ["import"], "lang = 'cobol'", k=10
    )
    assert out.count() == 0


def test_search_after_pages_tile_the_full_ranking(spark, index_dir):
    """Cursor pagination (Lucene searchAfter): page1 ∪ page2 ∪ page3 ==
    top-3k, in order, on both execution paths; θ off for after-pages."""
    terms = ["import", "return", "class"]  # heavy → distributed + θ-eligible
    for driver_path in (True, False):
        full = [
            (r.doc_id, r.score)
            for r in bm25_segments.topk_segments(
                spark, index_dir, terms, k=9, driver_path=driver_path
            ).collect()
        ]
        pages, cursor = [], None
        for _ in range(3):
            rows = bm25_segments.topk_segments(
                spark, index_dir, terms, k=3,
                driver_path=driver_path, after=cursor,
            ).collect()
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            pages.extend((r.doc_id, r.score) for r in rows)
            if not rows:
                break
            cursor = (rows[-1].score, rows[-1].doc_id)
        assert pages == full, f"driver_path={driver_path}"


def test_search_after_past_the_end_is_empty(spark, index_dir):
    rows = bm25_segments.topk_segments(
        spark, index_dir, ["import"], k=5, after=(-1.0, 0)
    ).collect()
    assert rows == []


def test_explain_partials_sum_to_score_and_match_ranking(spark, index_dir):
    """explain_topk rows: (a) the (rank, doc_id, score) triples equal
    topk_segments' exactly, (b) per-doc Σ partial reproduces the score
    within the rounding quantum, (c) df/idf/tf are per-(doc,term) facts
    — tf ≥ 1 and df ≥ tf's doc count."""
    terms = ["auth", "token", "def"]
    top = bm25_segments.topk_segments(spark, index_dir, terms, k=10).collect()
    rows = bm25_segments.explain_topk(spark, index_dir, terms, k=10).collect()
    assert {(r["rank"], r["doc_id"], r["score"]) for r in rows} == {
        (r["rank"], r["doc_id"], r["score"]) for r in top
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for t in top:
        parts = by_doc[t["doc_id"]]
        # rounded partials sum to the rounded sum within n·½ulp(1e-6)
        assert abs(sum(p["partial"] for p in parts) - t["score"]) <= len(parts) * 5e-7
        assert all(p["tf"] >= 1 and p["doc_len"] >= p["tf"] for p in parts)
        assert all(p["df"] >= 1 and p["idf"] > 0 for p in parts)
    # every explain term is a query term that matched
    assert {r["term"] for r in rows} <= set(terms)


def test_explain_absent_terms_is_empty(spark, index_dir):
    assert (
        bm25_segments.explain_topk(spark, index_dir, ["zzz_no_such_term"], k=5).count()
        == 0
    )


def test_facet_counts_match_postings(spark, corpus, index_dir):
    """facet_counts == distinct matching docs per lang computed straight
    from the uncompressed postings + corpus metadata."""
    terms = ["def", "indexquery"]
    got = {
        (r["lang"], r["n_docs"])
        for r in bm25_segments.facet_counts(spark, index_dir, terms, "lang").collect()
    }
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    post = P.build_postings(c)
    want = {
        (r["lang"], r["n_docs"])
        for r in (
            post.filter(F.col("term").isin(terms))
            .select("doc_id")
            .distinct()
            .join(c.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .collect()
        )
    }
    assert got == want and len(got) >= 1


def test_match_count_equals_distinct_matches(spark, corpus, index_dir):
    """match_count == count of distinct docs containing any query term,
    computed straight from the uncompressed postings; absent terms give 0."""
    terms = ["def", "indexquery"]
    got = bm25_segments.match_count(spark, index_dir, terms).collect()[0]["n_docs"]
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    want = (
        P.build_postings(c)
        .filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert got == want and got >= 1
    assert (
        bm25_segments.match_count(spark, index_dir, ["zzz_no_such_term"]).collect()[0][
            "n_docs"
        ]
        == 0
    )


def test_collapse_topk_matches_exhaustive(spark, index_dir):
    """collapse_topk (Lucene CollapsingTopDocsCollector analog): one hit
    per repo, each the group's best-scoring doc, groups ranked by winner —
    verified against the exhaustive unpruned executor (itself rank-proven
    vs the brute oracle) collapsed driver-side."""
    terms = ["def", "indexquery"]
    got = [
        (r["rank"], r["repo"], r["doc_id"], r["score"])
        for r in bm25_segments.collapse_topk(
            spark, index_dir, terms, "repo", k=5
        ).collect()
    ]
    full = bm25_segments.topk_segments(
        spark, index_dir, terms, k=10**6, prune=False, driver_path=False
    ).collect()
    assert full, "fixture corpus must match the query terms"
    meta = {
        r["doc_id"]: r["repo"]
        for r in spark.read.parquet(f"{index_dir}/doc_meta")
        .select("doc_id", "repo")
        .collect()
    }
    best: dict = {}
    for r in sorted(full, key=lambda r: (-r["score"], r["doc_id"])):
        best.setdefault(meta[r["doc_id"]], (r["doc_id"], r["score"]))
    want = sorted(
        ((g, d, s) for g, (d, s) in best.items()), key=lambda x: (-x[2], x[1])
    )[:5]
    assert got == [(i + 1, g, d, s) for i, (g, d, s) in enumerate(want)]
    assert len({g for _, g, _, _ in got}) == len(got)  # one per group


def test_collapse_topk_absent_terms_empty(spark, index_dir):
    assert (
        bm25_segments.collapse_topk(
            spark, index_dir, ["zzz_no_such_term"], "repo"
        ).count()
        == 0
    )


def test_sort_topk_matches_meta_order(spark, corpus, index_dir):
    """sort_topk (Lucene Sort/SortField analog): top-k matching docs by a
    doc_meta field with doc_id tiebreak, no scoring — verified against the
    uncompressed postings + store doc_meta sorted driver-side; ascending
    flips the order; string sort keys work; absent terms give empty."""
    terms = ["def", "indexquery"]
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    matched = {
        r["doc_id"]
        for r in P.build_postings(c)
        .filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert matched
    meta = {
        r["doc_id"]: (r["doc_len"], r["repo"])
        for r in spark.read.parquet(f"{index_dir}/doc_meta").collect()
    }
    got = [
        (r["rank"], r["doc_id"], r["doc_len"])
        for r in bm25_segments.sort_topk(
            spark, index_dir, terms, "doc_len", ascending=False, k=5
        ).collect()
    ]
    want = sorted(((meta[d][0], d) for d in matched), key=lambda x: (-x[0], x[1]))[:5]
    assert got == [(i + 1, d, n) for i, (n, d) in enumerate(want)]

    got_asc = [
        (r["doc_id"], r["doc_len"])
        for r in bm25_segments.sort_topk(
            spark, index_dir, terms, "doc_len", ascending=True, k=5
        ).collect()
    ]
    want_asc = sorted(((meta[d][0], d) for d in matched), key=lambda x: (x[0], x[1]))[:5]
    assert got_asc == [(d, n) for n, d in want_asc]

    got_str = [
        (r["doc_id"], r["repo"])
        for r in bm25_segments.sort_topk(
            spark, index_dir, terms, "repo", ascending=True, k=5
        ).collect()
    ]
    want_str = sorted(((meta[d][1], d) for d in matched))[:5]
    assert got_str == [(d, g) for g, d in want_str]

    assert (
        bm25_segments.sort_topk(spark, index_dir, ["zzz_no_such_term"], "doc_len").count()
        == 0
    )
