"""Document deletion (tombstones / live-docs) + purge-at-compaction.

Semantics under test (operators/deletes.py module docstring):
  * pre-compaction: deleted docs never rank anywhere; SURVIVORS KEEP
    BIT-IDENTICAL SCORES (df/n_docs/avgdl frozen at build time — Lucene
    live-docs);
  * every executor honors tombstones: latency, driver short-circuit,
    θ-pruned distributed, batch, conjunctive, positional;
  * over-cap tombstone sets take the anti-join fallback with identical
    results;
  * compact_index purges: afterwards the store answers exactly like an
    index freshly built on the live corpus.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from contextinator_spark.operators import bm25_segments, deletes, segments as S

QUERY = ["index_auth_0", "tokendata4"]  # mid-df terms of the seed-42 corpus
HEAVY = ["import", "return", "class"]


def _with_ids(corpus):
    return corpus.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61))
    )


@pytest.fixture()
def index_copy(spark, corpus, tmp_path):
    """A fresh, mutable index per test (deletes mutate the store)."""
    d = str(tmp_path / "idx")
    S.write_index(spark, _with_ids(corpus), d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def test_delete_excludes_and_preserves_scores(spark, index_copy):
    before = bm25_segments.topk_segments(spark, index_copy, QUERY, k=50).collect()
    assert len(before) >= 3
    victims = [before[0]["doc_id"], before[2]["doc_id"]]
    out = deletes.delete_docs(spark, index_copy, victims)
    assert out["epoch"] == "del-000001" and out["n_ids"] == 2
    after = bm25_segments.topk_segments(spark, index_copy, QUERY, k=50).collect()
    got_ids = {r["doc_id"] for r in after}
    assert not (set(victims) & got_ids)
    # survivors keep build-time scores (stats frozen until compaction) and
    # their relative order — the ranking just closes the gaps (docs beyond
    # the old k=50 cut may enter at the tail, hence the prefix compare)
    exp = [
        (r["doc_id"], r["score"]) for r in before if r["doc_id"] not in set(victims)
    ]
    assert [(r["doc_id"], r["score"]) for r in after][: len(exp)] == exp


def test_delete_all_executors_agree(spark, index_copy):
    """Latency (driver + distributed ± θ) and batch executors return the
    same live ranking."""
    base = bm25_segments.topk_segments(spark, index_copy, HEAVY, k=10).collect()
    deletes.delete_docs(
        spark, index_copy, [r["doc_id"] for r in base[:3]]
    )
    a = _rows(bm25_segments.topk_segments(spark, index_copy, HEAVY, k=10))
    b = _rows(
        bm25_segments.topk_segments(
            spark, index_copy, HEAVY, k=10, driver_path=False, prune=True
        )
    )
    c = _rows(
        bm25_segments.topk_segments(
            spark, index_copy, HEAVY, k=10, driver_path=False, prune=False
        )
    )
    multi = bm25_segments.topk_segments_multi(
        spark, index_copy, {7: HEAVY}, k=10
    ).collect()
    d = [(r["rank"], r["doc_id"], r["score"]) for r in multi]
    assert a == b == c == d
    assert not ({r[1] for r in a} & {r["doc_id"] for r in base[:3]})


def test_delete_conjunctive_excludes(spark, index_copy):
    base = bm25_segments.topk_segments_conjunctive(
        spark, index_copy, HEAVY, k=10
    ).collect()
    assert base
    victim = base[0]["doc_id"]
    deletes.delete_docs(spark, index_copy, [victim])
    after = bm25_segments.topk_segments_conjunctive(
        spark, index_copy, HEAVY, k=10
    ).collect()
    assert victim not in {r["doc_id"] for r in after}
    exp = [(r["doc_id"], r["score"]) for r in base if r["doc_id"] != victim]
    assert [(r["doc_id"], r["score"]) for r in after][: len(exp)] == exp


def test_delete_overcap_antijoin_identical(spark, index_copy, monkeypatch):
    base = bm25_segments.topk_segments(spark, index_copy, HEAVY, k=20).collect()
    deletes.delete_docs(spark, index_copy, [r["doc_id"] for r in base[:4]])
    arr_path = _rows(
        bm25_segments.topk_segments(spark, index_copy, HEAVY, k=10, driver_path=False)
    )
    # force the over-cap DataFrame fallback (anti-join, θ off)
    monkeypatch.setattr(deletes, "TOMBSTONE_BROADCAST_MAX", 0)
    deletes._STATE_CACHE.clear()
    over_path = _rows(
        bm25_segments.topk_segments(spark, index_copy, HEAVY, k=10, driver_path=False)
    )
    assert over_path == arr_path
    deletes._STATE_CACHE.clear()


def test_foreground_overlap_overcap_equals_broadcast(spark, index_copy, monkeypatch):
    """significant_terms and rare_terms collect their match set only up to
    TOMBSTONE_BROADCAST_MAX ids; above it they count the overlaps with a
    distributed join. On a store with a tombstone epoch that removes
    matching docs, both forms return the same rows."""
    base = bm25_segments.topk_segments(spark, index_copy, QUERY, k=5).collect()
    deletes.delete_docs(spark, index_copy, [r["doc_id"] for r in base[:2]])

    def both():
        return (
            [tuple(r) for r in bm25_segments.significant_terms(
                spark, index_copy, QUERY, k=25, min_fg=1
            ).collect()],
            [tuple(r) for r in bm25_segments.rare_terms(
                spark, index_copy, QUERY, max_doc_count=2, k=25
            ).collect()],
        )

    sig, rare = both()
    assert sig and rare
    monkeypatch.setattr(bm25_segments, "TOMBSTONE_BROADCAST_MAX", 0)
    assert both() == (sig, rare)


def test_delete_epochs_append_and_dedupe(spark, index_copy):
    e1 = deletes.delete_docs(spark, index_copy, [11, 22, 33])
    e2 = deletes.delete_docs(spark, index_copy, [33, 44])  # overlap is fine
    assert (e1["epoch"], e2["epoch"]) == ("del-000001", "del-000002")
    df = deletes.tombstones_df(spark, index_copy)
    assert sorted(r["doc_id"] for r in df.collect()) == [11, 22, 33, 44]
    state = deletes.tombstone_state(spark, index_copy)
    assert isinstance(state, np.ndarray)
    assert state.tolist() == [11, 22, 33, 44]


def test_purge_matches_fresh_build(spark, corpus, index_copy, tmp_path):
    """After compact_index, the purged store answers EVERY query form
    bit-identically to an index freshly built on the live corpus."""
    c = _with_ids(corpus)
    base = bm25_segments.topk_segments(spark, index_copy, QUERY, k=30).collect()
    victims = {r["doc_id"] for r in base[:5]}
    deletes.delete_docs(spark, index_copy, sorted(victims))
    out = S.compact_index(spark, index_copy)
    assert out["purged_docs"] == 5
    assert deletes.tombstone_state(spark, index_copy) is None

    fresh = str(tmp_path / "fresh")
    live = c.filter(~F.col("doc_id").isin(list(victims)))
    S.write_index(spark, live, fresh)
    for terms in (QUERY, HEAVY, ["zzz_no_such_term"], ["authuser5", "def"]):
        got = _rows(bm25_segments.topk_segments(spark, index_copy, terms, k=10))
        want = _rows(bm25_segments.topk_segments(spark, fresh, terms, k=10))
        assert got == want, terms
    # θ-pruned distributed path on the purged store still exact (impact
    # stamp was refreshed with the post-purge avgdl)
    pr = _rows(
        bm25_segments.topk_segments(
            spark, index_copy, HEAVY, k=10, driver_path=False, prune=True
        )
    )
    ex = _rows(
        bm25_segments.topk_segments(
            spark, index_copy, HEAVY, k=10, driver_path=False, prune=False
        )
    )
    assert pr == ex
    shutil.rmtree(fresh, ignore_errors=True)


def test_purge_refreshes_stats_dictionary_and_docmeta(spark, corpus, index_copy):
    import json
    import os

    with open(os.path.join(index_copy, "stats.json")) as f:
        st0 = json.load(f)
    base = bm25_segments.topk_segments(spark, index_copy, QUERY, k=10).collect()
    victims = [r["doc_id"] for r in base[:2]]
    deletes.delete_docs(spark, index_copy, victims)
    S.compact_index(spark, index_copy)
    with open(os.path.join(index_copy, "stats.json")) as f:
        st1 = json.load(f)
    assert st1["n_docs"] == st0["n_docs"] - 2
    assert st1["total_terms"] < st0["total_terms"]
    assert st1["impact"]["avgdl"] == st1["avgdl"]
    meta = spark.read.parquet(os.path.join(index_copy, "doc_meta"))
    assert meta.count() == st1["n_docs"]
    assert meta.filter(F.col("doc_id").isin(victims)).count() == 0
    # dictionary df no longer counts the purged docs: every term's df equals
    # the sum of slice dfs in segments (ground-truth invariant)
    seg_df = (
        spark.read.parquet(os.path.join(index_copy, "segments"))
        .groupBy("term").agg(F.sum("df_slice").alias("seg_df"))
    )
    dict_df = (
        spark.read.parquet(os.path.join(index_copy, "terms"))
        .groupBy("term").agg(F.sum("df").alias("dict_df"))
    )
    diff = seg_df.join(dict_df, "term", "full").filter(
        F.col("seg_df").isNull()
        | F.col("dict_df").isNull()
        | (F.col("seg_df") != F.col("dict_df"))
    )
    assert diff.count() == 0


def test_phrase_indexed_respects_deletes(spark, corpus, tmp_path):
    from contextinator_spark.operators import phrase as PH

    d = str(tmp_path / "pidx")
    S.write_index(spark, _with_ids(corpus), d, positions=True)
    # 'import' opens ~every synthetic file: a single-slot phrase with many
    # hits exercises the probe's decode-mask path AND leaves survivors to
    # verify score preservation on
    terms = ["import"]
    hits = PH.phrase_topk_indexed(spark, d, terms, k=20).collect()
    assert len(hits) >= 5
    victim = hits[0]["doc_id"]
    deletes.delete_docs(spark, d, [victim])
    after = PH.phrase_topk_indexed(spark, d, terms, k=20).collect()
    assert victim not in {r["doc_id"] for r in after}
    # the phrase's synthetic-term df = |live matched docs| drops by one, so
    # idf (hence every score) shifts UNIFORMLY — doc order must be preserved
    exp_ids = [r["doc_id"] for r in hits if r["doc_id"] != victim]
    assert [r["doc_id"] for r in after][: len(exp_ids)] == exp_ids
    # batch positional executor agrees bit-exactly with the latency form
    multi = PH.positional_topk_indexed_multi(
        spark, d, {1: (terms, None)}, k=20
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in multi] == [
        (r["doc_id"], r["score"]) for r in after
    ]
    # purge: the positional merge kernel drops the victim's postings AND
    # positions; post-compaction the store answers bit-identically to a
    # positions index freshly built on the live corpus
    S.compact_index(spark, d)
    fresh = str(tmp_path / "fresh_pidx")
    S.write_index(
        spark,
        _with_ids(corpus).filter(F.col("doc_id") != victim),
        fresh,
        positions=True,
    )
    got = PH.phrase_topk_indexed(spark, d, terms, k=20).collect()
    want = PH.phrase_topk_indexed(spark, fresh, terms, k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(fresh, ignore_errors=True)


def test_scope_and_deletes_compose(spark, index_copy):
    """FILTER clause + live-docs together: scoped ranking drops the deleted
    doc, survivors keep global scores."""
    pred = "lang = 'python'"
    base = bm25_segments.scoped_topk_segments(
        spark, index_copy, HEAVY, pred, k=10
    ).collect()
    assert len(base) >= 3
    victim = base[0]["doc_id"]
    deletes.delete_docs(spark, index_copy, [victim])
    after = bm25_segments.scoped_topk_segments(
        spark, index_copy, HEAVY, pred, k=10
    ).collect()
    assert victim not in {r["doc_id"] for r in after}
    exp = [(r["doc_id"], r["score"]) for r in base if r["doc_id"] != victim]
    assert [(r["doc_id"], r["score"]) for r in after][: len(exp)] == exp


def test_compact_commit_marker_lifecycle(spark, index_copy):
    """compact_index writes a `compact.inprogress` marker before the first
    artifact mutation and removes it only after the last (the detectable/
    self-healing purge-commit contract); catalog/ survives as a directory
    (stage-then-rename, never delete-then-write)."""
    marker = os.path.join(index_copy, "compact.inprogress")
    deletes.delete_docs(spark, index_copy, [1, 2])
    out = S.compact_index(spark, index_copy)
    assert out["purged_docs"] == 2
    assert not os.path.exists(marker)
    cat = os.path.join(index_copy, "catalog")
    assert os.path.isdir(cat)
    assert not os.path.exists(cat + ".compact.tmp")
    assert not os.path.exists(cat + ".compact.old")
    # re-run on the already-committed store is a no-op purge-wise and
    # converges (the recovery protocol is "marker present => re-run")
    out2 = S.compact_index(spark, index_copy)
    assert out2["purged_docs"] == 0
    assert not os.path.exists(marker)
