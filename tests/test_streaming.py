from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from contextinator_spark.operators import bm25_segments, segments as S
from contextinator_spark.streaming.ingest import start_incremental_ingest


def _rows(df):
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def _topk(spark, index_dir, terms, **kw):
    return _rows(bm25_segments.topk_segments(spark, index_dir, terms, k=10, **kw))


@pytest.mark.parametrize("positions", [False, True], ids=["format1", "format2"])
def test_incremental_ingest_matches_batch(spark, corpus, tmp_path_factory, positions):
    """After a streamed delta, the index must be RANK-IDENTICAL to a fresh
    full-corpus rebuild in the same posting format: same top-k docIDs AND
    same BM25 scores (plus phrase and NEAR on a positions store). This pins
    that ingest.py maintains doc_meta + stats (n_docs/avgdl/max_doc_id), not
    just retrievability — stale stats would shift idf/avgdl and diverge."""
    from contextinator_spark.operators.phrase import (
        near_topk_indexed,
        phrase_topk_indexed,
    )

    base_dir = str(tmp_path_factory.mktemp("stream_idx"))
    fresh_dir = str(tmp_path_factory.mktemp("fresh_idx"))
    drop_dir = str(tmp_path_factory.mktemp("stream_drops"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    first, second = c.filter(F.col("doc_id") % 2 == 0), c.filter(F.col("doc_id") % 2 == 1)

    # base index from the first half (batch path)
    S.write_index(spark, first, base_dir, positions=positions)
    # second half arrives as a streamed drop
    second.select("doc_id", "repo", "path", "commit", "lang", "content").write.parquet(
        f"{drop_dir}/drop1"
    )
    q = start_incremental_ingest(spark, f"{drop_dir}/*", base_dir, ckpt)
    q.awaitTermination(120)

    # reference: a fresh batch build over the FULL corpus
    S.write_index(spark, c, fresh_dir, positions=positions)

    # 1) merged stats == fresh stats (idf/avgdl inputs identical)
    with open(f"{base_dir}/stats.json") as f:
        merged = json.load(f)
    with open(f"{fresh_dir}/stats.json") as f:
        fresh = json.load(f)
    for key in ("n_docs", "avgdl", "max_doc_id", "total_terms", "posting_format"):
        assert merged[key] == fresh[key], key

    # 2) doc_meta covers streamed docs (J4 enrichment)
    dm = spark.read.parquet(f"{base_dir}/doc_meta")
    assert dm.count() == c.count()
    streamed_ids = {r["doc_id"] for r in second.select("doc_id").collect()}
    present = {
        r["doc_id"]
        for r in dm.filter(F.col("doc_id").isin(list(streamed_ids))).select("doc_id").collect()
    }
    assert present == streamed_ids

    # 3) rank-identical top-k incl. scores: heavy term, multi-term, and a
    # term that only exists in the streamed half
    probe = second.select(
        "doc_id", F.explode(F.split(F.lower("content"), "[^a-z0-9_]+")).alias("t")
    )
    first_terms = {
        r["t"]
        for r in first.select(F.explode(F.split(F.lower("content"), "[^a-z0-9_]+")).alias("t"))
        .distinct()
        .collect()
    }
    rare = (
        probe.filter(~F.col("t").isin(list(first_terms)) & (F.col("t") != ""))
        .groupBy("t")
        .count()
        .orderBy("count", "t")
        .first()
    )
    assert rare is not None
    for terms in (["def"], ["def", "import", "class"], [rare["t"]]):
        for prune in (True, False):
            got = _topk(spark, base_dir, terms, prune=prune)
            want = _topk(spark, fresh_dir, terms, prune=prune)
            assert got == want, f"terms={terms} prune={prune}\n{got}\nvs\n{want}"
        assert got, f"no results for {terms}"

    # 4) phrase + NEAR, the format-2 payload
    if positions:
        for terms in (["def"], ["import", "os"]):
            got = _rows(phrase_topk_indexed(spark, base_dir, terms, k=10))
            want = _rows(phrase_topk_indexed(spark, fresh_dir, terms, k=10))
            assert got == want, f"phrase {terms}\n{got}\nvs\n{want}"
        gotn = _rows(near_topk_indexed(spark, base_dir, ["def", "return"], 8, k=10))
        wantn = _rows(near_topk_indexed(spark, fresh_dir, ["def", "return"], 8, k=10))
        assert gotn == wantn
        assert gotn, "NEAR query returned nothing — probe corpus mismatch"

    shutil.rmtree(base_dir, ignore_errors=True)
    shutil.rmtree(fresh_dir, ignore_errors=True)
    shutil.rmtree(drop_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_ingest_replay_idempotent(spark, corpus, tmp_path_factory):
    """foreachBatch is at-least-once: a crash after the file moves but
    before the stats commit, followed by a replay of the SAME batch_id,
    must converge to exactly-once state (no doubled doc_meta rows, no
    doubled tf, stats counted once); and a replay after a successful
    commit must be a pure no-op."""
    import os

    from contextinator_spark.streaming.ingest import apply_ingest_batch

    base_dir = str(tmp_path_factory.mktemp("replay_idx"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    first, second = c.filter(F.col("doc_id") % 2 == 0), c.filter(F.col("doc_id") % 2 == 1)
    S.write_index(spark, first, base_dir)
    batch = second.select("doc_id", "repo", "path", "commit", "lang", "content")

    def state():
        with open(f"{base_dir}/stats.json") as f:
            st = json.load(f)
        dm = spark.read.parquet(f"{base_dir}/doc_meta").count()
        return st, dm, _topk(spark, base_dir, ["def", "import"])

    # (a) crash in the at-least-once window: files moved, commit missing
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_ingest_batch(batch, 0, base_dir, _crash_before_commit=True)
    assert not os.path.exists(f"{base_dir}/stats.json.tmp.0")
    # (b) the replay scrubs the partial files and applies exactly once
    apply_ingest_batch(batch, 0, base_dir)
    st, dm, topk = state()
    assert st["n_docs"] == c.count() and dm == c.count()
    assert st["last_batch_id"] == 0
    # (c) full replay after commit: early-return, state unchanged
    apply_ingest_batch(batch, 0, base_dir)
    assert state() == (st, dm, topk)


def test_ingest_refuses_uncommitted_base(spark, corpus, tmp_path_factory):
    """A partially-committed base build (segment partition dirs outside the
    catalog) must be rejected up front — write_index's resume scrub would
    delete delta slices streamed into it."""
    import os

    base_dir = str(tmp_path_factory.mktemp("refuse_idx"))
    drop_dir = str(tmp_path_factory.mktemp("refuse_drops"))
    ckpt = str(tmp_path_factory.mktemp("refuse_ckpt"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    S.write_index(spark, c, base_dir)
    c.limit(1).select("doc_id", "repo", "path", "commit", "lang", "content").write.parquet(
        f"{drop_dir}/drop1"
    )
    # fake an uncommitted partition left by a crashed base build
    fake = f"{base_dir}/segments/partition_id=987654"
    os.makedirs(fake)
    open(f"{fake}/part-00000-dead.parquet", "wb").close()
    with pytest.raises(RuntimeError, match="uncommitted"):
        start_incremental_ingest(spark, f"{drop_dir}/*", base_dir, ckpt)
    # but a dir holding ONLY ingest-tagged files is fine
    os.remove(f"{fake}/part-00000-dead.parquet")
    open(f"{fake}/ingest-b0-0.parquet", "wb").close()
    q = start_incremental_ingest(spark, f"{drop_dir}/*", base_dir, ckpt)
    q.awaitTermination(120)


def test_clean_uncommitted_spares_ingest_deltas(tmp_path):
    """write_index's resume scrub must delete uncommitted BASE files but
    keep streaming-delta files (which commit via stats.json, not the
    catalog) living in the same partition dir."""
    import os

    idx = str(tmp_path / "idx")
    pdir = f"{idx}/segments/partition_id=3"
    os.makedirs(pdir)
    open(f"{pdir}/part-00000-stale.parquet", "wb").close()
    open(f"{pdir}/ingest-b2-0.parquet", "wb").close()
    removed = S._clean_uncommitted(idx, done=set())
    assert removed == ["segments/partition_id=3/part-00000-stale.parquet"]
    assert os.path.exists(f"{pdir}/ingest-b2-0.parquet")


def test_tiered_compact_loop(spark, corpus, tmp_path_factory):
    """Repeated ingest → tiered-compact cycles on a positions store:
    bounded unit counts, bounded bytes rewritten per cycle (base never
    touched), and bit-identical query results — before/after each merge
    AND vs a fresh full-corpus build at the end."""
    from contextinator_spark.operators.phrase import (
        near_topk_indexed,
        phrase_topk_indexed,
    )
    from contextinator_spark.operators.segments import (
        _segment_units,
        tiered_compact,
    )
    from contextinator_spark.streaming.ingest import apply_ingest_batch

    base_dir = str(tmp_path_factory.mktemp("tier_idx"))
    fresh_dir = str(tmp_path_factory.mktemp("tier_fresh"))

    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    parts = [c.filter(F.col("doc_id") % 7 == i) for i in range(7)]
    S.write_index(spark, parts[0], base_dir, positions=True)
    base_bytes = sum(
        os.path.getsize(os.path.join(base_dir, "segments", p))
        for p in _segment_units(base_dir)["base"]
    )

    merged_cycles, noop_cycles = 0, 0
    for i, part in enumerate(parts[1:], start=1):
        apply_ingest_batch(part, i, base_dir)
        before = _topk(spark, base_dir, ["def", "import"])
        out = tiered_compact(
            spark, base_dir, tier_fanout=3, min_unit_bytes=1 << 30
        )
        # bit-identical across the merge, every cycle
        assert _topk(spark, base_dir, ["def", "import"]) == before
        if out["merged_units"]:
            merged_cycles += 1
            assert "base" not in out["merged_units"]
            # bounded rewrite: only delta bytes, never the base store
            assert out["bytes_rewritten"] < base_bytes * 6
            assert out["n_units_after"] < out["n_units_before"]
        else:
            noop_cycles += 1
    assert merged_cycles >= 1 and noop_cycles >= 1

    # steady-state unit bound: ≤ tier_fanout non-base units survive
    units = _segment_units(base_dir)
    assert len([u for u in units if u != "base"]) <= 3

    # final store answers EVERY query form identically to a fresh build
    S.write_index(spark, c, fresh_dir, positions=True)
    for terms in (["def"], ["def", "import", "class"]):
        for prune in (True, False):
            assert _topk(spark, base_dir, terms, prune=prune) == _topk(
                spark, fresh_dir, terms, prune=prune
            ), terms

    assert _rows(phrase_topk_indexed(spark, base_dir, ["def"], k=10)) == _rows(
        phrase_topk_indexed(spark, fresh_dir, ["def"], k=10)
    )
    assert _rows(
        near_topk_indexed(spark, base_dir, ["def", "return"], 8, k=10)
    ) == _rows(near_topk_indexed(spark, fresh_dir, ["def", "return"], 8, k=10))

    shutil.rmtree(base_dir, ignore_errors=True)
    shutil.rmtree(fresh_dir, ignore_errors=True)
