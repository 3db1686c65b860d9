"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9) and the north_rule asks
for RESUMABLE BATCH, which segments.write_index provides. This module adds
the idiomatic Spark form for continuous corpus growth: a file-source stream
with Trigger.AvailableNow (drain-everything-then-stop — exactly-once over
whatever landed since the last run) whose foreachBatch writes DELTA
segments into the same store layout, tagged by ingest epoch.

Query-side, readers see base + delta slices of a term transparently: the
executor already unions all slice rows per term (slice ranges may overlap
across epochs — scoring sums per doc_id, and re-ingesting the same doc_id
is forbidden by contract, same as the batch path). compact_segments folds
deltas back into one slice per term.

Each micro-batch also appends its rows to doc_meta/ and merge-updates
stats.json (n_docs / total_terms / max_doc_id additive, avgdl derived), so
BM25 idf/avgdl after a delta are IDENTICAL to a fresh full-corpus rebuild
(rank-identical top-k, pinned by test_incremental_ingest_matches_batch) and
doc-meta enrichment sees streamed docs. The stats write is atomic
(tmp + os.replace, the reference's own pattern embedding_service.py:620-633).

Replay safety: foreachBatch is at-least-once — a crash after the side
effects but before the checkpoint commit re-delivers the same batch_id. Two
mechanisms make the apply idempotent:
  1. stats.json records `last_batch_id`; a re-delivered batch_id ≤ that is
     a no-op (the previous run fully committed).
  2. Data files land via stage-then-move: each batch writes to a private
     staging dir, then its files are renamed into the live tree under
     deterministic `ingest-b{batch_id}-*` names, and the stats.json
     os.replace (which bumps last_batch_id) is the single commit point. A
     crash anywhere before it leaves only batch-tagged files that the
     replay scrubs by name before re-applying — no double counts.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import INDEX_PARTITIONS
from ..operators.segments import build_slices_fused, sampled_heavy_fanout
from .. import schemas

_DELTA_SUBDIRS = ("doc_meta", "segments", "terms_delta")


def _scrub_batch_files(index_dir: str, batch_id: int) -> int:
    """Remove files a previous PARTIAL run of this batch moved into the
    live tree (identified by their ingest-b{batch_id}- name prefix)."""
    pat = f"ingest-b{batch_id}-"
    removed = 0
    for sub in _DELTA_SUBDIRS:
        base = os.path.join(index_dir, sub)
        for root, _dirs, files in os.walk(base):
            for fn in files:
                if fn.startswith(pat):
                    os.remove(os.path.join(root, fn))
                    removed += 1
    return removed


def _move_staged(staged: str, live: str, batch_id: int) -> None:
    """Rename staged parquet part-files into the live tree, preserving any
    partition_id=N subdirs, under deterministic batch-tagged names."""
    i = 0
    for root, _dirs, files in os.walk(staged):
        rel = os.path.relpath(root, staged)
        dest = live if rel == "." else os.path.join(live, rel)
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            os.makedirs(dest, exist_ok=True)
            os.rename(
                os.path.join(root, fn),
                os.path.join(dest, f"ingest-b{batch_id}-{i}.parquet"),
            )
            i += 1


def start_incremental_ingest(
    spark: SparkSession,
    corpus_stream_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    n_partitions: int = INDEX_PARTITIONS,
):
    """Stream parquet corpus drops from corpus_stream_dir into the index.

    Returns the StreamingQuery (AvailableNow: terminates when drained).
    Requires an existing base index at index_dir (for stats.json) — the
    first build is the batch write_index job, and it must be FULLY
    committed: segments.write_index's resume path rmtree's any partition
    dir absent from the catalog, which would silently delete delta slices
    streamed into a partially-built base. Refuse up front instead.
    """
    from pyspark.sql import types as T

    from ..operators.segments import committed_partitions

    done = committed_partitions(spark, index_dir)
    seg_base = os.path.join(index_dir, "segments")
    if os.path.isdir(seg_base):
        import re

        # a partition dir counts as uncommitted BASE data only if it holds
        # non-ingest-tagged files (dirs holding only ingest-b*-tagged
        # files are prior delta output, legitimate without a catalog row)
        on_disk = set()
        for entry in os.listdir(seg_base):
            m = re.fullmatch(r"partition_id=(\d+)", entry)
            if m and any(
                not fn.startswith(("ingest-b", "tiered-t"))
                and fn.endswith(".parquet")
                for fn in os.listdir(os.path.join(seg_base, entry))
            ):
                on_disk.add(int(m.group(1)))
        uncommitted = on_disk - done
        if uncommitted:
            raise RuntimeError(
                "base index at %s has uncommitted segment partitions %s "
                "(partial write_index?); finish/resume the batch build "
                "before streaming deltas — its resume scrub would delete "
                "them" % (index_dir, sorted(uncommitted))
            )

    stream_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False), *schemas.CORPUS.fields]
    )
    stream = spark.readStream.schema(stream_schema).parquet(corpus_stream_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_ingest_batch(batch_df, batch_id, index_dir, id_col, n_partitions)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    n_partitions: int = INDEX_PARTITIONS,
    _crash_before_commit: bool = False,
) -> None:
    """Idempotently apply one micro-batch's deltas (see module docstring
    for the replay-safety protocol). Module-level so tests can drive
    replay/crash scenarios directly; `_crash_before_commit` aborts after
    the file moves but before the stats commit — the test hook for the
    at-least-once window."""
    if batch_df.isEmpty():
        return
    from pyspark.sql import Observation

    from ..functions.tokenize import token_count_udf

    # fresh read per batch: earlier micro-batches already moved the stats
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    # delta blobs take the store's posting format; a format-2 store's
    # positions ride the same salting/shuffle/merge, so phrase/NEAR
    # probes decode delta slices exactly like base slices
    positions = int(stats.get("posting_format", 1)) == 2
    # replay guard (foreachBatch is at-least-once): last_batch_id is
    # bumped by the atomic stats.json commit below, so ≤ means this
    # batch's side effects are already fully applied
    if int(batch_id) <= int(stats.get("last_batch_id", -1)):
        return
    # scrub tagged files from a PARTIAL earlier run of this batch
    _scrub_batch_files(index_dir, int(batch_id))

    staging = os.path.join(index_dir, ".ingest_staging", f"b{batch_id}")
    shutil.rmtree(staging, ignore_errors=True)

    # (1) doc_meta delta — streamed docs must be enrichable (J4) and
    # count toward idf/avgdl exactly as in a full rebuild. Batch stats
    # ride the write via observe() (no extra scan).
    extra = [c for c in ("repo", "path", "lang") if c in batch_df.columns]
    obs = Observation(f"delta_stats_{batch_id}")
    meta = batch_df.select(
        F.col(id_col).alias("doc_id"),
        token_count_udf(F.col("content")).alias("doc_len"),
        *extra,
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    ).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_len").alias("total_terms"),
        F.max("doc_id").alias("max_doc_id"),
    )
    meta.write.mode("overwrite").parquet(os.path.join(staging, "doc_meta"))
    g = obs.get
    n_docs = int(stats["n_docs"]) + int(g["n_docs"])
    total_terms = int(stats.get("total_terms", 0)) + int(g["total_terms"])
    max_doc_id = max(int(stats["max_doc_id"]), int(g["max_doc_id"]))

    # (2) delta slices through the fused kernel write_index uses, range-
    # salted against the MERGED max_doc_id so new doc_ids beyond the base
    # max stay spread. Heavy detection runs over the batch alone (exact
    # for small batches — k=1 below HEAVY_SAMPLE_TARGET); a batch-local
    # threshold only OVER-salts relative to the merged-collection one,
    # which costs extra slice rows, never correctness
    hv = sampled_heavy_fanout(
        batch_df.select(F.col(id_col), "content"), id_col, int(g["n_docs"])
    )
    # avgdl=None: delta kth_tfnorm is null — the θ shortcut is already
    # invalidated by the delta's avgdl change, so impact metadata on
    # delta slices would be dead weight until compaction refreshes it
    slices = build_slices_fused(
        batch_df, hv, max_doc_id, avgdl=None,
        n_partitions=n_partitions, id_col=id_col, positions=positions,
    ).withColumn(
        # epoch-shift keeps delta slice_ids disjoint from any base
        # slice_id (which is < MAX_SALT_FANOUT) and from other epochs
        "slice_id",
        F.col("slice_id") + F.lit(1_000_000 * (int(batch_id) + 1)),
    )
    slices.write.mode("overwrite").partitionBy("partition_id").parquet(
        os.path.join(staging, "segments")
    )
    # delta rows for the dictionary (df/cf additive; readers aggregate),
    # exact sums over the STAGED slices, as write_index derives terms/
    (
        batch_df.sparkSession.read.parquet(os.path.join(staging, "segments"))
        .groupBy("term", "partition_id")
        .agg(F.sum("df_slice").alias("df"), F.sum("cf_slice").alias("cf"))
        .select("term", "df", "cf", "partition_id")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(os.path.join(staging, "terms_delta"))
    )

    # (3) publish: move staged files into the live tree under
    # batch-tagged names, then commit via the atomic stats replace —
    # avgdl = total/count matches a fresh rebuild's F.avg bit-for-bit
    # (both are IEEE double division of exact longs)
    for sub in _DELTA_SUBDIRS:
        _move_staged(
            os.path.join(staging, sub),
            os.path.join(index_dir, sub),
            int(batch_id),
        )
    if _crash_before_commit:
        raise RuntimeError("simulated crash in the at-least-once window")
    new_stats = {
        **stats,
        "n_docs": n_docs,
        "avgdl": total_terms / n_docs,
        "max_doc_id": max_doc_id,
        "total_terms": total_terms,
        "last_batch_id": int(batch_id),
    }
    tmp = os.path.join(index_dir, f"stats.json.tmp.{batch_id}")
    with open(tmp, "w") as f:
        json.dump(new_stats, f)
    os.replace(tmp, os.path.join(index_dir, "stats.json"))
    shutil.rmtree(staging, ignore_errors=True)
