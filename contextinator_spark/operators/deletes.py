"""Document deletion for the segment store — Lucene live-docs semantics.

Deleting from an inverted index without rewriting it is the live-docs
pattern (Lucene's deleted-docs bitset; reference parity note: the
reference rebuilds collections from scratch on re-index — chunk_service
flow — so delete-in-place is engine-new surface, required once the index
is a long-lived 100 TB artifact instead of a per-repo throwaway):

  * `delete_docs` appends a TOMBSTONE epoch (parquet of doc_ids) under
    index_dir/tombstones/ — O(|deletes|) work, the segment bytes are
    untouched.
  * Query executors load the tombstone set and drop deleted postings
    after blob decode. Collection statistics (n_docs, avgdl, per-term
    df) intentionally stay at their build-time values until compaction
    — exactly Lucene's behavior, where deleted docs still count toward
    docFreq until segments merge. Surviving docs therefore keep
    BIT-IDENTICAL scores across a delete (tested), and the DuckDB
    oracle reproduces the semantics as "score over the full corpus,
    then filter deleted docs".
  * `compact` (segments.compact_index) PURGES tombstoned postings,
    recomputes df/cf/block-max/impact metadata and collection stats,
    and clears the tombstones — after which the store is bit-identical
    in query results to an index freshly built on the live corpus
    (tested).

Scale notes (100 TB): a tombstone set ≤ TOMBSTONE_BROADCAST_MAX ids
(default 4M ≈ 32 MB) is collected once per index version, sorted, and
broadcast; the scan kernels drop deleted postings with one vectorized
searchsorted per blob — no extra shuffle, no join, and pruning bounds
stay exact (block-max/sketch maxima over a superset remain valid UPPER
bounds; θ, a LOWER bound on the live k-th score, is recomputed from
live postings only — see bm25_segments). Past the cap the executors
fall back to a distributed anti-join on the partial-score stream and
disable θ pruning (a θ derived from a superset of live docs would
over-prune); the intended operating regime at that ratio is "run
compaction", same as Lucene's merge-on-too-many-deletes policy.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BLOCK_SIZE, TOMBSTONE_BROADCAST_MAX
from .compress import decode_postings

_TOMB_DIRNAME = "tombstones"
_EPOCH_RE = re.compile(r"del-(\d{6})")


def _tomb_dir(index_dir: str) -> str:
    return os.path.join(index_dir, _TOMB_DIRNAME)


def _epochs(index_dir: str) -> list[str]:
    d = _tomb_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(e for e in os.listdir(d) if _EPOCH_RE.fullmatch(e))


def tombstones_version(index_dir: str) -> tuple:
    """Staleness key: epoch-dir names + their mtimes (append-only layout,
    so this is exact). Compaction clears the directory → key changes."""
    d = _tomb_dir(index_dir)
    out = []
    for e in _epochs(index_dir):
        try:
            out.append((e, os.path.getmtime(os.path.join(d, e))))
        except OSError:
            out.append((e, None))
    return tuple(out)


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int] | DataFrame,
) -> dict:
    """Append one tombstone epoch. Accepts an id list (driver-side deletes,
    e.g. from a CLI) or a DataFrame with a doc_id column (distributed
    deletes, e.g. the output of a dedup or policy job at 100 TB — never
    collected to the driver). Idempotent at read time: epochs are unioned
    and de-duplicated by every consumer, so re-deleting an id is harmless.

    Atomicity: the epoch is written to a dot-prefixed staging directory
    (invisible to parquet listings) and renamed into place — readers see
    either the whole epoch or none of it, the same stage-then-move
    contract as streaming/ingest.py."""
    if isinstance(doc_ids, DataFrame):
        # distributed input keeps its parallelism — a 10^8-id policy-job
        # output should not be funneled through one write task
        df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = sorted({int(i) for i in doc_ids})
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(1)
    base = _tomb_dir(index_dir)
    os.makedirs(base, exist_ok=True)
    prev = _epochs(index_dir)
    nxt = int(_EPOCH_RE.fullmatch(prev[-1]).group(1)) + 1 if prev else 1
    final = os.path.join(base, f"del-{nxt:06d}")
    staging = os.path.join(base, f".staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    os.rename(staging, final)
    n = spark.read.parquet(final).count()
    return {"epoch": f"del-{nxt:06d}", "n_ids": int(n)}


def clear_tombstones(index_dir: str) -> int:
    """Remove every tombstone epoch (called by compaction after the purge
    is durably committed). Returns the number of epochs removed."""
    eps = _epochs(index_dir)
    for e in eps:
        shutil.rmtree(os.path.join(_tomb_dir(index_dir), e))
    _STATE_CACHE.pop(index_dir, None)
    return len(eps)


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Distinct deleted doc_ids as a DataFrame (all epochs unioned), or
    None when the store has no tombstones."""
    eps = _epochs(index_dir)
    if not eps:
        return None
    paths = [os.path.join(_tomb_dir(index_dir), e) for e in eps]
    return spark.read.parquet(*paths).select("doc_id").distinct()


_STATE_CACHE: dict[str, tuple[tuple, object]] = {}


def tombstone_state(
    spark: SparkSession, index_dir: str
) -> None | np.ndarray | DataFrame:
    """What an executor needs to honor deletes, cheapest form first:

      None       — no tombstones; zero overhead on the query path.
      np.ndarray — sorted unique deleted ids (≤ TOMBSTONE_BROADCAST_MAX):
                   broadcast + kernel-side searchsorted masking.
      DataFrame  — over the broadcast cap: the caller must anti-join its
                   partial results and disable θ pruning.

    The collected array is cached per (index_dir, epochs-version) so a
    long-lived session pays the driver fetch once per delete epoch, not
    per query."""
    ver = tombstones_version(index_dir)
    if not ver:
        return None
    hit = _STATE_CACHE.get(index_dir)
    if hit is not None and hit[0] == ver:
        return hit[1]
    df = tombstones_df(spark, index_dir)
    n = df.count()
    if n > TOMBSTONE_BROADCAST_MAX:
        return df  # not cached: the DataFrame is cheap to rebuild
    arr = np.sort(
        np.fromiter((r["doc_id"] for r in df.collect()), dtype=np.int64, count=n)
    )
    _STATE_CACHE[index_dir] = (ver, arr)
    return arr


def member_mask(doc_ids: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Vectorized membership test: True where doc_ids[i] IS in sorted_set.
    One searchsorted over the sorted array per blob — O(n log m), no
    Python loop. Shared by the tombstone mask (negated) and the
    metadata-scope filter (bm25_segments.topk_segments `scope`)."""
    if sorted_set.size == 0 or doc_ids.size == 0:
        return np.zeros(doc_ids.size, dtype=bool)
    pos = np.minimum(np.searchsorted(sorted_set, doc_ids), sorted_set.size - 1)
    return sorted_set[pos] == doc_ids


def live_mask(doc_ids: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """True where doc_ids[i] is NOT tombstoned."""
    return ~member_mask(doc_ids, tomb) if tomb.size else np.ones(doc_ids.size, dtype=bool)


def live_postings(
    blob: bytes,
    tomb: np.ndarray | None = None,
    scope: np.ndarray | None = None,
    blocks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) of a posting blob, restricted to the kept
    blocks, then the live docs (not in the sorted `tomb`), then the docs in
    the sorted `scope` — the decode + mask preamble of every scan kernel.

    `blocks` is one bool per BLOCK_SIZE run of the decoded list (the θ
    block skip), so it applies first: block i is positions
    [i·BLOCK_SIZE, (i+1)·BLOCK_SIZE) of the list as decoded."""
    post = decode_postings(bytes(blob))
    if blocks is not None:
        post = _take(post, np.repeat(blocks, BLOCK_SIZE)[: post[0].size])
    if tomb is not None:
        post = _take(post, live_mask(post[0], tomb))
    if scope is not None:
        post = _take(post, member_mask(post[0], scope))
    return post


def _take(post: tuple, keep: np.ndarray) -> tuple:
    return post if keep.all() else tuple(a[keep] for a in post)

