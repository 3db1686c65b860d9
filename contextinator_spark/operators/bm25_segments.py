"""Segment-store BM25 top-k executor with block-max pruning (SURVEY.md §3.3).

Query trace (mirrors the reference flow semantic_search.py:39-114,
re-expressed over the segment store):

  query terms → dictionary probe (the query terms' terms/ and
               terms_delta/ partition directories, read on the driver
               with pyarrow — no Spark job)
             → small candidate sets (Σdf ≤ DRIVER_TOPK_MAX_DF): the pruned
               blobs are read on the driver the same way and the one BM25
               kernel (_score_slices) runs in-process, without θ; the
               partials fold per doc in numpy and the ranked result is a
               LocalRelation — zero Spark jobs end to end (_topk_driver)
             → otherwise the one BM25 scorer (_bm25_scored), a single
               query being a batch of one:
               θ per query (_batch_thetas: stored kth_tfnorm, else a
               driver read of the θ terms under the same Σdf gate, else
               one _distributed_term_kth job)
             → partition-pruned scan of segments/ (_segments: schema
               pinned to schemas.SEGMENTS, so no inference job; only the
               query terms' partition_ids reach the parquet reader:
               PushedFilters)
             → the same kernel in mapInPandas per slice: decode blob once
               → exact BM25 partial scores (doc_len from the blob; N/avgdl
               shipped as constants) for every query using the term, with
               block-max and posting pruning against each query's θ
             → groupBy(query_id, doc_id).sum
             → single query: TakeOrderedAndProject(k) (_rank_tail);
               batch: per-partition local top-k + per-query rank window
             → broadcast join doc_meta for enrichment (J4; _doc_meta
               pins its schema, so that read runs no job either)

Pruning correctness (exactness proof, tested vs exhaustive):
θ is a LOWER bound on the true k-th best total score (a lower bound on
the k-th best single-term score of the query's rarest term, _batch_thetas).
A posting (d, t) is dropped
only when score_t(d) + Σ_{t'≠t} global_ub(t') < θ — which implies d's total
score < θ, so d cannot be in the top-k; and any true top-k doc (total ≥ θ)
is never pruned anywhere, so its sum stays exact. Block-level: a whole
block is skipped when ub_t(block) + Σ_{t'≠t} global_ub(t') < θ, with
ub_t(block) = idf_t · tf_norm(max_tf, dl=min_dl) (score is increasing in tf
and decreasing in dl, so the corner is a valid bound).
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import (
    BM25_B,
    BM25_K1,
    DEFAULT_TOP_K,
    DRIVER_TOPK_MAX_DF,
    INDEX_PARTITIONS,
    QUERY_REPARTITION_MIN_DF,
    SCORE_ROUND_DECIMALS,
    TOMBSTONE_BROADCAST_MAX,
)
from ..schemas import SEGMENTS
from .deletes import live_mask, live_postings, member_mask

# Batch-executor qid-chunking: bound the (qids × postings) broadcast temp in
# score_slices to ~4M float64 elements (~32 MB) per chunk.
_QID_CHUNK_ELEMS = 4 * 1024 * 1024

# Batch-executor OUTPUT chunking: yield accumulated (query_id, doc_id,
# partial) rows once they exceed this many elements instead of one
# DataFrame per input Arrow batch. Without it a 100-query batch over a big
# index concentrates Σ_q(surviving postings) — easily 10^8 rows — into ONE
# Arrow allocation and the Python worker dies with
# arrow.memory.OutOfMemoryException (observed at 100 queries × 8M docs).
_OUT_CHUNK_ROWS = 8 * 1024 * 1024

# doc-range buckets of the per-term impact sketch (DAAT-flavored pruning):
# bounded driver state = n_query_terms × this many float64s.
_SKETCH_BUCKETS = 512
# auto-enable threshold for the sketch job (sketch=None). Measured on this
# VM (skewed two-term corpora, disjoint doc ranges, sf BENCH/BASELINE.md
# round-4 notes): at 1.3M and 10.8M matched postings the sketch prunes
# 70-80% of partial rows but wall-clock stays NEUTRAL (+0.3-0.5 s job
# overhead ≈ the CPU it saves), because the local[32] scan is blob-decode
# bound and shuffle is tmpfs memcpy. The win case is a network-shuffled
# cluster (partials cross the wire) and 10^8+-posting lists where the
# fixed job cost is ≪ the stage; auto-on only there. Its own work is
# O(total_df / BLOCK_SIZE), ~1/128 of the main scan.
SKETCH_MIN_DF = 32_000_000


def _spread_slices(seg: DataFrame, spark: SparkSession, total_df: int) -> DataFrame:
    """Scan-stage parallelism equals the number of pruned FILES (a few per
    query term) no matter how many cores the cluster has; when the matched
    posting volume is large, round-robin the slice rows across the cluster
    so decode+score runs on every core. Small queries skip the shuffle."""
    if total_df >= QUERY_REPARTITION_MIN_DF:
        return seg.repartition(2 * spark.sparkContext.defaultParallelism)
    return seg


def _idf(df: float, n: float) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _tf_norm(tf, dl, avgdl, k1=BM25_K1, b=BM25_B):
    if not isinstance(tf, np.ndarray):
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    # array form: identical op ORDER to the scalar expression (so results
    # stay bit-identical), but built with two buffers instead of seven
    # temporaries — this runs over every surviving posting, and the 8-core
    # phase is DRAM-bandwidth-bound (BENCH/BASELINE.md round-3 notes)
    tf = np.asarray(tf, dtype=np.float64)
    denom = np.multiply(np.asarray(dl, dtype=np.float64), b)  # b * dl
    np.divide(denom, avgdl, out=denom)  # / avgdl
    np.add(denom, 1.0 - b, out=denom)  # (1.0 - b) + …
    np.multiply(denom, k1, out=denom)  # k1 * …
    np.add(denom, tf, out=denom)  # tf + …
    num = np.multiply(tf, k1 + 1.0)  # tf * (k1 + 1.0)
    np.divide(num, denom, out=num)
    return num


def load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)


def _layout_partitions(index_dir: str, fallback: int = INDEX_PARTITIONS) -> int:
    """The store's actual partition count (self-described in stats.json)."""
    try:
        return int(load_stats(index_dir).get("n_partitions", fallback))
    except Exception:
        return fallback


_TERMS_CACHE: dict[str, tuple[tuple, DataFrame]] = {}
_TERMS_CACHE_MAX = 4


def _terms_version(index_dir: str) -> tuple:
    """Staleness key for the cached dictionary: for terms/ and terms_delta/,
    the max mtime over the directory AND its immediate children plus the
    child count. Appends that only add part files inside an existing
    partition_id=N subdirectory bump that subdirectory's mtime (rename-into
    always touches the parent), which the old root-only key missed — a
    long-lived session could keep serving stale df/cf after a delta."""
    v = []
    for d in ("terms", "terms_delta"):
        p = os.path.join(index_dir, d)
        try:
            m, n = os.path.getmtime(p), 0
            with os.scandir(p) as it:
                for e in it:
                    n += 1
                    try:
                        m = max(m, e.stat().st_mtime)
                    except OSError:
                        pass
            v.append((m, n))
        except OSError:
            v.append(None)
    return tuple(v)


def _terms_df(spark: SparkSession, index_dir: str) -> DataFrame:
    """The whole dictionary as a DataFrame, cached in executor memory per
    index version, for the scans that cannot be pruned to a few
    partitions: the multi-term rewrites (expand_*, complete_terms,
    suggest_terms) and the phrase operators' dictionary passes.

    The term dictionary is vocabulary-sized (≪ postings — this is the part
    a Lucene-style engine pins in RAM), so persisting it turns each such
    scan from a parquet listing + footer + scan into an InMemoryRelation
    scan. Keyed on directory mtimes so resume epochs and streaming deltas
    self-invalidate. probe_dictionary does not use it: an exact-term probe
    reads its few partition directories on the driver."""
    from pyspark.storagelevel import StorageLevel

    ver = _terms_version(index_dir)
    hit = _TERMS_CACHE.get(index_dir)
    if hit is not None and hit[0] == ver:
        return hit[1]
    if hit is not None:
        hit[1].unpersist()
    base = spark.read.parquet(os.path.join(index_dir, "terms"))
    delta_path = os.path.join(index_dir, "terms_delta")
    if os.path.exists(delta_path):  # streaming-ingest deltas (df/cf additive)
        # deltas carry no impact metadata (kth_tfnorm) — null-filled; the
        # θ shortcut is already invalidated by the delta's avgdl change
        base = base.unionByName(
            spark.read.parquet(delta_path), allowMissingColumns=True
        )
    df = base.persist(StorageLevel.MEMORY_AND_DISK)
    if len(_TERMS_CACHE) >= _TERMS_CACHE_MAX:
        old_key, (_, old_df) = next(iter(_TERMS_CACHE.items()))
        old_df.unpersist()
        del _TERMS_CACHE[old_key]
    _TERMS_CACHE[index_dir] = (ver, df)
    return df


# the dictionary's columns as the driver reads them; a file that lacks one
# (terms_delta/ carries no kth_tfnorm) reads it as null
_DICT_SCHEMA = pa.schema(
    [("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()), ("kth_tfnorm", pa.float64())]
)
_BLOB_SCHEMA = pa.schema([("term", pa.string()), ("blob", pa.binary())])
_TOPK_SCHEMA = pa.schema([("rank", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())])


def _read_partitions(
    index_dir: str, sub: str, pids: list[int], terms: list[str], schema: pa.Schema
) -> pa.Table:
    """The rows of `sub`/partition_id=<p> (p in pids) whose term is in
    `terms`, read on the driver with pyarrow, plus their partition_id.

    No Spark job: a query touches a few partition directories, and the
    jobs that read them cost more than the reads (mostly scheduling: about
    an eighth of their time was executor CPU). pyarrow skips `_`- and
    `.`-prefixed files as spark.read.parquet does, so both see the same
    part files (base build, ingest-b*, tiered-t*). The term filter applies
    to each row group as it is read, so the driver transiently holds a few
    row groups of a partition file; what it keeps is bounded by the caller
    (DRIVER_TOPK_MAX_DF for blobs)."""
    wanted = ds.field("term").isin(pa.array(terms, pa.string()))
    parts = []
    for pid in pids:
        path = os.path.join(index_dir, sub, f"partition_id={pid}")
        if not os.path.isdir(path):
            continue
        t = ds.dataset(path, schema=schema, format="parquet").to_table(filter=wanted)
        parts.append(t.append_column("partition_id", pa.array(np.full(t.num_rows, pid, np.int32))))
    if not parts:
        return schema.append(pa.field("partition_id", pa.int32())).empty_table()
    return pa.concat_tables(parts)


def _local_frame(
    spark: SparkSession, rows: list[tuple], schema: "pa.Schema | str"
) -> DataFrame:
    """A driver-side result (or an empty one) as a DataFrame that runs no
    Spark job. `schema` is an Arrow schema or a Spark DDL string.

    The rows go to createDataFrame as an Arrow table, which becomes a
    LocalRelation; collecting it reads the rows back on the driver. A
    Python list is pickled through a Python RDD instead (one job, 0.3-0.5 s
    even for no rows), and so is an empty pandas frame."""
    if isinstance(schema, str):
        schema = _arrow_schema(schema)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    return spark.createDataFrame(table)


@functools.lru_cache(maxsize=128)
def _arrow_schema(ddl: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def _segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """segments/ as a DataFrame, its schema pinned to schemas.SEGMENTS.

    A schema-less spark.read.parquet runs a one-task job to infer the
    schema from a footer (about 0.1 s warm) on every call; every executor
    reads segments/ at least once per query."""
    return spark.read.schema(SEGMENTS).parquet(os.path.join(index_dir, "segments"))


def _doc_meta(spark: SparkSession, index_dir: str) -> DataFrame:
    """doc_meta/ as a DataFrame whose schema is read on the driver, so the
    read runs no schema-inference job (~0.1 s warm, 2 s cold).

    doc_meta's columns depend on the builder (a write_phrase_index store
    has no repo/path), so no schema is fixed in schemas.py. Spark's
    inference reads one part file's footer and takes the Spark schema the
    writer stored there; this reads the same key from the first part file
    (pyarrow skips `_`/`.` files as Spark does) and makes every field
    nullable, as Spark does for any file source. Every doc_meta part file
    is written by Spark (build, streaming delta, compaction)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructField, StructType

    path = os.path.join(index_dir, "doc_meta")
    first = sorted(ds.dataset(path, format="parquet").files)[0]
    stored = pq.read_metadata(first).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in StructType.fromJson(json.loads(stored))]
    )
    return spark.read.schema(schema).parquet(path)


def probe_dictionary(
    spark: SparkSession, index_dir: str, terms: list[str], n_partitions: int | None = None
) -> dict[str, dict]:
    """term → {df, cf, partition_id, kth_tfnorm} for the terms the store
    holds, summed over terms/ and its streaming deltas (terms_delta/).

    partition_ids are computed driver-side with the pure-Python XXH64 twin
    (functions/xxhash.py, Spark-identical by test), and only those
    partition directories are read, on the driver (_read_partitions): the
    probe runs no Spark job. kth_tfnorm is the max over the files that
    carry it, None when none does. `spark` is unused, kept so every
    executor calls the probe the same way.
    """
    from ..functions.xxhash import term_partition

    if n_partitions is None:
        n_partitions = _layout_partitions(index_dir)
    terms = sorted(set(terms))
    pids = sorted({term_partition(t, n_partitions) for t in terms})
    rows = pa.concat_tables(
        [_read_partitions(index_dir, sub, pids, terms, _DICT_SCHEMA) for sub in ("terms", "terms_delta")]
    )
    agg = rows.group_by(["term", "partition_id"]).aggregate(
        [("df", "sum"), ("cf", "sum"), ("kth_tfnorm", "max")]
    )
    return {
        r["term"]: {
            "df": r["df_sum"],
            "cf": r["cf_sum"],
            "partition_id": r["partition_id"],
            "kth_tfnorm": r["kth_tfnorm_max"],
        }
        for r in agg.to_pylist()
    }


def _term_impact_sketch(
    spark: SparkSession,
    index_dir: str,
    info: dict[str, dict],
    idf: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    max_doc_id: int,
    g: int = _SKETCH_BUCKETS,
) -> dict[str, tuple[float, np.ndarray]]:
    """Per-term doc-range impact sketch from BLOCK METADATA ONLY (no blob
    decode): term → (tight_ub, sketch[g]) where

      tight_ub  = max over the term's blocks of idf·tf_norm(max_tf, min_dl)
                  — the term's true global score bound (far below the
                  idf·(k1+1) tf→∞ corner for real max_tf of 1-3);
      sketch[j] = max of that block bound over blocks whose doc range
                  intersects bucket j of [0, max_doc_id] — an upper bound
                  on the term's score for ANY doc in the bucket (0 where
                  the term has no postings at all).

    This is the document-at-a-time idea of round-3 VERDICT item 5 shifted
    to bounds: term A's postings in a doc region where the other query
    terms are weak or absent can be pruned even when the global rest bound
    could not prune them. One Spark job over the pruned (term, block_max)
    columns; the collect is ≤ |terms|·g rows.

    Block lower bounds: previous block's upper_doc + 1 within a slice row;
    a slice's FIRST block starts at the blob's first docID — decoded from
    the blob's first two varints only (block_max carries no explicit low;
    a production-format bump would store lower_doc in the block metadata
    and make this job metadata-only)."""
    pids = sorted({info[t]["partition_id"] for t in info})
    need = sorted(info)
    segb = (
        _segments(spark, index_dir)
        .filter(F.col("partition_id").isin(pids) & F.col("term").isin(need))
        .select("term", "blob", "block_max")
    )
    span = float(max_doc_id + 1)
    idf_b = dict(idf)

    def to_buckets(pdf_iter):
        from .compress import vb_decode

        for pdf in pdf_iter:
            t_out, b_out, u_out = [], [], []
            for term, blob, bm in zip(pdf["term"], pdf["blob"], pdf["block_max"]):
                if bm is None or len(bm) == 0:
                    continue
                arr = np.asarray(
                    [(e["upper_doc"], e["max_tf"], e["min_dl"]) for e in bm],
                    dtype=np.float64,
                )
                ub = idf_b[term] * _tf_norm(arr[:, 1], arr[:, 2], avgdl, k1, b)
                upper = arr[:, 0]
                # first docID = 2nd varint of the blob ([df][delta0 = doc0])
                head = np.frombuffer(bytes(blob)[:20], dtype=np.uint8)
                _, off = vb_decode(head, 0, 1)
                first_doc, _ = vb_decode(head, off, 1)
                lows = np.empty_like(upper)
                lows[0] = float(first_doc[0])
                lows[1:] = upper[:-1] + 1.0
                b_lo = np.minimum((lows / span * g).astype(np.int64), g - 1)
                b_hi = np.minimum((upper / span * g).astype(np.int64), g - 1)
                sk = np.zeros(g, dtype=np.float64)
                single = b_lo == b_hi
                np.maximum.at(sk, b_lo[single], ub[single])
                for i in np.flatnonzero(~single):  # straddlers: rare (see above)
                    lo, hi = int(b_lo[i]), int(b_hi[i])
                    np.maximum(sk[lo : hi + 1], ub[i], out=sk[lo : hi + 1])
                nz = np.flatnonzero(sk)
                t_out.append(np.full(nz.size, term, dtype=object))
                b_out.append(nz)
                u_out.append(sk[nz])
            if t_out:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(t_out),
                        "bucket": np.concatenate(b_out).astype(np.int32),
                        "ub": np.concatenate(u_out),
                    }
                )

    rows = (
        segb.mapInPandas(to_buckets, schema="term string, bucket int, ub double")
        .groupBy("term", "bucket")
        .agg(F.max("ub").alias("ub"))
        .collect()
    )
    out: dict[str, tuple[float, np.ndarray]] = {}
    for t in need:
        out[t] = (0.0, np.zeros(g, dtype=np.float64))
    for r in rows:
        out[r["term"]][1][int(r["bucket"])] = float(r["ub"])
    return {t: (float(sk.max(initial=0.0)), sk) for t, (_, sk) in out.items()}


def topk_segments(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    prune: bool = True,
    n_partitions: int | None = None,
    driver_path: bool = True,
    sketch: bool | None = None,
    scope: "np.ndarray | DataFrame | None" = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """(rank, doc_id, score) from the compressed segment store.

    One BM25 kernel (_score_slices), two placements. Small candidate
    sets (Σdf ≤ DRIVER_TOPK_MAX_DF, no over-cap tombstones, no DataFrame
    scope) run it on the driver (_topk_driver): the driver reads the
    pruned blobs, runs the kernel in-process without θ, folds and ranks
    — identical results (tested), no Spark job. driver_path=False forces
    the Spark placement: the batch scorer (_bm25_scored) run as a batch
    of one, followed by a TakeOrderedAndProject tail (_rank_tail) instead
    of the batch's per-query rank window, which would sort the whole
    match set on one task.

    `after` = (score, doc_id) of the last hit already served (Lucene
    searchAfter): only docs STRICTLY after that cursor in the
    (score desc, doc_id asc) order rank, with page-local ranks 1..k —
    deterministic cursor pagination with no offset re-scoring drift.
    Impact-θ pruning is forced off for after-pages: θ lower-bounds the
    GLOBAL k-th best, and page-2+ hits legitimately score below it;
    dictionary/partition pruning (and the driver short-circuit) still
    apply.

    `scope` restricts the ranking to a doc_id subset (Lucene FILTER
    clause: idf/df stay GLOBAL, so in-scope docs keep their unscoped
    scores — tested; use scoped_topk_segments for the doc_meta-predicate
    form). A sorted int64 array is broadcast and masked kernel-side
    (member_mask, same machinery as tombstones); a DataFrame (sets too
    big to broadcast) semi-joins the partial stream with θ pruning off —
    θ over a superset of the scope is not a valid lower bound."""
    probed = _probe(spark, index_dir, terms, n_partitions)
    if probed is None:
        return _local_frame(spark, [], _TOPK_SCHEMA)
    stats, info, (tomb_bc, tomb_over) = probed
    if isinstance(scope, np.ndarray):
        if scope.size == 0:
            return _local_frame(spark, [], _TOPK_SCHEMA)
        scope = np.sort(scope)

    if (
        driver_path
        and tomb_over is None
        and not isinstance(scope, DataFrame)
        and sum(v["df"] for v in info.values()) <= DRIVER_TOPK_MAX_DF
    ):
        scope_bc = None if scope is None else spark.sparkContext.broadcast(scope)
        kern = _kern({0: terms}, info, stats, k1, b, tomb_bc, scope_bc)
        return _topk_driver(spark, index_dir, info, kern, k, after)
    scored = _bm25_scored(
        spark, index_dir, {0: terms}, k, k1, b, prune=prune and after is None,
        sketch=sketch, scope=scope, probed=probed,
    ).drop("query_id")
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("score") < s_a)
            | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
        )
    return _rank_tail(scored, k)


def _rank_tail(scored: DataFrame, k: int) -> DataFrame:
    """(rank, doc_id, score) top-k of a (doc_id, score) stream — the
    shared collector tail (score desc, doc_id asc). orderBy+limit
    compiles to TakeOrderedAndProject: per-partition k-row heaps and a
    k-row merge, never a sort of the whole stream on one task."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "score")
    )


def _probe(
    spark: SparkSession, index_dir: str, terms: list[str], n_partitions: int | None = None
) -> tuple[dict, dict[str, dict], tuple] | None:
    """(stats, dictionary info, (tomb_bc, tomb_over)) — the driver-side
    state a BM25 query starts from; None when no term is indexed (no
    tombstone fetch then)."""
    stats = load_stats(index_dir)
    if n_partitions is None:
        n_partitions = int(stats.get("n_partitions", INDEX_PARTITIONS))
    info = probe_dictionary(spark, index_dir, terms, n_partitions)
    if not info:
        return None
    return stats, info, _tombstones(spark, index_dir)


def _tombstones(spark: SparkSession, index_dir: str):
    """(broadcast-of-sorted-ids | None, over-cap DataFrame | None) — the two
    executor forms of the store's tombstone set (operators/deletes.py)."""
    from .deletes import tombstone_state

    tomb = tombstone_state(spark, index_dir)
    if tomb is None:
        return None, None
    if isinstance(tomb, np.ndarray):
        if tomb.size == 0:
            return None, None
        return spark.sparkContext.broadcast(tomb), None
    return None, tomb


def _impact_ok(stats: dict, k: int, k1: float, b: float) -> bool:
    """True when the dictionary's stored kth_tfnorm values are valid θ
    sources for this query: built under the SAME k1/b/avgdl (exact float
    equality — same build wrote both), and the stored k is ≥ the query k
    (the k0-th largest lower-bounds the k-th largest for k ≤ k0). A
    streaming delta rewrites stats.json's avgdl, which breaks the equality
    and auto-falls back to a computed θ."""
    imp = stats.get("impact")
    return (
        imp is not None
        and k <= int(imp["k"])
        and k1 == float(imp["k1"])
        and b == float(imp["b"])
        and float(stats["avgdl"]) == float(imp["avgdl"])
    )


def _batch_thetas(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, list[str]],
    info: dict[str, dict],
    idf: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    stats: dict | None = None,
    tomb_bc=None,
    scope_bc=None,
) -> dict[int, float]:
    """Per-query pruning thresholds θ_q — the one θ rule of every BM25
    top-k that reaches Spark, single queries included (a batch of one).

    Each query's θ comes from its rarest matched term (highest idf ⇒
    smallest posting list AND largest single-term bound): single-term
    scores lower-bound total scores, so any lower bound on that term's
    k-th best single-term score is a valid (conservative) θ. Per term,
    the first source that applies:

      1. the stored kth_tfnorm the dictionary probe already carries, when
         _impact_ok holds and there are no tombstones (stored values
         counted docs that are now deleted) and no scope (they counted
         docs outside it): no read at all;
      2. the exact k-th best over the term's live, in-scope postings,
         read on the driver (_read_partitions), when Σdf of the batch's
         remaining θ terms ≤ DRIVER_TOPK_MAX_DF — one gate for the batch,
         no Spark job;
      3. otherwise _distributed_term_kth: one job, each slice's local
         k-th best, max per term (looser than the exact k-th, nothing
         posting-sized reaches the driver).

    A rounding-quantum margin (10^-SCORE_ROUND_DECIMALS) is subtracted so a
    pruned doc can never tie the k-th kept doc after 6-decimal rounding and
    win the ascending-doc_id tiebreak — keeps pruned output bit-identical
    to the exhaustive path."""
    best_term = {}
    for qid, ts in queries.items():
        m = [t for t in ts if t in info]
        if m:
            best_term[qid] = max(m, key=lambda t: idf[t])
    need = sorted(set(best_term.values()))
    if not need:
        return {}
    term_kth: dict[str, float] = {}
    if tomb_bc is None and scope_bc is None and stats is not None and _impact_ok(stats, k, k1, b):
        for t in need:
            v = info[t].get("kth_tfnorm")
            if v is not None:
                term_kth[t] = idf[t] * float(v)
    missing = [t for t in need if t not in term_kth]
    if missing and sum(int(info[t]["df"]) for t in missing) <= DRIVER_TOPK_MAX_DF:
        pids = sorted({info[t]["partition_id"] for t in missing})
        rows = _read_partitions(index_dir, "segments", pids, missing, _BLOB_SCHEMA)
        blobs: dict[str, list[bytes]] = {}
        for term, blob in zip(rows.column("term").to_pylist(), rows.column("blob").to_pylist()):
            blobs.setdefault(term, []).append(blob)
        tomb = None if tomb_bc is None else tomb_bc.value
        scope = None if scope_bc is None else scope_bc.value
        for t, bl in blobs.items():
            kth = _term_kth(bl, idf[t], k, k1, b, avgdl, tomb, scope)
            if kth is not None:
                term_kth[t] = kth
    elif missing:
        term_kth.update(
            _distributed_term_kth(
                spark, index_dir, missing, info, idf, k, k1, b, avgdl,
                tomb_bc=tomb_bc, scope_bc=scope_bc,
            )
        )
    quantum = 10.0 ** (-SCORE_ROUND_DECIMALS)
    return {
        qid: max(0.0, term_kth.get(t, 0.0) - quantum) for qid, t in best_term.items()
    }


def _term_kth(
    blobs: list[bytes], t_idf: float, k: int, k1: float, b: float, avgdl: float,
    tomb: np.ndarray | None = None, scope: np.ndarray | None = None,
) -> float | None:
    """The k-th best single-term score over the live, in-scope postings of
    `blobs` (one term's slices), None when fewer than k remain."""
    scores = []
    for blob in blobs:
        _docs, tfs, dls = live_postings(blob, tomb, scope)
        scores.append(
            t_idf * _tf_norm(tfs.astype(np.float64), dls.astype(np.float64), avgdl, k1, b)
        )
    sc = np.concatenate(scores) if scores else np.empty(0)
    if sc.size < k:
        return None
    return float(np.partition(sc, sc.size - k)[sc.size - k])


def _distributed_term_kth(
    spark: SparkSession,
    index_dir: str,
    need: list[str],
    info: dict[str, dict],
    idf: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    tomb_bc=None,
    scope_bc=None,
) -> dict[str, float]:
    """Per-term lower bound on the k-th best SINGLE-TERM score, computed
    distributed in ONE job: each slice contributes its local k-th best,
    groupBy.max takes the tightest. Valid because the k-th largest of any
    subset (a slice) lower-bounds the k-th largest of the whole list. Only
    slice blobs are decoded executor-side — nothing posting-sized ever
    reaches the driver (the collect is |need| rows)."""
    pids = sorted({info[t]["partition_id"] for t in need})
    segb = (
        _segments(spark, index_dir)
        .filter(F.col("partition_id").isin(pids) & F.col("term").isin(need))
        .select("term", "blob")
    )

    def local_kth(pdf_iter):
        tomb = None if tomb_bc is None else tomb_bc.value
        scope = None if scope_bc is None else scope_bc.value
        for pdf in pdf_iter:
            terms_out, kth_out = [], []
            for term, blob in zip(pdf["term"], pdf["blob"]):
                kth = _term_kth([blob], idf[term], k, k1, b, avgdl, tomb, scope)
                if kth is not None:
                    terms_out.append(term)
                    kth_out.append(kth)
            if terms_out:
                yield pd.DataFrame({"term": terms_out, "kth": kth_out})

    rows = (
        segb.mapInPandas(local_kth, schema="term string, kth double")
        .groupBy("term")
        .agg(F.max("kth").alias("kth"))
        .collect()
    )
    return {r["term"]: float(r["kth"]) for r in rows}


@dataclasses.dataclass(frozen=True)
class _Kern:
    """The driver-built constants of the BM25 kernel (_score_slices), per
    matched term: `idf`, and `qarr` the ids of the queries using it; with
    θ pruning on, `rest` (each such query's bound on its OTHER terms) and
    `theta` (its θ), aligned with `qarr`, and `sketch` = (qt_mat,
    per-term sketches, per-term qt_mat rows, doc-id span) when the
    doc-range sketches are on. `tomb`/`scope` are broadcasts of sorted
    doc-id arrays, or None; `out_rows` is the output chunk size, read on
    the driver. Computed once so the hot loop does no dict lookup per
    posting."""

    idf: dict[str, float]
    qarr: dict[str, np.ndarray]
    avgdl: float
    k1: float
    b: float
    out_rows: int
    tomb: object = None
    scope: object = None
    rest: dict[str, np.ndarray] | None = None
    theta: dict[str, np.ndarray] | None = None
    sketch: tuple | None = None


def _kern(
    queries: dict[int, list[str]], info: dict[str, dict], stats: dict,
    k1: float, b: float, tomb_bc=None, scope_bc=None,
) -> _Kern:
    """The kernel constants without θ: every live, in-scope posting of a
    query's terms scores for that query."""
    n = float(stats["n_docs"])
    return _Kern(
        idf={t: _idf(float(v["df"]), n) for t, v in info.items()},
        qarr={
            t: np.asarray([qid for qid, ts in queries.items() if t in set(ts)], dtype=np.int32)
            for t in info
        },
        avgdl=float(stats["avgdl"]),
        k1=k1,
        b=b,
        out_rows=_OUT_CHUNK_ROWS,
        tomb=tomb_bc,
        scope=scope_bc,
    )


def _score_slices(pdf_iter, kern: _Kern):
    """The BM25 kernel, over (term, blob[, block_max]) slice rows: decode
    each blob once, mask tombstones and the scope, score exact BM25
    partials and emit (query_id, doc_id, partial) for every query using
    the term. The Spark placement is mapInPandas(partial(_score_slices,
    kern=…)) (_bm25_scored); the driver placement calls it in-process on
    the _read_partitions rows (_topk_driver).

    With θ (kern.theta) a block is skipped when its bound plus a query's
    rest bound is below that query's θ for every query using the term,
    and a posting is dropped for a query when its score plus the rest
    bound is below θ — per doc-range bucket with sketches. Without θ
    block_max is not read."""
    tomb = None if kern.tomb is None else kern.tomb.value
    scope = None if kern.scope is None else kern.scope.value
    avgdl, k1, b = kern.avgdl, kern.k1, kern.b
    qids_out, docs_out, scores_out, n_out = [], [], [], 0

    def flush():
        return pd.DataFrame(
            {
                "query_id": np.concatenate(qids_out),
                "doc_id": np.concatenate(docs_out),
                "partial": np.concatenate(scores_out),
            }
        )

    for pdf in pdf_iter:
        bms = itertools.repeat(None) if kern.theta is None else pdf["block_max"]
        for term, blob, bm in zip(pdf["term"], pdf["blob"], bms):
            qarr, t_idf = kern.qarr[term], kern.idf[term]
            blocks = None
            if kern.theta is not None:
                ru, th = kern.rest[term], kern.theta[term]
                if bm is not None and len(bm) > 0:
                    # union block skip: keep a block iff it survives for at
                    # least one query using this term — one broadcasted
                    # comparison over the (qid, block) grid
                    bmax = np.asarray(
                        [(e["max_tf"], e["min_dl"]) for e in bm], dtype=np.float64
                    )
                    blk_ub = t_idf * _tf_norm(bmax[:, 0], bmax[:, 1], avgdl, k1, b)
                    blocks = ((blk_ub[None, :] + ru[:, None]) >= th[:, None]).any(axis=0)
            doc_ids, tfs, dls = live_postings(blob, tomb, scope, blocks)
            if doc_ids.size == 0:
                continue
            scores = t_idf * _tf_norm(
                tfs.astype(np.float64), dls.astype(np.float64), avgdl, k1, b
            )
            if kern.sketch is not None:
                qt_mat, term_sk, term_qrows, span = kern.sketch
                n_buckets = qt_mat.shape[1]
                buck = np.minimum(
                    (doc_ids.astype(np.float64) / span * n_buckets).astype(np.int64),
                    n_buckets - 1,
                )
                sk_t, qrows = term_sk[term], term_qrows[term]
            # Vectorized per-query masking: scores + rest[q] >= θ_q as one
            # broadcasted comparison per qid-chunk (θ=0 rows pass: idf ≥ 0
            # so scores ≥ 0). Chunked so the (qids × postings) temp stays
            # ≤ ~32 MB at 1,000-query batches. With sketches the rest bound
            # is per (query, doc-range bucket): (qt_mat[row] − sk_t)[bucket]
            # — strictly ≤ the scalar rest, so more postings die before
            # the shuffle. Without θ every posting scores for every query.
            step = max(1, _QID_CHUNK_ELEMS // doc_ids.size)
            for lo in range(0, qarr.size, step):
                qs = qarr[lo : lo + step]
                if kern.theta is None:
                    q_o = np.repeat(qs, doc_ids.size)
                    d_o, s_o = np.tile(doc_ids, qs.size), np.tile(scores, qs.size)
                else:
                    if kern.sketch is not None:
                        rest_chunk = qt_mat[qrows[lo : lo + step]] - sk_t[None, :]
                        m = (scores[None, :] + rest_chunk[:, buck]) >= th[lo : lo + step, None]
                    else:
                        m = (scores[None, :] + ru[lo : lo + step, None]) >= th[lo : lo + step, None]
                    qi, pi = np.nonzero(m)
                    q_o, d_o, s_o = qs[qi], doc_ids[pi], scores[pi]
                if q_o.size:
                    qids_out.append(q_o)
                    docs_out.append(d_o)
                    scores_out.append(s_o)
                    n_out += q_o.size
                if n_out >= kern.out_rows:
                    yield flush()
                    qids_out, docs_out, scores_out, n_out = [], [], [], 0
    if docs_out:
        yield flush()


def _bm25_scored(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, list[str]],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_partitions: int | None = None,
    prune: bool = True,
    sketch: bool | None = None,
    scope: "np.ndarray | DataFrame | None" = None,
    probed: tuple | None = None,
) -> DataFrame | None:
    """(query_id, doc_id, score) of every live doc a query's pruned scan
    keeps — the one BM25 scorer. topk_segments_multi adds a per-query rank
    window, topk_segments' Spark branch runs it as a batch of one with a
    TakeOrderedAndProject tail, and _exact_scored_matches runs it with
    prune=False. None when no query term is indexed.

    One partition+term-pruned segment scan for the union of the batch's
    terms; the BM25 kernel (_score_slices, in mapInPandas) decodes each
    slice once, masks tombstones and the scope, scores exact BM25
    partials and emits (query_id, doc_id, partial) for every query using
    the term; groupBy(query_id, doc_id).sum folds them.

    With prune=True (and no over-cap tombstones or DataFrame scope — a θ
    over a superset of the live/in-scope docs is not a lower bound) the
    batch's θ_q come from _batch_thetas and the kernel drops a block when
    its bound plus the rest of the query's bound is below θ_q for every
    query using the term, and a posting when its score plus that rest is
    below θ_q: a dropped posting's doc totals < θ_q ≤ the true k-th best,
    so every top-k doc keeps its exact sum (tested bit-identical to
    prune=False). Scores of docs outside a query's top-k may be partial.

    sketch (None = auto at total_df ≥ SKETCH_MIN_DF) adds the doc-range
    impact sketches: the metadata-only _term_impact_sketch job runs ONCE
    for the union of matched terms — amortized over the whole batch — and
    tightens (a) every per-(term, query) rest bound from the idf·(k1+1)
    tf→∞ corner down to the terms' true max block bounds and (b) the
    per-posting mask down to the OTHER-terms bound in the posting's
    doc-range bucket, so a term's postings die wherever its co-query terms
    are weak or absent. At 64M docs the un-sketched batch masks let nearly
    everything through and the groupBy(query_id, doc_id) shuffle dominates
    (measured 4.2× slower than 10 sequential latency queries).

    `scope` applies to every query of the batch: a sorted int64 array is
    broadcast and masked kernel-side (member_mask), θ then counts only
    in-scope postings (the stored kth_tfnorm shortcut is skipped); a
    (doc_id) DataFrame semi-joins the partials with θ off. `probed` is
    _probe's result when the caller already has it."""
    if probed is None:
        probed = _probe(
            spark, index_dir, sorted({t for ts in queries.values() for t in ts}), n_partitions
        )
        if probed is None:
            return None
    stats, info, (tomb_bc, tomb_over) = probed
    scope_bc = scope_over = None
    if isinstance(scope, DataFrame):
        scope_over = scope.select("doc_id")
    elif scope is not None:
        scope_bc = spark.sparkContext.broadcast(scope)
    kern = _kern(queries, info, stats, k1, b, tomb_bc, scope_bc)
    matched, idf, avgdl = sorted(info), kern.idf, kern.avgdl
    total_df = sum(info[t]["df"] for t in matched)
    thetas: dict[int, float] = {}
    if prune and tomb_over is None and scope_over is None and total_df > 50 * k:
        thetas = _batch_thetas(
            spark, index_dir, queries, info, idf, k, k1, b, avgdl, stats,
            tomb_bc=tomb_bc, scope_bc=scope_bc,
        )
    if thetas:
        term_queries = {t: [int(q) for q in kern.qarr[t]] for t in matched}
        global_ub = {t: idf[t] * (k1 + 1.0) for t in matched}
        # doc-range sketches (see docstring): one metadata job for the union
        if sketch is None:
            sketch = total_df >= SKETCH_MIN_DF
        sk = None
        if sketch and len(matched) > 1:
            sketches = _term_impact_sketch(
                spark, index_dir, info, idf, avgdl, k1, b, int(stats["max_doc_id"])
            )
            global_ub = {t: min(global_ub[t], sketches[t][0]) for t in matched}
            # ONE (n_queries × g) bucket-total matrix + per-term (g,)
            # sketches + per-term row indices into the matrix — O((Q+T)·g)
            # bytes instead of O(Σ_t n_q_t · g) for per-(term, query) rest
            # matrices; the kernel rebuilds rest-per-bucket as
            # qt_mat[row] − sk[term]
            qtot = {
                qid: np.sum([sketches[t][1] for t in ts if t in info], axis=0)
                for qid, ts in queries.items()
                if any(t in info for t in ts)
            }
            qrow = {qid: i for i, qid in enumerate(sorted(qtot))}
            sk = (
                np.stack([qtot[qid] for qid in sorted(qtot)]),
                {t: sketches[t][1] for t in matched},
                {t: np.asarray([qrow[q] for q in term_queries[t]], dtype=np.int32) for t in matched},
                float(int(stats["max_doc_id"]) + 1),
            )
        # rest[t][i]: the most the OTHER terms of query qarr[t][i] can add
        # (after the sketch tightening of global_ub); theta[t][i]: its θ
        kern = dataclasses.replace(
            kern,
            rest={
                t: np.asarray(
                    [
                        sum(global_ub[t2] for t2 in set(queries[q]) if t2 in info and t2 != t)
                        for q in term_queries[t]
                    ],
                    dtype=np.float64,
                )
                for t in matched
            },
            theta={
                t: np.asarray([thetas.get(q, 0.0) for q in term_queries[t]], dtype=np.float64)
                for t in matched
            },
            sketch=sk,
        )

    pids = sorted({info[t]["partition_id"] for t in matched})
    seg = _segments(spark, index_dir).filter(
        F.col("partition_id").isin(pids) & F.col("term").isin(matched)
    )
    seg = _spread_slices(seg, spark, total_df)
    partials = seg.mapInPandas(
        functools.partial(_score_slices, kern=kern),
        schema="query_id int, doc_id long, partial double",
    )
    if tomb_over is not None:  # over-cap tombstones: distributed anti-join
        partials = partials.join(tomb_over, "doc_id", "left_anti")
    if scope_over is not None:  # over-cap scope: distributed semi-join
        partials = partials.join(scope_over, "doc_id", "left_semi")
    return partials.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("partial"), SCORE_ROUND_DECIMALS).alias("score")
    )


def topk_segments_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, list[str]],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_partitions: int | None = None,
    prune: bool = True,
    sketch: bool | None = None,
) -> DataFrame:
    """Batch executor: (query_id, rank, doc_id, score) for many queries in
    ONE plan — _bm25_scored (one dictionary probe for the union of terms,
    one pruned segment scan; its docstring has the θ/sketch contract) plus
    a per-query rank window. prune=False scores exhaustively; prune=True
    is bit-identical to it (tested)."""
    scored = _bm25_scored(
        spark, index_dir, queries, k, k1, b, n_partitions, prune=prune, sketch=sketch
    )
    if scored is None:
        return _local_frame(spark, [], "query_id int, rank int, doc_id long, score double")

    # Per-partition local top-k BEFORE the per-query window. The window must
    # repartition by query_id — at most n_queries partitions, a parallelism
    # cliff that sorts every scored doc on a handful of tasks no matter how
    # many cores the cluster has. The global top-k per query is a subset of
    # the union of per-partition top-ks (same (score desc, doc_id asc)
    # order), so cutting each agg partition to k rows per query first is
    # exact and shrinks the window's input from O(matched docs) to
    # ≤ n_partitions · n_queries · k rows.
    def local_topk(pdf_iter):
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(
                ["query_id", "score", "doc_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            yield pdf.groupby("query_id", sort=False).head(k)

    pre = scored.mapInPandas(local_topk, schema="query_id int, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _topk_driver(
    spark: SparkSession,
    index_dir: str,
    info: dict[str, dict],
    kern: _Kern,
    k: int,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """The driver placement of the BM25 kernel, for small candidate sets:
    read the pruned blobs on the driver (_read_partitions), run
    _score_slices in-process (kern without θ), fold the partials per doc
    and rank (_topk_frame) — a LocalRelation, no Spark job at all."""
    matched = sorted(info)
    pids = sorted({info[t]["partition_id"] for t in matched})
    rows = _read_partitions(index_dir, "segments", pids, matched, _BLOB_SCHEMA)
    parts = list(_score_slices([rows.to_pandas()], kern))
    if not parts:
        return _local_frame(spark, [], _TOPK_SCHEMA)
    docs = np.concatenate([p["doc_id"].to_numpy() for p in parts])
    uniq, inv = np.unique(docs, return_inverse=True)
    totals = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(totals, inv, np.concatenate([p["partial"].to_numpy() for p in parts]))
    return _topk_frame(spark, uniq, totals, k, after)


def _topk_frame(
    spark: SparkSession,
    docs: np.ndarray,
    raw: np.ndarray,
    k: int,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """(rank, doc_id, score) of the k best driver-side (doc, unrounded
    score) pairs as a LocalRelation: scores rounded HALF_UP as F.round
    rounds them, (score desc, doc_id asc) order — the same tiebreak as the
    Window path; `after` keeps only docs strictly after that cursor."""
    docs, scores = _halfup_topk(docs, raw, k, after)
    out = [(i + 1, int(d), float(s)) for i, (d, s) in enumerate(zip(docs, scores))]
    return _local_frame(spark, out, _TOPK_SCHEMA)


_QUANTUM = 10.0 ** (-SCORE_ROUND_DECIMALS)


def _halfup(vals: np.ndarray) -> np.ndarray:
    """vals rounded to SCORE_ROUND_DECIMALS the way Spark's F.round rounds
    a double: HALF_UP on its decimal repr. np.round rounds the binary
    value half-to-even (np.round(2.0000025, 6) = 2.000002, F.round gives
    2.000003). One Decimal per DISTINCT value: top-k margins are
    tie-heavy."""
    from decimal import ROUND_HALF_UP, Decimal

    quant = Decimal(1).scaleb(-SCORE_ROUND_DECIMALS)
    uniq, inv = np.unique(vals, return_inverse=True)
    corr = np.array(
        [float(Decimal(repr(float(v))).quantize(quant, ROUND_HALF_UP)) for v in uniq],
        dtype=np.float64,
    )
    return corr[inv]


def _halfup_topk(
    docs: np.ndarray,
    raw: np.ndarray,
    k: int,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, HALF_UP scores) of the k best of (docs, unrounded raw) in
    (score desc, doc_id asc) order, strictly after the `after` = (score,
    doc_id) cursor when given.

    Decimal rounding runs on the O(k) margin candidates only: np.round
    and HALF_UP differ by at most one quantum, so a doc whose np.round
    score is more than 1.5 quanta below the k-th best np.round score is
    below k docs under HALF_UP too; likewise only docs within 1.5 quanta
    of the cursor score need their HALF_UP score to apply the cursor."""
    docs = np.asarray(docs)
    raw = np.asarray(raw, dtype=np.float64)
    margin = 1.5 * _QUANTUM
    prelim = np.round(raw, SCORE_ROUND_DECIMALS)
    if after is not None:
        s_a, d_a = float(after[0]), int(after[1])
        keep = prelim < s_a
        band = np.flatnonzero(np.abs(prelim - s_a) <= margin)
        hu = _halfup(raw[band])
        keep[band] = (hu < s_a) | ((hu == s_a) & (docs[band] > d_a))
        docs, raw, prelim = docs[keep], raw[keep], prelim[keep]
    if 0 < k < docs.size:
        kth = np.partition(prelim, docs.size - k)[docs.size - k]
        cand = np.flatnonzero(prelim >= kth - margin)
        docs, raw = docs[cand], raw[cand]
    scores = _halfup(raw)
    order = np.lexsort((docs, -scores))[: int(k)]
    return docs[order], scores[order]


# ---------------------------------------------------------------------------
# multi-term query rewrite: prefix / wildcard expansion over the dictionary
# ---------------------------------------------------------------------------

# Lucene's BooleanQuery.maxClauseCount spirit: bound how many terms a
# MultiTermQuery may rewrite into. Selection keeps the highest-df
# expansions (ties broken by term asc) — the terms that dominate the
# disjunction's recall — deterministically, so the DuckDB oracle can
# reproduce the exact expansion.
MAX_EXPANSIONS = 64


def _top_df_terms(base: DataFrame, max_expansions: int) -> list[str]:
    """Highest-df terms of a filtered dictionary frame, df desc / term asc,
    bounded by max_expansions. One job over the vocabulary-sized cached
    dictionary — postings are never touched by expansion."""
    rows = (
        base.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
        .collect()
    )
    return sorted(r["term"] for r in rows)


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary terms starting with `prefix`, keeping the max_expansions
    highest-df ones (Lucene MultiTermQuery rewrite; new surface — the
    reference has no wildcard search).

    Scale: the scan is over the TERM DICTIONARY (_terms_df, pinned
    in executor memory), whose size follows Heaps' law — sublinear in
    corpus bytes — so at 100 TB this stays a metadata-scale in-memory
    pass. Hash partitioning can't prune a prefix predicate, but it
    doesn't need to: no posting blob is read until the bounded
    expansion feeds the partition-pruned executor."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    base = _terms_df(spark, index_dir).filter(F.col("term").startswith(prefix))
    return _top_df_terms(base, max_expansions)


def expand_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """expand_prefix for `*`-wildcard patterns (e.g. "s*m"): `*` matches
    any (possibly empty) run of characters, everything else is literal,
    anchored at both ends. The literal head before the first `*` is
    applied as a startswith pre-filter so the regex runs only on the
    narrowed dictionary slice (the classic leading-wildcard caveat:
    patterns starting with `*` scan the whole vocabulary — still
    metadata-scale, but flagged here)."""
    import re as _re

    if not pattern.replace("*", ""):
        raise ValueError("wildcard pattern needs at least one literal char")
    head = pattern.split("*", 1)[0]
    rx = "^" + ".*".join(_re.escape(p) for p in pattern.split("*")) + "$"
    base = _terms_df(spark, index_dir)
    if head:
        base = base.filter(F.col("term").startswith(head))
    return _top_df_terms(base.filter(F.col("term").rlike(rx)), max_expansions)


def expand_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary terms whose ENTIRE text matches `pattern` (Lucene
    RegexpQuery: anchoring is implicit — the regex must consume the whole
    term), keeping the max_expansions highest-df expansions like the other
    MultiTermQuery families. The longest literal head of the pattern (the
    run of plain characters before the first metacharacter, excluding a
    character whose occurrence the NEXT char quantifies) is applied as a
    startswith pre-filter — the same common-prefix extraction Lucene pulls
    from the compiled automaton — so the regex kernel runs only on the
    narrowed dictionary slice.

    Scale: identical to expand_prefix/expand_wildcard — one pass over the
    RAM-pinned, Heaps'-law-sized vocabulary; postings are never read by
    expansion. Patterns stick to the portable subset (classes, `.` `*`
    `+` `?` `|`, grouping) shared by java.util.regex (executor side) and
    RE2 (oracle side)."""
    import re as _re

    if not pattern:
        raise ValueError("regexp pattern must be non-empty")
    _re.compile(pattern)  # surface bad patterns at call time, not in tasks
    meta = set(".[](){}|\\^$*+?")
    head_chars: list[str] = []
    for i, ch in enumerate(pattern):
        nxt = pattern[i + 1] if i + 1 < len(pattern) else ""
        if ch in meta or nxt in "*+?{|":
            break
        head_chars.append(ch)
    base = _terms_df(spark, index_dir)
    if head_chars:
        base = base.filter(F.col("term").startswith("".join(head_chars)))
    rx = "^(?:" + pattern + ")$"
    return _top_df_terms(base.filter(F.col("term").rlike(rx)), max_expansions)


def expand_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary terms within Levenshtein distance ≤ max_edits of `term`
    (Lucene FuzzyQuery rewrite; new surface — the reference has no fuzzy
    search). Selection keeps the CLOSEST expansions first (distance asc,
    then df desc, then term asc — Lucene's closeness-then-frequency
    blending made deterministic), bounded by max_expansions so the DuckDB
    oracle can reproduce the exact expansion. `prefix_length` pins the
    first N chars exact (Lucene FuzzyQuery.prefixLength), shrinking the
    dictionary slice the edit-distance kernel runs over.

    Scale: same story as expand_prefix — the scan is over the in-memory
    vocabulary-sized dictionary, never postings, and the length band
    ±max_edits plus the optional prefix pre-filter prune before the
    O(len²) levenshtein kernel runs. Spark's bounded 3-arg levenshtein
    early-exits rows whose distance exceeds max_edits (returns -1)."""
    t = term.lower()
    if not t:
        raise ValueError("fuzzy term must be non-empty")
    if max_edits < 1:
        raise ValueError("max_edits must be ≥ 1 (0 is an exact term query)")
    base = _terms_df(spark, index_dir)
    if prefix_length > 0:
        base = base.filter(F.col("term").startswith(t[:prefix_length]))
    # cheap necessary condition before the edit-distance kernel
    base = base.filter(
        F.abs(F.length("term") - F.lit(len(t))) <= int(max_edits)
    )
    rows = (
        base.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "dist", F.levenshtein(F.col("term"), F.lit(t), int(max_edits))
        )
        .filter(F.col("dist") >= 0)  # 3-arg levenshtein → -1 over threshold
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(max_expansions))
        .collect()
    )
    return sorted(r["term"] for r in rows)


def complete_terms(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
) -> DataFrame:
    """Completion suggester (Lucene suggest module / ES completion):
    dictionary terms starting with `prefix`, most-frequent first —
    (rank, term, df), ordered (df desc, term asc), top-k. The same
    RAM-pinned dictionary pass as expand_prefix, but returning the
    ranked frame instead of a bounded expansion list."""
    if not prefix:
        raise ValueError("completion prefix must be non-empty")
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return (
        _terms_df(spark, index_dir)
        .filter(F.col("term").startswith(prefix.lower()))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("rank", "term", "df")
    )


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 2,
    k: int = 5,
    prefix_length: int = 0,
) -> DataFrame:
    """Did-you-mean suggestions (Lucene DirectSpellChecker analog): the
    dictionary terms within Levenshtein distance ≤ max_edits of `term`,
    EXCLUDING the exact term, ranked closest-first then by collection
    frequency (dist asc, df desc, term asc — the same deterministic
    blending as expand_fuzzy) → (rank, suggestion, dist, df) top-k.

    Scale: one pass over the RAM-pinned vocabulary-sized dictionary with
    the ±max_edits length band (and optional exact-prefix pre-filter)
    applied before the O(len²) edit-distance kernel; postings are never
    read. The rank window orders a ≤ vocabulary-sized, already-filtered
    set — at any corpus scale this is metadata work."""
    t = term.lower()
    if not t:
        raise ValueError("suggest term must be non-empty")
    if max_edits < 1:
        raise ValueError("max_edits must be ≥ 1")
    base = _terms_df(spark, index_dir)
    if prefix_length > 0:
        base = base.filter(F.col("term").startswith(t[:prefix_length]))
    base = base.filter(
        F.abs(F.length("term") - F.lit(len(t))) <= int(max_edits)
    )
    w = Window.orderBy(F.asc("dist"), F.desc("df"), F.asc("suggestion"))
    return (
        base.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .withColumn(
            "dist",
            F.levenshtein(F.col("term"), F.lit(t), int(max_edits)).cast("int"),
        )
        .filter((F.col("dist") >= 1) & (F.col("term") != F.lit(t)))
        .withColumnRenamed("term", "suggestion")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("rank", "suggestion", "dist", "df")
    )


def fuzzy_topk(
    spark: SparkSession,
    index_dir: str,
    term: str,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
    **kw,
) -> DataFrame:
    """(rank, doc_id, score) for a fuzzy query: rewrite to the bounded
    edit-distance expansion's disjunction and run the pruned segment
    executor — same BooleanQuery(SHOULD) rewrite contract as
    prefix_topk/wildcard_topk, so all three MultiTermQuery families
    share one scoring definition and one executor."""
    terms = expand_fuzzy(
        spark, index_dir, term, max_edits, prefix_length, max_expansions
    )
    if not terms:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    return topk_segments(spark, index_dir, terms, k=k, k1=k1, b=b, **kw)


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    **kw,
) -> DataFrame:
    """(rank, doc_id, score) for a prefix query: rewrite to the bounded
    expansion's disjunction and run the pruned segment executor —
    score(d) = Σ_{t ∈ expansion} BM25_t(d), i.e. Lucene's
    BooleanQuery(SHOULD) rewrite. Inherits every executor optimization
    (dictionary probe, partition pruning, θ / block-max / sketch
    pruning, driver short-circuit) unchanged."""
    terms = expand_prefix(spark, index_dir, prefix, max_expansions)
    if not terms:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    return topk_segments(spark, index_dir, terms, k=k, k1=k1, b=b, **kw)


def wildcard_topk(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    **kw,
) -> DataFrame:
    """prefix_topk with `*`-wildcard expansion."""
    terms = expand_wildcard(spark, index_dir, pattern, max_expansions)
    if not terms:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    return topk_segments(spark, index_dir, terms, k=k, k1=k1, b=b, **kw)


def regexp_topk(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    **kw,
) -> DataFrame:
    """prefix_topk with full-term regexp expansion (Lucene RegexpQuery):
    the fourth MultiTermQuery family through the same bounded rewrite →
    pruned disjunctive executor contract."""
    terms = expand_regexp(spark, index_dir, pattern, max_expansions)
    if not terms:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    return topk_segments(spark, index_dir, terms, k=k, k1=k1, b=b, **kw)


def synonym_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene SynonymQuery: score a synonym set as if it were ONE term —
    per-doc tf is the SUM of the synonyms' tfs and the blended document
    frequency is the MAX of their dfs (Lucene SynonymQuery/SynonymScorer's
    blended statistics), then BM25 is applied ONCE. This is NOT the
    disjunction the MultiTermQuery families rewrite to: tf-normalization
    is nonlinear, so Σ score(tf_i) ≠ score(Σ tf_i) — a synonym set must
    fold tfs before scoring, which no per-term-partial executor expresses.

    Plan: dictionary probe (metadata) → ONE partition+predicate-pruned
    segment scan emitting (doc_id, tf, doc_len) per live posting → ONE
    groupBy(doc_id) exchange summing tfs → constant-idf scoring →
    TakeOrderedAndProject. Tombstones mask kernel-side (broadcast) or via
    anti-join (over-cap), like every other executor."""
    from .bm25 import idf_expr, tf_norm_expr

    stats = load_stats(index_dir)
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])
    qterms = sorted({t.lower() for t in terms})
    if not qterms:
        raise ValueError("synonym set must be non-empty")
    info = probe_dictionary(spark, index_dir, qterms, int(stats["n_partitions"]))
    present = sorted(t for t in qterms if t in info)
    empty = _local_frame(spark, [], "rank int, doc_id long, score double")
    if not present:
        return empty
    df_blend = max(float(info[t]["df"]) for t in present)
    tomb_bc, tomb_over = _tombstones(spark, index_dir)

    pids = sorted({info[t]["partition_id"] for t in present})
    seg = _segments(spark, index_dir).filter(
        F.col("partition_id").isin(pids) & F.col("term").isin(present)
    )
    seg = _spread_slices(seg, spark, sum(int(info[t]["df"]) for t in present))

    def emit(pdf_iter):
        tomb = None if tomb_bc is None else tomb_bc.value
        for pdf in pdf_iter:
            od, ot, ol = [], [], []
            for blob in pdf["blob"]:
                doc_ids, tfs, dls = live_postings(blob, tomb)
                if doc_ids.size == 0:
                    continue
                od.append(doc_ids)
                ot.append(tfs.astype(np.int64))
                ol.append(dls.astype(np.int64))
            if od:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(od),
                        "tf": np.concatenate(ot),
                        "doc_len": np.concatenate(ol),
                    }
                )

    stream = seg.mapInPandas(emit, schema="doc_id long, tf long, doc_len long")
    if tomb_over is not None:
        stream = stream.join(tomb_over, "doc_id", "left_anti")
    scored = (
        stream.groupBy("doc_id")
        .agg(F.sum("tf").alias("tf_syn"), F.max("doc_len").alias("doc_len"))
        .select(
            "doc_id",
            F.round(
                idf_expr(F.lit(df_blend), F.lit(n_docs))
                * tf_norm_expr(
                    F.col("tf_syn").cast("double"),
                    F.col("doc_len").cast("double"),
                    F.lit(avgdl),
                    k1,
                    b,
                ),
                SCORE_ROUND_DECIMALS,
            ).alias("score"),
        )
    )
    return _rank_tail(scored, k)


def scoped_topk_segments(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    predicate: str,
    k: int = DEFAULT_TOP_K,
    **kw,
) -> DataFrame:
    """Metadata-scoped BM25 top-k — Lucene's BooleanQuery FILTER clause:
    `predicate` is a SQL expression over the store's resident doc_meta
    columns (doc_id, doc_len, repo/path/lang when the corpus carried
    them, content_sha256); only matching docs rank, and they keep their
    GLOBAL (unscoped) scores because idf/df/avgdl are collection-level —
    the scope restricts candidates, never re-weights them (tested).

    Scale: doc_meta is one row per doc — the scan is partition-pruned by
    parquet min/max on the predicate columns and never touches postings.
    Scopes ≤ TOMBSTONE_BROADCAST_MAX ids broadcast for kernel-side
    member_mask; bigger scopes (e.g. lang='py' over 10^12 files) ride as
    a DataFrame semi-join on the partial stream — no driver collect at
    any size."""
    meta = (
        _doc_meta(spark, index_dir)
        .filter(predicate)
        .select("doc_id")
    )
    n_scope = meta.count()
    if n_scope == 0:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    if n_scope <= TOMBSTONE_BROADCAST_MAX:
        scope = np.fromiter(
            (r["doc_id"] for r in meta.collect()), dtype=np.int64, count=n_scope
        )
    else:
        scope = meta
    return topk_segments(spark, index_dir, terms, k=k, scope=scope, **kw)


def topk_segments_conjunctive(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    rare_filter: bool = True,
) -> DataFrame:
    """MUST semantics (Lucene BooleanQuery AND) over the segment store:
    only docs containing EVERY query term are ranked; a surviving doc's
    score is the usual BM25 sum (result-identical to bm25.topk_conjunctive
    — tested).

    A Boolean query with one MUST term clause per distinct term
    (boolean.boolean_topk, which caps a query at 1,024 scoring clauses
    and raises ValueError above it): a small one runs on the driver with
    no Spark job. On the Spark placement its rare-MUST candidate mask is
    the sound conjunctive prune — θ/block-max pruning is not: θ lower-bounds
    the DISJUNCTIVE k-th best, and the conjunctive k-th best can sit
    arbitrarily below it. A term absent from the dictionary returns empty
    with no scan job; so does an empty term list."""
    from .boolean import MUST, Clause, boolean_topk

    qterms = sorted(set(terms))
    if not qterms:
        return _local_frame(spark, [], _TOPK_SCHEMA)
    return boolean_topk(
        spark, index_dir, [Clause(MUST, "term", (t,)) for t in qterms],
        k=k, k1=k1, b=b, rare_filter=rare_filter,
    )


def explain_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene `IndexSearcher.explain()` analog: the BM25 score
    DECOMPOSITION of the top-k hits — one row per (hit, matched term)
    with the term frequency, document length, document frequency, idf
    and the term's partial contribution, alongside the hit's rank and
    total score. Partials sum (pre-rounding) to the hit's score, so the
    output is an auditable proof of each ranking position.

    Plan shape: the ranking comes from topk_segments unchanged (any
    pruning path — explain never alters ranks, tested); the decomposition
    re-reads only the matched terms' slices through the same
    partition-pruned scan with a k-doc broadcast member mask, emitting
    O(k · n_terms) rows. The (term, df, idf) frame is vocabulary-probe
    sized and the ranking is k rows — both join as broadcasts, so the
    second pass adds one pruned scan and zero exchanges at any corpus
    size."""
    stats = load_stats(index_dir)
    n_partitions = int(stats.get("n_partitions", INDEX_PARTITIONS))
    n = float(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    schema = (
        "rank int, doc_id long, score double, term string, df long, "
        "idf double, tf int, doc_len int, partial double"
    )
    top_rows = topk_segments(spark, index_dir, terms, k=k, k1=k1, b=b).collect()
    if not top_rows:
        return _local_frame(spark, [], schema)
    info = probe_dictionary(spark, index_dir, sorted(set(terms)), n_partitions)
    matched = sorted(info)
    idf = {t: _idf(float(info[t]["df"]), n) for t in matched}
    doc_arr = np.sort(np.asarray([r["doc_id"] for r in top_rows], dtype=np.int64))
    docs_bc = spark.sparkContext.broadcast(doc_arr)

    pids = sorted({info[t]["partition_id"] for t in matched})
    seg = _segments(spark, index_dir).filter(
        F.col("partition_id").isin(pids) & F.col("term").isin(matched)
    )

    def explain_slices(pdf_iter):
        for pdf in pdf_iter:
            t_out, d_out, tf_out, dl_out = [], [], [], []
            for term, blob in zip(pdf["term"], pdf["blob"]):
                doc_ids, tfs, dls = live_postings(blob, scope=docs_bc.value)
                if doc_ids.size == 0:
                    continue
                t_out.append(np.full(doc_ids.size, term, dtype=object))
                d_out.append(doc_ids)
                tf_out.append(tfs)
                dl_out.append(dls)
            if d_out:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(t_out),
                        "doc_id": np.concatenate(d_out),
                        "tf": np.concatenate(tf_out).astype(np.int32),
                        "doc_len": np.concatenate(dl_out).astype(np.int32),
                    }
                )

    comp = seg.mapInPandas(
        explain_slices, schema="term string, doc_id long, tf int, doc_len int"
    )
    tdf = _local_frame(
        spark,
        [(t, int(info[t]["df"]), float(idf[t])) for t in matched],
        "term string, df long, idf_raw double",
    )
    topdf = _local_frame(
        spark,
        [(int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in top_rows],
        "rank int, doc_id long, score double",
    )
    # partial reproduces the kernel arithmetic: the SAME float64 idf times
    # the scalar-op-order tf_norm of _tf_norm
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl))
    )
    return (
        comp.join(F.broadcast(topdf), "doc_id")
        .join(F.broadcast(tdf), "term")
        .withColumn("partial", F.round(F.col("idf_raw") * tfn, SCORE_ROUND_DECIMALS))
        .withColumn("idf", F.round(F.col("idf_raw"), SCORE_ROUND_DECIMALS))
        .select(
            "rank", "doc_id", "score", "term", "df", "idf", "tf", "doc_len", "partial"
        )
        .orderBy("rank", "term")
    )

def _matched_docs(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    n_partitions: int | None = None,
) -> DataFrame | None:
    """(doc_id) stream of every live doc containing ANY of the terms —
    the shared front half of facet_counts / match_count: partition+term
    pruned segments scan, decode, tombstone mask; no scoring. None when
    no term is indexed."""
    stats = load_stats(index_dir)
    if n_partitions is None:
        n_partitions = int(stats.get("n_partitions", INDEX_PARTITIONS))
    info = probe_dictionary(spark, index_dir, sorted(set(terms)), n_partitions)
    matched = sorted(info)
    if not matched:
        return None
    tomb_bc, tomb_over = _tombstones(spark, index_dir)

    pids = sorted({info[t]["partition_id"] for t in matched})
    seg = _segments(spark, index_dir).filter(
        F.col("partition_id").isin(pids) & F.col("term").isin(matched)
    )
    seg = _spread_slices(seg, spark, sum(int(info[t]["df"]) for t in matched))

    def match_slices(pdf_iter):
        tomb = None if tomb_bc is None else tomb_bc.value
        for pdf in pdf_iter:
            out = []
            for blob in pdf["blob"]:
                doc_ids = live_postings(blob, tomb)[0]
                if doc_ids.size:
                    out.append(doc_ids)
            if out:
                yield pd.DataFrame({"doc_id": np.concatenate(out)})

    docs = seg.mapInPandas(match_slices, schema="doc_id long")
    if tomb_over is not None:  # over-cap tombstones: distributed anti-join
        docs = docs.join(tomb_over, "doc_id", "left_anti")
    return docs


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    facet_col: str = "lang",
    n_partitions: int | None = None,
) -> DataFrame:
    """Lucene faceting analog: hit counts per metadata value over the FULL
    match set of the disjunctive query (every doc containing ANY query
    term — not just the top-k), grouped by a doc_meta column.

    Plan shape: _matched_docs' pruned scan, one distinct on doc_id (a doc
    matching several terms counts once), a doc_id equi-join against the
    store-resident doc_meta, and a tiny groupBy(facet). The distinct +
    join shuffle on doc_id — the same keys the store's doc_meta is
    already organized by — and the facet agg is map-side combined, so at
    cluster scale this is one pruned scan plus one bounded exchange;
    nothing driver-side grows with the corpus."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return _local_frame(spark, [], f"{facet_col} string, n_docs long")
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", facet_col
    )
    return (
        docs.distinct()
        .join(meta, "doc_id")
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(facet_col)
    )


def facet_stats(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    facet_col: str = "lang",
    stats_col: str = "doc_len",
    n_partitions: int | None = None,
) -> DataFrame:
    """ES terms-aggregation WITH sub-aggregations: per facet value over
    the FULL match set, the hit count plus min/avg/max of a numeric
    doc_meta column — (facet, n_docs, min_x, avg_x, max_x), avg rounded
    to 6. Same plan as facet_counts (pruned scan → distinct → doc_meta
    join) with the stats folded into the SAME tiny facet agg — sub-aggs
    are free once the join has happened."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    empty_schema = (
        f"{facet_col} string, n_docs long, min_{stats_col} long, "
        f"avg_{stats_col} double, max_{stats_col} long"
    )
    if docs is None:
        return _local_frame(spark, [], empty_schema)
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", facet_col, stats_col
    )
    return (
        docs.distinct()
        .join(meta, "doc_id")
        .groupBy(facet_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(stats_col).cast("long").alias(f"min_{stats_col}"),
            F.round(F.avg(stats_col), 6).alias(f"avg_{stats_col}"),
            F.max(stats_col).cast("long").alias(f"max_{stats_col}"),
        )
        .orderBy(facet_col)
    )


def _foreground_overlap(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    n_partitions: int | None = None,
) -> tuple[DataFrame, int] | None:
    """((term, fg, df) for every vocabulary term but the query terms,
    n_fg) — the one foreground-overlap kernel of significant_terms and
    rare_terms. fg = |live postings(term) ∩ match set|, df = |live
    postings(term)|, n_fg = |match set| (_matched_docs' live docs). None
    when nothing matches.

    The plan is the honest one, the same as ES over doc_values: candidate
    terms are unknown up front, so the segments scan cannot
    partition-prune. The match set is collected once, capped at
    TOMBSTONE_BROADCAST_MAX + 1 ids (one job). Under the cap it is
    broadcast as a sorted array and the scan counts each blob's overlap
    kernel-side (a sorted membership test, no per-doc rows): one (term,
    fg, df) row per slice, a vocabulary-scale exchange. Above the cap the
    live (term, doc_id) postings join the distinct match set distributed
    (a left join whose match flag counts fg, so df comes from the same
    pass), as deletes.tombstone_state falls back for over-cap tombstones:
    nothing on the driver grows with the corpus.

    Under-cap tombstones mask df kernel-side; over-cap deletes are
    already out of the match set, and their residual effect on df only
    deflates lift until the next compaction purges them (conservative)."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return None
    fg = docs.distinct()
    head = fg.limit(TOMBSTONE_BROADCAST_MAX + 1).toPandas()["doc_id"].to_numpy(np.int64)
    if head.size == 0:
        return None
    tomb_bc, _tomb_over = _tombstones(spark, index_dir)
    seg = _segments(spark, index_dir).select("term", "blob")
    if head.size <= TOMBSTONE_BROADCAST_MAX:
        n_fg = int(head.size)
        fg_bc = spark.sparkContext.broadcast(np.sort(head))

        def overlap(pdf_iter):
            tomb = None if tomb_bc is None else tomb_bc.value
            for pdf in pdf_iter:
                terms_out, fg_out, df_out = [], [], []
                for term, blob in zip(pdf["term"], pdf["blob"]):
                    doc_ids = live_postings(blob, tomb)[0]
                    if doc_ids.size:
                        terms_out.append(term)
                        fg_out.append(int(np.count_nonzero(member_mask(doc_ids, fg_bc.value))))
                        df_out.append(int(doc_ids.size))
                if terms_out:
                    yield pd.DataFrame({"term": terms_out, "fg": fg_out, "df": df_out})

        per_term = (
            seg.mapInPandas(overlap, schema="term string, fg long, df long")
            .groupBy("term")
            .agg(F.sum("fg").alias("fg"), F.sum("df").alias("df"))
        )
    else:
        n_fg = int(fg.count())

        def postings(pdf_iter):
            tomb = None if tomb_bc is None else tomb_bc.value
            for pdf in pdf_iter:
                t_out, d_out = [], []
                for term, blob in zip(pdf["term"], pdf["blob"]):
                    doc_ids = live_postings(blob, tomb)[0]
                    if doc_ids.size:
                        t_out.append(np.full(doc_ids.size, term, dtype=object))
                        d_out.append(doc_ids)
                if d_out:
                    yield pd.DataFrame(
                        {"term": np.concatenate(t_out), "doc_id": np.concatenate(d_out)}
                    )

        per_term = (
            seg.mapInPandas(postings, schema="term string, doc_id long")
            .join(fg.withColumn("in_fg", F.lit(1)), "doc_id", "left")
            .groupBy("term")
            .agg(F.count("in_fg").alias("fg"), F.count(F.lit(1)).alias("df"))
        )
    qset = sorted({t.lower() for t in terms})
    return per_term.filter(~F.col("term").isin(qset)), n_fg


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    min_fg: int = 2,
    n_partitions: int | None = None,
) -> DataFrame:
    """ES significant_terms aggregation: vocabulary terms OVERREPRESENTED
    in the query's match set relative to the background corpus, ranked by
    the foreground/background lift

        score = (fg / n_fg) / (df / n_docs)

    with fg = |postings(term) ∩ match set| (live docs), df = background
    document frequency, n_fg = |match set|. Query terms themselves are
    excluded (their lift is tautological); fg < min_fg filtered (rare-
    noise guard, the ES shard_min_doc_count analog). Output
    (rank, term, fg, df, score), score rounded to 6, ties broken by
    (fg desc, term asc).

    Plan shape: the foreground-overlap kernel shared with rare_terms
    (_foreground_overlap — one full segments scan, per-term (fg, df)
    over live docs), then a vocabulary-sized filter + rank."""
    out_schema = "rank int, term string, fg long, df long, score double"
    overlap = _foreground_overlap(spark, index_dir, terms, n_partitions)
    if overlap is None:
        return _local_frame(spark, [], out_schema)
    per_term, n_fg = overlap
    n_docs = float(load_stats(index_dir)["n_docs"])
    w = Window.orderBy(F.desc("score"), F.desc("fg"), F.asc("term"))
    return (
        per_term.filter(F.col("fg") >= int(min_fg))
        .withColumn(
            "score",
            F.round(
                (F.col("fg") / F.lit(float(n_fg)))
                / (F.col("df") / F.lit(n_docs)),
                6,
            ),
        )
        .orderBy(F.desc("score"), F.desc("fg"), F.asc("term"))
        .limit(int(k))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "term", "fg", "df", "score")
    )


def match_count(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    n_partitions: int | None = None,
    approximate: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Lucene TotalHitCountCollector analog: ONE row (n_docs) — how many
    live docs contain ANY of the query terms. _matched_docs' pruned scan
    folded to a single count(DISTINCT) — no scoring, no doc_meta join.
    count_distinct is Spark's two-phase distinct aggregate (partial sets
    map-side), so the exchange carries distinct doc_ids only.

    approximate=True is the ES cardinality-aggregation analog: Spark's
    HLL++ sketch (approx_count_distinct, relative error `rsd`) replaces
    the distinct sets — the exchange then carries fixed-size sketch
    registers instead of doc_ids, the right trade when the match set
    itself is corpus-sized. Deterministic for a given input (register
    maxima are order-insensitive), error-bounded by rsd (tested), but
    engine-specific — so the graded oracle rides the exact form."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return _local_frame(spark, [(0,)], "n_docs long")
    if approximate:
        return docs.agg(
            F.approx_count_distinct("doc_id", rsd=float(rsd)).alias("n_docs")
        )
    return docs.agg(F.count_distinct("doc_id").alias("n_docs"))


def _exact_scored_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_partitions: int | None = None,
) -> DataFrame | None:
    """(doc_id, score) for EVERY live matching doc of the disjunction —
    the batch scorer with prune=False as a batch of one (same kernel as
    topk_segments, rank-identical pre-cut). Shared by the group-shaped
    collectors (collapse_topk, top_hits) where doc-level θ/block-max
    bounds are unsound: a group winner can score below the global k-th
    doc. None when no query term is indexed."""
    scored = _bm25_scored(
        spark, index_dir, {0: list(terms)}, k1=k1, b=b, n_partitions=n_partitions, prune=False
    )
    return None if scored is None else scored.drop("query_id")


def top_hits(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    group_col: str = "lang",
    k_per_group: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_partitions: int | None = None,
) -> DataFrame:
    """ES terms-aggregation + top_hits sub-aggregation: for EVERY value
    of a doc_meta column with ≥1 match, that group's top k_per_group
    scoring docs — (group, group_rank, doc_id, score), rows ordered by
    (group asc, group_rank asc). The per-group generalization of
    collapse_topk (k=1 per group, groups re-ranked) — here every group
    surfaces, which is the ES drill-down shape.

    Same pruning stance as collapse: doc-level θ bounds are unsound for
    group collectors, so this folds the exact match set; the window
    shuffles matching docs once on the group key with O(1) per-group
    state (running row_number, cut at k_per_group)."""
    out_schema = (
        f"{group_col} string, group_rank int, doc_id long, score double"
    )
    scored = _exact_scored_matches(spark, index_dir, terms, k1, b, n_partitions)
    if scored is None:
        return _local_frame(spark, [], out_schema)
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", group_col
    )
    wg = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(meta, "doc_id")
        .withColumn("group_rank", F.row_number().over(wg).cast("int"))
        .filter(F.col("group_rank") <= int(k_per_group))
        .orderBy(F.asc(group_col), F.asc("group_rank"))
        .select(group_col, "group_rank", "doc_id", "score")
    )


def histogram_agg(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "doc_len",
    interval: int = 10,
    n_partitions: int | None = None,
) -> DataFrame:
    """ES histogram aggregation over the FULL match set: fixed-interval
    buckets of a numeric doc_meta field → hit counts, bucket key =
    floor(field / interval) × interval, empty buckets omitted
    (min_doc_count=1 semantics). Same plan as facet_counts with the
    bucket expression as the group key."""
    if interval <= 0:
        raise ValueError("interval must be ≥ 1")
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return _local_frame(spark, [], "bucket long, n_docs long")
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", field
    )
    bucket = (
        F.floor(F.col(field) / F.lit(int(interval))) * F.lit(int(interval))
    ).cast("long")
    return (
        docs.distinct()
        .join(meta, "doc_id")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bucket")
    )


def collapse_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    collapse_col: str = "repo",
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_partitions: int | None = None,
) -> DataFrame:
    """Lucene field-collapsing analog (CollapsingTopDocsCollector): top-k
    GROUPS — at most one hit per distinct doc_meta[collapse_col] value,
    each group represented by its best-scoring live doc (score desc,
    doc_id asc within the group), groups ranked by their winner.

    θ/block-max/sketch pruning is deliberately OFF: every such bound is
    derived from the global k-th best DOC, and a group winner can
    legitimately score below it — top hits concentrating in few groups is
    exactly the case collapsing exists for, so pruning with the doc-level
    θ would drop the winners of diverse groups. Dictionary partition+term
    pruning still applies (match-preserving), as do tombstone masks.

    Plan shape: one pruned scan → exact BM25 partials (same kernel math
    as topk_segments, tested rank-identical pre-collapse) → one
    groupBy(doc_id) fold → doc_id equi-join to the store-resident
    doc_meta for the collapse key → per-group row_number window → global
    top-k via TakeOrderedAndProject. The window shuffles on collapse_col
    over the MATCHING docs only (one row per matched doc), not the
    corpus; at cluster scale this is one extra bounded exchange after the
    fold. Group-key skew mirrors the corpus's repo-size skew — acceptable
    because the window's per-group state is O(1) (running row_number),
    not a buffered sort of the group."""
    stats = load_stats(index_dir)
    if n_partitions is None:
        n_partitions = int(stats.get("n_partitions", INDEX_PARTITIONS))
    out_schema = f"rank int, {collapse_col} string, doc_id long, score double"
    scored = _exact_scored_matches(spark, index_dir, terms, k1, b, n_partitions)
    if scored is None:
        return _local_frame(spark, [], out_schema)
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", collapse_col
    )
    wg = Window.partitionBy(collapse_col).orderBy(F.desc("score"), F.asc("doc_id"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(meta, "doc_id")
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", collapse_col, "doc_id", "score")
    )


def sort_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    sort_col: str = "doc_len",
    ascending: bool = False,
    k: int = DEFAULT_TOP_K,
    n_partitions: int | None = None,
) -> DataFrame:
    """Lucene Sort/SortField analog: top-k MATCHING docs ordered by an
    index-resident doc_meta field instead of relevance —
    IndexSearcher.search(query, k, new Sort(new SortField(field, ...)))
    with the doDocScores=false default, so no BM25 math runs at all.
    doc_id asc is the tiebreak (Lucene's implicit doc-order tiebreak).

    Plan shape: _matched_docs' partition+term pruned scan (tombstone-
    masked doc_ids only — no tf/doc_len decode math beyond the shared
    codec) → two-phase distinct (a doc matching several terms sorts
    once) → doc_id equi-join to the store-resident doc_meta for the sort
    key → orderBy+limit, which Spark compiles to TakeOrderedAndProject:
    per-partition k-row heaps, a k-row driver merge — the exchange
    carries k rows per partition regardless of match count, so at
    cluster scale this is one pruned scan plus one bounded exchange."""
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", sort_col
    )
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    base = meta.limit(0) if docs is None else docs.distinct().join(meta, "doc_id")
    key = F.asc(sort_col) if ascending else F.desc(sort_col)
    w = Window.orderBy(key, F.asc("doc_id"))
    return (
        base.orderBy(key, F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", sort_col)
    )


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int],
    positions: bool = False,
) -> DataFrame:
    """Lucene TermVectors / ES _termvectors analog: reconstruct per-document
    term vectors — (doc_id, term, tf) and, on a posting_format=2 store with
    positions=True, the token positions array — from the term-major index.

    Plan shape: doc-major retrieval from a term-major store cannot
    partition-prune (the document's terms are unknown up front — the same
    intrinsic full-scan significant_terms documents), so the requested
    doc_ids broadcast as a sorted membership array and ONE segments scan
    probes each blob kernel-side (member_mask binary search per blob, no
    per-doc rows for non-members). The scan emits only the requested docs'
    rows — output is vocabulary-bounded per doc, exchange-free until the
    final orderBy. Tombstoned docs emit nothing (a deleted doc has no
    term vector). Lucene stores term vectors doc-major at index time to
    avoid exactly this scan; at query volumes where term vectors are hot,
    the swap point is a doc-major parquet sidecar written by the same
    build pass (documented, not built — the scan form is the honest
    baseline and serves the occasional-forensics use ES mostly sees).
    """
    stats = load_stats(index_dir)
    fmt = int(stats.get("posting_format", 1))
    if positions and fmt != 2:
        raise ValueError(
            "positions=True needs a posting_format=2 store "
            f"(this store is format {fmt})"
        )
    ids = np.unique(np.asarray(sorted(set(int(d) for d in doc_ids)), dtype=np.int64))
    out_schema = (
        "doc_id long, term string, tf int, positions array<int>"
        if positions
        else "doc_id long, term string, tf int"
    )
    if ids.size == 0:
        return _local_frame(spark, [], out_schema)
    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    ids_bc = spark.sparkContext.broadcast(ids)
    seg = _segments(spark, index_dir).select("term", "blob")

    def probe(pdf_iter):
        from .compress import decode_postings
        from .positions import decode_postings_with_positions_flat

        want = ids_bc.value
        for pdf in pdf_iter:
            rows = {"doc_id": [], "term": [], "tf": []}
            pos_out = [] if positions else None
            for term, blob in zip(pdf["term"], pdf["blob"]):
                b = bytes(blob)
                if positions:
                    d, tfs, _dls, flat = decode_postings_with_positions_flat(b)
                else:
                    d, tfs, _dls = decode_postings(b)
                if not d.size:
                    continue
                m = member_mask(d, want)
                if tomb_bc is not None:
                    m &= live_mask(d, tomb_bc.value)
                if not m.any():
                    continue
                hit = np.flatnonzero(m)
                rows["doc_id"].append(d[hit])
                rows["term"].append(np.full(hit.size, term, dtype=object))
                rows["tf"].append(tfs[hit].astype(np.int32))
                if positions:
                    tf64 = tfs.astype(np.int64)
                    starts = np.concatenate(([0], np.cumsum(tf64)[:-1]))
                    pos_out.extend(
                        flat[starts[i] : starts[i] + tf64[i]].astype(np.int32)
                        for i in hit
                    )
            if rows["doc_id"]:
                out = {k: np.concatenate(v) for k, v in rows.items()}
                if positions:
                    out["positions"] = pos_out
                yield pd.DataFrame(out)

    tv = seg.mapInPandas(probe, schema=out_schema)
    if tomb_over is not None:
        tv = tv.join(tomb_over, "doc_id", "left_anti")
    # slicing never splits one (term, doc) posting across slices, so no
    # re-merge is needed — each output row is final
    return tv.orderBy("doc_id", "term")


def percentiles_agg(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    stats_col: str = "doc_len",
    percentiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.99),
    n_partitions: int | None = None,
) -> DataFrame:
    """ES percentiles aggregation over the FULL match set: exact
    linear-interpolated quantiles (SQL percentile_cont / type-7) of a
    numeric doc_meta column — (percentile, value), value rounded to 6.

    Exact, not t-digest: Spark's `percentile` is the two-phase exact
    aggregate (per-partition counts merged on one reducer for the single
    group). The value column is index-resident metadata (one long per
    matching doc), so even a corpus-sized match set moves 8 bytes/doc —
    the ES t-digest swap point (approx_percentile) only matters when the
    match-set exchange itself is the bottleneck, and trades the oracle's
    bit-exactness for a bounded error; documented, not the default.
    Same plan prefix as facet_stats: pruned scan → distinct → doc_meta
    join → one global agg."""
    for p in percentiles:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile must be in [0, 1], got {p}")
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return _local_frame(spark, [], "percentile double, value double")
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", stats_col
    )
    pcts = list(percentiles)
    agg = (
        docs.distinct()
        .join(meta, "doc_id")
        .agg(
            F.percentile(F.col(stats_col), F.array(*[F.lit(p) for p in pcts])).alias(
                "vals"
            )
        )
    )
    pct_df = _local_frame(spark, [(p, i) for i, p in enumerate(pcts)], "percentile double, i int")
    return (
        agg.crossJoin(F.broadcast(pct_df))
        .select(
            "percentile",
            F.round(F.element_at(F.col("vals"), F.col("i") + 1), 6).alias("value"),
        )
        .orderBy("percentile")
    )


def extended_stats(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    stats_col: str = "doc_len",
    n_partitions: int | None = None,
) -> DataFrame:
    """ES extended_stats aggregation over the FULL match set: one row of
    (n_docs, min, max, sum, avg, var_pop, std_pop) for a numeric doc_meta
    column, floats rounded to 6. All seven moments fold in the SAME
    single-pass partial aggregate (count/sum/sum-of-squares map-side), so
    this costs exactly one pruned scan + the distinct + one tiny agg —
    the facet_stats plan without the group key."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    schema = (
        f"n_docs long, min_{stats_col} long, max_{stats_col} long, "
        f"sum_{stats_col} long, avg_{stats_col} double, "
        f"var_{stats_col} double, std_{stats_col} double"
    )
    if docs is None:
        return _local_frame(spark, [], schema)
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", stats_col
    )
    c = F.col(stats_col)
    return (
        docs.distinct()
        .join(meta, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(c).cast("long").alias(f"min_{stats_col}"),
            F.max(c).cast("long").alias(f"max_{stats_col}"),
            F.sum(c).cast("long").alias(f"sum_{stats_col}"),
            F.round(F.avg(c), 6).alias(f"avg_{stats_col}"),
            F.round(F.var_pop(c), 6).alias(f"var_{stats_col}"),
            F.round(F.stddev_pop(c), 6).alias(f"std_{stats_col}"),
        )
    )


def composite_agg(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    group_col: str = "lang",
    stats_col: str = "doc_len",
    interval: int = 10,
    size: int = 5,
    after: tuple | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """ES composite aggregation: PAGEABLE buckets of the FULL match set
    keyed by (group_col, floor(stats_col / interval) × interval), ordered
    by the composite key, `size` buckets per page; `after=(group, bucket)`
    resumes STRICTLY after that key — deterministic cursor pagination
    over an unbounded bucket space (the terms-agg top-N cut cannot
    enumerate all buckets; composite can, page by page, which is why ES
    recommends it for exports).

    Plan: the facet_counts prefix (pruned scan → distinct → doc_meta
    join) → two-key group → after-key filter pushed BEFORE the order+limit
    (a resumed page aggregates only rows past the cursor — with a
    doc_meta layout partitioned on the leading key this prunes files; on
    this store it prunes post-scan, documented) → TakeOrderedAndProject.
    Output (group, bucket, n_docs)."""
    if interval < 1 or size < 1:
        raise ValueError("interval and size must be >= 1")
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    schema = f"{group_col} string, bucket long, n_docs long"
    if docs is None:
        return _local_frame(spark, [], schema)
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", group_col, stats_col
    )
    bucket = (F.floor(F.col(stats_col) / F.lit(int(interval))) * int(interval)).cast(
        "long"
    )
    grouped = (
        docs.distinct()
        .join(meta, "doc_id")
        .groupBy(F.col(group_col), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    if after is not None:
        g, bk = after
        grouped = grouped.filter(
            (F.col(group_col) > F.lit(g))
            | ((F.col(group_col) == F.lit(g)) & (F.col("bucket") > F.lit(int(bk))))
        )
    return grouped.orderBy(group_col, "bucket").limit(int(size))


def mad_agg(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    stats_col: str = "doc_len",
    n_partitions: int | None = None,
) -> DataFrame:
    """ES median_absolute_deviation aggregation over the FULL match set:
    exact MAD = median(|x − median(x)|) of a numeric doc_meta column,
    one row (median, mad), rounded to 6. Exact two-pass percentile (the
    ES version is TDigest-approximate; exact keeps the oracle — the
    sketch swap point is the same note as percentiles_agg). Pass one
    computes the median, pass two the deviation median; both passes are
    the 8-byte/doc meta join, so even corpus-sized match sets move
    doc_ids + one long."""
    docs = _matched_docs(spark, index_dir, terms, n_partitions)
    if docs is None:
        return _local_frame(spark, [], "median double, mad double")
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", stats_col
    )
    vals = docs.distinct().join(meta, "doc_id")
    med = vals.agg(F.percentile(F.col(stats_col), F.lit(0.5)).alias("m")).collect()[0][
        "m"
    ]
    if med is None:
        return _local_frame(spark, [], "median double, mad double")
    return vals.agg(
        F.round(F.lit(float(med)), 6).alias("median"),
        F.round(
            F.percentile(F.abs(F.col(stats_col) - F.lit(float(med))), F.lit(0.5)), 6
        ).alias("mad"),
    )


def rare_terms(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    max_doc_count: int = 1,
    k: int = 10,
    n_partitions: int | None = None,
) -> DataFrame:
    """ES rare_terms aggregation: the LONG-TAIL terms of the match set —
    vocabulary terms appearing in ≥1 and ≤ max_doc_count of the matching
    documents, ordered rarest-first (fg asc, term asc), top-k rows
    (rank, term, fg). Query terms themselves excluded (they match every
    doc by construction of the match set's definition of relevance).

    Same plan as significant_terms: the shared foreground-overlap kernel
    (_foreground_overlap), then a vocabulary-scale filter + rank."""
    if max_doc_count < 1:
        raise ValueError("max_doc_count must be >= 1")
    out_schema = "rank int, term string, fg long"
    overlap = _foreground_overlap(spark, index_dir, terms, n_partitions)
    if overlap is None:
        return _local_frame(spark, [], out_schema)
    per_term, _n_fg = overlap
    w = Window.orderBy(F.asc("fg"), F.asc("term"))
    return (
        per_term.filter((F.col("fg") >= 1) & (F.col("fg") <= int(max_doc_count)))
        .orderBy(F.asc("fg"), F.asc("term"))
        .limit(int(k))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "term", "fg")
    )
