"""Phrase search — consecutive-token match, scan form and positions-index
form (the forward-looking capability SURVEY §1.4's optional `positions`
column reserves room for; neither the reference nor the round-2 engine had
it, so both forms are new surface, not parity).

Two execution strategies, result-identical (test-pinned, shared oracle):

* ``phrase_match`` / ``phrase_topk`` — one corpus scan, pure Catalyst
  higher-order functions: ``F.filter(tokens, (x, i) -> ...)`` counts the
  start offsets where all n phrase terms line up. ``F.get`` (0-based,
  null past the end) keeps the predicate total without ANSI index errors,
  so the whole match stays inside whole-stage codegen — no UDF, no
  explode, no shuffle before the (tiny) matched set.
* ``write_phrase_index`` / ``phrase_topk_indexed`` — a positions-carrying
  posting store (operators/positions.py blob layout, posting_format=2).
  Since round 4 this is the MAIN segment store with positions enabled
  (``segments.write_index(positions=True)``): the positions index gets the
  identical df-scaled heavy-term range salting, fused Arrow build kernel,
  partition-pruned layout, per-partition catalog/lineage, resume, impact
  metadata and compaction as the BM25 store — one store serves BM25,
  phrase and NEAR (round-3 VERDICT items 1-2; the old standalone builder
  had a groupBy(term, doc) + whole-term applyInPandas skew cliff). A
  phrase query reads ONLY its terms' partitions (partition-pruned),
  decodes positions, and intersects per-doc position sets shifted by term
  offset: occurrences = |P0 ∩ (P1−1) ∩ … ∩ (P(n−1)−(n−1))|. Since late
  round 4 the intersection runs in the bucket-packed numpy kernel
  (_pack_slot_blobs + _match_bucket: sorted composite keys per doc-range
  bucket) rather than a per-doc JVM pivot; the pivot form survives in
  _candidate_positions as the semantic reference. At 100 TB the scan form
  touches the whole corpus per query; the indexed form touches df(term)
  postings only.

  The single-query top-k (phrase, multiphrase, span-first, span-near)
  takes one of two paths (_positional_topk). When the slot terms hold at
  most DRIVER_TOPK_MAX_DF positions (Σcf) and the tombstones fit the
  broadcast cap, the driver reads the blobs with pyarrow, runs the two
  kernel halves in-process and returns a LocalRelation: no Spark job.
  Otherwise the kernel runs in Spark (_bucketed_matches: mapInPandas
  pack, groupBy(bucket) match) and _rank_matches ranks the matched set.

Scoring treats the phrase as one synthetic term: BM25 with
df = |docs containing the phrase|, tf = occurrence count — the natural
extension of the engine's pinned scoring (operators/bm25.py), rounded to
SCORE_ROUND_DECIMALS with the ascending-doc_id tiebreak.
"""

from __future__ import annotations

import json
import operator
import os
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    BM25_B,
    BM25_K1,
    DEFAULT_TOP_K,
    DRIVER_TOPK_MAX_DF,
    SCORE_ROUND_DECIMALS,
)
from ..functions.tokenize import tokens_expr
from ..functions.xxhash import term_partition
from .bm25 import idf_expr, tf_norm_expr
from .bm25_segments import (
    _BLOB_SCHEMA,
    _idf,
    _local_frame,
    _read_partitions,
    _segments,
    _spread_slices,
    _tf_norm,
    _tombstones,
    _topk_frame,
    probe_dictionary,
)
from .deletes import live_mask
from .positions import (
    POSTING_FORMAT_POSITIONS,
    decode_postings_with_positions_flat,
)

PHRASE_INDEX_PARTITIONS = 32


def phrase_tf_expr(toks: Column, terms: list[str]) -> Column:
    """Occurrence count of the consecutive phrase in a token array.

    Counts every start offset (overlaps included: "a a a" contains
    "a a" twice). F.get returns null out of bounds, and null == term is
    null → filtered out, so no size guard is needed."""
    if not terms:
        raise ValueError("phrase needs at least one term")

    def is_start(_x: Column, i: Column) -> Column:
        return reduce(
            operator.and_,
            [F.get(toks, i + F.lit(j)) == F.lit(t) for j, t in enumerate(terms)],
        )

    return F.size(F.filter(toks, is_start))


def phrase_match(
    df: DataFrame, terms: list[str], content_col: str = "content"
) -> DataFrame:
    """(doc_id, phrase_tf, doc_len) for documents containing the phrase —
    single scan, fully columnar."""
    toks = tokens_expr(content_col)
    return (
        df.select(
            "doc_id",
            phrase_tf_expr(toks, terms).alias("phrase_tf"),
            F.size(toks).alias("doc_len"),
        )
        .filter(F.col("phrase_tf") > 0)
    )


def _rank_matches(
    matches: DataFrame, stats: DataFrame, k: int, k1: float, b: float
) -> DataFrame:
    """Shared ranking tail: BM25 single-synthetic-term scoring of the
    matched set (doc_id, phrase_tf, doc_len). `stats` is a 1-row
    (n_docs, avgdl) frame; df_phrase is counted from the matched set —
    both broadcast crossJoins, so everything stays one lazy plan ending in
    TakeOrderedAndProject."""
    dfp = matches.agg(F.count(F.lit(1)).cast("double").alias("df_phrase"))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        matches.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfp))
        .withColumn(
            "score",
            F.round(
                idf_expr(F.col("df_phrase"), F.col("n_docs"))
                * tf_norm_expr(
                    F.col("phrase_tf").cast("double"),
                    F.col("doc_len").cast("double"),
                    F.col("avgdl"),
                    k1,
                    b,
                ),
                SCORE_ROUND_DECIMALS,
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "score")
    )


def phrase_topk(
    df: DataFrame,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    content_col: str = "content",
) -> DataFrame:
    """(rank, doc_id, score) — phrase-BM25 top-k from one corpus scan."""
    toks = tokens_expr(content_col)
    meta = df.select(
        "doc_id",
        phrase_tf_expr(toks, terms).alias("phrase_tf"),
        F.size(toks).alias("doc_len"),
    )
    stats = meta.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
    )
    return _rank_matches(meta.filter(F.col("phrase_tf") > 0), stats, k, k1, b)


# ---------------------------------------------------------------------------
# positions-index form
# ---------------------------------------------------------------------------

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("ord", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
    ]
)


def write_phrase_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    n_partitions: int = PHRASE_INDEX_PARTITIONS,
) -> dict:
    """Positions-carrying segment store = the MAIN index build with
    positions=True (segments.write_index). Everything the base store has —
    fused tokenize+combine Arrow kernel, df-scaled heavy-term range
    salting (no single (term, slice) group ever exceeds
    ~SLICE_TARGET_POSTINGS postings, regardless of how heavy 'def'-class
    terms get), one array shuffle, partition-pruned parquet layout,
    per-partition catalog + resume, impact metadata — applies verbatim;
    blobs just carry the trailing positions section (posting_format=2)."""
    from .segments import write_index

    res = write_index(
        spark, corpus, index_dir, id_col=id_col, n_partitions=n_partitions,
        positions=True,
    )
    with open(os.path.join(index_dir, "stats.json")) as f:
        return {**json.load(f), "built_partitions": res.get("built_partitions")}


def _candidate_positions(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Shared probe for positional queries: decode the phrase terms' blobs
    (partition-pruned scan of segments/; a salted term contributes several
    doc-range slice rows, each decoded independently — ranges are disjoint
    so the per-doc pivot needs no re-merge) and pivot to one row per
    candidate doc with columns "0".."n-1" = that term-slot's position
    array (null if the doc lacks the term). Returns (pivoted, 1-row
    stats_df from stats.json)."""
    stats = _positions_stats(index_dir)
    n_partitions = stats["n_partitions"]
    uniq = sorted(set(terms))
    parts = sorted({term_partition(t, n_partitions) for t in uniq})
    probe = _segments(spark, index_dir).select("partition_id", "term", "blob").filter(
        F.col("partition_id").isin(parts) & F.col("term").isin(uniq)
    )
    tomb_bc, tomb_over = _tombstones(spark, index_dir)

    def decode(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ords = {}
        for j, t in enumerate(terms):
            ords.setdefault(t, []).append(j)
        for pdf in pdf_iter:
            ord_a, doc_a, dl_a, pos_a = [], [], [], []
            for term, blob in zip(pdf["term"], pdf["blob"]):
                docs, tfs, dls, flat = decode_postings_with_positions_flat(bytes(blob))
                if tomb_bc is not None and docs.size:
                    # live-docs mask; the flat positions buffer is filtered
                    # with np.repeat of the posting mask — stays vectorized
                    m = live_mask(docs, tomb_bc.value)
                    if not m.all():
                        flat = flat[np.repeat(m, tfs.astype(np.int64))]
                        docs, tfs, dls = docs[m], tfs[m], dls[m]
                if docs.size == 0:
                    continue
                # one np.split per blob: a list of per-posting position
                # VIEWS over the flat decode — no per-posting Python append
                # loop (round-3 VERDICT item 1, probe vectorization)
                plists = np.split(
                    flat.astype(np.int32), np.cumsum(tfs.astype(np.int64))[:-1]
                )
                for j in ords[term]:
                    ord_a.append(np.full(docs.size, j, dtype=np.int32))
                    doc_a.append(docs)
                    dl_a.append(dls)
                    pos_a.extend(plists)
            if ord_a:  # empty frames confuse the Arrow object→list cast
                yield pd.DataFrame(
                    {
                        "ord": np.concatenate(ord_a),
                        "doc_id": np.concatenate(doc_a),
                        "doc_len": np.concatenate(dl_a),
                        "positions": pos_a,
                    }
                )

    decoded = probe.mapInPandas(decode, schema=_DECODED_SCHEMA)
    if tomb_over is not None:  # over-cap tombstones: distributed anti-join
        decoded = decoded.join(tomb_over, "doc_id", "left_anti")
    # doc_len is functionally dependent on doc_id, so grouping by both
    # keeps it through the pivot — ONE decode pass, one shuffle, no join
    pivoted = (
        decoded.groupBy("doc_id", "doc_len")
        .pivot("ord", list(range(len(terms))))
        .agg(F.first("positions"))
    )
    return pivoted, _stats_frame(spark, stats)


# ---------------------------------------------------------------------------
# bucket-packed positional kernel (the single-query fast path)
# ---------------------------------------------------------------------------
# The pivot path above materializes one JVM row per (candidate doc, slot) —
# ~12M rows for a two-heavy-term phrase at 8M docs — and hash-aggregates
# millions of per-doc groups. The bucketed kernel ships the SAME decoded
# bytes as a few thousand array-packed rows keyed by doc-id range, and does
# the positional predicate with sorted composite keys in numpy:
#   key = (local_doc << _POS_BITS) | adjusted_position
# phrase:  tf(d) = |∩_j keys_j| with position adjusted by −slot (the
#          classic shifted-intersection, now one sorted-array member mask
#          per slot instead of per-doc array_intersect);
# NEAR:    anchor key k survives iff every other slot has a key in
#          [k−w, k+w] clamped to the anchor doc's key range — two
#          searchsorted per slot over ALL anchors at once.
# Measured 31.1s → (recorded below) on the 8M-doc two-heavy-term phrase
# (scripts/new_surface_probe.py); result-identical (shared oracle + tests).
_BUCKET_SHIFT = 18  # 262k docs per match bucket — bounds kernel memory
_POS_BITS = 32  # positions fit 32 bits (token offset in one document)


def _bucket_shift(spark: SparkSession, stats: dict) -> int:
    """Adaptive bucket width: _BUCKET_SHIFT caps per-bucket kernel memory
    at any corpus size, but a SMALL doc-id span would then yield too few
    buckets to occupy the executors (measured: a 2M-doc store at shift 18
    has 8 buckets — applyInPandas parallelism was bucket-bound and the
    8→32-core batch pair collapsed to 0.31 efficiency). Shrink the shift
    until the bucket count covers ~4× the session parallelism; at 100 TB
    spans the loop never fires and the memory bound rules."""
    span = int(stats.get("max_doc_id", 0)) + 1
    target = 4 * spark.sparkContext.defaultParallelism
    shift = _BUCKET_SHIFT
    while shift > 8 and (span >> shift) < target:
        shift -= 1
    return shift


_PACKED_SCHEMA = (
    "bucket long, slot int, docs array<long>, dls array<int>, "
    "tfs array<int>, flat array<long>"
)
_MATCHED_SCHEMA = "doc_id long, phrase_tf int, doc_len int"


def _positions_stats(index_dir: str) -> dict:
    """stats.json of a positions store (posting_format=2); anything else
    raises."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats.get("posting_format") != POSTING_FORMAT_POSITIONS:
        raise ValueError(
            f"{index_dir} is not a positions index "
            f"(posting_format={stats.get('posting_format')})"
        )
    return stats


def _stats_frame(spark: SparkSession, stats: dict) -> DataFrame:
    """The 1-row (n_docs, avgdl) frame _rank_matches scores with."""
    return _local_frame(
        spark, [(float(stats["n_docs"]), float(stats["avgdl"]))], "n_docs double, avgdl double"
    )


def _check_span(window: int | None, ordered: bool, first: int | None) -> None:
    if ordered and window is None:
        raise ValueError("ordered span-near needs a slop window (≥ 0)")
    if first is not None:
        if window is not None and not ordered:
            raise ValueError(
                "SpanFirst needs an ordered span (phrase or span-near) — "
                "unordered NEAR has no span end"
            )
        if first < 1:
            raise ValueError("SpanFirst end must be ≥ 1")


def _slot_terms(terms: list) -> list[list[str]]:
    """Each phrase slot as its sorted list of alternative terms."""
    slots = [[t] if isinstance(t, str) else sorted(set(t)) for t in terms]
    if any(not s for s in slots):
        raise ValueError("every phrase slot needs at least one term")
    return slots


def _pack_slot_blobs(
    pdf_iter: Iterator[pd.DataFrame],
    slots: list[list[str]],
    shift: int,
    tomb: np.ndarray | None,
) -> Iterator[pd.DataFrame]:
    """Decode (term, blob) rows into doc-range-bucketed array rows
    (_PACKED_SCHEMA), one per (bucket, slot the term fills), with deleted
    docs (sorted `tomb`) masked out. The pack half of the bucket kernel,
    run by the executors' mapInPandas and by the driver path alike."""
    ords: dict[str, list[int]] = {}
    for j, slot in enumerate(slots):
        for t in slot:
            ords.setdefault(t, []).append(j)
    for pdf in pdf_iter:
        out = {k: [] for k in ("bucket", "slot", "docs", "dls", "tfs", "flat")}
        for term, blob in zip(pdf["term"], pdf["blob"]):
            docs, tfs, dls, flat = decode_postings_with_positions_flat(bytes(blob))
            if tomb is not None and docs.size:
                m = live_mask(docs, tomb)
                if not m.all():
                    flat = flat[np.repeat(m, tfs.astype(np.int64))]
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
            if docs.size == 0:
                continue
            docs = docs.astype(np.int64)
            buckets = docs >> shift  # docs sorted → nondecreasing
            ub, starts = np.unique(buckets, return_index=True)
            ends = np.append(starts[1:], docs.size)
            poff = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
            for bkt, a, z in zip(ub, starts, ends):
                seg_docs = docs[a:z]
                seg_tfs = tfs[a:z].astype(np.int32)
                seg_dls = dls[a:z].astype(np.int32)
                seg_flat = flat[poff[a]:poff[z]].astype(np.int64)
                for j in ords[term]:
                    out["bucket"].append(int(bkt))
                    out["slot"].append(j)
                    out["docs"].append(seg_docs)
                    out["dls"].append(seg_dls)
                    out["tfs"].append(seg_tfs)
                    out["flat"].append(seg_flat)
        if out["bucket"]:
            yield pd.DataFrame(out)


def _match_bucket(
    pdf: pd.DataFrame,
    n: int,
    shift: int,
    w: int | None,
    ordered: bool,
    first: int | None,
) -> pd.DataFrame:
    """The match half of the bucket kernel: one bucket's packed rows →
    (doc_id, phrase_tf, doc_len) of its matching docs (_MATCHED_SCHEMA).
    n = slot count; w/ordered/first as in _bucketed_matches."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"),
         "phrase_tf": pd.Series(dtype="int32"),
         "doc_len": pd.Series(dtype="int32")}
    )
    base = int(pdf["bucket"].iloc[0]) << shift
    keys, doc0, dl0 = {}, None, None
    for j in range(n):
        rows = pdf[pdf["slot"] == j]
        if rows.empty:
            return empty  # a slot with no postings in this bucket
        docs = np.concatenate([np.asarray(d, np.int64) for d in rows["docs"]])
        tfs = np.concatenate([np.asarray(t, np.int64) for t in rows["tfs"]])
        flat = np.concatenate([np.asarray(f, np.int64) for f in rows["flat"]])
        local = docs - base
        rep = np.repeat(local, tfs)
        if w is None:  # phrase: shift by −slot (+n keeps it positive)
            kj = (rep << _POS_BITS) | (flat - j + n)
        else:  # NEAR: raw positions
            kj = (rep << _POS_BITS) | flat
        kj.sort()
        keys[j] = kj
        if j == 0:
            order = np.argsort(docs, kind="stable")
            doc0, dl0 = docs[order], np.concatenate(
                [np.asarray(d, np.int64) for d in rows["dls"]]
            )[order]
    if w is None:
        inter = keys[0]
        for j in range(1, n):
            kj = keys[j]
            pos = np.searchsorted(kj, inter)
            pos = np.minimum(pos, kj.size - 1)
            inter = inter[kj[pos] == inter]
            if inter.size == 0:
                return empty
        if first is not None:
            # slot-0 keys carry p0 + n = the span's exclusive end
            inter = inter[(inter & ((1 << _POS_BITS) - 1)) <= first]
            if inter.size == 0:
                return empty
        ids, counts = np.unique(inter >> _POS_BITS, return_counts=True)
    elif ordered:
        # span_near(inOrder): greedy minimal chain per anchor — each
        # next position is the smallest key strictly greater than the
        # previous, same doc enforced via the composite key's doc part
        a0 = keys[0]
        aloc = a0 >> _POS_BITS
        cur = a0
        ok = np.ones(a0.size, dtype=bool)
        for j in range(1, n):
            kj = keys[j]
            idx = np.searchsorted(kj, cur, "right")
            valid = idx < kj.size
            nxt = kj[np.minimum(idx, kj.size - 1)]
            valid &= (nxt >> _POS_BITS) == aloc
            ok &= valid
            cur = nxt  # garbage on dead lanes; masked by ok
        pm = (1 << _POS_BITS) - 1
        ok &= ((cur & pm) - (a0 & pm) - (n - 1)) <= w
        if first is not None:  # SpanFirst: chain end p_{n−1}+1 ≤ N
            ok &= (cur & pm) + 1 <= first
        if not ok.any():
            return empty
        ids, counts = np.unique(aloc[ok], return_counts=True)
    else:
        a0 = keys[0]
        aloc, apos = a0 >> _POS_BITS, a0 & ((1 << _POS_BITS) - 1)
        ok = np.ones(a0.size, dtype=bool)
        for j in range(1, n):
            kj = keys[j]
            lo = (aloc << _POS_BITS) | np.maximum(apos - w, 0)
            hi = (aloc << _POS_BITS) | np.minimum(
                apos + w, (1 << _POS_BITS) - 1
            )
            ok &= np.searchsorted(kj, lo, "left") < np.searchsorted(
                kj, hi, "right"
            )
        if not ok.any():
            return empty
        ids, counts = np.unique(aloc[ok], return_counts=True)
    dls = dl0[np.searchsorted(doc0, ids + base)]
    return pd.DataFrame(
        {
            "doc_id": ids + base,
            "phrase_tf": counts.astype(np.int32),
            "doc_len": dls.astype(np.int32),
        }
    )


def _bucketed_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    window: int | None,
    ordered: bool = False,
    first: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(matched, stats_df) via the bucket-packed kernel. Same contract as
    the pivot path: matched = (doc_id, phrase_tf, doc_len), phrase_tf > 0.

    ordered=True (requires window ≥ 1): Lucene SpanNearQuery(inOrder=true)
    — an anchor p0 matches when positions p0 < p1 < … < p_{n−1} exist in
    term order with total gap p_{n−1} − p0 − (n−1) ≤ window (slop). The
    kernel takes the GREEDY chain (each next position minimal), which
    minimizes the final position and is therefore exact for the ≤ slop
    test; phrase_tf counts matching anchors.

    Each `terms` element may be a single term OR a list of ALTERNATIVE
    terms for that slot (Lucene MultiPhraseQuery): slot j matches where
    ANY alternative occurs. The kernel is unchanged — a slot's key array
    is the sorted union of its alternatives' composite keys, and since a
    token position holds exactly one term the union is duplicate-free.

    first=N (Lucene SpanFirstQuery): keep only matches whose span END ≤ N
    — 0-based exclusive end, so a phrase match at anchor p0 needs
    p0 + n ≤ N and an ordered span-near chain needs p_{n−1} + 1 ≤ N.
    Phrase and ordered spans only (unordered NEAR has no span order, so
    SpanFirst over it is undefined — rejected by positional_matches).

    The executors run the kernel's two halves: _pack_slot_blobs in a
    mapInPandas over the partition-pruned scan, _match_bucket per
    groupBy("bucket") group."""
    stats = _positions_stats(index_dir)
    n_partitions = stats["n_partitions"]
    slots = _slot_terms(terms)
    n = len(slots)
    uniq = sorted({t for s in slots for t in s})
    parts = sorted({term_partition(t, n_partitions) for t in uniq})
    probe = (
        _segments(spark, index_dir)
        .select("partition_id", "term", "blob")
        .filter(F.col("partition_id").isin(parts) & F.col("term").isin(uniq))
    )
    # decode parallelism = pruned FILE count without this (see
    # positional_matches_multi) — heavy terms spread across the cluster
    info = probe_dictionary(spark, index_dir, uniq, n_partitions)
    probe = _spread_slices(
        probe, spark, sum(int(v["df"]) for v in info.values())
    )

    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    shift = _bucket_shift(spark, stats)

    def pack(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tomb = None if tomb_bc is None else tomb_bc.value
        return _pack_slot_blobs(pdf_iter, slots, shift, tomb)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        return _match_bucket(pdf, n, shift, window, ordered, first)

    matched = (
        probe.mapInPandas(pack, schema=_PACKED_SCHEMA)
        .groupBy("bucket")
        .applyInPandas(match, schema=_MATCHED_SCHEMA)
    )
    if tomb_over is not None:  # over-cap tombstones: per-doc predicate, so
        matched = matched.join(tomb_over, "doc_id", "left_anti")  # post-match ok
    return matched, _stats_frame(spark, stats)


def positional_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    window: int | None = None,
    ordered: bool = False,
    first: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared positional-match core: (matched, stats_df) where matched is
    (doc_id, phrase_tf, doc_len) for every doc satisfying the positional
    predicate — exact consecutive phrase when window is None, NEAR (all
    terms within ±window of an anchor terms[0] occurrence) otherwise;
    ordered=True upgrades NEAR to Lucene SpanNearQuery(inOrder=true)
    semantics (terms in order, total gap ≤ window). Feeds the Boolean
    executor (operators/boolean.py), which scores a positional clause as
    one synthetic term over this matched set, and the Spark path of
    _positional_topk (phrase/multiphrase/spanfirst/spannear top-k).

    Always a Spark plan over the bucket-packed numpy kernel
    (_bucketed_matches); _positional_topk runs the same kernel on the
    driver when the terms' positions are few. The pivot/array_intersect
    path survives in _candidate_positions for near_topk_indexed and as
    the semantic reference the tests pin both against."""
    _check_span(window, ordered, first)
    return _bucketed_matches(
        spark, index_dir, terms, window, ordered=ordered, first=first
    )


def _positional_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list,
    k: int,
    k1: float,
    b: float,
    window: int | None = None,
    ordered: bool = False,
    first: int | None = None,
) -> DataFrame:
    """(rank, doc_id, score) of a positional query (positional_matches'
    arguments) scored by _rank_matches' contract: one synthetic term with
    df = |matched docs|, tf = phrase_tf.

    Driver path: when the tombstones fit the broadcast cap and the slot
    terms hold at most DRIVER_TOPK_MAX_DF positions in all (Σcf — the
    driver holds every position, not just every posting), the driver
    reads the terms' blobs (_read_partitions), runs the same pack/match
    kernels in-process, scores with _idf/_tf_norm and ranks as
    bm25_segments._topk_driver does. No Spark job runs. Otherwise the
    Spark plan (positional_matches + _rank_matches) runs."""
    _check_span(window, ordered, first)
    stats = _positions_stats(index_dir)
    slots = _slot_terms(terms)
    uniq = sorted({t for s in slots for t in s})
    info = probe_dictionary(spark, index_dir, uniq, stats["n_partitions"])
    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    if tomb_over is not None or sum(int(v["cf"]) for v in info.values()) > DRIVER_TOPK_MAX_DF:
        matched, stats_df = positional_matches(
            spark, index_dir, terms, window, ordered=ordered, first=first
        )
        return _rank_matches(matched, stats_df, k, k1, b)

    pids = sorted({info[t]["partition_id"] for t in info})
    blobs = _read_partitions(index_dir, "segments", pids, sorted(info), _BLOB_SCHEMA)
    tomb = None if tomb_bc is None else tomb_bc.value
    packed = list(_pack_slot_blobs([blobs.to_pandas()], slots, _BUCKET_SHIFT, tomb))
    found = [
        _match_bucket(grp, len(slots), _BUCKET_SHIFT, window, ordered, first)
        for pdf in packed
        for _bkt, grp in pdf.groupby("bucket", sort=False)
    ]
    matched = pd.concat(found) if found else pd.DataFrame(
        {"doc_id": [], "phrase_tf": [], "doc_len": []}
    )
    docs = matched["doc_id"].to_numpy(np.int64)
    idf = _idf(float(docs.size), float(stats["n_docs"]))
    scores = idf * _tf_norm(
        matched["phrase_tf"].to_numpy(np.float64),
        matched["doc_len"].to_numpy(np.float64),
        float(stats["avgdl"]), k1, b,
    )
    return _topk_frame(spark, docs, np.round(scores, SCORE_ROUND_DECIMALS), k)


def phrase_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(rank, doc_id, score) from the positions index — result-identical to
    phrase_topk on the same corpus (shared oracle), but reads only the
    phrase terms' blobs instead of scanning the corpus. Small phrases run
    on the driver with no Spark job (_positional_topk)."""
    return _positional_topk(spark, index_dir, terms, k, k1, b)


def multiphrase_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    slots: list[str | list[str]],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene MultiPhraseQuery: exact consecutive phrase where each slot
    may carry ALTERNATIVE terms — a position matches slot j when ANY of
    slot j's terms occurs there. phrase_tf counts matching start
    positions; the match set scores as one synthetic term (same contract
    as phrase_topk_indexed, which is the all-singleton special case).
    Kernel cost is unchanged: a slot's key array is the sorted union of
    its alternatives' postings — no per-alternative re-scan."""
    return _positional_topk(spark, index_dir, slots, k, k1, b)


def phrase_prefix_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    prefix: str,
    k: int = DEFAULT_TOP_K,
    max_expansions: int | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Phrase-prefix search (ES match_phrase_prefix; Lucene
    MultiPhraseQuery with a prefix-expanded final slot): `terms` match
    exactly and consecutively, the token AFTER them starts with `prefix`.
    The prefix expands against the RAM-pinned dictionary (df desc / term
    asc, bounded — expand_prefix's MultiTermQuery rewrite), then the
    whole query runs as ONE multiphrase plan: one partition-pruned scan
    over terms ∪ expansion, one bucket-kernel pass."""
    from .bm25_segments import MAX_EXPANSIONS, expand_prefix

    exp = expand_prefix(
        spark, index_dir, prefix,
        MAX_EXPANSIONS if max_expansions is None else max_expansions,
    )
    if not exp:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    return multiphrase_topk_indexed(
        spark, index_dir, [*terms, exp], k=k, k1=k1, b=b
    )


# ---------------------------------------------------------------------------
# proximity (NEAR) search — same machinery, window instead of adjacency
# ---------------------------------------------------------------------------


def _positions_of(toks: Column, term: str) -> Column:
    """0-based positions of `term` in a token array, as array<int> —
    transform to (index | null) then drop nulls, all codegen-side."""

    def mark(x: Column, i: Column) -> Column:
        return F.when(x == F.lit(term), i)

    return F.filter(F.transform(toks, mark), lambda v: v.isNotNull())


def _near_anchor_cond(rest: list[Column], window: int):
    """Predicate for an anchor position p0: every other term has an
    occurrence within `window` tokens. Factory-bound to dodge the 2-arg
    lambda index pitfall and loop late binding."""

    def within(p0: Column):
        def chk(pj_arr: Column) -> Column:
            return F.exists(pj_arr, lambda pj: F.abs(pj - p0) <= F.lit(window))

        conds = [chk(arr) for arr in rest]
        return reduce(operator.and_, conds) if conds else F.lit(True)

    return within


def near_tf_expr(toks: Column, terms: list[str], window: int) -> Column:
    """Proximity count: anchor occurrences of terms[0] with every other
    term within ±window tokens —
    |{p0 ∈ P0 : ∀j≥1 ∃pj ∈ Pj, |pj − p0| ≤ window}|."""
    if not terms:
        raise ValueError("proximity query needs at least one term")
    ps = [_positions_of(toks, t) for t in terms]
    cond = _near_anchor_cond(ps[1:], window)
    return F.size(F.filter(ps[0], cond))


def near_match(
    df: DataFrame, terms: list[str], window: int, content_col: str = "content"
) -> DataFrame:
    """(doc_id, near_tf, doc_len) for docs where all terms co-occur within
    a ±window token span of an anchor terms[0] occurrence — one scan."""
    toks = tokens_expr(content_col)
    return (
        df.select(
            "doc_id",
            near_tf_expr(toks, terms, window).alias("near_tf"),
            F.size(toks).alias("doc_len"),
        )
        .filter(F.col("near_tf") > 0)
    )


def near_topk(
    df: DataFrame,
    terms: list[str],
    window: int,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    content_col: str = "content",
) -> DataFrame:
    """(rank, doc_id, score) — proximity-BM25 top-k, scan form (near_tf as
    the synthetic term's tf)."""
    toks = tokens_expr(content_col)
    meta = df.select(
        "doc_id",
        near_tf_expr(toks, terms, window).alias("phrase_tf"),
        F.size(toks).alias("doc_len"),
    )
    stats = meta.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
    )
    return _rank_matches(meta.filter(F.col("phrase_tf") > 0), stats, k, k1, b)


def positional_matches_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, tuple[list[str], int | None]],
    local_cut: dict[int, tuple[int, float]] | None = None,
) -> tuple[DataFrame, dict]:
    """Shared batch positional matcher: (query_id, doc_id, phrase_tf,
    doc_len) rows for many phrase/NEAR queries in ONE plan, plus the
    store's stats dict. The matching core of positional_topk_indexed_multi,
    factored out so boolean_topk_multi can feed positional clauses from
    the same decode-each-term-once machinery (query_id is any caller key —
    the Boolean batch packs (qid, clause) into it).

    queries: key -> (terms, window); window=None means exact consecutive
    phrase, window=W means NEAR (all terms within ±W of an anchor terms[0]
    occurrence). Each `terms` element may be a single term or a list of
    ALTERNATIVE terms for that slot (MultiPhraseQuery — same union-key
    contract as _bucketed_matches; a slot is dead only when EVERY
    alternative is absent from the bucket).

    local_cut: optional {key: (k, tfnorm_margin)} — per-bucket EXACT
    top-k pruning for rank-only consumers (positional_topk_indexed_multi).
    When set, each (query, bucket) additionally emits ONE count sentinel
    row (doc_id = -1, phrase_tf = number matched in the bucket — sum
    these for the query's exact df) and its candidate rows are cut to the
    bucket-local top-k by (tf_norm desc, doc_id asc) widened by
    `tfnorm_margin`: every doc with tf_norm ≥ kth_local − margin is kept.
    With margin = 10^-SCORE_ROUND_DECIMALS / idf_lb (idf_lb from the
    query's min term df, an upper bound on phrase df since matches ⊆ any
    term's postings) a dropped doc's final ROUNDED score is strictly below
    k kept docs' — the same rounding-quantum discipline as the θ prune
    (_theta_from_best_term) — so the global top-k is exactly preserved.
    Disabled automatically by the caller under over-cap tombstones (the
    anti-join lands after the kernel, which would skew sentinel counts).

    Topology: ONE partition-pruned scan decodes each needed term ONCE
    (regardless of how many queries use it) into doc-range-bucketed array
    rows (the same bucket-packed layout as _bucketed_matches, ~10³ rows
    instead of one per (doc, term)); the per-bucket kernel builds each
    term's sorted composite-key array ONCE, then answers EVERY query from
    constant-offset views of it (phrase slot shift = key + (n − slot),
    which preserves sort order) — the per-query cost is pure numpy
    member-masks / searchsorted over already-built arrays. The old
    broadcast-join + groupBy(qid, doc) Catalyst fold materialized one JVM
    row per (doc, slot, qid) — query-count-multiplied row explosion that
    the bucket layout eliminates."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    all_terms = sorted(
        {
            t
            for spec in queries.values()
            for slot in spec[0]
            for t in ([slot] if isinstance(slot, str) else slot)
        }
    )
    if not all_terms or not queries:
        empty = _local_frame(
            spark, [], "query_id int, doc_id long, phrase_tf int, doc_len int"
        )
        return empty, stats
    if stats.get("posting_format") != POSTING_FORMAT_POSITIONS:
        raise ValueError(
            f"{index_dir} is not a positions index "
            f"(posting_format={stats.get('posting_format')})"
        )
    n_partitions = stats["n_partitions"]
    parts = sorted({term_partition(t, n_partitions) for t in all_terms})
    probe = _segments(spark, index_dir).select("partition_id", "term", "blob").filter(
        F.col("partition_id").isin(parts) & F.col("term").isin(all_terms)
    )

    # scan-stage parallelism = number of pruned parquet FILES otherwise —
    # a big batch over a compact store decoded on ~a dozen tasks no matter
    # the core count (measured: the 8→32-core 400-query pair sat at 0.35
    # efficiency from this alone). Same gate/shuffle as the BM25 executor.
    info = probe_dictionary(spark, index_dir, all_terms, n_partitions)
    probe = _spread_slices(
        probe, spark, sum(int(v["df"]) for v in info.values())
    )

    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    shift = _bucket_shift(spark, stats)

    def pack(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdf_iter:
            out = {k: [] for k in ("bucket", "term", "docs", "dls", "tfs", "flat")}
            for term, blob in zip(pdf["term"], pdf["blob"]):
                docs, tfs, dls, flat = decode_postings_with_positions_flat(bytes(blob))
                if tomb_bc is not None and docs.size:
                    m = live_mask(docs, tomb_bc.value)
                    if not m.all():
                        flat = flat[np.repeat(m, tfs.astype(np.int64))]
                        docs, tfs, dls = docs[m], tfs[m], dls[m]
                if docs.size == 0:
                    continue
                docs = docs.astype(np.int64)
                buckets = docs >> shift  # docs sorted → nondecreasing
                ub, starts = np.unique(buckets, return_index=True)
                ends = np.append(starts[1:], docs.size)
                poff = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
                for bkt, a, z in zip(ub, starts, ends):
                    out["bucket"].append(int(bkt))
                    out["term"].append(term)
                    out["docs"].append(docs[a:z])
                    out["dls"].append(dls[a:z].astype(np.int32))
                    out["tfs"].append(tfs[a:z].astype(np.int32))
                    out["flat"].append(flat[poff[a]:poff[z]].astype(np.int64))
            if out["bucket"]:
                yield pd.DataFrame(out)

    packed = probe.mapInPandas(
        pack,
        schema=(
            "bucket long, term string, docs array<long>, dls array<int>, "
            "tfs array<int>, flat array<long>"
        ),
    )
    # spec tuples: (terms, window) or (terms, window, ordered) — ordered
    # means SpanNearQuery(inOrder=true) with window as the slop; slot
    # elements may be alternative-term tuples (MultiPhraseQuery)
    qspec = {
        int(qid): (
            [
                s if isinstance(s, str) else tuple(sorted(set(s)))
                for s in spec[0]
            ],
            None if spec[1] is None else int(spec[1]),
            bool(spec[2]) if len(spec) > 2 else False,
        )
        for qid, spec in queries.items()
    }
    if any(o and w is None for _ts, w, o in qspec.values()):
        raise ValueError("ordered span-near needs a slop window (≥ 0)")
    pos_mask = (1 << _POS_BITS) - 1
    cut_avgdl = float(stats["avgdl"])  # local-cut tf_norm uses store stats

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        base = int(pdf["bucket"].iloc[0]) << shift
        per: dict[str, tuple] = {}
        for term, grp in pdf.groupby("term"):
            docs = np.concatenate([np.asarray(d, np.int64) for d in grp["docs"]])
            tfs = np.concatenate([np.asarray(t, np.int64) for t in grp["tfs"]])
            flat = np.concatenate([np.asarray(x, np.int64) for x in grp["flat"]])
            dls = np.concatenate([np.asarray(d, np.int64) for d in grp["dls"]])
            keys = (np.repeat(docs - base, tfs) << _POS_BITS) | flat
            keys.sort()
            order = np.argsort(docs, kind="stable")
            per[term] = (keys, docs[order], dls[order])

        slot_cache: dict[tuple, tuple | None] = {}

        def slot_arrs(s):
            """(keys, docs_sorted, dls_sorted) for a slot — a term's
            arrays, or the sorted key union over an alternative tuple
            (duplicate-free: one token per position). None = every
            alternative absent from this bucket."""
            if isinstance(s, str):
                return per.get(s)
            if s in slot_cache:
                return slot_cache[s]
            alts = [per[t] for t in s if t in per]
            if not alts:
                arr = None
            elif len(alts) == 1:
                arr = alts[0]
            else:
                keys = np.sort(np.concatenate([a[0] for a in alts]))
                docs = np.concatenate([a[1] for a in alts])
                dls = np.concatenate([a[2] for a in alts])
                order = np.argsort(docs, kind="stable")
                arr = (keys, docs[order], dls[order])
            slot_cache[s] = arr
            return arr

        oq, od, otf, odl = [], [], [], []
        for qid, (ts, w, ordered) in qspec.items():
            arrs = [slot_arrs(s) for s in ts]
            if any(a is None for a in arrs):
                continue
            n = len(ts)
            if w is None:  # phrase: +(n−slot) preserves sort, shifts position
                inter = arrs[0][0] + n
                for j in range(1, n):
                    kj = arrs[j][0] + (n - j)
                    pos = np.minimum(np.searchsorted(kj, inter), kj.size - 1)
                    inter = inter[kj[pos] == inter]
                    if inter.size == 0:
                        break
                if inter.size == 0:
                    continue
                ids, counts = np.unique(inter >> _POS_BITS, return_counts=True)
            elif ordered:  # span_near(inOrder): greedy chain per anchor
                a0 = arrs[0][0]
                aloc = a0 >> _POS_BITS
                cur = a0
                ok = np.ones(a0.size, dtype=bool)
                for j in range(1, n):
                    kj = arrs[j][0]
                    idx = np.searchsorted(kj, cur, "right")
                    valid = idx < kj.size
                    nxt = kj[np.minimum(idx, kj.size - 1)]
                    valid &= (nxt >> _POS_BITS) == aloc
                    ok &= valid
                    cur = nxt  # garbage on dead lanes; masked by ok
                ok &= ((cur & pos_mask) - (a0 & pos_mask) - (n - 1)) <= w
                if not ok.any():
                    continue
                ids, counts = np.unique(aloc[ok], return_counts=True)
            else:  # NEAR: window probe around every anchor at once
                a0 = arrs[0][0]
                aloc, apos = a0 >> _POS_BITS, a0 & pos_mask
                ok = np.ones(a0.size, dtype=bool)
                for j in range(1, n):
                    kj = arrs[j][0]
                    lo = (aloc << _POS_BITS) | np.maximum(apos - w, 0)
                    hi = (aloc << _POS_BITS) | np.minimum(apos + w, pos_mask)
                    ok &= np.searchsorted(kj, lo, "left") < np.searchsorted(
                        kj, hi, "right"
                    )
                if not ok.any():
                    continue
                ids, counts = np.unique(aloc[ok], return_counts=True)
            d0, dl0 = arrs[0][1], arrs[0][2]
            dls = dl0[np.searchsorted(d0, ids + base)]
            cut = local_cut.get(qid) if local_cut else None
            if cut is not None:
                # count sentinel (exact per-bucket df contribution), then
                # the margin-widened local top-k (see docstring)
                oq.append(np.full(1, qid, np.int32))
                od.append(np.full(1, -1, np.int64))
                otf.append(np.full(1, ids.size, np.int32))
                odl.append(np.zeros(1, np.int32))
                kcut, margin = cut
                if ids.size > kcut:
                    tf64 = counts.astype(np.float64)
                    tfn = (tf64 * (BM25_K1 + 1.0)) / (
                        tf64
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * dls.astype(np.float64) / cut_avgdl)
                    )
                    # kth by (tfn desc, doc_id asc): ids are ascending, so
                    # a stable sort on -tfn realizes the doc_id tiebreak
                    order = np.argsort(-tfn, kind="stable")
                    kth = tfn[order[kcut - 1]]
                    keep = tfn >= kth - margin
                    ids, counts, dls = ids[keep], counts[keep], dls[keep]
            oq.append(np.full(ids.size, qid, np.int32))
            od.append(ids + base)
            otf.append(counts.astype(np.int32))
            odl.append(dls.astype(np.int32))
        if not oq:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int32"),
                 "doc_id": pd.Series(dtype="int64"),
                 "phrase_tf": pd.Series(dtype="int32"),
                 "doc_len": pd.Series(dtype="int32")}
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(oq),
                "doc_id": np.concatenate(od),
                "phrase_tf": np.concatenate(otf),
                "doc_len": np.concatenate(odl),
            }
        )

    matched = packed.groupBy("bucket").applyInPandas(
        match, schema="query_id int, doc_id long, phrase_tf int, doc_len int"
    )
    if tomb_over is not None:  # per-doc predicate → post-match anti-join ok
        matched = matched.join(tomb_over, "doc_id", "left_anti")
    return matched, stats


def positional_topk_indexed_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, tuple[list[str], int | None]],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch positional executor: (query_id, rank, doc_id, score) for many
    phrase/NEAR queries in ONE plan — the positional twin of
    bm25_segments.topk_segments_multi (round-3 VERDICT item 8). Matching
    is positional_matches_multi (see its docstring for the bucket-packed
    topology); this adds per-query phrase-idf BM25 scoring + windows.
    Results are per-query identical to phrase_topk_indexed /
    near_topk_indexed (tested)."""
    # per-bucket EXACT local top-k (see positional_matches_multi): rank
    # only needs each bucket's best k rows plus an exact df, so the match
    # kernel emits count sentinels + margin-widened local top-ks instead
    # of every matched doc — the 400-query/8M-doc batch previously pushed
    # 126M (query, doc) rows through the df/rank exchange (measured: 37 s
    # → the exchange, not the kernel, dominated and capped 8→32-core
    # scaling at 0.40). margin = rounding quantum / idf lower bound from
    # the query's rarest term df (phrase df ≤ any term df). Disabled
    # under over-cap tombstones (anti-join lands after the kernel).
    local_cut: dict[int, tuple[int, float]] | None = None
    _tomb_bc, tomb_over = _tombstones(spark, index_dir)
    if tomb_over is None and queries:
        stats0 = json.load(open(os.path.join(index_dir, "stats.json")))
        n0 = float(stats0["n_docs"])
        all_terms = sorted(
            {
                t
                for spec in queries.values()
                for slot in spec[0]
                for t in ([slot] if isinstance(slot, str) else slot)
            }
        )
        info = probe_dictionary(spark, index_dir, all_terms)
        quantum = 10.0 ** (-SCORE_ROUND_DECIMALS)
        local_cut = {}
        for qid, spec in queries.items():
            # per-slot df upper bound: a term's df, or the SUM over an
            # alternative tuple (match docs ⊆ union of alts' postings);
            # a slot with no indexed alternative matches nothing → no cut
            bounds: list[int] | None = []
            for s in spec[0]:
                alts = [s] if isinstance(s, str) else list(s)
                dfs_ = [int(info[t]["df"]) for t in alts if t in info]
                if not dfs_:
                    bounds = None
                    break
                bounds.append(sum(dfs_))
            if bounds:
                # clamp: an alternative-sum can exceed n_docs; df ≤ n_docs
                df_ub = min(min(bounds), int(n0))
                idf_lb = _idf(float(df_ub), n0)
                # degenerate idf (term in ~every doc) → infinite margin:
                # the cut keeps everything but the sentinel still carries
                # the exact count, so the split stays total per query
                margin = quantum / idf_lb if idf_lb > 0 else float("inf")
                local_cut[int(qid)] = (int(k), float(margin))

    matched, stats = positional_matches_multi(
        spark, index_dir, queries, local_cut=local_cut
    )
    if not queries:
        return _local_frame(spark, [], "query_id int, rank int, doc_id long, score double")
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])
    if local_cut:
        # sentinel rows (doc_id = -1) carry per-bucket match counts; their
        # per-query sum is the EXACT phrase df. Queries outside local_cut
        # (absent terms) match nothing, so the split is total.
        w_df = Window.partitionBy("query_id")
        matched = (
            matched.withColumn(
                "df_phrase",
                F.sum(
                    F.when(F.col("doc_id") == -1, F.col("phrase_tf")).otherwise(0)
                ).over(w_df).cast("double"),
            )
            .filter(F.col("doc_id") >= 0)
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            matched.withColumn(
                "score",
                F.round(
                    idf_expr(F.col("df_phrase"), F.lit(n_docs))
                    * tf_norm_expr(
                        F.col("phrase_tf").cast("double"),
                        F.col("doc_len").cast("double"),
                        F.lit(avgdl),
                        k1,
                        b,
                    ),
                    SCORE_ROUND_DECIMALS,
                ),
            )
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
    # fallback (over-cap tombstones): full matched stream
    # per-query df as a COUNT WINDOW over the matched stream, not a
    # groupBy-then-join: the join form evaluates the whole pack+match
    # pipeline TWICE (once per subtree — measured 65 s vs 33 s for a
    # 400-query batch at 8M docs); both windows partition by query_id so
    # they share one exchange of the (small) matched rows
    w_df = Window.partitionBy("query_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        matched.withColumn(
            "df_phrase", F.count(F.lit(1)).over(w_df).cast("double")
        )
        .withColumn(
            "score",
            F.round(
                idf_expr(F.col("df_phrase"), F.lit(n_docs))
                * tf_norm_expr(
                    F.col("phrase_tf").cast("double"),
                    F.col("doc_len").cast("double"),
                    F.lit(avgdl),
                    k1,
                    b,
                ),
                SCORE_ROUND_DECIMALS,
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def near_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    window: int,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Proximity-BM25 top-k from the positions index — result-identical to
    near_topk (the probe and pivot are shared with phrase_topk_indexed;
    only the per-doc position predicate differs)."""
    pivoted, stats_df = _candidate_positions(spark, index_dir, terms)
    n = len(terms)
    cond = _near_anchor_cond([F.col(str(j)) for j in range(1, n)], window)
    matched = (
        pivoted.dropna(subset=[str(j) for j in range(n)])
        .withColumn("phrase_tf", F.size(F.filter(F.col("0"), cond)))
        .filter(F.col("phrase_tf") > 0)
        .select("doc_id", "phrase_tf", "doc_len")
    )
    return _rank_matches(matched, stats_df, k, k1, b)


def spanfirst_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    end: int,
    slop: int | None = None,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene SpanFirstQuery: the wrapped span — an exact phrase over
    `terms` (slop None), or an in-order span-near with `slop` — must END
    within the first `end` token positions (0-based exclusive end, the
    Lucene contract: spans.endPosition() ≤ end). A single term with
    end=1 is the classic 'first word' query. Scored as one synthetic
    term over the restricted match set; same pruned scan and bucket
    kernel, the bound is one vectorized mask on span ends."""
    return _positional_topk(
        spark, index_dir, terms, k, k1, b,
        window=slop, ordered=slop is not None, first=end,
    )


def spannear_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    slop: int,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Ordered-proximity BM25 top-k (Lucene SpanNearQuery(inOrder=true)):
    docs where the terms appear IN ORDER with total gap ≤ slop, scored as
    one synthetic term over the match set (phrase_tf = matching anchors,
    greedy-chain contract — see _bucketed_matches). slop=0 degenerates to
    the exact phrase. Same pruned positions-store scan and bucket-packed
    kernel as phrase/NEAR; only the per-anchor predicate differs."""
    return _positional_topk(
        spark, index_dir, terms, k, k1, b, window=slop, ordered=True
    )


def phrase_suggest(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    max_edits: int = 1,
    per_slot: int = 4,
    max_candidates: int = 50,
    min_freq: int = 1,
    k: int = 5,
) -> DataFrame:
    """ES phrase suggester: did-you-mean for WHOLE phrases, ranked by how
    often each corrected phrase actually occurs in the index.

    Two stages, both riding existing machinery:

    1. candidate generation — per query slot, the dictionary terms within
       Levenshtein ≤ max_edits of that slot's term INCLUDING the term
       itself at distance 0 (one RAM-pinned dictionary pass per slot, the
       suggest_terms/expand_fuzzy kernel with its ±max_edits length band;
       postings never read), ranked (dist asc, df desc, term asc) and cut
       to per_slot. Candidate PHRASES are the cross product of slots,
       minus the identity phrase (total_dist = 0 — a suggestion must
       change something), bounded to max_candidates by
       (total_dist asc, phrase asc).

    2. verification + ranking — every candidate phrase's exact-phrase
       document frequency comes from ONE positional_matches_multi plan
       (the batch executor: each needed term decoded once no matter how
       many candidates share it — misspelling neighborhoods overlap
       heavily, so this sharing is the dominant saving), candidates with
       phrase_df < min_freq dropped, ranked
       (phrase_df desc, total_dist asc, suggestion asc) top-k →
       (rank, suggestion, phrase_df, total_dist).

    This is the ES `phrase` suggest contract with the real-index collate
    step built in (ES ranks by a shingle language model then optionally
    `collate`-checks against the index; with the positions store already
    on disk the exact phrase df IS the better language model — no shingle
    sidecar needed, and the score is explainable). Driver state is the
    candidate list (≤ max_candidates strings) — metadata-sized at any
    corpus scale.
    """
    from .bm25_segments import _terms_df

    q = [t.lower() for t in terms if t]
    if len(q) < 2:
        raise ValueError("phrase_suggest wants at least two terms")
    if max_edits < 1:
        raise ValueError("max_edits must be >= 1")
    if per_slot < 1 or max_candidates < 1:
        raise ValueError("per_slot and max_candidates must be >= 1")

    out_schema = "rank int, suggestion string, phrase_df long, total_dist int"
    base = _terms_df(spark, index_dir).groupBy("term").agg(
        F.sum("df").cast("long").alias("df")
    )
    slot_cands: list[list[tuple[str, int]]] = []
    for t in q:
        w = Window.orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        rows = (
            base.filter(F.abs(F.length("term") - F.lit(len(t))) <= int(max_edits))
            .withColumn(
                "dist", F.levenshtein(F.col("term"), F.lit(t), int(max_edits)).cast("int")
            )
            .filter(F.col("dist") >= 0)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= int(per_slot))
            .select("term", "dist")
            .collect()
        )
        if not rows:  # a slot nothing in the vocabulary is near → no phrases
            return _local_frame(spark, [], out_schema)
        slot_cands.append([(r["term"], r["dist"]) for r in rows])

    from itertools import product

    cands = [
        (" ".join(t for t, _ in combo), sum(d for _, d in combo), [t for t, _ in combo])
        for combo in product(*slot_cands)
    ]
    cands = [c for c in cands if c[1] > 0]
    cands.sort(key=lambda c: (c[1], c[0]))
    cands = cands[: int(max_candidates)]
    if not cands:
        return _local_frame(spark, [], out_schema)

    matched, _stats = positional_matches_multi(
        spark, index_dir, {i: (c[2], None) for i, c in enumerate(cands)}
    )
    counts = {
        r["query_id"]: r["phrase_df"]
        for r in matched.filter(F.col("phrase_tf") > 0)
        .groupBy("query_id")
        .agg(F.count_distinct("doc_id").alias("phrase_df"))
        .collect()
    }
    ranked = sorted(
        (
            (int(counts.get(i, 0)), c[1], c[0])
            for i, c in enumerate(cands)
            if int(counts.get(i, 0)) >= int(min_freq)
        ),
        key=lambda r: (-r[0], r[1], r[2]),
    )[: int(k)]
    return spark.createDataFrame(
        [(j + 1, s, pf, d) for j, (pf, d, s) in enumerate(ranked)], out_schema
    )


def span_not_tf_expr(
    toks: Column,
    include: list[str],
    exclude: list[str],
    pre: int = 0,
    post: int = 0,
) -> Column:
    """Lucene SpanNotQuery: occurrences of the `include` phrase whose
    span does NOT overlap any `exclude` phrase span widened by `pre`
    slots before and `post` after (SpanNotQuery(include, exclude, pre,
    post)). An include anchor at i (span [i, i+nA−1]) is killed by an
    exclude anchor at j (span [j, j+nB−1]) iff

        j ≤ i + nA − 1 + post   AND   j + nB − 1 ≥ i − pre

    Pure Catalyst HOFs over the token array — same scan form and overlap
    semantics family as phrase_tf_expr; count = surviving anchors."""
    if not include or not exclude:
        raise ValueError("span_not needs non-empty include and exclude phrases")
    if pre < 0 or post < 0:
        raise ValueError("pre and post must be >= 0")
    nA, nB = len(include), len(exclude)

    def _is_start(terms):
        def f(i: Column) -> Column:
            return reduce(
                operator.and_,
                [F.get(toks, i + F.lit(j)) == F.lit(t) for j, t in enumerate(terms)],
            )

        return f

    idxs = F.transform(toks, lambda _x, i: i)
    a = F.filter(idxs, lambda _x, i: _is_start(include)(i))
    b = F.filter(idxs, lambda _x, i: _is_start(exclude)(i))

    def killed(i: Column) -> Column:
        return F.exists(
            b,
            lambda j: (j <= i + F.lit(nA - 1 + int(post)))
            & (j + F.lit(nB - 1) >= i - F.lit(int(pre))),
        )

    return F.size(F.filter(a, lambda i: ~killed(i)))


def span_not_match(
    df: DataFrame,
    include: list[str],
    exclude: list[str],
    pre: int = 0,
    post: int = 0,
    content_col: str = "content",
) -> DataFrame:
    """(doc_id, phrase_tf, doc_len) for docs with ≥1 surviving include
    span (SpanNotQuery semantics — see span_not_tf_expr)."""
    toks = tokens_expr(content_col)
    return df.select(
        "doc_id",
        span_not_tf_expr(toks, include, exclude, pre, post).alias("phrase_tf"),
        F.size(toks).alias("doc_len"),
    ).filter(F.col("phrase_tf") > 0)


def span_not_topk(
    df: DataFrame,
    include: list[str],
    exclude: list[str],
    pre: int = 0,
    post: int = 0,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    content_col: str = "content",
) -> DataFrame:
    """SpanNotQuery top-k: surviving-span count scored as one synthetic
    term through the shared BM25 rank tail (same contract as
    phrase_topk)."""
    toks = tokens_expr(content_col)
    meta = df.select(
        "doc_id",
        span_not_tf_expr(toks, include, exclude, pre, post).alias("phrase_tf"),
        F.size(toks).alias("doc_len"),
    )
    stats = meta.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
    )
    return _rank_matches(meta.filter(F.col("phrase_tf") > 0), stats, k, k1, b)
