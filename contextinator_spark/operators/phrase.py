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
  offset: occurrences = |P0 ∩ (P1−1) ∩ … ∩ (P(n−1)−(n−1))|. At 100 TB
  the scan form touches the whole corpus per query; the indexed form
  touches df(term) postings only.

  One numpy kernel answers every indexed positional query — phrase,
  multiphrase, phrase-prefix, NEAR, ordered span-near and span-first,
  single or batched, and the Boolean executors' positional clauses:
  _pack_term_blobs decodes each needed term once into doc-range-bucketed
  array rows, _match_bucket answers every query spec of a bucket with
  sorted composite keys. positional_matches_multi runs a batch as one
  Spark plan over the two; positional_matches is a batch of one. The
  single-query top-k (_positional_topk) runs the same two functions on
  the driver when the slot terms hold at most DRIVER_TOPK_MAX_DF
  positions (Σcf) and the tombstones fit the broadcast cap, and returns
  a LocalRelation: no Spark job. The scan forms (phrase_topk, near_topk,
  span_not_topk) share no code with the kernel and are the independent
  references the tests pin it against.

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
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
    _rank_tail,
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
    (n_docs, avgdl) frame joined by broadcast; df_phrase is a count window
    over the matched set, so the plan computing `matches` runs once (an
    aggregate crossJoined back would evaluate it twice — the kernel or
    the corpus scan included). One lazy plan ending in
    TakeOrderedAndProject (_rank_tail)."""
    scored = (
        matches.withColumn(
            "df_phrase", F.count(F.lit(1)).over(Window.partitionBy()).cast("double")
        )
        .crossJoin(F.broadcast(stats))
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
    )
    return _rank_tail(scored, k)


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


# ---------------------------------------------------------------------------
# the positional match kernel (every indexed positional query)
# ---------------------------------------------------------------------------
# Pack (_pack_term_blobs): each needed term's postings are decoded ONCE,
# however many queries or slots use it, into array rows keyed by
# (doc-id-range bucket, term) — a few thousand rows where a per-doc JVM
# form would hold one row per (doc, slot, query).
# Match (_match_bucket): per bucket, each term's sorted composite-key
# array is built once,
#   key = (local_doc << _POS_BITS) | position,
# and every query spec of the batch is answered from views of it:
# phrase:  tf(d) = |∩_j (keys_j + n − j)| — the shifted intersection as
#          one sorted-array member mask per slot (+(n − j) keeps the sort);
# NEAR:    anchor key k survives iff every other slot has a key in
#          [k−w, k+w] clamped to the anchor doc's key range — two
#          searchsorted per slot over ALL anchors at once;
# ordered: span-near(inOrder) as the greedy minimal chain per anchor;
# first:   SpanFirst as one mask on the span's exclusive end.
# A multiphrase slot is the sorted union of its alternatives' keys
# (duplicate-free: a token position holds one term).
# Spark runs the two halves as mapInPandas + groupBy(bucket).applyInPandas
# (_match_plan); the driver path of _positional_topk calls them in-process.
_BUCKET_SHIFT = 18  # 262k docs per match bucket — bounds kernel memory
_POS_BITS = 32  # positions fit 32 bits (token offset in one document)
_POS_MASK = (1 << _POS_BITS) - 1
_BUCKET_ROWS = (
    "bucket long, term string, docs array<long>, dls array<int>, "
    "tfs array<int>, flat array<long>"
)
_QUERY_MATCHES = "query_id int, doc_id long, phrase_tf int, doc_len int"


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


def _specs(queries: dict) -> dict[int, tuple]:
    """Batch specs `(terms, window[, ordered[, first]])` normalized to
    key → (slots, window, ordered, first), each checked as a single query
    is (_check_span). A slot is a term or a sorted tuple of alternatives."""
    specs = {}
    for qid, spec in queries.items():
        window = None if spec[1] is None else int(spec[1])
        ordered = len(spec) > 2 and bool(spec[2])
        first = None if len(spec) < 4 or spec[3] is None else int(spec[3])
        _check_span(window, ordered, first)
        slots = [s if isinstance(s, str) else tuple(sorted(set(s))) for s in spec[0]]
        specs[int(qid)] = (slots, window, ordered, first)
    return specs


def _spec_terms(specs: dict[int, tuple]) -> list[str]:
    """Every term the specs read, sorted."""
    return sorted(
        {
            t
            for slots, *_ in specs.values()
            for s in slots
            for t in ((s,) if isinstance(s, str) else s)
        }
    )


class _LocalCut(NamedTuple):
    """Per-bucket exact top-k cut of the batch top-k (see
    positional_topk_indexed_multi): query key → (k, tf_norm margin), and
    the BM25 parameters and store avgdl the bucket-local tf_norm uses."""

    ks: dict[int, tuple[int, float]]
    k1: float
    b: float
    avgdl: float


def _no_matches() -> pd.DataFrame:
    return pd.DataFrame(
        {"query_id": pd.Series(dtype="int32"),
         "doc_id": pd.Series(dtype="int64"),
         "phrase_tf": pd.Series(dtype="int32"),
         "doc_len": pd.Series(dtype="int32")}
    )


def _pack_term_blobs(
    pdf_iter: Iterator[pd.DataFrame], shift: int, tomb: np.ndarray | None
) -> Iterator[pd.DataFrame]:
    """The pack half of the kernel: (term, blob) rows → doc-range-bucketed
    array rows (_BUCKET_ROWS), one per (bucket, blob), with deleted docs
    (sorted `tomb`) masked out."""
    for pdf in pdf_iter:
        out = {k: [] for k in ("bucket", "term", "docs", "dls", "tfs", "flat")}
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
                out["bucket"].append(int(bkt))
                out["term"].append(term)
                out["docs"].append(docs[a:z])
                out["dls"].append(dls[a:z].astype(np.int32))
                out["tfs"].append(tfs[a:z].astype(np.int32))
                out["flat"].append(flat[poff[a]:poff[z]].astype(np.int64))
        if out["bucket"]:
            yield pd.DataFrame(out)


def _match_bucket(
    pdf: pd.DataFrame,
    shift: int,
    specs: dict[int, tuple],
    cut: _LocalCut | None = None,
) -> pd.DataFrame:
    """The match half of the kernel: one bucket's packed rows →
    (query_id, doc_id, phrase_tf, doc_len) of every spec's matching docs
    in the bucket (specs as _specs returns them). With `cut`, each cut
    query also emits one count sentinel row (doc_id = -1, phrase_tf = its
    match count in the bucket) and keeps only its margin-widened
    bucket-local top-k (positional_topk_indexed_multi)."""
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
        """(keys, docs_sorted, dls_sorted) for a slot — a term's arrays, or
        the sorted key union over an alternative tuple. None = every
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
    for qid, (ts, w, ordered, first) in specs.items():
        arrs = [slot_arrs(s) for s in ts]
        if not arrs or any(a is None for a in arrs):
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
            if first is not None:  # slot-0 keys carry p0 + n = the span end
                inter = inter[(inter & _POS_MASK) <= first]
            if inter.size == 0:
                continue
            ids, counts = np.unique(inter >> _POS_BITS, return_counts=True)
        elif ordered:  # span_near(inOrder): greedy chain per anchor
            # each next position is the smallest key strictly greater than
            # the previous — it minimizes the chain end, so the ≤ slop test
            # is exact; the doc part of the key keeps the chain in one doc
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
            ok &= ((cur & _POS_MASK) - (a0 & _POS_MASK) - (n - 1)) <= w
            if first is not None:  # SpanFirst: chain end p_{n−1} + 1 ≤ N
                ok &= (cur & _POS_MASK) + 1 <= first
            if not ok.any():
                continue
            ids, counts = np.unique(aloc[ok], return_counts=True)
        else:  # NEAR: window probe around every anchor at once
            a0 = arrs[0][0]
            aloc, apos = a0 >> _POS_BITS, a0 & _POS_MASK
            ok = np.ones(a0.size, dtype=bool)
            for j in range(1, n):
                kj = arrs[j][0]
                lo = (aloc << _POS_BITS) | np.maximum(apos - w, 0)
                hi = (aloc << _POS_BITS) | np.minimum(apos + w, _POS_MASK)
                ok &= np.searchsorted(kj, lo, "left") < np.searchsorted(
                    kj, hi, "right"
                )
            if not ok.any():
                continue
            ids, counts = np.unique(aloc[ok], return_counts=True)
        d0, dl0 = arrs[0][1], arrs[0][2]
        dls = dl0[np.searchsorted(d0, ids + base)]
        kcut = cut.ks.get(qid) if cut is not None else None
        if kcut is not None:
            # count sentinel (exact per-bucket df contribution), then the
            # margin-widened local top-k
            oq.append(np.full(1, qid, np.int32))
            od.append(np.full(1, -1, np.int64))
            otf.append(np.full(1, ids.size, np.int32))
            odl.append(np.zeros(1, np.int32))
            kk, margin = kcut
            if ids.size > kk:
                tfn = _tf_norm(counts.astype(np.float64), dls, cut.avgdl, cut.k1, cut.b)
                # kth by (tfn desc, doc_id asc): ids are ascending, so a
                # stable sort on -tfn realizes the doc_id tiebreak
                kth = tfn[np.argsort(-tfn, kind="stable")[kk - 1]]
                keep = tfn >= kth - margin
                ids, counts, dls = ids[keep], counts[keep], dls[keep]
        oq.append(np.full(ids.size, qid, np.int32))
        od.append(ids + base)
        otf.append(counts.astype(np.int32))
        odl.append(dls.astype(np.int32))
    if not oq:
        return _no_matches()
    return pd.DataFrame(
        {
            "query_id": np.concatenate(oq),
            "doc_id": np.concatenate(od),
            "phrase_tf": np.concatenate(otf),
            "doc_len": np.concatenate(odl),
        }
    )


def _driver_matches(
    blobs: pd.DataFrame, specs: dict[int, tuple], tomb: np.ndarray | None
) -> pd.DataFrame:
    """The kernel in-process, for the driver placements (_positional_topk
    and the Boolean executor's): (term, blob) rows → _QUERY_MATCHES rows
    of every spec, packed and matched at _BUCKET_SHIFT."""
    found = [
        _match_bucket(grp, _BUCKET_SHIFT, specs)
        for pdf in _pack_term_blobs([blobs], _BUCKET_SHIFT, tomb)
        for _bkt, grp in pdf.groupby("bucket", sort=False)
    ]
    return pd.concat(found, ignore_index=True) if found else _no_matches()


def _match_plan(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    specs: dict[int, tuple],
    cut: _LocalCut | None = None,
) -> DataFrame:
    """The kernel as one Spark plan: (query_id, doc_id, phrase_tf,
    doc_len) for every spec (_QUERY_MATCHES). One partition-pruned scan
    of the specs' terms, _pack_term_blobs in a mapInPandas,
    _match_bucket per groupBy("bucket") group; over-cap tombstones are an
    anti-join after the kernel (a per-doc predicate, so post-match is
    exact)."""
    terms = _spec_terms(specs)
    if not terms:
        return _local_frame(spark, [], _QUERY_MATCHES)
    n_partitions = stats["n_partitions"]
    parts = sorted({term_partition(t, n_partitions) for t in terms})
    probe = _segments(spark, index_dir).select("partition_id", "term", "blob").filter(
        F.col("partition_id").isin(parts) & F.col("term").isin(terms)
    )
    # scan-stage parallelism = number of pruned parquet FILES otherwise —
    # a big batch over a compact store decoded on ~a dozen tasks no matter
    # the core count (measured: the 8→32-core 400-query pair sat at 0.35
    # efficiency from this alone). Same gate/shuffle as the BM25 executor.
    info = probe_dictionary(spark, index_dir, terms, n_partitions)
    probe = _spread_slices(probe, spark, sum(int(v["df"]) for v in info.values()))

    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    shift = _bucket_shift(spark, stats)

    def pack(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _pack_term_blobs(pdf_iter, shift, None if tomb_bc is None else tomb_bc.value)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        return _match_bucket(pdf, shift, specs, cut)

    matched = (
        probe.mapInPandas(pack, schema=_BUCKET_ROWS)
        .groupBy("bucket")
        .applyInPandas(match, schema=_QUERY_MATCHES)
    )
    if tomb_over is not None:
        matched = matched.join(tomb_over, "doc_id", "left_anti")
    return matched


def positional_matches_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, tuple],
) -> tuple[DataFrame, dict]:
    """Batch positional matcher: (query_id, doc_id, phrase_tf, doc_len)
    rows for many positional queries in ONE plan (the kernel above), plus
    the store's stats dict. query_id is any caller key — the Boolean
    batch packs (qid, clause) into it.

    queries: key -> (terms, window[, ordered[, first]]), the arguments of
    positional_matches: window=None is the exact consecutive phrase,
    window=W NEAR (all terms within ±W of an anchor terms[0] occurrence),
    ordered=True span-near(inOrder) with slop W, first=N SpanFirst. Each
    `terms` element is a term or a list of ALTERNATIVE terms for that slot
    (MultiPhraseQuery; a slot is dead only when EVERY alternative is
    absent). Every spec gets a single query's span checks (_check_span)."""
    specs = _specs(queries)
    stats = _positions_stats(index_dir)
    return _match_plan(spark, index_dir, stats, specs), stats


def positional_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    window: int | None = None,
    ordered: bool = False,
    first: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One positional query as a batch of one: (matched, stats_df) where
    matched is (doc_id, phrase_tf, doc_len) for every doc satisfying the
    positional predicate and stats_df the 1-row (n_docs, avgdl) frame.

    window=None: exact consecutive phrase, phrase_tf = matching start
    positions. window=W: NEAR, all terms within ±W of an anchor terms[0]
    occurrence. ordered=True (needs a window): Lucene
    SpanNearQuery(inOrder=true) — an anchor p0 matches when positions
    p0 < p1 < … < p_{n−1} exist in term order with total gap
    p_{n−1} − p0 − (n−1) ≤ W; phrase_tf counts matching anchors.
    first=N (Lucene SpanFirstQuery, phrase or ordered span only): the
    span must END within the first N positions — p0 + n ≤ N for a
    phrase, p_{n−1} + 1 ≤ N for a span-near chain. Each `terms` element
    may be a list of alternative terms for its slot (MultiPhraseQuery).

    Serves the Boolean executor's positional clauses and the tests;
    _positional_topk runs the same plan, or the same kernel on the
    driver."""
    spec = (_slot_terms(terms), window, ordered, first)
    matched, stats = positional_matches_multi(spark, index_dir, {0: spec})
    return matched.drop("query_id"), _stats_frame(spark, stats)


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
    reads the terms' blobs (_read_partitions), runs the kernel in-process
    (_driver_matches), scores with _idf/_tf_norm and ranks with
    bm25_segments._topk_frame, which rounds HALF_UP as F.round does (the
    BM25 driver placement, _topk_driver, ranks the same way). No Spark
    job runs. Otherwise the kernel's Spark plan (_match_plan) feeds
    _rank_matches."""
    specs = _specs({0: (_slot_terms(terms), window, ordered, first)})
    stats = _positions_stats(index_dir)
    info = probe_dictionary(spark, index_dir, _spec_terms(specs), stats["n_partitions"])
    tomb_bc, tomb_over = _tombstones(spark, index_dir)
    if tomb_over is not None or sum(int(v["cf"]) for v in info.values()) > DRIVER_TOPK_MAX_DF:
        matched = _match_plan(spark, index_dir, stats, specs).drop("query_id")
        return _rank_matches(matched, _stats_frame(spark, stats), k, k1, b)

    pids = sorted({info[t]["partition_id"] for t in info})
    blobs = _read_partitions(index_dir, "segments", pids, sorted(info), _BLOB_SCHEMA)
    matched = _driver_matches(blobs.to_pandas(), specs, None if tomb_bc is None else tomb_bc.value)
    docs = matched["doc_id"].to_numpy(np.int64)
    idf = _idf(float(docs.size), float(stats["n_docs"]))
    scores = idf * _tf_norm(
        matched["phrase_tf"].to_numpy(np.float64),
        matched["doc_len"].to_numpy(np.float64),
        float(stats["avgdl"]), k1, b,
    )
    return _topk_frame(spark, docs, scores, k)


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
    whole query runs as ONE multiphrase query: one partition-pruned read
    of terms ∪ expansion, one kernel pass."""
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


def positional_topk_indexed_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, tuple],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Batch positional executor: (query_id, rank, doc_id, score) for many
    positional queries (positional_matches_multi's specs) in ONE plan —
    the positional twin of bm25_segments.topk_segments_multi. Each query
    scores as _rank_matches does: one synthetic term with df = |matched
    docs|, tf = phrase_tf, per-query windows for df and rank."""
    specs = _specs(queries)
    if not specs:
        return _local_frame(spark, [], "query_id int, rank int, doc_id long, score double")
    stats = _positions_stats(index_dir)
    n_docs, avgdl = float(stats["n_docs"]), float(stats["avgdl"])
    # per-bucket EXACT local top-k: rank only needs each bucket's best k
    # rows plus an exact df, so the kernel emits count sentinels +
    # margin-widened local top-ks instead of every matched doc — the
    # 400-query/8M-doc batch otherwise pushed 126M (query, doc) rows
    # through the df/rank exchange (measured: 37 s → the exchange, not the
    # kernel, dominated and capped 8→32-core scaling at 0.40). A doc is
    # kept when its tf_norm ≥ kth_local − margin, margin = rounding
    # quantum / idf lower bound from the query's rarest slot df (phrase
    # df ≤ any slot's df): a dropped doc's ROUNDED score is then strictly
    # below k kept docs' — the θ prune's discipline
    # (bm25_segments._batch_thetas) — so the global top-k is exact. Disabled
    # under over-cap tombstones (the anti-join lands after the kernel and
    # would skew the sentinel counts).
    cut = None
    _tomb_bc, tomb_over = _tombstones(spark, index_dir)
    if tomb_over is None:
        info = probe_dictionary(spark, index_dir, _spec_terms(specs), stats["n_partitions"])
        quantum = 10.0 ** (-SCORE_ROUND_DECIMALS)
        ks: dict[int, tuple[int, float]] = {}
        for qid, (slots, *_) in specs.items():
            # per-slot df upper bound: a term's df, or the SUM over an
            # alternative tuple (match docs ⊆ union of alts' postings);
            # a slot with no indexed alternative matches nothing → no cut
            bounds: list[int] | None = []
            for s in slots:
                dfs_ = [int(info[t]["df"]) for t in ((s,) if isinstance(s, str) else s) if t in info]
                if not dfs_:
                    bounds = None
                    break
                bounds.append(sum(dfs_))
            if bounds:
                # clamp: an alternative-sum can exceed n_docs; df ≤ n_docs
                idf_lb = _idf(float(min(min(bounds), int(n_docs))), n_docs)
                # degenerate idf (term in ~every doc) → infinite margin:
                # the cut keeps everything but the sentinel still carries
                # the exact count, so the split stays total per query
                margin = quantum / idf_lb if idf_lb > 0 else float("inf")
                ks[qid] = (int(k), float(margin))
        if ks:
            cut = _LocalCut(ks, float(k1), float(b), avgdl)

    matched = _match_plan(spark, index_dir, stats, specs, cut)
    # df as a window over the matched stream, not a groupBy-then-join: the
    # join form evaluates the whole pack+match pipeline TWICE (measured
    # 65 s vs 33 s for a 400-query batch at 8M docs); both windows
    # partition by query_id, so they share one exchange
    w_df = Window.partitionBy("query_id")
    if cut is None:
        matched = matched.withColumn("df_phrase", F.count(F.lit(1)).over(w_df))
    else:
        # the sentinels' (doc_id = -1) per-query sum is the EXACT phrase
        # df; queries outside the cut match nothing, so the split is total
        matched = matched.withColumn(
            "df_phrase",
            F.sum(F.when(F.col("doc_id") == -1, F.col("phrase_tf")).otherwise(0)).over(w_df),
        ).filter(F.col("doc_id") >= 0)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        matched.withColumn(
            "score",
            F.round(
                idf_expr(F.col("df_phrase").cast("double"), F.lit(n_docs))
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
    near_topk (shared oracle). Same single-query path as
    phrase_topk_indexed (_positional_topk); only the per-anchor predicate
    differs. Small queries run on the driver with no Spark job."""
    return _positional_topk(spark, index_dir, terms, k, k1, b, window=window)


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
    term over the restricted match set; same pruned read and kernel as
    every positional query, the bound is one vectorized mask on span
    ends."""
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
    greedy-chain contract — see positional_matches). slop=0 degenerates
    to the exact phrase. Same pruned positions-store read and kernel as
    phrase/NEAR; only the per-anchor predicate differs."""
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
