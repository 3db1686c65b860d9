"""Boolean query executor — Lucene BooleanQuery semantics over the segment
store, unifying every query form the engine has into one composable plan:

    MUST      clause must match; contributes to the score
    SHOULD    optional; contributes to the score when it matches (with no
              MUST clause, a doc must match ≥1 SHOULD — which falls out of
              the plan shape: docs enter only through a matching clause)
    MUST_NOT  clause must not match; never contributes to the score
    FILTER    doc_meta predicate restricts candidates without rescoring
              (idf/df/avgdl stay collection-global — Lucene FILTER clause,
              same contract as bm25_segments.scoped_topk_segments)

Clause kinds: ``term``, ``prefix``/``wildcard``/``fuzzy`` (bounded
MultiTermQuery rewrite via bm25_segments.expand_prefix/expand_wildcard/
expand_fuzzy), ``phrase`` / ``near`` / ``phrase_prefix`` (positional,
scored as ONE synthetic term over the matched set —
phrase.positional_matches_multi; phrase_prefix = `"table s*"`, ES
match_phrase_prefix, its trailing prefix expanded into a MultiPhraseQuery
alternatives slot), ``predicate`` (FILTER / negated FILTER).

score(d) = round(Σ_{matching scoring clauses c} boost_c · partial_c(d), 6)
where a term clause's partial is idf·tf_norm (global df), a
prefix/wildcard/fuzzy clause's partial is the Σ over its expansion
(identical to prefix_topk/fuzzy_topk), a positional clause's partial is
BM25 with df = |matched docs|, tf = occurrence count (identical to
phrase_topk_indexed's scoring), and boost_c is the Lucene `^w` multiplier
(default 1). Query-string form (parse_query):

    +hash spark^0.5 -join "table hash"^2 "big table"~3 mer* grup~1 lang:en

Scale shape: ONE Boolean kernel with two placements. _prepare resolves a
batch of queries on the driver (one dictionary probe for every clause
term; a MUST term absent everywhere empties its query with no scan); a
single query is a batch of one.
  * the kernel: _pack_terms decodes each needed term ONCE however many
    clauses or queries share it, masks deleted docs and a query's
    rare-MUST candidates, and emits partial rows (query, slot, role, doc,
    partial) bucketed doc_id mod n_buckets; positional clauses
    (_positional_partials over the positional kernel's matches) and
    doc_meta predicates emit the same rows. _fold_bucket folds whole
    buckets for every query of the batch in numpy: per-slot sums, sum or
    dismax, MUST and msm coverage, MUST_NOT exclusion, FILTER membership;
  * the driver placement (boolean_topk on a small query, _driver_fits)
    runs pack and fold in-process and schedules no Spark job;
  * the Spark placement (_batch_scored: boolean_topk_multi, the composers,
    larger queries) unions the partial rows into ONE
    groupBy(bucket).applyInPandas(fold) exchange;
  * a query's rare single-term MUST clause becomes a broadcast candidate
    mask applied in the pack (searchsorted): THE sound conjunctive prune,
    and bm25_segments.topk_segments_conjunctive is this executor with
    every term MUST. θ/block-max pruning is intentionally ABSENT: θ
    lower-bounds the disjunctive k-th best, which bounds nothing once
    MUST/MUST_NOT constraints reshape the candidate set.

No reference parity: Contextinator has no Boolean search (its query surface
is grep + vector retrieval, search.rs / chroma_ops.py); this is new engine
surface composing the round-4 executors (conjunctive, scoped, MultiTermQuery,
positional) into the standard IR algebra.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field

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
from .bm25_segments import (
    MAX_EXPANSIONS,
    _BLOB_SCHEMA,
    _OUT_CHUNK_ROWS,
    _TOPK_SCHEMA,
    _doc_meta,
    _idf,
    _local_frame,
    _rank_tail,
    _read_partitions,
    _segments,
    _spread_slices,
    _tf_norm,
    _tombstones,
    _topk_frame,
    expand_fuzzy,
    expand_prefix,
    expand_regexp,
    expand_wildcard,
    load_stats,
    probe_dictionary,
)
from .compress import decode_postings
from .deletes import live_mask, live_postings, member_mask
from .phrase import (
    _BUCKET_SHIFT,
    _driver_matches,
    _positions_stats,
    _spec_terms,
    _specs,
    positional_matches_multi,
)

MUST, SHOULD, MUST_NOT, FILTER = "MUST", "SHOULD", "MUST_NOT", "FILTER"


@dataclass(frozen=True)
class Clause:
    """One Boolean clause. kind ∈ {term, prefix, wildcard, regexp, fuzzy,
    phrase, near, predicate}; `terms` carries the token sequence
    (term/phrase/near) or the single pattern (prefix/wildcard/regexp/
    fuzzy); `window` is the NEAR
    radius — or, for a fuzzy clause, the max edit distance; `predicate` is
    a SQL expression over the store's doc_meta columns; `boost` multiplies
    the clause's score partial (Lucene `^w` — scoring clauses only, inert
    on MUST_NOT/FILTER); `const_score` (Lucene `^=v`, ConstantScoreQuery)
    replaces the clause's BM25 partial with a fixed per-doc value — a doc
    matching the clause through ANY number of expansion terms or
    occurrences contributes exactly v once. A `^=v` on a field/range
    clause turns the filter into a scoring clause (ConstantScore over the
    filter), which is the canonical Lucene use."""

    occur: str
    kind: str
    terms: tuple[str, ...] = field(default=())
    window: int | None = None
    predicate: str | None = None
    boost: float = 1.0
    const_score: float | None = None
    # phrase_prefix only: the prefix the token AFTER `terms` must start
    # with (ES match_phrase_prefix — expanded against the dictionary at
    # execution time into a MultiPhraseQuery alternatives slot)
    prefix: str | None = None


_TOKEN_RX = re.compile(r"[a-z0-9_]+")
# scanner: quoted phrase (optional ~N slop, optional ^boost), field:value,
# or a bare word (fuzzy/boost suffixes on words are peeled off in code —
# the word atom must stay greedy so `mer*` and `foo-bar` survive intact)
_SCAN_RX = re.compile(
    r"""\s*(?P<occur>[+-]?)
        (?:
          "(?P<phrase>[^"]*)"(?:~(?P<window>\d+))?
          (?:\^(?P<peq>=)?(?P<pboost>\d+(?:\.\d+)?))?
        | (?P<rfld>[A-Za-z_][A-Za-z0-9_]*):
          (?P<lb>[\[{])\s*(?P<lo>[^\s\]}]+)\s+TO\s+(?P<hi>[^\s\]}]+)\s*(?P<rb>[\]}])
        | (?P<fld>[A-Za-z_][A-Za-z0-9_]*):(?P<val>[^\s"]+)
        | (?P<word>[^\s"]+)
        )""",
    re.VERBOSE,
)
# word suffixes, Lucene order: term~2^3 (fuzzy before boost); `~` alone
# means the Lucene default of 2 edits
_FUZZ_RX = re.compile(r"~(?P<edits>[012]?)$")
_BOOST_RX = re.compile(r"\^(?P<boost>\d+(?:\.\d+)?)$")
# `^=v` constant score (peeled before `^w` — `=` would fail _BOOST_RX)
_CONST_RX = re.compile(r"\^=(?P<v>\d+(?:\.\d+)?)$")

# doc_meta columns a field clause may target (resident store metadata;
# anything else would silently match nothing)
FILTER_FIELDS = ("repo", "path", "lang", "commit")
# range clauses additionally cover the numeric doc_len column
# (Lucene PointRangeQuery vs TermRangeQuery split)
RANGE_FIELDS = FILTER_FIELDS + ("doc_len",)
NUMERIC_FIELDS = ("doc_len",)


def _toks(text: str) -> tuple[str, ...]:
    """The engine's pinned token policy (config.TOKEN_PATTERN semantics):
    lowercase, maximal [a-z0-9_] runs — queries MUST normalize exactly
    like the index writer or matches silently vanish."""
    return tuple(_TOKEN_RX.findall(text.lower()))


def parse_query(q: str) -> list[Clause]:
    """Parse a Lucene-flavored query string into clauses.

    `+x` → MUST, `-x` → MUST_NOT, bare → SHOULD; `"a b"` phrase,
    `"a b"~N` NEAR with window N; a word containing `*` → wildcard
    (trailing-only `*` → prefix); `/re/` → regexp (Lucene RegexpQuery,
    whole-term match); `word~`/`word~1`/`word~2` → fuzzy
    (Lucene FuzzyQuery; bare `~` = 2 edits); any scoring atom may carry a
    trailing `^w` boost (fuzzy-then-boost order, `grup~1^2.5`);
    `field:value` → FILTER predicate (field ∈ FILTER_FIELDS; `value` may
    carry `*` → SQL LIKE), `-field:value` excludes instead;
    `field:[lo TO hi]` / `{lo TO hi}` → range FILTER (Lucene
    TermRangeQuery on strings, PointRangeQuery on doc_len; `*` = open
    bound, `[* TO *]` = field existence, `-` negates). Multi-token
    words ("foo-bar") become phrases — the tokenizer would index them
    adjacently, so the faithful query is positional."""
    clauses: list[Clause] = []
    pos = 0
    while pos < len(q):
        m = _SCAN_RX.match(q, pos)
        if not m or m.end() == pos:
            if q[pos:].strip():
                raise ValueError(f"unparseable query tail: {q[pos:]!r}")
            break
        pos = m.end()
        occur = {"+": MUST, "-": MUST_NOT, "": SHOULD}[m.group("occur")]
        if m.group("phrase") is not None:
            raw = m.group("phrase")
            words = raw.split()
            if "*" in raw:
                # `"table s*"` → phrase-prefix (ES match_phrase_prefix):
                # exact head tokens, then any term starting with the
                # suffix word. Wildcard anywhere else in a phrase is
                # rejected loudly (it would otherwise silently tokenize
                # the `*` away and match a plain phrase).
                if not (words and words[-1].endswith("*") and raw.count("*") == 1):
                    raise ValueError(
                        f'phrase wildcard must be a trailing prefix ("a b*"): {raw!r}'
                    )
                if m.group("window"):
                    raise ValueError("phrase-prefix does not take a slop (~N)")
                pre = _toks(words[-1][:-1])
                head = _toks(" ".join(words[:-1]))
                if len(pre) != 1:
                    raise ValueError(f"bad phrase-prefix word: {words[-1]!r}")
                if not head:
                    raise ValueError(
                        "phrase-prefix needs at least one exact leading "
                        "term (use bare `s*` for a prefix query)"
                    )
                pb = m.group("pboost")
                is_const = m.group("peq") is not None
                clauses.append(
                    Clause(occur, "phrase_prefix", head, prefix=pre[0],
                           boost=1.0 if is_const else (float(pb) if pb else 1.0),
                           const_score=float(pb) if is_const and pb else None)
                )
                continue
            terms = _toks(raw)
            if not terms:
                raise ValueError("empty phrase clause")
            w = m.group("window")
            pb = m.group("pboost")
            # Lucene slop 0 IS an exact phrase — `"a b"~0` must not become
            # a NEAR clause with an unsatisfiable window for distinct terms
            win = int(w) if w else None
            is_const = m.group("peq") is not None
            clauses.append(
                Clause(occur, "near" if win else "phrase", terms,
                       window=win or None,
                       boost=1.0 if is_const else (float(pb) if pb else 1.0),
                       const_score=float(pb) if is_const and pb else None)
            )
        elif m.group("rfld") is not None:
            # Lucene range syntax: field:[lo TO hi] inclusive, {lo TO hi}
            # exclusive, mixable; `*` is an open bound ([* TO *] is the
            # field-existence query). TermRangeQuery on string fields,
            # PointRangeQuery semantics on numeric doc_len. Ranges are
            # filter-context only (non-scoring fields), like field:value.
            fld = m.group("rfld").lower()
            if fld not in RANGE_FIELDS:
                raise ValueError(
                    f"unknown range field {fld!r} (have {RANGE_FIELDS})"
                )

            def _bound(op: str, v: str) -> str | None:
                if v == "*":
                    return None
                if fld in NUMERIC_FIELDS:
                    try:
                        float(v)
                    except ValueError:
                        raise ValueError(
                            f"numeric range field {fld!r} needs numeric "
                            f"bounds, got {v!r}"
                        ) from None
                    return f"{fld} {op} {v}"
                return f"{fld} {op} '{v.replace(chr(39), chr(39) * 2)}'"

            parts = [
                p
                for p in (
                    _bound(">=" if m.group("lb") == "[" else ">", m.group("lo")),
                    _bound("<=" if m.group("rb") == "]" else "<", m.group("hi")),
                )
                if p
            ]
            pred = " AND ".join(parts) if parts else f"{fld} IS NOT NULL"
            clauses.append(
                Clause(MUST_NOT if occur == MUST_NOT else FILTER,
                       "predicate", predicate=pred)
            )
        elif m.group("fld") is not None:
            fld, val = m.group("fld").lower(), m.group("val")
            const = None
            vc = _CONST_RX.search(val)
            if vc:  # ^=v: ConstantScore over the filter → scoring clause
                const, val = float(vc.group("v")), val[: vc.start()]
            else:
                vb = _BOOST_RX.search(val)
                if vb:  # boost on a filter-context clause is inert (Lucene)
                    val = val[: vb.start()]
            if fld not in FILTER_FIELDS:
                raise ValueError(
                    f"unknown filter field {fld!r} (have {FILTER_FIELDS})"
                )
            esc = val.replace("'", "''")
            pred = (
                f"{fld} LIKE '{esc.replace('*', '%')}'"
                if "*" in val
                else f"{fld} = '{esc}'"
            )
            # +field:v and field:v both restrict (Lucene treats a bare
            # field clause on a non-scoring field as a filter); with ^=v
            # the clause scores, so +/bare keep their MUST/SHOULD meaning
            if const is not None and occur != MUST_NOT:
                clauses.append(
                    Clause(occur, "predicate", predicate=pred,
                           const_score=const)
                )
            else:
                clauses.append(
                    Clause(MUST_NOT if occur == MUST_NOT else FILTER,
                           "predicate", predicate=pred)
                )
        else:
            word = m.group("word")
            boost, edits, const = 1.0, None, None
            cm = _CONST_RX.search(word)
            if cm:
                const, word = float(cm.group("v")), word[: cm.start()]
            bm = _BOOST_RX.search(word)
            if bm:
                boost, word = float(bm.group("boost")), word[: bm.start()]
            if const is not None and boost != 1.0:
                raise ValueError(
                    f"{m.group('word')!r}: ^=v and ^w are mutually exclusive"
                )
            # /pattern/ → RegexpQuery (Lucene syntax; whole-term match,
            # lowercased to the index's token normalization). Peeled
            # before the fuzzy suffix so `/a~b/` stays a regex literal.
            if len(word) > 2 and word.startswith("/") and word.endswith("/"):
                clauses.append(
                    Clause(occur, "regexp", (word[1:-1].lower(),),
                           boost=boost, const_score=const)
                )
                continue
            fm = _FUZZ_RX.search(word)
            if fm:
                edits, word = int(fm.group("edits") or 2), word[: fm.start()]
            if not word:
                raise ValueError("dangling ~/^ suffix with no term")
            # any ~/^ still present is a malformed suffix (`term~3`,
            # `term^`, `a^b`) — raise rather than silently reparse the
            # suffix digits as a second phrase token
            if "~" in word or "^" in word:
                raise ValueError(
                    f"malformed ~/^ suffix in {m.group('word')!r} "
                    "(fuzzy supports ~, ~0, ~1, ~2; boost needs a number)"
                )
            if "*" in word:
                if edits is not None:
                    raise ValueError(f"wildcard cannot also be fuzzy: {word!r}~")
                body = word.lower()
                if not _TOKEN_RX.fullmatch(body.replace("*", "")):
                    raise ValueError(f"bad wildcard pattern {word!r}")
                kind = (
                    "prefix"
                    if body.count("*") == 1 and body.endswith("*")
                    else "wildcard"
                )
                pat = body[:-1] if kind == "prefix" else body
                clauses.append(
                    Clause(occur, kind, (pat,), boost=boost, const_score=const)
                )
            else:
                terms = _toks(word)
                if not terms:
                    raise ValueError(f"word {word!r} has no indexable tokens")
                if edits is not None:
                    if len(terms) != 1:
                        raise ValueError(f"fuzzy needs a single token: {word!r}")
                    if edits == 0:  # term~0 is an exact term query
                        clauses.append(
                            Clause(occur, "term", terms, boost=boost,
                                   const_score=const)
                        )
                    else:
                        clauses.append(
                            Clause(occur, "fuzzy", terms, window=edits,
                                   boost=boost, const_score=const)
                        )
                elif len(terms) == 1:
                    clauses.append(
                        Clause(occur, "term", terms, boost=boost,
                               const_score=const)
                    )
                else:  # "foo-bar" indexes as adjacent tokens → phrase
                    clauses.append(
                        Clause(occur, "phrase", terms, boost=boost,
                               const_score=const)
                    )
    if not clauses:
        raise ValueError("empty query")
    return clauses


def _clause_terms(
    spark: SparkSession, index_dir: str, c: Clause, max_expansions: int
) -> list[str]:
    """Terms a term-ish clause scores over (prefix/wildcard/fuzzy →
    bounded dictionary expansion; dictionary-only, zero posting reads)."""
    if c.kind == "term":
        return list(c.terms)
    if c.kind == "prefix":
        return expand_prefix(spark, index_dir, c.terms[0], max_expansions)
    if c.kind == "wildcard":
        return expand_wildcard(spark, index_dir, c.terms[0], max_expansions)
    if c.kind == "regexp":
        return expand_regexp(spark, index_dir, c.terms[0], max_expansions)
    if c.kind == "fuzzy":
        return expand_fuzzy(
            spark, index_dir, c.terms[0],
            max_edits=c.window or 2, max_expansions=max_expansions,
        )
    raise ValueError(f"not a term clause: {c.kind}")


def _positional_slots(
    spark: SparkSession, index_dir: str, c: Clause, max_expansions: int
) -> list | None:
    """Slot list a positional clause matches over. phrase/NEAR pass their
    terms through; phrase_prefix appends the bounded dictionary expansion
    of its prefix as an ALTERNATIVES slot (MultiPhraseQuery — the kernel
    unions the slot's postings keys). None = the prefix expands to no
    dictionary term, so the clause can never match."""
    if c.kind != "phrase_prefix":
        return list(c.terms)
    exp = expand_prefix(spark, index_dir, c.prefix, max_expansions)
    if not exp:
        return None
    return [*c.terms, exp]


_SLOT_BASE = 1024  # positional keys pack (qid, clause-slot); slots < 1024
_TERMISH = ("term", "prefix", "wildcard", "fuzzy", "regexp")
_POSITIONAL = ("phrase", "near", "phrase_prefix")
_SCORED_SCHEMA = "query_id int, doc_id long, score double"
# role of a partial row: a scoring MUST or SHOULD clause, a MUST_NOT
# clause's match, a doc passing the query's FILTER clauses
_R_MUST, _R_SHOULD, _R_NOT, _R_FILTER = 0, 1, 2, 3
_ROLE = {MUST: _R_MUST, SHOULD: _R_SHOULD, MUST_NOT: _R_NOT, FILTER: _R_FILTER}
_PARTIALS = (
    "bucket long, query_id int, slot int, role tinyint, doc_id long, "
    "partial double, is_const boolean"
)
_PACK_COLS = ("bucket", "query_id", "slot", "role", "doc_id", "partial", "is_const")


def _by_key(key: str, values: dict) -> Column:
    """values[<key column>] as a Column: one literal when every key maps to
    the same value, else a map literal indexed by the key. Per-query
    driver constants ride the plan this way instead of a join against a
    driver-built frame."""
    distinct = set(values.values())
    if len(distinct) == 1:
        return F.lit(distinct.pop())
    return F.create_map(*[F.lit(x) for kv in values.items() for x in kv])[F.col(key)]


# ---------------------------------------------------------------------------
# the Boolean kernel: one pack, one fold, two placements. Partial rows are
# bucketed doc_id mod n_buckets, so a bucket holds every row of its
# (query, doc) pairs; n_buckets = max(4 × parallelism, n_docs >> 18)
# keeps ~262k docs per fold call at most, whether doc ids are dense or
# hashed (a doc-range rule gives hashed ids one bucket per doc).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _Kernel:
    """Driver-built constants of the kernel. Pack: `fan` maps each matched
    term to the (query ids, slots, roles, weights, const flags) of its
    uses: a BM25 use scores weight·tf_norm (weight = idf·boost), a const
    use its v, a MUST_NOT use 0; `pos` maps a positional clause key
    (qid·_SLOT_BASE + slot) to its (role, boost, const v or NaN). Fold:
    aligned with the sorted query ids `qids`, each query's MUST clause
    count, msm and whether it has FILTER clauses; the combiner."""

    fan: dict[str, tuple[np.ndarray, ...]]
    pos: dict[int, tuple[int, float, float]]
    n_docs: float
    avgdl: float
    k1: float
    b: float
    n_buckets: int
    qids: np.ndarray
    n_must: np.ndarray
    msm: np.ndarray
    filtered: np.ndarray
    dismax: bool
    tie: float
    out_rows: int = _OUT_CHUNK_ROWS


def _pack_terms(pdf_iter, kern: _Kernel, tomb: np.ndarray | None = None, cand: dict | None = None):
    """The term pack: (term, blob) rows → partial rows (_PARTIALS) for
    every use of each term, each blob decoded once. Deleted docs (sorted
    `tomb`) are masked, and so are, for a query in `cand` (query id →
    sorted doc ids of its rarest MUST term), the docs outside its
    candidates. Rows come in chunks of about kern.out_rows."""
    cand = cand or {}
    out, n_out = {c: [] for c in _PACK_COLS}, 0
    for pdf in pdf_iter:
        for term, blob in zip(pdf["term"], pdf["blob"]):
            docs, tfs, dls = live_postings(blob, tomb)
            if docs.size == 0:
                continue
            qa, sa, ra, wa, ka = kern.fan[term]
            bm25 = (ra <= _R_SHOULD) & ~ka
            if bm25.any():
                tfn = _tf_norm(tfs.astype(np.float64), dls.astype(np.float64), kern.avgdl,
                               kern.k1, kern.b)
            buckets = docs.astype(np.int64) % kern.n_buckets
            for i in range(qa.size):
                d, bk = docs, buckets
                p = tfn * wa[i] if bm25[i] else np.full(d.size, wa[i])
                mask = cand.get(int(qa[i]))
                if mask is not None:
                    keep = member_mask(d, mask)
                    d, bk, p = d[keep], bk[keep], p[keep]
                    if d.size == 0:
                        continue
                row = (bk, np.full(d.size, qa[i], np.int32), np.full(d.size, sa[i], np.int32),
                       np.full(d.size, ra[i], np.int8), d, p, np.full(d.size, ka[i], bool))
                for c, v in zip(_PACK_COLS, row):
                    out[c].append(v)
                n_out += d.size
                if n_out >= kern.out_rows:
                    yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})
                    out, n_out = {c: [] for c in _PACK_COLS}, 0
    if n_out:
        yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})


def _positional_partials(pdf_iter, kern: _Kernel):
    """The positional pack: the positional kernel's match rows (query_id =
    qid·_SLOT_BASE + slot, doc_id, phrase_tf, doc_len, df = the clause's
    live match count) → partial rows (_PARTIALS). ConstantScore(phrase)
    scores v per match; any other clause BM25 of one synthetic term:
    idf(df)·tf_norm(phrase_tf)·boost."""
    for m in pdf_iter:
        key = m["query_id"].to_numpy(np.int64)
        ukeys, first, inv = np.unique(key, return_index=True, return_inverse=True)
        inv = inv.reshape(-1)
        role, boost, const = (np.asarray([kern.pos[int(u)][j] for u in ukeys]) for j in range(3))
        idf = np.asarray([_idf(float(n), kern.n_docs) for n in m["df"].to_numpy()[first]])
        tfn = _tf_norm(m["phrase_tf"].to_numpy(np.float64), m["doc_len"].to_numpy(np.float64),
                       kern.avgdl, kern.k1, kern.b)
        is_const = ~np.isnan(const)[inv]
        docs = m["doc_id"].to_numpy(np.int64)
        yield pd.DataFrame({
            "bucket": docs % kern.n_buckets,
            "query_id": (key // _SLOT_BASE).astype(np.int32),
            "slot": (key % _SLOT_BASE).astype(np.int32),
            "role": role.astype(np.int8)[inv],
            "doc_id": docs,
            "partial": np.where(is_const, const[inv], idf[inv] * tfn * boost[inv]),
            "is_const": is_const,
        })


def _fold_bucket(pdf: pd.DataFrame, kern: _Kernel, tomb: np.ndarray | None = None) -> pd.DataFrame:
    """The fold: the partial rows of whole buckets → (query_id, doc_id,
    unrounded score) of every query's hits. A (query, doc) hits when it
    has every MUST slot, at least msm SHOULD slots, no MUST_NOT row and,
    for a filtered query, a FILTER row; docs in the sorted `tomb` never
    hit. A slot's value is the sum of its BM25 partials, or the max of a
    const slot's (equal) values; the score is their sum, or
    max + tie·(sum − max) under dismax. Rows are sorted on (query, doc,
    slot, partial) first, so the sums add in one order whatever order the
    rows arrive in: both placements get the same floats."""
    udocs, dix = np.unique(pdf["doc_id"].to_numpy(np.int64), return_inverse=True)
    pair = pdf["query_id"].to_numpy(np.int64) * udocs.size + dix.reshape(-1)  # (query, doc)
    role = pdf["role"].to_numpy(np.int8)
    sc = role <= _R_SHOULD
    p_pair, p_slot = pair[sc], pdf["slot"].to_numpy(np.int64)[sc]
    part = pdf["partial"].to_numpy(np.float64)[sc]
    o = np.lexsort((part, p_slot, p_pair))
    p_pair, p_slot, part = p_pair[o], p_slot[o], part[o]
    s_role, s_const = role[sc][o], pdf["is_const"].to_numpy(bool)[sc][o]
    # one value per (query, doc, slot), then one score and two coverage
    # counts per (query, doc)
    st = np.flatnonzero(np.diff(p_pair, prepend=-1) | np.diff(p_slot, prepend=-1))
    val = np.where(s_const[st], np.maximum.reduceat(part, st), np.add.reduceat(part, st))
    g_pair, g_role = p_pair[st], s_role[st]
    ps = np.flatnonzero(np.diff(g_pair, prepend=-1))
    score = np.add.reduceat(val, ps)
    if kern.dismax:
        best = np.maximum.reduceat(val, ps)
        score = best + kern.tie * (score - best)
    pairs = g_pair[ps]
    qi = np.searchsorted(kern.qids, pairs // udocs.size)
    keep = (np.add.reduceat((g_role == _R_MUST).astype(np.int64), ps) == kern.n_must[qi]) & (
        np.add.reduceat((g_role == _R_SHOULD).astype(np.int64), ps) >= kern.msm[qi]
    )
    keep &= ~np.isin(pairs, pair[role == _R_NOT])
    if kern.filtered.any():
        keep &= ~kern.filtered[qi] | np.isin(pairs, pair[role == _R_FILTER])
    pairs, score = pairs[keep], score[keep]
    docs = udocs[pairs % udocs.size]
    if tomb is not None:
        live = live_mask(docs, tomb)
        pairs, docs, score = pairs[live], docs[live], score[live]
    return pd.DataFrame(
        {"query_id": (pairs // udocs.size).astype(np.int32), "doc_id": docs, "score": score}
    )


@dataclass(frozen=True)
class _Batch:
    """A Boolean batch resolved on the driver, which both placements run
    from: the dictionary entries of every clause term; the live queries'
    clauses by occur (scoring = [(slot, clause)], slots of MUST_NOT
    clauses numbered after them); each term-ish scoring clause's terms;
    the positional specs (qid·_SLOT_BASE + slot → (slots, window)); the
    kernel constants; the tombstones."""

    info: dict[str, dict]
    live: list[int]
    scoring: dict[int, list[tuple[int, Clause]]]
    nots: dict[int, list[Clause]]
    filters: dict[int, list[Clause]]
    cl_terms: dict[tuple[int, int], list[str]]
    pos: dict[int, tuple[list, int | None]]
    kern: _Kernel
    tomb: tuple


def _prepare(
    spark: SparkSession,
    index_dir: str,
    parsed: dict[int, list[Clause]],
    k1: float,
    b: float,
    max_expansions: int,
    combine: str,
    tie_breaker: float,
    msm: dict[int, int],
) -> _Batch | None:
    """Validate a batch of parsed queries, expand its multi-term and
    phrase-prefix clauses, probe the dictionary ONCE for every clause
    term, and build the kernel constants. None when no query can match: a
    MUST term clause with no indexed expansion, an msm above the query's
    SHOULD clause count (Lucene), or no clause that can emit a scoring
    row (e.g. a SHOULD-only query of unknown words). Term and phrase
    clauses run no Spark job here."""
    if combine not in ("sum", "dismax"):
        raise ValueError(f"combine must be sum|dismax, got {combine!r}")
    if not parsed:
        return None
    stats = load_stats(index_dir)
    n_docs = float(stats["n_docs"])

    scoring: dict[int, list[tuple[int, Clause]]] = {}
    nots: dict[int, list[Clause]] = {}
    filters: dict[int, list[Clause]] = {}
    for qid, cls in parsed.items():
        if qid < 0 or qid >= 2**20:
            raise ValueError(f"query_id out of range [0, 2^20): {qid}")
        if msm[qid] < 0:
            raise ValueError(f"min_should_match must be ≥ 0, got {msm[qid]}")
        sc = [c for c in cls if c.occur in (MUST, SHOULD)]
        if not sc:
            raise ValueError(
                f"query {qid}: BooleanQuery needs ≥1 scoring (MUST/SHOULD) "
                "clause — pure filter/exclusion queries have no ranking signal"
            )
        if any(c.kind == "predicate" and c.const_score is None for c in sc):
            raise ValueError(
                f"query {qid}: predicate clauses are FILTER/MUST_NOT only "
                "(add ^=v for a scoring ConstantScore filter)"
            )
        scoring[qid] = list(enumerate(sc))
        # MUST_NOT slots follow the scoring ones, positional clauses first:
        # only they need a key (qid·_SLOT_BASE + slot)
        nots[qid] = sorted((c for c in cls if c.occur == MUST_NOT),
                           key=lambda c: c.kind not in _POSITIONAL)
        filters[qid] = [c for c in cls if c.occur == FILTER]
        if len(sc) + sum(c.kind in _POSITIONAL for c in nots[qid]) > _SLOT_BASE:
            raise ValueError(f"query {qid}: >{_SLOT_BASE} scoring + positional MUST_NOT clauses")

    # ---- expansion + ONE dictionary probe over every clause term
    # (prefix/wildcard/fuzzy/regexp expand over the cached dictionary
    # frame, as in Lucene's MultiTermQuery rewrite)
    cl_terms: dict[tuple[int, int], list[str]] = {}
    not_terms: dict[int, set[str]] = {}
    pos: dict[int, tuple[list, int | None]] = {}
    pos_pack: dict[int, tuple[int, float, float]] = {}
    for qid, slots in scoring.items():
        for slot, c in [*slots, *enumerate(nots[qid], len(slots))]:
            if c.kind in _POSITIONAL:
                spec = _positional_slots(spark, index_dir, c, max_expansions)
                if spec is not None:  # an unexpandable prefix never matches
                    pos[qid * _SLOT_BASE + slot] = (spec, c.window)
                    pos_pack[qid * _SLOT_BASE + slot] = (
                        _ROLE[c.occur], float(c.boost),
                        np.nan if c.const_score is None else float(c.const_score),
                    )
            elif c.kind in _TERMISH:
                ts = _clause_terms(spark, index_dir, c, max_expansions)
                if c.occur == MUST_NOT:
                    not_terms.setdefault(qid, set()).update(ts)
                else:
                    cl_terms[(qid, slot)] = ts
    all_terms = sorted(set().union(*cl_terms.values(), *not_terms.values(), _spec_terms(pos)))
    n_parts = int(stats["n_partitions"])
    info = probe_dictionary(spark, index_dir, all_terms, n_parts) if all_terms else {}
    live = [
        qid
        for qid, slots in sorted(scoring.items())
        if msm[qid] <= sum(c.occur == SHOULD for _s, c in slots)
        and not any(  # a MUST term clause with no indexed expansion
            c.occur == MUST and c.kind in _TERMISH and not set(cl_terms[(qid, s)]) & set(info)
            for s, c in slots
        )
    ]
    pos = {key: v for key, v in pos.items() if key // _SLOT_BASE in live}

    # ---- the term fan: every (query, slot) using each indexed term. A
    # ConstantScore use's weight IS its partial; a BM25 use's is idf·boost
    fan: dict[str, list[tuple]] = {}
    for (qid, slot), ts in cl_terms.items():
        if qid in live:
            c = scoring[qid][slot][1]
            for t in ts:
                if t in info:
                    fan.setdefault(t, []).append(
                        (qid, slot, _ROLE[c.occur],
                         float(c.const_score) if c.const_score is not None
                         else _idf(float(info[t]["df"]), n_docs) * float(c.boost),
                         c.const_score is not None)
                    )
    if not (
        fan
        or any(pos_pack[key][0] != _R_NOT for key in pos)
        or any(c.kind == "predicate" for qid in live for _s, c in scoring[qid])
    ):
        return None  # nothing can score: the Lucene-faithful result is empty
    for qid in live:
        for t in sorted(not_terms.get(qid, ())):
            if t in info:
                fan.setdefault(t, []).append((qid, len(scoring[qid]), _R_NOT, 0.0, False))

    fan_arrays = {
        t: tuple(
            np.asarray([e[i] for e in v], dt)
            for i, dt in enumerate((np.int32, np.int32, np.int8, np.float64, bool))
        )
        for t, v in fan.items()
    }
    n_must = [sum(c.occur == MUST for _s, c in scoring[q]) for q in live]
    kern = _Kernel(
        fan_arrays, {key: pos_pack[key] for key in pos}, n_docs, float(stats["avgdl"]), k1, b,
        max(4 * spark.sparkContext.defaultParallelism, int(n_docs) >> _BUCKET_SHIFT),
        np.asarray(live, np.int64), np.asarray(n_must, np.int64),
        np.asarray([msm[q] for q in live], np.int64),
        np.asarray([bool(filters[q]) for q in live]), combine == "dismax", float(tie_breaker),
    )
    return _Batch(info, live, scoring, nots, filters, cl_terms, pos, kern,
                  _tombstones(spark, index_dir))


def _driver_fits(batch: _Batch) -> bool:
    """The driver placement's gate: the tombstones fit the broadcast cap,
    no clause reads doc_meta (a predicate, FILTER included), and the
    postings of the term-ish and MUST_NOT terms (Σdf) plus the positions
    of the positional clauses' terms (Σcf) number at most
    DRIVER_TOPK_MAX_DF: the driver holds all of them at once."""
    info = batch.info
    return (
        batch.tomb[1] is None
        and not any(
            c.kind == "predicate"
            for q in batch.live
            for c in (*(c for _s, c in batch.scoring[q]), *batch.nots[q], *batch.filters[q])
        )
        and sum(int(info[t]["df"]) for t in batch.kern.fan)
        + sum(int(info[t]["cf"]) for t in _spec_terms(batch.pos) if t in info)
        <= DRIVER_TOPK_MAX_DF
    )


def _driver_topk(spark: SparkSession, index_dir: str, batch: _Batch, k: int) -> DataFrame:
    """The driver placement: read the clause terms' blobs on the driver
    (_read_partitions), run the pack, the positional kernel
    (phrase._driver_matches) and the fold in-process (one fold over every
    row: a bucket never splits a (query, doc)) and rank with
    bm25_segments._topk_frame, which rounds HALF_UP as F.round does. A
    LocalRelation; no Spark job runs."""
    info, kern = batch.info, batch.kern
    pos_terms = [t for t in _spec_terms(batch.pos) if t in info]
    terms = sorted(set(kern.fan) | set(pos_terms))
    pids = sorted({info[t]["partition_id"] for t in terms})
    blobs = _read_partitions(index_dir, "segments", pids, terms, _BLOB_SCHEMA).to_pandas()
    tomb = None if batch.tomb[0] is None else batch.tomb[0].value
    parts = list(_pack_terms([blobs[blobs["term"].isin(list(kern.fan))]], kern, tomb))
    if pos_terms:
        _positions_stats(index_dir)  # positional clauses need a positions store
        m = _driver_matches(blobs[blobs["term"].isin(pos_terms)], _specs(batch.pos), tomb)
        if len(m):
            m["df"] = m.groupby("query_id")["doc_id"].transform("size")
            parts.extend(_positional_partials([m], kern))
    if not parts:
        return _local_frame(spark, [], _TOPK_SCHEMA)
    scored = _fold_bucket(pd.concat(parts, ignore_index=True), batch.kern)
    return _topk_frame(
        spark, scored["doc_id"].to_numpy(np.int64), scored["score"].to_numpy(np.float64), k
    )


def _spark_scored(
    spark: SparkSession,
    index_dir: str,
    batch: _Batch,
    rare_filter: bool = True,
    _partials_out: list | None = None,
) -> DataFrame:
    """The Spark placement: (query_id, doc_id, score rounded by F.round)
    for every hit of the batch; _batch_scored has the topology."""
    info, live, scoring, kern = batch.info, batch.live, batch.scoring, batch.kern
    tomb_bc, tomb_over = batch.tomb
    parts: list[DataFrame] = []

    # ---- rare-MUST candidate masks (sound conjunctive prune, kernel-side):
    # per query, its rarest indexed single-term MUST clause, when the query
    # scores more than that one term; one gate for the whole batch, since
    # the driver reads and holds every chosen term's postings
    rare: dict[int, str] = {}
    if rare_filter:
        for qid in live:
            must_terms = [
                c.terms[0]
                for _s, c in scoring[qid]
                if c.occur == MUST and c.kind == "term" and c.terms[0] in info
            ]
            terms = {t for s, _c in scoring[qid] for t in batch.cl_terms.get((qid, s), ())}
            if must_terms and len(terms & set(info)) > 1:
                rare[qid] = min(must_terms, key=lambda t: (int(info[t]["df"]), t))
        if sum(int(info[t]["df"]) for t in rare.values()) > DRIVER_TOPK_MAX_DF:
            rare = {}
    cand_bc = None
    if rare:
        rare_terms = sorted(set(rare.values()))
        pids = sorted({info[t]["partition_id"] for t in rare_terms})
        blobs = _read_partitions(index_dir, "segments", pids, rare_terms, _BLOB_SCHEMA)
        cand = {
            t: np.sort(np.concatenate([decode_postings(x)[0] for x in g["blob"]]))
            for t, g in blobs.to_pandas().groupby("term")
        }
        cand_bc = spark.sparkContext.broadcast(
            {qid: cand.get(t, np.empty(0, np.int64)) for qid, t in rare.items()}
        )

    # ---- term-ish and MUST_NOT term clauses: ONE pruned scan + the pack
    if kern.fan:
        pids = sorted({info[t]["partition_id"] for t in kern.fan})
        seg = _segments(spark, index_dir).filter(
            F.col("partition_id").isin(pids) & F.col("term").isin(sorted(kern.fan))
        )
        seg = _spread_slices(seg, spark, sum(int(info[t]["df"]) for t in kern.fan))

        def pack(pdf_iter):
            return _pack_terms(pdf_iter, kern, None if tomb_bc is None else tomb_bc.value,
                               None if cand_bc is None else cand_bc.value)

        parts.append(seg.mapInPandas(pack, schema=_PARTIALS))

    # ---- positional clauses, scoring and MUST_NOT: ONE positional kernel
    # plan; df_phrase is a count window per clause, so it is consumed once
    if batch.pos:
        matched, _ = positional_matches_multi(spark, index_dir, batch.pos)
        parts.append(
            matched.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("query_id")))
            .mapInPandas(functools.partial(_positional_partials, kern=kern), schema=_PARTIALS)
        )

    # ---- doc_meta predicates (metadata-scale scans): ConstantScore
    # clauses score v, negated predicates exclude, and a filtered query's
    # FILTER clauses, ANDed, admit its docs (idf/df/avgdl stay global)
    def meta_rows(pred: str, qid: int, slot: int, role: int, v: float | None) -> DataFrame:
        return _doc_meta(spark, index_dir).filter(pred).select(
            F.pmod("doc_id", F.lit(kern.n_buckets).cast("long")).alias("bucket"),
            F.lit(qid).cast("int").alias("query_id"),
            F.lit(slot).cast("int").alias("slot"),
            F.lit(role).cast("tinyint").alias("role"),
            "doc_id",
            F.lit(0.0 if v is None else float(v)).alias("partial"),
            F.lit(v is not None).alias("is_const"),
        )

    for qid in live:
        n_sc = len(scoring[qid])
        for slot, c in [*scoring[qid], *enumerate(batch.nots[qid], n_sc)]:
            if c.kind == "predicate":
                parts.append(meta_rows(c.predicate, qid, slot, _ROLE[c.occur], c.const_score))
        if batch.filters[qid]:
            pred = " AND ".join(f"({c.predicate})" for c in batch.filters[qid])
            parts.append(meta_rows(pred, qid, n_sc, _R_FILTER, None))

    allp = functools.reduce(DataFrame.unionByName, parts)
    if _partials_out is not None:
        _partials_out.append(allp.filter(F.col("role") <= _R_SHOULD))
    # doc_meta is not tombstone-masked on disk: with scoring predicates the
    # fold drops deleted docs (the term and positional rows come masked)
    scoring_preds = any(c.kind == "predicate" for q in live for _s, c in scoring[q])
    tomb_fold = tomb_bc if scoring_preds else None

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return _fold_bucket(pdf, kern, None if tomb_fold is None else tomb_fold.value)

    scored = allp.groupBy("bucket").applyInPandas(fold, schema=_SCORED_SCHEMA)
    if tomb_over is not None:  # over-cap tombstones: distributed anti-join
        scored = scored.join(tomb_over, "doc_id", "left_anti")
    return scored.select(
        "query_id", "doc_id", F.round("score", SCORE_ROUND_DECIMALS).alias("score")
    )


def _batch_scored(
    spark: SparkSession,
    index_dir: str,
    parsed: dict[int, list[Clause]],
    k1: float,
    b: float,
    max_expansions: int,
    combine: str,
    tie_breaker: float,
    msm: dict[int, int],
    rare_filter: bool = True,
    max_partial_rows: int | None = None,
    k: int = DEFAULT_TOP_K,
    _partials_out: list | None = None,
) -> DataFrame:
    """The Boolean scorer's Spark placement: (query_id, doc_id, score) for
    every doc that satisfies its query's occur algebra, for a batch of
    parsed queries (query_id → clauses, ids in [0, 2^20)) in ONE plan.
    boolean_topk_multi adds the per-query rank window and the composers
    (_boolean_scored) run a batch of one; boolean_topk runs the same
    kernel on the driver when the query is small (_driver_fits).

    Per query, `combine` picks the cross-clause combiner: "sum" is
    BooleanQuery (Σ over matching scoring clauses); "dismax" is
    DisjunctionMaxQuery — each scoring clause first folds to its own score
    (a prefix/fuzzy clause is still a sum over its expansion, per Lucene's
    rewrite), then score = max_c + tie_breaker · Σ_{c' ≠ argmax} c'.
    msm[qid] is Lucene's setMinimumNumberShouldMatch: a doc must match ≥
    that many DISTINCT SHOULD clauses on top of full MUST coverage (a
    clause matching through several expansion terms counts once); more
    than the query's SHOULD clauses matches nothing. Positional clauses
    need a positions store (posting_format=2); term-only queries run on
    either format.

    Topology (one kernel, _prepare resolving the batch on the driver):
      * ONE pruned segment scan of the term-ish and MUST_NOT terms runs
        the pack (_pack_terms) in mapInPandas: each blob decoded once,
        its partial rows fanned out to every (query, slot) using it;
      * rare-MUST candidate masks: a query's rarest single-term MUST
        clause, when the batch's chosen terms hold ≤ DRIVER_TOPK_MAX_DF
        postings in all, is read on the driver and broadcast; the pack
        drops that query's rows outside it (searchsorted);
      * ONE positional kernel plan (phrase.positional_matches_multi) for
        every positional clause of the batch, scoring and MUST_NOT, whose
        matches _positional_partials turns into partial rows; df_phrase
        is a count window per clause, so the plan is consumed once;
      * doc_meta scans add the predicate clauses' rows: ConstantScore,
        MUST_NOT, and one FILTER row set per filtered query;
      * the union takes ONE exchange, groupBy(bucket).applyInPandas(
        _fold_bucket), then F.round. No pivot, anti-join or semi-join.

    `max_partial_rows` bounds the (query, slot, doc) partial stream one
    plan may carry: per-query stream sizes are estimated from the
    dictionary's df column (Σ df over each term clause's expansion, min df
    over a positional clause's terms), and a batch over the bound is
    greedily packed into sub-batches that each fit. Each runs eagerly as
    boolean_topk_multi(k) and the result is their (≤ k per query) rows —
    exact, because queries never interact. This is the single-node safety
    valve for the 64M-doc fold (BENCH/BASELINE.md); on a cluster the fold
    exchange distributes and the bound can stay None.

    `_partials_out`, when given, receives the pre-fold scoring rows
    (boolean_explain decomposes hits with them)."""
    batch = _prepare(spark, index_dir, parsed, k1, b, max_expansions, combine, tie_breaker, msm)
    if batch is None:
        return _local_frame(spark, [], _SCORED_SCHEMA)
    live, info, scoring = batch.live, batch.info, batch.scoring

    # ---- optional stream bound: estimate per-query partial rows from the
    # dictionary (metadata only) and sub-batch greedily when over
    if max_partial_rows is not None and len(live) > 1:
        est: dict[int, int] = {}
        for qid in live:
            rows = 0
            for slot, c in scoring[qid]:
                if c.kind in _POSITIONAL:
                    # estimate from the EXACT terms' dfs (sound row bound:
                    # matches ⊆ any exact term's postings; phrase_prefix
                    # always carries ≥1 exact head term by the parser)
                    dfs = [int(info[t]["df"]) for t in c.terms if t in info]
                    rows += min(dfs) if dfs else 0
                elif c.kind == "predicate":
                    # ConstantScore(filter): selectivity unknown without a
                    # scan, so budget the worst case (every doc matches)
                    rows += int(batch.kern.n_docs)
                else:
                    ts = batch.cl_terms.get((qid, slot), ())
                    rows += sum(int(info[t]["df"]) for t in ts if t in info)
            est[qid] = rows
        if sum(est.values()) > max_partial_rows:
            groups: list[list[int]] = [[]]
            cur_rows = 0
            for qid in live:
                if groups[-1] and cur_rows + est[qid] > max_partial_rows:
                    groups.append([])
                    cur_rows = 0
                groups[-1].append(qid)
                cur_rows += est[qid]
            # sub-batches run EAGERLY (collect per group, ≤ k rows/query)
            # instead of folding into one lazy union: a lazy union keeps
            # every group's multi-GB shuffle files live until the final
            # collect — on tmpfs scratch that accumulation re-creates the
            # very memory cliff the bound exists to avoid (observed: the
            # 64M-doc 100-query run was OOM-killed by ~53 GB of retained
            # sub-batch shuffle on /dev/shm plus the driver heap). After
            # each group the plan is dropped and a JVM GC nudge lets
            # ContextCleaner reap its shuffle files before the next runs.
            rows: list = []
            for g in groups:
                rows.extend(
                    boolean_topk_multi(
                        spark, index_dir, {qid: parsed[qid] for qid in g}, k=k, k1=k1, b=b,
                        max_expansions=max_expansions, combine=combine,
                        tie_breaker=tie_breaker, min_should_match={qid: msm[qid] for qid in g},
                    )
                    .select("query_id", "doc_id", "score")
                    .collect()
                )
                spark.sparkContext._jvm.System.gc()
            return _local_frame(spark, [tuple(r) for r in rows], _SCORED_SCHEMA)
    return _spark_scored(spark, index_dir, batch, rare_filter, _partials_out)


def _boolean_scored(
    spark: SparkSession,
    index_dir: str,
    clauses: list[Clause],
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    rare_filter: bool = True,
    combine: str = "sum",
    tie_breaker: float = 0.0,
    min_should_match: int = 0,
    _partials_out: list | None = None,
) -> DataFrame:
    """The FULL scored match stream (doc_id, score) of one Boolean query:
    _batch_scored over a batch of one (see it for the occur, combine and
    msm contract), query_id dropped. Everything boolean_topk does except
    the rank/limit, so composers that re-weight scores before ranking
    (boosting, rescore, function/decay/script score, explain) reuse the
    whole executor. `rare_filter=False` turns the rare-MUST candidate mask
    off (its parity test)."""
    return _batch_scored(
        spark, index_dir, {0: list(clauses)}, k1, b, max_expansions, combine,
        tie_breaker, {0: int(min_should_match)}, rare_filter=rare_filter,
        _partials_out=_partials_out,
    ).drop("query_id")


def boolean_topk(
    spark: SparkSession,
    index_dir: str,
    clauses: list[Clause],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    rare_filter: bool = True,
    combine: str = "sum",
    tie_breaker: float = 0.0,
    min_should_match: int = 0,
) -> DataFrame:
    """(rank, doc_id, score) for a Boolean query over the segment store
    (_batch_scored has the full occur/scoring contract). One kernel, two
    placements: a small query (_driver_fits) runs it on the driver
    (_driver_topk) — no Spark job; any other runs the Spark placement as
    a batch of one plus the top-k collector tail, a TakeOrderedAndProject
    rather than the batch's rank window, which would sort the whole match
    set on one task. Both return the same rows (tested)."""
    batch = _prepare(
        spark, index_dir, {0: list(clauses)}, k1, b, max_expansions, combine,
        tie_breaker, {0: int(min_should_match)},
    )
    if batch is None:
        return _local_frame(spark, [], _TOPK_SCHEMA)
    if _driver_fits(batch):
        return _driver_topk(spark, index_dir, batch, k)
    return _rank_tail(_spark_scored(spark, index_dir, batch, rare_filter).drop("query_id"), k)


def boosting_topk(
    spark: SparkSession,
    index_dir: str,
    positive: str | list[Clause],
    negative: str | list[Clause],
    negative_boost: float = 0.5,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    combine: str = "sum",
    tie_breaker: float = 0.0,
    min_should_match: int = 0,
) -> DataFrame:
    """Boosting query (ES `boosting`, Lucene BoostingQuery): rank by the
    positive Boolean query's score, DEMOTED by ×negative_boost for docs
    that match the negative query — unlike MUST_NOT, demoted docs stay
    in the result, just lower:

        score(d) = round(pos(d) × (negative_boost if d ∈ M(neg) else 1), 6)

    where pos(d) is the engine's rounded Boolean score and M(neg) is the
    negative query's full match set under its own occur semantics
    (scores discarded — matching is what demotes). negative_boost must
    be in [0, 1): ≥1 would promote, which Lucene forbids.

    Topology: two _boolean_scored plans (the negative one reduced to a
    distinct doc_id set) joined on doc_id — the demotion is a left join
    + one multiply, no new exchange shapes. Top-k pruning on the
    positive side alone would be unsound (a demoted doc may leave the
    top-k), which is exactly why this composes over the FULL scored
    stream, not boolean_topk's collector output."""
    if not (0.0 <= float(negative_boost) < 1.0):
        raise ValueError("negative_boost must be in [0, 1)")
    pos_cl = parse_query(positive) if isinstance(positive, str) else positive
    neg_cl = parse_query(negative) if isinstance(negative, str) else negative
    pos = _boolean_scored(
        spark, index_dir, pos_cl, k1=k1, b=b,
        max_expansions=max_expansions, combine=combine,
        tie_breaker=tie_breaker, min_should_match=min_should_match,
    )
    neg = (
        _boolean_scored(
            spark, index_dir, neg_cl, k1=k1, b=b,
            max_expansions=max_expansions,
        )
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(True))
    )
    demoted = pos.join(neg, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.when(
                F.col("_neg").isNotNull(),
                F.col("score") * F.lit(float(negative_boost)),
            ).otherwise(F.col("score")),
            SCORE_ROUND_DECIMALS,
        ).alias("score"),
    )
    return _rank_tail(demoted, k)


def rescore_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[Clause],
    rescore: str | list[Clause],
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Two-pass rescoring (the ES `rescore` block): the cheap first-pass
    Boolean `query` selects its top `window_size` docs, then ONLY that
    window is re-scored as

        score(d) = round(query_weight × first(d)
                         + rescore_weight × second(d), 6)

    where second(d) is the `rescore` query's Boolean score (0 when the
    doc doesn't match it), and the final top-k is cut from the window.
    The classic use is BM25 first / phrase-proximity second: the
    expensive positional query runs conceptually "against k docs", and
    docs outside the window keep their first-pass order below it.

    Exactness contract: identical to ES — the rescore pass can only
    reorder WITHIN the window; a doc outside the window can never enter
    the top-k (that is the point of the window, not an approximation
    bug). k > window_size is rejected to keep the contract visible.

    Topology: first pass = the full Boolean executor + its collector
    (TakeOrderedAndProject, window_size rows on the driver-side plan, not
    collected); second pass = _boolean_scored(rescore) LEFT-joined to the
    tiny window frame — the window side broadcasts, so the rescore scan
    stays partition-pruned and the join adds no exchange."""
    if k > window_size:
        raise ValueError(
            f"k ({k}) must be ≤ window_size ({window_size}) — rescoring "
            "only reorders within the first-pass window"
        )
    q_cl = parse_query(query) if isinstance(query, str) else query
    r_cl = parse_query(rescore) if isinstance(rescore, str) else rescore
    window = boolean_topk(
        spark, index_dir, q_cl, k=window_size, k1=k1, b=b,
        max_expansions=max_expansions,
    ).select("doc_id", F.col("score").alias("_first"))
    second = _boolean_scored(
        spark, index_dir, r_cl, k1=k1, b=b, max_expansions=max_expansions
    ).select("doc_id", F.col("score").alias("_second"))
    # restrict the rescore stream to the window first (broadcast semi-join
    # — the window is ≤ window_size rows), so the final left join's right
    # side is tiny and broadcastable; the preserved side never broadcasts
    sec_w = second.join(
        F.broadcast(window.select("doc_id")), "doc_id", "left_semi"
    )
    combined = (
        window
        .join(F.broadcast(sec_w), "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.lit(float(query_weight)) * F.col("_first")
                + F.lit(float(rescore_weight))
                * F.coalesce(F.col("_second"), F.lit(0.0)),
                SCORE_ROUND_DECIMALS,
            ).alias("score"),
        )
    )
    return _rank_tail(combined, k)


def function_score_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[Clause],
    field: str = "doc_len",
    modifier: str = "log1p",
    factor: float = 1.0,
    mode: str = "multiply",
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Field-value-factor scoring (the ES `function_score` /
    `field_value_factor` block): the Boolean query's score combined with
    a deterministic function of an index-resident numeric doc_meta
    field —

        score(d) = round(bm25(d) <mode> fn(factor × field(d)), 6)

    with fn ∈ {none, log1p, sqrt} and mode ∈ {multiply, sum}. The
    classic uses: length normalization beyond BM25's own, recency or
    popularity boosts when the store carries such a column.

    Pruning contract: the combine reorders docs arbitrarily relative to
    the BM25 order, so this composes over _boolean_scored's FULL stream
    (same reasoning as boosting_topk) and joins doc_meta on doc_id —
    one extra shuffle-free broadcast-free equi-join against the store's
    partitioned metadata, then the shared collector tail."""
    if modifier not in ("none", "log1p", "sqrt"):
        raise ValueError(f"modifier must be none|log1p|sqrt: {modifier!r}")
    if mode not in ("multiply", "sum"):
        raise ValueError(f"mode must be multiply|sum: {mode!r}")
    q_cl = parse_query(query) if isinstance(query, str) else query
    scored = _boolean_scored(
        spark, index_dir, q_cl, k1=k1, b=b, max_expansions=max_expansions
    )
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", F.col(field).cast("double").alias("_fv")
    )
    v = F.lit(float(factor)) * F.col("_fv")
    fn = {"none": v, "log1p": F.log1p(v), "sqrt": F.sqrt(v)}[modifier]
    comb = (
        F.col("score") * fn if mode == "multiply" else F.col("score") + fn
    )
    out = scored.join(meta, "doc_id").select(
        "doc_id", F.round(comb, SCORE_ROUND_DECIMALS).alias("score")
    )
    return _rank_tail(out, k)


def decay_score_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[Clause],
    field: str = "doc_len",
    origin: float = 0.0,
    scale: float = 10.0,
    offset: float = 0.0,
    decay: float = 0.5,
    shape: str = "gauss",
    mode: str = "multiply",
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES function_score decay functions (gauss / exp / linear): the
    Boolean score re-weighted by distance of a numeric doc_meta field
    from an origin — the canonical recency / proximity / length-target
    boost. With dist = max(0, |field − origin| − offset), the multiplier
    is exactly ES's parameterization (decay reached at distance scale):

        gauss   exp(−dist² / (2σ²)),        σ² = −scale² / (2 ln decay)
        exp     exp(λ·dist),                λ  = ln(decay) / scale
        linear  max(0, (l − dist) / l),     l  = scale / (1 − decay)

    mode ∈ {multiply, sum}. Same pruning contract as field_value_factor:
    re-weighting reorders past any top-k cut, so this composes over the
    FULL _boolean_scored stream + one doc_meta equi-join."""
    if shape not in ("gauss", "exp", "linear"):
        raise ValueError(f"shape must be gauss|exp|linear: {shape!r}")
    if mode not in ("multiply", "sum"):
        raise ValueError(f"mode must be multiply|sum: {mode!r}")
    if not 0.0 < decay < 1.0:
        raise ValueError(f"decay must be in (0, 1): {decay}")
    if scale <= 0:
        raise ValueError(f"scale must be > 0: {scale}")
    import math as _math

    q_cl = parse_query(query) if isinstance(query, str) else query
    scored = _boolean_scored(
        spark, index_dir, q_cl, k1=k1, b=b, max_expansions=max_expansions
    )
    meta = _doc_meta(spark, index_dir).select(
        "doc_id", F.col(field).cast("double").alias("_fv")
    )
    dist = F.greatest(
        F.lit(0.0), F.abs(F.col("_fv") - F.lit(float(origin))) - F.lit(float(offset))
    )
    if shape == "gauss":
        sigma2 = -(float(scale) ** 2) / (2.0 * _math.log(float(decay)))
        mult = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    elif shape == "exp":
        lam = _math.log(float(decay)) / float(scale)
        mult = F.exp(F.lit(lam) * dist)
    else:
        l = float(scale) / (1.0 - float(decay))
        mult = F.greatest(F.lit(0.0), (F.lit(l) - dist) / F.lit(l))
    comb = F.col("score") * mult if mode == "multiply" else F.col("score") + mult
    out = scored.join(meta, "doc_id").select(
        "doc_id", F.round(comb, SCORE_ROUND_DECIMALS).alias("score")
    )
    return _rank_tail(out, k)


def script_score_topk(
    spark: SparkSession,
    index_dir: str,
    query: str | list[Clause],
    expr: str,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES script_score: the Boolean query's score replaced by an
    ARBITRARY Catalyst SQL expression over `score` (the BM25 value) and
    the store's doc_meta columns — the generic re-scoring form that
    field_value_factor and the decay functions are special cases of,
    e.g.

        expr="score * ln(1 + doc_len)"          (≡ fvf log1p)
        expr="score * 0.5 + sqrt(doc_len)"      (additive shaping)
        expr="case when lang = 'en' then score * 2 else score end"

    The expression stays JVM-side whole-stage codegen (F.expr — never a
    Python UDF); the composition rides the FULL _boolean_scored stream
    (re-scoring reorders past any cut — same soundness argument as
    boosting/fvf/decay) joined to the store-resident doc_meta. The
    expression must be deterministic per row for reproducible rankings —
    nondeterministic functions are the caller's own foot-gun, as in ES."""
    q_cl = parse_query(query) if isinstance(query, str) else query
    scored = _boolean_scored(
        spark, index_dir, q_cl, k1=k1, b=b, max_expansions=max_expansions
    )
    meta = _doc_meta(spark, index_dir)
    out = (
        scored.join(meta, "doc_id")
        .withColumn("score", F.expr(expr).cast("double"))
        .select("doc_id", F.round("score", SCORE_ROUND_DECIMALS).alias("score"))
    )
    return _rank_tail(out, k)


def boolean_explain(
    spark: SparkSession,
    index_dir: str,
    query: str | list[Clause],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    combine: str = "sum",
    tie_breaker: float = 0.0,
    min_should_match: int = 0,
) -> DataFrame:
    """Score decomposition for a Boolean query's top-k (the BooleanQuery
    face of Lucene IndexSearcher.explain): one row per (hit, matching
    scoring clause) carrying that clause's folded partial — boosts
    included, a ConstantScore clause folds to its fixed v once — joined
    to the hit's rank and total score. (rank, doc_id, score, clause_id,
    occur, kind, partial), ordered (rank, clause_id), partial rounded to
    6. Under combine="sum" with no msm oddities, Σ partials per hit
    re-rounds to the hit's score (tested); under dismax the clause rows
    expose max + tie·rest directly.

    Plan: ONE extra consumer of the scorer's own pre-fold partial stream
    (_batch_scored's `_partials_out`) — the ranking is the standard
    collector output; the decomposition restricts the partials to the k
    surviving docs with a broadcast join, then folds per (doc, clause
    slot). No second scan of the store, no new exchange shapes."""
    cl = parse_query(query) if isinstance(query, str) else list(query)
    sink: list = []
    scored = _boolean_scored(
        spark, index_dir, cl, k1=k1, b=b, max_expansions=max_expansions,
        combine=combine, tie_breaker=tie_breaker,
        min_should_match=min_should_match, _partials_out=sink,
    )
    top = _rank_tail(scored, k)
    out_schema = (
        "rank int, doc_id long, score double, clause_id int, "
        "occur string, kind string, partial double"
    )
    if not sink:
        return _local_frame(spark, [], out_schema)
    # the scorer keys partials by scoring slot j; cids[j] is that clause's
    # index in the full clause list
    cids = [cid for cid, c in enumerate(cl) if c.occur in (MUST, SHOULD)]
    folded = (
        sink[0].join(F.broadcast(top), "doc_id")
        .groupBy("rank", "doc_id", "score", "slot")
        .agg(
            F.sum("partial").alias("_sum"),
            F.max("partial").alias("_max"),
            F.max("is_const").alias("_const"),
        )
    )
    return (
        folded.select(
            "rank",
            "doc_id",
            "score",
            _by_key("slot", dict(enumerate(cids))).cast("int").alias("clause_id"),
            _by_key("slot", {j: cl[cid].occur for j, cid in enumerate(cids)}).alias("occur"),
            _by_key("slot", {j: cl[cid].kind for j, cid in enumerate(cids)}).alias("kind"),
            F.round(
                F.when(F.col("_const"), F.col("_max")).otherwise(F.col("_sum")),
                SCORE_ROUND_DECIMALS,
            ).alias("partial"),
        )
        .orderBy("rank", "clause_id")
    )


def boolean_topk_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = DEFAULT_TOP_K,
    **kw,
) -> DataFrame:
    """parse_query + boolean_topk: the one-call query-string surface."""
    return boolean_topk(spark, index_dir, parse_query(query), k=k, **kw)


def boolean_topk_multi(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, str | list[Clause]],
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int = MAX_EXPANSIONS,
    combine: str = "sum",
    tie_breaker: float = 0.0,
    max_partial_rows: int | None = None,
    min_should_match: int | dict[int, int] = 0,
) -> DataFrame:
    """Batch Boolean executor: (query_id, rank, doc_id, score) for many
    Boolean queries in ONE plan — the Boolean twin of
    bm25_segments.topk_segments_multi / phrase.positional_topk_indexed_multi.
    `queries` values are query strings (parsed here) or pre-parsed clause
    lists; `min_should_match` is an int for every query or a dict
    query_id → msm.

    The plan is _batch_scored (its docstring has the topology, the
    rare-MUST masks and the `max_partial_rows` sub-batching) plus a
    per-query rank window (score desc, doc_id asc). boolean_topk runs the
    same scorer as a batch of one, so per-query results are identical to
    boolean_topk with the same combine and msm."""
    parsed: dict[int, list[Clause]] = {
        int(qid): (parse_query(q) if isinstance(q, str) else list(q))
        for qid, q in queries.items()
    }
    msm: dict[int, int] = (
        {q: int(min_should_match.get(q, 0)) for q in parsed}
        if isinstance(min_should_match, dict)
        else {q: int(min_should_match) for q in parsed}
    )
    scored = _batch_scored(
        spark, index_dir, parsed, k1, b, max_expansions, combine, tie_breaker,
        msm, max_partial_rows=max_partial_rows, k=k,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
