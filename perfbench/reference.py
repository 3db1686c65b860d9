"""Independent references for the correctness gate (pure Python).

BM25 uses the engine's brute-force oracle. Phrase, NEAR, Boolean and
BM25F scores are recomputed from the documented scoring contracts. Every comparison
returns True only for the same doc ids in the same order with scores
equal to within rounding.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from contextinator_spark.config import BM25_B, BM25_K1, SCORE_ROUND_DECIMALS
from contextinator_spark.oracle import BruteForceBM25, tokenize

Rows = list[tuple[int, int, float]]  # (rank, doc_id, score)

SCORE_TOL = 1.5 * 10 ** -SCORE_ROUND_DECIMALS


def half_up(x: float) -> float:
    """Spark's round(): HALF_UP, unlike Python's banker's rounding."""
    q = Decimal(1).scaleb(-SCORE_ROUND_DECIMALS)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def same(got: Rows, want: Rows) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= SCORE_TOL
        for g, w in zip(got, want)
    )


def rank(scored: list[tuple[int, float]], k: int) -> Rows:
    scored = sorted(scored, key=lambda x: (-x[1], x[0]))[:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(scored)]


class Reference:
    """Scores over one document set. `deleted` ids are scored into the
    collection statistics (tombstones do not change n, avgdl or df) but
    never ranked, which is the live-docs semantics of deletes.py."""

    def __init__(self, docs: dict[int, str], deleted: set[int] = frozenset()):
        self.bm25 = BruteForceBM25(docs)
        self.tokens = {d: tokenize(t) for d, t in docs.items()}
        self.deleted = set(deleted)

    def _live(self):
        return (d for d in self.bm25.tf if d not in self.deleted)

    def bm25_topk(self, terms: list[str], k: int) -> Rows:
        scored = []
        for d in self._live():
            s = self.bm25.score(d, terms)
            if s > 0.0:
                scored.append((d, round(s, SCORE_ROUND_DECIMALS)))
        return rank(scored, k)

    def _synthetic_term_topk(self, tf_of, k: int) -> Rows:
        """BM25 of one synthetic term whose tf in a doc is tf_of(tokens)
        and whose df is the number of live docs where that is not 0."""
        matched = []
        for d in self._live():
            tf = tf_of(self.tokens[d])
            if tf:
                matched.append((d, tf))
        b = self.bm25
        idf = math.log(1.0 + (b.n - len(matched) + 0.5) / (len(matched) + 0.5))
        scored = [
            (d, half_up(idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * b.doc_len[d] / b.avgdl))))
            for d, tf in matched
        ]
        return rank(scored, k)

    def phrase_topk(self, terms: list[str], k: int) -> Rows:
        """tf = the phrase's match count in the doc."""
        n = len(terms)
        return self._synthetic_term_topk(
            lambda toks: sum(1 for i in range(len(toks) - n + 1) if toks[i : i + n] == terms), k)

    def near_topk(self, terms: list[str], window: int, k: int) -> Rows:
        """tf = occurrences of terms[0] with every other term within
        +-window tokens."""

        def tf(toks: list[str]) -> int:
            pos = [[i for i, t in enumerate(toks) if t == term] for term in terms]
            return sum(
                1 for p0 in pos[0]
                if all(any(abs(p - p0) <= window for p in pj) for pj in pos[1:])
            )

        return self._synthetic_term_topk(tf, k)

    def boolean_topk(self, query: str, k: int) -> Rows:
        """`+MUST SHOULD -NOT`: docs holding MUST and not NOT, scored as the
        BM25 sum over MUST plus whichever SHOULD they hold."""
        must, should, mustnot = (w.lstrip("+-") for w in query.split())
        scored = []
        for d in self._live():
            tf = self.bm25.tf[d]
            if tf.get(must, 0) and not tf.get(mustnot, 0):
                scored.append((d, round(self.bm25.score(d, [must, should]), SCORE_ROUND_DECIMALS)))
        return rank(scored, k)


def bm25f_topk(fields: dict[str, Reference], weights: dict[str, float], terms: list[str], k: int) -> Rows:
    """BM25F over per-field references of one corpus (multifield.py):
    per-field tfs, length-normalized by the field's own avgdl, are
    weight-summed before saturation; idf uses the largest per-field df and
    the shared n. Deleted docs are those of the first field."""
    refs = list(fields.items())
    first = refs[0][1]
    qterms = sorted({t.lower() for t in terms})
    idf = {t: math.log(1.0 + (first.bm25.n - df + 0.5) / (df + 0.5))
           for t in qterms if (df := max(r.bm25.df.get(t, 0) for _, r in refs))}
    scored = []
    for d in first._live():
        s = 0.0
        for t in idf:
            tfw = sum(
                weights.get(f, 1.0) * r.bm25.tf[d].get(t, 0)
                / (1.0 - BM25_B + BM25_B * r.bm25.doc_len[d] / r.bm25.avgdl)
                for f, r in refs
            )
            if tfw:
                s += idf[t] * tfw / (BM25_K1 + tfw)
        if s > 0.0:
            scored.append((d, half_up(s)))
    return rank(scored, k)
