"""Seeded inputs for the workloads.

Everything here is pure Python and a function of the seed alone, so the
same seed gives byte-identical corpora and query lists (self-tested).
The engine only ever sees what these functions return.
"""

from __future__ import annotations

import random
from collections import Counter

from contextinator_spark.oracle import tokenize
from contextinator_spark.sources.corpus import synth_corpus_rows

# The sf0.1 `documents` table, measured: 5,000 docs whose words are drawn
# uniformly from these 30 (each 3.3 % of all tokens, df 76-79 %), 10-99
# words long (uniform), plus 5 % near-duplicates -- a copy of another doc
# with DUP appended, the vocabulary's 31st word (df 5 %).
SALAD_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP = "dup"
SALAD_LEN = (10, 99)
DUP_SHARE = 20  # one base doc in 20 is a near-duplicate


# tokens of content that make up the derived "title" field
TITLE_TOKENS = 3


def title(content: str) -> str:
    """The derived "title" field: the first TITLE_TOKENS words of content."""
    return " ".join(content.split(" ")[:TITLE_TOKENS])


def zipf_rows(n_docs: int, seed: int) -> list[tuple]:
    """(doc_id, repo, path, commit, lang, content) rows of the engine's
    code-like Zipfian corpus; doc_id is the row number."""
    return [
        (i, r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for i, r in enumerate(synth_corpus_rows(n_docs, seed))
    ]


def salad_corpus(n_base: int, amplify: int, seed: int) -> dict[int, str]:
    """Word-salad docs shaped like the sf0.1 `documents` table (see
    SALAD_VOCAB), amplified `amplify`x with distinct doc_ids the way
    bench.py amplifies: doc_id = base_id * amplify + rep."""
    rng = random.Random(seed)
    base = [" ".join(rng.choices(SALAD_VOCAB, k=rng.randint(*SALAD_LEN))) for _ in range(n_base)]
    for i in rng.sample(range(n_base), n_base // DUP_SHARE):
        base[i] = f"{base[rng.randrange(n_base)]} {DUP}"
    return {b * amplify + r: text for b, text in enumerate(base) for r in range(amplify)}


def df_bands(docs: dict[int, str]) -> dict[str, list[str]]:
    """Dictionary terms split into rare / mid / heavy document-frequency
    bands (the same df the store's dictionary holds)."""
    df: Counter = Counter()
    for text in docs.values():
        df.update(set(tokenize(text)))
    n = len(docs)
    bands: dict[str, list[str]] = {"rare": [], "mid": [], "heavy": []}
    for term, d in sorted(df.items()):
        if 2 <= d <= max(2, n // 500):
            bands["rare"].append(term)
        elif n // 100 < d <= n // 20:
            bands["mid"].append(term)
        elif d > n // 5:
            bands["heavy"].append(term)
    return bands


# the latency_zipf query kinds, repeated in this order: 60% BM25,
# 20% phrase, 20% Boolean in every window of five consecutive queries
ZIPF_KINDS = ("bm25", "phrase", "bm25", "boolean", "bm25")
# the df bands of the BM25 queries' terms, in turn: a query's cost
# follows its terms' df, so every seed gets the same shapes and only the
# terms differ
BM25_SHAPES = (("heavy",), ("mid", "heavy"), ("rare", "mid", "heavy"))


def zipf_queries(docs: dict[int, str], n: int, seed: int) -> list[tuple[str, object]]:
    """The latency_zipf query stream: BM25 queries of one term from each
    df band of a BM25_SHAPES entry, phrase queries of an adjacent pair of
    distinct tokens taken from a random doc (so they match), and Boolean
    `+MUST SHOULD -NOT` queries, in the ZIPF_KINDS pattern."""
    rng = random.Random(seed)
    bands = df_bands(docs)
    ids = sorted(docs)
    out: list[tuple[str, object]] = []
    n_bm25 = 0
    for i in range(n):
        kind = ZIPF_KINDS[i % len(ZIPF_KINDS)]
        if kind == "bm25":
            shape = BM25_SHAPES[n_bm25 % len(BM25_SHAPES)]
            n_bm25 += 1
            out.append((kind, sorted(rng.choice(bands[band]) for band in shape)))
        elif kind == "phrase":
            while True:
                toks = tokenize(docs[rng.choice(ids)])
                pairs = [toks[i : i + 2] for i in range(len(toks) - 1) if toks[i] != toks[i + 1]]
                if pairs:
                    break
            out.append((kind, rng.choice(pairs)))
        else:
            must = rng.choice(bands["heavy"])
            should = rng.choice(bands["mid"])
            mustnot = rng.choice(bands["mid"] + bands["rare"])
            while mustnot in (must, should):
                mustnot = rng.choice(bands["mid"] + bands["rare"])
            out.append((kind, f"+{must} {should} -{mustnot}"))
    return out


def salad_batches(seed: int, sizes: dict[str, int], pattern: tuple[str, ...],
                  n_rounds: int) -> list[list[tuple[str, dict]]]:
    """Rounds of (family, batch) calls in the order `pattern` names the
    families: BM25 and BM25F queries of 1, 2, 3, 1, ... terms, positional
    queries alternating phrase and NEAR as (terms, window|None) with
    windows 3-8 in turn, and Boolean `+MUST SHOULD -NOT` strings. Every
    term matches about as many docs as any other, so only the terms
    depend on the seed, and a batch costs about the same for every seed."""
    rng = random.Random(seed)

    def terms(q: int) -> list[str]:
        return rng.sample(SALAD_VOCAB, 1 + q % 3)

    def positional(q: int) -> tuple[list[str], int | None]:
        return rng.sample(SALAD_VOCAB, 2), None if q % 2 == 0 else 3 + q // 2 % 6

    def boolean(_q: int) -> str:
        must, should, mustnot = rng.sample(SALAD_VOCAB, 3)
        return f"+{must} {should} -{mustnot}"

    make = {"bm25": terms, "positional": positional, "boolean": boolean, "multifield": terms}
    return [
        [(fam, {q: make[fam](q) for q in range(sizes[fam])}) for fam in pattern]
        for _ in range(n_rounds)
    ]
