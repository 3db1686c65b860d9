"""Seeded randomized differential sweep: a Zipfian corpus (shape-diverse
from the driver's uniform word-salad testdata) exercises the major
executors against independent brute-force references in one store build.

Not hypothesis-per-example (an index build per example would be minutes
each); one seeded corpus, MANY random queries per executor family — the
corpus-shape axis the fixed testdata never varies."""

from __future__ import annotations

import random
import re

import pytest

from contextinator_spark.oracle import BruteForceBM25

SEED = 20260821
N_DOCS = 160
VOCAB = [f"w{i}" for i in range(120)]


def _zipf_corpus():
    rng = random.Random(SEED)
    # Zipfian term draw: weight 1/rank
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    docs = {}
    for d in range(N_DOCS):
        n = rng.randint(3, 60)
        docs[d] = " ".join(rng.choices(VOCAB, weights=weights, k=n))
    return docs


DOCS = _zipf_corpus()


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(d, t) for d, t in DOCS.items()], "doc_id long, content string"
    )


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    from contextinator_spark.operators.segments import write_index

    d = str(tmp_path_factory.mktemp("rand_idx"))
    write_index(spark, corpus, d, positions=True)
    return d


def _queries(n, min_t=1, max_t=4, seed=1):
    rng = random.Random(SEED + seed)
    return [
        rng.sample(VOCAB[: 60], rng.randint(min_t, max_t)) for _ in range(n)
    ]


def test_bm25_topk_random_queries(spark, store):
    from contextinator_spark.operators.bm25_segments import topk_segments

    ref = BruteForceBM25(DOCS)
    for terms in _queries(12, seed=2):
        got = [
            (r["rank"], r["doc_id"], r["score"])
            for r in topk_segments(spark, store, terms, k=10).collect()
        ]
        assert got == ref.topk(terms, k=10), terms


def test_phrase_indexed_random_bigrams(spark, store):
    from contextinator_spark.operators.phrase import positional_matches

    rng = random.Random(SEED + 3)
    for _ in range(8):
        a, b = rng.sample(VOCAB[:30], 2)
        matched, _stats = positional_matches(spark, store, [a, b])
        got = {
            r["doc_id"]: r["phrase_tf"]
            for r in matched.filter("phrase_tf > 0").collect()
        }
        want = {}
        for d, text in DOCS.items():
            toks = text.split()
            c = sum(
                1
                for i in range(len(toks) - 1)
                if toks[i] == a and toks[i + 1] == b
            )
            if c:
                want[d] = c
        assert got == want, (a, b)


def test_match_count_and_facet_random(spark, store):
    from contextinator_spark.operators.bm25_segments import match_count

    for terms in _queries(8, seed=4):
        got = match_count(spark, store, terms).collect()[0]["n_docs"]
        want = sum(
            1 for d, t in DOCS.items() if set(terms) & set(t.split())
        )
        assert got == want, terms


def test_boolean_random_shapes(spark, store, monkeypatch):
    """Each random query alone on both placements (the driver one at the
    default gate, the Spark one with the gate at 0), then all of them as
    one batch, against the brute-force scores."""
    from contextinator_spark.operators import boolean as BO
    from contextinator_spark.operators.boolean import boolean_topk_multi, boolean_topk_query

    ref = BruteForceBM25(DOCS)
    rng = random.Random(SEED + 5)
    default_gate = BO.DRIVER_TOPK_MAX_DF
    wanted = {}
    for _ in range(6):
        must, should, mustnot = (
            rng.sample(VOCAB[:40], 1),
            rng.sample(VOCAB[:40], 2),
            rng.sample(VOCAB[40:60], 1),
        )
        q = f"+{must[0]} {should[0]} {should[1]} -{mustnot[0]}"
        scored = []
        for d, text in DOCS.items():
            toks = set(text.split())
            if must[0] not in toks or mustnot[0] in toks:
                continue
            s = ref.score(d, list({must[0], *should} & toks | {must[0]}))
            scored.append((d, round(s, 6)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        want = [(i + 1, d, s) for i, (d, s) in enumerate(scored[:50])]
        for gate in (default_gate, 0):
            monkeypatch.setattr(BO, "DRIVER_TOPK_MAX_DF", gate)
            got = [
                (r["rank"], r["doc_id"], r["score"])
                for r in boolean_topk_query(spark, store, q, k=50).collect()
            ]
            assert got == want, (q, gate)
        monkeypatch.setattr(BO, "DRIVER_TOPK_MAX_DF", default_gate)
        wanted[q] = want
    queries = dict(enumerate(wanted))
    batch = {}
    for r in boolean_topk_multi(spark, store, queries, k=50).collect():
        batch.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        assert sorted(batch.get(qid, [])) == wanted[q], q
