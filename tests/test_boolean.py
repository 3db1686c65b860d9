"""Boolean query executor: parser, occur semantics, equivalence to the
specialized executors it composes (disjunctive / conjunctive / positional),
FILTER score preservation, and the rare-MUST candidate prune."""

from __future__ import annotations

import math

import pytest

from contextinator_spark.config import BM25_B, BM25_K1, SCORE_ROUND_DECIMALS
from contextinator_spark.operators import boolean as B
from contextinator_spark.operators.boolean import (
    FILTER,
    MUST,
    MUST_NOT,
    SHOULD,
    Clause,
    boolean_topk,
    boolean_topk_query,
    parse_query,
)
from contextinator_spark.oracle import BruteForceBM25

DOCS = [
    (0, "hash table hash join", "en"),
    (1, "spark join spark", "en"),
    (2, "hash join merge", "de"),
    (3, "table hash table hash", "de"),
    (4, "spark hash table", "en"),
    (5, "merge sort merge", "en"),
    (6, "join join join hash", "de"),
    (7, "nothing relevant here", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, content string, lang string")


@pytest.fixture(scope="module")
def idx(spark, docs, tmp_path_factory):
    from contextinator_spark.operators.phrase import write_phrase_index

    d = str(tmp_path_factory.mktemp("bool_idx"))
    write_phrase_index(spark, docs, d)
    return d


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


def test_parse_occurs_and_kinds():
    cs = parse_query('+hash spark -join "table hash" "big join"~3 mer* s*k lang:en')
    assert cs == [
        Clause(MUST, "term", ("hash",)),
        Clause(SHOULD, "term", ("spark",)),
        Clause(MUST_NOT, "term", ("join",)),
        Clause(SHOULD, "phrase", ("table", "hash")),
        Clause(SHOULD, "near", ("big", "join"), window=3),
        Clause(SHOULD, "prefix", ("mer",)),
        Clause(SHOULD, "wildcard", ("s*k",)),
        Clause(FILTER, "predicate", predicate="lang = 'en'"),
    ]


def test_parse_field_negation_and_like():
    cs = parse_query("-lang:de hash +path:*test*")
    assert cs[0] == Clause(MUST_NOT, "predicate", predicate="lang = 'de'")
    assert cs[2] == Clause(FILTER, "predicate", predicate="path LIKE '%test%'")


def test_parse_multitoken_word_becomes_phrase():
    (c,) = parse_query("foo-bar")
    assert c == Clause(SHOULD, "phrase", ("foo", "bar"))


def test_parse_rejects_bad_input():
    for bad in ("", '""', "unknown_field:x", "-"):
        with pytest.raises(ValueError):
            parse_query(bad)


# ---------------------------------------------------------------------------
# executor semantics
# ---------------------------------------------------------------------------


def _rows(df):
    return [(r.rank, r.doc_id, r.score) for r in df.collect()]


def test_should_terms_equal_disjunctive_executor(spark, idx):
    from contextinator_spark.operators.bm25_segments import topk_segments

    got = boolean_topk(
        spark, idx, [Clause(SHOULD, "term", ("hash",)), Clause(SHOULD, "term", ("spark",))]
    )
    want = topk_segments(spark, idx, ["hash", "spark"])
    assert _rows(got) == _rows(want)


def test_must_terms_equal_conjunctive_executor(spark, idx):
    from contextinator_spark.operators.bm25_segments import topk_segments_conjunctive

    got = boolean_topk(
        spark, idx, [Clause(MUST, "term", ("hash",)), Clause(MUST, "term", ("join",))]
    )
    want = topk_segments_conjunctive(spark, idx, ["hash", "join"])
    assert _rows(got) == _rows(want)
    assert {d for _, d, _ in _rows(got)} == {0, 2, 6}
    # topk_segments_conjunctive IS boolean_topk, so the scores are checked
    # against the brute-force BM25 as well
    ref = BruteForceBM25({d: text for d, text, _lang in DOCS})
    scored = sorted(
        ((d, round(ref.score(d, ["hash", "join"]), SCORE_ROUND_DECIMALS)) for d in (0, 2, 6)),
        key=lambda x: (-x[1], x[0]),
    )
    assert _rows(got) == [(i + 1, d, s) for i, (d, s) in enumerate(scored)]


def test_single_phrase_clause_equals_positional_executor(spark, idx):
    from contextinator_spark.operators.phrase import phrase_topk_indexed

    got = boolean_topk(spark, idx, [Clause(SHOULD, "phrase", ("table", "hash"))])
    want = phrase_topk_indexed(spark, idx, ["table", "hash"])
    assert _rows(got) == _rows(want)


def test_must_not_excludes(spark, idx):
    got = boolean_topk(
        spark,
        idx,
        [Clause(SHOULD, "term", ("hash",)), Clause(MUST_NOT, "term", ("join",))],
    )
    ids = {d for _, d, _ in _rows(got)}
    assert ids == {3, 4}  # hash-docs 0,2,6 all contain join


def test_must_not_phrase_and_predicate(spark, idx):
    got = boolean_topk(
        spark,
        idx,
        [
            Clause(SHOULD, "term", ("hash",)),
            Clause(MUST_NOT, "phrase", ("table", "hash")),
        ],
    )
    assert {d for _, d, _ in _rows(got)} == {2, 4, 6}  # 0,3 contain the phrase
    got2 = boolean_topk(
        spark,
        idx,
        [
            Clause(SHOULD, "term", ("hash",)),
            Clause(MUST_NOT, "predicate", predicate="lang = 'de'"),
        ],
    )
    assert {d for _, d, _ in _rows(got2)} == {0, 4}


def test_filter_preserves_global_scores(spark, idx):
    unfiltered = dict(
        (d, s)
        for _, d, s in _rows(
            boolean_topk(spark, idx, [Clause(SHOULD, "term", ("hash",))])
        )
    )
    got = boolean_topk(
        spark,
        idx,
        [
            Clause(SHOULD, "term", ("hash",)),
            Clause(FILTER, "predicate", predicate="lang = 'en'"),
        ],
    )
    rows = _rows(got)
    assert {d for _, d, _ in rows} == {0, 4}
    for _, d, s in rows:
        assert s == unfiltered[d]  # scope restricts, never re-weights


def test_mixed_query_string_end_to_end(spark, idx):
    # +hash spark -join "table hash" lang:en  — brute-force expectation
    toks = {d: c.split() for d, c, _ in DOCS}
    lang = {d: l for d, _, l in DOCS}
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks.values()) / n

    def idf(df):
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def tfn(tf, dl):
        return (tf * (BM25_K1 + 1)) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
        )

    def phrase_tf(t):
        return sum(
            1 for i in range(len(t) - 1) if t[i] == "table" and t[i + 1] == "hash"
        )

    df_hash = sum("hash" in t for t in toks.values())
    df_spark = sum("spark" in t for t in toks.values())
    df_ph = sum(phrase_tf(t) > 0 for t in toks.values())
    want = {}
    for d, t in toks.items():
        if "hash" not in t or "join" in t or lang[d] != "en":
            continue
        s = idf(df_hash) * tfn(t.count("hash"), len(t))
        if "spark" in t:
            s += idf(df_spark) * tfn(t.count("spark"), len(t))
        if phrase_tf(t):
            s += idf(df_ph) * tfn(phrase_tf(t), len(t))
        want[d] = round(s, SCORE_ROUND_DECIMALS)
    got = _rows(
        boolean_topk_query(spark, idx, '+hash spark -join "table hash" lang:en')
    )
    assert {d: s for _, d, s in got} == want
    # ranking: score desc, doc_id asc
    assert [d for _, d, _ in got] == sorted(want, key=lambda d: (-want[d], d))


def test_prefix_clause_scores_like_prefix_topk(spark, idx):
    from contextinator_spark.operators.bm25_segments import prefix_topk

    got = boolean_topk(
        spark, idx, [Clause(SHOULD, "prefix", ("s",))], max_expansions=4
    )
    want = prefix_topk(spark, idx, "s", max_expansions=4)
    assert _rows(got) == _rows(want)


def test_rare_must_filter_parity(spark, idx):
    clauses = [
        Clause(MUST, "term", ("merge",)),  # rare
        Clause(SHOULD, "term", ("hash",)),
        Clause(SHOULD, "term", ("join",)),
    ]
    a = boolean_topk(spark, idx, clauses, rare_filter=True)
    b = boolean_topk(spark, idx, clauses, rare_filter=False)
    assert _rows(a) == _rows(b)
    assert {d for _, d, _ in _rows(a)} == {2, 5}
    # in a batch the mask is per query: a query without MUST (sharing the
    # SHOULD terms) must not be restricted to the rare term's docs
    from contextinator_spark.operators.boolean import boolean_topk_multi

    mixed = {0: clauses, 1: clauses[1:]}
    got = {}
    for r in boolean_topk_multi(spark, idx, mixed).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, cs in mixed.items():
        assert sorted(got[qid]) == _rows(boolean_topk(spark, idx, cs, rare_filter=False)), qid


def test_must_absent_term_short_circuits(spark, idx):
    got = boolean_topk(
        spark,
        idx,
        [Clause(MUST, "term", ("zzz_missing",)), Clause(SHOULD, "term", ("hash",))],
    )
    assert got.count() == 0


def test_requires_scoring_clause(spark, idx):
    with pytest.raises(ValueError):
        boolean_topk(spark, idx, [Clause(FILTER, "predicate", predicate="lang='en'")])
    with pytest.raises(ValueError):
        boolean_topk(spark, idx, [Clause(MUST, "predicate", predicate="lang='en'")])


def test_clause_cap_counts_only_keyed_clauses(spark, idx, monkeypatch):
    """Only scoring and positional MUST_NOT clauses take a key slot
    (qid·_SLOT_BASE + slot). 1 MUST + 800 SHOULD + 300 term MUST_NOT + 1
    phrase MUST_NOT clauses (1,102 in all, 802 keyed) run on both
    placements and equal the query without the unindexed words; past
    1,024 keyed clauses the query is rejected."""
    cap = B._SLOT_BASE
    unknown = [Clause(SHOULD, "term", (f"zzs{i}",)) for i in range(800)]
    unknown += [Clause(MUST_NOT, "term", (f"zzn{i}",)) for i in range(299)]
    core = [
        Clause(MUST, "term", ("hash",)),
        Clause(MUST_NOT, "term", ("spark",)),
        Clause(MUST_NOT, "phrase", ("join", "merge")),
    ]
    want = _rows(boolean_topk(spark, idx, core))
    assert [r[1] for r in want] == [0, 3, 6]
    assert _rows(boolean_topk(spark, idx, [*core, *unknown])) == want
    monkeypatch.setattr(B, "DRIVER_TOPK_MAX_DF", 0)
    assert _rows(boolean_topk(spark, idx, [*core, *unknown])) == want
    should = [Clause(SHOULD, "term", (f"zzs{i}",)) for i in range(cap)]
    with pytest.raises(ValueError):
        boolean_topk(spark, idx, [*should, Clause(SHOULD, "term", ("hash",))])
    with pytest.raises(ValueError):
        boolean_topk(spark, idx, [*should, Clause(MUST_NOT, "phrase", ("join", "merge"))])


# ---------------------------------------------------------------------------
# fuzzy (Lucene FuzzyQuery) and boosts (^w)
# ---------------------------------------------------------------------------


def test_parse_fuzzy_and_boost_suffixes():
    cs = parse_query('grup~1^2.5 hash^2 sort~ "table hash"^3 "big join"~2^0.5 mer*^4')
    assert cs == [
        Clause(SHOULD, "fuzzy", ("grup",), window=1, boost=2.5),
        Clause(SHOULD, "term", ("hash",), boost=2.0),
        Clause(SHOULD, "fuzzy", ("sort",), window=2),  # bare ~ = 2 edits
        Clause(SHOULD, "phrase", ("table", "hash"), boost=3.0),
        Clause(SHOULD, "near", ("big", "join"), window=2, boost=0.5),
        Clause(SHOULD, "prefix", ("mer",), boost=4.0),
    ]
    # term~0 is an exact term; boost on a filter field is inert
    assert parse_query("hash~0")[0] == Clause(SHOULD, "term", ("hash",))
    assert parse_query("lang:en^2")[0] == Clause(
        FILTER, "predicate", predicate="lang = 'en'"
    )
    with pytest.raises(ValueError):
        parse_query("~2")  # dangling suffix
    with pytest.raises(ValueError):
        parse_query("mer*~1")  # wildcard can't be fuzzy


def test_expand_fuzzy_ordering_and_bound(spark, idx):
    from contextinator_spark.operators.bm25_segments import expand_fuzzy

    # dist("har","hash")=2, dist("har","here")=2 — tie broken by df desc
    # (hash df=5 > here df=1), so max_expansions=1 keeps hash
    assert expand_fuzzy(spark, idx, "har", max_edits=2) == ["hash", "here"]
    assert expand_fuzzy(spark, idx, "har", max_edits=2, max_expansions=1) == ["hash"]
    assert expand_fuzzy(spark, idx, "hsh", max_edits=1) == ["hash"]
    assert expand_fuzzy(spark, idx, "zzzz", max_edits=2) == []
    # prefix_length pins the head: here starts with 'he', hash doesn't match 'ha'? it does
    assert expand_fuzzy(spark, idx, "har", max_edits=2, prefix_length=2) == ["hash"]
    with pytest.raises(ValueError):
        expand_fuzzy(spark, idx, "x", max_edits=0)


def test_fuzzy_topk_equals_expanded_disjunction(spark, idx):
    from contextinator_spark.operators.bm25_segments import fuzzy_topk, topk_segments

    got = fuzzy_topk(spark, idx, "har", max_edits=2)
    want = topk_segments(spark, idx, ["hash", "here"])
    assert _rows(got) == _rows(want)
    assert fuzzy_topk(spark, idx, "zzzz", max_edits=2).count() == 0


def test_boolean_fuzzy_clause_equals_fuzzy_topk(spark, idx):
    from contextinator_spark.operators.bm25_segments import fuzzy_topk

    got = boolean_topk_query(spark, idx, "har~2")
    want = fuzzy_topk(spark, idx, "har", max_edits=2)
    assert _rows(got) == _rows(want)


def test_boolean_fuzzy_must_not(spark, idx):
    # -jion~2 expands to join: excludes docs 0,1,2,6
    got = boolean_topk_query(spark, idx, "hash -jion~2")
    assert {d for _, d, _ in _rows(got)} == {3, 4}


def test_parse_regexp_clause():
    cs = parse_query('+/ha.h/ -/m[ea]rge/ /(spark|table)/^2.5')
    assert cs == [
        Clause(MUST, "regexp", ("ha.h",)),
        Clause(MUST_NOT, "regexp", ("m[ea]rge",)),
        Clause(SHOULD, "regexp", ("(spark|table)",), boost=2.5),
    ]
    # a path-ish word with slashes but no /…/ bracket is still tokenized
    assert parse_query("a/b")[0] == Clause(SHOULD, "phrase", ("a", "b"))


def test_boolean_regexp_clause_equals_regexp_topk(spark, idx):
    from contextinator_spark.operators.bm25_segments import regexp_topk

    got = boolean_topk_query(spark, idx, "/(hash|merge)/")
    want = regexp_topk(spark, idx, "(hash|merge)")
    assert _rows(got) == _rows(want)


def test_boolean_regexp_must_not(spark, idx):
    # -/jo.n/ matches join: excludes docs 0,1,2,6
    got = boolean_topk_query(spark, idx, "hash -/jo.n/")
    assert {d for _, d, _ in _rows(got)} == {3, 4}


def test_boolean_batch_regexp_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {1: "/(hash|merge)/ table", 2: "+/sp.rk/ -/m[ea]rge/"}
    batch = boolean_topk_multi(spark, idx, qs)
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, q in qs.items():
        want = _rows(boolean_topk_query(spark, idx, q))
        assert sorted(by_q.get(qid, [])) == sorted(want), qid


def test_boolean_batch_stream_bound_is_exact(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {
        1: "hash table",
        2: '+spark -merge "hash table"',
        3: '"hash join"~2 sort^2',
        4: "mer* jion~1",
    }
    free = boolean_topk_multi(spark, idx, qs)
    # a 1-row bound forces one query per sub-batch; results must be
    # identical because per-query streams never interact
    bounded = boolean_topk_multi(spark, idx, qs, max_partial_rows=1)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, bounded.collect()), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, free.collect()), key=lambda t: (t[0], t[1])
    )
    # a bound the whole batch fits under must not split (same single plan)
    roomy = boolean_topk_multi(spark, idx, qs, max_partial_rows=10**9)
    assert sorted(map(tuple, roomy.collect())) == sorted(map(tuple, free.collect()))


def test_term_boost_scales_partials(spark, idx):
    base_h = {d: s for _, d, s in _rows(boolean_topk_query(spark, idx, "hash"))}
    base_s = {d: s for _, d, s in _rows(boolean_topk_query(spark, idx, "spark"))}
    got = _rows(boolean_topk_query(spark, idx, "hash^2 spark^0.5"))
    for _, d, s in got:
        want = 2.0 * base_h.get(d, 0.0) + 0.5 * base_s.get(d, 0.0)
        assert s == pytest.approx(want, abs=2e-6)
    # ranking follows the boosted scores
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)


def test_phrase_boost_scales_partials(spark, idx):
    base = {d: s for _, d, s in _rows(boolean_topk_query(spark, idx, '"table hash"'))}
    got = _rows(boolean_topk_query(spark, idx, '"table hash"^3'))
    assert {d for _, d, _ in got} == set(base)
    for _, d, s in got:
        assert s == pytest.approx(3.0 * base[d], abs=2e-6)


# ---------------------------------------------------------------------------
# DisjunctionMax combiner
# ---------------------------------------------------------------------------


def test_dismax_single_clause_equals_sum(spark, idx):
    cs = [Clause(SHOULD, "term", ("hash",))]
    a = boolean_topk(spark, idx, cs)
    b = boolean_topk(spark, idx, cs, combine="dismax", tie_breaker=0.0)
    assert _rows(a) == _rows(b)


def test_dismax_tie_one_equals_sum(spark, idx):
    cs = [Clause(SHOULD, "term", ("hash",)), Clause(SHOULD, "term", ("spark",))]
    a = boolean_topk(spark, idx, cs)
    b = boolean_topk(spark, idx, cs, combine="dismax", tie_breaker=1.0)
    assert _rows(a) == _rows(b)  # max + 1·rest = sum


def test_dismax_takes_best_clause_plus_tiebreak(spark, idx):
    h = {d: s for _, d, s in _rows(boolean_topk_query(spark, idx, "hash"))}
    j = {d: s for _, d, s in _rows(boolean_topk_query(spark, idx, "join"))}
    got = _rows(
        boolean_topk(
            spark, idx,
            [Clause(SHOULD, "term", ("hash",)), Clause(SHOULD, "term", ("join",))],
            combine="dismax", tie_breaker=0.3,
        )
    )
    assert got
    for _, d, s in got:
        parts = [h.get(d, 0.0), j.get(d, 0.0)]
        want = max(parts) + 0.3 * (sum(parts) - max(parts))
        assert s == pytest.approx(want, abs=2e-6)


def test_dismax_respects_occur_semantics(spark, idx):
    got = boolean_topk(
        spark, idx,
        [
            Clause(MUST, "term", ("hash",)),
            Clause(SHOULD, "term", ("spark",)),
            Clause(MUST_NOT, "term", ("join",)),
        ],
        combine="dismax", tie_breaker=0.5,
    )
    assert {d for _, d, _ in _rows(got)} == {3, 4}

    with pytest.raises(ValueError):
        boolean_topk(spark, idx, [Clause(SHOULD, "term", ("hash",))], combine="best")


def test_dismax_multiterm_clause_folds_internally(spark, idx):
    # a prefix clause is one subquery: its expansion sums WITHIN the clause
    # before the max — so single-prefix dismax == prefix_topk regardless of tie
    from contextinator_spark.operators.bm25_segments import prefix_topk

    got = boolean_topk(
        spark, idx, [Clause(SHOULD, "prefix", ("s",))],
        combine="dismax", tie_breaker=0.0, max_expansions=4,
    )
    assert _rows(got) == _rows(prefix_topk(spark, idx, "s", max_expansions=4))


# ---------------------------------------------------------------------------
# round-5 hardening: empty scoring stream, slop-0, malformed suffixes
# ---------------------------------------------------------------------------


def test_should_only_unindexed_terms_returns_empty(spark, idx):
    """A SHOULD-only query whose terms are all absent from the dictionary
    must return an empty frame with the standard result schema — not
    IndexError on an empty partial-stream list."""
    out = boolean_topk_query(spark, idx, "zzzz qqqq")
    assert out.columns == ["rank", "doc_id", "score"]
    assert out.count() == 0
    # same through an expansion clause that matches no dictionary term
    out2 = boolean_topk_query(spark, idx, "zzz*")
    assert out2.count() == 0


def test_parse_slop_zero_is_phrase():
    """Lucene slop 0 IS the exact phrase — `"a b"~0` must not become an
    unsatisfiable NEAR clause with window 0."""
    (c,) = parse_query('"table hash"~0')
    assert c == Clause(SHOULD, "phrase", ("table", "hash"))


def test_slop_zero_matches_like_phrase(spark, idx):
    assert _rows(boolean_topk_query(spark, idx, '"table hash"~0')) == _rows(
        boolean_topk_query(spark, idx, '"table hash"')
    )


def test_parse_rejects_malformed_suffixes():
    for bad in ("term~3", "term^", "a^b", "x~9", "hash~12"):
        with pytest.raises(ValueError):
            parse_query(bad)


# ---------------------------------------------------------------------------
# batch executor: per-query identity with boolean_topk
# ---------------------------------------------------------------------------

BATCH_QUERIES = {
    0: "+hash spark",                      # MUST + SHOULD terms
    1: 'hash -join "table hash"',          # MUST_NOT + phrase clause
    2: '+"hash join" merge',               # MUST phrase + SHOULD term
    3: '"big join"~3 spark^2',             # NEAR + boosted term
    4: "mer* s*k",                         # prefix + wildcard expansion
    5: "grup~2 table",                     # fuzzy (no dictionary hit) + term
    6: "hash lang:en",                     # FILTER predicate
    7: "-lang:de table",                   # negated predicate
    8: "zzzz qqqq",                        # nothing indexed → empty
}


def test_boolean_batch_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    out = boolean_topk_multi(spark, idx, BATCH_QUERIES, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, q in BATCH_QUERIES.items():
        want = _rows(boolean_topk_query(spark, idx, q, k=10))
        assert sorted(got.get(qid, [])) == sorted(want), f"qid={qid} {q!r}"
    assert 8 not in got  # all-unindexed query yields no rows, no error


def test_boolean_batch_dismax_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {0: "hash spark", 1: 'merge "table hash"', 2: "join^2 table"}
    out = boolean_topk_multi(spark, idx, qs, k=10, combine="dismax", tie_breaker=0.3)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, q in qs.items():
        want = _rows(
            boolean_topk_query(spark, idx, q, k=10, combine="dismax", tie_breaker=0.3)
        )
        assert sorted(got.get(qid, [])) == sorted(want), f"qid={qid} {q!r}"


def test_boolean_batch_validations(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    assert boolean_topk_multi(spark, idx, {}).count() == 0
    with pytest.raises(ValueError):
        boolean_topk_multi(spark, idx, {0: "-join"})  # no scoring clause
    with pytest.raises(ValueError):
        boolean_topk_multi(spark, idx, {0: "hash"}, combine="best")


def _plan_nodes(node):
    """Every physical operator of an executed plan, descending through
    adaptive plans and query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_nodes(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return [node, *_plan_nodes(node.plan())]
    kids = node.children()
    return [node, *(n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i)))]


def test_boolean_plans_read_no_rdd_and_cache_nothing(spark, idx):
    """A phrase SHOULD, a MUST_NOT phrase and a FILTER, single and
    batched (the FILTER keeps the single query on the Spark placement):
    driver-built frames are Arrow LocalRelations (no ExistingRDD scan),
    nothing is persisted or cached, and the plan is one fold
    applyInPandas over the term pack and ONE positional kernel plan
    (scoring and MUST_NOT clauses) — its pack mapInPandas under its
    bucket applyInPandas, consumed once."""
    from contextinator_spark.operators.boolean import boolean_topk_multi

    q = 'hash "table hash" -"spark join" lang:en'
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    for df in (
        boolean_topk_query(spark, idx, q, k=5),
        boolean_topk_multi(spark, idx, {0: q, 1: '+merge "hash join" -"join hash" lang:de'}, k=5),
    ):
        n_cached, was_empty = jsc.getPersistentRDDs().size(), cache.isEmpty()
        assert df.collect()
        nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
        names = [n.getClass().getSimpleName() for n in nodes]
        assert not any("ExistingRDD" in n.toString() for n in nodes), names
        assert jsc.getPersistentRDDs().size() == n_cached
        assert cache.isEmpty() == was_empty
        kernels = [n for n in nodes if n.getClass().getSimpleName() == "FlatMapGroupsInPandasExec"]
        assert len(kernels) == 2, names
        fold, positional = kernels  # pre-order: the fold is on top
        below = [n.getClass().getSimpleName() for n in _plan_nodes(fold)]
        # the term pack, the positional partials and the positional pack
        assert below.count("FlatMapGroupsInPandasExec") == 2, below
        assert below.count("MapInPandasExec") == 3, below
        below = [n.getClass().getSimpleName() for n in _plan_nodes(positional)]
        assert below.count("MapInPandasExec") == 1, below


# ---------------------------------------------------------------------------
# minimum_should_match (Lucene setMinimumNumberShouldMatch)
# ---------------------------------------------------------------------------


def test_msm_filters_by_should_coverage(spark, idx):
    # "hash spark join": per-doc SHOULD coverage — 3:{hash}=1, the rest of
    # the matching docs cover 2 clauses. msm=2 must drop doc 3 WITHOUT
    # rescoring the survivors.
    base = {r.doc_id: r.score for r in
            boolean_topk_query(spark, idx, "hash spark join", k=10).collect()}
    out = boolean_topk_query(
        spark, idx, "hash spark join", k=10, min_should_match=2
    )
    got = {r.doc_id: r.score for r in out.collect()}
    assert set(got) == {0, 1, 2, 4, 6}
    for d, s in got.items():
        assert s == base[d]  # msm filters, never rescores


def test_msm_unsatisfiable_is_empty(spark, idx):
    # no doc matches all three SHOULD terms → msm=3 empty via coverage;
    # msm=4 > clause count empty via the early return
    assert boolean_topk_query(
        spark, idx, "hash spark join", k=10, min_should_match=3
    ).count() == 0
    assert boolean_topk_query(
        spark, idx, "hash spark join", k=10, min_should_match=4
    ).count() == 0
    with pytest.raises(ValueError):
        boolean_topk_query(spark, idx, "hash", min_should_match=-1)


def test_msm_composes_with_must(spark, idx):
    # MUST table restricts to {0, 3, 4}; SHOULD coverage over {hash, spark}:
    # doc 0 = 1 (hash), doc 3 = 1 (hash), doc 4 = 2 → only doc 4 at msm=2
    out = boolean_topk_query(
        spark, idx, "+table hash spark", k=10, min_should_match=2
    )
    assert [r.doc_id for r in out.collect()] == [4]


def test_msm_counts_clauses_not_expansion_terms(spark, idx):
    # wildcard *a* expands to {hash, table, spark}; doc 0 matches TWO of its
    # expansion terms but that is ONE clause — at msm=2 only doc 2
    # (hash + merge) covers both clauses
    cs = [Clause(SHOULD, "wildcard", ("*a*",)), Clause(SHOULD, "term", ("merge",))]
    out = boolean_topk(spark, idx, cs, k=10, min_should_match=2)
    assert [r.doc_id for r in out.collect()] == [2]


def test_msm_dismax_filters_like_sum(spark, idx):
    # msm is combiner-independent: the dismax run at msm=2 is the dismax
    # run at msm=0 restricted to the sum run's surviving doc set
    kw = dict(k=10, combine="dismax", tie_breaker=0.3)
    base = {r.doc_id: r.score for r in
            boolean_topk_query(spark, idx, "hash spark join", **kw).collect()}
    got = {r.doc_id: r.score for r in
           boolean_topk_query(
               spark, idx, "hash spark join", min_should_match=2, **kw
           ).collect()}
    assert set(got) == {0, 1, 2, 4, 6}
    for d, s in got.items():
        assert s == base[d]


def test_boolean_batch_msm_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {0: "hash spark join", 1: "+table hash spark", 2: "merge sort"}
    msm = {0: 2, 1: 2, 2: 1}
    out = boolean_topk_multi(spark, idx, qs, k=10, min_should_match=msm)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, q in qs.items():
        want = _rows(
            boolean_topk_query(spark, idx, q, k=10, min_should_match=msm[qid])
        )
        assert sorted(got.get(qid, [])) == sorted(want), f"qid={qid} {q!r}"
    # int form applies to every query
    out2 = boolean_topk_multi(spark, idx, {0: "hash spark join"}, k=10,
                              min_should_match=2)
    assert sorted((r.rank, r.doc_id, r.score) for r in out2.collect()) == sorted(
        got[0]
    )


# ---------------------------------------------------------------------------
# range clauses (Lucene TermRangeQuery / PointRangeQuery)
# ---------------------------------------------------------------------------


def test_parse_range_clauses():
    cs = parse_query(
        "hash doc_len:[3 TO 10] lang:{a TO en] -doc_len:[* TO 5} repo:[* TO *]"
    )
    assert cs[1] == Clause(
        FILTER, "predicate", predicate="doc_len >= 3 AND doc_len <= 10"
    )
    assert cs[2] == Clause(
        FILTER, "predicate", predicate="lang > 'a' AND lang <= 'en'"
    )
    assert cs[3] == Clause(MUST_NOT, "predicate", predicate="doc_len < 5")
    assert cs[4] == Clause(FILTER, "predicate", predicate="repo IS NOT NULL")
    with pytest.raises(ValueError, match="numeric range"):
        parse_query("hash doc_len:[a TO 5]")
    with pytest.raises(ValueError, match="unknown range field"):
        parse_query("hash size:[1 TO 5]")


def test_range_filter_restricts_without_rescoring(spark, idx):
    # fixture doc_lens: {0:4, 3:4, 6:4}, rest 3; hash matches {0,2,3,4,6}
    base = {r.doc_id: r.score for r in
            boolean_topk_query(spark, idx, "hash", k=10).collect()}
    assert set(base) == {0, 2, 3, 4, 6}
    got = {r.doc_id: r.score for r in
           boolean_topk_query(spark, idx, "hash doc_len:[4 TO *]", k=10).collect()}
    assert set(got) == {0, 3, 6}
    for d, s in got.items():
        assert s == base[d]  # FILTER never rescores
    # exclusive upper bound drops the boundary value
    assert {r.doc_id for r in
            boolean_topk_query(spark, idx, "hash doc_len:{3 TO 4}", k=10).collect()
            } == set()
    # negated string range: exclude langs in [d, dz] → drops the de docs
    assert {r.doc_id for r in
            boolean_topk_query(spark, idx, "hash -lang:[d TO dz]", k=10).collect()
            } == {0, 4}
    # field-existence range is a no-op filter on a fully-populated field
    assert {r.doc_id for r in
            boolean_topk_query(spark, idx, "hash lang:[* TO *]", k=10).collect()
            } == set(base)


# ---------------------------------------------------------------------------
# constant-score clauses (Lucene ^=v / ConstantScoreQuery)
# ---------------------------------------------------------------------------


def test_parse_const_score():
    cs = parse_query('hash^=2 lang:en^=0.5 "hash join"^=1.5 -lang:de^=9')
    assert cs[0] == Clause(SHOULD, "term", ("hash",), const_score=2.0)
    assert cs[1] == Clause(
        SHOULD, "predicate", predicate="lang = 'en'", const_score=0.5
    )
    assert cs[2] == Clause(
        SHOULD, "phrase", ("hash", "join"), const_score=1.5
    )
    # ^= on MUST_NOT is inert: exclusion, not scoring
    assert cs[3] == Clause(MUST_NOT, "predicate", predicate="lang = 'de'")
    with pytest.raises(ValueError, match="mutually exclusive"):
        parse_query("hash^2^=3")


def test_const_term_scores_flat(spark, idx):
    # hash matches {0,2,3,4,6}; ^=2 makes every match score exactly 2.0
    got = {r.doc_id: r.score for r in
           boolean_topk_query(spark, idx, "hash^=2", k=10).collect()}
    assert got == {0: 2.0, 2: 2.0, 3: 2.0, 4: 2.0, 6: 2.0}


def test_const_expansion_counts_once(spark, idx):
    # *a*^=1 expands to {hash, table, spark, relevant}; doc 0 matches hash
    # AND table but the ConstantScore contract is exactly v once per doc
    got = {r.doc_id: r.score for r in
           boolean_topk_query(spark, idx, "*a*^=1", k=10).collect()}
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0, 6: 1.0, 7: 1.0}


def test_const_predicate_scores_filter(spark, idx):
    # ConstantScore over a metadata filter: en docs get +0.5, and en docs
    # NOT matching hash still enter as SHOULD matches at exactly 0.5
    base = {r.doc_id: r.score for r in
            boolean_topk_query(spark, idx, "hash", k=10).collect()}
    got = {r.doc_id: r.score for r in
           boolean_topk_query(spark, idx, "hash lang:en^=0.5", k=10).collect()}
    en = {0, 1, 4, 5, 7}
    assert set(got) == set(base) | en
    for d, s in got.items():
        want = base.get(d, 0.0) + (0.5 if d in en else 0.0)
        assert s == pytest.approx(want, abs=1e-6), d
    # MUST form restricts AND scores: only de docs, +1 each
    got_m = {r.doc_id: r.score for r in
             boolean_topk_query(spark, idx, "+lang:de^=1 hash", k=10).collect()}
    assert set(got_m) == {2, 3, 6}
    for d, s in got_m.items():
        assert s == pytest.approx(1.0 + base[d], abs=1e-6)


def test_const_dismax(spark, idx):
    # dismax over (hash^=2, spark): score = max(2·[hash], bm25_spark)
    base = {r.doc_id: r.score for r in
            boolean_topk_query(spark, idx, "spark", k=10).collect()}
    got = {r.doc_id: r.score for r in
           boolean_topk_query(
               spark, idx, "hash^=2 spark", k=10, combine="dismax"
           ).collect()}
    hash_docs = {0, 2, 3, 4, 6}
    assert set(got) == hash_docs | set(base)
    for d, s in got.items():
        want = max(2.0 if d in hash_docs else 0.0, base.get(d, 0.0))
        assert s == pytest.approx(want, abs=1e-6), d


def test_boolean_batch_const_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {
        0: "hash lang:en^=0.5",
        1: "*a*^=1 merge",
        2: "+hash table^=1.5",
        3: '"hash join"^=2 spark',
        4: '"table hash" merge',  # a BM25 phrase beside a const one
    }
    out = boolean_topk_multi(spark, idx, qs, k=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, q in qs.items():
        want = _rows(boolean_topk_query(spark, idx, q, k=10))
        assert sorted(got.get(qid, [])) == sorted(want), f"qid={qid} {q!r}"


# ---------------------------------------------------------------------------
# phrase-prefix clauses ("table h*" — ES match_phrase_prefix)
# ---------------------------------------------------------------------------


def test_parse_phrase_prefix_clause():
    cs = parse_query('+"hash ta*" "a b c*"^2 -"table h*"')
    assert cs[0] == Clause(MUST, "phrase_prefix", ("hash",), prefix="ta")
    assert cs[1] == Clause(
        SHOULD, "phrase_prefix", ("a", "b"), prefix="c", boost=2.0
    )
    assert cs[2] == Clause(MUST_NOT, "phrase_prefix", ("table",), prefix="h")


def test_parse_phrase_prefix_rejects_malformed():
    for bad in ('"h*ash x"', '"hash t*"~2', '"t*"', '"a * b"', '"x y*z"'):
        with pytest.raises(ValueError):
            parse_query(bad)


def test_boolean_phrase_prefix_matches_positional_executor(spark, idx):
    """A single SHOULD phrase-prefix clause scores identically to
    phrase_prefix_topk_indexed (same synthetic-term BM25)."""
    from contextinator_spark.operators.phrase import phrase_prefix_topk_indexed

    got = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, '"table h*"', k=10).collect()
    ]
    want = [
        (r.rank, r.doc_id, r.score)
        for r in phrase_prefix_topk_indexed(spark, idx, ["table"], "h", k=10).collect()
    ]
    assert got == want and got
    # expansion {hash, here}: only "table hash" bigrams exist → docs 0, 3
    assert {d for _r, d, _s in got} == {0, 3}


def test_boolean_phrase_prefix_must_not_and_unexpandable(spark, idx):
    # -"table h*" excludes docs 0 and 3 from the hash matches {0,2,3,4,6}
    got = {
        r.doc_id
        for r in boolean_topk_query(spark, idx, 'hash -"table h*"', k=10).collect()
    }
    assert got == {2, 4, 6}
    # unexpandable MUST prefix → empty result
    assert boolean_topk_query(spark, idx, '+hash +"table zz*"', k=10).count() == 0
    # unexpandable SHOULD prefix → same as the plain term query
    a = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, 'hash "table zz*"', k=10).collect()
    ]
    b_ = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, "hash", k=10).collect()
    ]
    assert a == b_
    # unexpandable MUST_NOT prefix excludes nothing
    c = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, 'hash -"table zz*"', k=10).collect()
    ]
    assert c == b_


def test_boolean_batch_phrase_prefix_matches_single(spark, idx):
    from contextinator_spark.operators.boolean import boolean_topk_multi

    qs = {
        0: '"table h*" spark',
        1: '+hash -"table h*"',
        2: '+"hash ta*"^2 join',
        3: 'hash "table zz*"',
    }
    batch = boolean_topk_multi(spark, idx, qs, k=10)
    got: dict[int, list] = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, q in qs.items():
        want = [
            (r.rank, r.doc_id, r.score)
            for r in boolean_topk_query(spark, idx, q, k=10).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(want), (qid, q)


# ---------------------------------------------------------------------------
# did-you-mean suggestions (Lucene DirectSpellChecker analog)
# ---------------------------------------------------------------------------


def test_suggest_terms_ordering_and_exclusion(spark, idx):
    """Suggestions exclude the exact term, order (dist asc, df desc, term
    asc), carry dist/df, and respect k / max_edits / prefix_length."""
    from contextinator_spark.operators.bm25_segments import suggest_terms

    # DOCS dfs: hash 5, here 1; "har" → hash d2, here d2 → df breaks tie
    rows = suggest_terms(spark, idx, "har", max_edits=2, k=5).collect()
    assert [(r.rank, r.suggestion, r.dist) for r in rows] == [
        (1, "hash", 2), (2, "here", 2)
    ]
    assert rows[0].df == 5 and rows[1].df == 1
    # exact dictionary term is excluded even when it IS the seed
    rows = suggest_terms(spark, idx, "hash", max_edits=2, k=5).collect()
    assert "hash" not in {r.suggestion for r in rows}
    # k bound and unknown seed
    assert suggest_terms(spark, idx, "har", k=1).count() == 1
    assert suggest_terms(spark, idx, "qqqqqq", max_edits=1, k=5).count() == 0
    # prefix_length pins the head
    only = suggest_terms(spark, idx, "har", max_edits=2, prefix_length=2, k=5)
    assert [r.suggestion for r in only.collect()] == ["hash"]
    with pytest.raises(ValueError):
        suggest_terms(spark, idx, "x", max_edits=0)


# ---------------------------------------------------------------------------
# boosting query (ES `boosting`: demote matches of a negative query)
# ---------------------------------------------------------------------------


def test_boosting_demotes_but_keeps(spark, idx):
    """Docs matching the negative query stay in the result with score ×
    negative_boost; others keep their positive score — equals a manual
    recompute from the full positive ranking."""
    from contextinator_spark.operators.boolean import boosting_topk

    factor = 0.3
    got = [
        (r.rank, r.doc_id, r.score)
        for r in boosting_topk(spark, idx, "hash spark", "join", factor, k=10).collect()
    ]
    pos = boolean_topk_query(spark, idx, "hash spark", k=100).collect()
    neg = {r.doc_id for r in boolean_topk_query(spark, idx, "join", k=100).collect()}
    manual = sorted(
        (
            (r.doc_id, round(r.score * factor, 6) if r.doc_id in neg else r.score)
            for r in pos
        ),
        key=lambda x: (-x[1], x[0]),
    )
    want = [(i + 1, d, s) for i, (d, s) in enumerate(manual[:10])]
    assert got == want
    # demoted docs are PRESENT (vs MUST_NOT, which drops them)
    assert neg & {d for _r, d, _s in got}
    # and the order actually changed vs the undemoted ranking
    assert [d for _r, d, _s in got] != [r.doc_id for r in pos[:10]]


def test_boosting_inert_negative_and_guards(spark, idx):
    from contextinator_spark.operators.boolean import boosting_topk

    a = [
        (r.rank, r.doc_id, r.score)
        for r in boosting_topk(spark, idx, "hash spark", "zzz_absent", 0.3, k=10).collect()
    ]
    b_ = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, "hash spark", k=10).collect()
    ]
    assert a == b_
    # factor 0 nukes demoted scores to 0 but keeps the docs
    z = boosting_topk(spark, idx, "hash spark", "join", 0.0, k=10).collect()
    assert {r.doc_id for r in z} == {d for _r, d, _s in b_}
    assert any(r.score == 0.0 for r in z)
    with pytest.raises(ValueError, match="negative_boost"):
        boosting_topk(spark, idx, "hash", "join", 1.0)
    with pytest.raises(ValueError, match="negative_boost"):
        boosting_topk(spark, idx, "hash", "join", -0.1)


# ---------------------------------------------------------------------------
# two-pass rescoring (ES `rescore`: re-rank the top-N window)
# ---------------------------------------------------------------------------


def test_rescore_matches_manual_recompute(spark, idx):
    from contextinator_spark.operators.boolean import rescore_topk

    qw, rw, win = 1.0, 2.0, 5
    got = [
        (r.rank, r.doc_id, r.score)
        for r in rescore_topk(
            spark, idx, "hash spark", '"table hash"',
            window_size=win, query_weight=qw, rescore_weight=rw, k=5,
        ).collect()
    ]
    first = boolean_topk_query(spark, idx, "hash spark", k=win).collect()
    second = {
        r.doc_id: r.score
        for r in boolean_topk_query(spark, idx, '"table hash"', k=100).collect()
    }
    manual = sorted(
        ((r.doc_id, round(qw * r.score + rw * second.get(r.doc_id, 0.0), 6))
         for r in first),
        key=lambda x: (-x[1], x[0]),
    )
    want = [(i + 1, d, s) for i, (d, s) in enumerate(manual[:5])]
    assert got == want and got
    # the phrase pass actually reordered the window
    assert [d for _r, d, _s in got] != [r.doc_id for r in first]


def test_rescore_window_bounds_and_guards(spark, idx):
    from contextinator_spark.operators.boolean import rescore_topk

    # a doc outside the window can never enter the top-k: window 1 keeps
    # only the first-pass winner regardless of the rescore query
    one = rescore_topk(
        spark, idx, "hash spark", '"table hash"',
        window_size=1, rescore_weight=100.0, k=1,
    ).collect()
    first_top = boolean_topk_query(spark, idx, "hash spark", k=1).collect()
    assert [r.doc_id for r in one] == [r.doc_id for r in first_top]
    # rescore query matching nothing → first-pass order and scores
    inert = [
        (r.rank, r.doc_id, r.score)
        for r in rescore_topk(
            spark, idx, "hash spark", "zzz_absent", window_size=5, k=5
        ).collect()
    ]
    base = [
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, "hash spark", k=5).collect()
    ]
    assert inert == base
    with pytest.raises(ValueError, match="window_size"):
        rescore_topk(spark, idx, "hash", "join", window_size=5, k=10)


# ---------------------------------------------------------------------------
# function_score (field_value_factor)
# ---------------------------------------------------------------------------


def test_function_score_matches_manual(spark, idx):
    from contextinator_spark.operators.boolean import function_score_topk

    base = {
        r.doc_id: r.score
        for r in boolean_topk_query(spark, idx, "hash spark", k=100).collect()
    }
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    for modifier, mode, factor, fn in [
        ("log1p", "multiply", 1.0, lambda v: math.log1p(v)),
        ("sqrt", "sum", 0.5, lambda v: math.sqrt(v)),
        ("none", "multiply", 2.0, lambda v: v),
    ]:
        got = [
            (r.rank, r.doc_id, r.score)
            for r in function_score_topk(
                spark, idx, "hash spark",
                modifier=modifier, mode=mode, factor=factor, k=10,
            ).collect()
        ]
        manual = sorted(
            (
                (d, round(
                    s * fn(factor * dl[d]) if mode == "multiply"
                    else s + fn(factor * dl[d]), 6))
                for d, s in base.items()
            ),
            key=lambda x: (-x[1], x[0]),
        )
        want = [(i + 1, d, s) for i, (d, s) in enumerate(manual[:10])]
        assert got == want, (modifier, mode)
    with pytest.raises(ValueError, match="modifier"):
        function_score_topk(spark, idx, "hash", modifier="exp")
    with pytest.raises(ValueError, match="mode"):
        function_score_topk(spark, idx, "hash", mode="max")


# ---------------------------------------------------------------------------
# aggregations: facet stats + significant terms
# ---------------------------------------------------------------------------


def test_facet_stats_matches_manual(spark, idx):
    from contextinator_spark.operators.bm25_segments import facet_stats

    rows = facet_stats(spark, idx, ["hash", "spark"], "lang", "doc_len").collect()
    # match set: docs containing hash or spark = {0,1,2,3,4,6}
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    lang = {d: l for d, _c, l in DOCS}
    match = {0, 1, 2, 3, 4, 6}
    want = {}
    for lg in sorted({lang[d] for d in match}):
        ds = [d for d in match if lang[d] == lg]
        ls = [dl[d] for d in ds]
        want[lg] = (len(ds), min(ls), round(sum(ls) / len(ls), 6), max(ls))
    got = {
        r[0]: (r.n_docs, r.min_doc_len, r.avg_doc_len, r.max_doc_len)
        for r in rows
    }
    assert got == want


def test_significant_terms_lift_and_exclusions(spark, idx):
    from contextinator_spark.operators.bm25_segments import significant_terms

    rows = significant_terms(spark, idx, ["spark"], k=10, min_fg=1).collect()
    # fg set = docs with spark = {1, 4}; manual lift per term
    toks = {d: c.split() for d, c, _l in DOCS}
    n, fg_set = len(DOCS), {1, 4}
    want = {}
    for t in {w for ws in toks.values() for w in ws}:
        if t == "spark":
            continue
        fg = sum(1 for d in fg_set if t in toks[d])
        df = sum(1 for d in toks if t in toks[d])
        if fg >= 1:
            want[t] = (fg, df, round((fg / len(fg_set)) / (df / n), 6))
    got = {r.term: (r.fg, r.df, r.score) for r in rows}
    assert got == want
    # ordering: lift desc; "join" (fg 1 of 2, df 4/8) lift 1.0;
    # "hash"/"table" in doc4 → fg 1, df 5 and 3
    order = [r.term for r in rows]
    assert order == sorted(want, key=lambda t: (-want[t][2], -want[t][0], t))
    # query term excluded
    assert "spark" not in got
    # absent query → empty frame with schema
    empty = significant_terms(spark, idx, ["zzz_absent"], k=5)
    assert empty.count() == 0 and empty.columns == ["rank", "term", "fg", "df", "score"]


def test_top_hits_per_group_matches_manual(spark, idx):
    from contextinator_spark.operators.bm25_segments import top_hits, topk_segments

    rows = top_hits(spark, idx, ["hash", "spark"], "lang", k_per_group=2).collect()
    # manual: full exact ranking, then per-lang top-2
    full = {
        r.doc_id: r.score
        for r in topk_segments(spark, idx, ["hash", "spark"], k=100).collect()
    }
    lang = {d: l for d, _c, l in DOCS}
    want = []
    for lg in sorted({lang[d] for d in full}):
        ds = sorted(
            (d for d in full if lang[d] == lg),
            key=lambda d: (-full[d], d),
        )[:2]
        want.extend((lg, i + 1, d, full[d]) for i, d in enumerate(ds))
    got = [(r[0], r.group_rank, r.doc_id, r.score) for r in rows]
    assert got == want and got
    # absent terms → empty with schema
    empty = top_hits(spark, idx, ["zzz_absent"], "lang")
    assert empty.count() == 0 and empty.columns == ["lang", "group_rank", "doc_id", "score"]


def test_histogram_agg_buckets(spark, idx):
    from contextinator_spark.operators.bm25_segments import histogram_agg

    rows = histogram_agg(spark, idx, ["hash", "spark"], "doc_len", interval=2).collect()
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    match = {0, 1, 2, 3, 4, 6}
    want: dict[int, int] = {}
    for d in match:
        bkt = (dl[d] // 2) * 2
        want[bkt] = want.get(bkt, 0) + 1
    assert {r.bucket: r.n_docs for r in rows} == want
    assert [r.bucket for r in rows] == sorted(want)
    import pytest as _pt

    with _pt.raises(ValueError):
        histogram_agg(spark, idx, ["hash"], interval=0)


# ---------------------------------------------------------------------------
# Boolean explain (per-clause decomposition)
# ---------------------------------------------------------------------------


def test_boolean_explain_partials_sum_to_score(spark, idx):
    from contextinator_spark.operators.boolean import boolean_explain

    q = '+hash spark -join "table hash" lang:en'
    rows = boolean_explain(spark, idx, q, k=10).collect()
    assert rows
    # ranking identical to the collector
    want = {
        (r.rank, r.doc_id, r.score)
        for r in boolean_topk_query(spark, idx, q, k=10).collect()
    }
    assert {(r.rank, r.doc_id, r.score) for r in rows} == want
    # per-hit: sum of clause partials re-rounds to the total score
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rs in by_doc.items():
        assert round(sum(x.partial for x in rs), 4) == round(rs[0].score, 4), d
        # occur/kind sugar present and sane
        assert all(x.occur in ("MUST", "SHOULD") for x in rs)
        assert {x.kind for x in rs} <= {"term", "phrase"}
    # the MUST hash clause (cid 0) appears for every hit
    assert all(any(x.clause_id == 0 for x in rs) for rs in by_doc.values())


def test_boolean_explain_const_folds_once(spark, idx):
    from contextinator_spark.operators.boolean import boolean_explain

    # mer*^=2: const over an expansion — partial must be exactly 2 once
    rows = boolean_explain(spark, idx, "hash mer*^=2.0", k=10).collect()
    const_rows = [r for r in rows if r.kind == "prefix"]
    assert const_rows and all(r.partial == 2.0 for r in const_rows)


def test_complete_terms_ranked_by_df(spark, idx):
    from contextinator_spark.operators.bm25_segments import complete_terms

    rows = complete_terms(spark, idx, "s", k=10).collect()
    # DOCS dfs: spark {1,4}=2, sort {5}=1
    assert [(r.rank, r.term, r.df) for r in rows] == [
        (1, "spark", 2), (2, "sort", 1)
    ]
    assert complete_terms(spark, idx, "zz", k=5).count() == 0
    assert complete_terms(spark, idx, "spark", k=1).collect()[0].term == "spark"
    import pytest as _pt

    with _pt.raises(ValueError):
        complete_terms(spark, idx, "")


def test_percentiles_agg_matches_manual(spark, idx):
    import numpy as np

    from contextinator_spark.operators.bm25_segments import percentiles_agg

    pcts = (0.25, 0.5, 0.75, 0.99)
    rows = percentiles_agg(spark, idx, ["hash", "spark"], "doc_len", pcts).collect()
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    vals = np.array(sorted(dl[d] for d in {0, 1, 2, 3, 4, 6}), dtype=float)
    want = [
        (p, round(float(np.quantile(vals, p, method="linear")), 6)) for p in pcts
    ]
    assert [(r.percentile, r.value) for r in rows] == want
    with pytest.raises(ValueError, match="percentile"):
        percentiles_agg(spark, idx, ["hash"], percentiles=(1.5,))
    assert percentiles_agg(spark, idx, ["zzzz_none"]).count() == 0


def test_extended_stats_matches_manual(spark, idx):
    import numpy as np

    from contextinator_spark.operators.bm25_segments import extended_stats

    row = extended_stats(spark, idx, ["hash", "spark"], "doc_len").collect()[0]
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    vals = np.array([dl[d] for d in {0, 1, 2, 3, 4, 6}], dtype=float)
    assert (
        row.n_docs,
        row.min_doc_len,
        row.max_doc_len,
        row.sum_doc_len,
        row.avg_doc_len,
        row.var_doc_len,
        row.std_doc_len,
    ) == (
        len(vals),
        int(vals.min()),
        int(vals.max()),
        int(vals.sum()),
        round(float(vals.mean()), 6),
        round(float(vals.var()), 6),
        round(float(vals.std()), 6),
    )
    assert extended_stats(spark, idx, ["zzzz_none"]).count() == 0


def test_match_count_approximate_within_rsd(spark, idx):
    from contextinator_spark.operators.bm25_segments import match_count

    exact = match_count(spark, idx, ["hash", "spark"]).collect()[0]["n_docs"]
    approx = match_count(
        spark, idx, ["hash", "spark"], approximate=True, rsd=0.05
    ).collect()[0]["n_docs"]
    # tiny set: HLL++ is exact-ish far below the register capacity, but
    # assert only the contract: within 3*rsd of the true cardinality
    assert abs(approx - exact) <= max(1, 3 * 0.05 * exact)


def test_decay_score_matches_manual(spark, idx):
    import math as m

    from contextinator_spark.operators.boolean import (
        boolean_topk,
        decay_score_topk,
        parse_query,
    )

    dl = {d: len(c.split()) for d, c, _l in DOCS}
    base = {
        r.doc_id: r.score
        for r in boolean_topk(spark, idx, parse_query("hash spark"), k=50).collect()
    }
    origin, scale, offset, decay = 4.0, 2.0, 0.0, 0.5
    for shape in ("gauss", "exp", "linear"):
        got = [
            (r.rank, r.doc_id, r.score)
            for r in decay_score_topk(
                spark, idx, "hash spark", "doc_len",
                origin=origin, scale=scale, offset=offset, decay=decay,
                shape=shape, k=50,
            ).collect()
        ]
        manual = []
        for d, s in base.items():
            dist = max(0.0, abs(dl[d] - origin) - offset)
            if shape == "gauss":
                mult = m.exp(-(dist ** 2) / (2 * (-(scale ** 2) / (2 * m.log(decay)))))
            elif shape == "exp":
                mult = m.exp(m.log(decay) / scale * dist)
            else:
                l = scale / (1 - decay)
                mult = max(0.0, (l - dist) / l)
            from decimal import ROUND_HALF_UP, Decimal

            manual.append(
                (d, float(Decimal(repr(s * mult)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP)))
            )
        manual.sort(key=lambda x: (-x[1], x[0]))
        want = [(i + 1, d, s) for i, (d, s) in enumerate(manual)]
        assert got == want, shape
    # at distance == scale the multiplier is exactly `decay` (ES contract)
    for shape in ("gauss", "exp", "linear"):
        one = decay_score_topk(
            spark, idx, "hash", "doc_len", origin=0.0, scale=4.0,
            decay=0.5, shape=shape, k=50,
        )
        row = {r.doc_id: r.score for r in one.collect()}
        base1 = {
            r.doc_id: r.score
            for r in boolean_topk(spark, idx, parse_query("hash"), k=50).collect()
        }
        d4 = [d for d in row if dl[d] == 4]
        for d in d4:
            assert row[d] == pytest.approx(base1[d] * 0.5, abs=2e-6), shape


def test_decay_score_guards(spark, idx):
    from contextinator_spark.operators.boolean import decay_score_topk

    with pytest.raises(ValueError, match="shape"):
        decay_score_topk(spark, idx, "hash", shape="step")
    with pytest.raises(ValueError, match="decay"):
        decay_score_topk(spark, idx, "hash", decay=1.0)
    with pytest.raises(ValueError, match="scale"):
        decay_score_topk(spark, idx, "hash", scale=0.0)


def test_composite_agg_pages_cover_all_buckets(spark, idx):
    from contextinator_spark.operators.bm25_segments import composite_agg

    # full bucket space via one big page
    full = [
        (r[0], r["bucket"], r["n_docs"])
        for r in composite_agg(
            spark, idx, ["hash", "spark"], "lang", "doc_len",
            interval=2, size=100,
        ).collect()
    ]
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    lang = {d: l for d, _c, l in DOCS}
    match = {0, 1, 2, 3, 4, 6}
    want: dict = {}
    for d in match:
        key = (lang[d], (dl[d] // 2) * 2)
        want[key] = want.get(key, 0) + 1
    assert full == sorted((g, b, n) for (g, b), n in want.items())
    # page through with size=2: concatenation == full, no dup, no gap
    pages, after = [], None
    while True:
        page = [
            (r[0], r["bucket"], r["n_docs"])
            for r in composite_agg(
                spark, idx, ["hash", "spark"], "lang", "doc_len",
                interval=2, size=2, after=after,
            ).collect()
        ]
        if not page:
            break
        pages.extend(page)
        after = (page[-1][0], page[-1][1])
    assert pages == full
    with pytest.raises(ValueError, match="interval"):
        composite_agg(spark, idx, ["hash"], interval=0)


def test_mad_agg_matches_manual(spark, idx):
    import numpy as np

    from contextinator_spark.operators.bm25_segments import mad_agg

    row = mad_agg(spark, idx, ["hash", "spark"], "doc_len").collect()[0]
    dl = {d: len(c.split()) for d, c, _l in DOCS}
    vals = np.array(sorted(dl[d] for d in {0, 1, 2, 3, 4, 6}), dtype=float)
    med = float(np.quantile(vals, 0.5, method="linear"))
    mad = float(np.quantile(np.abs(vals - med), 0.5, method="linear"))
    assert (row["median"], row["mad"]) == (round(med, 6), round(mad, 6))
    assert mad_agg(spark, idx, ["zzzz_none"]).count() == 0


def test_rare_terms_long_tail(spark, idx):
    from contextinator_spark.operators.bm25_segments import rare_terms

    rows = [
        (r["rank"], r["term"], r["fg"])
        for r in rare_terms(spark, idx, ["hash", "spark"], max_doc_count=1, k=50).collect()
    ]
    toks = {d: c.split() for d, c, _l in DOCS}
    match = {0, 1, 2, 3, 4, 6}
    counts: dict = {}
    for d in match:
        for t in set(toks[d]):
            counts[t] = counts.get(t, 0) + 1
    want = sorted(
        (t, n) for t, n in counts.items() if n <= 1 and t not in {"hash", "spark"}
    )
    assert rows == [(i + 1, t, n) for i, (t, n) in enumerate(want)]
    with pytest.raises(ValueError, match="max_doc_count"):
        rare_terms(spark, idx, ["hash"], max_doc_count=0)


def test_script_score_matches_manual(spark, idx):
    import math as m

    from contextinator_spark.operators.boolean import (
        boolean_topk,
        parse_query,
        script_score_topk,
    )

    dl = {d: len(c.split()) for d, c, _l in DOCS}
    lang = {d: l for d, _c, l in DOCS}
    base = {
        r.doc_id: r.score
        for r in boolean_topk(spark, idx, parse_query("hash spark"), k=50).collect()
    }
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    cases = [
        ("score * ln(1 + doc_len)", lambda d, s: s * m.log(1 + dl[d])),
        ("score * 0.5 + sqrt(doc_len)", lambda d, s: s * 0.5 + m.sqrt(dl[d])),
        (
            "case when lang = 'en' then score * 2 else score end",
            lambda d, s: s * 2 if lang[d] == "en" else s,
        ),
    ]
    for expr, fn in cases:
        got = [
            (r.rank, r.doc_id, r.score)
            for r in script_score_topk(spark, idx, "hash spark", expr, k=50).collect()
        ]
        manual = sorted(
            ((d, r6(fn(d, s))) for d, s in base.items()),
            key=lambda x: (-x[1], x[0]),
        )
        assert got == [(i + 1, d, s) for i, (d, s) in enumerate(manual)], expr
