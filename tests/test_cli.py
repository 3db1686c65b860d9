"""CLI surface tests — every subcommand runs against the sf0.001 testdata
through the same SparkSession (main(argv, spark=...) skips session
setup/teardown per command)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from contextinator_spark import cli

SF = "/root/testdata/sf0.001"


def run_cli(capsys, spark, *argv) -> list[str]:
    cli.main(list(argv), spark=spark)
    out = capsys.readouterr().out.strip()
    return out.splitlines() if out else []


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_idx"))
    cli.main(["build", "--corpus", SF, "--index", d], spark=spark)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cli_search_and_read_and_list(capsys, spark):
    lines = run_cli(capsys, spark, "search", "--corpus", SF, "--pattern", "the", "--limit", "5")
    assert 0 < len(lines) <= 5
    rec = json.loads(lines[0])
    assert {"doc_id", "line_no", "line"} <= set(rec)

    # pick that doc's synthetic path for a line-range read
    docs = run_cli(capsys, spark, "list", "--corpus", SF)
    top = json.loads(docs[0])
    assert {"name", "is_dir", "n_entries"} <= set(top)

    from contextinator_spark.sources.corpus import documents_as_corpus

    path = documents_as_corpus(spark, SF).limit(1).collect()[0]["path"]
    out = run_cli(
        capsys, spark, "read", "--corpus", SF, "--path", path,
        "--start-line", "1", "--end-line", "2",
    )
    rec = json.loads(out[0])
    assert rec["lines_returned"] <= 2


def test_cli_symbols_and_cat(capsys, spark, tmp_path):
    # symbols/cat need a code-shaped corpus — write the synth corpus out
    from contextinator_spark.sources.corpus import synth_corpus

    p = str(tmp_path / "corpus.parquet")
    synth_corpus(spark, n_files=30, seed=7).write.mode("overwrite").parquet(p)
    syms = run_cli(capsys, spark, "symbols", "--corpus", p, "--limit", "10")
    assert syms and {"name", "type"} <= set(json.loads(syms[0]))

    row = spark.read.parquet(p).limit(1).collect()[0]
    out = run_cli(capsys, spark, "cat", "--corpus", p, "--path", row["path"])
    rec = json.loads(out[0])
    assert rec["content"] == row["content"]  # exact reconstruction (W2)


def test_cli_build_query_stats(capsys, spark, index_dir):
    assert os.path.exists(os.path.join(index_dir, "stats.json"))
    res = run_cli(capsys, spark, "query", "--index", index_dir, "--query", "auth token", "--k", "5")
    assert len(res) <= 5
    if res:
        rec = json.loads(res[0])
        assert rec["rank"] == 1 and "score" in rec
    st = json.loads(run_cli(capsys, spark, "stats", "--index", index_dir)[0])
    assert st["stats"]["n_docs"] > 0 and st["epochs"]


def test_toon_encoder_shapes():
    """Minimal public-spec TOON shapes (toon_encoder.py:18-43 wraps the
    public toon-format lib; this pins our standalone subset)."""
    from contextinator_spark.functions.toon import toon_encode

    # the docstring example from the reference's wrapper
    assert toon_encode({"tags": ["jazz", "chill", "lofi"], "count": 3}) == (
        "tags[3]: jazz,chill,lofi\ncount: 3"
    )
    # uniform object array → tabular header + CSV rows
    rows = [{"rank": 1, "doc_id": 7, "score": 1.5}, {"rank": 2, "doc_id": 9, "score": 1.25}]
    assert toon_encode(rows) == (
        "[2]{rank,doc_id,score}:\n  1,7,1.5\n  2,9,1.25"
    )
    # quoting: delimiters, numeric-looking strings, bools, whitespace
    out = toon_encode({"a": "x,y", "b": "12", "c": "true", "d": " pad ", "e": "plain"})
    assert '"x,y"' in out and '"12"' in out and '"true"' in out and '" pad "' in out
    assert "e: plain" in out
    # nested dict + null
    assert toon_encode({"m": {"k": None}}) == "m:\n  k: null"


def test_cli_format_toon(capsys, spark):
    # scalar-uniform rows (symbols) take the tabular fast path
    lines = run_cli(
        capsys, spark, "--format", "toon", "symbols", "--corpus", SF, "--limit", "3",
    )
    assert lines[0].startswith("[") and "{" in lines[0] and "name" in lines[0]
    n = int(lines[0][1 : lines[0].index("]")])
    assert len(lines) == 1 + n and all(l.startswith("  ") for l in lines[1:])
    # rows with array fields (search context) render per-item, not tabular
    lines = run_cli(
        capsys, spark, "--format", "toon", "search", "--corpus", SF,
        "--pattern", "the", "--limit", "2",
    )
    assert lines[0] == "[2]:" and "doc_id:" in "".join(lines)


def test_toon_key_folding():
    from contextinator_spark.functions.toon import toon_encode

    d = {"a": {"b": {"c": 1}}, "x": {"y": {"k1": 1, "k2": 2}}, "not a key": {"v": 3}}
    folded = toon_encode(d, fold_keys=True)
    assert "a.b.c: 1" in folded
    assert "x.y:" in folded  # chain stops at the multi-key dict
    assert '"not a key"' in folded or "not a key:" in folded  # unsafe key unfolded
    # default stays unfolded (reference library default)
    assert "a.b.c" not in toon_encode(d)


def test_cli_search_facets(capsys, spark):
    lines = run_cli(
        capsys, spark, "search", "--corpus", SF, "--pattern", "spark",
        "--context-lines", "0", "--limit", "5", "--facets",
    )
    facet_lines = [ln for ln in lines if '"facets"' in ln]
    assert len(facet_lines) == 1
    f = json.loads(facet_lines[0])["facets"]
    assert f["n_results"] >= 1 and "langs" in f and "paths" in f


def test_cli_query_facets(capsys, spark, index_dir):
    lines = run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "spark hash",
        "--k", "5", "--facets",
    )
    facet_lines = [ln for ln in lines if '"facets"' in ln]
    assert len(facet_lines) == 1
    f = json.loads(facet_lines[0])["facets"]
    assert f["n_results"] >= 1


def test_cli_phrase_scan_and_indexed(capsys, spark, tmp_path_factory):
    scan = run_cli(
        capsys, spark, "phrase", "--corpus", SF, "--query", "table hash", "--k", "5"
    )
    assert scan, "phrase scan returned no rows"
    rec = json.loads(scan[0])
    assert {"rank", "doc_id", "score"} <= set(rec)

    d = str(tmp_path_factory.mktemp("cli_phrase_idx"))
    out = run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    assert json.loads(out[0])["posting_format"] == 2
    idx = run_cli(
        capsys, spark, "phrase", "--index", d, "--query", "table hash", "--k", "5"
    )
    assert [json.loads(x) for x in idx] == [json.loads(x) for x in scan]


def test_cli_phrase_requires_exactly_one_source(capsys, spark):
    # argparse enforces the --corpus/--index mutually-exclusive-required
    # group with a usage error, not an opaque Py4J failure (round-3 ADVICE)
    with pytest.raises(SystemExit):
        cli.main(["phrase", "--query", "table hash"], spark=spark)
    capsys.readouterr()
    with pytest.raises(SystemExit):
        cli.main(
            ["phrase", "--query", "x", "--corpus", SF, "--index", "/tmp/nope"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_compact_identical_results_one_slice(capsys, spark, tmp_path):
    """`cli compact` folds every term to one slice and leaves query results
    (BM25 and phrase — the corpus is built as a positions store) identical."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "salted.parquet")
    spark.createDataFrame(
        [(i, f"hot pair filler{i} hot pair") for i in range(40)],
        "doc_id long, content string",
    ).write.parquet(p)
    d = str(tmp_path / "idx")
    run_cli(capsys, spark, "phrase-build", "--corpus", p, "--index", d)
    seg = spark.read.parquet(os.path.join(d, "segments"))
    assert seg.filter(F.col("term") == "hot").count() > 1  # salted

    before_q = run_cli(capsys, spark, "query", "--index", d, "--query", "hot pair", "--k", "50")
    before_ph = run_cli(capsys, spark, "phrase", "--index", d, "--query", "hot pair", "--k", "50")

    out = run_cli(capsys, spark, "compact", "--index", d)
    assert json.loads(out[0])["compacted"] is True

    seg2 = spark.read.parquet(os.path.join(d, "segments"))
    per_term = seg2.groupBy("term").count().agg(F.max("count")).collect()[0][0]
    assert per_term == 1  # every term folded to one slice

    after_q = run_cli(capsys, spark, "query", "--index", d, "--query", "hot pair", "--k", "50")
    after_ph = run_cli(capsys, spark, "phrase", "--index", d, "--query", "hot pair", "--k", "50")
    assert [json.loads(x) for x in after_q] == [json.loads(x) for x in before_q]
    assert [json.loads(x) for x in after_ph] == [json.loads(x) for x in before_ph]


def test_cli_query_wildcard_matches_expanded(capsys, spark, index_dir):
    """`spar*` in the query string expands via the dictionary and scores
    identically to spelling out the expansion as literal terms."""
    from contextinator_spark.operators.bm25_segments import expand_wildcard

    terms = expand_wildcard(spark, index_dir, "spar*")
    assert "spark" in terms
    wild = run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "spar* hash", "--k", "5"
    )
    lit = run_cli(
        capsys, spark, "query", "--index", index_dir,
        "--query", " ".join(terms) + " hash", "--k", "5",
    )
    assert wild == lit and len(wild) >= 1


def test_cli_query_regexp_matches_expanded(capsys, spark, index_dir):
    """`/re/` words expand via the dictionary (whole-term match) and score
    identically to spelling out the expansion as literal terms."""
    from contextinator_spark.operators.bm25_segments import expand_regexp

    terms = expand_regexp(spark, index_dir, "sp.rk")
    assert "spark" in terms
    rex = run_cli(
        capsys, spark, "query", "--index", index_dir,
        "--query", "/sp.rk/ hash", "--k", "5",
    )
    lit = run_cli(
        capsys, spark, "query", "--index", index_dir,
        "--query", " ".join(terms) + " hash", "--k", "5",
    )
    assert rex == lit and len(rex) >= 1


def test_cli_synonym_verb(capsys, spark, index_dir):
    """synonym --terms with one term equals the plain term query; with two
    it runs the blended-stats fold (rows come back ranked)."""
    one = run_cli(
        capsys, spark, "synonym", "--index", index_dir, "--terms", "spark", "--k", "5"
    )
    plain = run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "spark", "--k", "5"
    )
    assert one == plain and len(one) >= 1
    two = run_cli(
        capsys, spark, "synonym", "--index", index_dir,
        "--terms", "spark,hash", "--k", "5",
    )
    assert len(two) >= 1


def test_cli_query_mode_all_requires_every_term(capsys, spark, index_dir):
    """--mode all returns only docs containing every query term; a term
    absent from the corpus empties the result."""
    rows = run_cli(
        capsys, spark, "query", "--index", index_dir,
        "--query", "spark hash", "--k", "50", "--mode", "all",
    )
    assert rows, "sf0.001 has docs containing both 'spark' and 'hash'"
    none = run_cli(
        capsys, spark, "query", "--index", index_dir,
        "--query", "spark zzyzzq", "--k", "5", "--mode", "all",
    )
    assert none == []


def test_cli_delete_then_compact_purges(capsys, spark, tmp_path):
    """`delete` tombstones ids (queries exclude them immediately);
    `compact` purges and reports the count."""
    d = str(tmp_path / "delidx")
    run_cli(capsys, spark, "build", "--corpus", SF, "--index", d)
    base = [
        json.loads(x)
        for x in run_cli(capsys, spark, "query", "--index", d, "--query", "spark hash", "--k", "5")
    ]
    assert base
    victim = base[0]["doc_id"]
    out = json.loads(
        run_cli(capsys, spark, "delete", "--index", d, "--ids", str(victim))[0]
    )
    assert out == {"epoch": "del-000001", "n_ids": 1}
    after = [
        json.loads(x)
        for x in run_cli(capsys, spark, "query", "--index", d, "--query", "spark hash", "--k", "5")
    ]
    assert victim not in {r["doc_id"] for r in after}
    comp = json.loads(run_cli(capsys, spark, "compact", "--index", d)[0])
    assert comp["compacted"] is True and comp["purged_docs"] == 1
    final = [
        json.loads(x)
        for x in run_cli(capsys, spark, "query", "--index", d, "--query", "spark hash", "--k", "5")
    ]
    assert victim not in {r["doc_id"] for r in final}
    shutil.rmtree(d, ignore_errors=True)


def test_cli_query_where_scopes_results(capsys, spark, index_dir):
    """--where restricts candidates via doc_meta; scores stay global."""
    full = [
        json.loads(x)
        for x in run_cli(capsys, spark, "query", "--index", index_dir, "--query", "spark", "--k", "10000")
    ]
    scoped = [
        json.loads(x)
        for x in run_cli(
            capsys, spark, "query", "--index", index_dir,
            "--query", "spark", "--k", "50", "--where", "lang = 'en'",
        )
    ]
    assert scoped and len(scoped) <= len(full)
    by_id = {r["doc_id"]: r["score"] for r in full}
    for r in scoped:  # every scoped hit keeps its global score
        assert by_id[r["doc_id"]] == r["score"]


def test_cli_bool_query(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_bool_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "bool", "--index", d,
        "--query", '+hash spark^0.5 -join "table hash"^2 grup~1', "--k", "5",
    )
    assert out, "bool query returned no rows"
    recs = [json.loads(x) for x in out]
    assert {"rank", "doc_id", "score"} <= set(recs[0])
    scores = [r["score"] for r in recs]
    assert scores == sorted(scores, reverse=True)


def test_cli_query_snippets(capsys, spark, index_dir):
    out = run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "hash table",
        "--k", "3", "--snippets", SF,
    )
    recs = [json.loads(x) for x in out]
    assert len(recs) == 3
    assert {"rank", "doc_id", "score", "line_no", "n_hits", "snippet"} <= set(recs[0])
    assert any("«" in r["snippet"] for r in recs)  # highlighter ran


def test_cli_mlt(capsys, spark, index_dir):
    out = run_cli(
        capsys, spark, "mlt", "--index", index_dir, "--corpus", SF,
        "--doc-id", "0", "--k", "5",
    )
    recs = [json.loads(x) for x in out]
    assert len(recs) == 5
    assert all(r["doc_id"] != 0 for r in recs)  # source excluded
    assert [r["rank"] for r in recs] == [1, 2, 3, 4, 5]


def test_cli_bool_dismax(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_dm_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    plain = run_cli(capsys, spark, "bool", "--index", d, "--query", "hash spark")
    dm = run_cli(
        capsys, spark, "bool", "--index", d, "--query", "hash spark",
        "--dismax", "0.0",
    )
    ps = {json.loads(x)["doc_id"]: json.loads(x)["score"] for x in plain}
    ds = {json.loads(x)["doc_id"]: json.loads(x)["score"] for x in dm}
    # dismax(tie=0) ≤ sum everywhere they overlap
    assert all(ds[k] <= ps[k] + 1e-9 for k in ds if k in ps)


def test_cli_hybrid(capsys, spark, index_dir):
    out = run_cli(
        capsys, spark, "hybrid", "--index", index_dir,
        "--embeddings", SF + "/embeddings.parquet",
        "--query", "hash table", "--vec-id", "0", "--k", "5", "--depth", "20",
    )
    recs = [json.loads(x) for x in out]
    assert len(recs) == 5
    assert {"rank", "doc_id", "rrf_score"} <= set(recs[0])
    scores = [r["rrf_score"] for r in recs]
    assert scores == sorted(scores, reverse=True)


def test_cli_query_after_pagination(capsys, spark, index_dir):
    p1 = [json.loads(x) for x in run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "hash", "--k", "3"
    )]
    cursor = f"{p1[-1]['score']}:{p1[-1]['doc_id']}"
    p2 = [json.loads(x) for x in run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "hash",
        "--k", "3", "--after", cursor,
    )]
    full = [json.loads(x) for x in run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "hash", "--k", "6"
    )]
    got = [(r["doc_id"], r["score"]) for r in p1 + p2]
    assert got == [(r["doc_id"], r["score"]) for r in full]


def test_cli_explain_partials_sum_to_score(capsys, spark, index_dir):
    """explain rows carry the decomposition; per-doc partials sum to the
    hit's score within the rounding quantum, and the (rank, doc_id, score)
    triples match the plain query verb."""
    import collections

    rows = [
        json.loads(line)
        for line in run_cli(
            capsys, spark, "--format", "json", "explain",
            "--index", index_dir, "--query", "spark hash", "--k", "5",
        )
    ]
    assert rows and {"rank", "doc_id", "score", "term", "tf", "doc_len",
                     "df", "idf", "partial"} <= set(rows[0])
    by_doc = collections.defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    for parts in by_doc.values():
        assert abs(sum(p["partial"] for p in parts) - parts[0]["score"]) <= len(parts) * 5e-7
    plain = run_cli(
        capsys, spark, "--format", "json", "query",
        "--index", index_dir, "--query", "spark hash", "--k", "5",
    )
    assert {(r["rank"], r["doc_id"], r["score"]) for r in rows} == {
        (d["rank"], d["doc_id"], d["score"])
        for d in (json.loads(x) for x in plain)
    }


def test_cli_facets_verb(capsys, spark, index_dir):
    """facets counts every matching doc once per lang; the total equals
    the distinct match count, independent of k."""
    rows = [
        json.loads(line)
        for line in run_cli(
            capsys, spark, "--format", "json", "facets",
            "--index", index_dir, "--query", "spark", "--by", "lang",
        )
    ]
    assert rows and all(r["n_docs"] >= 1 for r in rows)
    assert [r["lang"] for r in rows] == sorted(r["lang"] for r in rows)


def test_cli_count_verb(capsys, spark, index_dir):
    """count returns one total-hit-count line; a doc matching both terms
    counts once (count('spark hash') ≤ count('spark') + count('hash'))."""
    def n(q):
        out = run_cli(capsys, spark, "--format", "json", "count",
                      "--index", index_dir, "--query", q)
        return json.loads(out[0])["n_docs"]

    both, a, b = n("spark hash"), n("spark"), n("hash")
    assert a >= 1 and b >= 1 and max(a, b) <= both <= a + b


def test_cli_query_collapse(capsys, spark, index_dir):
    """--collapse: at most one hit per repo, contiguous ranks, descending
    scores; combinations the collapse collector has no knobs for are
    rejected loudly instead of silently dropped."""
    lines = run_cli(
        capsys, spark, "--format", "json", "query", "--index", index_dir,
        "--query", "the", "--collapse", "repo", "--k", "5",
    )
    recs = [json.loads(ln) for ln in lines]
    assert recs, "collapse query must match the sf corpus"
    assert len({r["repo"] for r in recs}) == len(recs)
    assert [r["rank"] for r in recs] == list(range(1, len(recs) + 1))
    assert all(
        recs[i]["score"] >= recs[i + 1]["score"] for i in range(len(recs) - 1)
    )
    with pytest.raises(SystemExit, match="--collapse does not support"):
        run_cli(
            capsys, spark, "query", "--index", index_dir, "--query", "the",
            "--collapse", "repo", "--where", "lang = 'en'",
        )


def test_cli_bool_msm(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_msm_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    base = [json.loads(x) for x in run_cli(
        capsys, spark, "bool", "--index", d,
        "--query", "hash spark join", "--k", "100000",
    )]
    got = [json.loads(x) for x in run_cli(
        capsys, spark, "bool", "--index", d,
        "--query", "hash spark join", "--k", "100000", "--msm", "2",
    )]
    assert got and len(got) < len(base)  # msm=2 strictly narrows at sf0.001
    scores = {r["doc_id"]: r["score"] for r in base}
    for r in got:  # filtered, never rescored
        assert r["score"] == scores[r["doc_id"]]

def test_cli_query_sort_by(capsys, spark, index_dir):
    """--sort-by: matches ordered by a doc_meta field (Lucene Sort), no
    scores in the output; --asc flips the order; unsupported combos are
    rejected loudly."""
    lines = run_cli(
        capsys, spark, "--format", "json", "query", "--index", index_dir,
        "--query", "the", "--sort-by", "doc_len", "--k", "5",
    )
    recs = [json.loads(ln) for ln in lines]
    assert recs and all({"rank", "doc_id", "doc_len"} <= set(r) for r in recs)
    assert all("score" not in r for r in recs)
    lens = [r["doc_len"] for r in recs]
    assert lens == sorted(lens, reverse=True)
    asc = [json.loads(ln) for ln in run_cli(
        capsys, spark, "--format", "json", "query", "--index", index_dir,
        "--query", "the", "--sort-by", "doc_len", "--asc", "--k", "5",
    )]
    assert [r["doc_len"] for r in asc] == sorted(r["doc_len"] for r in asc)
    with pytest.raises(SystemExit, match="--sort-by does not support"):
        run_cli(
            capsys, spark, "query", "--index", index_dir, "--query", "the",
            "--sort-by", "doc_len", "--collapse", "repo",
        )


def test_cli_phrase_ordered_spannear(capsys, spark, tmp_path_factory):
    """--ordered: span-near over a positions index; scan form rejects it."""
    d = str(tmp_path_factory.mktemp("cli_span_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "phrase", "--index", d, "--query", "table hash",
        "--window", "2", "--ordered", "--k", "5",
    )
    from contextinator_spark.operators.phrase import spannear_topk_indexed

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in spannear_topk_indexed(spark, d, ["table", "hash"], 2, k=5).collect()
    ]
    assert [json.loads(x) for x in out] == want
    with pytest.raises(SystemExit, match="--index"):
        cli.main(
            ["phrase", "--corpus", SF, "--query", "table hash", "--ordered"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_phrase_prefix(capsys, spark, tmp_path_factory):
    """--prefix: phrase-prefix over a positions index; window/ordered and
    scan-form combinations rejected."""
    d = str(tmp_path_factory.mktemp("cli_pp_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "phrase", "--index", d, "--query", "table",
        "--prefix", "s", "--k", "5",
    )
    from contextinator_spark.operators.phrase import phrase_prefix_topk_indexed

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in phrase_prefix_topk_indexed(spark, d, ["table"], "s", k=5).collect()
    ]
    assert [json.loads(x) for x in out] == want and want
    with pytest.raises(SystemExit, match="--index"):
        cli.main(["phrase", "--corpus", SF, "--query", "table", "--prefix", "s"], spark=spark)
    capsys.readouterr()
    with pytest.raises(SystemExit, match="window"):
        cli.main(
            ["phrase", "--index", d, "--query", "table", "--prefix", "s", "--window", "2"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_suggest_verb(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_sug_idx"))
    run_cli(capsys, spark, "build", "--corpus", SF, "--index", d)
    out = run_cli(capsys, spark, "suggest", "--index", d, "--term", "grup", "--k", "3")
    from contextinator_spark.operators.bm25_segments import suggest_terms

    want = [
        {"rank": r.rank, "suggestion": r.suggestion, "dist": r.dist, "df": r.df}
        for r in suggest_terms(spark, d, "grup", k=3).collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_phrase_spanfirst(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_sf_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "phrase", "--index", d, "--query", "table hash",
        "--first", "25", "--k", "5",
    )
    from contextinator_spark.operators.phrase import spanfirst_topk_indexed

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in spanfirst_topk_indexed(spark, d, ["table", "hash"], 25, k=5).collect()
    ]
    assert [json.loads(x) for x in out] == want
    with pytest.raises(SystemExit, match="--ordered"):
        cli.main(
            ["phrase", "--index", d, "--query", "table hash",
             "--first", "25", "--window", "2"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_bool_negative_boosting(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_boost_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "bool", "--index", d, "--query", "hash spark",
        "--negative", "join", "--negative-boost", "0.3", "--k", "5",
    )
    from contextinator_spark.operators.boolean import boosting_topk

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in boosting_topk(spark, d, "hash spark", "join", 0.3, k=5).collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_bool_rescore(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_rescore_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "bool", "--index", d, "--query", "hash table",
        "--rescore", '"table hash"', "--rescore-window", "20",
        "--rescore-weight", "2.0", "--k", "5",
    )
    from contextinator_spark.operators.boolean import rescore_topk

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in rescore_topk(
            spark, d, "hash table", '"table hash"',
            window_size=20, rescore_weight=2.0, k=5,
        ).collect()
    ]
    assert [json.loads(x) for x in out] == want and want
    with pytest.raises(SystemExit, match="mutually exclusive"):
        cli.main(
            ["bool", "--index", d, "--query", "hash", "--rescore", "join",
             "--negative", "join"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_percolate_verb(capsys, spark):
    out = run_cli(
        capsys, spark, "percolate", "--corpus", SF,
        "-q", "+hash spark", "-q", '"table hash"',
    )
    from contextinator_spark.operators.percolate import percolate
    from contextinator_spark.cli import _corpus

    want = [
        {"query_id": r.query_id, "doc_id": r.doc_id}
        for r in percolate(
            _corpus(spark, SF), {0: "+hash spark", 1: '"table hash"'}
        ).orderBy("query_id", "doc_id").collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_bool_function_score(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_fvf_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "bool", "--index", d, "--query", "hash spark",
        "--fvf-modifier", "log1p", "--k", "5",
    )
    from contextinator_spark.operators.boolean import function_score_topk

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score}
        for r in function_score_topk(
            spark, d, "hash spark", modifier="log1p", k=5
        ).collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_facets_stats_and_sigterms(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_agg_idx"))
    run_cli(capsys, spark, "build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "facets", "--index", d, "--query", "table hash",
        "--by", "lang", "--stats", "doc_len",
    )
    from contextinator_spark.operators.bm25_segments import (
        facet_stats,
        significant_terms,
    )

    want = [
        {"lang": r[0], "n_docs": r.n_docs, "min_doc_len": r.min_doc_len,
         "avg_doc_len": r.avg_doc_len, "max_doc_len": r.max_doc_len}
        for r in facet_stats(spark, d, ["table", "hash"], "lang", "doc_len").collect()
    ]
    assert [json.loads(x) for x in out] == want and want
    out2 = run_cli(
        capsys, spark, "sigterms", "--index", d, "--query", "dup", "--k", "5"
    )
    want2 = [
        {"rank": r.rank, "term": r.term, "fg": r.fg, "df": r.df, "score": r.score}
        for r in significant_terms(spark, d, ["dup"], k=5).collect()
    ]
    assert [json.loads(x) for x in out2] == want2 and want2


def test_cli_tophits_and_histo(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_th_idx"))
    run_cli(capsys, spark, "build", "--corpus", SF, "--index", d)
    from contextinator_spark.operators.bm25_segments import (
        histogram_agg,
        top_hits,
    )

    out = run_cli(
        capsys, spark, "tophits", "--index", d, "--query", "table hash",
        "--by", "lang", "--k", "2",
    )
    want = [
        {"lang": r[0], "group_rank": r.group_rank, "doc_id": r.doc_id, "score": r.score}
        for r in top_hits(spark, d, ["table", "hash"], "lang", 2).collect()
    ]
    assert [json.loads(x) for x in out] == want and want
    out2 = run_cli(
        capsys, spark, "histo", "--index", d, "--query", "table hash",
        "--interval", "20",
    )
    want2 = [
        {"bucket": r.bucket, "n_docs": r.n_docs}
        for r in histogram_agg(spark, d, ["table", "hash"], interval=20).collect()
    ]
    assert [json.loads(x) for x in out2] == want2 and want2


def test_cli_explain_bool(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_bexp_idx"))
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "explain", "--index", d,
        "--query", '+hash spark "table hash"', "--bool", "--k", "5",
    )
    from contextinator_spark.operators.boolean import boolean_explain

    want = [
        {"rank": r.rank, "doc_id": r.doc_id, "score": r.score,
         "clause_id": r.clause_id, "occur": r.occur, "kind": r.kind,
         "partial": r.partial}
        for r in boolean_explain(
            spark, d, '+hash spark "table hash"', k=5
        ).collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_suggest_complete_mode(capsys, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_cmp_idx"))
    run_cli(capsys, spark, "build", "--corpus", SF, "--index", d)
    out = run_cli(
        capsys, spark, "suggest", "--index", d, "--term", "s",
        "--complete", "--k", "4",
    )
    from contextinator_spark.operators.bm25_segments import complete_terms

    want = [
        {"rank": r.rank, "term": r.term, "df": r.df}
        for r in complete_terms(spark, d, "s", k=4).collect()
    ]
    assert [json.loads(x) for x in out] == want and want


def test_cli_multimatch_single_field_equals_query(capsys, spark, index_dir):
    """multimatch with one field at weight 1 reduces to the plain BM25
    ranking (best_fields = DisMax over one sub-query); cross_fields runs
    the BM25F fold (rank-identical single-field, scaled scores)."""
    mm = run_cli(
        capsys, spark, "multimatch", "--field", f"content={index_dir}",
        "--terms", "spark hash", "--k", "5",
    )
    plain = run_cli(
        capsys, spark, "query", "--index", index_dir, "--query", "spark hash", "--k", "5"
    )
    assert mm == plain and len(mm) >= 1
    xf = run_cli(
        capsys, spark, "multimatch", "--field", f"content={index_dir}",
        "--terms", "spark hash", "--k", "5", "--mode", "cross_fields",
    )
    assert [l.split()[1] for l in xf] == [l.split()[1] for l in plain]


def test_cli_multimatch_two_fields_weighted(capsys, spark, index_dir, tmp_path):
    """A second field store (first-2-token titles) with NAME=DIR:WEIGHT
    syntax runs both combiners end-to-end."""
    from pyspark.sql import functions as F

    from contextinator_spark.operators.segments import write_index
    from contextinator_spark.sources.corpus import load_documents

    d = str(tmp_path / "title_idx")
    corpus = (
        load_documents(spark, SF)
        .withColumn("content", F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 2)))
        .select("doc_id", "content")
    )
    write_index(spark, corpus, d)
    for mode in ("best_fields", "cross_fields"):
        rows = run_cli(
            capsys, spark, "multimatch",
            "--field", f"content={index_dir}", "--field", f"title={d}:2.0",
            "--terms", "spark hash", "--k", "5", "--mode", mode,
            "--tie-breaker", "0.3",
        )
        assert len(rows) >= 1


def test_cli_tvec_pctl_xstats(capsys, spark, index_dir):
    """Term vectors, percentiles and extended stats verbs end-to-end."""
    tv = run_cli(
        capsys, spark, "--format", "text", "tvec",
        "--index", index_dir, "--docs", "0,1",
    )
    assert tv and all(len(l.split()) == 3 for l in tv)
    pc = run_cli(
        capsys, spark, "--format", "text", "pctl", "--index", index_dir,
        "--query", "spark hash", "--pcts", "0.5,0.9",
    )
    assert len(pc) == 2 and pc[0].startswith("p0.5")
    xs = run_cli(
        capsys, spark, "--format", "text", "xstats",
        "--index", index_dir, "--query", "spark hash",
    )
    assert len(xs) == 1 and "n_docs=" in xs[0] and "std_doc_len=" in xs[0]


def test_cli_suggest_phrase_mode(capsys, spark, tmp_path):
    """suggest --phrase corrects a misspelled phrase against the real
    indexed phrase frequencies (collate built in)."""
    d = str(tmp_path / "sugg_phrase_idx")
    run_cli(capsys, spark, "phrase-build", "--corpus", SF, "--index", d)
    rows = run_cli(
        capsys, spark, "--format", "text", "suggest", "--index", d,
        "--term", "tble hsh", "--phrase", "--k", "3",
    )
    assert rows and rows[0].split()[1] == "table" and "df=" in rows[0]


def test_cli_rankeval_verb(capsys, spark, index_dir):
    rows = run_cli(
        capsys, spark, "--format", "text", "rankeval", "--index", index_dir,
        "--query", "spark hash", "--relevant", "0,1,2", "--k", "5",
    )
    got = dict(l.split() for l in rows)
    assert set(got) == {"precision_at_k", "recall_at_k", "mrr", "ndcg_at_k"}
    assert all(0.0 <= float(v) <= 1.0 for v in got.values())


def test_cli_match_set_verbs_tokenize_query(capsys, spark, index_dir):
    """rankeval, pctl and xstats tokenize the query like every other verb:
    a mixed-case query answers exactly as its lowercase form."""
    top = [
        json.loads(l)["doc_id"]
        for l in run_cli(
            capsys, spark, "query", "--index", index_dir,
            "--query", "spark hash", "--k", "3",
        )
    ]
    assert top
    verbs = {
        "rankeval": ["--relevant", ",".join(map(str, top)), "--k", "5"],
        "pctl": ["--pcts", "0.5,0.9"],
        "xstats": [],
    }
    for verb, extra in verbs.items():
        want, got = (
            run_cli(
                capsys, spark, "--format", "text", verb,
                "--index", index_dir, "--query", q, *extra,
            )
            for q in ("spark hash", "Spark HASH")
        )
        assert want and got == want, verb
        if verb == "rankeval":
            assert float(dict(l.split() for l in got)["mrr"]) == 1.0


def test_cli_count_approx_and_datehisto(capsys, spark, index_dir):
    exact = int(run_cli(
        capsys, spark, "--format", "text", "count",
        "--index", index_dir, "--query", "spark hash",
    )[0])
    approx = int(run_cli(
        capsys, spark, "--format", "text", "count",
        "--index", index_dir, "--query", "spark hash", "--approx",
    )[0])
    assert abs(approx - exact) <= max(1, int(0.2 * exact))
    rows = run_cli(
        capsys, spark, "--format", "text", "datehisto",
        "--events", SF + "/events.parquet", "--interval", "month",
        "--group-col", "event_type", "--value-col", "value",
    )
    assert rows and "bucket=" in rows[0] and "sum_value=" in rows[0]


def test_cli_analyze_verb(capsys, spark):
    rows = run_cli(
        capsys, spark, "--format", "text", "analyze",
        "--text", "Hash-Table JOIN, x2!",
    )
    assert [l.split()[1] for l in rows] == ["hash", "table", "join", "x2"]
    assert [int(l.split()[0]) for l in rows] == [0, 1, 2, 3]


def test_cli_bool_decay(capsys, spark, index_dir):
    rows = run_cli(
        capsys, spark, "--format", "text", "bool", "--index", index_dir,
        "--query", "spark hash", "--decay-shape", "gauss",
        "--decay-origin", "40", "--decay-scale", "20", "--k", "5",
    )
    assert rows and rows[0].split()[0] == "1"
    with pytest.raises(SystemExit):
        cli.main(
            ["bool", "--index", index_dir, "--query", "x",
             "--decay-shape", "gauss", "--fvf-modifier", "log1p"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_composite_verb(capsys, spark, index_dir):
    p1 = run_cli(
        capsys, spark, "--format", "text", "composite", "--index", index_dir,
        "--query", "spark hash", "--interval", "5", "--size", "3",
    )
    assert 0 < len(p1) <= 3 and "bucket=" in p1[0]
    last = dict(kv.split("=") for kv in p1[-1].split())
    p2 = run_cli(
        capsys, spark, "--format", "text", "composite", "--index", index_dir,
        "--query", "spark hash", "--interval", "5", "--size", "3",
        "--after", f"{last['lang']}:{last['bucket']}",
    )
    assert p1[-1] not in p2


def test_cli_phrase_span_not(capsys, spark):
    rows = run_cli(
        capsys, spark, "--format", "text", "phrase", "--corpus", SF,
        "--query", "table hash", "--not-phrase", "spark",
        "--not-pre", "1", "--not-post", "1", "--k", "5",
    )
    assert rows and rows[0].split()[0] == "1"
    with pytest.raises(SystemExit):
        cli.main(
            ["phrase", "--index", "/tmp/nope", "--query", "a b",
             "--not-phrase", "c"],
            spark=spark,
        )
    capsys.readouterr()


def test_cli_bool_script_score(capsys, spark, index_dir):
    rows = run_cli(
        capsys, spark, "--format", "text", "bool", "--index", index_dir,
        "--query", "spark hash", "--script", "score * ln(1 + doc_len)",
        "--k", "5",
    )
    assert rows and rows[0].split()[0] == "1"
