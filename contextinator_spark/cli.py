"""Command-line surface mirroring the reference's CLI.

The reference ships `contextinator read --path … --mode line|directory|
search` (cli.py:124-142) and a `--rag` family (search / symbols / cat /
chunk-embed-store, rag_cli.py:852-1358). This module re-expresses that
user surface over the Spark engine so a reference user can run the same
workflows against a corpus table + segment index:

    python -m contextinator_spark.cli read    --corpus DIR --path P [--start-line A --end-line B]
    python -m contextinator_spark.cli list    --corpus DIR [--prefix SUBDIR]
    python -m contextinator_spark.cli search  --corpus DIR --pattern RE [--context-lines N]
    python -m contextinator_spark.cli symbols --corpus DIR [--contains S] [--lang L]
    python -m contextinator_spark.cli cat     --corpus DIR --path P
    python -m contextinator_spark.cli build   --corpus DIR --index IDX
    python -m contextinator_spark.cli query   --index IDX --query "free text" [--k K]
    python -m contextinator_spark.cli stats   --index IDX

--corpus accepts an sf-style directory (documents.parquet) or a parquet
path with the corpus schema. Output is JSON lines (--format text for a
human rendering; --format toon for the reference CLI's compact TOON
export, output_formatter.py:170-191). Heavy lifting stays in operators/ —
this file only parses arguments and formats rows.
"""

from __future__ import annotations

import argparse
import json

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _corpus(spark: SparkSession, path: str) -> DataFrame:
    """sf-style dir (documents.parquet) → canonical corpus shape; otherwise
    a parquet path already in (repo, path, commit, lang, content) shape."""
    import os

    if os.path.isdir(path) and os.path.exists(os.path.join(path, "documents.parquet")):
        from .sources.corpus import documents_as_corpus

        return documents_as_corpus(spark, path)
    df = spark.read.parquet(path)
    if "content" not in df.columns and "text" in df.columns:
        df = df.withColumnRenamed("text", "content")
    if "lang" not in df.columns and "path" in df.columns:
        from .sources.corpus import with_lang  # P2 ext→language projection

        df = with_lang(df)
    if "doc_id" not in df.columns:
        df = df.withColumn(
            "doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61))
        )
    return df


def _query_terms(query: str) -> list[str]:
    """Free-text query → BM25 terms under the index's token policy."""
    from .oracle import tokenize

    return [t for w in query.split() for t in tokenize(w)]


def _emit(rows, fmt: str, text_fn: Callable[[dict], str], fold: bool = False) -> None:
    dicts = [
        r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r) for r in rows
    ]
    if fmt == "toon":  # one tabular document (output_formatter.py:170-191)
        from .functions.toon import toon_encode

        print(toon_encode(dicts, fold_keys=fold))
        return
    for d in dicts:
        print(text_fn(d) if fmt == "text" else json.dumps(d, default=str))


def _emit_facets(result_df: DataFrame, cols: list[str], fmt: str,
                 fold: bool = False) -> None:
    """Facet summary block after the results (A6; the reference renders
    result counts + distinct metadata values, output_formatter.py:14-75 /
    semantic_search.py:123-144)."""
    from .operators.grep import facets

    row = facets(result_df, cols).collect()[0].asDict(recursive=True)
    if fmt == "toon":
        from .functions.toon import toon_encode

        print(toon_encode({"facets": row}, fold_keys=fold))
    elif fmt == "text":
        print(f"Found: {row['n_results']} result(s)")
        for c in cols:
            vals = row.get(f"{c}s") or []
            print(f"{c.capitalize()}s: " + ", ".join(str(v) for v in vals))
    else:
        print(json.dumps({"facets": row}, default=str))


def cmd_read(args, spark) -> None:
    """S1 file line scan (reference line.rs:6-86): 1-based inclusive range,
    negative indexing from EOF."""
    from .operators.grep import line_range

    df = _corpus(spark, args.corpus).filter(F.col("path") == args.path)
    out = line_range(df, args.start_line, args.end_line)
    _emit(out.collect(), args.format, lambda d: d.get("content", ""))


def cmd_list(args, spark) -> None:
    """S2/T5 directory listing (directory.rs:16-90): dirs-first, by name.
    --tree renders the recursive view (repo_structure.py:25-90)."""
    from .operators.grep import listing, tree_listing

    df = _corpus(spark, args.corpus)
    if args.prefix:
        df = df.filter(F.col("path").startswith(args.prefix))
    if getattr(args, "tree", False):
        _emit(
            tree_listing(df, max_depth=args.depth).collect(),
            args.format,
            lambda d: "{}{} {}".format(
                "  " * (d.get("depth", 1) - 1),
                "d" if d.get("is_dir") else "-",
                d.get("name"),
            ),
        )
        return
    _emit(
        listing(df).collect(),
        args.format,
        lambda d: f"{'d' if d.get('is_dir') else '-'} {d.get('name')}",
    )


def cmd_search(args, spark) -> None:
    """S3/W1 recursive grep with context lines (search.rs:8-93)."""
    from .operators.grep import grep_lines, grep_with_context

    df = _corpus(spark, args.corpus)
    if args.context_lines > 0:
        out = grep_with_context(df, args.pattern, n_context=args.context_lines)
    else:
        out = grep_lines(df, args.pattern)
    fold = getattr(args, "toon_fold", False)
    _emit(
        out.limit(args.limit).collect(),
        args.format,
        lambda d: f"{d.get('doc_id')}:{d.get('line_no')}: {d.get('line')}",
        fold,
    )
    if getattr(args, "facets", False):
        enr = out.join(df.select("doc_id", "lang", "path"), "doc_id")
        _emit_facets(enr, ["lang", "path"], args.format, fold)


def cmd_symbols(args, spark) -> None:
    """T4 sorted distinct symbol list (symbol_search.py:29-79) from the
    language-aware chunker's node names."""
    from .operators.chunker import chunk_corpus

    chunks = chunk_corpus(_corpus(spark, args.corpus))
    df = chunks.filter(~F.col("is_parent") | F.lit(args.include_parents))
    if args.lang:
        df = df.filter(F.col("lang") == args.lang)
    if args.contains:
        df = df.filter(F.col("node_name").contains(args.contains))
    out = (
        df.select(F.col("node_name").alias("name"), F.col("node_type").alias("type"))
        .distinct()
        .orderBy("name", "type")
        .limit(args.limit)
    )
    _emit(out.collect(), args.format, lambda d: f"{d['name']}\t{d['type']}")


def cmd_cat(args, spark) -> None:
    """W2 file reconstruction from chunks (cat_file.py:29-107): ordered,
    containment-deduped, exact round-trip for unsplit chunks."""
    from .operators.chunker import chunk_corpus, reconstruct_files

    chunks = chunk_corpus(_corpus(spark, args.corpus))
    out = reconstruct_files(chunks).filter(F.col("path") == args.path)
    _emit(out.collect(), args.format, lambda d: d.get("content", ""))


def cmd_build(args, spark) -> None:
    """Index build / resume (jobs/build_index.py wraps the same call for
    spark-submit; here for parity with `--rag chunk-embed-store`)."""
    from .operators.segments import write_index

    res = write_index(
        spark,
        _corpus(spark, args.corpus),
        args.index,
        n_partitions=args.partitions,
        epoch=args.epoch,
    )
    print(json.dumps(res, default=str))


def cmd_query(args, spark) -> None:
    """BM25 top-k over the segment store (semantic_search.py:39-114 flow).
    Query words containing `*` are wildcard terms, `/re/` words are
    whole-term regexps: each expands to its bounded highest-df dictionary
    matches (Lucene MultiTermQuery rewrite) and joins the disjunction
    alongside the literal terms."""
    from .operators.bm25_segments import (
        expand_regexp,
        expand_wildcard,
        topk_segments,
        topk_segments_conjunctive,
    )
    from .oracle import tokenize

    terms: list[str] = []
    for word in args.query.split():
        if len(word) > 2 and word.startswith("/") and word.endswith("/"):
            terms.extend(expand_regexp(spark, args.index, word[1:-1].lower()))
        elif "*" in word:
            terms.extend(expand_wildcard(spark, args.index, word.lower()))
        else:
            terms.extend(tokenize(word))
    where = getattr(args, "where", None)
    after = None
    if getattr(args, "after", None):
        s, _, d = args.after.partition(":")
        after = (float(s), int(d))
    sort_by = getattr(args, "sort_by", None)
    if sort_by:
        # field sort is a different collector: no scoring, so no occur /
        # scope / pagination / snippet knobs — reject combos, don't drop them
        bad = [
            f
            for f, v in (
                ("--mode all", getattr(args, "mode", "any") == "all"),
                ("--where", where),
                ("--after", after),
                ("--snippets", getattr(args, "snippets", None)),
                ("--collapse", getattr(args, "collapse", None)),
            )
            if v
        ]
        if bad:
            raise SystemExit(f"--sort-by does not support {', '.join(bad)}")
        from .operators.bm25_segments import sort_topk

        rows = sort_topk(
            spark, args.index, terms, sort_col=sort_by,
            ascending=getattr(args, "asc", False), k=args.k,
        ).collect()
        _emit(
            rows,
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d[sort_by]}",
            getattr(args, "toon_fold", False),
        )
        return
    collapse = getattr(args, "collapse", None)
    if collapse:
        # collapse is a different collector: no scope/pagination/occur knobs,
        # and pruning is off by construction — reject combos, don't drop them
        bad = [
            f
            for f, v in (
                ("--mode all", getattr(args, "mode", "any") == "all"),
                ("--where", where),
                ("--after", after),
                ("--snippets", getattr(args, "snippets", None)),
            )
            if v
        ]
        if bad:
            raise SystemExit(f"--collapse does not support {', '.join(bad)}")
        from .operators.bm25_segments import collapse_topk

        rows = collapse_topk(
            spark, args.index, terms, collapse_col=collapse, k=args.k
        ).collect()
        _emit(
            rows,
            args.format,
            lambda d: f"{d['rank']:>3}  {d[collapse]:<16}  "
                      f"{d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if getattr(args, "mode", "any") == "all":
        # the conjunctive executor has no scope/pagination/prune knobs —
        # reject rather than silently return unscoped page 1
        bad = [
            f
            for f, v in (
                ("--where", where),
                ("--after", after),
                ("--no-prune", getattr(args, "no_prune", False)),
            )
            if v
        ]
        if bad:
            raise SystemExit(
                f"--mode all does not support {', '.join(bad)}"
            )
        out = topk_segments_conjunctive(spark, args.index, terms, k=args.k)
    elif where:
        from .operators.bm25_segments import scoped_topk_segments

        out = scoped_topk_segments(
            spark, args.index, terms, where, k=args.k,
            prune=not args.no_prune, after=after,
        )
    else:
        out = topk_segments(
            spark, args.index, terms, k=args.k, prune=not args.no_prune,
            after=after,
        )
    fold = getattr(args, "toon_fold", False)
    if getattr(args, "snippets", None):
        from .operators.snippets import best_line_snippets, highlight

        snip = best_line_snippets(
            _corpus(spark, args.snippets), out, terms
        ).withColumn("snippet", highlight("snippet", terms))
        _emit(
            snip.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<12} "
                      f"{d['line_no']:>5}:  {d['snippet']}",
            fold,
        )
        return
    rows = out.collect()
    _emit(
        rows,
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        fold,
    )
    if getattr(args, "facets", False):
        from .operators.bm25_segments import _doc_meta

        meta = _doc_meta(spark, args.index)
        cols = [c for c in ("lang", "repo") if c in meta.columns]
        hits = spark.createDataFrame(
            [(r["doc_id"],) for r in rows], "doc_id long"
        ).join(meta, "doc_id")
        _emit_facets(hits, cols, args.format, fold)


def cmd_phrase(args, spark) -> None:
    """Consecutive-token phrase search, BM25-scored (operators/phrase.py).
    With --index: probe a positions index (write with `phrase-build`);
    otherwise: one scan over --corpus."""
    from .oracle import tokenize

    terms = tokenize(args.query)
    if not terms:
        raise SystemExit("phrase query tokenized to nothing")
    w = getattr(args, "window", 0) or 0
    ordered = getattr(args, "ordered", False)
    prefix = getattr(args, "prefix", None)
    first = getattr(args, "first", None)
    if ordered and not args.index:
        raise SystemExit("--ordered (span-near) needs --index (positions store)")
    not_phrase = getattr(args, "not_phrase", None)
    if not_phrase:
        # SpanNotQuery: scan form over --corpus
        if args.index:
            raise SystemExit("--not-phrase is the scan form: use --corpus")
        if w or ordered or prefix or first is not None:
            raise SystemExit(
                "--not-phrase does not compose with --window/--ordered/"
                "--prefix/--first"
            )
        from .operators.phrase import span_not_topk

        out = span_not_topk(
            _corpus(spark, args.corpus), terms, tokenize(not_phrase),
            pre=getattr(args, "not_pre", 0), post=getattr(args, "not_post", 0),
            k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if first is not None:
        # SpanFirst wraps an ordered span: exact phrase, or --ordered NEAR
        if not args.index:
            raise SystemExit("--first (SpanFirst) needs --index")
        if prefix:
            raise SystemExit("--first does not support --prefix")
        if w and not ordered:
            raise SystemExit("--first with --window needs --ordered (span end)")
        from .operators.phrase import spanfirst_topk_indexed

        out = spanfirst_topk_indexed(
            spark, args.index, terms, first,
            slop=w if ordered else None, k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if prefix:
        # phrase-prefix is a different rewrite: no window/ordered knobs
        if not args.index:
            raise SystemExit("--prefix (phrase-prefix) needs --index")
        if w or ordered:
            raise SystemExit("--prefix does not support --window/--ordered")
        from .operators.phrase import phrase_prefix_topk_indexed

        out = phrase_prefix_topk_indexed(spark, args.index, terms, prefix, k=args.k)
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if args.index:
        from .operators.phrase import (
            near_topk_indexed,
            phrase_topk_indexed,
            spannear_topk_indexed,
        )

        if ordered:
            # slop may legitimately be 0 (degenerates to the exact phrase)
            out = spannear_topk_indexed(spark, args.index, terms, w, k=args.k)
        elif w:
            out = near_topk_indexed(spark, args.index, terms, w, k=args.k)
        else:
            out = phrase_topk_indexed(spark, args.index, terms, k=args.k)
    else:
        from .operators.phrase import near_topk, phrase_topk

        corpus = _corpus(spark, args.corpus)
        out = (
            near_topk(corpus, terms, w, k=args.k)
            if w
            else phrase_topk(corpus, terms, k=args.k)
        )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_bool(args, spark) -> None:
    """Lucene-flavored Boolean query over a positions index
    (operators/boolean.py): `+must should -not "phrase" "near"~N pre*
    fuz~2 term^boost field:value` — one composable plan for every query
    form the engine has."""
    from .operators.boolean import boolean_topk_query, boosting_topk

    tie = getattr(args, "dismax", None)
    negative = getattr(args, "negative", None)
    rescore = getattr(args, "rescore", None)
    fvf = getattr(args, "fvf_modifier", None)
    decay = getattr(args, "decay_shape", None)
    script = getattr(args, "script", None)
    if sum(bool(x) for x in (negative, rescore, fvf, decay, script)) > 1:
        raise SystemExit(
            "--negative / --rescore / --fvf-modifier / --decay-shape / "
            "--script are mutually exclusive"
        )
    if script:
        from .operators.boolean import script_score_topk

        out = script_score_topk(spark, args.index, args.query, script, k=args.k)
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if decay:
        from .operators.boolean import decay_score_topk

        out = decay_score_topk(
            spark, args.index, args.query,
            field=getattr(args, "decay_field", "doc_len"),
            origin=getattr(args, "decay_origin", 0.0),
            scale=getattr(args, "decay_scale", 10.0),
            offset=getattr(args, "decay_offset", 0.0),
            decay=getattr(args, "decay_value", 0.5),
            shape=decay,
            k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if fvf:
        from .operators.boolean import function_score_topk

        out = function_score_topk(
            spark, args.index, args.query,
            field=getattr(args, "fvf_field", "doc_len"),
            modifier=fvf,
            factor=getattr(args, "fvf_factor", 1.0),
            mode=getattr(args, "fvf_mode", "multiply"),
            k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if rescore:
        from .operators.boolean import rescore_topk

        out = rescore_topk(
            spark, args.index, args.query, rescore,
            window_size=getattr(args, "rescore_window", 50),
            rescore_weight=getattr(args, "rescore_weight", 1.0),
            k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
            getattr(args, "toon_fold", False),
        )
        return
    if negative:
        # ES boosting query: demote (not exclude) negative matches
        out = boosting_topk(
            spark, args.index, args.query, negative,
            negative_boost=getattr(args, "negative_boost", 0.5),
            k=args.k,
            combine="sum" if tie is None else "dismax",
            tie_breaker=tie or 0.0,
            min_should_match=getattr(args, "msm", 0) or 0,
        )
    else:
        out = boolean_topk_query(
            spark, args.index, args.query, k=args.k,
            combine="sum" if tie is None else "dismax",
            tie_breaker=tie or 0.0,
            min_should_match=getattr(args, "msm", 0) or 0,
        )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_synonym(args, spark) -> None:
    """SynonymQuery: the comma-separated synonym set scores as ONE term
    (per-doc tf summed, df blended as the max — Lucene SynonymQuery),
    which a plain disjunction cannot express (tf-norm is nonlinear)."""
    from .operators.bm25_segments import synonym_topk

    terms = [t.strip() for t in args.terms.split(",") if t.strip()]
    if not terms:
        raise SystemExit("--terms needs at least one synonym")
    out = synonym_topk(spark, args.index, terms, k=args.k)
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_composite(args, spark) -> None:
    """ES composite aggregation: pageable (group, value-bucket) buckets
    of the full match set; --after GROUP:BUCKET resumes the next page."""
    from .operators.bm25_segments import composite_agg

    terms = _query_terms(args.query)
    after = None
    if args.after:
        g, bk = args.after.rsplit(":", 1)
        after = (g, int(bk))
    out = composite_agg(
        spark, args.index, terms, args.group_col, args.stats_col,
        interval=args.interval, size=args.size, after=after,
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: "  ".join(f"{k}={v}" for k, v in d.items()),
        getattr(args, "toon_fold", False),
    )


def cmd_analyze(args, spark) -> None:
    """ES _analyze: show how the engine tokenizes a text — (position,
    token) rows from the same tokens_expr every operator uses."""
    from .functions.tokenize import tokens_expr

    df = spark.createDataFrame([(args.text,)], "text string").select(
        F.posexplode(tokens_expr(F.col("text"))).alias("position", "token")
    )
    _emit(
        df.collect(),
        args.format,
        lambda d: f"{d['position']:>4}  {d['token']}",
        getattr(args, "toon_fold", False),
    )


def cmd_alias(args, spark) -> None:
    """Index alias management (ES alias API analog): atomic pointer to a
    store dir — the blue/green reindex cutover primitive. Every other
    verb's --index accepts an alias transparently."""
    from .operators.alias import create_alias, read_alias, swap_alias

    if args.swap and not args.target:
        raise SystemExit("--swap requires --target")
    if args.swap:
        old = swap_alias(args.alias, args.target)
        print(json.dumps({"alias": args.alias, "target": args.target, "was": old}))
    elif args.target:
        create_alias(args.alias, args.target)
        print(json.dumps({"alias": args.alias, "target": args.target}))
    else:
        print(json.dumps({"alias": args.alias, "target": read_alias(args.alias)}))


def cmd_datehisto(args, spark) -> None:
    """Time-bucketed aggregation over an events-shaped parquet table
    (ES date_histogram): counts per date_trunc bucket, optional group
    column and value sub-metrics."""
    from .operators.timeseries import date_histogram

    ev = spark.read.parquet(args.events)
    out = date_histogram(
        ev, args.ts_col, args.interval,
        value_col=args.value_col, group_col=args.group_col,
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: "  ".join(f"{k}={v}" for k, v in d.items()),
        getattr(args, "toon_fold", False),
    )


def cmd_rankeval(args, spark) -> None:
    """Ranking evaluation (ES _rank_eval): precision/recall/MRR/NDCG at k
    of the BM25 ranking against an explicit relevant-doc list."""
    from .operators.bm25_segments import topk_segments
    from .operators.rankeval import rank_eval

    ranking = topk_segments(spark, args.index, _query_terms(args.query), k=args.k)
    rel = spark.createDataFrame(
        [(int(d),) for d in args.relevant.split(",") if d.strip()],
        "doc_id long",
    )
    out = rank_eval(spark, ranking, rel, k=args.k)
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['metric']:<16} {d['value']}",
        getattr(args, "toon_fold", False),
    )


def cmd_termvectors(args, spark) -> None:
    """Per-document term vectors from the term-major store (Lucene
    TermVectors / ES _termvectors); --positions needs a phrase index."""
    from .operators.bm25_segments import term_vectors

    ids = [int(d) for d in args.docs.split(",") if d.strip()]
    out = term_vectors(spark, args.index, ids, positions=args.positions)
    if args.positions:
        fmt = lambda d: (
            f"{d['doc_id']:<12} {d['term']:<24} {d['tf']:<4} "
            + ",".join(str(p) for p in d["positions"])
        )
    else:
        fmt = lambda d: f"{d['doc_id']:<12} {d['term']:<24} {d['tf']}"
    _emit(out.collect(), args.format, fmt, getattr(args, "toon_fold", False))


def cmd_pctl(args, spark) -> None:
    """Percentiles aggregation over the query's full match set."""
    from .operators.bm25_segments import percentiles_agg

    pcts = tuple(float(p) for p in args.pcts.split(",") if p.strip())
    out = percentiles_agg(
        spark, args.index, _query_terms(args.query), args.field, pcts
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"p{d['percentile']:<8} {d['value']}",
        getattr(args, "toon_fold", False),
    )


def cmd_xstats(args, spark) -> None:
    """Extended stats (all seven moments) over the query's match set."""
    from .operators.bm25_segments import extended_stats

    out = extended_stats(spark, args.index, _query_terms(args.query), args.field)
    _emit(
        out.collect(),
        args.format,
        lambda d: "  ".join(f"{k}={v}" for k, v in d.items()),
        getattr(args, "toon_fold", False),
    )


def cmd_multimatch(args, spark) -> None:
    """Multi-field search over per-field segment stores (--field NAME=DIR
    repeated): ES multi_match — best_fields (per-field BM25 + DisMax
    combine) or cross_fields (BM25F: blend tfs before saturation)."""
    from .operators.multifield import bm25f_topk, multi_match_topk

    dirs, weights = {}, {}
    for spec in args.field:
        if "=" not in spec:
            raise SystemExit(f"--field wants NAME=DIR[:WEIGHT], got {spec!r}")
        name, rest = spec.split("=", 1)
        if ":" in rest:
            d, w = rest.rsplit(":", 1)
            weights[name] = float(w)
        else:
            d = rest
        dirs[name] = d
    terms = [t for t in args.terms.split() if t]
    if args.mode == "cross_fields":
        out = bm25f_topk(spark, dirs, terms, k=args.k, weights=weights or None)
    else:
        out = multi_match_topk(
            spark, dirs, terms, k=args.k, weights=weights or None,
            tie_breaker=args.tie_breaker,
        )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_percolate(args, spark) -> None:
    """Percolation (ES percolator): which registered queries does each
    corpus document match — one Catalyst scan, no index."""
    from .operators.percolate import percolate

    queries = {i: q for i, q in enumerate(args.query)}
    out = percolate(
        _corpus(spark, args.corpus), queries,
        min_should_match=getattr(args, "msm", 0) or 0,
    ).orderBy("query_id", "doc_id")
    _emit(
        out.collect(),
        args.format,
        lambda d: f"q{d['query_id']:<4} {d['doc_id']}",
        getattr(args, "toon_fold", False),
    )


def cmd_suggest(args, spark) -> None:
    """Did-you-mean suggestions (Lucene DirectSpellChecker analog):
    dictionary neighbors of a possibly-misspelled term, closest-first
    then by collection frequency. With --complete: completion-suggester
    mode — df-ranked dictionary terms under the prefix."""
    if getattr(args, "phrase", False):
        from .operators.phrase import phrase_suggest

        out = phrase_suggest(
            spark, args.index, args.term.split(),
            max_edits=max(1, args.max_edits), k=args.k,
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['suggestion']:<32}  "
                      f"df={d['phrase_df']}  dist={d['total_dist']}",
            getattr(args, "toon_fold", False),
        )
        return
    if getattr(args, "complete", False):
        from .operators.bm25_segments import complete_terms

        out = complete_terms(spark, args.index, args.term, k=args.k)
        _emit(
            out.collect(),
            args.format,
            lambda d: f"{d['rank']:>3}  {d['term']:<24}  df={d['df']}",
            getattr(args, "toon_fold", False),
        )
        return
    from .operators.bm25_segments import suggest_terms

    out = suggest_terms(
        spark, args.index, args.term, max_edits=args.max_edits, k=args.k
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['suggestion']:<24}  dist={d['dist']}  df={d['df']}",
        getattr(args, "toon_fold", False),
    )


def cmd_explain(args, spark) -> None:
    """Score decomposition for the top-k hits (Lucene
    IndexSearcher.explain analog): one row per (hit, matched term) with
    tf, doc_len, df, idf and the term's partial contribution — partials
    sum to the hit's score."""
    from .operators.bm25_segments import explain_topk

    if getattr(args, "bool_query", False):
        # full Boolean grammar: per-CLAUSE decomposition instead of
        # per-term (operators/boolean.boolean_explain)
        from .operators.boolean import boolean_explain

        out = boolean_explain(spark, args.index, args.query, k=args.k)
        _emit(
            out.collect(),
            args.format,
            lambda d: (
                f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:>10.6f}  "
                f"c{d['clause_id']:<3} {d['occur']:<8} {d['kind']:<14} "
                f"partial={d['partial']:.6f}"
            ),
            getattr(args, "toon_fold", False),
        )
        return
    terms = _query_terms(args.query)
    out = explain_topk(spark, args.index, terms, k=args.k)
    _emit(
        out.collect(),
        args.format,
        lambda d: (
            f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:>10.6f}  "
            f"{d['term']:<16} tf={d['tf']:<5} dl={d['doc_len']:<6} "
            f"df={d['df']:<7} idf={d['idf']:.6f}  partial={d['partial']:.6f}"
        ),
        getattr(args, "toon_fold", False),
    )


def cmd_facets(args, spark) -> None:
    """Hit counts per doc_meta value over the FULL match set of the
    disjunction (Lucene faceting analog) — not just the top-k."""
    from .operators.bm25_segments import facet_counts

    terms = _query_terms(args.query)
    stats = getattr(args, "stats", None)
    if stats:
        from .operators.bm25_segments import facet_stats

        out = facet_stats(
            spark, args.index, terms, facet_col=args.by, stats_col=stats
        )
        _emit(
            out.collect(),
            args.format,
            lambda d: (
                f"{d[args.by] or '':<24}  n={d['n_docs']:<8} "
                f"min={d[f'min_{stats}']} avg={d[f'avg_{stats}']:.2f} "
                f"max={d[f'max_{stats}']}"
            ),
            getattr(args, "toon_fold", False),
        )
        return
    out = facet_counts(spark, args.index, terms, facet_col=args.by)
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d[args.by] or '':<24}  {d['n_docs']}",
        getattr(args, "toon_fold", False),
    )


def cmd_tophits(args, spark) -> None:
    """Per-group top-k hits (ES terms agg + top_hits sub-agg)."""
    from .operators.bm25_segments import top_hits

    terms = _query_terms(args.query)
    out = top_hits(
        spark, args.index, terms, group_col=args.by, k_per_group=args.k
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: (
            f"{d[args.by] or '':<20} #{d['group_rank']}  "
            f"{d['doc_id']:<16} {d['score']:.6f}"
        ),
        getattr(args, "toon_fold", False),
    )


def cmd_histo(args, spark) -> None:
    """Fixed-interval histogram over the match set (ES histogram agg)."""
    from .operators.bm25_segments import histogram_agg

    terms = _query_terms(args.query)
    out = histogram_agg(
        spark, args.index, terms, field=args.field, interval=args.interval
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['bucket']:>8}  {d['n_docs']}",
        getattr(args, "toon_fold", False),
    )


def cmd_sigterms(args, spark) -> None:
    """Significant terms (ES significant_terms aggregation): vocabulary
    terms overrepresented in the query's match set vs the background."""
    from .operators.bm25_segments import significant_terms

    terms = _query_terms(args.query)
    out = significant_terms(
        spark, args.index, terms, k=args.k, min_fg=args.min_fg
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: (
            f"{d['rank']:>3}  {d['term']:<24}  fg={d['fg']:<6} "
            f"df={d['df']:<8} lift={d['score']:.4f}"
        ),
        getattr(args, "toon_fold", False),
    )


def cmd_count(args, spark) -> None:
    """Total hit count (Lucene TotalHitCountCollector analog): how many
    live docs contain ANY of the query terms — no scoring, no top-k."""
    from .operators.bm25_segments import match_count

    terms = _query_terms(args.query)
    out = match_count(
        spark, args.index, terms,
        approximate=getattr(args, "approx", False),
        rsd=getattr(args, "rsd", 0.05),
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: str(d["n_docs"]),
        getattr(args, "toon_fold", False),
    )


def cmd_mlt(args, spark) -> None:
    """More-Like-This: top-k docs most similar to --doc-id by lexical
    overlap (operators/mlt.py) — interesting terms from the source doc
    (tf/df gates, idf·tf ranking) run as a bounded disjunction."""
    from .operators.mlt import more_like_this

    out = more_like_this(
        spark, args.index, _corpus(spark, args.corpus), args.doc_id,
        k=args.k, max_query_terms=args.max_terms,
        min_tf=args.min_tf, min_df=args.min_df,
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_hybrid(args, spark) -> None:
    """Hybrid lexical+vector search: BM25 top-depth fused with cosine
    top-depth by Reciprocal Rank Fusion (operators/hybrid.py). The query
    vector is the stored embedding of --vec-id."""
    from .operators.hybrid import hybrid_topk
    from .oracle import tokenize

    emb = spark.read.parquet(args.embeddings)
    row = emb.filter(F.col("vec_id") == args.vec_id).select("embedding").collect()
    if not row:
        raise SystemExit(f"vec_id {args.vec_id} not in {args.embeddings}")
    out = hybrid_topk(
        spark, args.index, emb, tokenize(args.query),
        [float(x) for x in row[0][0]], k=args.k, depth=args.depth,
        ann=args.ann,
    )
    _emit(
        out.collect(),
        args.format,
        lambda d: f"{d['rank']:>3}  {d['doc_id']:<20}  {d['rrf_score']:.6f}",
        getattr(args, "toon_fold", False),
    )


def cmd_phrase_build(args, spark) -> None:
    """Write the positions-carrying phrase index (posting_format=2)."""
    from .operators.phrase import write_phrase_index

    res = write_phrase_index(spark, _corpus(spark, args.corpus), args.index)
    print(json.dumps(res, default=str))


def cmd_compact(args, spark) -> None:
    """Fold each term's slices into one blob, purge tombstoned postings
    (the `delete` verb's live-docs), and rewrite segments/ + every derived
    artifact in place — see segments.compact_index. Without deletes,
    results are query-identical before/after (tested); with deletes, the
    compacted store answers like a fresh build on the live corpus.
    With --tiered: size-tiered merging of small delta units only
    (segments.tiered_compact) — bounded bytes rewritten per cycle, no
    purge, the per-epoch maintenance policy between full compactions."""
    if getattr(args, "tiered", False):
        from .operators.segments import tiered_compact

        print(json.dumps(tiered_compact(
            spark, args.index, tier_fanout=args.tier_fanout
        )))
        return
    from .operators.segments import compact_index

    print(json.dumps(compact_index(spark, args.index)))


def cmd_delete(args, spark) -> None:
    """Delete documents from a segment store WITHOUT rewriting it — appends
    a tombstone epoch that every executor masks out (Lucene live-docs;
    operators/deletes.py). Space is reclaimed by the `compact` verb."""
    from .operators.deletes import delete_docs

    if args.ids:
        ids: list[int] | object = [int(x) for x in args.ids.split(",") if x.strip()]
    else:
        with open(args.ids_file) as f:
            ids = [int(line) for line in f if line.strip()]
    out = delete_docs(spark, args.index, ids)
    print(json.dumps(out))


def cmd_stats(args, spark) -> None:
    """A4 collection counts + catalog counters (chroma_store.py:445-491)."""
    from .operators.bm25_segments import load_stats

    stats = load_stats(args.index)
    cat = (
        spark.read.parquet(f"{args.index}/catalog")
        .groupBy("checkpoint_epoch")
        .agg(
            F.count(F.lit(1)).alias("partitions"),
            F.sum("n_terms").alias("terms"),
            F.sum("n_postings").alias("postings"),
            F.sum("bytes").alias("bytes"),
        )
        .orderBy("checkpoint_epoch")
        .collect()
    )
    print(json.dumps({"stats": stats, "epochs": [r.asDict() for r in cat]}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="contextinator-spark")
    p.add_argument("--format", choices=["json", "text", "toon"], default="json")
    p.add_argument(
        "--toon-fold", action="store_true",
        help="TOON keyFolding: collapse single-key object chains to a.b.c",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("read", help="file line-range read (fs_read Line mode)")
    r.add_argument("--corpus", required=True)
    r.add_argument("--path", required=True)
    r.add_argument("--start-line", type=int, default=None)
    r.add_argument("--end-line", type=int, default=None)
    r.set_defaults(fn=cmd_read)

    ls = sub.add_parser("list", help="directory listing (fs_read Directory mode)")
    ls.add_argument("--corpus", required=True)
    ls.add_argument("--prefix", default=None)
    ls.add_argument("--tree", action="store_true", help="recursive tree view")
    ls.add_argument("--depth", type=int, default=None, help="max tree depth")
    ls.set_defaults(fn=cmd_list)

    s = sub.add_parser("search", help="regex grep with context (fs_read Search mode)")
    s.add_argument("--corpus", required=True)
    s.add_argument("--pattern", required=True)
    s.add_argument("--context-lines", type=int, default=2)
    s.add_argument("--limit", type=int, default=100)
    s.add_argument("--facets", action="store_true", help="append facet summary")
    s.set_defaults(fn=cmd_search)

    sy = sub.add_parser("symbols", help="sorted distinct symbols (rag symbols)")
    sy.add_argument("--corpus", required=True)
    sy.add_argument("--contains", default=None)
    sy.add_argument("--lang", default=None)
    sy.add_argument("--include-parents", action="store_true")
    sy.add_argument("--limit", type=int, default=50)
    sy.set_defaults(fn=cmd_symbols)

    c = sub.add_parser("cat", help="reconstruct a file from chunks (rag cat)")
    c.add_argument("--corpus", required=True)
    c.add_argument("--path", required=True)
    c.set_defaults(fn=cmd_cat)

    b = sub.add_parser("build", help="build/resume the segment index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    from .config import INDEX_PARTITIONS

    b.add_argument("--partitions", type=int, default=INDEX_PARTITIONS)
    b.add_argument("--epoch", type=int, default=0)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k (rag search)")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--no-prune", action="store_true")
    q.add_argument(
        "--mode", choices=["any", "all"], default="any",
        help="any = disjunctive (default); all = every term required (MUST)",
    )
    q.add_argument(
        "--where",
        help="SQL predicate over doc_meta columns (repo/path/lang/...) — "
        "Lucene FILTER clause; scores stay global",
    )
    q.add_argument("--facets", action="store_true", help="append facet summary")
    q.add_argument(
        "--after", metavar="SCORE:DOC_ID",
        help="cursor pagination (searchAfter): return hits strictly after "
             "this (score, doc_id) in ranking order",
    )
    q.add_argument(
        "--snippets", metavar="CORPUS",
        help="render each hit's best line from this corpus parquet, query "
             "terms «highlighted» (doc_id-pruned read of just the k hits)",
    )
    q.add_argument(
        "--collapse", metavar="COL",
        help="field collapsing (Lucene CollapsingTopDocsCollector): at most "
             "one hit per distinct doc_meta[COL] value, each group "
             "represented by its best-scoring doc",
    )
    q.add_argument(
        "--sort-by", metavar="COL", dest="sort_by",
        help="sort matches by a doc_meta field instead of relevance "
             "(Lucene Sort/SortField; no scoring runs) — descending by "
             "default, doc_id tiebreak",
    )
    q.add_argument(
        "--asc", action="store_true",
        help="with --sort-by: ascending order (default is descending)",
    )
    q.set_defaults(fn=cmd_query)

    ph = sub.add_parser("phrase", help="consecutive-token phrase search (BM25)")
    ph.add_argument("--query", required=True)
    ph_src = ph.add_mutually_exclusive_group(required=True)
    ph_src.add_argument("--corpus", help="corpus parquet (scan form)")
    ph_src.add_argument("--index", help="positions index dir (indexed form)")
    ph.add_argument("--k", type=int, default=10)
    ph.add_argument(
        "--window", type=int, default=0,
        help="proximity mode: all terms within ±N tokens of the first "
             "(0 = exact consecutive phrase)",
    )
    ph.add_argument(
        "--ordered", action="store_true",
        help="span-near (Lucene SpanNearQuery inOrder=true): terms IN "
             "ORDER with total gap ≤ --window; needs --index",
    )
    ph.add_argument(
        "--prefix",
        help="phrase-prefix (ES match_phrase_prefix): the token after the "
             "query phrase must start with PREFIX; needs --index",
    )
    ph.add_argument(
        "--first", type=int,
        help="SpanFirstQuery: the span must end within the first N token "
             "positions; needs --index (combine with --ordered --window "
             "for a span-near inside)",
    )
    ph.add_argument(
        "--not-phrase", default=None, dest="not_phrase",
        help="SpanNotQuery: exclude include-spans overlapping this phrase "
             "(scan form, needs --corpus; with --not-pre/--not-post windows)",
    )
    ph.add_argument("--not-pre", type=int, default=0, dest="not_pre")
    ph.add_argument("--not-post", type=int, default=0, dest="not_post")
    ph.set_defaults(fn=cmd_phrase)

    bq = sub.add_parser(
        "bool",
        help='Boolean query: +must should -not "phrase"~N pre* fuz~2 t^boost field:v',
    )
    bq.add_argument("--query", required=True)
    bq.add_argument("--index", required=True, help="positions index dir")
    bq.add_argument("--k", type=int, default=10)
    bq.add_argument(
        "--dismax", type=float, nargs="?", const=0.0, default=None,
        metavar="TIE",
        help="DisjunctionMax combiner: score = best clause + TIE × rest "
             "(default combiner is BooleanQuery sum)",
    )
    bq.add_argument(
        "--msm", type=int, default=0, metavar="N",
        help="minimum_should_match: a hit must match ≥ N distinct SHOULD "
             "clauses (Lucene setMinimumNumberShouldMatch)",
    )
    bq.add_argument(
        "--negative", metavar="QUERY",
        help="boosting query (ES `boosting`): DEMOTE docs matching this "
             "Boolean query by ×--negative-boost instead of excluding them",
    )
    bq.add_argument(
        "--negative-boost", type=float, default=0.5, dest="negative_boost",
        metavar="F", help="demotion factor in [0, 1) for --negative matches",
    )
    bq.add_argument(
        "--rescore", metavar="QUERY",
        help="two-pass rescoring (ES rescore): re-rank the top "
             "--rescore-window docs with this Boolean query's score added "
             "at --rescore-weight",
    )
    bq.add_argument(
        "--rescore-window", type=int, default=50, dest="rescore_window",
        metavar="N",
    )
    bq.add_argument(
        "--rescore-weight", type=float, default=1.0, dest="rescore_weight",
        metavar="F",
    )
    bq.add_argument(
        "--fvf-modifier", choices=("none", "log1p", "sqrt"),
        dest="fvf_modifier",
        help="function_score field_value_factor: combine the score with "
             "fn(--fvf-factor × --fvf-field) via --fvf-mode",
    )
    bq.add_argument("--fvf-field", default="doc_len", dest="fvf_field")
    bq.add_argument("--fvf-factor", type=float, default=1.0, dest="fvf_factor")
    bq.add_argument(
        "--fvf-mode", choices=("multiply", "sum"), default="multiply",
        dest="fvf_mode",
    )
    bq.add_argument(
        "--script", default=None, dest="script",
        help="script_score: replace the score with a SQL expression over "
             "`score` + doc_meta columns (generic re-scoring)",
    )
    bq.add_argument(
        "--decay-shape", choices=("gauss", "exp", "linear"),
        dest="decay_shape",
        help="function_score decay: re-weight by distance of "
             "--decay-field from --decay-origin (multiplier = "
             "--decay-value at distance --decay-scale)",
    )
    bq.add_argument("--decay-field", default="doc_len", dest="decay_field")
    bq.add_argument("--decay-origin", type=float, default=0.0, dest="decay_origin")
    bq.add_argument("--decay-scale", type=float, default=10.0, dest="decay_scale")
    bq.add_argument("--decay-offset", type=float, default=0.0, dest="decay_offset")
    bq.add_argument("--decay-value", type=float, default=0.5, dest="decay_value")
    bq.set_defaults(fn=cmd_bool)

    ml = sub.add_parser("mlt", help="more-like-this: docs similar to a doc_id")
    ml.add_argument("--index", required=True)
    ml.add_argument("--corpus", required=True, help="corpus parquet (source doc read)")
    ml.add_argument("--doc-id", type=int, required=True)
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--max-terms", type=int, default=25)
    ml.add_argument("--min-tf", type=int, default=2)
    ml.add_argument("--min-df", type=int, default=2)
    ml.set_defaults(fn=cmd_mlt)

    ex = sub.add_parser(
        "explain", help="BM25 score decomposition of the top-k (Lucene explain)"
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--k", type=int, default=10)
    ex.add_argument(
        "--bool", action="store_true", dest="bool_query",
        help="treat --query as the full Boolean grammar and decompose "
             "per CLAUSE instead of per term",
    )
    ex.set_defaults(fn=cmd_explain)

    fc = sub.add_parser(
        "facets", help="hit counts per metadata value over the full match set"
    )
    fc.add_argument("--index", required=True)
    fc.add_argument("--query", required=True)
    fc.add_argument("--by", default="lang", help="doc_meta column to facet by")
    fc.add_argument(
        "--stats", metavar="COL",
        help="sub-aggregations: also emit min/avg/max of this numeric "
             "doc_meta column per facet value (ES terms-agg sub-aggs)",
    )
    fc.set_defaults(fn=cmd_facets)

    th = sub.add_parser(
        "tophits", help="per-group top-k hits (terms agg + top_hits)"
    )
    th.add_argument("--index", required=True)
    th.add_argument("--query", required=True)
    th.add_argument("--by", default="lang")
    th.add_argument("--k", type=int, default=3, help="hits per group")
    th.set_defaults(fn=cmd_tophits)

    hg = sub.add_parser(
        "histo", help="fixed-interval histogram over the match set"
    )
    hg.add_argument("--index", required=True)
    hg.add_argument("--query", required=True)
    hg.add_argument("--field", default="doc_len")
    hg.add_argument("--interval", type=int, default=10)
    hg.set_defaults(fn=cmd_histo)

    st = sub.add_parser(
        "sigterms",
        help="significant terms: vocabulary overrepresented in the match set",
    )
    st.add_argument("--index", required=True)
    st.add_argument("--query", required=True)
    st.add_argument("--k", type=int, default=10)
    st.add_argument("--min-fg", type=int, default=2, dest="min_fg")
    st.set_defaults(fn=cmd_sigterms)

    cn = sub.add_parser(
        "count", help="total hit count over the index (no scoring)"
    )
    cn.add_argument("--index", required=True)
    cn.add_argument("--query", required=True)
    cn.add_argument(
        "--approx", action="store_true",
        help="HLL++ cardinality sketch (ES cardinality agg) instead of exact",
    )
    cn.add_argument("--rsd", type=float, default=0.05)
    cn.set_defaults(fn=cmd_count)

    sn = sub.add_parser(
        "synonym", help="synonym set scored as one term (blended stats)"
    )
    sn.add_argument("--index", required=True)
    sn.add_argument(
        "--terms", required=True, help="comma-separated synonym set"
    )
    sn.add_argument("--k", type=int, default=10)
    sn.set_defaults(fn=cmd_synonym)

    cg = sub.add_parser(
        "composite", help="pageable composite buckets over the match set"
    )
    cg.add_argument("--index", required=True)
    cg.add_argument("--query", required=True)
    cg.add_argument("--group-col", default="lang", dest="group_col")
    cg.add_argument("--stats-col", default="doc_len", dest="stats_col")
    cg.add_argument("--interval", type=int, default=10)
    cg.add_argument("--size", type=int, default=5)
    cg.add_argument("--after", default=None, help="GROUP:BUCKET cursor")
    cg.set_defaults(fn=cmd_composite)

    an = sub.add_parser("analyze", help="tokenizer debug (ES _analyze)")
    an.add_argument("--text", required=True)
    an.set_defaults(fn=cmd_analyze)

    al = sub.add_parser(
        "alias", help="atomic index alias: create, swap (blue/green), or show"
    )
    al.add_argument("--alias", required=True, help="alias directory")
    al.add_argument("--target", default=None, help="store dir to point at")
    al.add_argument(
        "--swap", action="store_true",
        help="repoint an EXISTING alias (prints the old target)",
    )
    al.set_defaults(fn=cmd_alias)

    dh = sub.add_parser(
        "datehisto", help="date_histogram over an events parquet table"
    )
    dh.add_argument("--events", required=True, help="parquet path with a timestamp column")
    dh.add_argument("--ts-col", default="ts", dest="ts_col")
    dh.add_argument("--interval", default="day")
    dh.add_argument("--group-col", default=None, dest="group_col")
    dh.add_argument("--value-col", default=None, dest="value_col")
    dh.set_defaults(fn=cmd_datehisto)

    re_ = sub.add_parser(
        "rankeval", help="ranking metrics vs a relevant-doc list (ES _rank_eval)"
    )
    re_.add_argument("--index", required=True)
    re_.add_argument("--query", required=True)
    re_.add_argument("--relevant", required=True, help="comma-separated doc_ids")
    re_.add_argument("--k", type=int, default=10)
    re_.set_defaults(fn=cmd_rankeval)

    tv = sub.add_parser(
        "tvec", help="per-document term vectors (ES _termvectors)"
    )
    tv.add_argument("--index", required=True)
    tv.add_argument("--docs", required=True, help="comma-separated doc_ids")
    tv.add_argument("--positions", action="store_true")
    tv.set_defaults(fn=cmd_termvectors)

    pl = sub.add_parser(
        "pctl", help="percentiles aggregation over the match set"
    )
    pl.add_argument("--index", required=True)
    pl.add_argument("--query", required=True)
    pl.add_argument("--field", default="doc_len")
    pl.add_argument("--pcts", default="0.25,0.5,0.75,0.99")
    pl.set_defaults(fn=cmd_pctl)

    xs = sub.add_parser(
        "xstats", help="extended stats (7 moments) over the match set"
    )
    xs.add_argument("--index", required=True)
    xs.add_argument("--query", required=True)
    xs.add_argument("--field", default="doc_len")
    xs.set_defaults(fn=cmd_xstats)

    mm = sub.add_parser(
        "multimatch", help="multi-field search: best_fields (DisMax) or cross_fields (BM25F)"
    )
    mm.add_argument(
        "--field", action="append", required=True,
        help="NAME=DIR[:WEIGHT], repeat per field store",
    )
    mm.add_argument("--terms", required=True, help="space-separated query terms")
    mm.add_argument(
        "--mode", choices=["best_fields", "cross_fields"], default="best_fields"
    )
    mm.add_argument("--tie-breaker", type=float, default=0.0, dest="tie_breaker")
    mm.add_argument("--k", type=int, default=10)
    mm.set_defaults(fn=cmd_multimatch)

    pc = sub.add_parser(
        "percolate", help="match documents against registered queries (percolator)"
    )
    pc.add_argument("--corpus", required=True)
    pc.add_argument(
        "-q", "--query", action="append", required=True,
        help="registered query (repeatable; ids are the 0-based order)",
    )
    pc.add_argument("--msm", type=int, default=0)
    pc.set_defaults(fn=cmd_percolate)

    sg = sub.add_parser(
        "suggest", help="did-you-mean term suggestions (DirectSpellChecker)"
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--term", required=True)
    sg.add_argument("--max-edits", type=int, default=2, dest="max_edits")
    sg.add_argument("--k", type=int, default=5)
    sg.add_argument(
        "--complete", action="store_true",
        help="completion-suggester mode: --term is a PREFIX, results are "
             "df-ranked dictionary terms under it",
    )
    sg.add_argument(
        "--phrase", action="store_true",
        help="phrase-suggester mode: --term is a whole phrase (space-"
             "separated), candidates ranked by real indexed phrase df "
             "(needs a positions index)",
    )
    sg.set_defaults(fn=cmd_suggest)

    hy = sub.add_parser("hybrid", help="BM25 + vector ANN fused by RRF")
    hy.add_argument("--index", required=True)
    hy.add_argument("--embeddings", required=True, help="embeddings parquet")
    hy.add_argument("--query", required=True)
    hy.add_argument("--vec-id", type=int, required=True, help="query vector id")
    hy.add_argument("--k", type=int, default=10)
    hy.add_argument("--depth", type=int, default=50, help="per-run depth before fusion")
    hy.add_argument(
        "--ann", choices=["brute", "lsh"], default="brute",
        help="vector run: exact brute cosine, or RHP-LSH candidates re-scored",
    )
    hy.set_defaults(fn=cmd_hybrid)

    pb = sub.add_parser("phrase-build", help="write the positions phrase index")
    pb.add_argument("--corpus", required=True)
    pb.add_argument("--index", required=True)
    pb.set_defaults(fn=cmd_phrase_build)

    cp = sub.add_parser("compact", help="fold slices per term, purge deletes, rewrite segments/")
    cp.add_argument("--index", required=True)
    cp.add_argument(
        "--tiered", action="store_true",
        help="size-tiered merge of small delta units only (bounded bytes "
             "rewritten; no purge) instead of the full store rewrite",
    )
    cp.add_argument(
        "--tier-fanout", type=int, default=4,
        help="merge a size tier once it holds this many units (with --tiered)",
    )
    cp.set_defaults(fn=cmd_compact)

    dl = sub.add_parser("delete", help="tombstone doc_ids (live-docs; reclaim via compact)")
    dl.add_argument("--index", required=True)
    dl_src = dl.add_mutually_exclusive_group(required=True)
    dl_src.add_argument("--ids", help="comma-separated doc_ids")
    dl_src.add_argument("--ids-file", help="file with one doc_id per line")
    dl.set_defaults(fn=cmd_delete)

    st = sub.add_parser("stats", help="collection stats + catalog counters")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    args = build_parser().parse_args(argv)
    # alias pointers resolve once, at the CLI boundary (operators/alias.py):
    # executors always see a concrete store path
    if getattr(args, "index", None) and getattr(args, "fn", None) is not cmd_alias:
        from .operators.alias import resolve_index

        args.index = resolve_index(args.index)
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark("contextinator-cli")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        args.fn(args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
