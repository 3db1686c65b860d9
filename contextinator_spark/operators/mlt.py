"""More-Like-This — find documents similar to a given document by lexical
overlap (Lucene's MoreLikeThis query builder; new surface — the reference's
only similarity path is embedding-vector retrieval, chroma_ops.py).

Pipeline (all metadata-scale until the final executor run):
  1. read the SOURCE doc's content — one row, `doc_id =` pushed into the
     corpus parquet scan;
  2. tokenize it driver-side with the engine's pinned token policy
     (bounded by one document's length — this is the same single-doc
     round-trip Lucene does against stored fields when the index has no
     term vectors);
  3. probe the dictionary for each candidate term's df (RAM-pinned
     vocabulary, no posting reads);
  4. keep terms with tf ≥ min_tf and df ≥ min_df, rank by
     interestingness = idf(df) · tf (Lucene MLT's default term scoring),
     tie → term asc, keep the top max_query_terms;
  5. run the bounded disjunction through the pruned segment executor and
     drop the source doc from the ranking (fetch k+1, exclude, re-rank —
     exact because at most one row is removed).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, DEFAULT_TOP_K, TOKEN_PATTERN
from .bm25_segments import (
    _idf,
    _local_frame,
    _rank_tail,
    load_stats,
    probe_dictionary,
    topk_segments,
)

# Lucene MoreLikeThis defaults (MoreLikeThis.java): minTermFreq=2,
# minDocFreq=5, maxQueryTerms=25. min_df default here is 2 — the corpus
# under test is far smaller than a Lucene index's usual million docs.
MLT_MIN_TF = 2
MLT_MIN_DF = 2
MLT_MAX_QUERY_TERMS = 25


def mlt_terms(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_id: int,
    max_query_terms: int = MLT_MAX_QUERY_TERMS,
    min_tf: int = MLT_MIN_TF,
    min_df: int = MLT_MIN_DF,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> list[str]:
    """The interesting-term expansion for doc_id, deterministically ordered
    (idf·tf desc, term asc) and bounded — reproducible by the SQL oracle."""
    rows = (
        docs.filter(F.col(id_col) == int(doc_id)).select(content_col).collect()
    )
    if not rows:
        raise ValueError(f"doc_id {doc_id} not found in corpus")
    tf = Counter(re.findall(TOKEN_PATTERN, (rows[0][0] or "").lower()))
    cand = sorted(t for t, c in tf.items() if c >= min_tf)
    if not cand:
        return []
    stats = load_stats(index_dir)
    n_docs = float(stats["n_docs"])
    info = probe_dictionary(spark, index_dir, cand, int(stats["n_partitions"]))
    scored = [
        (_idf(float(info[t]["df"]), n_docs) * tf[t], t)
        for t in cand
        if t in info and int(info[t]["df"]) >= min_df
    ]
    scored.sort(key=lambda st: (-st[0], st[1]))
    return sorted(t for _, t in scored[:max_query_terms])


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_id: int,
    k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_query_terms: int = MLT_MAX_QUERY_TERMS,
    min_tf: int = MLT_MIN_TF,
    min_df: int = MLT_MIN_DF,
    **kw,
) -> DataFrame:
    """(rank, doc_id, score) of the k docs most similar to doc_id, source
    excluded. Scoring = disjunctive BM25 over the interesting terms —
    identical contract to every other MultiTermQuery rewrite here."""
    terms = mlt_terms(
        spark, index_dir, docs, doc_id, max_query_terms, min_tf, min_df
    )
    if not terms:
        return _local_frame(spark, [], "rank int, doc_id long, score double")
    over = topk_segments(spark, index_dir, terms, k=k + 1, k1=k1, b=b, **kw)
    return _rank_tail(over.filter(F.col("doc_id") != int(doc_id)), k)
