"""Tokenization kernels.

Two interchangeable implementations of the pinned BM25 token policy
(config.TOKEN_PATTERN — lowercase, maximal [a-z0-9_] runs):

* ``tokens_expr``   — pure Catalyst Column expression (whole-stage codegen,
                      JVM-side; used in oracle-checked queries and anywhere
                      the plan should stay fully columnar).
* ``tokens_udf``    — vectorized pandas UDF (Arrow batches; the A-axis form
                      required by BASELINE.json input_hint for the index
                      build). pandas ``str.findall`` over the whole batch —
                      no per-row Python loop.

A unit test pins their equality so either can be swapped per-plan.

Reference semantics carried: the reference tokenizes for chunk budgeting via
tiktoken (token_counter.py:15-74) and matches symbols/grep via regex
(grep_search.py:81-106); BM25 terms are this rebuild's own pinned policy
(SURVEY.md §7.3 'tiktoken vs code tokenizer').
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..config import TOKEN_PATTERN


def tokens_expr(col: Column | str) -> Column:
    """array<string> of BM25 terms — pure columnar, codegen-friendly.

    regexp_extract_all of TOKEN_PATTERN, which is value-identical to
    splitting on the complement class and dropping empties (the DuckDB
    oracles keep the regexp_split_to_array formulation — same results,
    different engine idiom). The split+filter form this replaced was
    measured 13× slower in whole-stage codegen (44 s vs 3.5 s tokenizing
    1M docs on local[32]): StringSplit drives Pattern.split region
    matching per separator run, while RegexpExtractAll walks the string
    once — this expression sits under EVERY scan-form operator and
    percolation, so the idiom choice is a first-order cost."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_PATTERN), 0)


@pandas_udf(T.ArrayType(T.StringType()))
def tokens_udf(content: pd.Series) -> pd.Series:
    """Same token policy, vectorized over Arrow batches.

    Null content tokenizes to [] (the corpus schema declares content
    non-null, but cli builds over arbitrary parquet may not)."""
    return content.fillna("").str.lower().str.findall(TOKEN_PATTERN)


@pandas_udf(T.IntegerType())
def token_count_udf(content: pd.Series) -> pd.Series:
    """Number of BM25 terms per document (doc_len), vectorized.

    Byte-level run counting (bytetok) — no token strings materialized;
    non-ASCII rows fall back to the regex path inside the kernel."""
    from .bytetok import batch_token_counts

    return pd.Series(batch_token_counts(content.fillna("")).astype("int32"))


def token_count_expr(col: Column | str) -> Column:
    """doc_len as a pure column expression (= size of tokens_expr)."""
    return F.size(tokens_expr(col))

