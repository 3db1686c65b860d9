"""Explicit StructType schemas for every stage boundary (SURVEY.md §1.4).

The reference enforces schemas only by dict-key convention
(node_collector.py:114-116); here schema drift is an analysis-time error.
"""

from __future__ import annotations

from pyspark.sql import types as T

CORPUS = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# chunker output; shape from ast_parser.py:769-783 + node_collector.py:63-96
# + splitter.py:142-152 (reference), with deterministic ids (SURVEY.md §1.2)
CHUNKS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("node_type", T.StringType(), False),
        T.StructField("node_name", T.StringType(), False),
        T.StructField("start_line", T.IntegerType(), False),
        T.StructField("end_line", T.IntegerType(), False),
        T.StructField("parent_doc_id", T.LongType(), True),
        T.StructField("is_parent", T.BooleanType(), False),
        T.StructField("is_split", T.BooleanType(), False),
        T.StructField("split_index", T.IntegerType(), False),
        T.StructField("token_count", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("content", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# raw chunk array element emitted by the chunker pandas UDF (pre-explode)
CHUNK_NODE = T.StructType(
    [
        T.StructField("node_type", T.StringType(), False),
        T.StructField("node_name", T.StringType(), False),
        T.StructField("start_line", T.IntegerType(), False),
        T.StructField("end_line", T.IntegerType(), False),
        T.StructField("parent_index", T.IntegerType(), True),
        T.StructField("is_parent", T.BooleanType(), False),
        T.StructField("is_split", T.BooleanType(), False),
        T.StructField("split_index", T.IntegerType(), False),
        T.StructField("token_count", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)

DOC_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_len", T.IntegerType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# one row per (term, doc-range slice) of segments/, as the build and the
# compaction write it and spark.read.parquet reads it back (every field
# nullable, partition_id from the partition_id=<p> directories). The query
# executors read segments/ with this schema pinned, which skips the parquet
# schema-inference job a schema-less read runs.
SEGMENTS = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("slice_id", T.IntegerType()),
        T.StructField("df_slice", T.LongType()),
        T.StructField("cf_slice", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField(
            "block_max",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("upper_doc", T.LongType()),
                        T.StructField("max_tf", T.IntegerType()),
                        T.StructField("min_dl", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("kth_tfnorm", T.DoubleType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)

CATALOG = T.StructType(
    [
        T.StructField("segment_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_terms", T.LongType(), False),
        T.StructField("n_postings", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("checkpoint_epoch", T.IntegerType(), False),
        T.StructField("lineage", T.StringType(), False),
    ]
)

QUERY_RESULT = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
