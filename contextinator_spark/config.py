"""Pinned engine configuration.

The reference (Contextinator) pins its pipeline constants in
``rag/config/settings.py`` (chunk budget 512 / overlap 50 at
settings.py:19-20, batch sizes at settings.py:228-239). It has no BM25, so
per SURVEY.md §2.8/F16 the rebuild's own pinned constants ARE the reference
config: k1=1.2, b=0.75, ascending-doc_id tiebreak.

Everything that affects result values lives here so golden fixtures,
the Spark engine, the DuckDB oracle SQL and the numpy brute-force oracle
all agree by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- tokenization -----------------------------------------------------------
# BM25 term policy (pinned; SURVEY.md §5.2.1): lowercase, tokens are maximal
# runs of [a-z0-9_]. No subword (camelCase / snake_case) splitting for BM25
# terms — identifiers stay whole, mirroring the reference's symbol-level
# retrieval (symbol_search.py:29-79). SQL-expressible so the DuckDB oracle
# can reproduce it: regexp_split_to_array(lower(x), '[^a-z0-9_]+') minus ''.
TOKEN_PATTERN = "[a-z0-9_]+"
TOKEN_SPLIT_PATTERN = "[^a-z0-9_]+"

# --- BM25 -------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
DEFAULT_TOP_K = 10
SCORE_ROUND_DECIMALS = 6  # rank-identity tolerance 1e-6 (SURVEY.md §5.2.2)

# --- chunking (reference: settings.py:19-20) --------------------------------
CHUNK_TOKEN_BUDGET = 512
CHUNK_TOKEN_OVERLAP = 50

# --- posting compression / WAND ---------------------------------------------
BLOCK_SIZE = 128  # postings per block-max block (SURVEY.md §4 item 4)

# --- skew handling -----------------------------------------------------------
# Terms whose document frequency exceeds HEAVY_DF_THRESHOLD (as a fraction of
# N docs) get salted into HEAVY_SALT_FANOUT sub-groups during the posting
# build, merged in a second phase (north_star: 'def', 'import' class terms).
HEAVY_DF_FRACTION = 0.05
HEAVY_SALT_FANOUT = 8
# the salt factor SCALES with term frequency (north_star: heavy hitters like
# 'def'/'import'): a heavy term gets max(HEAVY_SALT_FANOUT, df/SLICE_TARGET)
# range slices so no single posting-list group ever exceeds ~64k postings —
# the invariant that keeps both the build's collect_list groups and the
# query's per-slice decode bounded at 10^12-file scale.
SLICE_TARGET_POSTINGS = 65536
MAX_SALT_FANOUT = 4096
# heavy-hitter detection samples ~this many docs (deterministic hash-mod
# sample; modulus k = max(1, n_docs // target), df_est = df_sample * k).
# Detection only steers the salt fan-out — query results are invariant to
# slicing — so a 5% sample at 2M docs is plenty; small corpora get k=1
# (exact). 100k keeps the pre-pass under ~5% of tokenize cost at any scale.
HEAVY_SAMPLE_TARGET = 100_000

# --- dedup ------------------------------------------------------------------
MINHASH_NUM_PERM = 16          # signature length
MINHASH_BAND_SIZE = 4          # rows per LSH band -> 4 bands
SHINGLE_SIZE = 3               # word shingles
SIMHASH_BITS = 64
NGRAM_N = 3
JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.95

# --- partitioning -----------------------------------------------------------
DEFAULT_SHUFFLE_PARTITIONS = 32
# term-hash partitions of the segment store. Finer partitioning = finer
# query-side pruning: a q-term query reads ~q/INDEX_PARTITIONS of the
# index (each term's postings live in exactly one partition dir). At 100 TB
# this would be thousands; 128 keeps sf-scale files reasonable while making
# pruned scans cheap.
INDEX_PARTITIONS = 128
# decode/score parallelism: when the matched posting volume exceeds this,
# the executor repartitions slice rows off the (file-count-bound) scan
# stage so scoring spreads across all cores; below it the extra shuffle
# costs more than it buys.
QUERY_REPARTITION_MIN_DF = 50_000
# driver-read short-circuit, the one gate for every small single query: at
# most this many postings are read on the driver with pyarrow (≈ 6
# bytes/posting → ~1 MB here) and scored and ranked in numpy, with no
# Spark job — a driver read of a few MB beats a distributed scan whose
# job/task/shuffle overhead dwarfs the work (Lucene executes a whole query
# on one node for the same reason). BM25 top-k (topk_segments) gates on
# the query terms' Σdf; the BM25 θ fetch (bm25_segments._batch_thetas,
# single queries being a batch of one) gates per batch on the Σdf of the
# θ terms it must read, Boolean's rare-MUST candidate fetch on the Σdf of
# the batch's chosen MUST terms; the positional top-k (phrase,
# multiphrase, span-first, span-near) gates on the slot terms' Σcf, since
# the driver then holds every position. Results equal the Spark plan's:
# same decode/score kernels, same tie-break.
DRIVER_TOPK_MAX_DF = 131_072

# Largest tombstone (deleted-docs) set the query path will collect, sort
# and broadcast for kernel-side searchsorted masking — 4M int64 ≈ 32 MB,
# well inside executor broadcast budgets. Beyond it executors fall back
# to a distributed anti-join and disable θ pruning (operators/deletes.py
# module docstring has the soundness argument); at that delete ratio the
# right operation is compaction, as in Lucene's merge policy.
TOMBSTONE_BROADCAST_MAX = 4_000_000


@dataclass(frozen=True)
class EngineConfig:
    k1: float = BM25_K1
    b: float = BM25_B
    top_k: int = DEFAULT_TOP_K
    token_pattern: str = TOKEN_PATTERN
    block_size: int = BLOCK_SIZE
    heavy_df_fraction: float = HEAVY_DF_FRACTION
    heavy_salt_fanout: int = HEAVY_SALT_FANOUT
    index_partitions: int = INDEX_PARTITIONS
    chunk_token_budget: int = CHUNK_TOKEN_BUDGET
    chunk_token_overlap: int = CHUNK_TOKEN_OVERLAP
    extra: dict = field(default_factory=dict)


DEFAULT_CONFIG = EngineConfig()
