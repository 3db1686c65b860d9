"""The zero-job small-query paths.

The dictionary probe, the small-candidate-set BM25 top-k and the small
positional top-k read the store on the driver and return a LocalRelation,
so such a query schedules no Spark job at all. Every check runs on one
positions store (posting_format=2) with a streamed delta (terms_delta/,
no kth_tfnorm) and a tombstone epoch: the driver-side probe must equal the
Spark groupBy over the cached dictionary it replaced, and each driver path
must return what the Spark plan returns.
"""

from __future__ import annotations

import glob
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from contextinator_spark import schemas
from contextinator_spark.config import TOKEN_PATTERN
from contextinator_spark.functions.xxhash import term_partition
from contextinator_spark.operators import bm25_segments as B
from contextinator_spark.operators import boolean as BO
from contextinator_spark.operators import phrase as PH
from contextinator_spark.operators import segments as S
from contextinator_spark.operators.deletes import delete_docs
from contextinator_spark.streaming.ingest import apply_ingest_batch

_GROUP = "driver-path-test"
_N_PARTITIONS = 16


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs it ran) — counted by job group."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(_GROUP))
    sc.setJobGroup(_GROUP, _GROUP)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job-start events reach the status tracker through the listener bus
    jvm_sc.listenerBus().waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup(_GROUP)) - before)


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def store(spark, corpus, corpus_rows, tmp_path_factory):
    """Positions store: base over the even doc_ids, the odd ones streamed
    in as one format-2 delta, then one tombstone epoch. Yields
    (dir, deleted ids, frequent phrases of the corpus)."""
    d = str(tmp_path_factory.mktemp("driver_path"))
    c = corpus.withColumn("doc_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2**61)))
    S.write_index(
        spark, c.filter(F.col("doc_id") % 2 == 0), d,
        n_partitions=_N_PARTITIONS, positions=True,
    )
    apply_ingest_batch(
        c.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "repo", "path", "commit", "lang", "content"
        ),
        0,
        d,
        n_partitions=_N_PARTITIONS,
    )
    ids = sorted(r["doc_id"] for r in c.select("doc_id").collect())
    deleted = set(ids[::9])
    delete_docs(spark, d, sorted(deleted))
    # the most frequent 2- and 3-token phrases, so the queries match
    grams: Counter = Counter()
    for r in corpus_rows:
        toks = re.findall(TOKEN_PATTERN, r["content"].lower())
        for n in (2, 3):
            grams.update(set(zip(*(toks[i:] for i in range(n)))))
    phrases = [list(g) for g, _ in grams.most_common(6)]
    yield d, deleted, phrases
    shutil.rmtree(d, ignore_errors=True)


def _terms_of(spark, d, sub):
    return {r["term"] for r in spark.read.parquet(f"{d}/{sub}").select("term").collect()}


def test_small_single_queries_run_no_spark_job(spark, store):
    d, _, phrases = store
    terms = ["def", "import", "return"]
    # the first query of a delete epoch collects the tombstone set (cached)
    B.topk_segments(spark, d, terms, k=10).collect()

    info, n = _jobs_of(spark, lambda: B.probe_dictionary(spark, d, terms))
    assert n == 0 and set(info) == set(terms)

    rows, n = _jobs_of(spark, lambda: _rows(B.topk_segments(spark, d, terms, k=10)))
    assert n == 0 and len(rows) == 10

    ph, n = _jobs_of(spark, lambda: _rows(PH.phrase_topk_indexed(spark, d, phrases[0], k=10)))
    assert n == 0 and ph
    near, n = _jobs_of(spark, lambda: _rows(PH.near_topk_indexed(spark, d, phrases[0], 4, k=10)))
    assert n == 0 and near

    # Boolean, and the conjunctive executor that is a Boolean query
    bq, n = _jobs_of(spark, lambda: _rows(BO.boolean_topk_query(spark, d, "+def import -return")))
    assert n == 0 and bq
    conj, n = _jobs_of(
        spark, lambda: _rows(B.topk_segments_conjunctive(spark, d, ["def", "import"], k=10))
    )
    assert n == 0 and conj

    # no-match returns: an absent term, a phrase slot no doc holds
    out, n = _jobs_of(spark, lambda: _rows(B.topk_segments(spark, d, ["zzz_absent"], k=10)))
    assert n == 0 and out == []
    out, n = _jobs_of(
        spark, lambda: _rows(PH.phrase_topk_indexed(spark, d, ["def", "zzz_absent"], k=10))
    )
    assert n == 0 and out == []

    # the counter does see jobs: the distributed plan of the same query
    dist, n = _jobs_of(
        spark, lambda: _rows(B.topk_segments(spark, d, terms, k=10, driver_path=False))
    )
    assert n > 0 and dist == rows


def _spark_probe(spark, index_dir, terms, n_partitions):
    """Reference: the Spark groupBy over the cached dictionary that the
    driver-side probe replaced."""
    base = B._terms_df(spark, index_dir)
    pids = sorted({term_partition(t, n_partitions) for t in terms})
    has_impact = "kth_tfnorm" in base.columns
    aggs = [F.sum("df").alias("df"), F.sum("cf").alias("cf")]
    if has_impact:
        aggs.append(F.max("kth_tfnorm").alias("kth_tfnorm"))
    rows = (
        base.filter(F.col("partition_id").isin(pids) & F.col("term").isin(terms))
        .groupBy("term", "partition_id")
        .agg(*aggs)
        .collect()
    )
    return {
        r["term"]: {
            "df": r["df"],
            "cf": r["cf"],
            "partition_id": r["partition_id"],
            "kth_tfnorm": r["kth_tfnorm"] if has_impact else None,
        }
        for r in rows
    }


def test_driver_probe_equals_spark_groupby(spark, store):
    d, _, _ = store
    base_terms = _terms_of(spark, d, "terms")
    delta_terms = _terms_of(spark, d, "terms_delta")
    only_base = sorted(base_terms - delta_terms)
    only_delta = sorted(delta_terms - base_terms)
    assert only_base and only_delta, "base and delta must each hold terms the other lacks"
    terms = sorted(
        set(sorted(base_terms & delta_terms)[::10])
        | set(only_base[:30])
        | set(only_delta[:30])
        | {"def", "zzz_absent"}
    )

    got = B.probe_dictionary(spark, d, terms, _N_PARTITIONS)
    assert got == _spark_probe(spark, d, terms, _N_PARTITIONS)
    assert "zzz_absent" not in got
    assert all(got[t]["kth_tfnorm"] is None for t in only_delta[:30])
    # base terms with at least k postings carry it
    assert any(v["kth_tfnorm"] is not None for v in got.values())


def test_bm25_driver_path_equals_distributed(spark, store):
    d, deleted, _ = store
    delta_terms = sorted(_terms_of(spark, d, "terms_delta") - _terms_of(spark, d, "terms"))
    for terms in (
        ["def"],
        ["import", "return", "class"],
        ["zzz_no_such_term"],
        delta_terms[:3],
        delta_terms[10:12] + ["def"],
    ):
        a = _rows(B.topk_segments(spark, d, terms, k=10, driver_path=True))
        b = _rows(B.topk_segments(spark, d, terms, k=10, driver_path=False))
        assert a == b, terms
        assert not {r[1] for r in a} & deleted, terms
    # a sorted-array scope: the kernel's scope mask in both placements
    ids = sorted(r["doc_id"] for r in spark.read.parquet(f"{d}/doc_meta").select("doc_id").collect())
    scope = np.asarray(ids[::2], dtype=np.int64)
    terms = ["import", "return", "class"]
    a = _rows(B.topk_segments(spark, d, terms, k=10, scope=scope, driver_path=True))
    b = _rows(B.topk_segments(spark, d, terms, k=10, scope=scope, driver_path=False))
    assert a == b and len(a) == 10
    assert {r[1] for r in a} <= set(scope.tolist()) and not {r[1] for r in a} & deleted


def test_driver_rounding_is_spark_half_up(spark):
    """The driver placements round as F.round does: HALF_UP on the decimal
    repr. np.round rounds the binary value half-to-even and disagrees on
    three of these half-quanta (2.0000025 → 2.000002, 5e-07 → 0.0,
    3.1415925 → 3.141592). The search-after cursor compares the HALF_UP
    scores."""
    vals = [2.0000025, 5e-07, 3.1415925, 1.0000015, 0.1234565]
    want = [
        r["s"]
        for r in spark.createDataFrame(pa.table({"i": list(range(5)), "v": vals}))
        .select("i", F.round("v", 6).alias("s"))
        .orderBy("i")
        .collect()
    ]
    assert [float(np.round(v, 6)) for v in vals] != want
    docs = np.arange(len(vals), dtype=np.int64)
    got = {r["doc_id"]: r["score"] for r in B._topk_frame(spark, docs, np.asarray(vals), k=5).collect()}
    assert [got[i] for i in range(len(vals))] == want
    # strictly after (2.000003, doc 0): doc 0 itself is out, and so is
    # 3.141593; np.round's 2.000002 would have let doc 0 back in
    after = B._topk_frame(spark, docs, np.asarray(vals), k=5, after=(want[0], 0)).collect()
    assert [r["doc_id"] for r in after] == [3, 4, 1]


def test_batch_theta_reads_small_terms_on_the_driver(spark, store, monkeypatch):
    """The tombstones void the stored kth_tfnorm, so θ is computed. When
    the batch's θ terms hold ≤ DRIVER_TOPK_MAX_DF postings it is read on
    the driver: no _distributed_term_kth job, and the pruned batch equals
    prune=False. With the gate at 0 the same batch runs the distributed
    job and still matches."""
    d, deleted, _ = store
    queries = {1: ["def", "import"], 2: ["return", "class"]}
    kth_calls, thetas = [], []
    orig_kth, orig_thetas = B._distributed_term_kth, B._batch_thetas

    def spy_kth(*a, **kw):
        kth_calls.append(a[2])
        return orig_kth(*a, **kw)

    def spy_thetas(*a, **kw):
        thetas.append(orig_thetas(*a, **kw))
        return thetas[-1]

    monkeypatch.setattr(B, "_distributed_term_kth", spy_kth)
    monkeypatch.setattr(B, "_batch_thetas", spy_thetas)

    def batch(prune):
        return sorted(_rows(B.topk_segments_multi(spark, d, queries, k=3, prune=prune)))

    exact = batch(False)
    assert exact and not {r[2] for r in exact} & deleted
    assert batch(True) == exact
    assert not kth_calls
    assert thetas and set(thetas[-1]) == {1, 2} and all(v > 0 for v in thetas[-1].values())
    monkeypatch.setattr(B, "DRIVER_TOPK_MAX_DF", 0)
    assert batch(True) == exact
    assert kth_calls


def test_doc_meta_read_runs_no_job(spark, store):
    d, _, _ = store
    meta, n = _jobs_of(spark, lambda: B._doc_meta(spark, d))
    assert n == 0
    # base build and streamed delta part files: the schema Spark infers
    assert meta.schema == spark.read.parquet(f"{d}/doc_meta").schema
    assert meta.count() == spark.read.parquet(f"{d}/doc_meta").count()


def test_positional_driver_path_equals_spark_path(spark, store, monkeypatch):
    """phrase, multiphrase, spanfirst, spannear and NEAR: the driver path
    and the Spark path (forced by a zero gate) return the same rows and
    scores, and never a deleted doc."""
    d, deleted, phrases = store
    two = [p for p in phrases if len(p) == 2][0]
    calls = [
        *[(PH.phrase_topk_indexed, (p,), {}) for p in phrases],
        (PH.multiphrase_topk_indexed, ([two[0], [two[1], "def", "return"]],), {}),
        (PH.spanfirst_topk_indexed, (two, 40), {}),
        (PH.spanfirst_topk_indexed, (["def", "return"], 60), {"slop": 8}),
        (PH.spannear_topk_indexed, (["def", "return"], 6), {}),
        (PH.spannear_topk_indexed, (two, 0), {}),
        (PH.near_topk_indexed, (["def", "return"], 6), {}),
        (PH.near_topk_indexed, (phrases[0], 2), {}),
    ]

    def run_all():
        return [_rows(fn(spark, d, *args, k=10, **kw)) for fn, args, kw in calls]

    driver, n = _jobs_of(spark, run_all)
    assert n == 0
    monkeypatch.setattr(PH, "DRIVER_TOPK_MAX_DF", 0)
    via_spark = run_all()
    assert driver == via_spark
    assert all(driver), "every query should match"
    assert not {r[1] for rows in driver for r in rows} & deleted


def test_boolean_driver_path_equals_spark_path(spark, store, monkeypatch):
    """Boolean shapes on the driver placement and on the Spark placement
    (forced by a zero gate) return the same rows and scores, and never a
    deleted doc: +MUST SHOULD -NOT, msm, dismax with a tie-breaker, a
    ^= const clause, a phrase MUST_NOT, a NEAR SHOULD, an absent MUST
    term and a SHOULD-only query of unknown words."""
    d, deleted, phrases = store
    two = " ".join([p for p in phrases if len(p) == 2][0])
    calls = [
        ("+def import -return", {}),
        ("def import return class", {"min_should_match": 2}),
        ("+def import return class", {"combine": "dismax", "tie_breaker": 0.3}),
        ("+def^=2 import return", {}),
        (f'def import -"{two}"', {}),
        ('+import "def return"~6', {}),
        ("+def +zzz_absent import", {}),
        ("zzz_absent zzz_nowhere", {}),
    ]

    def run_all():
        return [_rows(BO.boolean_topk_query(spark, d, q, k=10, **kw)) for q, kw in calls]

    driver, n = _jobs_of(spark, run_all)
    assert n == 0
    monkeypatch.setattr(BO, "DRIVER_TOPK_MAX_DF", 0)
    via_spark, n = _jobs_of(spark, run_all)
    assert n > 0
    assert driver == via_spark
    assert all(driver[:6]), "every query with indexed terms should match"
    assert driver[6:] == [[], []]
    assert not {r[1] for rows in driver for r in rows} & deleted


def test_boolean_fold_groups_are_bounded_on_hashed_ids(spark, store):
    """The store's doc ids are hashed (pmod(xxhash64, 2^61), as the CLI
    assigns them). The Spark placement's fold still groups the partial
    rows into at most max(4 × parallelism, n_docs >> 18) buckets, not one
    per matched doc."""
    d, _, _ = store
    sink: list = []
    BO._boolean_scored(spark, d, BO.parse_query("def import return"), _partials_out=sink)
    rows = sink[0].select("bucket", "doc_id").distinct().collect()
    bound = 4 * spark.sparkContext.defaultParallelism
    assert len({r["doc_id"] for r in rows}) > bound
    assert len({r["bucket"] for r in rows}) <= bound


def test_segments_schema_is_the_on_disk_schema(spark, store):
    d, _, _ = store
    files = sorted(glob.glob(f"{d}/segments/partition_id=*/*.parquet"))
    assert files
    on_disk = StructType(
        from_arrow_schema(pq.read_schema(files[0])).fields
        + [StructField("partition_id", IntegerType())]
    )
    assert schemas.SEGMENTS == on_disk
    assert schemas.SEGMENTS == spark.read.parquet(f"{d}/segments").schema
