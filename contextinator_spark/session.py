"""SparkSession builder tuned for the engine.

Single place where execution-level knobs live so tests, bench.py and the
driver entry all run the same configuration. Designed for a multi-executor
cluster (AQE, skew-join handling, Arrow batching); tested on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_SHUFFLE_PARTITIONS

# the directory holding the contextinator_spark package
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "contextinator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    driver/bench can rerun the identical job at two parallelism levels for
    the scaling-efficiency evidence (BASELINE.md).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_cores = int(cpus) if cpus.isdigit() else 32
    # shuffle partitions scale with core count (a 4N-executor cluster runs
    # 4N× the shuffle tasks); floor at the engine default so small runs
    # still get AQE-coalescible granularity
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            max(DEFAULT_SHUFFLE_PARTITIONS, 8 * n_cores),
        )
    )
    # heap pinned at 8g regardless of core count: measured on this engine,
    # a 32g heap made local[16] 2.6× SLOWER end-to-end (G1 humongous-object
    # churn from collect_list buffers growing to fill execution memory
    # before spilling); the small heap forces earlier, cheaper spills
    default_mem = "8g"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting backstop (our salting
        # is primary and deterministic; AQE catches what sampling missed).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # this engine's reduce stages are compute-heavy per shuffle byte
        # (posting-list agg + encode UDFs): the 64MB default advisory made
        # AQE coalesce the slice build to ~12 fat tasks whose collect_list
        # state blew the heap (17s GC per stage). 8MB keeps reduce tasks
        # small, bounded, and numerous enough to fill every core.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4m")
        # Arrow: all pandas UDFs ride vectorized batches. Batch sizing is
        # the single biggest scaling lever measured on this engine: at 512
        # records (~150KB of content) the per-batch framing overhead made a
        # no-op mapInPandas over 2M docs cost 8s at 2 cores and scale at
        # 0.41 efficiency; at 8192 records the same pass is 2.0s/1.3s.
        # The BYTES cap (Spark 4 maxBytesPerBatch) is what bounds the
        # slice-merge stage, whose rows carry whole posting arrays (up to
        # ~2MB/row) — records alone would let those batches reach GBs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "32m")
        # parquet scan sizing for ~100TB inputs: bigger splits, fewer tasks
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # segment-store rows carry posting blobs up to ~2MB; at the default
        # 4096-row vectorized batch, 32 concurrent scan tasks over a
        # blob-dense partition each try to reserve ~90MB+ contiguous
        # column buffers and abort the read under the 8g heap (observed
        # once at the 64M-doc store build post-phase). 1024 bounds the
        # typical buffer at ~22MB/task with scan amortization intact
        # (256 measured a ~10% query-p95 cost; 1024 none).
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Python workers must import the engine whatever the driver's cwd;
        # Spark merges this with the workers' inherited PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT)
    )
    # shuffle/spill on tmpfs when available: the sandbox's /tmp sits on a
    # virtualized disk with bursty hypervisor IO (measured 2-3× run-to-run
    # swings); a real cluster node has local SSD scratch
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "",
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
