"""The engine's Spark session and the spans around every engine call."""

from __future__ import annotations

import os
import subprocess

from perfbench import system
from perfbench.trace import SESSION_SPAN, Tracer


def dir_bytes(*dirs: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for d in dirs
        for root, _dirs, files in os.walk(d)
        for fn in files
    )


class Harness:
    """Starts the engine's session (core count and Spark local dir come
    from the SPARK_GRAFT_* environment) with the JVM's temp files, its GC
    log and the event log under `scratch`, and wraps each public engine
    call in a span on `tracer`."""

    def __init__(self, scratch: str) -> None:
        self.event_log_dir = os.path.join(scratch, "eventlog")
        self.gc_log = os.path.join(scratch, "gc.log")
        self.tracer = Tracer()
        self.traced = False
        self.spark = None
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xlog:gc:file={self.gc_log}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self, traced: bool) -> None:
        """Start a session; `traced` switches Spark's event log on. A
        session started after stop_session() reuses the running JVM."""
        from contextinator_spark.session import get_spark

        self.traced = traced
        conf = dict(self.conf)
        # set both ways: the JVM keeps the first session's conf as defaults
        conf["spark.eventLog.enabled"] = "true" if traced else "false"
        if traced:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            # zstd is Spark 4's default codec; plain JSON needs no codec
            conf["spark.eventLog.compress"] = "false"
        with self.tracer.span(SESSION_SPAN):
            self.spark = get_spark("perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop the session (flushing its event log); the JVM keeps running."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process they
        started (the JVM and its Python workers) to end."""
        from pyspark import SparkContext

        pids = system.descendants(os.getpid())
        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        system.reap(pids)

    def call(self, name: str, fn, *args, request: str = "", **kw):
        """Run one public engine call, fn(*args, **kw), in a span. A returned
        DataFrame is collected inside the span, as (rank, doc_id, score) or
        (query_id, rank, doc_id, score) tuples; the build phases of a
        returned dict are kept on the span."""
        from pyspark.sql import DataFrame

        with self.tracer.span(name, request) as span:
            out = fn(*args, **kw)
            if isinstance(out, DataFrame):
                out = [tuple(r) for r in out.collect()]
        if isinstance(out, dict):
            phases = out.get("phases") or {}
            for key in ("meta", "sample", "slices", "dict_cat"):
                if f"{key}_sec" in phases:
                    span.extra[f"{key}_s"] = phases[f"{key}_sec"]
        return out, span
