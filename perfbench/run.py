"""Seeded, layered benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload latency_zipf --seed 1 --seconds 10 --trace 0

Runs one closed-loop, single-client workload (latency_zipf or
batch_uniform) against the engine's public functions on local[nproc],
checks every answer, and prints each metric with its unit. The last line
of standard output is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.

--trace 1 runs it with Spark's event log on and attributes Spark jobs and
tasks to the spans around the engine calls (per-layer numbers), then
replays the same timed rounds untraced in a new session on copies of the
stores; the difference between the two loops is the tracing overhead.

All scratch space (stores, Spark local dirs, JVM temp files, the GC log,
the event log) lives under .perfbench_tmp/ in the checkout and is removed
at exit; the run's spans and conditions are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "queries_per_s": "queries/s",
    "store_bytes_per_input_byte": "ratio",
    "peak_mem_mb": "MB",
}
OVERHEAD = "trace.overhead_frac"
REPLAY = ".replay"
# a run takes 50-75 s; one still going after this is stuck, and is
# stopped without a result rather than left to hang
DEADLINE_S = 170.0


class Run:
    """One workload in one JVM: set-up, the timed loop, the gate."""

    def __init__(self, workload: str, seed: int, scratch: str) -> None:
        from perfbench.harness import Harness
        from perfbench.workloads import WORKLOADS

        self.w = WORKLOADS[workload](seed, scratch)
        self.h = Harness(scratch)
        self.session_s = 0.0
        self.setup_s = 0.0
        self.executed = []
        self.n_rounds = 0
        self.attempted = 0
        self.failed = 0
        self.peak_mem = 0
        self.store_bytes = 0

    def loop(self, seconds: float | None = None, n_rounds: int | None = None) -> list:
        """Whole rounds until `seconds` have passed (and at least the
        workload's min_rounds), or exactly `n_rounds`; returns the
        operations issued."""
        executed = []
        with self.h.tracer.span("bench.timed", "timed"):
            start = time.perf_counter()
            for r, ops in enumerate(self.w.rounds):
                if r == n_rounds or (seconds is not None and r >= self.w.min_rounds
                                     and time.perf_counter() - start >= seconds):
                    break
                for i, op in enumerate(ops):
                    op.error = None
                    try:
                        self.w.run(self.h, op, request=f"r{r}.{i}")
                    except Exception:
                        op.error = traceback.format_exc()
                    executed.append(op)
                self.n_rounds = r + 1
        return executed

    def _count_failures(self, ops: list) -> None:
        for op in ops:
            if op.error is not None:
                self.failed += 1
                print(f"perfbench: {op.kind} failed: {op.error}", file=sys.stderr)

    def measure(self, seconds: float, traced: bool) -> None:
        """Set-up, the timed loop and the gate, in a session that is left
        running when traced (for replay) and shut down otherwise."""
        w, h = self.w, self.h
        t = time.perf_counter()
        h.start(traced)
        self.session_s = time.perf_counter() - t
        t = time.perf_counter()
        with h.tracer.span("bench.setup", "setup"):
            w.setup(h)
        self.setup_s = time.perf_counter() - t
        if traced:
            for d in w.store_dirs():
                shutil.copytree(d, d + REPLAY)
        self.executed = self.loop(seconds=seconds)
        with h.tracer.span("bench.gate", "gate"):
            w.gate()
        self._count_failures(self.executed)
        self.attempted = len(self.executed)
        self.store_bytes = w.store_bytes()

    def latencies(self) -> list[float]:
        """Wall times of the timed calls that answered, of the kinds the
        workload takes its median latency from."""
        return [op.wall for op in self.executed
                if op.error is None and op.kind in self.w.latency_kinds]

    def end_to_end(self) -> dict[str, float]:
        answered = [op for op in self.executed if op.error is None]
        return {
            "setup_s": self.session_s + self.setup_s,
            "latency_p50_s": statistics.median(self.latencies()),
            "queries_per_s": sum(op.n_queries for op in answered) / sum(op.wall for op in answered),
            "store_bytes_per_input_byte": self.store_bytes / self.w.input_bytes(),
            "peak_mem_mb": self.peak_mem / 2**20,
        }

    def trace_metrics(self) -> dict[str, float]:
        """Per-layer metrics from the event log of the traced session, and
        the tracing overhead: the traced loop's wall time against the same
        rounds replayed untraced, in a new session of the same JVM on
        copies of the stores taken before the loop."""
        from perfbench import trace

        h = self.h
        traced_wall = sum(op.wall for op in self.executed)
        h.stop_session()
        spans = list(h.tracer.spans)
        metrics = trace.per_layer(spans, trace.attribute(spans, trace.read_event_log(h.event_log_dir)))
        h.start(False)
        self.w.relocate(REPLAY)
        self.w.warm(h)
        replay = self.loop(n_rounds=self.n_rounds)
        self._count_failures(replay)
        self.attempted += len(replay)
        metrics[OVERHEAD] = traced_wall / sum(op.wall for op in replay) - 1.0
        return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["latency_zipf", "batch_uniform"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "contextinator_spark", "__init__.py")):
        print(f"perfbench: engine package contextinator_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    # the engine must import in Spark's Python workers too, from any cwd
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    from perfbench import system, trace

    scratch = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(system.nproc())
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "spark-local")
    conditions = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": system.nproc(), "loadavg_start": system.loadavg(),
    }
    ticks = system.cpu_ticks()

    def abort() -> None:
        print(f"perfbench: no result after {DEADLINE_S:.0f} s; stopping", file=sys.stderr)
        system.reap(system.descendants(os.getpid()), timeout_s=0.0)
        shutil.rmtree(scratch, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        run = Run(args.workload, args.seed, scratch)
        with system.WorkerPssPoller() as workers:
            try:
                run.measure(args.seconds, traced=bool(args.trace))
                if args.trace:
                    metrics = run.trace_metrics()
            finally:
                run.h.shutdown()
        if args.trace:
            units = trace.per_layer_units() | {OVERHEAD: "ratio"}
        else:
            # the GC log is complete once the JVM has exited
            run.peak_mem = workers.peak + system.gc_peak_after_bytes(run.h.gc_log)
            metrics = run.end_to_end()
            units = END_TO_END_UNITS
        watchdog.cancel()
        conditions["cpu_steal_pct"] = system.steal_pct(ticks, system.cpu_ticks())
        conditions["loadavg_end"] = system.loadavg()
        conditions["latency_samples"] = len(run.latencies())
        conditions["rounds"] = run.n_rounds
        conditions["ops"] = len(run.executed)

        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        run.h.tracer.dump(os.path.join(out_dir, f"{stem}-spans.json"))
        with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
            json.dump({"conditions": conditions, "metrics": metrics}, f, indent=1)

        print("conditions " + json.dumps(conditions))
        for name, value in metrics.items():
            print(f"{name} = {value:.6g} {units[name]}")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
        }))
        return 0
    finally:
        watchdog.cancel()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
