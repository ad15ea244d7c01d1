#!/usr/bin/env python3
"""Benchmark of the clickbom_spark engine: one workload per run.

    python3 perfbench/run.py --workload merge_bulk --seed 1 --seconds 10 --trace 0

Load is one client in a closed loop on ``local[<cpus>]``, where cpus is
the process's CPU affinity.  A run makes its inputs and their expected
outputs, sets up (engine imports, session with a probe job, one untimed
warm-up pass over the real inputs), then times ops until ``--seconds``
of op time have passed, the current pass over the workload's op list is
complete and the workload's ``min_passes`` are done.  Every op's output
is checked against a reference computed before the set-up; an op that
raises or returns a wrong result counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports per-layer metrics from a traced phase
that follows an untraced one, and writes the spans as JSON.  See
perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, NoTrace  # noqa: E402

HEAP = "2g"


def pin_environment(work: str) -> int:
    """Size Spark to the CPUs this process may use and keep every
    scratch file inside the work directory.  Must run before pyspark is
    imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_MASTER"] = f"local[{cpus}]"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Also reaches the launcher JVM that spark-submit starts first.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap size keeps the JVM's resident set from depending
        # on when the collector chose to grow the heap.
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """Runs ops of one workload, timing and checking each."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.next_id = 0

    def op(self, spark, op, tr_factory=None) -> tuple[float, bool]:
        """Run and check one op; return (seconds, ok).  Only the op is
        timed, not the check.  Outputs stay on disk until the run ends, so
        no file deletion competes with a timed op."""
        op_id = self.next_id
        self.next_id += 1
        self.attempted += 1
        tr = tr_factory(op_id) if tr_factory else NoTrace()
        t0 = time.perf_counter()
        dt = None
        try:
            with tr.op_scope():
                out = self.w.run(spark, op, op_id, tr)
            dt = time.perf_counter() - t0
            ok = self.w.check(op, out)
        except Exception as e:  # a failed op is counted, and the loop goes on
            print(f"op {op_id} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if dt is None:
            dt = time.perf_counter() - t0
        if not ok:
            print(f"op {op_id} failed its check", file=sys.stderr)
            self.failed += 1
        return dt, ok

    def loop(self, spark, seconds: float, tr_factory=None, min_passes: int = 1):
        """Closed loop over the op list until ``seconds`` of op time have
        passed in at least ``min_passes`` complete passes, or three times
        that in wall time.  Returns per-op records and per-pass times."""
        max_wall = 3 * seconds + 30
        ops = self.w.ops()
        records, passes = [], []
        op_time = pass_time = 0.0
        t_wall = time.perf_counter()
        i = 0
        while True:
            op = ops[i % len(ops)]
            dt, ok = self.op(spark, op, tr_factory)
            # Outputs a check recorded belong to this op only if it passed.
            out = getattr(self.w, "last_out", {}) if ok else {}
            records.append({"op": op, "s": dt, "ok": ok, **out})
            op_time += dt
            pass_time += dt
            i += 1
            if i % len(ops) == 0:
                passes.append(pass_time)
                pass_time = 0.0
                if (op_time >= seconds and len(passes) >= min_passes
                        or time.perf_counter() - t_wall > max_wall):
                    break
        return records, passes


def setup(work: str, cpus: int):
    """Create the session and run a probe job with a shuffle.  Returns
    the session and (total, create) seconds."""
    from pyspark.sql import functions as F

    from clickbom_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", shuffle_partitions=cpus, extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    rows = spark.range(10_000).groupBy((F.col("id") % 10).alias("k")).count().collect()
    if sorted(r["count"] for r in rows) != [1000] * 10:
        raise RuntimeError(f"setup probe returned {rows}")
    return spark, (time.perf_counter() - t0, t1 - t0)


def end_to_end(setup_s, passes, rss) -> dict:
    """The end-to-end metrics."""
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "rss_p90_mb": (rss.p90() / 2**20, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cpus = pin_environment(work)
        # The engine is imported after the environment is pinned; without
        # it there is nothing to measure and the run fails here.
        for module in WORKLOADS[args.workload].modules:
            importlib.import_module(module)

        from perfbench import layers
        from perfbench.chserver import ClickHouseStub
        from perfbench.trace import RssSampler

        imports_s = time.perf_counter() - T_START
        workload = WORKLOADS[args.workload]()
        workload.prepare(work, args.seed)  # inputs and references: not set-up
        runner = Runner(workload)
        with RssSampler() as rss, ClickHouseStub() as ch:
            workload.ch = ch
            spark, (session_s, create_s) = setup(work, cpus)
            # Untimed warm-up: one pass over the op list, checked.
            warmup_s = sum(runner.op(spark, op)[0] for op in workload.ops())
            setup_s = imports_s + session_s + warmup_s
            records, passes = runner.loop(spark, args.seconds, min_passes=workload.min_passes)
            if args.trace:
                traced = layers.traced_phase(runner, spark, args.seconds, work)
                stages = {"imports_s": imports_s, "create_s": create_s, "warmup_s": warmup_s}
                metrics = layers.per_layer(runner, traced, records, stages, cpus)
            else:
                metrics = end_to_end(setup_s, passes, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} cpus={cpus} "
          f"ops={len(records)} passes={len(passes)} setup_s={setup_s:.3f} "
          f"(imports {imports_s:.3f}, session {session_s:.3f}, warm-up {warmup_s:.3f})")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
