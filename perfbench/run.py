"""Benchmark entry point.

    python3 perfbench/run.py --workload increments|corpus|scan \
        --seed N --seconds S --trace 0|1

Builds the workload's inputs from the seed, warms up, then runs ops until
``--seconds`` have passed and the workload's minimum number of ops is
done, checking every op's output.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. In a traced run
every op is traced and the spans are written to ``.perfbench_traces/``.

Everything else the run writes, Spark's scratch space included, lives in
a fresh directory under ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Execution environment, pinned so that runs compare across machines.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "4g"  # well below the 15 GB of the reference machine


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["increments", "corpus", "scan"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(tmp: str) -> None:
    """Pin cores, heap and every scratch directory before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    for d in ("spark-local", "py-tmp", "java-tmp"):
        os.makedirs(os.path.join(tmp, d))


def start_spark(tmp: str):
    from dataval_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')} "
                f"-Dderby.system.home={os.path.join(tmp, 'derby')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end, also when a
    signal cut the connection to it and ``stop()`` fails."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)


def environment(spark, **extra) -> dict:
    jvm = spark._jvm
    return {
        "cpus": CPUS,
        "driver_memory": DRIVER_MEMORY,
        "heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        **extra,
    }


def median_with_failures(spent: list[float], ok: list[bool]) -> float:
    """Median op time. ``spent`` is each op's time (up to the exception
    for an op that raised); a failed op counts as the slowest time the run
    spent on any op, so a failure never lowers the reported time."""
    worst = max(spent)
    return statistics.median([t if good else worst for t, good in zip(spent, ok)])


def measure(spark, wl, seconds: float, trace_path: str | None,
            min_ops: int | None = None) -> dict:
    """Set ``wl`` up, run its ops (at least ``min_ops``, by default the
    workload's) and return the result object. With a ``trace_path`` every
    op is traced and the spans are written there."""
    from layers import TracedRunner, layer_metrics

    t0 = time.perf_counter()
    wl.build()
    t_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm()
    t_warm = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START
    print(f"perfbench setup: {setup_s:.2f}s (build {t_build:.2f}s, "
          f"warm-up {t_warm:.2f}s)", file=sys.stderr)

    runner = TracedRunner(spark) if trace_path else None
    min_ops = wl.min_ops if min_ops is None else min_ops
    spent: list[float] = []  # time each op ran, failed or not
    ok: list[bool] = []
    rows: list[int] = []
    try:
        t_begin = time.perf_counter()
        while len(ok) < min_ops or time.perf_counter() - t_begin < seconds:
            k = len(ok) + 1
            ctx = {"k": k}
            t_attempt = time.perf_counter()
            try:
                ctx = wl.prepare(k)
                # every op starts on a collected heap, so that garbage from
                # set-up or earlier ops is not collected inside this op
                spark._jvm.java.lang.System.gc()
                if runner is not None:
                    runner.run_op(wl, ctx)
                else:
                    wl.run(ctx)
                wl.verify(ctx)
                good = True
            except Exception:  # the op failed; the run goes on
                print(f"perfbench: op {k} failed", file=sys.stderr)
                traceback.print_exc()
                good = False
                # an op that raised before it was timed counts the whole
                # attempt, its untimed preparation included
                ctx.setdefault("op_s", time.perf_counter() - t_attempt)
            spent.append(ctx["op_s"])
            ok.append(good)
            if "rows" in ctx:
                rows.append(ctx["rows"])
            timings = {a: round(b, 3) for a, b in ctx.items() if isinstance(b, float)}
            print(f"perfbench op {k}: {'ok' if good else 'FAILED'} {timings}",
                  file=sys.stderr)
    finally:
        if runner is not None:
            runner.tracer.unwrap_all()

    failed = ok.count(False)
    out = {"correct": failed == 0, "attempted": len(ok), "failed": failed}
    if runner is None:
        op_s = median_with_failures(spent, ok)
        n_rows = statistics.median(rows) if rows else 0
        out["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_s": {"value": op_s, "unit": "s"},
            "rows_per_s": {"value": n_rows / op_s if op_s else 0.0, "unit": "1/s"},
        }
    else:
        out["metrics"] = layer_metrics(runner)
        runner.tracer.write(trace_path)
        print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
    return out


class Scratch:
    """A fresh directory under ``.perfbench_tmp/``, removed on exit."""

    def __enter__(self) -> str:
        self.path = os.path.join(
            REPO, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(self.path)
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still uses it


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "dataval_spark")):
        print(f"perfbench: no dataval_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from workloads import FULL, WORKLOADS

    with Scratch() as tmp:
        pin_environment(tmp)
        spark = start_spark(tmp)
        try:
            env = environment(spark, workload=args.workload, seed=args.seed,
                              seconds=args.seconds, trace=args.trace)
            print("perfbench env: " + json.dumps(env), flush=True)
            wl = WORKLOADS[args.workload](spark, os.path.join(tmp, "data"), args.seed, FULL)
            trace_path = None
            if args.trace:
                os.makedirs(os.path.join(REPO, ".perfbench_traces"), exist_ok=True)
                trace_path = os.path.join(
                    REPO, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"
                )
            out = measure(spark, wl, args.seconds, trace_path)
        finally:
            stop_spark(spark)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
