"""Self-test of the benchmark at tiny sizes, in one Spark session:

    python3 perfbench/selftest.py

Runs a 300-conversation ``scan`` op, two ``increments`` ops and one
500-document ``corpus`` op, all traced, so that every output check and
the trace writer run. Then runs ``scan`` with a wrong expected row count,
and with an op that raises, to show that a failed op is counted, the run
goes on, and the failed op's time is not lost.
Exits 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def main() -> int:
    from layers import PER_LAYER
    from workloads import TINY, WORKLOADS, Scan

    with open(os.path.join(bench.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER,
           "BENCHMARK.json per_layer != PER_LAYER")
    layer_names = [n for n, _ in PER_LAYER]
    e2e_names = {m["name"] for m in spec["end_to_end"]}

    t0 = time.perf_counter()
    with bench.Scratch() as tmp:
        bench.pin_environment(tmp)
        spark = bench.start_spark(tmp)
        try:
            for name, n_ops in (("scan", 1), ("increments", 2), ("corpus", 1)):
                wl = WORKLOADS[name](spark, f"{tmp}/{name}", 7, TINY)
                path = f"{tmp}/{name}.jsonl"
                out = bench.measure(spark, wl, 0, path, min_ops=n_ops)
                expect(out["correct"] and out["attempted"] == n_ops and out["failed"] == 0,
                       f"{name}: {({k: v for k, v in out.items() if k != 'metrics'})}")
                expect(list(out["metrics"]) == layer_names, f"{name}: per-layer names")
                with open(path) as f:
                    spans = [json.loads(line) for line in f]
                ops = [s for s in spans if s["name"] == "op"]
                expect(len(ops) == n_ops
                       and all(s["jobs"] > 0 and s["tasks"] > 0 for s in ops),
                       f"{name}: op spans {ops}")
                expect(all(s["self_s"] <= s["dur_s"] + 1e-9 for s in spans),
                       f"{name}: self time above duration")
                print(f"selftest {name}: ok, {len(spans)} spans", file=sys.stderr)

            class WrongRows(Scan):
                def build(self):
                    super().build()
                    self.n_rows += 1

                def warm(self):
                    pass

            out = bench.measure(spark, WrongRows(spark, f"{tmp}/wrong", 7, TINY), 0, None,
                                min_ops=2)
            expect(not out["correct"] and out["attempted"] == 2 and out["failed"] == 2,
                   f"failed checks were not counted: {out}")
            expect(set(out["metrics"]) == e2e_names, "end-to-end metric names")
            expect(all(m["value"] > 0 for m in out["metrics"].values()),
                   f"a run of failed ops reported a zero metric: {out}")

            class Raises(WrongRows):
                def run(self, ctx):
                    time.sleep(0.5)
                    raise RuntimeError("planted failure")

            out = bench.measure(spark, Raises(spark, f"{tmp}/raises", 7, TINY), 0, None,
                                min_ops=1)
            expect(out["failed"] == 1 and out["metrics"]["op_s"]["value"] >= 0.5,
                   f"an op that raised reported less time than it spent: {out}")
            print("selftest failure accounting: ok", file=sys.stderr)
        finally:
            bench.stop_spark(spark)
    print(f"selftest passed in {time.perf_counter() - t0:.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
