"""The workloads. Each builds its inputs from the seed, runs one op at a
time through the library's public functions, and checks the op's output;
a failed check raises ``CheckFailed``.

``FULL`` sizes were chosen so that 22 runs of each listed workload, plus
4, finish within 3,420 s on a 4-core machine (see README.md); ``TINY`` is
for the self-test.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataval_spark import fixtures, manifest
from dataval_spark.operators import corpus as corpus_ops
from dataval_spark.sources.snapshots import SnapshotTable
from dataval_spark.suite import transcript_suite

from inputs import documents

FULL = {
    "scan_convs": 100_000,
    "base_convs": 5_000,
    "batch_convs": 5_000,
    "n_docs": 500,
    "warm_docs": 50,
}
TINY = {
    "scan_convs": 300,
    "base_convs": 300,
    "batch_convs": 300,
    "n_docs": 500,
    "warm_docs": 50,
}
N_PARTS = 8


class CheckFailed(AssertionError):
    """An op's output is wrong."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers: no Spark job."""
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    """An op is ``prepare`` (untimed; returns ``ctx`` with the op's input
    ``rows``), ``run`` (timed; fills ``ctx`` with ``op_s`` and phase
    timings) and ``verify``. ``span(name)`` marks a phase of ``run`` that
    is not a library call; a traced run replaces it. A run times at least
    ``min_ops`` ops."""

    min_ops = 1

    @staticmethod
    def span(name: str):
        return nullcontext()

    def op(self, k: int) -> dict:
        ctx = self.prepare(k)
        self.run(ctx)
        self.verify(ctx)
        return ctx


class Scan(Workload):
    """One ``transcript_suite().run(df)`` over a seeded parquet table."""

    name = "scan"

    def __init__(self, spark, root: str, seed: int, sizes: dict):
        self.spark, self.root, self.seed, self.sizes = spark, root, seed, sizes
        self.path = f"{root}/scan_input"
        self.n_rows = 0

    def build(self) -> None:
        fixtures.transcripts(
            self.spark, n_convs=self.sizes["scan_convs"], seed=self.seed,
            n_parts=N_PARTS, with_defects=True,
        ).write.parquet(self.path)
        self.n_rows = parquet_rows(self.path)

    def warm(self) -> None:
        self.op(0)

    def prepare(self, k: int) -> dict:
        return {"k": k, "rows": self.n_rows}

    def run(self, ctx: dict) -> None:
        t0 = time.perf_counter()
        res = transcript_suite().run(self.spark.read.parquet(self.path))
        ctx.update(op_s=time.perf_counter() - t0, res=res)

    def verify(self, ctx: dict) -> None:
        res = ctx["res"]
        parts = {m["part"]: m for m in res.partition_metrics}
        check(res.summary()["n_rows"] == self.n_rows,
              f"n_rows {res.summary()['n_rows']} != input {self.n_rows}")
        check(parts[fixtures.CLEAN_PART]["passed"], "clean part 0 did not pass")
        drift = parts[fixtures.DRIFT_PART]
        check(drift["drifted"] and not drift["passed"],
              "drifted part 1 was not flagged as drifted and failed")


class Increments(Workload):
    """A ``part``-partitioned SnapshotTable grows by one seeded batch per
    op; each op appends it and validates the increment."""

    name = "increments"
    # two short ops rather than one long one: single 20k-conversation ops
    # spread 26% over ten seeds. A third op steadied the median, but put
    # 22 runs of each workload plus 4 at about 91% of the 3,420 s budget
    min_ops = 2

    def __init__(self, spark, root: str, seed: int, sizes: dict):
        self.spark, self.root, self.seed, self.sizes = spark, root, seed, sizes
        self.suite = transcript_suite()
        self.table_root = f"{root}/table"
        self.manifest = f"{root}/manifest"
        self.verdicts = f"{root}/verdicts"
        self.batches = f"{root}/batches"
        self.batch = 0

    def _write_batch(self, k: int) -> tuple[str, int, int]:
        """Batch k as parquet: its own seed and conv_id range; batch 0 is
        the table's initial content. Returns (path, rows, bytes)."""
        n = self.sizes["base_convs"] if k == 0 else self.sizes["batch_convs"]
        path = f"{self.batches}/b{k}"
        df = fixtures.transcripts(
            self.spark, n_convs=n, seed=self.seed * 7919 + k,
            n_parts=N_PARTS, with_defects=True,
        )
        # conv ids of batch k start at k * batch_convs
        idx = F.substring("conv_id", 6, 12).cast("long") + F.lit(k * self.sizes["batch_convs"])
        df.withColumn("conv_id", F.format_string("conv-%012d", idx)).write.parquet(path)
        return path, parquet_rows(path), tree_bytes(path, ".parquet")[1]

    def build(self) -> None:
        self.base, _, _ = self._write_batch(0)
        self.batch = 1

    def warm(self) -> None:
        """Create the table from batch 0 and validate it once: the first
        validation covers the whole table, every timed op a delta."""
        SnapshotTable(self.spark, self.table_root).append(
            self.spark.read.parquet(self.base), partition_by=["part"]
        )
        res = manifest.validate_snapshot_increments(
            self.spark, self.table_root, self.suite, self.manifest,
            verdicts_path=self.verdicts,
        )
        check(res is not None, "first validation returned None")
        check(self._sentinel_mode() == "full", "first validation was not full")

    def _sentinel_mode(self) -> str:
        """Mode ("full" or "delta") of the latest completion sentinel."""
        t = pq.read_table(self.manifest, columns=["part", "metrics_json", "committed_at"])
        rows = [r for r in t.to_pylist() if r["part"] == manifest.COMPLETE_PART]
        last = max(rows, key=lambda r: r["committed_at"])
        return json.loads(last["metrics_json"])["mode"]

    def prepare(self, k: int) -> dict:
        path, n_rows, src_bytes = self._write_batch(self.batch)
        self.batch += 1
        return {"k": k, "path": path, "rows": n_rows, "src_bytes": src_bytes}

    def run(self, ctx: dict) -> None:
        table = SnapshotTable(self.spark, self.table_root)
        t0 = time.perf_counter()
        table.append(self.spark.read.parquet(ctx["path"]))
        t1 = time.perf_counter()
        res = manifest.validate_snapshot_increments(
            self.spark, self.table_root, self.suite, self.manifest,
            verdicts_path=self.verdicts,
        )
        t2 = time.perf_counter()
        ctx.update(op_s=t2 - t0, append_s=t1 - t0, validate_s=t2 - t1, res=res)

    def verify(self, ctx: dict) -> None:
        res = ctx["res"]
        check(res is not None, "validation of a new increment returned None")
        got = res.summary()["n_rows"]
        check(got == ctx["rows"], f"validated n_rows {got} != batch rows {ctx['rows']}")
        check(self._sentinel_mode() == "delta", "increment was not validated as a delta")
        again = manifest.validate_snapshot_increments(
            self.spark, self.table_root, self.suite, self.manifest,
            verdicts_path=self.verdicts,
        )
        check(again is None, "an immediate re-validation did not return None")
        shutil.rmtree(ctx["path"])


DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()),
    ("lang", pa.string()), ("source", pa.string()),
])


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    pq.write_table(table, f"{path}/part-0.parquet")


class Corpus(Workload):
    """The CLI ``--prepare-corpus`` shape: prepare, write the packed
    output partitioned by lang, then compute the funnel."""

    name = "corpus"
    # op times still fall over the first few ops of a JVM as it compiles
    # hot code; the median of two warm ops is steadier than one
    min_ops = 2

    def __init__(self, spark, root: str, seed: int, sizes: dict):
        self.spark, self.root, self.seed, self.sizes = spark, root, seed, sizes
        self.docs_path = f"{root}/documents"
        self.warm_path = f"{root}/warm_documents"
        self.out = f"{root}/out"
        self.funnel = None

    def build(self) -> None:
        # written with pyarrow: the op's first Spark job is the op's own
        for path, n in ((self.docs_path, self.sizes["n_docs"]),
                        (self.warm_path, self.sizes["warm_docs"])):
            write_parquet(pa.Table.from_pylist(documents(n, self.seed), DOC_SCHEMA), path)
        self.n_docs = self.sizes["n_docs"]

    def _prepare(self, path: str) -> dict:
        return corpus_ops.prepare_corpus(
            self.spark.read.parquet(path), None, min_tokens=5,
            strip_boilerplate=True, paragraph_dedup=True, remove_spans=True,
            split_long=True, window_tokens=512, pack_shards=4,
        )

    def warm(self) -> None:
        """The op without ``stats()`` on a small corpus of its own. The
        first op of a JVM runs about twice as long as later ones, mostly
        compiling code whose cost does not grow with the documents."""
        res = self._prepare(self.warm_path)
        out = f"{self.out}/warm"
        res["packed"].write.mode("overwrite").partitionBy("lang").parquet(out)
        res["release"]()
        check(parquet_rows(out) > 0, "warm-up op packed no rows")
        shutil.rmtree(out)

    def prepare(self, k: int) -> dict:
        return {"k": k, "rows": self.n_docs}

    def run(self, ctx: dict) -> None:
        out = ctx["out"] = f"{self.out}/op{ctx['k']}"
        t0 = time.perf_counter()
        res = self._prepare(self.docs_path)
        t1 = time.perf_counter()
        with self.span("corpus.write"):
            res["packed"].write.mode("overwrite").partitionBy("lang").parquet(out)
        t2 = time.perf_counter()
        with self.span("corpus.stats"):
            ctx["funnel"] = res["stats"]()
        t3 = time.perf_counter()
        res["release"]()
        ctx.update(op_s=t3 - t0, prepare_s=t1 - t0, write_s=t2 - t1,
                   stats_s=t3 - t2)

    def verify(self, ctx: dict) -> None:
        try:
            funnel = ctx["funnel"]
            chain = ["n_input", "n_quality_pass", "n_exact_deduped",
                     "n_near_deduped", "n_decontaminated"]
            counts = [funnel[c] for c in chain]
            check(counts[0] == ctx["rows"], f"n_input {counts[0]} != {ctx['rows']}")
            check(all(a >= b for a, b in zip(counts, counts[1:])),
                  f"funnel increases: {counts}")
            self.funnel = self.funnel or funnel
            check(funnel == self.funnel, f"funnel {funnel} != first op's {self.funnel}")
            check(parquet_rows(ctx["out"]) > 0, "no packed rows")
        finally:
            shutil.rmtree(ctx["out"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (Scan, Increments, Corpus)}
