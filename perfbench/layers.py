"""Per-layer metrics: which library functions are traced, and how their
spans become the metrics a traced run prints.

Layers are named after the modules they time. A metric named ``*_s`` is
the wall time of the layer's outermost spans (their children included);
``*_self_s`` subtracts the children; ``*jobs``/``*tasks`` count the Spark
jobs and tasks started under the layer's spans and their children. Lazy
operators (``boilerplate``, ``paragraphs``, ``spans``, ``packing``) build
plans: their spans hold plan-building time and the jobs they start
eagerly; their deferred work runs in ``corpus.write`` and
``corpus.stats``. A layer that a workload never calls reads 0.

``PER_LAYER`` lists each metric with its unit, in output order.
"""

from __future__ import annotations

import statistics

from tracer import Tracer, self_time, subtree
from workloads import tree_bytes

# (name, unit); perfbench/README.md tables the end-to-end metric and
# workload each should move
PER_LAYER = [
    ("suite.run_s", "s"),
    ("suite.plan_s", "s"),
    ("suite.jobs", "count"),
    ("suite.tasks", "count"),
    ("constraints.drift_eval_s", "s"),
    ("snapshots.append_s", "s"),
    ("snapshots.append_jobs", "count"),
    ("snapshots.files_written", "count"),
    ("snapshots.bytes_written_per_input_byte", "ratio"),
    ("snapshots.metadata_bytes", "bytes"),
    ("snapshots.incremental_read_s", "s"),
    ("snapshots.files_opened", "count"),
    ("manifest.validate_increments_self_s", "s"),
    ("manifest.run_resumable_self_s", "s"),
    ("manifest.read_manifest_s", "s"),
    ("manifest.jobs", "count"),
    ("manifest.files", "count"),
    ("corpus.prepare_s", "s"),
    ("corpus.prepare_jobs", "count"),
    ("corpus.write_s", "s"),
    ("corpus.write_jobs", "count"),
    ("corpus.stats_s", "s"),
    ("corpus.stats_jobs", "count"),
    ("corpus.cache_pins_live", "count"),
    ("boilerplate.s", "s"),
    ("boilerplate.jobs", "count"),
    ("dedup.cache_swap_calls", "count"),
    ("dedup.cache_swap_jobs", "count"),
    ("dedup.salted_self_pairs_calls", "count"),
    ("dedup.salted_self_pairs_jobs", "count"),
    ("dedup.simhash_clusters_s", "s"),
    ("dedup.simhash_clusters_jobs", "count"),
    ("dedup.cc_jobs", "count"),
    ("paragraphs.s", "s"),
    ("paragraphs.jobs", "count"),
    ("spans.s", "s"),
    ("spans.jobs", "count"),
    ("packing.s", "s"),
    ("packing.jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks_failed", "count"),
    ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MiB"),
    ("tracing.op_s", "s"),
    ("tracing.overhead_s", "s"),
]


def _targets(tracer: Tracer) -> None:
    """Wrap the public functions each layer is timed by."""
    from dataval_spark import manifest, suite
    from dataval_spark.constraints import drift
    from dataval_spark.operators import (
        boilerplate, corpus, dedup, packing, paragraphs, spans,
    )
    from dataval_spark.sources import snapshots

    for m in ("run", "project", "enrich", "flag_rows", "partition_aggregate"):
        tracer.wrap(suite.Suite, m, f"suite.{m}")
    tracer.wrap(drift.Drift, "evaluate", "constraints.drift_evaluate")
    tracer.wrap(snapshots.SnapshotTable, "append", "snapshots.append")

    def files_opened(sp, df, args):
        sp["files_opened"] = len(df.inputFiles())

    tracer.wrap(snapshots.SnapshotTable, "incremental_read",
                "snapshots.incremental_read", after=files_opened)
    for f in ("validate_snapshot_increments", "run_resumable", "read_manifest"):
        tracer.wrap(manifest, f, f"manifest.{f}")
    tracer.wrap(corpus, "prepare_corpus", "corpus.prepare_corpus")
    tracer.wrap(boilerplate, "remove_boilerplate_lines", "boilerplate.remove_boilerplate_lines")
    for f in ("_cache_swap", "salted_self_pairs", "simhash_clusters", "connected_components"):
        tracer.wrap(dedup, f, f"dedup.{f}")
    tracer.wrap(paragraphs, "dedup_paragraphs", "paragraphs.dedup_paragraphs")
    tracer.wrap(spans, "remove_repeated_spans", "spans.remove_repeated_spans")
    # corpus.py binds pack_greedy at import; packing.split_long_docs is
    # imported at call time
    tracer.wrap(corpus, "pack_greedy", "packing.pack_greedy")
    tracer.wrap(packing, "split_long_docs", "packing.split_long_docs")


class TracedRunner:
    """Runs ops with spans on and turns each op's spans into metrics."""

    def __init__(self, spark):
        self.tracer = Tracer(spark)
        _targets(self.tracer)
        self.per_op: list[dict] = []

    def run_op(self, wl, ctx: dict) -> None:
        tr = self.tracer
        k = ctx["k"]
        table = getattr(wl, "table_root", None)
        before = None
        if table is not None:
            before = tree_bytes(f"{table}/data", ".parquet"), tree_bytes(f"{table}/meta")
        gc0, over0 = tr.gc_seconds(), tr.overhead_s
        tr.op, tr.enabled = k, True
        wl.span = tr.span  # the workload's own phases: write, stats
        try:
            with tr.span("op"):
                wl.run(ctx)
        finally:
            tr.enabled = False
        gc = tr.gc_seconds() - gc0
        tr.collect_spark_counts()
        m = op_metrics(tr.op_spans(k))
        m["jvm.gc_s"] = gc
        m["tracing.op_s"] = ctx["op_s"]
        m["tracing.overhead_s"] = tr.overhead_s - over0
        m["jvm.peak_rss_mb"] = tr.jvm_peak_rss_mb()
        m["corpus.cache_pins_live"] = tr.persistent_rdds() if wl.name == "corpus" else 0
        if before is not None:
            (f0, b0), (_, mb0) = before
            f1, b1 = tree_bytes(f"{table}/data", ".parquet")
            _, mb1 = tree_bytes(f"{table}/meta")
            m["snapshots.files_written"] = f1 - f0
            written = (b1 - b0) + (mb1 - mb0)
            m["snapshots.bytes_written_per_input_byte"] = written / ctx["src_bytes"]
            m["snapshots.metadata_bytes"] = mb1
            m["manifest.files"] = tree_bytes(wl.manifest, ".parquet")[0]
        self.per_op.append(m)


def op_metrics(spans: list[dict]) -> dict:
    """Per-layer metrics of one op, from its spans."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    ids = {s["id"]: s for s in spans}

    def outermost(name: str) -> list[dict]:
        out = []
        for s in by_name.get(name, []):
            p = ids.get(s["parent"])
            while p is not None and p["name"] != name:
                p = ids.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def dur(*names: str) -> float:
        return sum(s["end"] - s["start"] for n in names for s in outermost(n))

    def count(key: str, *names: str) -> int:
        return sum(
            c[key] for n in names for s in outermost(n) for c in subtree(spans, s)
        )

    def calls(name: str) -> int:
        return len(by_name.get(name, []))

    def self_s(name: str) -> float:
        return sum(
            self_time(s, [c for c in spans if c["parent"] == s["id"]])
            for s in by_name.get(name, [])
        )

    manifest_spans = [s for s in spans if s["name"].startswith("manifest.")]
    return {
        "suite.run_s": dur("suite.run"),
        "suite.plan_s": dur("suite.project", "suite.enrich", "suite.flag_rows",
                            "suite.partition_aggregate"),
        "suite.jobs": count("jobs", "suite.run"),
        "suite.tasks": count("tasks", "suite.run"),
        "constraints.drift_eval_s": dur("constraints.drift_evaluate"),
        "snapshots.append_s": dur("snapshots.append"),
        "snapshots.append_jobs": count("jobs", "snapshots.append"),
        "snapshots.files_written": 0,
        "snapshots.bytes_written_per_input_byte": 0.0,
        "snapshots.metadata_bytes": 0,
        "snapshots.incremental_read_s": dur("snapshots.incremental_read"),
        "snapshots.files_opened": sum(
            s.get("files_opened", 0) for s in by_name.get("snapshots.incremental_read", [])
        ),
        "manifest.validate_increments_self_s": self_s("manifest.validate_snapshot_increments"),
        "manifest.run_resumable_self_s": self_s("manifest.run_resumable"),
        "manifest.read_manifest_s": dur("manifest.read_manifest"),
        "manifest.jobs": sum(s["jobs"] for s in manifest_spans),
        "manifest.files": 0,
        "corpus.prepare_s": dur("corpus.prepare_corpus"),
        "corpus.prepare_jobs": count("jobs", "corpus.prepare_corpus"),
        "corpus.write_s": dur("corpus.write"),
        "corpus.write_jobs": count("jobs", "corpus.write"),
        "corpus.stats_s": dur("corpus.stats"),
        "corpus.stats_jobs": count("jobs", "corpus.stats"),
        "boilerplate.s": dur("boilerplate.remove_boilerplate_lines"),
        "boilerplate.jobs": count("jobs", "boilerplate.remove_boilerplate_lines"),
        "dedup.cache_swap_calls": calls("dedup._cache_swap"),
        "dedup.cache_swap_jobs": count("jobs", "dedup._cache_swap"),
        "dedup.salted_self_pairs_calls": calls("dedup.salted_self_pairs"),
        "dedup.salted_self_pairs_jobs": count("jobs", "dedup.salted_self_pairs"),
        "dedup.simhash_clusters_s": dur("dedup.simhash_clusters"),
        "dedup.simhash_clusters_jobs": count("jobs", "dedup.simhash_clusters"),
        "dedup.cc_jobs": count("jobs", "dedup.connected_components"),
        "paragraphs.s": dur("paragraphs.dedup_paragraphs"),
        "paragraphs.jobs": count("jobs", "paragraphs.dedup_paragraphs"),
        "spans.s": dur("spans.remove_repeated_spans"),
        "spans.jobs": count("jobs", "spans.remove_repeated_spans"),
        "packing.s": dur("packing.pack_greedy", "packing.split_long_docs"),
        "packing.jobs": count("jobs", "packing.pack_greedy", "packing.split_long_docs"),
        "spark.jobs": count("jobs", "op"),
        "spark.stages": count("stages", "op"),
        "spark.tasks_failed": count("tasks_failed", "op"),
    }


def layer_metrics(runner: TracedRunner) -> dict:
    """Median of each metric over the traced ops of the run."""
    return {
        name: {
            "value": statistics.median(m[name] for m in runner.per_op) if runner.per_op else 0.0,
            "unit": unit,
        }
        for name, unit in PER_LAYER
    }
