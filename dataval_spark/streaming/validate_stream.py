"""Structured-Streaming form of the validation suite.

The reference is strictly batch (SURVEY.md §2.8); its only incremental
behaviors are the resume anti-join and commit-batching. This module is
the engine's forward-looking streaming surface: the same row-flag
projection runs on a stream (stateless → identical semantics), and the
partition roll-up becomes a watermarked windowed aggregation.

Sequence constraints (gap / monotonic ts) are inherently stateful per
conversation; on a stream they run through ``transformWithStateInPandas``
/ ``applyInPandasWithState`` in production. Here we expose the stateless
subset (null / domain / envelope / cross-field / format checks) which
covers every per-row constraint that does not need neighbor turns —
late-arriving turns are handled by the watermark on ts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataval_spark.quality import DEFAULT_BITMASK
from dataval_spark.suite import Suite


def stateless_flags(suite: Suite, stream: DataFrame) -> DataFrame:
    """Apply every non-sequence constraint's flag to a streaming frame."""
    stateless = [c for c in suite.constraints if not c.needs_sequence]
    sub = Suite(
        stateless,
        default_mask=suite.default_mask,
        part_col=suite.part_col,
        reject_ratio_fail=suite.reject_ratio_fail,
        conv_col=suite.conv_col,
        order_col=suite.order_col,
        ts_col=suite.ts_col,
    )
    return sub.flag_rows(stream)


def stream_to_manifest(
    stream: DataFrame,
    suite: Suite,
    manifest_path: str,
    run_id: str,
    checkpoint_dir: str,
    verdicts_path: str | None = None,
):
    """Resumable streaming validation: every micro-batch runs the FULL
    suite (batch semantics within the batch, including the sequence
    window over the turns that arrived together) and appends one manifest
    row per (partition, batch) — the streaming face of the north rule's
    checkpointed lineage. Structured Streaming's checkpoint guarantees a
    restarted query skips already-committed batches, so input files are
    validated exactly once across restarts (asserted in
    tests/test_streaming.py); manifest rows are idempotent under
    micro-batch RE-execution too (crash after the write, before the
    checkpoint commit): each batch commits one manifest file named
    run_<key>_batch_<id>.parquet and a replay replaces it, so even
    sum-style manifest consumers never double-count. RESUME CONTRACT:
    restarting a crashed stream means the SAME run_id with the SAME
    checkpoint_dir — run_id is part of the file name (so
    concurrent/later runs with fresh checkpoints never clobber each
    other's rows), which also means a restart under a NEW run_id is a
    new run whose re-executed batches coexist with the old run's rows
    rather than replacing them.

    Returns the started StreamingQuery; caller owns awaitTermination/stop.
    """
    dt = dict(stream.dtypes).get(suite.part_col, "")
    if dt not in ("int", "bigint", "smallint", "tinyint"):
        # same fail-fast contract as run_resumable: the manifest stores
        # part as int — crashing inside foreachBatch after a batch's work
        # is done would be the worst place to discover it
        raise ValueError(
            f"stream_to_manifest requires an integer partition column; "
            f"{suite.part_col!r} is {dt!r}"
        )

    _process = manifest_batch_writer(suite, manifest_path, run_id, verdicts_path)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def manifest_batch_writer(
    suite: Suite,
    manifest_path: str,
    run_id: str,
    verdicts_path: str | None = None,
):
    """The foreachBatch callable behind stream_to_manifest, exposed so
    the crash-replay contract is testable at its own seam: Structured
    Streaming re-invokes this with the SAME batch_id when a crash lands
    between the write and the checkpoint commit, and the writer must be
    idempotent under that re-invocation."""
    import hashlib

    from dataval_spark.manifest import _commit_rows, _manifest_row, suite_hash

    shash = suite_hash(suite)
    # hashed: run ids contain '/'
    run_key = hashlib.sha1(run_id.encode()).hexdigest()[:12]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        dt = dict(batch_df.dtypes).get(suite.part_col, "")
        if dt not in ("int", "bigint", "smallint", "tinyint"):
            # the writer is a public seam (tests, custom foreachBatch
            # wiring) — fail BEFORE running the suite, not deep inside
            # int(m['part']) after the batch's work is done
            raise ValueError(
                f"manifest_batch_writer requires an integer partition "
                f"column; {suite.part_col!r} is {dt!r}"
            )
        result = suite.run(batch_df, persist=bool(verdicts_path))
        if not result.partition_metrics:
            result.unpersist()
            return
        spark = batch_df.sparkSession
        if verdicts_path:
            # (run, batch)-scoped directory, full overwrite: a
            # re-executed micro-batch (crash between this write and the
            # checkpoint commit) REPLACES its own verdicts instead of
            # appending a duplicate copy — idempotent without touching
            # other batches, and (like the manifest file below) a later
            # run whose fresh checkpoint restarts batch ids at 0 never
            # clobbers a previous run's verdicts
            # the scoping level is a key=value dir so the verdicts ROOT
            # stays one hive-readable dataset (run_batch + part become
            # partition columns): a non-key=value level above part=N
            # dirs breaks partition discovery for root reads. Clustered
            # by part: one file per part per output task, not per input
            # task.
            result.row_verdicts.hint("rebalance", "part").write.mode(
                "overwrite"
            ).partitionBy("part").parquet(f"{verdicts_path}/run_batch={run_key}_{batch_id}")
        result.unpersist()
        rows = [
            _manifest_row(f"{run_id}/batch={batch_id}", shash, m)
            for m in result.partition_metrics
        ]
        # one driver-written file named per (run, batch): a crash between
        # this commit and the checkpoint commit re-executes the batch on
        # restart, and the re-commit REPLACES the file — an append would
        # double-count n_rows for any consumer that sums manifest rows.
        # The run is part of the name, so a LATER streaming run whose
        # fresh checkpoint restarts batch ids at 0 replaces its own file,
        # never a previous run's (multiple run_ids in one manifest is a
        # supported layout — compare_runs, baseline_from_manifest).
        name = f"run_{run_key}_batch_{batch_id}"
        # the same batch committed by an older writer, as a directory of
        # that name, is replaced too
        legacy = spark._jvm.org.apache.hadoop.fs.Path(f"{manifest_path}/{name}")
        legacy.getFileSystem(spark._jsc.hadoopConfiguration()).delete(legacy, True)
        _commit_rows(spark, manifest_path, rows, name=f"{name}.parquet")

    return _process


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """In-stream exact dedup: drop replayed turns whose key was already
    seen within the watermark horizon — the streaming face of the batch
    Unique constraint / dedup_keep_first. State is bounded by the
    watermark (keys older than it are evicted), which is what makes this
    safe on an unbounded 10^12-turn stream; replays arriving later than
    the watermark are the batch suite's job."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_partition_verdicts(
    flagged: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    part_col: str = "part",
    mask: int = DEFAULT_BITMASK,
) -> DataFrame:
    """Per-(window, partition) running verdict counts with late-data
    tolerance — the streaming analog of the per-partition summary grid."""
    return (
        flagged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col(part_col))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("approved").cast("long")).alias("n_approved"),
            F.sum((~F.col("approved")).cast("long")).alias("n_rejected"),
        )
    )


def windowed_drift(
    stream: DataFrame,
    value_expr: Column,
    bins: list[float],
    baseline_hist: list[float],
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    psi_threshold: float = 0.25,
    ks_threshold: float = 0.30,
) -> DataFrame:
    """Streaming drift monitor: per-event-time-window PSI + binned-ECDF
    KS of ``value_expr``'s distribution against a FIXED baseline
    histogram (e.g. a blessed run's ``hist_*`` columns out of the
    manifest — manifest.baseline_from_manifest produces exactly this
    shape for the batch Drift constraint; same bin edges required).

    Execution shape: ONE watermarked windowed aggregation — state is
    nbins longs per open window, evicted by the watermark — and the
    PSI/KS fold over the nbins histogram columns is a plain column
    expression over the aggregated row (baseline enters as literals),
    so nothing leaves the JVM and late rows update their window until
    eviction. The VERDICT mirrors the batch Drift constraint end to end:
    _compare_hists' smoothing, the PSI-or-KS disjunction, AND
    evaluate()'s sample-size noise floors (E[PSI] under the null ~
    (B-1)(1/n_h+1/n_r); KS ~ 3*sqrt(1/n_h+1/n_r)) with n_h the window's
    own row count — so a window flagged here is what the batch suite
    would flag on the same rows, including small quiet windows not
    false-positiving on pure noise.

    Returns: (window, n_rows, psi, ks, drifted) — append a sink or feed
    windowed alerts downstream.
    """
    from dataval_spark.constraints.drift import (
        EPS,
        KS_FLOOR_COEF,
        PSI_FLOOR_COEF,
        bin_index_expr,
    )

    nbins = len(bins) - 1
    if len(baseline_hist) != nbins:
        raise ValueError(
            f"baseline_hist has {len(baseline_hist)} bins, edges imply {nbins}"
        )
    idx = bin_index_expr(value_expr, bins)

    agged = (
        stream.withColumn("_bin", idx)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum((F.col("_bin") == i).cast("long")).alias(f"_h{i}")
                for i in range(nbins)
            ],
        )
    )

    eps = EPS
    nh = F.lit(0.0)
    for i in range(nbins):
        nh = nh + F.col(f"_h{i}")
    nh = F.greatest(nh, F.lit(1.0))
    nr = max(sum(baseline_hist), 1.0)
    q = [max(x / nr, eps) for x in baseline_hist]

    psi = F.lit(0.0)
    ks = F.lit(0.0)
    cp = F.lit(0.0)
    cq = 0.0
    for i in range(nbins):
        p_i = F.greatest(F.col(f"_h{i}") / nh, F.lit(eps))
        psi = psi + (p_i - F.lit(q[i])) * F.log(p_i / F.lit(q[i]))
        cp = cp + p_i
        cq += q[i]
        ks = F.greatest(ks, F.abs(cp - F.lit(cq)))
    # batch evaluate()'s per-sample noise floors, with n_h as a column
    inv = F.lit(1.0) / nh + F.lit(1.0 / nr)
    psi_t = F.lit(psi_threshold) + F.lit(PSI_FLOOR_COEF * (nbins - 1)) * inv
    ks_t = F.greatest(F.lit(ks_threshold), F.lit(KS_FLOOR_COEF) * F.sqrt(inv))
    return agged.select(
        "window",
        "n_rows",
        F.round(psi, 6).alias("psi"),
        F.round(ks, 6).alias("ks"),
        ((psi > psi_t) | (ks > ks_t)).alias("drifted"),
    )
