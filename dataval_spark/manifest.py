"""Per-partition lineage manifest + resumable runs.

Analog of the reference's release-manifest resume loop: re-runs anti-join
away already-processed work and report "Nothing to process"
(/root/reference/run_package_release.py:262-268,196-198), with incremental
commits (:283-317) and a settings-consistency guard (:229-236).

Here the unit of resumable work is a verdict partition (``part``): after
each partition group is validated, one manifest row
``(run_id, suite_hash, part, n_rows, n_approved, passed, metrics_json)``
is appended. A resumed run with the same (run_id, suite_hash) skips
partitions already present; a different suite_hash for the same run_id is
rejected (settings guard).

Storage is a directory of Parquet files, one per commit. A commit is a
few hundred bytes of metadata, so the driver writes it itself, with no
Spark job (Delta Lake's log records, VLDB 2020): pyarrow builds the file,
the Hadoop FileSystem writes it under a ``_``-prefixed temp name that no
reader lists, and a rename publishes it. A crash mid-commit leaves
nothing visible, and every commit is one whole file (``_commit_rows``).
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataval_spark.suite import Suite, ValidationResult

MANIFEST_SCHEMA = (
    "run_id string, suite_hash string, part int, n_rows long, "
    "n_approved long, n_rejected long, passed boolean, metrics_json string, "
    "input_fp string, committed_at double"
)


@lru_cache(maxsize=1)
def _arrow_schema():
    """MANIFEST_SCHEMA as the Arrow schema of driver-written files (needs
    a live session: Spark parses the DDL)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(MANIFEST_SCHEMA))


def _manifest_row(
    run_id: str, shash: str, m: dict, input_fp: str = "", metrics: dict | None = None
) -> dict:
    """One manifest row from a partition-metrics dict ``m``; its scalar
    entries are the row's metrics_json unless ``metrics`` is given."""
    if metrics is None:
        metrics = {k: v for k, v in m.items() if isinstance(v, (int, float, bool, str))}
    return {
        "run_id": run_id,
        "suite_hash": shash,
        "part": int(m["part"]),
        "n_rows": int(m["n_rows"]),
        "n_approved": int(m["n_approved"]),
        "n_rejected": int(m["n_rejected"]),
        "passed": bool(m["passed"]),
        "metrics_json": json.dumps(metrics, default=str),
        "input_fp": input_fp,
        "committed_at": time.time(),
    }


def _commit_rows(
    spark: SparkSession, manifest_path: str, rows: list[dict], name: str | None = None
) -> None:
    """Commit ``rows`` to the manifest as ONE parquet file written from
    the driver — no Spark job. The bytes go through the Hadoop
    FileSystem (s3a://, hdfs:// and local alike) to a ``_tmp_`` name,
    which neither Spark nor pyarrow lists, then a rename publishes them
    as ``part-<uuid>.parquet``. ``name`` fixes the file name instead: an
    existing file of that name is deleted, then the new one renamed in,
    so re-committing under the same name replaces its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema()), buf)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root = manifest_path.rstrip("/")
    fs = Path(root).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = Path(f"{root}/_tmp_{uuid.uuid4().hex}.parquet")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(buf.getvalue().to_pybytes()))
    finally:
        out.close()
    dest = Path(f"{root}/{name or f'part-{uuid.uuid4().hex}.parquet'}")
    if name:
        fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        fs.delete(tmp, False)
        raise IOError(f"could not commit manifest file {dest}")


def input_fingerprints(spark: SparkSession, input_path: str, part_col: str) -> dict[int, str]:
    """Per-partition input snapshot fingerprint from file METADATA only
    (sorted relative names + sizes under each ``part_col=<v>`` directory,
    sha1) — no data scan, so a resume probe is O(files) driver-side.
    Matches the reference manifest's per-file size+hash record
    (/root/reference/run_package_release.py:180-224); with an Iceberg
    catalog the snapshot id plays this role instead.

    Uses the Hadoop FileSystem API so s3a:// and hdfs:// work the same as
    local paths. Returns {} for a non-partitioned layout (fingerprint
    guard inert — documented degradation, not an error).

    A snapshot-committed table (sources/snapshots.SnapshotTable layout:
    a ``meta/`` directory of v<N>.json files) is detected automatically
    and fingerprinted from its CURRENT snapshot's own file list — the
    snapshot id plays the input-lineage role the north rule assigns it,
    with zero data-directory scans."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return {}
    if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{input_path.rstrip('/')}/meta")):
        from dataval_spark.sources.snapshots import SnapshotTable

        snap = SnapshotTable(spark, input_path)
        if snap.exists():
            return snap.input_fingerprints(part_col)
    by_part: dict[int, list] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(part_col + "=")):
            continue
        value = name.split("=", 1)[1]
        if value == "__HIVE_DEFAULT_PARTITION__":
            # partitionBy writes NULL-part rows here; the suite
            # aggregates them as quarantine partition -1 — fingerprint
            # them under the same key so changed NULL-part input is
            # re-validated like any other partition
            part = -1
        else:
            try:
                part = int(value)
            except ValueError:
                continue
        # accumulate per part: a real part=-1 dir AND the HIVE default
        # dir both map to key -1; their file lists must COMBINE into one
        # fingerprint, not overwrite each other
        entries = by_part.setdefault(part, [])
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            f = it.next()
            fname = f.getPath().getName()
            if fname.startswith("_") or fname.startswith("."):
                continue  # _SUCCESS, checksums — not data
            entries.append([value + "/" + fname, int(f.getLen())])
    return {
        part: hashlib.sha1(json.dumps(sorted(entries)).encode()).hexdigest()[:16]
        for part, entries in by_part.items()
    }


def suite_hash(suite: Suite) -> str:
    """Deterministic fingerprint of the full suite configuration —
    every constraint's parameters (bounds, thresholds, domains, bins),
    not just names — so resuming a run under changed settings is
    refused (the reference's settings-consistency guard,
    /root/reference/run_package_release.py:229-236)."""
    desc = json.dumps(
        [c.identity() for c in suite.constraints]
        + [{"mask": suite.default_mask, "reject_ratio": suite.reject_ratio_fail,
            "part_col": suite.part_col, "conv_col": suite.conv_col,
            "order_col": suite.order_col, "ts_col": suite.ts_col}],
        sort_keys=True,
    )
    return hashlib.sha1(desc.encode()).hexdigest()[:16]


def read_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """None only when the manifest genuinely does not exist yet. Works
    for remote paths (s3://, hdfs://) by asking Spark, not os.path;
    any OTHER read failure (permissions, corruption) propagates — a
    swallowed error here would silently disable resume AND the
    settings guard."""
    try:
        # recursiveFileLookup: commits are flat files, but streaming
        # writers before the driver-side commit wrote per-batch
        # SUBDIRECTORIES (run_<key>_batch_<id>/) — one read path covers
        # both layouts
        return (
            spark.read.schema(MANIFEST_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )
    except Exception as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def completed_parts(
    spark: SparkSession, path: str, run_id: str, shash: str,
    fps: dict[int, str] | None = None,
) -> set[int]:
    """Partitions already validated for this (run_id, suite). When input
    fingerprints are supplied, a partition only counts as done if the
    fingerprint recorded at validation time still matches the input NOW —
    a partition whose input files changed since it was marked done is
    returned as not-done and gets re-validated. Rows with no recorded
    fingerprint (pre-lineage manifests) are trusted as done."""
    m = read_manifest(spark, path)
    if m is None:
        return set()
    rows = (
        m.where(F.col("run_id") == run_id)
        .select("suite_hash", "part", "input_fp")
        .distinct()
        .collect()
    )
    return _done_parts(rows, path, run_id, shash, fps)


def _done_parts(
    rows: list, path: str, run_id: str, shash: str, fps: dict[int, str] | None = None
) -> set[int]:
    """completed_parts over ``run_id``'s collected manifest rows (fields
    suite_hash, part and, with ``fps``, input_fp): the settings guard,
    then the done set."""
    hashes = sorted({r.suite_hash for r in rows})
    if any(h != shash for h in hashes):
        raise ValueError(
            f"manifest {path} run_id={run_id} was written by a different suite "
            f"(suite_hash {hashes} != {shash}) — refusing to mix results"
        )
    if not fps:
        return {r.part for r in rows}
    return {
        r.part for r in rows
        if not r.input_fp or fps.get(r.part) == r.input_fp
    }


def baseline_from_manifest(
    spark: SparkSession, manifest_path: str, run_id: str, drift_name: str, nbins: int
) -> list[float]:
    """Pooled drift histogram from a previous (trusted) run's manifest —
    the production baseline for Drift(baseline=...). Pooled-rest
    comparison is blind to WHOLE-dataset drift (every partition shifts
    together); validating against a stored baseline from a known-good
    run catches it. Bin counts come from the metrics_json the suite
    already writes, so building a baseline costs zero extra scans."""
    m = read_manifest(spark, manifest_path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {manifest_path}")
    mine = _latest_frame(m.where(F.col("run_id") == run_id))
    if mine.isEmpty():
        raise ValueError(f"run_id {run_id!r} not in manifest {manifest_path}")
    # pooled per-bin sums as a grouped aggregation over the exploded
    # metrics — only nbins rows ever reach the driver, whatever the
    # partition count (same driver-light contract as anomaly_scan)
    prefix = f"hist_{drift_name}_"
    sums = {
        r.metric: r.total
        for r in (
            _numeric_metrics(mine)
            .where(F.col("metric").startswith(prefix))
            .groupBy("metric")
            .agg(F.sum("value").alias("total"))
            .collect()
        )
    }
    pooled = [float(sums.get(f"{prefix}{i}", 0.0)) for i in range(nbins)]
    found = bool(sums)
    if not found or sum(pooled) == 0:
        # an all-zero baseline would make Drift.evaluate's thresholds
        # astronomically lax — drift would silently pass everything
        raise ValueError(
            f"run {run_id!r} in {manifest_path} has no hist_{drift_name}_* "
            f"metrics (different drift name or bin count?) — refusing a "
            f"vacuous baseline"
        )
    return pooled


def _latest_per_part(rows: list) -> dict[int, dict]:
    """Latest manifest row per partition (re-validated parts append a
    fresh row; committed_at orders them)."""
    out: dict[int, dict] = {}
    for r in sorted(rows, key=lambda r: (r["committed_at"] or 0.0)):
        out[int(r["part"])] = r.asDict()
    return out


def _unset_at(col: str, unset: float):
    """`x or default` semantics of the driver-side helpers: NULL and 0.0
    committed_at are both "unset"."""
    c = F.col(col)
    return F.when(c.isNull() | (c == 0.0), F.lit(unset)).otherwise(c)


def _latest_frame(m: DataFrame) -> DataFrame:
    """_latest_per_part as a DataFrame: latest row per (run, part) via a
    max-struct aggregation (map-side combinable, no window buffer).
    Returns (run_id, part, committed_at, passed, n_rejected,
    metrics_json)."""
    return (
        m.groupBy("run_id", "part")
        .agg(
            F.max(
                F.struct(
                    _unset_at("committed_at", 0.0).alias("_ord"),
                    F.col("committed_at").alias("committed_at"),
                    F.col("passed").alias("passed"),
                    F.col("n_rejected").alias("n_rejected"),
                    F.col("metrics_json").alias("metrics_json"),
                )
            ).alias("_r")
        )
        .select(
            "run_id", "part", "_r.committed_at", "_r.passed",
            "_r.n_rejected", "_r.metrics_json",
        )
    )


def _numeric_metrics(df: DataFrame) -> DataFrame:
    """One row per (part, metric, value): explode the metrics JSON map,
    keep numeric values only (try_cast: booleans/strings -> NULL), drop
    the partition key masquerading as a metric."""
    return (
        df.select(
            "part",
            F.explode(
                F.coalesce(
                    F.from_json("metrics_json", "map<string,string>"),
                    F.expr("map()"),
                )
            ).alias("metric", "_raw"),
        )
        .where(
            (F.col("metric") != "part") & ~F.lower("_raw").isin("true", "false")
        )
        .withColumn("value", F.expr("try_cast(_raw as double)"))
        .where(F.col("value").isNotNull())
        .drop("_raw")
    )


def compare_runs(
    spark: SparkSession, manifest_path: str, run_a: str, run_b: str
) -> DataFrame:
    """Two-stage validation diff — the raw-vs-corrected comparison of the
    reference pipeline (corr_status LEFT JOIN, /root/reference/dataval/dataval.py:325-326;
    raw-vs-corr noise comparison, noise_metrics.py:220-240) re-expressed
    as a diff between two manifest runs over the same partition key:
    validate the table before and after a cleaning stage under the same
    suite, then diff verdicts and metrics.

    One row per partition present in either run:
      part, passed_a, passed_b, transition (FIXED / BROKE / STILL_PASS /
      STILL_FAIL / ONLY_A / ONLY_B), n_rejected_a/b, delta_rejected,
      metric_deltas_json ({metric: b - a} for shared numeric metrics,
      keys sorted; numeric = JSON values try-castable to double with
      booleans excluded, and deltas serialize as doubles).

    Runs as grouped DataFrame aggregations over the manifest — nothing
    collected to the driver (same rationale as anomaly_scan: ~200k
    partitions x re-validation history is a real frame, and callers
    usually want only the BROKE/FIXED rows anyway).
    """
    m = read_manifest(spark, manifest_path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {manifest_path}")
    latest = _latest_frame(m)
    a = latest.where(F.col("run_id") == run_a).select(
        "part",
        F.col("passed").alias("passed_a"),
        F.col("n_rejected").cast("long").alias("n_rejected_a"),
        F.col("metrics_json").alias("_mj_a"),
    )
    b = latest.where(F.col("run_id") == run_b).select(
        "part",
        F.col("passed").alias("passed_b"),
        F.col("n_rejected").cast("long").alias("n_rejected_b"),
        F.col("metrics_json").alias("_mj_b"),
    )
    both = a.join(b, "part", "full_outer")
    # presence is keyed on any of the side's fields (a full-outer miss
    # nulls ALL of them; a present row with NULL passed still counts)
    in_a = (
        F.col("n_rejected_a").isNotNull()
        | F.col("passed_a").isNotNull()
        | F.col("_mj_a").isNotNull()
    )
    in_b = (
        F.col("n_rejected_b").isNotNull()
        | F.col("passed_b").isNotNull()
        | F.col("_mj_b").isNotNull()
    )
    # bool(None) == False in the driver-side predecessor: pin NULL passed
    pa = F.coalesce(F.col("passed_a"), F.lit(False))
    pb = F.coalesce(F.col("passed_b"), F.lit(False))
    transition = (
        F.when(in_a & ~in_b, F.lit("ONLY_A"))
        .when(in_b & ~in_a, F.lit("ONLY_B"))
        .when(pa & pb, F.lit("STILL_PASS"))
        .when(pa & ~pb, F.lit("BROKE"))
        .when(~pa & pb, F.lit("FIXED"))
        .otherwise(F.lit("STILL_FAIL"))
    )
    # {metric: b - a} over shared numeric metrics, as a per-part JSON
    ea = _numeric_metrics(a.select("part", F.col("_mj_a").alias("metrics_json")))
    eb = _numeric_metrics(b.select("part", F.col("_mj_b").alias("metrics_json")))
    deltas = (
        ea.join(eb.withColumnRenamed("value", "_vb"), ["part", "metric"])
        .groupBy("part")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("metric"),
                                (F.col("_vb") - F.col("value")).alias("delta"),
                            )
                        )
                    )
                )
            ).alias("_deltas")
        )
    )
    return both.join(deltas, "part", "left").select(
        F.col("part").cast("int").alias("part"),
        "passed_a",
        "passed_b",
        transition.alias("transition"),
        "n_rejected_a",
        "n_rejected_b",
        F.when(in_a & in_b, F.col("n_rejected_b") - F.col("n_rejected_a")).alias(
            "delta_rejected"
        ),
        F.when(in_a & in_b, F.coalesce(F.col("_deltas"), F.lit("{}")))
        .otherwise(F.lit("{}"))
        .alias("metric_deltas_json"),
    )


def anomaly_scan(
    spark: SparkSession,
    manifest_path: str,
    run_id: str,
    min_history: int = 3,
    z_threshold: float = 3.5,
    metrics: list[str] | None = None,
) -> DataFrame:
    """Metric time-series anomaly detection over the manifest's run
    history — Deequ's anomaly-detection face (Schelter et al., VLDB
    2018): every validation run already persists its per-partition
    metrics, so "did anything change in a way no single-run threshold
    would catch" is a pure manifest read.

    For each (part, numeric metric) of ``run_id``, compares the value
    against that metric's history for the SAME part across all prior
    runs (latest row per (run, part), committed before this run's row)
    using the modified z-score |0.6745 (x - median) / MAD| (Iglewicz &
    Hoaglin 1993) — median/MAD so one past bad run cannot shift the
    baseline the way a mean/stddev detector would. MAD == 0 (constant
    history) flags ANY deviation. Fewer than ``min_history`` prior
    observations -> n_history recorded, never anomalous (no evidence,
    no alarm).

    Runs entirely as grouped DataFrame aggregations over the manifest —
    nothing is collected to the driver, so the manifest can be in the
    10^7-row regime the 10^12-turn partition-sizing rule implies
    (~200k partitions x hundreds of runs) and the scan stays
    executor-side; the caller collects only the (small) result it wants,
    typically the anomalous rows. The 100-TB input is never touched.
    Generalizes the reference's two-run raw-vs-corrected noise
    comparison (/root/reference/dataval/noise_metrics.py:220-240) to the
    full run history.

    ``metrics``: restrict to these metric names (default: every numeric
    metric the run recorded; numeric = JSON values try-castable to
    double, with booleans and the ``part`` key excluded).
    """
    m = read_manifest(spark, manifest_path)
    if m is None:
        raise FileNotFoundError(f"no manifest at {manifest_path}")

    # `x or default` semantics of the previous driver implementation:
    # NULL and 0.0 are both "unset". A current row with unset
    # committed_at sorts as +inf (its history window is unbounded); an
    # unset history row sorts as 0.0 (always before any current row).
    def _at(col, unset):
        c = F.col(col)
        return F.when(c.isNull() | (c == 0.0), F.lit(unset)).otherwise(c)

    # latest manifest row per (run, part): re-validated parts append a
    # fresh row and committed_at orders them (the _latest_per_part
    # contract, expressed as a max-struct aggregation so it stays
    # map-side combinable instead of forcing a window buffer).
    latest = (
        m.groupBy("run_id", "part")
        .agg(
            F.max(
                F.struct(
                    _at("committed_at", 0.0).alias("_ord"),
                    F.col("committed_at").alias("committed_at"),
                    F.col("metrics_json").alias("metrics_json"),
                )
            ).alias("_r")
        )
        .select("run_id", "part", "_r.committed_at", "_r.metrics_json")
    )
    if latest.where(F.col("run_id") == run_id).isEmpty():
        raise ValueError(f"run_id {run_id!r} not in manifest {manifest_path}")

    # one row per (part, metric, value): explode the metrics JSON map,
    # keep numeric values only (try_cast: booleans/strings -> NULL),
    # drop the partition key masquerading as a metric.
    def _explode(df, at_unset):
        e = (
            df.select(
                "part",
                _at("committed_at", at_unset).alias("at"),
                F.explode(
                    F.coalesce(
                        F.from_json("metrics_json", "map<string,string>"),
                        F.expr("map()"),
                    )
                ).alias("metric", "_raw"),
            )
            .where(
                (F.col("metric") != "part")
                & ~F.lower("_raw").isin("true", "false")
            )
            .withColumn("value", F.expr("try_cast(_raw as double)"))
            .where(F.col("value").isNotNull())
            .drop("_raw")
        )
        if metrics is not None:
            e = e.where(F.col("metric").isin(list(metrics)))
        return e

    cur = _explode(
        latest.where(F.col("run_id") == run_id), float("inf")
    ).withColumnRenamed("value", "x")
    hist = _explode(latest.where(F.col("run_id") != run_id), 0.0).select(
        "part", "metric", F.col("at").alias("h_at"), "value"
    )

    # history for a (part, metric) = that metric's values in rows
    # committed strictly before the current row's committed_at
    joined = cur.join(hist, ["part", "metric"], "left").where(
        F.col("h_at").isNull() | (F.col("h_at") < F.col("at"))
    )
    med = joined.groupBy("part", "metric", "x").agg(
        F.count("value").alias("n_history"),
        F.expr("percentile(value, 0.5)").alias("median"),
    )
    # MAD needs a second pass over the history values with the group's
    # median in hand: re-join, aggregate the absolute deviations.
    mad = (
        joined.join(med.select("part", "metric", "median"), ["part", "metric"])
        .groupBy("part", "metric")
        .agg(F.expr("percentile(abs(value - median), 0.5)").alias("mad"))
    )
    inf = F.lit(float("inf"))
    short = F.col("n_history") < int(min_history)
    scored = (
        med.join(mad, ["part", "metric"], "left")
        .withColumn(
            "robust_z",
            F.when(short, F.lit(None).cast("double"))
            .when(
                F.col("mad") == 0.0,
                F.when(F.col("x") == F.col("median"), F.lit(0.0)).otherwise(inf),
            )
            .otherwise(
                F.abs(0.6745 * (F.col("x") - F.col("median")) / F.col("mad"))
            ),
        )
        .withColumn(
            "anomalous",
            F.when(short, F.lit(False)).otherwise(
                F.col("robust_z") > F.lit(float(z_threshold))
            ),
        )
    )
    return scored.select(
        F.col("part").cast("int").alias("part"),
        "metric",
        F.col("x").cast("double").alias("value"),
        F.col("n_history").cast("int").alias("n_history"),
        F.when(~short, F.col("median")).cast("double").alias("median"),
        F.when(~short, F.col("mad")).cast("double").alias("mad"),
        F.col("robust_z").cast("double").alias("robust_z"),
        "anomalous",
    )


def _validate(
    df: DataFrame,
    suite: Suite,
    run_id: str,
    shash: str,
    done: set[int],
    verdicts_path: str | None,
    fps: dict[int, str] | None = None,
    dynamic: bool = True,
) -> tuple[ValidationResult, list[dict]] | None:
    """The validation core of run_resumable and
    validate_snapshot_increments: validate the partitions of ``df`` not
    in ``done`` and write their verdicts, but commit NO manifest rows —
    they are returned for the caller to commit last. None when nothing
    is left to validate."""
    dt = dict(df.dtypes).get(suite.part_col, "")
    if dt not in ("int", "bigint", "smallint", "tinyint"):
        # the manifest schema stores part as int; a string part column
        # must be mapped to an integer key upstream — fail loudly here
        # instead of deep inside int(m["part"])
        raise ValueError(
            f"manifest runs require an integer partition column; "
            f"{suite.part_col!r} is {dt!r}"
        )
    if done:
        # NULL-safe: the resume filter compares the SAME key the suite
        # aggregates on (part_expr: NULL -> quarantine sentinel) — a bare
        # ~isin evaluates to NULL for NULL part and silently drops the
        # quarantine rows from re-validation
        df = df.where(~suite.part_expr(df).isin(*done))
        if df.limit(1).count() == 0:
            return None

    # persist the flagged frame when verdicts are also written: the
    # metrics collect and the verdicts write would otherwise each pay the
    # full scan + window shuffle
    result = suite.run(df, persist=bool(verdicts_path))
    if not result.partition_metrics:
        result.unpersist()
        return None
    if verdicts_path:
        # clustered by part: each part lands in one file per write task.
        # ``dynamic`` partition overwrite replaces ONLY the parts in this
        # result (run_resumable: a re-validated part would otherwise
        # append a second copy of its verdicts, and untouched parts are
        # never rewritten, so resumes stay incremental). Otherwise the
        # directory is replaced whole: validate_snapshot_increments gives
        # each increment its own. (row_verdicts exposes the canonical
        # "part".)
        w = result.row_verdicts.hint("rebalance", "part").write.mode("overwrite")
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("part").parquet(verdicts_path)
    result.unpersist()  # verdicts written; drop the cached flagged frame
    fps = fps or {}
    rows = [
        _manifest_row(run_id, shash, m, fps.get(int(m["part"]), ""))
        for m in result.partition_metrics
    ]
    return result, rows


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    suite: Suite,
    manifest_path: str,
    run_id: str,
    verdicts_path: str | None = None,
    input_path: str | None = None,
) -> ValidationResult | None:
    """Validate only partitions not yet in the manifest; append results.

    Returns None when nothing is left to process (idempotent re-run).
    With ``input_path`` (a ``part=<v>``-partitioned table root), each
    manifest row records the input snapshot fingerprint, and a resumed
    run RE-validates any partition whose input changed since it was
    marked done (the re-run appends a fresh manifest row with the new
    fingerprint; consumers key on the current input_fp).
    """
    shash = suite_hash(suite)
    fps = input_fingerprints(spark, input_path, suite.part_col) if input_path else {}
    done = completed_parts(spark, manifest_path, run_id, shash, fps)
    out = _validate(df, suite, run_id, shash, done, verdicts_path, fps)
    if out is None:
        return None
    result, rows = out
    # COMMIT ORDER: verdicts first (written by _validate), manifest last.
    # The manifest file is what marks partitions done; committing it
    # first would let a crash between the two writes permanently skip
    # the verdicts on re-run. The commit is one driver-written file,
    # published by a rename: all of the run's rows appear, or none.
    _commit_rows(spark, manifest_path, rows)
    return result


# partition key reserved for increment-completion sentinel rows written
# by validate_snapshot_increments (NULL parts quarantine under -1, real
# parts are non-negative in the transcript layout)
COMPLETE_PART = -2


def validate_snapshot_increments(
    spark: SparkSession,
    table_root: str,
    suite: Suite,
    manifest_path: str,
    verdicts_path: str | None = None,
    run_prefix: str = "snap",
    drift_columns: list[str] | None = None,
    drift_part_col: str = "part",
) -> ValidationResult | None:
    """Continuous validation of a growing snapshot table: validate
    EXACTLY the rows appended since the last fully-validated snapshot,
    resumably.

    The loop the north rule asks for, assembled from the existing
    pieces: the table's lineage is its snapshot chain
    (sources/snapshots.SnapshotTable), the validated watermark lives in
    the manifest as a completion sentinel row
    ``(run_id=f"{run_prefix}-v<N>", part=COMPLETE_PART)``, and each call

    * reads the manifest ONCE: the watermark, the partitions of this
      increment already committed, and the settings guard all come from
      one collect of its rows;
    * returns None when the watermark already covers the current
      version (nothing to process — idempotent);
    * first run (or a suite change: the watermark is keyed on
      suite_hash, so a new suite re-validates from scratch) validates
      the FULL current snapshot;
    * otherwise validates ``incremental_read(last, cur)`` — only the
      appended files are ever opened;
    * a range poisoned by delete/merge/overwrite/rollback (or expired
      history) falls back to FULL re-validation of the current
      snapshot: rows changed, so delta verdicts would be unsound;
    * crash safety: verdicts are written first, then the partition rows
      and the sentinel commit together as ONE manifest file. A crash
      before that file re-runs the increment, never skips it; partition
      rows already committed under the increment's run_id without a
      sentinel (by ``run_resumable``) are skipped on re-run.

    ``verdicts_path`` receives the row verdicts as one hive-readable
    dataset partitioned by ``from_version`` and ``part``: each increment
    writes ``from_version=<watermark it starts from>/part=K``, and a full
    pass (first run, suite change, poisoned range) ``from_version=-1``.
    A delta ADDS its directory, so the verdict rows always equal the
    rows validated so far; a replayed increment starts from the same
    watermark and replaces only its own directory. A full pass deletes
    the whole verdict set first, including parts that are no longer in
    the table.

    ``drift_columns`` (opt-in) adds the continuous DRIFT gate: each
    increment's per-partition distributions are compared against the
    last-validated version via ``drift_between_versions`` on
    ``drift_part_col``, with histograms persisted beside the manifest
    (``<manifest>_drift_hists.json``) so consecutive gates ride the
    zero-base-rescan loop — every appended row is histogrammed exactly
    once over the table's lifetime. Records land on the returned
    result's ``drift`` attribute (None on the first/full pass, which
    only seeds the baseline histograms).

    Returns the increment's ValidationResult (None when nothing new or
    the whole increment was already committed by a crashed run)."""
    from dataval_spark.sources.snapshots import (
        IncrementalReadError,
        SnapshotTable,
    )

    t = SnapshotTable(spark, table_root)
    cur = t.current_version()
    if cur is None:
        return None
    shash = suite_hash(suite)
    # suite-scoped run ids: a suite change must start its own increment
    # series (fresh full validation), not trip the settings-consistency
    # guard on a previous suite's run_id
    tag = f"{run_prefix}-{shash[:8]}-v"
    run_id = f"{tag}{cur}"
    # the series' sentinels plus this increment's own rows: everything
    # the call needs to know from the manifest, in one collect
    m = read_manifest(spark, manifest_path)
    rows = [] if m is None else (
        m.where(
            F.col("run_id").startswith(tag)
            & ((F.col("part") == COMPLETE_PART) | (F.col("run_id") == run_id))
        )
        .select("run_id", "suite_hash", "part")
        .collect()
    )
    versions = []
    for r in rows:
        if r.part != COMPLETE_PART or r.suite_hash != shash:
            continue
        try:
            versions.append(int(r.run_id[len(tag):]))
        except ValueError:
            continue
    last = max(versions, default=None)
    if last is not None and last >= cur:
        return None
    done = _done_parts(
        [r for r in rows if r.run_id == run_id], manifest_path, run_id, shash
    )

    mode = "full"
    if last is None:
        df = t.read(cur)
    else:
        try:
            df = t.incremental_read(last, cur)
            mode = "delta"
        except IncrementalReadError:
            df = t.read(cur)  # rows changed: delta verdicts unsound

    # each increment's verdicts live in their own directory, named by the
    # watermark the increment starts from: a replay after a crash before
    # the manifest commit starts from the same watermark, whatever the
    # table's version by then, and overwrites that directory whole. A
    # full pass clears the whole set first, even when it validates no
    # rows (an emptied table).
    scope = None
    if verdicts_path:
        scope = f"{verdicts_path}/from_version={last if mode == 'delta' else -1}"
        if mode == "full":
            Path = spark._jvm.org.apache.hadoop.fs.Path
            root = Path(verdicts_path)
            root.getFileSystem(spark._jsc.hadoopConfiguration()).delete(root, True)
    out = _validate(df, suite, run_id, shash, done, scope, dynamic=False)
    result, part_rows = out or (None, [])
    metrics = result.partition_metrics if result is not None else []
    sentinel = _manifest_row(
        run_id,
        shash,
        {
            "part": COMPLETE_PART,
            "n_rows": sum(m_["n_rows"] for m_ in metrics),
            "n_approved": sum(m_["n_approved"] for m_ in metrics),
            "n_rejected": sum(m_["n_rejected"] for m_ in metrics),
            "passed": all(bool(m_["passed"]) for m_ in metrics),
        },
        input_fp=f"snapshot:v{cur}",
        metrics={"from_version": last, "to_version": cur, "mode": mode},
    )
    # verdicts are already written: the partition rows and the sentinel
    # land together, last, in one file
    _commit_rows(spark, manifest_path, part_rows + [sentinel])
    if drift_columns and result is not None:
        from dataval_spark.constraints.version_drift import (
            drift_between_versions,
        )

        hists_path = f"{manifest_path.rstrip('/')}_drift_hists.json"
        drift = None
        if last is not None and mode == "delta":
            ref_hists = None
            if t._fs.exists(t._Path(hists_path)):
                saved = json.loads(t._read_text(hists_path))
                if saved.get("cur_version") == last:
                    ref_hists = saved
            drift = drift_between_versions(
                t,
                last,
                cur,
                columns=drift_columns,
                part_col=drift_part_col,
                ref_hists=ref_hists,
            )
        else:
            # full pass (first run or poisoned range): one extra
            # histogram scan seeds the baseline, no comparison to make
            drift = drift_between_versions(
                t, cur, cur, columns=drift_columns, part_col=drift_part_col
            )
            drift["records"] = None  # self-compare: nothing to report
        t._write_text(
            hists_path,
            json.dumps({k: drift[k] for k in ("cur_version", "hists", "bins")}),
        )
        result.drift = None if drift["records"] is None else drift
    return result
