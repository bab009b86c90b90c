"""Suite — composes all constraints into one Spark plan and runs it.

The reference executes its validation as 12 sequential checks, each its
own SQL query + numpy kernel + write-back
(/root/reference/dataval/dataval.py:370-472). Here the whole suite is
three fused stages over ONE scan:

  1. sequence enrichment — a single window pass partitioned by
     conversation (one shuffle on conv_id) computing prev/next order keys
     and prev ts; serves uniqueness, gap, and monotonicity constraints at
     once.
  2. row-flag projection — one wide select ORing every constraint's bit
     into the int ``dataval`` bitmask + the approved combination
     (bitmask algebra parity with
     /root/reference/dataval/dataval.py:399-414).
  3. partition roll-up — one wide ``groupBy(part).agg(...)`` computing
     row counts, approved counts, per-flag counts, every constraint's
     metrics, and drift histogram sketches (one shuffle on part, with
     map-side partial aggregation).

Scale notes (100 TB / 10^12 turns):
  * the window shuffle hash-partitions by conv_id; with bounded
    conversation lengths (int32 turn_idx) the largest conversation is
    ~10^5 rows — orders of magnitude below a shuffle partition, so no
    window skew. AQE skew-join/coalesce is enabled for everything else.
  * the partition roll-up aggregates are all DECLARATIVE algebraic
    expressions (sum/avg/min/max/count + histogram bin counts) — map-side
    combine shrinks the shuffle to O(parts × metrics), and the whole agg
    stays in whole-stage codegen (imperative sketches would drop it to
    interpreted ObjectHashAggregate; quantiles come from the histograms
    driver-side instead).
  * drift evaluation sees only the aggregated histograms (O(P × nbins)),
    never raw rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataval_spark.constraints.core import (
    Constraint,
    CrossField,
    Domain,
    Envelope,
    MonotonicTs,
    NotNull,
    SequenceIntegrity,
    StatusGate,
    Stats,
    Unique,
)
from dataval_spark.constraints.drift import Drift
from dataval_spark.quality import DEFAULT_BITMASK, QualityFlag, decompose

KEY_COLS = ("conv_id", "turn_idx")


@dataclass
class ValidationResult:
    row_verdicts: DataFrame       # conv_id, turn_idx, part, dataval, approved
    partition_verdicts: DataFrame # part, n_rows, n_approved, ..., passed
    violations: DataFrame         # constraint, part, conv_id, turn_idx, detail
    partition_metrics: list[dict] # collected per-partition metric rows (small)
    flagged: DataFrame | None = None  # the persisted frame when run(persist=True)

    def unpersist(self) -> None:
        """Release the cached flagged frame (no-op when not persisted).
        Callers that persist MUST call this once they are done writing —
        a long-lived session (streaming foreachBatch) would otherwise
        accumulate one dead cache entry per run."""
        if self.flagged is not None:
            self.flagged.unpersist()

    def summary(self) -> dict:
        rows = self.partition_metrics
        return {
            "n_rows": sum(r["n_rows"] for r in rows),
            "n_approved": sum(r["n_approved"] for r in rows),
            "n_partitions": len(rows),
            "n_partitions_passed": sum(1 for r in rows if r["passed"]),
        }

    def report(self) -> str:
        """Human-readable per-partition summary — parity with the
        reference's printed per-(camera,ccd) approved/rejected grid and
        per-flag rejection-reason counts
        (/root/reference/dataval/dataval.py:422-471)."""
        rows = sorted(self.partition_metrics, key=lambda m: m["part"])
        total = self.summary()
        lines = [
            "part  rows      approved  rejected  rej%    drift  verdict",
            "----  --------  --------  --------  ------  -----  -------",
        ]
        for m in rows:
            lines.append(
                f"{m['part']:>4}  {m['n_rows']:>8}  {m['n_approved']:>8}  "
                f"{m['n_rejected']:>8}  {m['reject_ratio']*100:>5.2f}%  "
                f"{'yes' if m['drifted'] else 'no':>5}  "
                f"{'PASS' if m['passed'] else 'FAIL'}"
            )
        lines.append("")
        lines.append(
            f"TOTAL {total['n_rows']} rows, {total['n_approved']} approved "
            f"({total['n_approved']/max(total['n_rows'],1)*100:.2f}%), "
            f"{total['n_partitions_passed']}/{total['n_partitions']} partitions passed"
        )
        # per-flag rejection-reason counts across all partitions
        flag_totals = {
            f.name: sum(m.get(f"n_flag_{f.name}", 0) for m in rows) for f in QualityFlag
        }
        fired = {k: v for k, v in flag_totals.items() if v}
        if fired:
            lines.append("flag counts: " + ", ".join(f"{k}={v}" for k, v in sorted(fired.items())))
        return "\n".join(lines)


class Suite:
    """A validation suite over a transcript-shaped DataFrame."""

    def __init__(
        self,
        constraints: list[Constraint],
        default_mask: int = DEFAULT_BITMASK,
        part_col: str = "part",
        reject_ratio_fail: float = 0.10,
        conv_col: str = "conv_id",
        order_col: str = "turn_idx",
        ts_col: str = "ts",
    ):
        self.constraints = constraints
        self.default_mask = default_mask
        self.part_col = part_col
        self.reject_ratio_fail = reject_ratio_fail
        self.conv_col = conv_col
        self.order_col = order_col
        self.ts_col = ts_col
        # sequence constraints are evaluated against the ONE window this
        # suite builds (partitionBy conv_col orderBy order_col, ts_col);
        # a Unique constraint declaring any other composite key would
        # silently check the wrong thing — fail fast instead.
        for c in constraints:
            if isinstance(c, Unique) and tuple(c.keys) != (conv_col, order_col):
                raise ValueError(
                    f"Unique{tuple(c.keys)} must match the suite's "
                    f"(conv_col, order_col)=({conv_col!r}, {order_col!r}); "
                    "for other keys use a dedicated groupBy-count check"
                )
            if isinstance(c, SequenceIntegrity) and c.order_col != order_col:
                raise ValueError("SequenceIntegrity.order_col must match suite.order_col")
            if isinstance(c, MonotonicTs) and c.ts_col != ts_col:
                raise ValueError("MonotonicTs.ts_col must match suite.ts_col")
        names = [c.name for c in constraints]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            # two constraints sharing a name silently corrupt each other:
            # helper columns are last-writer-wins and aggregated metric
            # aliases dedup, so both would evaluate the SAME data
            raise ValueError(
                f"duplicate constraint names {dupes} — give each a unique "
                f"name= (defaults collide when a type is used twice)"
            )

    def part_expr(self, df: DataFrame) -> Column:
        """Canonical partition key: NULL partition metadata lands in the
        quarantine partition (-1 for numeric part columns, '__null_part__'
        for string ones — coalescing a string column with an int literal
        would CAST the column to BIGINT under ANSI mode and crash on any
        non-numeric value). Caveat, documented: a LEGITIMATE partition
        with the sentinel value merges with quarantined rows; pick a
        different part_col encoding if -1 is a real partition id."""
        dt = dict(df.dtypes).get(self.part_col)
        sentinel = F.lit("__null_part__") if dt == "string" else F.lit(-1)
        return F.coalesce(F.col(self.part_col), sentinel)

    # ------------------------------------------------------------------
    def project(self, df: DataFrame, keep_extra: tuple[str, ...] = ()) -> DataFrame:
        """Pre-shuffle narrow projection.

        ``keep_extra``: additional source columns to carry through (used
        by ``clean``, whose OUTPUT is the full row — there the wide
        shuffle is the point, not overhead).

        Evaluates every row-local (non-sequence) constraint against the
        raw row and materializes: the partial ``dataval`` bitmask
        (``_pre``), the forced-rejection bit (``_forced``), and every
        helper/agg-input column — then SELECTS ONLY the narrow set the
        window and aggregation need.

        Scale rationale: the conversation-window shuffle would otherwise
        carry the raw ``text`` (hundreds of bytes/row) through shuffle
        write + sort + read; measured on 17M rows this was the difference
        between negative scaling (GC/sort pressure at 32 threads) and
        clean scaling. Shuffled row width drops ~10x.
        """
        bits: list[Column] = []
        forced_reject: Column | None = None
        helpers: dict[str, Column] = {}
        wide_cols: set[str] = set()
        for c in self.constraints:
            helpers.update(c.helper_columns())
            wide_cols.update(getattr(c, "wide_cols", lambda: [])())
            if c.needs_sequence:
                continue
            if isinstance(c, Envelope):
                if c.low_flag:
                    bits.append(F.when(c.low_condition(df), F.lit(int(c.low_flag))).otherwise(0))
                if c.high_flag:
                    bits.append(F.when(c.high_condition(df), F.lit(int(c.high_flag))).otherwise(0))
                continue
            cond = c.row_condition(df)
            if isinstance(c, StatusGate) and cond is not None:
                # forced rejection overrides bitmask approval — the final
                # UPDATE in the reference's chain wins
                # (/root/reference/dataval/dataval.py:404-413). Recorded
                # BEFORE the flag check: a StatusGate(flag=None) must
                # still force-reject ("regardless of flag bits").
                forced_reject = cond
            if cond is None or c.flag is None:
                continue
            bits.append(F.when(cond, F.lit(int(c.flag))).otherwise(0))

        pre = reduce(lambda a, b: a.bitwiseOR(b), bits, F.lit(0)).cast("int")
        keep = [
            F.col(self.conv_col),
            F.col(self.order_col),
            F.col(self.ts_col),
            F.col(self.part_col),
            pre.alias("_pre"),
            (forced_reject if forced_reject is not None else F.lit(False)).alias("_forced"),
        ]
        keep += [expr.alias(name) for name, expr in helpers.items()]
        wide = [c for c in sorted(wide_cols) if c in df.columns]
        keep += [F.col(c) for c in wide]
        kept_names = {self.conv_col, self.order_col, self.ts_col, self.part_col}
        kept_names.update(helpers)
        kept_names.update(wide)
        keep += [
            F.col(c) for c in keep_extra if c in df.columns and c not in kept_names
        ]
        return df.select(*keep)

    def enrich(self, df: DataFrame) -> DataFrame:
        """Single window pass adding _prev_idx/_next_idx/_prev_ts, plus
        any constraint-requested helper lags (``_prev_<helper>``) and
        the conversation turn count ``_conv_n`` — all over the SAME
        window partitioning, so extra requests add expressions to the
        one sort/Exchange, never a second shuffle."""
        if not any(c.needs_sequence for c in self.constraints):
            return df
        w = Window.partitionBy(self.conv_col).orderBy(
            F.col(self.order_col).asc_nulls_first(), F.col(self.ts_col).asc_nulls_first()
        )
        out = (
            df.withColumn("_prev_idx", F.lag(self.order_col).over(w))
            .withColumn("_next_idx", F.lead(self.order_col).over(w))
            .withColumn("_prev_ts", F.lag(self.ts_col).over(w))
        )
        lagged: set[str] = set()
        for c in self.constraints:
            for h in getattr(c, "lag_helpers", lambda: [])():
                if h in lagged:
                    continue
                lagged.add(h)
                out = out.withColumn(f"_prev_{h}", F.lag(h).over(w))
        if any(getattr(c, "wants_conv_count", lambda: False)() for c in self.constraints):
            wp = Window.partitionBy(self.conv_col)
            out = out.withColumn("_conv_n", F.count(F.lit(1)).over(wp))
        return out

    def flag_rows(self, df: DataFrame) -> DataFrame:
        """Final flag combination: row-local bits (from project) ORed with
        the sequence-constraint bits (from enrich), then the approved
        algebra."""
        if "_pre" not in df.columns:  # direct use on raw rows (streaming)
            df = self.enrich(self.project(df))
        bits: list[Column] = [F.col("_pre")]
        for c in self.constraints:
            if not c.needs_sequence:
                continue
            cond = c.row_condition(df)
            if cond is None or c.flag is None:
                continue
            bits.append(F.when(cond, F.lit(int(c.flag))).otherwise(0))
        dataval = reduce(lambda a, b: a.bitwiseOR(b), bits).cast("int")
        out = df.withColumn("dataval", dataval)
        approved = (
            out["dataval"].bitwiseAND(F.lit(self.default_mask)) == 0
        ) & ~F.col("_forced")
        return out.withColumn("approved", approved)

    def partition_aggregate(self, flagged: DataFrame) -> DataFrame:
        """One wide groupBy(part) computing everything partition-level."""
        aggs: list[Column] = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("approved").cast("long")).alias("n_approved"),
            F.sum((~F.col("approved")).cast("long")).alias("n_rejected"),
        ]
        # per-flag rejection-reason counts — analog of the bit-loop summary
        # (/root/reference/dataval/dataval.py:449-471)
        for fl in QualityFlag:
            aggs.append(
                F.sum((F.col("dataval").bitwiseAND(F.lit(int(fl))) != 0).cast("long")).alias(
                    f"n_flag_{fl.name}"
                )
            )
        seen: set[str] = set()
        for c in self.constraints:
            for alias, expr in c.agg_metrics().items():
                if alias in seen:
                    continue
                seen.add(alias)
                aggs.append(expr.alias(alias))
        # metric rows and verdict tables always expose the partition key
        # under the canonical name "part", whatever the suite's part_col:
        # every downstream consumer (drift loop, manifest, compare_runs,
        # report) keys on "part". A NULL partition value (dirty metadata)
        # lands in quarantine partition -1 rather than producing a
        # None-keyed metric row that crashes the manifest's int(part)
        # and the report's sort.
        return flagged.groupBy(self.part_expr(flagged).alias("part")).agg(*aggs)

    def clean(
        self, df: DataFrame, persist: bool = False
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """The reference's cleanup mutation
        (/root/reference/dataval/cleanup.py:48 — UPDATE nulling bad rows)
        re-expressed immutably: returns ``(cleaned, quarantine, flagged)``.
        ``cleaned`` keeps only approved rows with the original schema —
        the input for the corrected validation stage (compare with
        manifest.compare_runs); ``quarantine`` carries the rejected rows
        plus their dataval bitmask for triage. One plan, no mutation of
        the source table (Spark-native: tables are immutable; the
        'mutation' is a new snapshot).

        With ``persist=True`` the shared flagged frame is cached and
        returned as the third element so the caller can unpersist THAT
        frame when done — a session-wide catalog.clearCache() here would
        evict every cached DataFrame of library embedders sharing the
        session. Without ``persist`` the third element is None."""
        flagged = self.flag_rows(
            self.enrich(self.project(df, keep_extra=tuple(df.columns)))
        )
        if persist:
            # both outputs derive from the same scan+window plan; persist
            # it once so writing cleaned AND quarantine costs one compute
            from pyspark.storagelevel import StorageLevel

            flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
        cleaned, quarantine = self.split_flagged(flagged, df.columns)
        return cleaned, quarantine, (flagged if persist else None)

    @staticmethod
    def split_flagged(
        flagged: DataFrame, columns: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """(cleaned, quarantine) from an already-flagged frame. A source
        column named 'dataval' is excluded: flag_rows overwrote it, so
        keeping it would produce a duplicate column in quarantine."""
        keep = [c for c in columns if c != "dataval"]
        cleaned = flagged.where(F.col("approved")).select(*keep)
        quarantine = flagged.where(~F.col("approved")).select(*keep, "dataval")
        return cleaned, quarantine

    # ------------------------------------------------------------------
    def run(
        self, df: DataFrame, persist: bool = False,
        keep_extra: tuple[str, ...] = (),
    ) -> ValidationResult:
        """Run the suite. ``persist=True`` caches the flagged frame
        (memory+disk) so callers that consume row_verdicts/violations
        after the metrics action do not recompute the scan+window —
        worth it when the verdicts are written out (run_resumable);
        callers own unpersist via result.row_verdicts.sparkSession."""
        enriched = self.enrich(self.project(df, keep_extra=keep_extra))
        flagged = self.flag_rows(enriched)
        if persist:
            from pyspark.storagelevel import StorageLevel

            flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)

        part_agg = self.partition_aggregate(flagged)
        metric_rows = [r.asDict() for r in part_agg.collect()]

        # drift + quantile sketches: driver-side over the collected
        # histograms (replaces percentile_approx in the wide pass — see
        # Constraint.agg_metrics docstring)
        drifted_parts: set = set()
        for c in self.constraints:
            if isinstance(c, Drift):
                res = c.evaluate(metric_rows)
                for part, r in res.items():
                    for m in metric_rows:
                        if m["part"] == part:
                            m[f"{c.name}_psi"] = r["psi"]
                            m[f"{c.name}_ks"] = r["ks"]
                            m[f"quantiles_{c.name}"] = c.quantiles_from_hist(m)
                    if r["drifted"]:
                        drifted_parts.add(part)

        # partition verdict: error-ratio gate + constraint-specific gates +
        # drift (reference: per-(camera,ccd) 5%/10% gate,
        # /root/reference/dataval/dataval.py:475-539)
        for m in metric_rows:
            ratio = (m["n_rejected"] / m["n_rows"]) if m["n_rows"] else 0.0
            m["reject_ratio"] = ratio
            m["drifted"] = m["part"] in drifted_parts
            m["dataval_part"] = int(QualityFlag.DriftedPartition) if m["drifted"] else 0
            gate_fails = [
                bool(c.partition_fail(m))
                for c in self.constraints
                if c.partition_fail(m) is not None
            ]
            m["passed"] = (
                ratio <= self.reject_ratio_fail
                and not m["drifted"]
                and not any(gate_fails)
            )

        spark = df.sparkSession
        if metric_rows:
            pv = spark.createDataFrame(
                [
                    {k: (float(v) if isinstance(v, float) else v) for k, v in m.items() if not isinstance(v, list)}
                    for m in metric_rows
                ]
            )
        else:
            # schema-stable empty result: the aggregation's own schema
            # plus the driver-derived columns, so empty increments append
            # cleanly next to non-empty ones
            from pyspark.sql import types as T

            extra = T.StructType(
                [
                    T.StructField("reject_ratio", T.DoubleType()),
                    T.StructField("drifted", T.BooleanType()),
                    T.StructField("dataval_part", T.IntegerType()),
                    T.StructField("passed", T.BooleanType()),
                ]
            )
            pv = spark.createDataFrame(
                [], schema=T.StructType(list(part_agg.schema.fields) + list(extra.fields))
            )

        row_verdicts = flagged.select(
            self.conv_col,
            self.order_col,
            self.part_expr(flagged).alias("part"),
            "dataval",
            "approved",
        )
        # no global orderBy here: a full sort of every violating row is an
        # unbounded extra shuffle at scale, purely cosmetic — consumers
        # (and tests) sort the slice they look at
        violations = flagged.where(F.col("dataval") != 0).select(
            F.explode(decompose(F.col("dataval"))).alias("constraint"),
            self.part_expr(flagged).alias("part"),
            self.conv_col,
            self.order_col,
            F.col("dataval"),
        )
        return ValidationResult(
            row_verdicts, pv, violations, metric_rows,
            flagged=flagged if persist else None,
        )


# ---------------------------------------------------------------------------
# The standard transcript suite — the engine's flagship configuration
# (SURVEY.md §7.0 mapping table).
ROLE_DOMAIN = ["system", "user", "assistant", "tool"]
TOOL_DOMAIN = ["search", "exec", "browse"]
# char-length envelope per role, derived from fixtures.ROLE_WORDS bounds
CHAR_BOUNDS = {
    "system": (8 * 3 - 1, 24 * 9),
    "user": (4 * 3 - 1, 32 * 9),
    "assistant": (16 * 3 - 1, 96 * 9),
    "tool": (6 * 3 - 1, 40 * 9),
}


def transcript_suite(
    char_bounds: dict[str, tuple[float, float]] | None = None,
    drift_bins: list[float] | None = None,
) -> Suite:
    bounds = char_bounds or CHAR_BOUNDS
    bins = drift_bins or [float(x) for x in range(0, 901, 60)]
    text_len = lambda: F.length(F.col("text")).cast("double")  # noqa: E731
    constraints: list[Constraint] = [
        NotNull("text", flag=QualityFlag.InvalidText, max_rate=0.05),
        NotNull("ts", flag=QualityFlag.InvalidTimestamp, empty_is_null=False),
        CrossField(
            name="conv_id_format",
            condition=lambda df: F.col("conv_id").isNull()
            | ~F.col("conv_id").rlike("^conv-[0-9]{12}$"),
            flag=QualityFlag.InvalidConvId,
        ),
        Unique(keys=("conv_id", "turn_idx")),
        SequenceIntegrity(),
        MonotonicTs(),
        Domain(col="role", values=ROLE_DOMAIN, flag=QualityFlag.InvalidRole),
        CrossField(
            name="tool_consistency",
            condition=lambda df: (
                ((F.col("role") == "tool") & F.col("tool").isNull())
                | ((F.col("role") != "tool") & F.col("role").isNotNull() & F.col("tool").isNotNull())
                | (F.col("tool").isNotNull() & ~F.col("tool").isin(*TOOL_DOMAIN))
            ),
            flag=QualityFlag.InvalidTool,
        ),
        Envelope(expr=text_len, group_col="role", bounds=bounds, name="text_len"),
        StatusGate(),
        Stats(col="text"),
        Stats(col="role"),
        Drift(expr=text_len, bins=bins, name="drift_text_len"),
    ]
    return Suite(constraints)


def sample_violations(violations: DataFrame, n_per_constraint: int = 5) -> DataFrame:
    """Deterministic triage sample: the first n violating rows per
    constraint under a total column ordering (the reference logs example
    violations per check). Salted two-phase top-k
    (operators/rollup.py::topk_per_group) — never a global sort of every
    violation, and never one window partition per constraint name (a
    systemic defect can put most of the table under one constraint)."""
    from dataval_spark.operators.rollup import topk_per_group

    order_cols = [c for c in violations.columns if c != "constraint"]
    return topk_per_group(
        violations, ["constraint"], [F.col(c) for c in order_cols],
        n_per_constraint,
    )
