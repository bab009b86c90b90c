"""CLI entrypoint — ``spark-submit --py-files dataval_spark.zip -m`` or
``python -m dataval_spark.cli``.

Mirrors the reference's CLI contract (/root/reference/run_dataval.py:21-57
and run_package_release.py:28-35): method allowlist, --validate (dry-run
vs persisted verdicts), corrector-style suite selection, and an exit code
derived from validation outcome (0 ok / 3 warnings / 4 errors,
/root/reference/run_dataval.py:129-133).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid


METHODS = [
    "all", "nullness", "uniqueness", "sequence", "monotonic_ts",
    "domain", "envelope", "drift", "status",
]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dataval-spark", description=__doc__)
    p.add_argument("--input", required=True, help="input table path (parquet dir)")
    p.add_argument("--output", default=None, help="warehouse dir for verdict tables")
    p.add_argument("--method", choices=METHODS, default="all",
                   help="run a single check family (reference --method)")
    p.add_argument("--validate", action="store_true",
                   help="dry-run: compute verdicts but do not persist "
                        "(reference TEMP-table mode)")
    p.add_argument("--manifest", default=None, help="manifest path for resumable runs")
    p.add_argument("--reject-ratio", type=float, default=None,
                   help="partition FAIL threshold on rejected-row ratio "
                        "(default: suite's own)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--suite", default=None, metavar="SPEC.json",
                   help="declarative suite spec (JSON; see dataval_spark.spec) "
                        "instead of the built-in transcript suite")
    p.add_argument("--clean-output", default=None,
                   help="write <dir>/cleaned (approved rows, original "
                        "schema) and <dir>/quarantine (+dataval) — the "
                        "corrected-stage input (reference cleanup.py)")
    p.add_argument("--compare", default=None, metavar="RUN_A,RUN_B",
                   help="with --manifest: print the per-partition "
                        "verdict/metric diff between two runs and exit")
    p.add_argument("--baseline-run", default=None, metavar="RUN_ID",
                   help="with --manifest: pull drift baselines from this "
                        "trusted run's stored histograms (catches "
                        "whole-dataset drift)")
    p.add_argument("--report", action="store_true",
                   help="print the human-readable per-partition report "
                        "(reference's printed verdict grid) to stderr")
    p.add_argument("--prepare-corpus", default=None, metavar="OUT_DIR",
                   help="run the full training-corpus preparation flow "
                        "(quality gate -> exact dedup -> SimHash near-dedup "
                        "-> decontamination -> packing) on --input "
                        "(doc_id/text/lang schema), write OUT_DIR/packed "
                        "partitioned by lang, print the attrition-funnel "
                        "JSON, exit 0 (reference method-dispatch ethos, "
                        "run_dataval.py:21-57)")
    p.add_argument("--benchmark", default=None,
                   help="with --prepare-corpus: parquet of benchmark docs "
                        "(text column) for exact + n-gram decontamination")
    p.add_argument("--pack-shards", type=int, default=1,
                   help="with --prepare-corpus: split each language's "
                        "packing sort into K parallel shards "
                        "(size ~ cores / n_langs at scale)")
    p.add_argument("--window-tokens", type=int, default=2048,
                   help="with --prepare-corpus: context-window token budget")
    p.add_argument("--min-tokens", type=int, default=5,
                   help="with --prepare-corpus: quality-gate minimum tokens")
    p.add_argument("--langs", default=None,
                   help="with --prepare-corpus: comma-separated language "
                        "allow-list for the quality gate")
    p.add_argument("--checkpoint-dir", default=None,
                   help="with --prepare-corpus: reliable checkpoint dir for "
                        "the connected-components rounds (executor-loss "
                        "tolerance on real clusters)")
    p.add_argument("--gopher", action="store_true",
                   help="with --prepare-corpus: add the Gopher repetition "
                        "ceilings (dup line/paragraph + n-gram character "
                        "fractions) to the quality gate")
    p.add_argument("--embeddings", default=None,
                   help="with --prepare-corpus: parquet of (doc_id, "
                        "embedding) rows enabling the SemDeDup semantic "
                        "dedup stage after SimHash near-dedup")
    p.add_argument("--emb-dim", type=int, default=64,
                   help="with --embeddings: embedding dimensionality")
    p.add_argument("--budget-tokens", type=int, default=None,
                   help="with --prepare-corpus: sample the decontaminated "
                        "corpus down to this token budget with "
                        "temperature-weighted source mixing before packing")
    p.add_argument("--mixing-tau", type=float, default=0.7,
                   help="with --budget-tokens: temperature for the mixture "
                        "weights (1=proportional, 0=uniform over sources)")
    p.add_argument("--strip-boilerplate", action="store_true",
                   help="with --prepare-corpus: remove C4-style "
                        "cross-document repeated lines before the quality "
                        "gate")
    p.add_argument("--url-col", default=None,
                   help="with --prepare-corpus: URL column for "
                        "canonical-URL keep-first dedup ahead of content "
                        "dedup (and the column --domain-block/--domain-"
                        "allow filter on)")
    p.add_argument("--domain-block", default=None,
                   help="with --url-col: comma-separated registrable "
                        "domains to drop")
    p.add_argument("--domain-allow", default=None,
                   help="with --url-col: comma-separated registrable "
                        "domains to keep (no-URL rows are kept)")
    p.add_argument("--paragraph-dedup", action="store_true",
                   help="with --prepare-corpus: keep one copy of every "
                        "corpus-duplicated paragraph (Dolma layer)")
    p.add_argument("--remove-spans", action="store_true",
                   help="with --prepare-corpus: strip corpus-duplicated "
                        "token spans (ExactSubstr layer; first occurrence "
                        "spared)")
    p.add_argument("--span-tokens", type=int, default=20,
                   help="with --remove-spans: minimum duplicated-span "
                        "length in tokens")
    p.add_argument("--split-long", action="store_true",
                   help="with --prepare-corpus: explode documents longer "
                        "than --window-tokens into window-sized chunks "
                        "before packing")
    p.add_argument("--corpus-report", action="store_true",
                   help="print a one-pass per-(lang, source) corpus "
                        "profile of --input as JSON lines (doc/token "
                        "counts, length percentiles, quality, estimated "
                        "dup ratio) and exit 0")
    p.add_argument("--dedup-increment", default=None, metavar="OUT_DIR",
                   help="dedup the --input batch (doc_id/text schema) "
                        "against the --store signature store, write "
                        "survivors to OUT_DIR and append their "
                        "signatures to the store; prints the counts "
                        "JSON (continuous-crawl ingestion step)")
    p.add_argument("--store", default=None, metavar="DIR",
                   help="signature-store directory for --dedup-increment")
    p.add_argument("--increment-id", default=None,
                   help="idempotency key for --dedup-increment (re-running "
                        "with the same id replaces that increment's output "
                        "instead of appending; default: a fresh uuid)")
    p.add_argument("--exact-only", action="store_true",
                   help="with --dedup-increment: skip the near-dup layer")
    p.add_argument("--anomaly-scan", default=None, metavar="RUN_ID",
                   help="with --manifest: modified-z-score scan of this "
                        "run's per-partition metrics against prior-run "
                        "history; prints anomalous rows as JSON lines, "
                        "exits 3 when any metric is anomalous, else 0")
    p.add_argument("--anomaly-z", type=float, default=3.5,
                   help="modified z-score threshold for --anomaly-scan")
    p.add_argument("--suggest-suite", default=None, metavar="OUT.json",
                   help="profile --input and write a suggested suite spec "
                        "(loadable via --suite) to OUT.json; prints the "
                        "per-constraint rationale JSON and exits 0 "
                        "(Deequ-style constraint suggestion)")
    p.add_argument("--snapshots", action="store_true",
                   help="write the --output verdict tables as "
                        "snapshot-committed tables (atomic commits, time "
                        "travel, optimistic concurrency — "
                        "sources/snapshots.SnapshotTable) instead of "
                        "plain overwrite parquet; non-manifest runs only")
    p.add_argument("--validate-increments", action="store_true",
                   help="with a snapshot-table --input and --manifest: "
                        "continuous validation — validate only the rows "
                        "appended since the last fully-validated "
                        "snapshot, resumably (crash-safe watermark in "
                        "the manifest; falls back to full re-validation "
                        "when rows changed); exits 0 when clean or "
                        "up-to-date, 3 on failed partitions")
    p.add_argument("--since-version", type=int, default=None, metavar="V",
                   help="with a snapshot-table --input: validate only the "
                        "rows appended after snapshot V (incremental "
                        "read); exits 2 if the range is not append-only "
                        "(a delete/merge/overwrite landed, or history "
                        "was expired) — rerun without --since-version")
    p.add_argument("--vacuum", default=None, metavar="TABLE_DIR",
                   help="delete a snapshot table's unreferenced data "
                        "files (crashed/lost commits); prints counts, "
                        "exits 0")
    p.add_argument("--history", default=None, metavar="TABLE_DIR",
                   help="print a snapshot table's version history as "
                        "JSON lines; exits 0")
    p.add_argument("--compact", default=None, metavar="TABLE_DIR",
                   help="rewrite a snapshot table's current version into "
                        "~--target-file-mb files as a new snapshot "
                        "(content identical; old versions still "
                        "time-travel until --expire-snapshots + --vacuum)")
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="compaction file-size target in MiB (default 128)")
    p.add_argument("--sort-by", default=None, metavar="COL[,COL...]",
                   help="with --compact: SORT compaction — range-sort the "
                        "rewrite on these columns so files carry disjoint "
                        "bounds and scan() prunes sharply on the leading "
                        "key (always rewrites)")
    p.add_argument("--zorder-by", default=None, metavar="COL[,COL...]",
                   help="with --compact: Z-ORDER compaction — cluster the "
                        "rewrite on the Morton curve so scan() prunes on "
                        "EVERY listed column (always rewrites; mutually "
                        "exclusive with --sort-by)")
    p.add_argument("--expire-snapshots", default=None, metavar="TABLE_DIR",
                   help="drop all but the newest --keep-last snapshot "
                        "records; freed files become vacuumable orphans")
    p.add_argument("--keep-last", type=int, default=3,
                   help="snapshots to retain with --expire-snapshots "
                        "(default 3; the current one is always kept)")
    p.add_argument("--older-than-hours", type=float, default=None,
                   help="with --expire-snapshots: additionally require "
                        "records to be at least this old (committed_at) "
                        "before expiring - the retention-age axis")
    p.add_argument("--ingest-audited", default=None, metavar="TABLE_DIR",
                   help="write-audit-publish: stage --input into the "
                        "snapshot table, validate the STAGED rows with "
                        "the suite, then atomically publish (exit 0) or "
                        "abort so bad data never becomes visible "
                        "(exit 3); honors --suite/--method/"
                        "--reject-ratio and --partition-by")
    p.add_argument("--partition-by", default=None, metavar="SPEC[,SPEC]",
                   help="layout for a table created by --ingest-audited: "
                        "plain columns or partition transforms "
                        "(days(ts), bucket(16,id), truncate(4,code)); "
                        "an existing table's recorded spec is inherited")
    p.add_argument("--tag", default=None, metavar="TABLE_DIR",
                   help="pin the current (or --at-version) snapshot "
                        "under the immutable --tag-name; tagged "
                        "versions survive --expire-snapshots")
    p.add_argument("--drop-tag", default=None, metavar="TABLE_DIR",
                   help="release the --tag-name tag (the pinned "
                        "version becomes expirable again)")
    p.add_argument("--tag-name", default=None,
                   help="tag name for --tag/--drop-tag")
    p.add_argument("--at-version", type=int, default=None,
                   help="snapshot to pin with --tag (default: current)")
    p.add_argument("--partitions", default=None, metavar="TABLE_DIR",
                   help="per-partition file/byte/row census of a "
                        "snapshot table from manifests only (no data "
                        "reads) — the skew question answered without "
                        "a scan; one JSON line per partition value")
    p.add_argument("--alter", default=None, metavar="TABLE_DIR",
                   help="metadata-only schema DDL on a snapshot table; "
                        "pair with exactly one of --rename OLD:NEW, "
                        "--drop COL, --widen COL:TYPE (no data files "
                        "are rewritten; old files keep reading through "
                        "scoped name mapping / native type widening)")
    p.add_argument("--rename", default=None, metavar="OLD:NEW")
    p.add_argument("--drop", default=None, metavar="COL")
    p.add_argument("--widen", default=None, metavar="COL:TYPE")
    p.add_argument("--add", default=None, metavar="COL:TYPE[:DEFAULT]",
                   help="add a column (existing rows read DEFAULT, or "
                        "NULL when omitted; no data rewritten)")
    p.add_argument("--export", default=None, metavar="TABLE_DIR",
                   help="materialize a snapshot table's state to plain "
                        "parquet at --to (current snapshot, or "
                        "--at-version / --tag-name / --at-timestamp) — "
                        "the hand-off face for consumers without this "
                        "library")
    p.add_argument("--to", default=None, metavar="OUT_DIR",
                   help="output parquet dir for --export")
    p.add_argument("--at-timestamp", type=float, default=None,
                   help="with --export: epoch seconds - export the "
                        "version current at that time (AS OF)")
    p.add_argument("--create-branch", default=None, metavar="TABLE_DIR",
                   help="create --branch-name at the current (or "
                        "--at-version) snapshot")
    p.add_argument("--fast-forward", default=None, metavar="TABLE_DIR",
                   help="publish --branch-name's commits into main "
                        "(refuses if main advanced; resumable)")
    p.add_argument("--drop-branch", default=None, metavar="TABLE_DIR",
                   help="discard --branch-name (vacuum reclaims its "
                        "orphaned files)")
    p.add_argument("--branches", default=None, metavar="TABLE_DIR",
                   help="list branches as one JSON object")
    p.add_argument("--branch-name", default=None,
                   help="branch for --create-branch/--fast-forward/"
                        "--drop-branch")
    p.add_argument("--drift-versions", default=None, metavar="TABLE_DIR",
                   help="per-partition KS/PSI drift of the current (or "
                        "--to-version) snapshot vs --from-version; "
                        "append-only ranges scan only the delta; one "
                        "JSON line per (partition, metric); exit 3 when "
                        "any partition drifted")
    p.add_argument("--from-version", default=None, metavar="V|TAG",
                   help="reference snapshot for --drift-versions")
    p.add_argument("--to-version", default=None, metavar="V|TAG",
                   help="snapshot to compare (default: current)")
    p.add_argument("--drift-cols", default=None, metavar="COL[,length(COL)]",
                   help="columns to histogram (default: turn_idx + "
                        "length(text) when present)")
    p.add_argument("--part-col", default=None,
                   help="partition column for drift comparisons "
                        "(default: dataval_part for --drift-versions, "
                        "part for --validate-increments)")
    p.add_argument("--hists-out", default=None, metavar="FILE.json",
                   help="persist the comparison's histograms; feed back "
                        "via --hists-in so the NEXT release gate scans "
                        "only its delta (each row read once, ever)")
    p.add_argument("--hists-in", default=None, metavar="FILE.json",
                   help="prior --hists-out for the --from-version "
                        "snapshot (skips re-scanning the reference)")
    p.add_argument("--master", default=None)
    p.add_argument("--cpus", type=int, default=None)
    return p


def _domain_list(raw: str | None) -> set[str] | None:
    """Comma-separated registrable domains -> normalized set.
    registrable_domain emits lowercase, space-free hosts, so ' Spam.COM'
    would silently never match without the strip+lower."""
    if not raw:
        return None
    out = {d.strip().lower() for d in raw.split(",")}
    return {d for d in out if d} or None


_METHOD_FILTER = {
    "nullness": ("not_null_text", "not_null_ts"),
    "uniqueness": ("unique_conv_id_turn_idx",),
    "sequence": ("sequence_integrity",),
    "monotonic_ts": ("monotonic_ts",),
    "domain": ("domain_role", "tool_consistency", "conv_id_format"),
    "envelope": ("text_len",),
    "drift": ("drift_text_len",),
    "status": ("status_gate",),
}


def build_suite(
    method: str = "all",
    reject_ratio: float | None = None,
    spec_path: str | None = None,
):
    """The suite the CLI runs: the declarative spec when --suite is
    given, else transcript_suite; optionally restricted to one check
    family and/or with an overridden partition-FAIL threshold. Every
    Suite config knob is propagated through the --method reconstruction
    (a rebuilt Suite(keep, part_col=...) used to drop
    reject_ratio/conv/order/ts overrides)."""
    from dataval_spark.constraints.core import Stats
    from dataval_spark.suite import Suite, transcript_suite

    if spec_path:
        from dataval_spark.spec import suite_from_spec

        suite = suite_from_spec(spec_path)
    else:
        suite = transcript_suite()
    if reject_ratio is not None:
        suite.reject_ratio_fail = reject_ratio
    if method != "all":
        names = _METHOD_FILTER[method]
        if not any(c.name in names for c in suite.constraints):
            # the method filter names are transcript-suite constraint
            # names; a custom --suite whose constraints match none of
            # them would otherwise run a Stats-only suite that approves
            # everything and exits 0 — a vacuous pass
            raise ValueError(
                f"--method {method} matched no constraint in this suite "
                f"(suite has: {sorted(c.name for c in suite.constraints)})"
            )
        # keep the selected family plus pure metrics contributors (Stats)
        # ONLY — "not c.flag" also matched Envelope (it carries
        # low_flag/high_flag instead of flag) and silently re-applied
        # text-length row flags under every --method
        keep = [c for c in suite.constraints if c.name in names or isinstance(c, Stats)]
        suite = Suite(
            keep,
            default_mask=suite.default_mask,
            part_col=suite.part_col,
            reject_ratio_fail=suite.reject_ratio_fail,
            conv_col=suite.conv_col,
            order_col=suite.order_col,
            ts_col=suite.ts_col,
        )
    return suite


def _read_input(spark, path: str, since_version: int | None):
    """The input table as a DataFrame. A snapshot-table root (committed
    ``meta/v<N>.json`` present) reads through its CURRENT snapshot's
    file list — never a raw directory glob, which would pick up
    uncommitted/orphaned data files. ``since_version`` narrows a
    snapshot input to the rows appended after that version
    (SnapshotTable.incremental_read); returns None (exit 2) when the
    range is not append-only, so callers never silently validate the
    wrong row set."""
    from dataval_spark.sources.snapshots import (
        IncrementalReadError,
        SnapshotTable,
    )

    t = SnapshotTable(spark, path)
    is_snapshot = t.exists()
    if since_version is not None:
        if not is_snapshot:
            print(
                f"--since-version requires a snapshot-table --input; "
                f"{path} has no committed snapshot",
                file=sys.stderr,
            )
            return None
        try:
            return t.incremental_read(since_version)
        except IncrementalReadError as exc:
            print(str(exc), file=sys.stderr)
            return None
    if is_snapshot:
        return t.read()
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from dataval_spark.manifest import run_resumable
    from dataval_spark.session import get_spark

    master = args.master or (f"local[{args.cpus}]" if args.cpus else None)
    spark = get_spark(app_name="dataval_spark_cli", master=master)

    if args.anomaly_scan:
        from dataval_spark.manifest import anomaly_scan

        if not args.manifest:
            print("--anomaly-scan requires --manifest", file=sys.stderr)
            return 2
        scan = anomaly_scan(
            spark, args.manifest, args.anomaly_scan, z_threshold=args.anomaly_z
        )
        scan.persist()
        try:
            # the scan is a grouped aggregation now: collect ONLY the
            # alert rows; `checked` is a count, not a full transfer
            n_checked = scan.count()
            alerts = scan.where("anomalous").collect()
        finally:
            scan.unpersist()
        for row in alerts:
            d = row.asDict()
            # MAD=0 anomalies carry robust_z = inf, which json.dumps
            # would emit as bare `Infinity` — invalid strict JSON,
            # breaking consumers exactly on the alert lines; the
            # anomalous flag + mad=0 carry the signal
            if d["robust_z"] is not None and d["robust_z"] == float("inf"):
                d["robust_z"] = None
            print(json.dumps(d))
        print(
            json.dumps({"checked": n_checked, "anomalous": len(alerts)}),
            file=sys.stderr,
        )
        return 3 if alerts else 0

    if args.compare:
        from dataval_spark.manifest import compare_runs

        if not args.manifest:
            print("--compare requires --manifest", file=sys.stderr)
            return 2
        run_a, run_b = args.compare.split(",", 1)
        for row in compare_runs(spark, args.manifest, run_a, run_b).orderBy("part").collect():
            print(json.dumps(row.asDict()))
        return 0

    if args.ingest_audited:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.ingest_audited)
        pb = (
            [c.strip() for c in args.partition_by.split(",") if c.strip()]
            if args.partition_by
            else None
        )
        handle = t.stage_append(spark.read.parquet(args.input), partition_by=pb)
        try:
            suite = build_suite(args.method, args.reject_ratio, args.suite)
            summary = suite.run(t.read_staged(handle)).summary()
            ok = summary["n_partitions_passed"] == summary["n_partitions"]
            version = t.publish(handle) if ok else None
        except BaseException:
            # a raising audit must not leave the staged copy behind
            t.abort_staged(handle)
            raise
        if not ok:
            # the staged rows never become a committed snapshot
            t.abort_staged(handle)
            version = t.current_version()
        print(json.dumps({"published": ok, "version": version, **summary}))
        return 0 if ok else 3

    if args.export:
        from dataval_spark.sources.snapshots import SnapshotTable

        if not args.to:
            print("--export requires --to OUT_DIR", file=sys.stderr)
            return 2
        pinned = [
            x for x in (args.at_version, args.tag_name, args.at_timestamp)
            if x is not None
        ]
        if len(pinned) > 1:
            print(
                "--export takes at most one of --at-version/--tag-name/"
                "--at-timestamp",
                file=sys.stderr,
            )
            return 2
        t = SnapshotTable(spark, args.export)
        if args.at_timestamp is not None:
            version = t.version_as_of(args.at_timestamp)
        elif args.tag_name is not None:
            version = t.tag_version(args.tag_name)
        else:
            version = (
                args.at_version if args.at_version is not None
                else t.current_version()
            )
        df = t.read(version)
        df.write.mode("error").parquet(args.to)
        print(json.dumps({
            "exported": args.to,
            "version": version,
            "rows": t.row_count(version=version),
        }))
        return 0

    if args.create_branch or args.fast_forward or args.drop_branch or args.branches:
        from dataval_spark.sources.snapshots import SnapshotTable

        root = (
            args.create_branch or args.fast_forward
            or args.drop_branch or args.branches
        )
        t = SnapshotTable(spark, root)
        if args.branches:
            print(json.dumps(t.branches(), sort_keys=True))
            return 0
        if not args.branch_name:
            print("branch ops require --branch-name", file=sys.stderr)
            return 2
        if args.create_branch:
            base = t.create_branch(args.branch_name, version=args.at_version)
            print(json.dumps({"branch": args.branch_name, "base": base}))
        elif args.fast_forward:
            head = t.fast_forward(args.branch_name)
            print(json.dumps({"published": args.branch_name, "head": head}))
        else:
            t.drop_branch(args.branch_name)
            print(json.dumps({"dropped": args.branch_name}))
        return 0

    if args.drift_versions:
        from dataval_spark.constraints.version_drift import (
            drift_between_versions,
        )
        from dataval_spark.sources.snapshots import SnapshotTable

        if args.from_version is None:
            print("--drift-versions requires --from-version", file=sys.stderr)
            return 2

        def _ver(v):
            return int(v) if v is not None and v.isdigit() else v

        ref_hists = None
        if args.hists_in:
            with open(args.hists_in) as fh:
                ref_hists = json.load(fh)
        t = SnapshotTable(spark, args.drift_versions)
        res = drift_between_versions(
            t,
            _ver(args.from_version),
            _ver(args.to_version),
            columns=args.drift_cols.split(",") if args.drift_cols else None,
            part_col=args.part_col or "dataval_part",
            ref_hists=ref_hists,
        )
        if args.hists_out:
            with open(args.hists_out, "w") as fh:
                json.dump(
                    {k: res[k] for k in ("cur_version", "hists", "bins")}, fh
                )
        for rec in res["records"]:
            print(json.dumps(rec, sort_keys=True))
        print(json.dumps({
            "mode": res["mode"],
            "ref_version": res["ref_version"],
            "cur_version": res["cur_version"],
            "any_drifted": res["any_drifted"],
        }))
        return 3 if res["any_drifted"] else 0

    if args.alter:
        from dataval_spark.sources.snapshots import SnapshotTable

        ops = [o for o in (args.rename, args.drop, args.widen, args.add) if o]
        if len(ops) != 1:
            print(
                "--alter requires exactly one of "
                "--rename/--drop/--widen/--add",
                file=sys.stderr,
            )
            return 2
        t = SnapshotTable(spark, args.alter)
        if args.rename:
            old, _, new = args.rename.partition(":")
            v = t.rename_column(old, new)
            did = {"renamed": old, "to": new}
        elif args.drop:
            v = t.drop_column(args.drop)
            did = {"dropped": args.drop}
        elif args.add:
            col, _, rest = args.add.partition(":")
            typ, _, dflt = rest.partition(":")
            default = None
            if dflt:
                default = {
                    "bigint": int, "int": int, "smallint": int,
                    "tinyint": int, "float": float, "double": float,
                    "boolean": lambda s: s.lower() == "true",
                }.get(typ, str)(dflt)
            v = t.add_column(col, typ, default=default)
            did = {"added": col, "type": typ, "default": default}
        else:
            col, _, typ = args.widen.partition(":")
            v = t.widen_column(col, typ)
            did = {"widened": col, "to": typ}
        print(json.dumps({**did, "version": v, "schema": dict(t.read().dtypes)}))
        return 0

    if args.tag or args.drop_tag:
        from dataval_spark.sources.snapshots import SnapshotTable

        if not args.tag_name:
            print("--tag/--drop-tag require --tag-name", file=sys.stderr)
            return 2
        t = SnapshotTable(spark, args.tag or args.drop_tag)
        if args.tag:
            v = t.tag(args.tag_name, version=args.at_version)
            print(json.dumps({"tagged": args.tag_name, "version": v}))
        else:
            t.drop_tag(args.tag_name)
            print(json.dumps({"dropped": args.tag_name, "tags": t.tags()}))
        return 0

    if args.partitions:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.partitions)
        for row in (
            t.partitions_df().orderBy("total_bytes", ascending=False).collect()
        ):
            d = row.asDict()
            d["partition"] = dict(d["partition"] or {})
            print(json.dumps(d, sort_keys=True))
        return 0

    if args.vacuum:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.vacuum)
        print(json.dumps({
            "vacuumed_files": t.vacuum(),
            "current_version": t.current_version(),
        }))
        return 0

    if args.compact:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.compact)
        before = len(t.files(t.snapshot()))
        split = lambda s: [c.strip() for c in s.split(",") if c.strip()]  # noqa: E731
        v = t.compact(
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            sort_by=split(args.sort_by) if args.sort_by else None,
            zorder_by=split(args.zorder_by) if args.zorder_by else None,
        )
        print(json.dumps({
            "compacted": v is not None,
            "new_version": v,
            "files_before": before,
            "files_after": len(t.files(t.snapshot())),
        }))
        return 0

    if args.expire_snapshots:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.expire_snapshots)
        n = t.expire_snapshots(
            keep_last=args.keep_last,
            older_than_s=(
                args.older_than_hours * 3600.0
                if args.older_than_hours is not None
                else None
            ),
        )
        print(json.dumps({
            "expired_snapshots": n,
            "current_version": t.current_version(),
        }))
        return 0

    if args.history:
        from dataval_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(spark, args.history)
        cur = t.current_version()
        if cur is None:
            print(json.dumps({"versions": 0}))
            return 0
        for k in range(cur + 1):
            try:
                snap = t.snapshot(k)
            except FileNotFoundError:
                continue  # a lost race left this slot empty: skip
            print(json.dumps({
                "version": snap["version"],
                "parent": snap["parent"],
                "operation": snap["operation"],
                "n_files": len(t.files(snap)),
                "bytes": sum(int(s) for _, s in t.files(snap)),
                # metadata-only when every file has a recorded count,
                # else null (never a surprise full scan from --history)
                "rows": (
                    t.row_count(version=k)
                    if all(
                        rel in t.file_rows(snap) for rel, _ in t.files(snap)
                    )
                    else None
                ),
                "current": snap["version"] == cur,
                "committed_at": snap.get("committed_at"),
            }))
        return 0

    df = _read_input(spark, args.input, args.since_version)
    if df is None:
        return 2

    if args.suggest_suite:
        from dataval_spark.constraints.suggest import profile_table, suggest_spec

        prof = profile_table(df)
        spec, rationale = suggest_spec(
            prof,
            reject_ratio_fail=(
                0.10 if args.reject_ratio is None else args.reject_ratio
            ),
        )
        # fail fast if the suggestion would not load back through --suite
        from dataval_spark.spec import suite_from_spec

        suite_from_spec(spec)
        with open(args.suggest_suite, "w") as f:
            json.dump(spec, f, indent=2)
        print(json.dumps({
            "spec": args.suggest_suite,
            "n_constraints": len(spec["constraints"]),
            "rationale": rationale,
        }))
        return 0

    if args.dedup_increment:
        from dataval_spark.streaming.increment import (
            increment_batch_writer,
            increment_key,
            read_store,
        )

        if not args.store:
            print("--dedup-increment requires --store", file=sys.stderr)
            return 2
        inc_id = args.increment_id or uuid.uuid4().hex
        # exclude this increment's own prior partition so an idempotent
        # same-id re-run reports the store it actually deduped against,
        # not one inflated by its previous attempt's delta
        n_store_before = read_store(
            spark, args.store, exclude_key=increment_key(inc_id, 0)
        ).count()
        writer = increment_batch_writer(
            args.store, args.dedup_increment, run_id=inc_id,
            near=not args.exact_only,
            checkpoint_dir=args.checkpoint_dir,
        )
        writer(df, 0)
        # count THIS increment's survivors from its own batch directory
        # (shared key derivation — the writer's scheme cannot silently
        # diverge from this read); a zero-survivor increment writes an
        # empty dir, which reads as zero rows under the batch schema
        key = increment_key(inc_id, 0)
        n_kept = (
            spark.read.schema(df.schema)
            .parquet(f"{args.dedup_increment}/batch={key}")
            .count()
        )
        print(json.dumps({
            "n_batch": df.count(),
            "n_kept": n_kept,
            "n_store_before": n_store_before,
            "n_store_after": read_store(spark, args.store).count(),
            "increment_id": inc_id,
        }))
        return 0

    if args.corpus_report:
        from dataval_spark.operators.corpus import corpus_report

        df = spark.read.parquet(args.input)
        for row in corpus_report(df).collect():
            print(json.dumps(row.asDict()))
        return 0

    if args.prepare_corpus:
        from dataval_spark.operators.corpus import prepare_corpus

        benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
        langs = tuple(args.langs.split(",")) if args.langs else None
        embeddings = (
            spark.read.parquet(args.embeddings) if args.embeddings else None
        )
        res = prepare_corpus(
            df, benchmark,
            min_tokens=args.min_tokens, langs=langs,
            window_tokens=args.window_tokens,
            pack_shards=args.pack_shards,
            checkpoint_dir=args.checkpoint_dir,
            gopher=args.gopher,
            embeddings=embeddings, emb_dim=args.emb_dim,
            budget_tokens=args.budget_tokens, mixing_tau=args.mixing_tau,
            strip_boilerplate=args.strip_boilerplate,
            dedup_url_col=args.url_col,
            domain_block=_domain_list(args.domain_block),
            domain_allow=_domain_list(args.domain_allow),
            paragraph_dedup=args.paragraph_dedup,
            remove_spans=args.remove_spans,
            span_tokens=args.span_tokens,
            split_long=args.split_long,
        )
        # clustered by its directory key, like every partitioned write of
        # the CLI (a rebalance hint): a lang lands in one file, not in one
        # per write task that holds some of its rows
        res["packed"].hint("rebalance", "lang").write.mode("overwrite").partitionBy(
            "lang"
        ).parquet(f"{args.prepare_corpus}/packed")
        funnel = res["stats"]()
        res["release"]()
        if res["mixture"] is not None:
            funnel["mixture"] = res["mixture"].sources
        print(json.dumps(funnel))
        return 0

    try:
        suite = build_suite(args.method, args.reject_ratio, args.suite)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2

    if args.validate_increments:
        from dataval_spark.manifest import validate_snapshot_increments
        from dataval_spark.sources.snapshots import SnapshotTable

        if not args.manifest:
            print("--validate-increments requires --manifest", file=sys.stderr)
            return 2
        t = SnapshotTable(spark, args.input)
        if not t.exists():
            print(
                f"--validate-increments requires a snapshot-table "
                f"--input; {args.input} has no committed snapshot",
                file=sys.stderr,
            )
            return 2
        result = validate_snapshot_increments(
            spark, args.input, suite, args.manifest,
            verdicts_path=(f"{args.output}/verdicts" if args.output else None),
            drift_columns=(
                args.drift_cols.split(",") if args.drift_cols else None
            ),
            drift_part_col=args.part_col or "part",
        )
        if result is None:
            print(json.dumps({
                "up_to_date": True,
                "current_version": t.current_version(),
            }))
            return 0
        summary = result.summary()
        summary["up_to_date"] = False
        summary["current_version"] = t.current_version()
        drift = getattr(result, "drift", None)
        if drift is not None:
            for rec in drift["records"]:
                if rec.get("drifted"):
                    print(json.dumps({"drift_alert": rec}, sort_keys=True))
            summary["drift_any"] = drift["any_drifted"]
        print(json.dumps(summary))
        ok = summary.get("n_partitions_passed") == summary.get("n_partitions")
        if drift is not None and drift["any_drifted"]:
            ok = False
        return 0 if ok else 3

    if args.baseline_run:
        from dataval_spark.constraints.drift import Drift
        from dataval_spark.manifest import baseline_from_manifest

        if not args.manifest:
            print("--baseline-run requires --manifest", file=sys.stderr)
            return 2
        if not any(isinstance(c, Drift) for c in suite.constraints):
            # silently running zero baseline comparisons would report a
            # vacuous drift pass against the trusted run
            print(
                "--baseline-run: the effective suite has no drift "
                "constraint (dropped by --method, or missing from the "
                "--suite spec) — nothing to compare", file=sys.stderr,
            )
            return 2
        suite.constraints = [
            Drift(expr=c.expr, bins=c.bins, psi_threshold=c.psi_threshold,
                  ks_threshold=c.ks_threshold, name=c.name,
                  baseline=baseline_from_manifest(
                      spark, args.manifest, args.baseline_run, c.name, c.nbins))
            if isinstance(c, Drift) else c
            for c in suite.constraints
        ]

    shared_result = None
    if args.clean_output:
        if args.manifest:
            # resumable validation runs on a SUBSET (resume filter), so
            # clean must keep its own full-input pass; share within it
            cleaned, quarantine, clean_flagged = suite.clean(df, persist=True)
        else:
            # ONE wide pass: validation metrics AND both clean outputs
            # derive from the same persisted flagged frame
            shared_result = suite.run(df, persist=True, keep_extra=tuple(df.columns))
            cleaned, quarantine = suite.split_flagged(shared_result.flagged, df.columns)
        for name, out in (("cleaned", cleaned), ("quarantine", quarantine)):
            out.hint("rebalance", suite.part_col).write.mode("overwrite").partitionBy(
                suite.part_col
            ).parquet(f"{args.clean_output}/{name}")
        if args.manifest and clean_flagged is not None:
            # drop ONLY clean's persist — clearCache() here would evict
            # every cached frame of an embedding session (tests, library
            # callers running cli_main in-process)
            clean_flagged.unpersist()

    if args.manifest:
        run_id = args.run_id or uuid.uuid4().hex[:12]
        verdicts_path = None if args.validate else (
            f"{args.output}/verdicts" if args.output else None
        )
        result = run_resumable(spark, df, suite, args.manifest, run_id, verdicts_path,
                               input_path=args.input)
        if result is None:
            print("Nothing to process", file=sys.stderr)
            return 0
    else:
        writing = bool(not args.validate and args.output)
        # persist: the three output tables below all derive from the same
        # scan+window plan — without it each write recomputes the scan
        result = shared_result or suite.run(df, persist=writing)
        if writing and args.snapshots:
            from dataval_spark.sources.tableio import TableIO

            io = TableIO(spark, args.output, snapshots=True)
            io.replace(result.row_verdicts, "verdicts", partition_by=["part"])
            io.replace(
                result.partition_verdicts.coalesce(1), "partition_verdicts"
            )
            io.replace(result.violations, "violations", partition_by=["part"])
        elif writing:
            for name, out in (("verdicts", result.row_verdicts),
                              ("violations", result.violations)):
                out.hint("rebalance", "part").write.mode("overwrite").partitionBy(
                    "part"
                ).parquet(f"{args.output}/{name}")
            result.partition_verdicts.coalesce(1).write.mode("overwrite").parquet(
                f"{args.output}/partition_verdicts"
            )
        result.unpersist()

    if args.report:
        print(result.report(), file=sys.stderr)
    summary = result.summary()
    print(json.dumps(summary))
    n_failed_parts = summary["n_partitions"] - summary["n_partitions_passed"]
    n_rejected = summary["n_rows"] - summary["n_approved"]
    # exit-code contract: 4 = partition failures, 3 = row rejections only
    if n_failed_parts:
        return 4
    if n_rejected:
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
