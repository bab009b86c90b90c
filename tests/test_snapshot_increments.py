"""validate_snapshot_increments: the continuous-validation loop over a
growing snapshot table — validate exactly the rows appended since the
last fully-validated snapshot, resumable through the manifest, with a
sound fallback to full re-validation when rows changed."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dataval_spark.fixtures import transcripts
from dataval_spark.manifest import (
    COMPLETE_PART,
    read_manifest,
    run_resumable,
    suite_hash,
    validate_snapshot_increments,
)
from dataval_spark.sources.snapshots import SnapshotTable
from dataval_spark.suite import transcript_suite


def _sentinels(spark, mp):
    m = read_manifest(spark, mp)
    if m is None:
        return []
    return sorted(
        (r.run_id, json.loads(r.metrics_json))
        for r in m.where(F.col("part") == COMPLETE_PART).collect()
    )


def test_first_run_full_then_delta_then_idempotent(spark, tmp_path):
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()

    # empty table: nothing to do, no manifest writes
    assert validate_snapshot_increments(spark, table, suite, mp) is None

    b1 = transcripts(spark, n_convs=40, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    r1 = validate_snapshot_increments(spark, table, suite, mp)
    assert sum(m["n_rows"] for m in r1.partition_metrics) == b1.count()
    [(rid, meta)] = _sentinels(spark, mp)
    assert rid.endswith("-v0") and meta["mode"] == "full" and meta["to_version"] == 0

    # up to date: None, no new sentinel
    assert validate_snapshot_increments(spark, table, suite, mp) is None
    assert len(_sentinels(spark, mp)) == 1

    # append -> only the delta is validated
    b2 = transcripts(spark, n_convs=15, seed=9, n_parts=2)
    t.append(b2, partition_by=["part"])
    r2 = validate_snapshot_increments(spark, table, suite, mp)
    assert sum(m["n_rows"] for m in r2.partition_metrics) == b2.count()
    sents = _sentinels(spark, mp)
    assert [s[0][-3:] for s in sents] == ["-v0", "-v1"]
    assert sents[1][1] == {"from_version": 0, "to_version": 1, "mode": "delta"}


def test_row_change_falls_back_to_full(spark, tmp_path):
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    b1 = transcripts(spark, n_convs=30, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    validate_snapshot_increments(spark, table, suite, mp)

    # a delete poisons the (0, cur] range -> full re-validation
    t.delete_where({"turn_idx": (0, 0)}, partition_by=["part"])
    r = validate_snapshot_increments(spark, table, suite, mp)
    n_now = t.read().count()
    assert sum(m["n_rows"] for m in r.partition_metrics) == n_now
    last = _sentinels(spark, mp)[-1][1]
    assert last["mode"] == "full" and last["to_version"] == t.current_version()


def test_crash_before_sentinel_resumes_without_recompute(spark, tmp_path):
    """Partition rows committed but no sentinel = a crashed increment:
    the next call re-runs the SAME increment run_id, skips committed
    partitions (run_resumable), and writes the sentinel."""
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    b1 = transcripts(spark, n_convs=30, seed=3, n_parts=4)
    t.append(b1, partition_by=["part"])

    # simulate the crash: commit the partition rows directly, no sentinel
    run_resumable(spark, t.read(), suite, mp, f"snap-{suite_hash(suite)[:8]}-v0")
    assert _sentinels(spark, mp) == []

    r = validate_snapshot_increments(spark, table, suite, mp)
    # every partition was already committed -> nothing recomputed
    assert r is None
    [(rid, meta)] = _sentinels(spark, mp)
    assert rid.endswith("-v0")
    # and the table is now up to date
    assert validate_snapshot_increments(spark, table, suite, mp) is None
    # manifest holds exactly one row per partition plus one sentinel
    m = read_manifest(spark, mp)
    assert m.where(F.col("part") != COMPLETE_PART).count() == 4


def test_suite_change_revalidates_from_scratch(spark, tmp_path):
    """The watermark is keyed on suite_hash: a different suite sees no
    completed increments and validates the full current snapshot."""
    from dataval_spark.constraints.core import NotNull
    from dataval_spark.suite import Suite

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    t.append(transcripts(spark, n_convs=20, seed=3, n_parts=2), partition_by=["part"])
    s1 = transcript_suite()
    validate_snapshot_increments(spark, table, s1, mp)

    s2 = Suite([NotNull("text")], part_col="part")
    assert suite_hash(s2) != suite_hash(s1)
    r = validate_snapshot_increments(spark, table, s2, mp)
    assert r is not None and sum(m["n_rows"] for m in r.partition_metrics) == t.read().count()
    sents = _sentinels(spark, mp)
    assert len(sents) == 2  # one completion per suite


def test_cli_validate_increments(spark, tmp_path, capsys):
    from dataval_spark.cli import main as cli_main

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    t.append(transcripts(spark, n_convs=30, seed=3, n_parts=2), partition_by=["part"])

    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 3) and out["up_to_date"] is False and out["n_rows"] > 0

    # idempotent second call: up to date, exit 0
    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["up_to_date"] is True

    # append -> delta only
    b2 = transcripts(spark, n_convs=10, seed=11, n_parts=2)
    t.append(b2, partition_by=["part"])
    rc = cli_main(["--input", table, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == b2.count()

    # guards: missing manifest / non-snapshot input
    rc = cli_main(["--input", table, "--validate-increments", "--cpus", "4"])
    assert rc == 2 and "requires --manifest" in capsys.readouterr().err
    plain = str(tmp_path / "plain")
    transcripts(spark, n_convs=5, seed=1, n_parts=2).write.parquet(plain)
    rc = cli_main(["--input", plain, "--validate-increments", "--manifest", mp,
                   "--cpus", "4"])
    assert rc == 2 and "snapshot" in capsys.readouterr().err


def test_continuous_drift_gate_rides_increments(spark, tmp_path):
    """drift_columns adds the cross-version drift gate to the loop:
    the first (full) pass only seeds the baseline histograms beside the
    manifest; a clean delta passes with mode 'incremental' and reuses
    the persisted histograms (no base rescan); a planted 3x-length
    shift on one partition is flagged on exactly that partition."""
    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    cols = ["length(text)"]

    b1 = transcripts(spark, n_convs=60, seed=3, n_parts=2)
    t.append(b1, partition_by=["part"])
    r1 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    assert getattr(r1, "drift", None) is None  # baseline seeded, no ref
    hists_path = f"{mp}_drift_hists.json"
    import os

    assert os.path.exists(hists_path)
    assert json.loads(open(hists_path).read())["cur_version"] == 0

    # clean delta: same generator, different seed -> same distribution
    b2 = transcripts(spark, n_convs=30, seed=11, n_parts=2)
    t.append(b2, partition_by=["part"])
    r2 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    d2 = r2.drift
    assert d2 is not None and d2["mode"] == "incremental"
    assert {r["bins_source"] for r in d2["records"]} == {"ref_hists"}
    assert not d2["any_drifted"]
    assert json.loads(open(hists_path).read())["cur_version"] == 1

    # planted shift: partition 0's new rows are ~3x longer
    b3 = (
        transcripts(spark, n_convs=30, seed=13, n_parts=2)
        .where(F.col("part") == 0)
        .withColumn("text", F.concat(F.col("text"), F.col("text"), F.col("text")))
    )
    t.append(b3, partition_by=["part"])
    r3 = validate_snapshot_increments(
        spark, table, suite, mp, drift_columns=cols
    )
    d3 = r3.drift
    assert d3 is not None and d3["any_drifted"]
    flagged = {
        r["part"]
        for r in d3["records"]
        if r.get("drifted") and r["part"] != "*"
    }
    assert flagged == {"0"}


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _row(run_id, part, n_rows=3, committed_at=1.5):
    return {
        "run_id": run_id, "suite_hash": "h" * 16, "part": part,
        "n_rows": n_rows, "n_approved": n_rows - 1, "n_rejected": 1,
        "passed": part % 2 == 0, "metrics_json": json.dumps({"part": part}),
        "input_fp": f"fp{part}", "committed_at": committed_at,
    }


def test_commit_rows_starts_no_spark_job(spark, tmp_path):
    from dataval_spark.manifest import _commit_rows

    mp = str(tmp_path / "manifest")
    rows = [_row("r", p) for p in range(3)]
    _, jobs = _jobs_run_by(spark, lambda: _commit_rows(spark, mp, rows))
    assert jobs == 0
    assert len(list((tmp_path / "manifest").glob("part-*.parquet"))) == 1
    assert not list((tmp_path / "manifest").glob("_tmp_*"))


def test_commit_rows_round_trip_exact_types(spark, tmp_path):
    """Driver-written rows read back through read_manifest with the
    MANIFEST_SCHEMA types, also beside files of the Spark writer the
    manifest used before (an existing manifest keeps working)."""
    from dataval_spark.manifest import MANIFEST_SCHEMA, _commit_rows

    mp = str(tmp_path / "manifest")
    old = [_row("old", p, n_rows=2**40, committed_at=1.25) for p in range(2)]
    spark.createDataFrame(old, schema=MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(mp)
    new = [_row("new", p, n_rows=2**33 + p, committed_at=1e9 + 0.5) for p in (-2, 0, 7)]
    _commit_rows(spark, mp, new)

    m = read_manifest(spark, mp)
    assert dict(m.dtypes) == {
        "run_id": "string", "suite_hash": "string", "part": "int",
        "n_rows": "bigint", "n_approved": "bigint", "n_rejected": "bigint",
        "passed": "boolean", "metrics_json": "string", "input_fp": "string",
        "committed_at": "double",
    }
    got = sorted((r.asDict() for r in m.collect()), key=lambda r: (r["run_id"], r["part"]))
    want = sorted(old + new, key=lambda r: (r["run_id"], r["part"]))
    assert got == want
    for r in got:
        assert type(r["part"]) is int and type(r["committed_at"]) is float
    # the driver-written file's own physical types match the Spark writer's
    import pyarrow.parquet as pq

    [f] = [
        f for f in (tmp_path / "manifest").glob("part-*.parquet")
        if not f.name.endswith(".snappy.parquet")  # the Spark writer's
    ]
    assert pq.read_schema(f).field("part").type == "int32"
    assert pq.read_schema(f).field("n_rows").type == "int64"
    # and pyarrow reads the mixed directory as one dataset
    assert pq.read_table(mp).num_rows == len(old) + len(new)


def _next_batch(spark, t, seed):
    b = transcripts(spark, n_convs=15, seed=seed, n_parts=2)
    t.append(b, partition_by=["part"])
    return b.count()


def test_leftover_tmp_file_invisible_to_resume(spark, tmp_path):
    """A commit that crashed before its rename leaves a _tmp_ file: no
    reader sees it, so it neither marks the increment done nor shows up
    in read_manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataval_spark.manifest import _arrow_schema

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    _next_batch(spark, t, 3)
    validate_snapshot_increments(spark, table, suite, mp)
    n_before = read_manifest(spark, mp).count()

    # the crashed commit of v1: its partition rows and sentinel
    tag = f"snap-{suite_hash(suite)[:8]}-v"
    crashed = [
        {**_row(f"{tag}1", p), "suite_hash": suite_hash(suite)}
        for p in (0, 1, COMPLETE_PART)
    ]
    pq.write_table(
        pa.Table.from_pylist(crashed, schema=_arrow_schema()),
        str(tmp_path / "manifest" / "_tmp_crashed.parquet"),
    )
    assert read_manifest(spark, mp).count() == n_before

    n2 = _next_batch(spark, t, 9)
    r = validate_snapshot_increments(spark, table, suite, mp)
    assert r is not None and r.summary()["n_rows"] == n2
    assert _sentinels(spark, mp)[-1][1]["mode"] == "delta"


def test_delta_reads_manifest_once_and_commits_one_file(spark, tmp_path, monkeypatch):
    """A delta call reads the manifest once and commits one file that
    holds the increment's partition rows and its sentinel."""
    import pyarrow.parquet as pq

    from dataval_spark import manifest as manifest_mod

    table = str(tmp_path / "tbl")
    mp = str(tmp_path / "manifest")
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    _next_batch(spark, t, 3)
    validate_snapshot_increments(spark, table, suite, mp)
    n2 = _next_batch(spark, t, 9)

    calls = []
    real = manifest_mod.read_manifest

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(manifest_mod, "read_manifest", counting)
    before = set((tmp_path / "manifest").glob("*.parquet"))
    r = validate_snapshot_increments(spark, table, suite, mp)
    added = set((tmp_path / "manifest").glob("*.parquet")) - before
    assert len(calls) == 1
    assert len(added) == 1
    rows = pq.read_table(added.pop()).to_pylist()
    assert {row["run_id"] for row in rows} == {f"snap-{suite_hash(suite)[:8]}-v1"}
    assert sorted(row["part"] for row in rows) == [COMPLETE_PART, 0, 1]
    parts = [row for row in rows if row["part"] != COMPLETE_PART]
    assert sum(row["n_rows"] for row in parts) == n2 == r.summary()["n_rows"]


def _unique_batch(spark, t, k, n_parts=4):
    """Batch k: clean transcripts whose conv ids no other batch shares."""
    b = transcripts(spark, n_convs=40, seed=k + 1, n_parts=n_parts, with_defects=False)
    b = b.withColumn("conv_id", F.concat("conv_id", F.lit(f"-b{k}")))
    t.append(b, partition_by=["part"])


def _verdict_keys(spark, vp):
    return [(r.conv_id, r.turn_idx) for r in spark.read.parquet(vp).select("conv_id", "turn_idx").collect()]


def _assert_verdicts_match_table(spark, t, vp):
    keys = _verdict_keys(spark, vp)
    want = sorted((r.conv_id, r.turn_idx) for r in t.read().select("conv_id", "turn_idx").collect())
    assert len(keys) == len(set(keys))
    assert sorted(keys) == want


def test_delta_verdicts_add_rows(spark, tmp_path):
    """Each delta adds its verdicts beside the earlier increments': the
    verdict rows equal the table rows after every call."""
    table, mp, vp = (str(tmp_path / n) for n in ("tbl", "manifest", "verdicts"))
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    for k in range(3):
        _unique_batch(spark, t, k)
        r = validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
        assert r is not None
        assert _sentinels(spark, mp)[-1][1]["mode"] == ("full" if k == 0 else "delta")
        _assert_verdicts_match_table(spark, t, vp)
    # one directory per increment, named by the watermark it starts
    # from (-1: the full pass); one file per part in each
    scopes = sorted(p.name for p in (tmp_path / "verdicts").iterdir())
    assert scopes == ["from_version=-1", "from_version=0", "from_version=1"]
    assert len(list((tmp_path / "verdicts").glob("*/part=*/*.parquet"))) == 3 * 4


def _crash_commit_once(monkeypatch, call):
    """Run ``call`` with the manifest commit raising: the verdicts are
    written, the increment is not recorded."""
    from dataval_spark import manifest as manifest_mod

    def crash(*a, **k):
        raise RuntimeError("crashed before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(manifest_mod, "_commit_rows", crash)
        with pytest.raises(RuntimeError, match="crashed"):
            call()


def test_delta_replay_replaces_only_its_own_verdicts(spark, tmp_path, monkeypatch):
    """Verdicts written, manifest commit lost, then the re-run: at the
    same version, and after a further append (the replay then covers
    more versions but starts from the same watermark). Either way the
    replay replaces the lost attempt's verdicts and keeps the earlier
    increments'."""
    table, mp, vp = (str(tmp_path / n) for n in ("tbl", "manifest", "verdicts"))
    t = SnapshotTable(spark, table)
    suite = transcript_suite()

    def run():
        return validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)

    _unique_batch(spark, t, 0)
    run()
    _unique_batch(spark, t, 1)
    _crash_commit_once(monkeypatch, run)
    r = run()
    assert r is not None and _sentinels(spark, mp)[-1][1]["mode"] == "delta"
    _assert_verdicts_match_table(spark, t, vp)

    _unique_batch(spark, t, 2)
    _crash_commit_once(monkeypatch, run)
    _unique_batch(spark, t, 3)
    r = run()
    assert r is not None
    assert _sentinels(spark, mp)[-1][1] == {"from_version": 1, "to_version": 3, "mode": "delta"}
    _assert_verdicts_match_table(spark, t, vp)


def test_full_pass_replaces_the_whole_verdict_set(spark, tmp_path):
    """A delete poisons the range, and the full pass that follows leaves
    no verdicts for the deleted rows, a whole deleted part included —
    and none at all once every row is deleted."""
    table, mp, vp = (str(tmp_path / n) for n in ("tbl", "manifest", "verdicts"))
    t = SnapshotTable(spark, table)
    suite = transcript_suite()
    _unique_batch(spark, t, 0)
    validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
    _unique_batch(spark, t, 1)
    validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)

    t.delete_where({"part": (3, 3)})
    assert t.read().where("part = 3").count() == 0
    r = validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp)
    assert r is not None and _sentinels(spark, mp)[-1][1]["mode"] == "full"
    assert spark.read.parquet(vp).where("part = 3").count() == 0
    _assert_verdicts_match_table(spark, t, vp)

    t.delete_where({"part": (0, 3)})
    assert t.read().count() == 0
    assert validate_snapshot_increments(spark, table, suite, mp, verdicts_path=vp) is None
    assert _sentinels(spark, mp)[-1][1]["mode"] == "full"
    assert not list((tmp_path / "verdicts").rglob("*.parquet"))
