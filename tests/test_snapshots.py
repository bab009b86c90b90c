"""SnapshotTable: the Iceberg commit contract on plain parquet —
snapshot-atomic commits, optimistic concurrency, time travel, crash
safety, metadata-derived lineage fingerprints."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dataval_spark.sources.snapshots import SnapshotTable
from dataval_spark.sources.tableio import TableIO


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("part")
    )


def test_append_time_travel_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read()

    v0 = t.append(_df(spark, 0, 5), partition_by=["part"])
    v1 = t.append(_df(spark, 5, 8), partition_by=["part"])
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 8
    # time travel: every committed version stays readable
    assert t.read(0).count() == 5
    # hive partition column survives the explicit file-list read
    assert sorted(r.part for r in t.read().select("part").distinct().collect()) == [0, 1]

    v2 = t.overwrite(_df(spark, 100, 103), partition_by=["part"])
    assert t.read().count() == 3 and t.read(v1).count() == 8
    v3 = t.rollback(v1)
    assert v3 == v2 + 1
    assert t.read().count() == 8          # content is v1's again
    assert t.read(v2).count() == 3        # history not rewritten


def test_crash_between_data_write_and_commit_is_invisible(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5), partition_by=["part"])
    before = sorted(r.id for r in t.read().collect())
    # crash simulation: data files land, no snapshot commits them
    t._write_data_files(_df(spark, 1000, 1100), ["part"])
    assert sorted(r.id for r in t.read().collect()) == before
    orphans = t.orphan_files()
    assert orphans and all("part=" in o for o in orphans)
    assert t.vacuum() == len(orphans)
    assert t.orphan_files() == []
    # vacuum never touches referenced files: full history still reads
    assert t.read(0).count() == 5


def test_optimistic_concurrency_retry_keeps_both_appends(spark, tmp_path):
    """Losing the version-slot rename race must retry on top of the
    interloper's snapshot so BOTH appends' rows survive — Iceberg's
    append-commit semantics."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 4), partition_by=["part"])
    # interloper claims the next slot directly (same content + 1 marker
    # file list so its rows are distinguishable is unnecessary — reuse
    # the current snapshot under the next version)
    nv = t.current_version() + 1
    snap = dict(t.snapshot(), version=nv, parent=t.current_version())
    t._write_text(t._vpath(nv), json.dumps(snap))
    v = t.append(_df(spark, 10, 12), partition_by=["part"])
    assert v == nv + 1  # landed AFTER the interloper
    got = sorted(r.id for r in t.read().collect())
    assert got == [0, 1, 2, 3, 10, 11]


def test_append_schema_guard(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3), partition_by=["part"])
    bad = spark.range(3).select(
        F.col("id").cast("string").alias("id"), F.lit(0).alias("part")
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad, partition_by=["part"])
    # overwrite may change the schema (new snapshot owns its shape)
    t.overwrite(bad, partition_by=["part"])
    assert dict(t.read().dtypes)["id"] == "string"


def test_metadata_lineage_fingerprints_drive_resume(spark, tmp_path):
    """input_fingerprints come from the snapshot's file list (no FS
    scan) and behave like manifest.input_fingerprints: stable across
    reads, changed exactly for partitions whose files changed."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 8), partition_by=["part"])
    fps1 = t.input_fingerprints("part")
    assert set(fps1) == {0, 1}
    assert t.input_fingerprints("part") == fps1  # deterministic
    # append rows that land only in part 1
    t.append(
        spark.range(101, 104, 2).select(
            F.col("id"), F.lit(1).cast("int").alias("part")
        ),
        partition_by=["part"],
    )
    fps2 = t.input_fingerprints("part")
    assert fps2[0] == fps1[0] and fps2[1] != fps1[1]
    # time-travel fingerprints reproduce the old lineage exactly
    assert t.input_fingerprints("part", version=0) == fps1


def test_empty_append_and_typed_empty_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 0), partition_by=["part"])
    out = t.read()
    assert out.count() == 0
    assert set(out.columns) == {"id", "part"}


def test_tableio_snapshot_mode_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path), snapshots=True)
    assert io.use_snapshots and not io.use_iceberg
    assert not io.exists("t1")
    df = _df(spark, 0, 10)
    io.replace(df, "t1", partition_by=["part"])
    assert io.exists("t1") and io.read("t1").count() == 10
    io.append(df, "t1", partition_by=["part"])
    assert io.read("t1").count() == 20
    # and the snapshot layer underneath exposes time travel
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    assert t.read(0).count() == 10


def test_resume_revalidates_only_snapshot_changed_partitions(spark, tmp_path):
    """The full north-rule loop on a snapshot table: manifest lineage
    fingerprints come from snapshot metadata (auto-detected by
    manifest.input_fingerprints — zero data scans), an idempotent re-run
    does nothing, and an APPEND (new snapshot) re-validates exactly the
    partitions whose file lists changed."""
    from dataval_spark.fixtures import transcripts
    from dataval_spark.manifest import input_fingerprints, run_resumable
    from dataval_spark.suite import transcript_suite

    d = str(tmp_path / "snaptable")
    t = SnapshotTable(spark, d)
    t.append(
        transcripts(spark, n_convs=120, seed=2187, n_parts=4),
        partition_by=["part"],
    )
    # fingerprints route through the snapshot's metadata
    fps = input_fingerprints(spark, d, "part")
    assert set(fps) == {0, 1, 2, 3}
    assert fps == t.input_fingerprints("part")

    suite = transcript_suite()
    mp = str(tmp_path / "manifest")
    r1 = run_resumable(spark, t.read(), suite, mp, "run1", input_path=d)
    assert {m["part"] for m in r1.partition_metrics} == {0, 1, 2, 3}
    assert run_resumable(spark, t.read(), suite, mp, "run1", input_path=d) is None

    # append late rows landing only in partition 2 -> new snapshot
    late = (
        transcripts(spark, n_convs=240, seed=999, n_parts=4)
        .where(F.col("part") == 2)
    )
    t.append(late, partition_by=["part"])
    fps2 = input_fingerprints(spark, d, "part")
    assert {p for p in fps if fps[p] == fps2[p]} == {0, 1, 3}

    r3 = run_resumable(spark, t.read(), suite, mp, "run1", input_path=d)
    assert {m["part"] for m in r3.partition_metrics} == {2}
    assert run_resumable(spark, t.read(), suite, mp, "run1", input_path=d) is None


def test_cli_snapshot_output_history_vacuum(spark, tmp_path, capsys):
    """--snapshots routes the verdict tables through SnapshotTable
    (re-runs commit new versions, old ones stay readable); --history
    lists them; --vacuum cleans only unreferenced files."""
    import json as _json

    from dataval_spark.cli import main as cli_main
    from dataval_spark.fixtures import transcripts

    d = str(tmp_path / "in")
    transcripts(spark, n_convs=60, seed=11, n_parts=2).write.parquet(d)
    out = str(tmp_path / "wh")

    rc1 = cli_main(["--input", d, "--output", out, "--snapshots", "--cpus", "4"])
    capsys.readouterr()
    rc2 = cli_main(["--input", d, "--output", out, "--snapshots", "--cpus", "4"])
    capsys.readouterr()
    assert rc1 in (0, 3, 4) and rc2 == rc1

    t = SnapshotTable(spark, f"{out}/verdicts")
    assert t.current_version() == 1          # two runs, two versions
    assert t.read(0).count() == t.read(1).count() > 0

    rc = cli_main(["--input", d, "--history", f"{out}/verdicts"])
    lines = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0 and [x["version"] for x in lines] == [0, 1]
    assert lines[-1]["current"] and not lines[0]["current"]
    assert all(x["operation"] == "overwrite" for x in lines)

    # plant an orphan, vacuum it away; committed history unharmed
    t._write_data_files(t.read(), ["part"])
    rc = cli_main(["--input", d, "--vacuum", f"{out}/verdicts"])
    v = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and v["vacuumed_files"] > 0 and v["current_version"] == 1
    assert t.read(0).count() > 0


def test_additive_schema_evolution(spark, tmp_path):
    """merge_schema=True allows adding columns (Iceberg add-column
    semantics): the new snapshot's schema is the union; rows from older
    files read the added column as NULL. Type changes stay rejected."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3), partition_by=["part"])
    evolved = spark.range(10, 12).select(
        F.col("id"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.lit("en").alias("lang"),
    )
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(evolved, partition_by=["part"])
    t.append(evolved, partition_by=["part"], merge_schema=True)
    out = t.read()
    assert set(out.columns) == {"id", "part", "lang"}
    got = {r.id: r.lang for r in out.collect()}
    assert got[10] == "en" and got[0] is None  # old rows: NULL backfill
    # dropping a column is NOT additive
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(_df(spark, 20, 21), partition_by=["part"], merge_schema=True)
    # time travel keeps the OLD schema
    assert set(t.read(0).columns) == {"id", "part"}


def test_two_writer_thread_race(spark, tmp_path):
    """Two genuinely concurrent appends from separate threads: exactly
    two snapshots commit beyond the base, and ALL rows from both writers
    survive (whoever loses the rename race retries on top)."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 2), partition_by=["part"])
    errs = []

    def add(lo, hi):
        try:
            SnapshotTable(spark, str(tmp_path / "t")).append(
                _df(spark, lo, hi), partition_by=["part"]
            )
        except Exception as e:  # pragma: no cover - fail loud
            errs.append(e)

    th = [threading.Thread(target=add, args=(10, 13)),
          threading.Thread(target=add, args=(20, 24))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert t.current_version() == 2
    got = sorted(r.id for r in t.read().collect())
    assert got == [0, 1, 10, 11, 12, 20, 21, 22, 23]


def test_compact_preserves_content_and_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # many small increments -> many footer-sized files
    for lo in range(0, 50, 10):
        t.append(_df(spark, lo, lo + 10).repartition(4), partition_by=["part"])
    pre = t.snapshot()
    n_files_before = len(t.files(pre))
    before_rows = sorted(r.id for r in t.read().collect())
    v = t.compact(target_file_bytes=1 << 30)  # everything into ~1 file
    assert v == pre["version"] + 1
    snap = t.snapshot()
    assert snap["operation"] == "compact"
    assert len(t.files(snap)) < n_files_before
    assert sorted(r.id for r in t.read().collect()) == before_rows
    # pre-compaction versions still time-travel
    assert t.read(pre["version"]).count() == 50
    assert t.read(0).count() == 10
    # already compact -> no-op, nothing committed
    assert t.compact(target_file_bytes=1 << 30) is None
    assert t.current_version() == v


def test_compact_race_fails_closed_and_is_vacuumable(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 30, 10):
        t.append(_df(spark, lo, lo + 10).repartition(3), partition_by=["part"])
    cur = t.current_version()
    # occupy the next version slot, as a concurrent appender would
    racer = SnapshotTable(spark, str(tmp_path / "t"))
    racer.append(_df(spark, 100, 105), partition_by=["part"])
    # compaction derived from the pre-race snapshot must NOT clobber it
    import dataval_spark.sources.snapshots as S

    orig = t.snapshot(cur)
    t_snap = t.snapshot  # pin the base snapshot the way an in-flight job holds it
    t.snapshot = lambda version=None: orig if version is None else t_snap(version)
    try:
        with pytest.raises(S.CommitConflict):
            t.compact(target_file_bytes=1 << 30)
    finally:
        t.snapshot = t_snap
    # racer's rows intact; attempt's files are orphans vacuum reclaims
    assert t.read().count() == 35
    assert t.vacuum() > 0
    assert t.read().count() == 35


def test_expire_snapshots_then_vacuum_reclaims(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        t.append(_df(spark, lo, lo + 10), partition_by=["part"])
    t.compact(target_file_bytes=1 << 30)
    cur = t.current_version()
    assert t.vacuum() == 0  # everything still referenced by history
    n = t.expire_snapshots(keep_last=1)
    assert n == cur  # v0..v(cur-1) dropped
    # expired versions behave exactly like never-committed slots
    with pytest.raises(FileNotFoundError):
        t.read(0)
    # pre-compaction data files now unreferenced -> reclaimed
    assert t.vacuum() > 0
    assert sorted(r.id for r in t.read().collect()) == list(range(40))
    # idempotent + guard
    assert t.expire_snapshots(keep_last=5) == 0
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_cli_compact_and_expire_faces(spark, tmp_path, capsys):
    from dataval_spark.cli import main as cli_main

    d = str(tmp_path / "in")
    _df(spark, 0, 6).write.parquet(d)  # dummy --input; maintenance modes never read it
    table = str(tmp_path / "t")
    t = SnapshotTable(spark, table)
    for lo in range(0, 30, 10):
        t.append(_df(spark, lo, lo + 10).repartition(3), partition_by=["part"])
    capsys.readouterr()

    rc = cli_main(["--input", d, "--compact", table, "--target-file-mb", "1024"])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["compacted"] and line["files_after"] < line["files_before"]

    rc = cli_main(["--input", d, "--expire-snapshots", table, "--keep-last", "1"])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["expired_snapshots"] >= 1

    rc = cli_main(["--input", d, "--vacuum", table])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["vacuumed_files"] > 0
    assert t.read().count() == 30


def test_scan_prunes_files_by_manifest_stats(spark, tmp_path):
    """scan(filters) must return exactly read().where(...) while opening
    only files whose manifest [min,max] bounds overlap the intervals."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # disjoint id ranges -> disjoint per-file bounds
    for lo in range(0, 100, 20):
        t.append(_df(spark, lo, lo + 20).coalesce(1), partition_by=["part"])
    full = t.read()
    expect = sorted(
        r.id for r in full.where((F.col("id") >= 45) & (F.col("id") <= 52)).collect()
    )
    pruned = t.scan({"id": (45, 52)})
    assert sorted(r.id for r in pruned.collect()) == expect
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # half-open intervals
    assert t.scan({"id": (80, None)}).count() == 20
    assert t.scan({"id": (None, 19)}).count() == 20
    # nothing overlaps -> typed empty, zero files opened
    empty = t.scan({"id": (1000, 2000)})
    assert empty.count() == 0 and empty.dtypes == full.dtypes
    # hive partition-column pruning comes from the path, not footers
    p0 = t.scan({"part": (0, 0)})
    assert sorted(set(r.part for r in p0.collect())) == [0]
    assert len(p0.inputFiles()) < len(full.inputFiles())


def test_scan_residual_filter_always_applies(spark, tmp_path):
    """Pruning is a superset optimization: rows inside a surviving file
    that fall outside the interval are still filtered out, and files
    with no recorded stats (pre-stats manifests) are never pruned."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50).coalesce(1), partition_by=["part"])
    # file bound is [0,49]; interval [10,12] overlaps -> file opened,
    # residual keeps only 10..12
    assert sorted(r.id for r in t.scan({"id": (10, 12)}).collect()) == [10, 11, 12]
    # simulate a pre-stats manifest: strip the stats key in place
    meta = f"{t.root}/meta"
    for name in t.snapshot()["manifests"]:
        doc = json.loads(t._read_text(f"{meta}/{name}"))
        doc.pop("stats", None)
        t._write_text(f"{meta}/{name}", json.dumps(doc))
    res = t.scan({"id": (10, 12)})
    assert sorted(r.id for r in res.collect()) == [10, 11, 12]
    assert len(res.inputFiles()) == len(t.read().inputFiles())  # nothing pruned


def test_compaction_rewrites_stats(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 40, 10):
        t.append(_df(spark, lo, lo + 10), partition_by=["part"])
    t.compact(target_file_bytes=1 << 30)
    stats = t.file_stats(t.snapshot())
    assert stats  # compacted files carry fresh bounds
    for bounds in stats.values():
        assert "id" in bounds
    assert sorted(r.id for r in t.scan({"id": (35, 39)}).collect()) == list(range(35, 40))


def test_sort_compaction_restores_disjoint_bounds(spark, tmp_path):
    """compact(sort_by=...) range-sorts the rewrite so the new files
    carry disjoint manifest bounds and scan() stays sharp; content is
    identical and the rewrite happens even at the file-count target."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # interleaved appends: every file's id bounds span ~the whole range
    for k in range(4):
        t.append(
            spark.range(k, 400, 4).select(
                "id", (F.col("id") % 2).cast("int").alias("part")
            ).coalesce(1),
            partition_by=["part"],
        )
    before = t.scan({"id": (100, 110)})
    assert len(before.inputFiles()) == len(t.read().inputFiles())  # no pruning possible
    rows_before = sorted(r.id for r in t.read().collect())

    # force several output files so disjointness is observable
    total = sum(s for _, s in t.files(t.snapshot()))
    v = t.compact(target_file_bytes=max(1, total // 4), sort_by=["id"])
    assert v is not None
    assert sorted(r.id for r in t.read().collect()) == rows_before
    stats = t.file_stats(t.snapshot())
    spans = sorted(tuple(b["id"]) for b in stats.values())
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint (range partitioner boundaries)
    after = t.scan({"id": (100, 110)})
    assert len(after.inputFiles()) < len(t.read().inputFiles())
    assert sorted(r.id for r in after.collect()) == list(range(100, 111))
    # sort_by rewrites even when the count target is already met
    assert t.compact(target_file_bytes=1 << 30, sort_by=["id"]) is not None


def test_delete_where_copy_on_write(spark, tmp_path):
    """delete_where removes exactly the interval-matching rows, rewrites
    only bound-overlapping files, never deletes NULL rows, and leaves
    history time-travelable."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 100, 20):  # disjoint per-file id ranges
        t.append(_df(spark, lo, lo + 20).coalesce(1), partition_by=["part"])
    # one file of NULL-id rows: interval deletes must never touch them
    nulls = spark.createDataFrame(
        [(None, 0), (None, 1)], "id long, part int"
    )
    t.append(nulls.coalesce(1), partition_by=["part"])
    pre = t.current_version()
    files_before = {rel for rel, _ in t.files(t.snapshot())}

    v = t.delete_where({"id": (40, 59)}, partition_by=["part"])
    assert v == pre + 1 and t.snapshot()["operation"] == "delete"
    got = sorted(r.id for r in t.read().collect() if r.id is not None)
    assert got == [i for i in range(100) if not (40 <= i <= 59)]
    assert t.read().where(F.col("id").isNull()).count() == 2  # NULLs survive
    # only the overlapping file was rewritten: the other ranges' files
    # are carried over byte-identical (same relative paths)
    files_after = {rel for rel, _ in t.files(t.snapshot())}
    carried = files_before & files_after
    assert len(carried) >= len(files_before) - 4  # 40-59 file(s) + null file kept
    # history: pre-delete snapshot still has the rows
    assert t.read(pre).where((F.col("id") >= 40) & (F.col("id") <= 59)).count() == 20
    # provably-no-match interval: metadata-only no-op
    assert t.delete_where({"id": (10_000, 20_000)}) is None
    assert t.current_version() == v


def test_merge_upsert_matches_oracle(spark, tmp_path):
    """merge == delete-matching-keys + insert, verified against a plain
    union/anti-join oracle; non-candidate files are carried over."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, i % 2, f"old-{i}") for i in range(40)], "id long, part int, v string"
    )
    for lo in range(0, 40, 10):
        t.append(
            base.where((F.col("id") >= lo) & (F.col("id") < lo + 10)).coalesce(1),
            partition_by=["part"],
        )
    batch = spark.createDataFrame(
        [(7, 1, "new-7"), (8, 0, "new-8"), (100, 0, "new-100")],
        "id long, part int, v string",
    )
    files_before = {rel for rel, _ in t.files(t.snapshot())}
    v = t.merge(batch, ["id"], partition_by=["part"])
    assert t.snapshot()["operation"] == "merge"
    got = {r.id: r.v for r in t.read().collect()}
    expect = {i: f"old-{i}" for i in range(40)}
    expect.update({7: "new-7", 8: "new-8", 100: "new-100"})
    assert got == expect
    # batch keys live in [7, 100] -> file for ids 0..6? no: bounds 0-9
    # overlap [7,100]; 10-19/20-29/30-39 also overlap. Carried files are
    # at least the non-overlapping NONE here, so just assert correctness
    # of the carried set being consistent
    files_after = {rel for rel, _ in t.files(t.snapshot())}
    assert files_after  # new manifest complete
    # time travel: pre-merge content intact
    assert {r.v for r in t.read(v - 1).collect()} == {f"old-{i}" for i in range(40)}


def test_merge_prunes_non_overlapping_files(spark, tmp_path):
    """A narrow-key batch must carry the far files over untouched."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, i % 2, f"old-{i}") for i in range(40)], "id long, part int, v string"
    )
    for lo in range(0, 40, 10):
        t.append(
            base.where((F.col("id") >= lo) & (F.col("id") < lo + 10)).coalesce(1),
            partition_by=["part"],
        )
    files_before = {rel for rel, _ in t.files(t.snapshot())}
    batch = spark.createDataFrame([(12, 0, "new-12")], "id long, part int, v string")
    t.merge(batch, ["id"], partition_by=["part"])
    files_after = {rel for rel, _ in t.files(t.snapshot())}
    carried = files_before & files_after
    # only the 10..19 range files overlap key 12; the other three ranges
    # (x2 hive parts each at most) are carried byte-identical
    assert len(carried) >= len(files_before) - 2
    got = {r.id: r.v for r in t.read().collect()}
    assert got[12] == "new-12" and got[11] == "old-11" and len(got) == 40


def test_merge_empty_batch_and_race_fail_closed(spark, tmp_path):
    import dataval_spark.sources.snapshots as S

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).coalesce(1), partition_by=["part"])
    # empty batch: plain insert of nothing, but still a committed version
    empty = spark.createDataFrame([], "id long, part int")
    v = t.merge(empty, ["id"], partition_by=["part"])
    assert t.read().count() == 10 and t.current_version() == v
    # schema guard
    bad = spark.range(2).select(F.col("id").cast("string"), F.lit(0).alias("part"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(bad, ["id"])
    # race: pin the base snapshot, let an interloper land, then merge
    orig = t.snapshot()
    racer = SnapshotTable(spark, t.root)
    racer.append(_df(spark, 50, 55).coalesce(1), partition_by=["part"])
    t_snap = t.snapshot
    t.snapshot = lambda version=None: orig if version is None else t_snap(version)
    try:
        with pytest.raises(S.CommitConflict):
            t.merge(_df(spark, 0, 2), ["id"], partition_by=["part"])
    finally:
        t.snapshot = t_snap
    assert t.read().count() == 15  # racer's rows intact, merge rolled off
    assert t.vacuum() > 0          # merge attempt's files reclaimed


def test_incremental_read_appends_only(spark, tmp_path):
    """incremental_read(v) == rows appended strictly after v; compaction
    in the range contributes nothing (pure rewrite); delta reads open
    only the added files."""
    from dataval_spark.sources.snapshots import IncrementalReadError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10).coalesce(1), partition_by=["part"])
    v1 = t.append(_df(spark, 10, 20).coalesce(1), partition_by=["part"])
    vc = t.compact(target_file_bytes=1 << 30, sort_by=["id"])  # forced rewrite
    assert vc is not None
    # the sort-compact flattened the hive layout (sanctioned change);
    # append now inherits the flat layout — so this incremental range
    # mixes hive (v1) and flat (v2) added files, the layout-group read
    v2 = t.append(_df(spark, 20, 25).coalesce(1))

    inc = t.incremental_read(v0)
    assert sorted(r.id for r in inc.collect()) == list(range(10, 25))
    # the delta read opens exactly the appended files — none of v0's
    added = {rel for rel, _ in t.added_entries(v0)}
    opened = {f.split("/data/", 1)[1] for f in inc.inputFiles()}
    assert opened == {rel.split("data/", 1)[1] for rel in added}
    v0_rels = {rel for rel, _ in t.files(t.snapshot(v0))}
    assert not (added & v0_rels)
    # bounded range: (v0, v1] is just the second append
    assert sorted(r.id for r in t.incremental_read(v0, v1).collect()) == list(
        range(10, 20)
    )
    # empty range
    assert t.incremental_read(v2, v2).count() == 0
    # schema pinned from the target snapshot
    assert t.incremental_read(v0).schema == t.read().schema


def test_incremental_read_opens_only_added_manifests(spark, tmp_path, monkeypatch):
    """A one-version delta of a 10-append table reads the one manifest
    that append added, not the file lists of whole snapshots."""
    import re

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(10):
        t.append(_df(spark, 10 * k, 10 * k + 10).coalesce(1), partition_by=["part"])
    read = []
    real = t._read_text

    def counting(path):
        read.append(path)
        return real(path)

    monkeypatch.setattr(t, "_read_text", counting)
    delta = t.incremental_read(8, 9)
    assert len([p for p in read if re.search(r"/m_[0-9a-f]+\.json$", p)]) == 1
    assert sorted(r.id for r in delta.collect()) == list(range(90, 100))


def test_incremental_read_refuses_row_changes(spark, tmp_path):
    """delete/merge/overwrite/rollback in the range break the
    append-only changelog -> IncrementalReadError; ranges before the
    change still read; expired history also refuses."""
    from dataval_spark.sources.snapshots import IncrementalReadError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10).coalesce(1), partition_by=["part"])
    v1 = t.append(_df(spark, 10, 20).coalesce(1), partition_by=["part"])
    vd = t.delete_where({"id": (0, 2)}, partition_by=["part"])
    v2 = t.append(_df(spark, 20, 30).coalesce(1), partition_by=["part"])

    with pytest.raises(IncrementalReadError, match="delete"):
        t.incremental_read(v0)
    # range that stops before the delete is fine
    assert t.incremental_read(v0, v1).count() == 10
    # range that starts after the delete is fine
    assert sorted(r.id for r in t.incremental_read(vd).collect()) == list(
        range(20, 30)
    )
    # expired history: the walk cannot prove append-only
    t.expire_snapshots(keep_last=1)
    with pytest.raises(IncrementalReadError, match="expired"):
        t.incremental_read(v0, v1)


def test_incremental_read_schema_evolution(spark, tmp_path):
    """An additive-evolution append inside the range reads under the
    TARGET snapshot's (wider) schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 5).coalesce(1), partition_by=["part"])
    t.append(
        _df(spark, 5, 8).withColumn("score", F.lit(1.5)).coalesce(1),
        partition_by=["part"],
        merge_schema=True,
    )
    inc = t.incremental_read(v0)
    assert "score" in inc.columns
    rows = {r.id: r.score for r in inc.collect()}
    assert rows == {5: 1.5, 6: 1.5, 7: 1.5}


def test_cli_since_version_incremental_validate(spark, tmp_path, capsys):
    """A snapshot-table --input reads through its committed snapshot
    (never a raw glob), and --since-version validates only the appended
    delta; non-append ranges exit 2 with a clear message."""
    import json as _json

    from dataval_spark.cli import main as cli_main
    from dataval_spark.fixtures import transcripts

    table = str(tmp_path / "tbl")
    t = SnapshotTable(spark, table)
    batch1 = transcripts(spark, n_convs=40, seed=3, n_parts=2)
    v0 = t.append(batch1, partition_by=["part"])
    batch2 = transcripts(spark, n_convs=25, seed=7, n_parts=2)
    t.append(batch2, partition_by=["part"])

    # full run over the snapshot input (committed file list)
    rc = cli_main(["--input", table, "--validate", "--cpus", "4"])
    full = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 3, 4)
    assert full["n_rows"] == batch1.count() + batch2.count()

    # incremental: only batch2's rows
    rc = cli_main(
        ["--input", table, "--validate", "--since-version", str(v0), "--cpus", "4"]
    )
    inc = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 3, 4)
    assert inc["n_rows"] == batch2.count()

    # a row-changing op poisons the range -> exit 2, message on stderr
    t.delete_where({"turn_idx": (0, 0)}, partition_by=["part"])
    rc = cli_main(
        ["--input", table, "--validate", "--since-version", str(v0), "--cpus", "4"]
    )
    err = capsys.readouterr().err
    assert rc == 2 and "append-only" in err

    # --since-version on a plain parquet dir refuses
    plain = str(tmp_path / "plain")
    batch1.write.parquet(plain)
    rc = cli_main(
        ["--input", plain, "--validate", "--since-version", "0", "--cpus", "4"]
    )
    err = capsys.readouterr().err
    assert rc == 2 and "snapshot" in err


def test_update_where_copy_on_write(spark, tmp_path):
    """update_where rewrites exactly the interval-matching rows (cast to
    the column's existing type, other columns free to reference the
    row), rewrites only bound-overlapping files, never touches NULL
    rows, and leaves history time-travelable."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 100, 20):  # disjoint per-file id ranges
        t.append(_df(spark, lo, lo + 20).coalesce(1), partition_by=["part"])
    nulls = spark.createDataFrame(
        [(None, 0), (None, 1)], "id long, part int"
    )
    t.append(nulls.coalesce(1), partition_by=["part"])
    pre = t.current_version()
    files_before = {rel for rel, _ in t.files(t.snapshot())}

    # column expression referencing the row + int literal cast to long
    v = t.update_where(
        {"id": (40, 59)}, {"id": F.col("id") + 1000}, partition_by=["part"]
    )
    assert v == pre + 1 and t.snapshot()["operation"] == "update"
    got = sorted(r.id for r in t.read().collect() if r.id is not None)
    assert got == sorted(
        [i for i in range(100) if not (40 <= i <= 59)]
        + [i + 1000 for i in range(40, 60)]
    )
    assert t.read().where(F.col("id").isNull()).count() == 2  # NULLs survive
    # schema unchanged (literal/expr cast to existing types)
    assert t.read().schema == t.read(pre).schema
    # only the overlapping file(s) rewritten; far ranges carried over
    files_after = {rel for rel, _ in t.files(t.snapshot())}
    carried = files_before & files_after
    assert len(carried) >= len(files_before) - 4
    # history: pre-update snapshot still has the original values
    assert (
        t.read(pre).where((F.col("id") >= 40) & (F.col("id") <= 59)).count()
        == 20
    )
    # provably-no-match interval: metadata-only no-op
    assert t.update_where({"id": (10_000, 20_000)}, {"id": F.lit(0)}) is None
    assert t.current_version() == v
    # literal assignment is cast to the column's type, not a new schema
    v2 = t.update_where({"id": (0, 0)}, {"id": 7}, partition_by=["part"])
    assert t.read(v2).schema == t.read(pre).schema
    assert t.read().where(F.col("id") == 7).count() == 2  # updated 0 + old 7
    # unknown column fails closed
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where({"id": (0, 1)}, {"nope": 1})
    # stats-pruned scans stay exact after the rewrite (fresh bounds)
    assert sorted(
        r.id for r in t.scan({"id": (1040, 1049)}).collect()
    ) == list(range(1040, 1050))


def test_update_where_poisons_incremental_read_and_race(spark, tmp_path):
    """An update snapshot breaks the append-only changelog exactly like
    delete/merge; a lost race fails closed and vacuums clean."""
    import dataval_spark.sources.snapshots as S
    from dataval_spark.sources.snapshots import IncrementalReadError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10).coalesce(1), partition_by=["part"])
    vu = t.update_where({"id": (0, 3)}, {"id": F.col("id") + 100})
    t.append(_df(spark, 10, 20).coalesce(1), partition_by=["part"])
    with pytest.raises(IncrementalReadError, match="update"):
        t.incremental_read(v0)
    assert sorted(r.id for r in t.incremental_read(vu).collect()) == list(
        range(10, 20)
    )
    # race: pin the base snapshot, let an interloper land
    orig = t.snapshot()
    racer = SnapshotTable(spark, t.root)
    racer.append(_df(spark, 50, 55).coalesce(1), partition_by=["part"])
    t_snap = t.snapshot
    t.snapshot = lambda version=None: orig if version is None else t_snap(version)
    try:
        with pytest.raises(S.CommitConflict):
            t.update_where({"id": (0, 5)}, {"id": F.lit(0)}, partition_by=["part"])
    finally:
        t.snapshot = t_snap
    assert t.read().count() == 25  # racer's rows intact, update rolled off
    assert t.vacuum() > 0          # update attempt's files reclaimed


def test_append_layout_switch_fails_closed(spark, tmp_path):
    """An append that would commit a mixed hive tree fails loudly (a
    mixed tree reads back silently wrong), while appends inherit the
    table's existing layout when partition_by is omitted."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).coalesce(1), partition_by=["part"])
    # omitted partition_by inherits the hive layout
    t.append(_df(spark, 10, 20).coalesce(1))
    layouts = {
        SnapshotTable._entry_layout(rel) for rel, _ in t.files(t.snapshot())
    }
    assert layouts == {("part",)}
    # an explicit flat append onto a hive table must not commit
    with pytest.raises(ValueError, match="mixed partition layout"):
        t.append(_df(spark, 20, 30).coalesce(1), partition_by=[])
    assert t.current_version() == 1  # nothing committed
    assert sorted(r.id for r in t.read().collect()) == list(range(20))


def test_string_bounds_truncate_contract():
    """_trunc_lower/_trunc_upper must bracket every string with the
    truncated prefix: prefix <= value and incremented-prefix > value."""
    from dataval_spark.sources.snapshots import _trunc_lower, _trunc_upper

    cases = [
        "short",
        "exactly-16-chars",
        "a" * 40,
        "conv-000123-" + "z" * 30,
        "prefix퟿-tail-goes-on-and-on",  # increment skips surrogates
        "\U0010ffff" * 15 + "a" + "tail",    # increments the non-max char
    ]
    for s in cases:
        lo, hi = _trunc_lower(s), _trunc_upper(s)
        assert len(lo) <= 16 and lo <= s
        if hi is not None:
            assert len(hi) <= 16 and s <= (hi if len(s) <= 16 else hi)
            if len(s) > 16:
                assert s < hi  # strict: every extension stays below
                assert not (0xD800 <= ord(hi[-1]) <= 0xDFFF)
    # all code points at U+10FFFF: upper bound honestly dropped
    assert _trunc_upper("\U0010ffff" * 20) is None
    assert _trunc_upper("short") == "short"  # short strings are exact


def test_scan_prunes_on_string_key(spark, tmp_path):
    """String columns now carry truncated manifest bounds, so scan()
    prunes on keys like conv_id — including values longer than the
    16-char truncation width — and stays exact."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # one file per key prefix; values exceed the truncation width
    for grp in ("alpha", "bravo", "delta"):
        df = spark.createDataFrame(
            [(f"conv-{grp}-{i:04d}-{'x' * 20}", i) for i in range(50)],
            "conv_id string, n int",
        )
        t.append(df.coalesce(1))
    full = t.read()
    stats = t.file_stats(t.snapshot())
    assert stats, "string stats missing from manifest"
    for bnd in stats.values():
        lo, hi = bnd["conv_id"]
        assert len(lo) <= 16 and (hi is None or len(hi) <= 16)
    pruned = t.scan({"conv_id": ("conv-bravo-", "conv-bravo-￿")})
    assert pruned.count() == 50
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # exactness: pruned scan == unpruned filtered read
    expect = sorted(
        r.conv_id
        for r in full.where(
            (F.col("conv_id") >= "conv-bravo-")
            & (F.col("conv_id") <= "conv-bravo-￿")
        ).collect()
    )
    assert sorted(r.conv_id for r in pruned.collect()) == expect
    # point probe on a full-length value still lands in exactly 1 file
    probe = f"conv-delta-0007-{'x' * 20}"
    res = t.scan({"conv_id": (probe, probe)})
    assert res.count() == 1 and len(res.inputFiles()) == 1


def test_row_count_is_metadata_only(spark, tmp_path):
    """row_count() without filters must come from manifest row counts
    alone — proven by answering correctly after the data files are
    gone — and stay exact across append/delete/merge/compact."""
    import shutil

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 40).repartition(4))
    t.append(_df(spark, 40, 60).repartition(2))
    assert t.row_count() == 60
    assert t.row_count(version=0) == 40
    t.delete_where({"id": (0, 9)})
    assert t.row_count() == 50
    t.merge(_df(spark, 55, 65), key_cols=["id"])  # 5 update + 5 insert
    assert t.row_count() == 55
    t.compact(target_file_bytes=1 << 30)
    v = t.current_version()
    assert t.row_count() == 55
    # filters route through the pruned scan and stay exact
    assert t.row_count(filters={"id": (20, 29)}) == 10
    # the metadata-only proof: remove the data, the count still answers
    shutil.rmtree(f"{t.root}/data")
    assert t.row_count() == 55 and t.row_count(version=v) == 55


def test_row_count_falls_back_without_recorded_rows(spark, tmp_path):
    """Pre-row-count manifests (no 'rows' key) must fall back to a real
    data read, never crash or undercount."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 30).repartition(3))
    meta = f"{t.root}/meta"
    for name in t.snapshot()["manifests"]:
        doc = json.loads(t._read_text(f"{meta}/{name}"))
        doc.pop("rows", None)
        t._write_text(f"{meta}/{name}", json.dumps(doc))
    assert t.file_rows(t.snapshot()) == {}
    assert t.row_count() == 30


def _data_files(root):
    import glob

    return glob.glob(f"{root}/data/**/*.parquet", recursive=True)


def test_partitioned_append_writes_one_file_per_part(spark, tmp_path):
    """A partitioned write is clustered by its partition key: a 4-task
    append to a 4-part table writes 4 data files, not 4 x 4."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 4).cast("int").alias("part")
    ).repartition(4)
    assert df.rdd.getNumPartitions() == 4
    t.append(df, partition_by=["part"])
    assert len(t.files(t.snapshot())) == len(_data_files(root)) == 4
    assert sorted(r.id for r in t.read().collect()) == list(range(400))


def test_partitioned_sort_compaction_keeps_its_range_distribution(spark, tmp_path):
    """compact(partition_by, sort_by) keeps its own range distribution
    (the write path's clustering would replace it): within each part the
    rewritten files carry disjoint id bounds."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(4):
        t.append(
            spark.range(k, 800, 4).select(
                "id", (F.col("id") % 2).cast("int").alias("part")
            ),
            partition_by=["part"],
        )
    rows_before = sorted(r.id for r in t.read().collect())
    total = sum(s for _, s in t.files(t.snapshot()))
    v = t.compact(
        target_file_bytes=max(1, total // 8), partition_by=["part"], sort_by=["id"]
    )
    assert v is not None
    assert sorted(r.id for r in t.read().collect()) == rows_before
    stats = t.file_stats(t.snapshot())
    by_part: dict[str, list] = {}
    for rel, bounds in stats.items():
        by_part.setdefault(rel.rsplit("/", 1)[0], []).append(tuple(bounds["id"]))
    assert sorted(by_part) == ["data/part=0", "data/part=1"]
    for spans in by_part.values():
        assert len(spans) > 1
        spans.sort()
        for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 < lo2


def test_append_commit_reads_no_parent_manifest(spark, tmp_path, monkeypatch):
    """The layout guard reads the parent's recorded layouts, not its file
    list: an append to a 20-commit table opens no parent manifest."""
    import re

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(20):
        t.append(_df(spark, k, k + 1), partition_by=["part"])
    read = []
    real = t._read_text

    def counting(path):
        read.append(path)
        return real(path)

    monkeypatch.setattr(t, "_read_text", counting)
    assert t.append(_df(spark, 20, 21)) == 20
    assert not [p for p in read if re.search(r"/m_[0-9a-f]+\.json$", p)]
    assert t.snapshot()["layouts"] == [["part"]]
    # the guard still fires on the record
    with pytest.raises(ValueError, match="mixed partition layout"):
        t.append(_df(spark, 21, 22), partition_by=[])
    assert sorted(r.id for r in t.read().collect()) == list(range(21))


def test_layouts_field_carried_by_every_commit_op(spark, tmp_path):
    """Every commit op records the layouts of its own file list, and a
    head committed before the field existed falls back to its files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))

    def check():
        snap = t.snapshot()
        want = sorted(map(list, t._layouts_of(t.files(snap))))
        assert snap["layouts"] == want, snap["operation"]

    t.append(_df(spark, 0, 10), partition_by=["part"])
    check()
    t.append(_df(spark, 10, 20))
    check()
    t.append(_df(spark, 20, 30), partition_by=[], evolve_layout=True)
    check()
    assert t.snapshot()["layouts"] == [[], ["part"]]
    t.delete_where({"id": (0, 4)})
    check()
    t.delete_where({"id": (5, 6)}, mode="merge-on-read")
    check()
    t.rename_column("id", "key")
    check()
    t.rollback(1)
    check()
    t.compact(target_file_bytes=1 << 30, partition_by=["part"])
    check()
    t.overwrite(_df(spark, 0, 5))
    check()
    assert t.snapshot()["layouts"] == [[]]

    # a head without the field (an older writer): the guard falls back
    # to the file list and the next commit records the field again
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(_df(spark, 0, 10), partition_by=["part"])
    snap = t2.snapshot()
    snap.pop("layouts")
    t2._write_text(t2._vpath(0), json.dumps(snap))
    with pytest.raises(ValueError, match="mixed partition layout"):
        t2.append(_df(spark, 10, 20), partition_by=[])
    t2.append(_df(spark, 10, 20))
    assert t2.snapshot()["layouts"] == [["part"]]
