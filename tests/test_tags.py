"""Tags: immutable named snapshot refs (Iceberg tag semantics) — pin a
corpus release, read it by name forever, and expire_snapshots never
drops a tagged version until the tag is released."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataval_spark.sources.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"))


def test_tag_read_by_name_and_immutability(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.tag("release-1")
    t.append(_df(spark, 5, 9))
    assert t.tags() == {"release-1": 0}
    assert t.read("release-1").count() == 5
    assert t.read().count() == 9
    # tags are write-once
    with pytest.raises(ValueError, match="immutable"):
        t.tag("release-1", version=1)
    # explicit-version tagging, bad names, missing snapshots
    t.tag("release-2", version=1)
    assert t.tag_version("release-2") == 1
    with pytest.raises(ValueError):
        t.tag("a/b")
    with pytest.raises(FileNotFoundError):
        t.tag("ghost", version=99)
    with pytest.raises(FileNotFoundError):
        t.read("no-such-tag")


def test_expiry_never_drops_tagged_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(4):
        t.append(_df(spark, 5 * k, 5 * k + 5))
    t.tag("pinned", version=1)
    removed = t.expire_snapshots(keep_last=1)
    assert removed == 2  # v0 and v2 go; v1 is pinned, v3 is current
    assert t.read("pinned").count() == 10
    with pytest.raises(FileNotFoundError):
        t.read(0)
    # vacuum keeps every file the pinned snapshot references
    t.vacuum()
    assert t.read("pinned").count() == 10
    # releasing the tag makes the version expirable again
    t.drop_tag("pinned")
    assert t.expire_snapshots(keep_last=1) == 1
    with pytest.raises(FileNotFoundError):
        t.read(1)
    with pytest.raises(FileNotFoundError):
        t.drop_tag("pinned")  # already gone


def _winners(publish, args) -> int:
    """Start publish(arg) for each arg on its own thread, released
    together by a barrier; count the calls that won (neither raised
    ValueError nor returned False)."""
    import threading

    gate, won = threading.Barrier(len(args)), []

    def _go(a):
        gate.wait()
        try:
            won.append(publish(a) is not False)
        except ValueError:
            won.append(False)

    th = [threading.Thread(target=_go, args=(a,)) for a in args]
    for x in th:
        x.start()
    for x in th:
        x.join()
    return sum(won)


RACES = 150


def test_tag_race_single_winner(spark, tmp_path):
    """Two threads tag the same name at once: exactly one wins, every
    time. The races are metadata only (no Spark job), so a check-then-
    rename publish that lets both win shows up within the loop."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.append(_df(spark, 3, 6))
    won = [
        _winners(lambda v, i=i: t.tag(f"r{i}", version=v), (0, 1))
        for i in range(RACES)
    ]
    assert won == [1] * RACES  # exactly one racer won each CAS
    assert set(t.tags().values()) <= {0, 1} and len(t.tags()) == RACES


@pytest.mark.parametrize("what", ["branch", "commit"])
def test_publish_race_single_winner(spark, tmp_path, what):
    """The same single-winner publish guards branch creation and the
    snapshot commit slot."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3))
    t.append(_df(spark, 3, 6))

    def publish(i, k):
        if what == "branch":
            return t.create_branch(f"b{i}", k)
        return t._try_commit(100 + i, {"racer": k})

    won = [_winners(lambda k, i=i: publish(i, k), (0, 1)) for i in range(RACES)]
    assert won == [1] * RACES


def test_cli_tag_faces(spark, tmp_path, capsys):
    import json as _json
    from dataval_spark.cli import main as cli_main

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 4))
    t.append(_df(spark, 4, 8))
    rc = cli_main(["--input", "unused", "--tag", str(tmp_path / "t"),
                   "--tag-name", "rel", "--at-version", "0"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out == {"tagged": "rel", "version": 0}
    assert t.read("rel").count() == 4
    rc = cli_main(["--input", "unused", "--drop-tag", str(tmp_path / "t"),
                   "--tag-name", "rel"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["tags"] == {}
    rc = cli_main(["--input", "unused", "--tag", str(tmp_path / "t")])
    assert rc == 2
