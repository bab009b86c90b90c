"""Manifest/resume semantics + CLI contract tests (exit codes, dry-run,
method dispatch) — the reference's resume / exit-code behaviors
(/root/reference/run_package_release.py:196-198,323-329)."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from dataval_spark.cli import main as cli_main
from dataval_spark.fixtures import transcripts
from dataval_spark.manifest import (
    compare_runs,
    input_fingerprints,
    run_resumable,
    suite_hash,
)
from dataval_spark.sources.tableio import TableIO, iceberg_available
from dataval_spark.suite import transcript_suite


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_input"))
    transcripts(spark, n_convs=200, seed=2187, n_parts=4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_resume_skips_done_partitions(spark, input_dir, tmp_path):
    df = spark.read.parquet(input_dir)
    suite = transcript_suite()
    mp = str(tmp_path / "manifest")

    # first run: only partitions 0 and 1
    r1 = run_resumable(spark, df.where(F.col("part") < 2), suite, mp, "run1")
    assert {m["part"] for m in r1.partition_metrics} == {0, 1}

    # second run over the full table resumes: only 2 and 3 processed
    r2 = run_resumable(spark, df, suite, mp, "run1")
    assert {m["part"] for m in r2.partition_metrics} == {2, 3}

    # third run: nothing to process
    assert run_resumable(spark, df, suite, mp, "run1") is None


def test_resume_revalidates_changed_input(spark, tmp_path):
    """Input-lineage guard: a partition whose INPUT files changed after it
    was marked done must be re-validated on resume (north rule: input
    snapshot id in the manifest)."""
    d = str(tmp_path / "input")
    full = transcripts(spark, n_convs=120, seed=2187, n_parts=4)
    full.write.partitionBy("part").mode("overwrite").parquet(d)
    suite = transcript_suite()
    mp = str(tmp_path / "manifest")

    df = spark.read.parquet(d)
    r1 = run_resumable(spark, df, suite, mp, "run1", input_path=d)
    assert {m["part"] for m in r1.partition_metrics} == {0, 1, 2, 3}

    # idempotent re-run: nothing to do
    assert run_resumable(spark, spark.read.parquet(d), suite, mp, "run1", input_path=d) is None

    # mutate partition 2's input files (append late-arriving rows)
    fps_before = input_fingerprints(spark, d, "part")
    late = transcripts(spark, n_convs=240, seed=999, n_parts=4).where(F.col("part") == 2)
    late.drop("part").write.mode("append").parquet(f"{d}/part=2")
    fps_after = input_fingerprints(spark, d, "part")
    assert fps_before[2] != fps_after[2]
    assert {p for p in fps_before if fps_before[p] == fps_after[p]} == {0, 1, 3}

    # resume: exactly the changed partition is re-validated
    r3 = run_resumable(spark, spark.read.parquet(d), suite, mp, "run1", input_path=d)
    assert {m["part"] for m in r3.partition_metrics} == {2}

    # and now everything is consistent again
    assert run_resumable(spark, spark.read.parquet(d), suite, mp, "run1", input_path=d) is None


def test_revalidation_overwrites_stale_verdicts(spark, tmp_path):
    """A re-validated partition must REPLACE its verdict rows (dynamic
    partition overwrite), never append a second copy; untouched
    partitions keep their original verdicts."""
    d = str(tmp_path / "input")
    transcripts(spark, n_convs=100, seed=2187, n_parts=4).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(d)
    suite = transcript_suite()
    mp = str(tmp_path / "manifest")
    vp = str(tmp_path / "verdicts")

    run_resumable(spark, spark.read.parquet(d), suite, mp, "r", vp, input_path=d)
    before = spark.read.parquet(vp)
    # materialize everything from `before` NOW: the dynamic-partition
    # overwrite below deletes the files this lazy frame points at
    n_before = before.count()
    base_dup = (
        before.groupBy("conv_id", "turn_idx", "part").count().where("count > 1").count()
    )
    part0_before = before.where("part = 0").count()
    assert n_before == spark.read.parquet(d).count()

    # mutate partition 1's input: extra rows appended, with conv ids
    # remapped into a disjoint range so no CROSS-dataset key collisions
    # masquerade as engine-duplicated verdicts
    late = (
        transcripts(spark, n_convs=160, seed=7, n_parts=4)
        .where(F.col("part") == 1)
        .withColumn("conv_id", F.concat(F.lit("conv-9"), F.substring("conv_id", 7, 11)))
    )
    late.drop("part").write.mode("append").parquet(f"{d}/part=1")
    n_late_dup = late.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
    run_resumable(spark, spark.read.parquet(d), suite, mp, "r", vp, input_path=d)

    after = spark.read.parquet(vp)
    # verdicts == input rows: the re-validated partition REPLACED its
    # rows instead of appending a second copy
    assert after.count() == spark.read.parquet(d).count()
    dup = (
        after.groupBy("conv_id", "turn_idx", "part")
        .count()
        .where("count > 1")
        .count()
    )
    # the fixture itself injects duplicate turns; assert no INCREASE
    # beyond genuine new duplicates from the late data
    assert dup <= base_dup + n_late_dup + 1
    # untouched partitions unchanged
    assert after.where("part = 0").count() == part0_before


def test_compare_runs_raw_vs_corrected(spark, tmp_path):
    """Two-stage validation diff (reference corr-vs-raw semantics,
    /root/reference/dataval/dataval.py:325-326): cleaning the table flips
    exactly the previously failing partitions to FIXED."""
    suite = transcript_suite()
    mp = str(tmp_path / "manifest")
    raw = transcripts(spark, n_convs=200, seed=2187, n_parts=4)
    corrected = transcripts(spark, n_convs=200, seed=2187, n_parts=4, with_defects=False)

    ra = run_resumable(spark, raw, suite, mp, "raw")
    rb = run_resumable(spark, corrected, suite, mp, "corrected")
    failed_raw = {m["part"] for m in ra.partition_metrics if not m["passed"]}
    assert failed_raw, "fixture should have failing partitions in the raw stage"
    assert all(m["passed"] for m in rb.partition_metrics)

    diff = {r.part: r for r in compare_runs(spark, mp, "raw", "corrected").collect()}
    assert set(diff) == {0, 1, 2, 3}
    assert {p for p, r in diff.items() if r.transition == "FIXED"} == failed_raw
    assert all(
        r.transition == "STILL_PASS" for p, r in diff.items() if p not in failed_raw
    )
    # cleaning can only reduce rejections
    assert all(r.delta_rejected <= 0 for r in diff.values())


def test_suite_hash_stability():
    assert suite_hash(transcript_suite()) == suite_hash(transcript_suite())


def test_tableio_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.exists("t1")
    df = spark.range(10).withColumn("part", (F.col("id") % 2).cast("int"))
    io.replace(df, "t1", partition_by=["part"])
    assert io.exists("t1")
    assert io.read("t1").count() == 10
    io.append(df, "t1", partition_by=["part"])
    assert io.read("t1").count() == 20
    # sandbox has no Iceberg jar — the seam must report that honestly
    assert iceberg_available(spark) is False


def test_cli_validate_dry_run(input_dir, capsys):
    rc = cli_main(["--input", input_dir, "--validate", "--cpus", "8"])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert '"n_rows"' in out
    assert rc in (0, 3, 4)


def test_cli_single_method(input_dir, capsys):
    rc = cli_main(["--input", input_dir, "--method", "uniqueness", "--validate", "--cpus", "8"])
    assert rc in (0, 3)  # duplicates exist -> 3; partitions should not fail


def test_cli_method_filter_excludes_envelope():
    """--method nullness must NOT smuggle Envelope's TextTooShort/TooLong
    row flags back in (Envelope has flag=None but low_flag/high_flag)."""
    from dataval_spark.cli import build_suite
    from dataval_spark.constraints.core import Envelope, Stats

    suite = build_suite("nullness")
    assert not any(isinstance(c, Envelope) for c in suite.constraints)
    kinds = {type(c).__name__ for c in suite.constraints}
    assert "NotNull" in kinds
    assert all(
        c.name.startswith("not_null") or isinstance(c, Stats) for c in suite.constraints
    )


def test_cli_method_propagates_suite_config(input_dir, capsys):
    """--reject-ratio must survive the --method suite reconstruction: at
    threshold 0.0 any sequence defect fails its partition (exit 4); at
    threshold 1.0 no partition can fail (exit 0 or 3)."""
    from dataval_spark.cli import build_suite

    assert build_suite("sequence", 0.0).reject_ratio_fail == 0.0
    rc_strict = cli_main([
        "--input", input_dir, "--method", "sequence", "--reject-ratio", "0.0",
        "--validate", "--cpus", "8",
    ])
    rc_lax = cli_main([
        "--input", input_dir, "--method", "sequence", "--reject-ratio", "1.0",
        "--validate", "--cpus", "8",
    ])
    assert rc_strict == 4
    assert rc_lax in (0, 3)


def test_cli_writes_output(input_dir, tmp_path, spark, capsys):
    out = str(tmp_path / "out")
    rc = cli_main(["--input", input_dir, "--output", out, "--cpus", "8"])
    assert rc in (0, 3, 4)
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.count() == spark.read.parquet(input_dir).count()


def test_cli_clean_compare_workflow(input_dir, tmp_path, spark, capsys):
    """Full two-stage CLI workflow: validate raw -> clean -> validate
    cleaned -> --compare prints per-partition transitions."""
    import json as _json

    mp = str(tmp_path / "m")
    co = str(tmp_path / "c")
    rc1 = cli_main(["--input", input_dir, "--manifest", mp, "--run-id", "raw",
                    "--clean-output", co, "--validate", "--cpus", "8"])
    assert rc1 in (0, 3, 4)
    cleaned = spark.read.parquet(f"{co}/cleaned")
    quarantined = spark.read.parquet(f"{co}/quarantine")
    n_in = spark.read.parquet(input_dir).count()
    assert cleaned.count() + quarantined.count() == n_in
    assert "dataval" in quarantined.columns

    rc2 = cli_main(["--input", f"{co}/cleaned", "--manifest", mp,
                    "--run-id", "corrected", "--validate", "--cpus", "8"])
    assert rc2 in (0, 3, 4)
    capsys.readouterr()

    rc3 = cli_main(["--input", input_dir, "--manifest", mp,
                    "--compare", "raw,corrected", "--cpus", "8"])
    assert rc3 == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    rows = [_json.loads(l) for l in lines]
    assert {r["part"] for r in rows} == {0, 1, 2, 3}
    assert all(r["transition"] in
               {"FIXED", "BROKE", "STILL_PASS", "STILL_FAIL"} for r in rows)
    # cleaning never increases rejections
    assert all(r["delta_rejected"] <= 0 for r in rows)


def test_cli_prepare_corpus(spark, tmp_path, capsys):
    """--prepare-corpus runs the full pipeline end-to-end from the CLI
    (reference CLI-first ethos): attrition-funnel JSON on stdout, packed
    corpus written lang-partitioned, exit 0. It releases what it pinned:
    the only RDDs it leaves registered are the operators' live caches
    (one per operator per session, swapped out by the next call)."""
    import json as _json

    from dataval_spark.operators import dedup as D

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    bench_text = (
        "the secret benchmark answer sequence is forty two exactly here "
        "and nowhere else in any training document at all"
    )
    rows = [
        (1, base + " one", "en"),
        (2, base + " one", "en"),            # exact dup -> dropped
        (3, " ".join(reversed((base + " one").split())), "en"),  # near dup
        (4, "short text", "en"),             # < min_tokens -> dropped
        (5, None, "en"),                     # NULL -> dropped
        (6, "prefix words then " + bench_text + " then suffix words", "en"),
        (7, "a completely different legitimate document with plenty of "
            "distinct content words spread across the whole window", "en"),
    ]
    docs_path = str(tmp_path / "docs")
    bench_path = str(tmp_path / "bench")
    out_dir = str(tmp_path / "corpus_out")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(docs_path)
    spark.createDataFrame([(100, bench_text)], "doc_id long, text string") \
        .write.parquet(bench_path)

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    rc = cli_main([
        "--input", docs_path, "--prepare-corpus", out_dir,
        "--benchmark", bench_path, "--min-tokens", "5",
        "--pack-shards", "2", "--cpus", "8",
    ])
    assert rc == 0
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    live = {
        f._jdf.queryExecution().withCachedData().cacheBuilder()
        .cachedColumnBuffers().id()
        for (_, sid), f in D._live_caches.items()
        if sid == id(spark) and f.is_cached
    }
    assert left <= live, (left, live)
    funnel = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["n_input"] == 7
    assert funnel["n_quality_pass"] == 5
    assert funnel["n_exact_deduped"] == 4
    assert funnel["n_near_deduped"] == 3
    assert funnel["n_decontaminated"] == 2
    packed = spark.read.parquet(f"{out_dir}/packed")
    assert {r.doc_id for r in packed.select("doc_id").collect()} == {1, 7}
    assert {"bin", "lang", "n_tok"} <= set(packed.columns)


def test_cli_partitioned_writes_one_file_per_partition(spark, tmp_path, capsys):
    """Every partitioned CLI write is clustered by its directory key: an
    input of 3 files, each holding rows of every partition, still writes
    one file per partition directory (unclustered, each write task
    writes its own file into every directory it has rows for)."""
    def files_per_dir(root: str) -> dict:
        dirs = {}
        for d, _, names in os.walk(root):
            n = sum(1 for f in names if f.endswith(".parquet"))
            if n:
                dirs[os.path.relpath(d, root)] = n
        return dirs

    d = str(tmp_path / "input")
    transcripts(spark, n_convs=120, seed=2187, n_parts=4).repartition(3).write.parquet(d)
    out, co = str(tmp_path / "out"), str(tmp_path / "clean")
    assert cli_main(["--input", d, "--output", out, "--cpus", "8"]) in (0, 3, 4)
    assert cli_main(["--input", d, "--clean-output", co, "--validate",
                     "--cpus", "8"]) in (0, 3, 4)

    # ~3 MB of incompressible text in 8 pack shards per lang: enough that
    # AQE keeps several write tasks, so an unclustered write splits a lang
    rng = random.Random(5)
    rows = [(i, " ".join("%08x" % rng.getrandbits(32) for _ in range(120)),
             ("en", "de")[i % 2]) for i in range(3000)]
    docs = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .repartition(3).write.parquet(docs)
    corpus = str(tmp_path / "corpus")
    assert cli_main(["--input", docs, "--prepare-corpus", corpus,
                     "--min-tokens", "5", "--pack-shards", "8", "--cpus", "8"]) == 0

    for root, key in ((f"{out}/verdicts", "part"), (f"{out}/violations", "part"),
                      (f"{co}/cleaned", "part"), (f"{co}/quarantine", "part"),
                      (f"{corpus}/packed", "lang")):
        dirs = files_per_dir(root)
        assert dirs and all(k.startswith(f"{key}=") for k in dirs), (root, dirs)
        assert set(dirs.values()) == {1}, (root, dirs)
    assert len(files_per_dir(f"{out}/verdicts")) == 4
    assert len(files_per_dir(f"{corpus}/packed")) == 2


def test_cli_prepare_corpus_web_flags(spark, tmp_path, capsys):
    """--strip-boilerplate/--url-col/--domain-block/--paragraph-dedup/
    --remove-spans reach their operators from the CLI."""
    import json as _json

    boiler = "Accept all cookies to continue reading this site"
    quote = "an identical quoted paragraph repeated across documents verbatim"
    span = " ".join(f"dup{i}" for i in range(10))
    filler = lambda s, n: " ".join(f"w{s}x{j}" for j in range(n))
    rows = [
        (1, boiler + "\n" + filler(1, 8) + " " + span + "\n\n" + quote,
         "https://good.example.org/a?utm_source=x", "en"),
        (2, boiler + "\n" + filler(2, 8) + " " + span + "\n\n" + quote,
         "https://good.example.org/b", "en"),
        (3, boiler + "\n" + filler(3, 20), "https://good.example.org/a", "en"),  # URL dup of 1
        (4, filler(4, 20), "https://evil.example.com/x", "en"),  # blocked domain
        (5, filler(5, 20), None, "en"),  # no URL: kept
    ]
    docs_path = str(tmp_path / "docs_web")
    out_dir = str(tmp_path / "corpus_web_out")
    spark.createDataFrame(
        rows, "doc_id long, text string, url string, lang string"
    ).write.parquet(docs_path)

    rc = cli_main([
        "--input", docs_path, "--prepare-corpus", out_dir,
        "--min-tokens", "3", "--cpus", "8",
        "--strip-boilerplate", "--url-col", "url",
        "--domain-block", "example.com",
        "--paragraph-dedup", "--remove-spans", "--span-tokens", "8",
    ])
    assert rc == 0
    funnel = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["n_input"] == 5
    # attribution per stage: doc 3 dropped by URL dedup (dup of 1),
    # doc 4 dropped by the domain filter
    assert funnel["n_url_deduped"] == 4
    assert funnel["n_domain_filtered"] == 3
    packed = spark.read.parquet(f"{out_dir}/packed")
    texts = {r.doc_id: r.text for r in packed.select("doc_id", "text").collect()}
    assert set(texts) == {1, 2, 5}
    assert all(boiler not in t for t in texts.values())     # boilerplate gone
    assert sum(quote in t for t in texts.values()) == 1     # paragraph kept once
    assert sum("dup0" in t for t in texts.values()) == 1    # span kept once


def test_spark_submit_py_files_deploy(spark, tmp_path):
    """The north-rule launch path, for real: package.py builds the zip,
    spark-submit --py-files runs run_validate.py with the package
    importable ONLY from the zip, and the exit code follows the
    validation contract (4 = errors: the fixture plants a drifted
    partition)."""
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = str(tmp_path / "submit_input")
    transcripts(spark, n_convs=120, seed=2187, n_parts=4).write.parquet(inp)

    zip_path = str(tmp_path / "dataval_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "package.py"), zip_path],
        check=True, capture_output=True,
    )
    # run from a scratch cwd so dataval_spark can ONLY come from the zip
    proc = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path,
         os.path.join(repo, "run_validate.py"),
         "--input", inp, "--report", "--cpus", "4"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 4, proc.stderr[-2000:]
    assert "partitions passed" in proc.stderr or "partitions passed" in proc.stdout


def test_cli_corpus_report(spark, tmp_path, capsys):
    import json as _json

    rows = [(1, "alpha beta gamma delta epsilon", "en", "web"),
            (2, "alpha beta gamma delta epsilon", "en", "web"),
            (3, "uno dos tres cuatro cinco seis siete", "es", "wiki")]
    d = str(tmp_path / "docs_rep")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(d)
    rc = cli_main(["--input", d, "--corpus-report", "--cpus", "4"])
    assert rc == 0
    lines = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    by_key = {(r["lang"], r["source"]): r for r in lines}
    assert by_key[("en", "web")]["n_docs"] == 2
    assert by_key[("en", "web")]["est_dup_ratio"] == 0.5
    assert by_key[("es", "wiki")]["n_tokens"] == 7


# ---------------------------------------------------------------------------
# anomaly scan over run history


def _write_manifest(spark, path, runs):
    """runs: list of (run_id, committed_at, {part: {metric: value}})."""
    import json as _json

    from dataval_spark.manifest import MANIFEST_SCHEMA

    rows = []
    for run_id, at, parts in runs:
        for part, metrics in parts.items():
            rows.append({
                "run_id": run_id, "suite_hash": "h", "part": part,
                "n_rows": 100, "n_approved": 90, "n_rejected": 10,
                "passed": True, "metrics_json": _json.dumps(metrics),
                "input_fp": "", "committed_at": at,
            })
    spark.createDataFrame(rows, schema=MANIFEST_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)


def test_anomaly_scan_flags_shifted_metric(spark, tmp_path):
    from dataval_spark.manifest import anomaly_scan

    mp = str(tmp_path / "m")
    hist = [
        ("r1", 1.0, {0: {"null_rate": 0.010, "avg_len": 100.0},
                     1: {"null_rate": 0.012, "avg_len": 101.0}}),
        ("r2", 2.0, {0: {"null_rate": 0.011, "avg_len": 99.0},
                     1: {"null_rate": 0.010, "avg_len": 100.5}}),
        ("r3", 3.0, {0: {"null_rate": 0.012, "avg_len": 101.0},
                     1: {"null_rate": 0.011, "avg_len": 99.5}}),
        ("r4", 4.0, {0: {"null_rate": 0.010, "avg_len": 100.0},
                     1: {"null_rate": 0.012, "avg_len": 100.0}}),
        # current run: part 1's null_rate jumps an order of magnitude
        ("r5", 5.0, {0: {"null_rate": 0.011, "avg_len": 100.2},
                     1: {"null_rate": 0.31, "avg_len": 100.1}}),
    ]
    _write_manifest(spark, mp, hist)
    rows = {(r.part, r.metric): r for r in anomaly_scan(spark, mp, "r5").collect()}
    assert rows[(1, "null_rate")].anomalous
    assert rows[(1, "null_rate")].n_history == 4
    assert not rows[(0, "null_rate")].anomalous
    assert not rows[(0, "avg_len")].anomalous
    assert not rows[(1, "avg_len")].anomalous


def test_anomaly_scan_min_history_and_constant_mad(spark, tmp_path):
    from dataval_spark.manifest import anomaly_scan

    mp = str(tmp_path / "m2")
    _write_manifest(spark, mp, [
        ("a", 1.0, {0: {"x": 5.0, "y": 1.0}}),
        ("b", 2.0, {0: {"x": 5.0, "y": 1.1}}),
        ("c", 3.0, {0: {"x": 5.0, "y": 0.9}}),
        # current: x deviates from a CONSTANT history (MAD=0) -> flagged;
        # y has history but cur value is typical -> clean
        ("d", 4.0, {0: {"x": 5.5, "y": 1.0, "z": 9.9}}),
    ])
    rows = {(r.part, r.metric): r for r in anomaly_scan(spark, mp, "d").collect()}
    assert rows[(0, "x")].anomalous  # MAD=0, any deviation flags
    assert not rows[(0, "y")].anomalous
    # z appears only in the current run: no history, never anomalous
    assert rows[(0, "z")].n_history == 0 and not rows[(0, "z")].anomalous
    # history shorter than min_history is never anomalous
    rows2 = {
        (r.part, r.metric): r
        for r in anomaly_scan(spark, mp, "d", min_history=5).collect()
    }
    assert not rows2[(0, "x")].anomalous


def test_anomaly_scan_uses_only_rows_committed_before(spark, tmp_path):
    """A LATER run must not pollute an earlier run's baseline."""
    from dataval_spark.manifest import anomaly_scan

    mp = str(tmp_path / "m3")
    _write_manifest(spark, mp, [
        ("r1", 1.0, {0: {"x": 1.0}}),
        ("r2", 2.0, {0: {"x": 1.0}}),
        ("r3", 3.0, {0: {"x": 1.0}}),
        ("cur", 4.0, {0: {"x": 1.0}}),
        ("future", 5.0, {0: {"x": 50.0}}),  # after cur: excluded
    ])
    rows = {(r.part, r.metric): r for r in anomaly_scan(spark, mp, "cur").collect()}
    assert rows[(0, "x")].n_history == 3
    assert not rows[(0, "x")].anomalous


def test_cli_anomaly_scan(spark, tmp_path, input_dir, capsys):
    import json as _json

    mp = str(tmp_path / "m4")
    _write_manifest(spark, mp, [
        ("r1", 1.0, {0: {"x": 1.0, "c": 7.0}}),
        ("r2", 2.0, {0: {"x": 1.02, "c": 7.0}}),
        ("r3", 3.0, {0: {"x": 0.98, "c": 7.0}}),
        # x shifts; c deviates from a CONSTANT history (MAD=0 -> inf z)
        ("r4", 4.0, {0: {"x": 42.0, "c": 7.5}}),
    ])
    rc = cli_main(["--input", input_dir, "--manifest", mp,
                   "--anomaly-scan", "r4"])
    assert rc == 3
    out = capsys.readouterr().out.strip().splitlines()
    # every alert line must be STRICT json (json.loads rejects nothing,
    # and the inf robust_z of the constant-history metric is sanitized)
    anom = [_json.loads(x, parse_constant=lambda _: pytest.fail("bare Infinity")) for x in out]
    assert any(r["metric"] == "x" and r["anomalous"] for r in anom)
    c_row = next(r for r in anom if r["metric"] == "c")
    assert c_row["anomalous"] and c_row["robust_z"] is None and c_row["mad"] == 0.0
    # a run with insufficient history exits 0 (no evidence, no alarm);
    # note a HUGE --anomaly-z would not silence r4: the constant-history
    # metric's inf z exceeds any threshold by design
    capsys.readouterr()
    rc2 = cli_main(["--input", input_dir, "--manifest", mp,
                    "--anomaly-scan", "r3"])
    assert rc2 == 0
    assert capsys.readouterr().out.strip() == ""


def test_anomaly_scan_million_row_manifest_driver_light(spark, tmp_path):
    """anomaly_scan at the manifest scale the 10^12-turn sizing rule
    implies (~200k partitions x hundreds of runs -> 10^6+ manifest
    rows): the scan is pure grouped aggregation — the manifest is never
    collected to the driver — and the caller pulls back ONLY the
    anomalous rows. Generated in-Spark (no driver-side row list)."""
    from pyspark.sql import functions as F

    from dataval_spark.manifest import anomaly_scan

    mp = str(tmp_path / "mbig")
    runs, parts = 50, 20_000  # 10^6 manifest rows
    base = (
        spark.range(runs * parts)
        .select(
            (F.col("id") % parts).cast("int").alias("part"),
            (F.col("id") / parts).cast("long").alias("run_idx"),
        )
        .withColumn("run_id", F.concat(F.lit("r"), F.col("run_idx")))
        .withColumn("committed_at", F.col("run_idx").cast("double"))
    )
    cur = F.col("run_idx") == runs - 1
    planted = cur & (F.col("part") == 1234)  # one anomalous (part, metric)
    m = base.select(
        "run_id",
        F.lit("h").alias("suite_hash"),
        "part",
        F.lit(100).cast("long").alias("n_rows"),
        F.lit(90).cast("long").alias("n_approved"),
        F.lit(10).cast("long").alias("n_rejected"),
        F.lit(True).alias("passed"),
        F.concat(
            F.lit('{"null_rate": '),
            F.when(planted, F.lit(0.9)).otherwise(
                # stable per-part level + small per-run wiggle
                F.round((F.col("part") % 7) * 0.01 + (F.col("run_idx") % 3) * 1e-4, 6)
            ).cast("string"),
            F.lit(', "avg_len": '),
            F.round(100 + (F.col("run_idx") % 5) * 0.1, 2).cast("string"),
            F.lit("}"),
        ).alias("metrics_json"),
        F.lit("").alias("input_fp"),
        "committed_at",
    )
    m.write.parquet(mp)
    scan = anomaly_scan(spark, mp, f"r{runs - 1}")
    flagged = scan.where("anomalous").collect()  # only alerts come back
    assert {(r.part, r.metric) for r in flagged} == {(1234, "null_rate")}
    z = flagged[0]
    assert z.n_history == runs - 1 and z.robust_z > 3.5


def test_compare_runs_million_row_manifest_driver_light(spark, tmp_path):
    """compare_runs at large-manifest scale: pure grouped aggregation
    (latest-per-(run,part) max-struct + full-outer diff + exploded
    metric deltas), nothing collected — the caller filters to the
    transitions it wants. Also pins delta correctness and the
    re-validation (latest-row-wins) contract in-Spark."""
    from pyspark.sql import functions as F

    from dataval_spark.manifest import compare_runs

    mp = str(tmp_path / "mcmp")
    parts = 200_000
    base = spark.range(parts).select(F.col("id").cast("int").alias("part"))

    def run_rows(run_id, at, passed_expr, rej_expr, metric_expr):
        return base.select(
            F.lit(run_id).alias("run_id"),
            F.lit("h").alias("suite_hash"),
            "part",
            F.lit(100).cast("long").alias("n_rows"),
            (100 - rej_expr).cast("long").alias("n_approved"),
            rej_expr.cast("long").alias("n_rejected"),
            passed_expr.alias("passed"),
            F.concat(
                F.lit('{"null_rate": '), metric_expr.cast("string"), F.lit("}")
            ).alias("metrics_json"),
            F.lit("").alias("input_fp"),
            F.lit(at).cast("double").alias("committed_at"),
        )

    # raw run: every 1000th part fails; part 7's original PASSING row is
    # superseded by a LATER failing re-validation row — latest must win
    fail_a = F.col("part") % 1000 == 0
    rows = run_rows("raw", 1.0, ~fail_a, F.when(fail_a, 30).otherwise(2),
                    F.when(fail_a, 0.3).otherwise(0.02))
    reval = run_rows("raw", 1.5, F.lit(False), F.lit(30), F.lit(0.3)).where(
        F.col("part") == 7
    )
    fixed = run_rows("corr", 2.0, F.lit(True), F.lit(1), F.lit(0.01)).where(
        F.col("part") < parts - 50  # last 50 parts ONLY_A
    )
    rows.unionByName(reval).unionByName(fixed).write.parquet(mp)

    diff = compare_runs(spark, mp, "raw", "corr")
    agg = {
        r.transition: r.n
        for r in diff.groupBy("transition").agg(F.count("*").alias("n")).collect()
    }
    n_fail = len([p for p in range(parts - 50) if p % 1000 == 0]) + 1  # + part 7
    assert agg["FIXED"] == n_fail
    assert agg["ONLY_A"] == 50
    assert agg["STILL_PASS"] == parts - 50 - n_fail
    one = diff.where("part = 0").collect()[0]  # part 0 failed raw, fixed corr
    assert one.transition == "FIXED" and one.delta_rejected == 1 - 30
    import json as _json

    assert _json.loads(one.metric_deltas_json) == {"null_rate": 0.01 - 0.3}
    # latest-row-wins: part 7's LATER failing re-validation supersedes
    # its original passing row
    seven = diff.where("part = 7").collect()[0]
    assert seven.transition == "FIXED" and seven.n_rejected_a == 30
