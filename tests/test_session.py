"""Session construction: the task-slot parse behind the default shuffle
partitions, and the codegen cache that lets a repeated pipeline reuse the
classes its first run compiled."""

from __future__ import annotations

import pytest

from dataval_spark.session import _task_slots


@pytest.mark.parametrize(
    "master, slots",
    [
        ("local[4]", 4),
        ("local[4,2]", 4),
        ("local[*]", 6),
        ("local[*,3]", 6),
        ("local-cluster[2,4,2048]", 8),
        ("local", 6),
        ("spark://host:7077", 6),
    ],
)
def test_task_slots_parses_master_urls(master, slots):
    assert _task_slots(master, cpus=6) == slots


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (one timer update per
    compile; a codegen cache hit records nothing)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_session(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def _documents(spark):
    boiler = "subscribe to our newsletter for weekly updates today"
    words = ("river stone lantern harbor meadow orchard velvet copper "
             "signal canyon thunder glacier").split()
    rows = []
    for i in range(40):
        body = " ".join(words[(i * 7 + j) % len(words)] + str(i % 9) for j in range(40))
        text = f"{body}\n\n{boiler}" if i % 3 == 0 else body
        rows.append((i, text, "en" if i % 2 else "de"))
    rows += [(100 + i, rows[i][1], rows[i][2]) for i in range(5)]  # exact copies
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_repeated_prepare_corpus_compiles_nothing_new(spark, tmp_path):
    """One prepare_corpus op plus its packed write generates more distinct
    classes than Spark's default 100-entry codegen cache holds, so with
    that default the repeat recompiles ~160 of them. The session cache
    holds them: the repeat compiles 0 when run alone. The bound leaves
    room for the few variant classes a repeat can still add late in a
    long shared session (14 seen once in a full test run)."""
    from dataval_spark.operators.corpus import prepare_corpus

    docs = _documents(spark)

    def op(k: int) -> dict:
        res = prepare_corpus(
            docs, None, min_tokens=5, strip_boilerplate=True, paragraph_dedup=True,
            remove_spans=True, split_long=True, window_tokens=64, pack_shards=2,
        )
        res["packed"].write.mode("overwrite").partitionBy("lang").parquet(
            str(tmp_path / f"packed{k}")
        )
        funnel = res["stats"]()
        res["release"]()
        return funnel

    first = op(0)
    before = _compiles(spark)
    assert op(1) == first
    assert _compiles(spark) - before <= 25


def test_repeated_suite_run_compiles_nothing_new(spark):
    from dataval_spark.fixtures import transcripts
    from dataval_spark.suite import transcript_suite

    df = transcripts(spark, n_convs=60, seed=7, n_parts=2)
    first = transcript_suite().run(df).summary()
    before = _compiles(spark)
    assert transcript_suite().run(df).summary() == first
    assert _compiles(spark) - before == 0
