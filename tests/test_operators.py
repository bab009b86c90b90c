"""Unit tests for the training-data-pipeline operators (dedup,
similarity, text, multimodal) on small, hand-checkable inputs."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dataval_spark.operators import dedup as D
from dataval_spark.operators import multimodal as M
from dataval_spark.operators import similarity as S
from dataval_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "a"),   # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog", "a"),     # near dup of 1
        (4, "completely different text about spark shuffles", "a"),
        (5, "der hund und die katze und der vogel", "b"),
        (6, "  The   Quick  Brown Fox jumps over the lazy dog ", "b"),  # dup modulo norm
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string").cache()


def test_exact_dup_groups(docs):
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_cnt"] == 3  # 1, 2, and 6 (normalized)


def test_dedup_keep_first(docs):
    kept = D.dedup_keep_first(docs, "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4, 5]


def test_minhash_identical_signatures(docs):
    sig = docs.select(
        "doc_id", D.minhash_signature(F.col("text"), 4).alias("sig")
    ).collect()
    by_id = {r.doc_id: r.sig for r in sig}
    assert by_id[1] == by_id[2] == by_id[6]
    assert by_id[1] != by_id[4]


def test_minhash_lsh_candidates(docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_candidates(docs, "doc_id").collect()}
    assert (1, 2) in pairs        # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares most shingle mins
    assert (1, 4) not in pairs


def test_minhash_census_equals_enumerated_aggregate(spark, docs):
    """minhash_candidate_census must equal the aggregate of the
    enumerated candidate-pair set — the equivalence q53 relies on
    (inclusion-exclusion over band subsets + per-bucket maxes). Checked
    on the hand-built fixture AND a 400-doc template-heavy corpus whose
    band buckets are large and heavily overlapping (the exact regime
    the census exists for), at both 2 and 4 bands."""
    template_rows = [
        (i, ("shared boilerplate header " * 3)
            + (f"unique tail {i % 13} {i % 7}" if i % 5 else ""))
        for i in range(400)
    ] + [(9001, None), (9002, "   ")]
    template = spark.createDataFrame(template_rows, "doc_id long, text string")
    for frame in (docs, template):
        for n_hashes, band_size in ((4, 2), (8, 2)):
            pairs = D.minhash_candidates(
                frame, "doc_id", n_hashes=n_hashes, band_size=band_size
            )
            expect = pairs.agg(
                F.count(F.lit(1)).alias("n_candidate_pairs"),
                F.countDistinct("doc_a").alias("n_docs_as_a"),
            ).collect()[0]
            got = D.minhash_candidate_census(
                frame, "doc_id", n_hashes=n_hashes, band_size=band_size
            ).collect()[0]
            assert got["n_candidate_pairs"] == expect["n_candidate_pairs"]
            assert got["n_docs_as_a"] == expect["n_docs_as_a"]


def test_minhash_census_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    row = D.minhash_candidate_census(empty, "doc_id").collect()[0]
    assert row["n_candidate_pairs"] == 0 and row["n_docs_as_a"] == 0


def test_simhash_hamming(docs):
    codes = {r.doc_id: r.code for r in docs.select(
        "doc_id", D.simhash(F.col("text"), 16).alias("code")).collect()}
    assert codes[1] == codes[2] == codes[6]
    ham_near = bin(codes[1] ^ codes[3]).count("1")
    ham_far = bin(codes[1] ^ codes[4]).count("1")
    assert ham_near < ham_far


def _synthetic_codes(n: int, bits: int = 64, planted: int = 20):
    """Deterministic pseudo-random codes + `planted` near-dups of code 0
    at Hamming 1..3 (md5-derived, no RNG so the test is reproducible)."""
    import hashlib

    mask = (1 << bits) - 1
    # signed-bigint safe: keep the top bit clear
    codes = [
        int(hashlib.md5(f"code:{i}".encode()).hexdigest()[:16], 16) & (mask >> 1)
        for i in range(n)
    ]
    for j in range(planted):
        ham = (j % 3) + 1
        c = codes[0]
        for b in range(ham):
            c ^= 1 << ((7 * j + 13 * b) % (bits - 1))
        codes.append(c)
    return [(i, c) for i, c in enumerate(codes)]


def test_simhash_pigeonhole_recall_matches_brute_force(spark):
    rows = _synthetic_codes(300, planted=20)
    coded = spark.createDataFrame(rows, "doc long, code long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.code_near_pairs(coded, bits=64, max_hamming=3).collect()
    }
    expect = {
        (a, b, bin(ca ^ cb).count("1"))
        for a, ca in rows
        for b, cb in rows
        if a < b and bin(ca ^ cb).count("1") <= 3
    }
    assert len(expect) >= 20  # the planted near-dups are actually there
    assert got == expect


def test_simhash_candidates_stay_linear(spark):
    # 2000 pseudo-random 64-bit codes: all-pairs is ~2M; the 4-chunk
    # pigeonhole index (65536 buckets per chunk) must keep candidates
    # O(docs). The old single high-band scheme had 2^(bits/2) buckets
    # total and went quadratic per bucket.
    n = 2000
    rows = _synthetic_codes(n, planted=0)
    coded = spark.createDataFrame(rows, "doc long, code long")
    n_cand = D.code_candidates(coded, bits=64, max_hamming=3).count()
    assert n_cand < 5 * n, f"candidate blow-up: {n_cand} for {n} docs"


def _py_simhash(text: str, bits: int) -> int:
    """Independent python mirror of normalize->tokens->md5-prefix->bit
    majority (signed two's complement, matching Spark's bigint)."""
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", text.strip().lower())
    toks = set(norm.split(" "))
    hashes = [int(hashlib.md5(t.encode()).hexdigest()[: bits // 4], 16) for t in toks]
    code = 0
    for b in range(bits):
        if sum(1 for h in hashes if h & (1 << b)) * 2 > len(hashes):
            code |= 1 << b
    return code - (1 << 64) if bits == 64 and code >= (1 << 63) else code


@pytest.mark.parametrize("bits", [16, 32, 60, 64])
def test_simhash_matches_python_mirror(docs, bits):
    # round 2 regression: hashed_tokens was hard-coded to 16-bit, so
    # bits=64 codes had bits 16..63 always zero and the pigeonhole index
    # silently went quadratic. The mirror would catch that (high bits set).
    got = {
        r.doc_id: r.code
        for r in docs.select("doc_id", D.simhash(F.col("text"), bits).alias("code")).collect()
    }
    rows = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for doc_id, text in rows.items():
        assert got[doc_id] == _py_simhash(text, bits), (doc_id, bits)


def test_simhash_null_text_codes_to_zero(spark):
    # the aggregate formulation propagates NULL through a NULL token
    # array; the coalesce guard must restore the oracle's 0 (CASE-chain
    # over NULL conditions folds to the ELSE 0 branch)
    df = spark.createDataFrame(
        [(1, None), (2, "actual text here")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.code
        for r in df.select("doc_id", D.simhash(F.col("text"), 60).alias("code")).collect()
    }
    assert got[1] == 0
    assert got[2] not in (0, None)


def test_simhash_64bit_high_bits_populated(spark):
    texts = [
        (i, f"document {i} covers topic {i % 7} with detail level {i * i % 101}")
        for i in range(64)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    codes = [r.code for r in df.select(D.simhash(F.col("text"), 64).alias("code")).collect()]
    # any bit of a healthy 64-bit simhash varies across diverse docs;
    # with the round-2 bug the top 48 bits were constant-zero
    assert len({(c >> 16) & ((1 << 48) - 1) for c in codes}) > 16


def test_simhash_near_pairs_64bit_bounded_on_skewed_corpus(spark):
    # 300 diverse docs + 30 copies of one template: the 30 identical
    # codes legitimately pair (C(30,2)=435 true dups); the pigeonhole
    # index must not add cross-bucket noise on top. With degenerate
    # chunk indexes (the round-2 bug) candidates explode toward n^2/2.
    rows = [
        (i, f"unique doc {i} about subject {i % 13} rating {(i * 7) % 29} stars")
        for i in range(300)
    ] + [(1000 + j, "the very same template text repeated verbatim") for j in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.simhash_near_pairs(df, "doc_id", bits=64, max_hamming=3)
    n_pairs = pairs.count()
    true_dups = 30 * 29 // 2
    assert n_pairs >= true_dups  # recall on the planted clique
    assert n_pairs < true_dups + 5 * 330, f"cross-bucket noise: {n_pairs}"


def test_simhash_near_pairs_text_surface(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_pairs(docs, "doc_id", max_hamming=3).collect()
    }
    # exact dups (1,2,6 normalize identically) are at Hamming 0
    assert pairs[(1, 2)] == 0 and pairs[(1, 6)] == 0 and pairs[(2, 6)] == 0


def test_jaccard_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_pairs(docs, "doc_id", n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 6)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_jaccard_within_group(docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(
        docs, "doc_id", n=3, threshold=0.3, within="source").collect()}
    assert (1, 2) in pairs
    assert (1, 6) not in pairs  # different source


def test_brute_force_topk(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    top = S.brute_force_topk(corpus, queries, k=2).collect()
    assert [r.vec_id for r in top] == [0, 1]
    assert top[0].sim > 0.99


def test_lsh_bucket_stability(spark):
    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)],
        "vec_id long, embedding array<float>",
    )
    buckets = {r.vec_id: r.b for r in df.select(
        "vec_id", S.lsh_bucket(F.col("embedding"), 8, 4).alias("b")).collect()}
    assert buckets[1] == buckets[2]
    assert buckets[1] != buckets[3]
    assert 0 <= buckets[1] < 16


def test_lsh_topk_finds_same_bucket_neighbors(spark):
    corpus = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i] * 8) for i in range(10)] + [(99, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0] * 8)], "query_id long, query_vec array<float>"
    )
    res = S.lsh_topk(corpus, queries, dim=8, k=3).collect()
    assert len(res) == 3
    assert all(r.vec_id != 99 for r in res)


def test_token_and_quality(spark):
    df = spark.createDataFrame([("the quick fox",), ("",)], "text string")
    rows = df.select(
        X.token_count(F.col("text")).alias("n"),
        X.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert rows[0].n == 3 and rows[1].n == 0
    assert len(rows[0].fp) == 16


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of the house",),
         ("der hund und die katze nicht das",),
         ("xyzzy plugh",)],
        "text string",
    )
    langs = [r.l for r in df.select(X.lang_id(F.col("text")).alias("l")).collect()]
    assert langs == ["en", "de", "und"]


def test_multimodal_features_and_flags(spark):
    rows = [
        (1, "image", bytearray(b"\x01\x02\x03\x04"), 2, 2, None),
        (2, "audio", bytearray(b"\xff\x00"), None, None, 1000),
        (3, "image", None, 2, 2, None),        # missing payload
        (4, "hologram", bytearray(b"\x01"), None, None, None),  # bad kind+dims
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    feats = {r.media_id: r for r in M.extract_features(df).collect()}
    assert feats[1].n_bytes == 4
    assert len(feats[1].feat) == 8
    assert feats[3].n_bytes == 0

    flags = {r.media_id: r for r in M.media_integrity_flags(df).collect()}
    assert flags[1].approved and flags[2].approved
    assert flags[3].dataval & 1
    assert flags[4].dataval & 2 and flags[4].dataval & 4


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG")


def test_multimodal_resize_and_frame_sample(spark):
    rows = [
        (1, "image", bytearray(b"\x01\x02\x03"), 8, 8, None),
        (2, "video", bytearray(b"\xaa\xbb\xcc\xdd"), None, None, 3500),
        (3, "video", bytearray(b"\x10"), None, None, 999),   # < 1 frame
        (4, "audio", bytearray(b"\x00"), None, None, 2000),  # filtered out
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    resized = {r.media_id: r for r in M.resize_images(df, 4, 4).collect()}
    assert set(resized) == {1}  # only images
    # geometry contract: exactly width*height*3 bytes, deterministic bytes
    assert len(resized[1].payload) == 4 * 4 * 3
    assert bytes(resized[1].payload[:6]) == b"\x01\x02\x03\x01\x02\x03"

    frames = M.sample_frames(df, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {2}          # only videos with >= 1 whole interval
    assert [r.frame_idx for r in sorted(by_id[2], key=lambda r: r.frame_idx)] == [0, 1, 2]
    assert [r.t_ms for r in sorted(by_id[2], key=lambda r: r.t_ms)] == [0, 1000, 2000]
    # deterministic frame content (payload rotated by t_ms mod len)
    f1 = sorted(by_id[2], key=lambda r: r.frame_idx)[1]
    assert bytes(f1.frame)[:4] == b"\xaa\xbb\xcc\xdd"


def test_salted_rollup_equals_plain_groupby(spark):
    from dataval_spark.fixtures import transcripts
    from dataval_spark.operators.rollup import conversation_rollup

    df = transcripts(spark, n_convs=150, seed=2187, n_parts=4, skew_convs=2, skew_turns=3000)
    salted = conversation_rollup(df, n_salts=8).orderBy("conv_id")
    plain = (
        df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("turn_idx").alias("n_distinct_idx"),
            F.min("turn_idx").alias("min_idx"),
            F.max("turn_idx").alias("max_idx"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .withColumn(
            "gap_free",
            (F.col("min_idx") == 0) & (F.col("n_distinct_idx") == F.col("max_idx") + 1),
        )
        .select(  # same column order as the operator
            "conv_id", "n_turns", "n_distinct_idx", "min_idx", "max_idx",
            "first_ts", "last_ts", "gap_free",
        )
        .orderBy("conv_id")
    )
    assert salted.select(*plain.columns).collect() == plain.collect()
    # the skewed mega-conversations are present and correct
    skewed = {r.conv_id: r.n_turns for r in salted.where("n_turns >= 3000").collect()}
    assert len(skewed) == 2


def test_rollup_gap_free_not_fooled_by_duplicate(spark):
    """A duplicated turn_idx that exactly offsets a missing one must NOT
    report gap_free (the count-based formula was fooled by this)."""
    from dataval_spark.operators.rollup import conversation_rollup

    rows = [
        ("c1", 0, "2024-01-01 00:00:00"),
        ("c1", 1, "2024-01-01 00:05:00"),
        ("c1", 1, "2024-01-01 00:06:00"),  # duplicate of idx 1
        ("c1", 3, "2024-01-01 00:15:00"),  # idx 2 missing — gapped!
        ("c2", 0, "2024-01-01 00:00:00"),
        ("c2", 1, "2024-01-01 00:05:00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r.conv_id: r for r in conversation_rollup(df, n_salts=4).collect()}
    assert not out["c1"].gap_free and out["c1"].n_distinct_idx == 3
    assert out["c2"].gap_free


def test_ivf_ann_recall(spark):
    """IVF with 4 well-separated clusters: training finds them, probing 1
    cluster returns the true neighbors, recall vs brute force is perfect
    on separated data."""
    import math

    from dataval_spark.operators.ivf import build_index, ivf_topk, train_centroids
    from dataval_spark.operators.similarity import brute_force_topk

    dim = 8
    rows = []
    for cluster in range(4):
        base = [0.0] * dim
        base[cluster * 2] = 10.0
        for i in range(25):
            vec = [b + math.sin(cluster * 100 + i * 7 + d) * 0.3 for d, b in enumerate(base)]
            rows.append((cluster * 100 + i, vec))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = train_centroids(corpus, dim, k=4, iters=3)
    assert len(cents) == 4
    index = build_index(corpus, cents).cache()
    # clusters are balanced: each centroid owns ~25 vectors
    sizes = {r["_cluster"]: r["n"] for r in index.groupBy("_cluster").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) == 4 and all(v == 25 for v in sizes.values())

    queries = spark.createDataFrame(
        [(0, rows[3][1]), (1, rows[28][1])], "query_id long, query_vec array<float>"
    )
    approx = ivf_topk(index, cents, queries, k=5, nprobe=1)
    exact = brute_force_topk(corpus, queries, k=5)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    assert a == e  # perfect recall on separated clusters with nprobe=1


def test_ivf_assignment_constant_plan_size_at_large_k(spark):
    """The production point (k=4096, dim=64) must not stall Catalyst:
    assignment is one Arrow-batched matmul, so plan construction +
    execution stays seconds regardless of k (the old expression-unrolled
    argmin built ~500k plan nodes here and hung before reading data)."""
    import time

    from dataval_spark.operators.ivf import assign_clusters

    dim, k = 64, 4096
    # centroid j = 2*j at dimension j%dim — deterministic, distinct
    cents = [[2.0 * j if d == j % dim else 0.0 for d in range(dim)] for j in range(k)]
    rows = [(i, [2.0 * i if d == i % dim else 0.1 for d in range(dim)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    t0 = time.monotonic()
    out = assign_clusters(df, cents)
    got = {r.vec_id: r["_cluster"] for r in out.collect()}
    elapsed = time.monotonic() - t0
    assert elapsed < 30, f"k=4096 assignment took {elapsed:.1f}s — plan blow-up"
    # vector i sits on centroid i's axis; nearest centroid is i itself
    assert got[5] == 5 and got[100] == 100 and got[199] == 199


def test_ivf_truncated_file_degrades_not_crashes(spark):
    """A uniformly-short run of vectors (one corrupt/truncated input
    file) must degrade those rows to cluster -1, not kill the job: the
    old per-BATCH dim inference raised when a whole Arrow batch happened
    to be short, contradicting the dirty-data contract."""
    from dataval_spark.operators.ivf import assign_clusters

    dim = 8
    cents = [[1.0 if d == j else 0.0 for d in range(dim)] for j in range(4)]
    good = [(i, [1.0 if d == i % 4 else 0.0 for d in range(dim)]) for i in range(20)]
    short = [(100 + i, [0.5] * 3) for i in range(20)]  # truncated file's rows
    df = spark.createDataFrame(
        good + short, "vec_id long, embedding array<double>"
    ).repartition(4)  # some partitions (whole Arrow batches) are all-short
    got = {r.vec_id: r["_cluster"] for r in assign_clusters(df, cents).collect()}
    assert all(got[i] == i % 4 for i in range(20))
    assert all(got[100 + i] == -1 for i in range(20))


def test_ivf_assign_clusters_streaming_frame(spark, tmp_path):
    """assign_clusters must stay legal on a streaming DataFrame (it is a
    pure mapInPandas transform): the driver-side dim preflight uses
    .rdd/runJob, which would throw on a streaming source — it has to
    skip itself, and dirty rows still degrade to -1 per micro-batch."""
    from dataval_spark.operators.ivf import assign_clusters

    dim = 8
    cents = [[1.0 if d == j else 0.0 for d in range(dim)] for j in range(4)]
    d = str(tmp_path / "vstream")
    rows = [(i, [1.0 if k == i % 4 else 0.0 for k in range(dim)]) for i in range(12)]
    rows.append((99, [0.5] * 3))  # dirty: wrong dim -> cluster -1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df.write.parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    out = assign_clusters(stream, cents)  # must not raise at plan time
    q = (
        out.writeStream.format("memory")
        .queryName("ivf_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        r.vec_id: r["_cluster"]
        for r in spark.sql("SELECT * FROM ivf_stream").collect()
    }
    assert got[99] == -1
    assert all(got[i] == i % 4 for i in range(12))


def test_ivf_global_dim_mismatch_fails_loudly(spark):
    """When NO sampled vector matches the centroid dim, it's an index
    config error — the driver-side preflight raises before the job."""
    from dataval_spark.operators.ivf import assign_clusters

    cents = [[0.0] * 16, [1.0] * 16]
    df = spark.createDataFrame(
        [(i, [0.5] * 8) for i in range(30)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        assign_clusters(df, cents).collect()


@contextmanager
def _cc_path_conf(spark, path):
    """Session conf that routes connected_components (and
    simhash_clusters) down ``path``: the session's broadcast threshold
    takes small graphs to the driver pass, -1 forces the Spark rounds
    (and the Spark pair join). Restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if path == "rounds":
        spark.conf.set(key, "-1")
    try:
        yield path
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(params=["driver", "rounds"])
def cc_path(request, spark):
    """Runs a connected_components test on each of its two paths."""
    with _cc_path_conf(spark, request.param) as path:
        yield path


def _spy_checkpoints(monkeypatch, df_cls) -> list[bool]:
    """Record the ``eager`` flag of every localCheckpoint call."""
    calls: list[bool] = []
    orig = df_cls.localCheckpoint

    def spy(self, eager=True):
        calls.append(bool(eager))
        return orig(self, eager=eager)

    monkeypatch.setattr(df_cls, "localCheckpoint", spy)
    return calls


def test_connected_components_orphan_endpoints_fail_loudly(spark):
    """A pair endpoint absent from the seed ids cannot relay labels, so
    1-5-9 would silently split into {1},{9}: strict mode must raise, and
    strict=False must label only the seeded subgraph — splitting at the
    unlabeled node the same way on both paths."""
    ids = spark.createDataFrame([(1,), (9,)], "doc long")
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9)], "doc_a long, doc_b long"
    )
    for path in ("driver", "rounds"):
        with _cc_path_conf(spark, path):
            with pytest.raises(ValueError, match="missing from the seed ids"):
                D.connected_components(ids, pairs)
            out = {r.doc: r.cluster for r in
                   D.connected_components(ids, pairs, strict=False).collect()}
        assert set(out) == {1, 9}, path  # only the seeded universe is labeled
        assert out == {1: 1, 9: 9}, path  # SPLIT at the unlabeled node


def _uf_clusters(n_ids, edges):
    """Independent union-find mirror: id -> component-min label."""
    parent = list(range(n_ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_ids)}


def test_connected_components_equivalence_on_graph_shapes(spark, cc_path):
    """Both CC paths must produce the identical component-min labeling
    as a python union-find on a chain (its edges in both orientations),
    a clique, and a seeded pseudo-random graph (the round-3 verdict's
    adversarial-shape ask)."""
    import random

    shapes = {
        "chain": [(i, i + 1) if i % 2 else (i + 1, i) for i in range(60)],
        "clique": [(a, b) for a in range(12) for b in range(a + 1, 12)],
    }
    rng = random.Random(2187)
    shapes["random"] = sorted({
        tuple(sorted(rng.sample(range(80), 2))) for _ in range(70)
    })
    for name, edges in shapes.items():
        n = max(max(e) for e in edges) + 5  # a few singletons too
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc long")
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc: r.cluster for r in D.connected_components(
            ids, pairs).collect()}
        assert got == _uf_clusters(n, edges), f"{cc_path} on {name}"


def test_connected_components_null_endpoints(spark, cc_path):
    """A NULL pair endpoint counts as missing from the seed ids: strict
    raises, strict=False drops its edges (splitting 2 from 3), and a
    NULL seed id keeps its (NULL, NULL) row."""
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, None)], "doc long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="missing from the seed ids"):
        D.connected_components(ids, pairs)
    got = sorted(
        (tuple(r) for r in
         D.connected_components(ids, pairs, strict=False).collect()),
        key=str,
    )
    assert got == sorted([(1, 1), (2, 1), (3, 3), (4, 3), (None, None)], key=str)


def test_connected_components_big_ids_exact(spark, cc_path):
    """Bigint ids above 2^53 (where float64 rounds neighbours together)
    keep every label exact on both paths."""
    base = (1 << 60) + 1
    nodes = [base + i for i in range(6)]
    ids = spark.createDataFrame([(i,) for i in nodes], "doc long")
    pairs = spark.createDataFrame(
        [(nodes[2], nodes[1]), (nodes[1], nodes[0]), (nodes[4], nodes[5])],
        "doc_a long, doc_b long",
    )
    got = {r.doc: r.cluster for r in D.connected_components(ids, pairs).collect()}
    assert got == {
        nodes[0]: nodes[0], nodes[1]: nodes[0], nodes[2]: nodes[0],
        nodes[3]: nodes[3], nodes[4]: nodes[4], nodes[5]: nodes[4],
    }


def test_connected_components_driver_pass_budget(spark, monkeypatch):
    """A broadcast-sized graph is solved on the driver: the directed pair
    set is the only checkpoint (eager — its action observes the row
    count), there are no round checkpoints or probes, and the whole call
    starts at most 6 Spark jobs (checkpoint, Arrow collect, endpoint
    anti-join)."""
    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n + 3)], "doc long")
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    calls = _spy_checkpoints(monkeypatch, type(ids))
    labels, jobs = _jobs_run_by(
        spark, lambda: D.connected_components(ids, pairs)
    )
    assert calls == [True], calls
    assert jobs <= 6, jobs
    got = {r.doc: r.cluster for r in labels.collect()}
    assert got == _uf_clusters(n + 3, edges)


def test_connected_components_driver_pass_size_string_threshold(spark, monkeypatch):
    """spark.sql.autoBroadcastJoinThreshold accepts size strings: '10MB'
    is read through the session's parsed conf (int('10MB') would raise)
    and still takes a small graph down the driver pass."""
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc long")
    pairs = spark.createDataFrame([(0, 1), (3, 4)], "doc_a long, doc_b long")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    calls = _spy_checkpoints(monkeypatch, type(ids))
    spark.conf.set(key, "10MB")
    try:
        got = {r.doc: r.cluster for r in D.connected_components(ids, pairs).collect()}
    finally:
        spark.conf.set(key, prev)
    assert calls == [True], calls
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3}


def test_connected_components_driver_pass_checkpoint_dir(spark, tmp_path, monkeypatch):
    """With checkpoint_dir the pair set is a reliable checkpoint — the
    only one on the driver pass — and the call returns the right labels
    without waiting on the row-count observation."""
    ids = spark.createDataFrame([(i,) for i in range(6)], "doc long")
    pairs = spark.createDataFrame([(5, 4), (4, 3), (0, 1)], "doc_a long, doc_b long")
    cls = type(ids)
    orig = cls.checkpoint
    calls = []

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "checkpoint", spy)
    got = {r.doc: r.cluster for r in D.connected_components(
        ids, pairs, checkpoint_dir=str(tmp_path / "ckpt")).collect()}
    assert len(calls) == 1
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 3}


def test_connected_components_one_action_per_round(spark, monkeypatch):
    """Driver round-trip fold on the rounds path: each CC round pays
    exactly ONE action — the per-round localCheckpoint is LAZY
    (eager=False) and is materialized by the round's own convergence
    count; only the THREE init checkpoints are eager (round 7: the
    directed pair set is checkpointed BEFORE mirroring — one evaluation
    of the pair join instead of one per union branch — then the
    bidirectional edge set and the labels). For a 2-node single-edge
    graph, halving takes exactly 2 probes (one that changes node 1's
    label, one that confirms the fixed point), so the recorded call
    sequence is [True, True, True, False, False]."""
    ids = spark.createDataFrame([(0,), (1,)], "doc long")
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    calls = _spy_checkpoints(monkeypatch, type(ids))
    with _cc_path_conf(spark, "rounds"):
        got = {r.doc: r.cluster for r in D.connected_components(
            ids, pairs, strict=False).collect()}
    assert got == {0: 0, 1: 0}
    # init raw pairs + mirrored edges + labels: eager
    assert calls[:3] == [True, True, True], calls
    rounds = calls[3:]
    assert rounds and all(e is False for e in rounds), calls
    assert len(rounds) == 2, calls  # change probe + confirm probe


def test_connected_components_batched_convergence_probes(spark, monkeypatch):
    """Driver-action budget on a DEEP graph, rounds path: each probe
    runs TWO propagation rounds and pays one action (round 1 pinned via
    persist + block-locks, round 2 lazily checkpointed and materialized
    by the probe's own convergence count) — so a graph needing R rounds
    costs ceil(R/2)+1 probes, not R+1 actions. Convergence is monotone
    (labels only descend), so probing every other round cannot miss the
    fixed point. Chain-64 with halving converges in <= 8 propagation
    rounds (min-label + path halving ~ log2 n); one action per round
    would be >= 8 driver barriers — the probe count asserted here is the
    halved budget. Lazy localCheckpoint calls ARE the probe count:
    exactly one per probe, materialized by that probe's single action
    (the [True, True, False...] pattern test above pins the eager/lazy
    split)."""
    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    calls = _spy_checkpoints(monkeypatch, type(ids))
    with _cc_path_conf(spark, "rounds"):
        got = {r.cluster for r in D.connected_components(
            ids, pairs, strict=False).collect()}
    assert got == {0}
    probes = sum(1 for c in calls if not c)
    assert probes <= 5, (probes, calls)  # 4 measured (8 rounds)


def test_ivf_corrupt_leading_file_does_not_fail_preflight(spark, tmp_path):
    """>=100 uniformly-short rows in the LEADING input file must not trip
    the global dim-mismatch preflight when other files are fine — a flat
    limit(100) sample reads only the leading split (Spark orders splits
    largest-first, and a corrupt dump is often the big one)."""
    from dataval_spark.operators.ivf import assign_clusters

    dim = 8
    cents = [[1.0 if d == j else 0.0 for d in range(dim)] for j in range(4)]
    path = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(100 + i, [0.5] * 3) for i in range(150)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(i, [1.0 if d == i % 4 else 0.0 for d in range(dim)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(path)
    df = spark.read.parquet(path)
    got = {r.vec_id: r["_cluster"] for r in assign_clusters(df, cents).collect()}
    assert all(got[100 + i] == -1 for i in range(150))
    assert all(got[i] == i % 4 for i in range(20))


def test_cosine_near_dup_multi_table_recall(spark):
    """At 8 planes a single LSH table misses many true near-dup pairs
    (each plane cuts recall); 3 independent tables must strictly improve
    recall toward the brute-force ground truth, with zero false pairs
    (cosine is exact — LSH only gates candidates)."""
    import math as m

    from dataval_spark.operators.similarity import cosine_near_dup_pairs

    dim, thr = 16, 0.97
    # deterministic base vectors + a perturbed near-dup of each tenth one
    base = [
        [m.sin((i + 1) * (d + 3) * 0.7) for d in range(dim)] for i in range(120)
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [
        (1000 + i, [x + 0.02 * m.sin(i + d) for d, x in enumerate(base[i])])
        for i in range(0, 120, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cos(u, v):
        dot = sum(x * y for x, y in zip(u, v))
        nu = m.sqrt(sum(x * x for x in u))
        nv = m.sqrt(sum(x * x for x in v))
        return dot / (nu * nv)

    truth = {
        (a, b)
        for ai, (a, u) in enumerate(rows)
        for b, v in rows[ai + 1:]
        if round(cos(u, v), 4) >= thr
    }
    assert len(truth) >= 10  # the planted near-dups are actually there

    def got(n_tables):
        return {
            (r.doc_a, r.doc_b)
            for r in cosine_near_dup_pairs(
                df, dim, thr, n_planes=8, n_tables=n_tables
            ).collect()
        }

    g1, g3 = got(1), got(3)
    assert g1 <= truth and g3 <= truth  # no false pairs, ever
    assert g1 <= g3                     # tables only ADD candidates
    assert len(g3) > len(g1)            # and recall actually improves
    # analytic recall at cos 0.97 / 8 planes: p ~ 0.52 per table,
    # 1-(1-p)^3 ~ 0.89 at T=3 — assert comfortably below that
    assert len(g3) >= 0.8 * len(truth)
    assert len(g1) <= 0.7 * len(truth)  # single-table really is lossy here


def test_pack_greedy_sharded_skewed_group(spark):
    """Round-3 verdict 'what's wrong #4': partitionBy(lang) sorts ALL of
    one language on one reducer at corpus scale. n_shards=k must split a
    skewed group into k independently-packed sub-groups (parallel
    bounded sorts) while every bin stays a valid training pack and the
    n_shards=1 form keeps the exact closed-form offsets."""
    from dataval_spark.operators.packing import pack_greedy

    budget = 100
    # skewed corpus: 'en' holds 2000 docs, 'fr' 10
    rows = [(f"en-{i:05d}", "en", 10 + (i % 17)) for i in range(2000)]
    rows += [(f"fr-{i:05d}", "fr", 25) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n_tok int")

    packed = pack_greedy(df, "n_tok", budget, "lang", "doc_id", n_shards=8)
    out = packed.collect()
    assert len(out) == len(rows)  # every doc assigned exactly once

    # the skewed group really fans out: bin ids encode shard in the high
    # bits, so >1 distinct shard per language = >1 sort partition
    en_shards = {r.bin >> 32 for r in out if r.lang == "en"}
    assert len(en_shards) == 8

    # every bin is still a valid pack: tokens <= budget + one max doc
    from collections import defaultdict

    fill = defaultdict(int)
    for r in out:
        fill[(r.lang, r.bin)] += r.n_tok
    max_tok = max(n for _, _, n in rows)
    assert all(v <= budget + max_tok for v in fill.values())

    # determinism: shard id is a pure hash of the order key
    again = {(r.doc_id, r.bin) for r in
             pack_greedy(df, "n_tok", budget, "lang", "doc_id", n_shards=8).collect()}
    assert again == {(r.doc_id, r.bin) for r in out}

    # n_shards=1 stays the exact closed form (python mirror)
    one = pack_greedy(df, "n_tok", budget, "lang", "doc_id").collect()
    offsets, expect = defaultdict(int), {}
    for doc_id, lang, n_tok in sorted(rows):
        expect[doc_id] = offsets[lang] // budget
        offsets[lang] += n_tok
    assert {r.doc_id: r.bin for r in one} == expect


def test_near_dup_degenerate_vectors_guarded(spark):
    """Round-3 verdict 'what's wrong #3': NULL/ragged/NULL-element
    vectors all hash to bucket 0 of EVERY plane family (each bit's
    when(sum>0) folds NULL to 0), so 1k dirty vectors used to make
    ~500k quadratic candidate pairs per table that only died at the
    NULL-sim filter. They must now be cut BEFORE bucket keying, with
    results unchanged on the clean rows."""
    import math as m

    from dataval_spark.operators.similarity import cosine_near_dup_pairs, vector_ok
    from dataval_spark.plans import explain as E

    dim, thr = 8, 0.97
    clean = [
        (i, [m.sin((i + 1) * (d + 2) * 0.9) for d in range(dim)])
        for i in range(60)
    ]
    clean += [(500 + i, [x + 0.01 for x in v]) for i, v in clean[:6]]
    dirty = []
    for i in range(1000):
        j = 2000 + i
        if i % 3 == 0:
            dirty.append((j, None))                          # NULL vector
        elif i % 3 == 1:
            dirty.append((j, [1.0] * (dim - 3)))             # ragged
        else:
            dirty.append((j, [1.0] * (dim - 1) + [None]))    # NULL element
    dirty.append((9000, [0.0] * dim))  # zero vector: NULL cosine, bucket 0
    schema = "vec_id long, embedding array<double>"
    got_clean = {
        (r.doc_a, r.doc_b)
        for r in cosine_near_dup_pairs(
            spark.createDataFrame(clean, schema), dim, thr, n_tables=2
        ).collect()
    }
    mixed_df = cosine_near_dup_pairs(
        spark.createDataFrame(clean + dirty, schema), dim, thr, n_tables=2
    )
    got_mixed = {(r.doc_a, r.doc_b) for r in mixed_df.collect()}
    assert got_mixed == got_clean and len(got_clean) >= 5
    # candidate volume stays O(clean docs): the guard sits BELOW the
    # self-join in the executed plan (size-check filter on the scan side)
    assert "size(" in E.physical_plan(mixed_df)
    # the structural predicate itself: only intact-dim, non-NULL survive
    n_ok = (
        spark.createDataFrame(clean + dirty, schema)
        .where(vector_ok(F.col("embedding"), dim))
        .count()
    )
    assert n_ok == len(clean) + 1  # zero vector is structurally valid


def test_ngram_contamination(spark):
    """8-gram leakage: a corpus doc QUOTING a benchmark row must be
    flagged even though its exact fingerprint differs; unrelated and
    short docs must not."""
    bench = spark.createDataFrame(
        [(100, "the capital of france is paris and its river is the seine")],
        "doc_id long, text string",
    )
    quote = (
        "as the quiz put it: the capital of france is paris and its river "
        "is the seine, which everyone knows"
    )
    corpus = spark.createDataFrame(
        [
            (1, quote),                                     # quotes the benchmark
            (2, "completely unrelated text about spark plans and shuffles ok"),
            (3, "the capital of france"),                   # < 8 tokens: no shingle
            (4, None),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits for r in D.ngram_contamination(corpus, bench, n=8).collect()}
    assert set(hits) == {1}
    # the quote preserves 4 distinct 8-gram windows of the benchmark row
    assert hits[1] == 4


def _planted_funnel(spark):
    """(docs, benchmark): a corpus planted with one offender per funnel
    stage."""
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
        (2, base + " one", "en"),            # exact dup of 1 -> dropped
        # near dup of 1: same distinct-token SET (reordered), so the
        # SimHash codes are identical (Hamming 0) while the normalized
        # text — and the exact fingerprint — differ
        (3, " ".join(reversed((base + " one").split())), "en"),
        (4, "short text", "en"),             # < min_tokens -> dropped
        (5, None, "en"),                     # NULL -> dropped
        (6, "prefix words then " + bench_text + " then suffix words", "en"),
        (7, "a completely different legitimate document with plenty of "
            "distinct content words spread across the whole window", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    return docs, bench


def test_prepare_corpus_full_funnel(spark):
    """The composed pipeline (quality gate -> exact dedup -> near dedup
    -> decontamination -> packing) drops exactly the rows each stage
    owns, on a corpus planted with one offender per stage."""
    from dataval_spark.operators.corpus import prepare_corpus

    docs, bench = _planted_funnel(spark)
    out = prepare_corpus(
        docs, benchmark=bench, min_tokens=5, simhash_bits=60, max_hamming=3
    )
    s = out["stats"]()
    assert s["n_input"] == 7
    assert s["n_quality_pass"] == 5          # 4 (short) and 5 (NULL) gone
    assert s["n_exact_deduped"] == 4         # 2 gone
    assert s["n_near_deduped"] == 3          # 3 clustered into 1 -> gone
    assert s["n_decontaminated"] == 2        # 6 (quotes benchmark) gone
    kept = {r.doc_id for r in out["decontaminated"].select("doc_id").collect()}
    assert kept == {1, 7}
    assert s["n_packed_bins"] >= 1
    assert "bin" in out["packed"].columns


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs it started)."""
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


def test_prepare_corpus_stats_observed(spark, tmp_path):
    """stats() reads the funnel off the actions that already ran: after a
    full write of `packed` it starts no Spark job. With no prior action,
    or after a partial one that fills the packed-side observations with
    partial values, it counts instead and returns the same funnel."""
    from dataval_spark.operators.corpus import prepare_corpus

    docs, bench = _planted_funnel(spark)
    # a 10-token window puts the two survivors (21 and 16 tokens) in
    # bins 0 and 2, so a partial read of `packed` sees fewer bin starts
    kw = dict(benchmark=bench, min_tokens=5, window_tokens=10)
    want = {
        "n_input": 7, "n_quality_pass": 5, "n_exact_deduped": 4,
        "n_near_deduped": 3, "n_decontaminated": 2, "n_packed_bins": 2,
    }

    written = prepare_corpus(docs, **kw)
    path = str(tmp_path / "packed")
    written["packed"].write.mode("overwrite").partitionBy("lang").parquet(path)
    s, jobs = _jobs_run_by(spark, written["stats"])
    assert jobs == 0
    assert s == want
    on_disk = spark.read.parquet(path).select("lang", "bin").distinct().count()
    assert on_disk == s["n_packed_bins"]

    unread = prepare_corpus(docs, **kw)
    s, jobs = _jobs_run_by(spark, unread["stats"])
    assert s == want and jobs > 0

    partial = prepare_corpus(docs, **kw)
    assert len(partial["packed"].limit(1).collect()) == 1
    assert partial["stats"]() == want
    for out in (written, unread, partial):
        out["release"]()


def test_cache_swap_pins_lazily(spark):
    """_cache_swap starts no Spark job: the first action that reads the
    pinned frame fills the cache, and the next swap under the same key
    drops it."""
    from dataval_spark.operators.dedup import _cache_swap

    sc = spark.sparkContext

    def cached_rdds() -> set:
        rdds = sc._jsc.getPersistentRDDs()
        return {k for k in rdds.keys() if rdds[k].name() is not None}

    df = spark.range(0, 1000, numPartitions=4).selectExpr("id", "id % 7 AS k")
    before = cached_rdds()
    pinned, jobs = _jobs_run_by(spark, lambda: _cache_swap("lazy_pin_probe", df))
    assert jobs == 0
    assert pinned.storageLevel.useMemory
    assert cached_rdds() == before  # nothing filled yet
    assert pinned.groupBy("k").count().count() == 7
    filled = cached_rdds() - before
    assert len(filled) == 1
    successor = _cache_swap("lazy_pin_probe", df.select("id"))
    assert not pinned.storageLevel.useMemory
    assert not (cached_rdds() & filled)
    successor.unpersist()


def _paragraph_fixture(spark):
    quote = "a famous passage quoted verbatim in many documents exactly"
    rows = [
        (1, "own opening paragraph with sufficient words\n\n" + quote, "en"),
        (2, quote + "\n\nanother document distinct trailing paragraph", "en"),
        (3, "third document fully original text with enough tokens", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    return docs, dict(min_tokens=3, paragraph_dedup=True, remove_spans=True,
                      span_tokens=8)


@pytest.mark.parametrize("fixture", ["funnel", "paragraphs"])
def test_prepare_corpus_same_on_both_near_dedup_paths(spark, fixture):
    """prepare_corpus returns the same funnel and the same packed rows
    whether its near-dedup stage takes the driver pass (the session's
    broadcast threshold) or the Spark pair join + CC (-1)."""
    from dataval_spark.operators.corpus import prepare_corpus

    if fixture == "funnel":
        docs, bench = _planted_funnel(spark)
        kw = dict(benchmark=bench, min_tokens=5, window_tokens=10)
    else:
        docs, kw = _paragraph_fixture(spark)
    seen = {}
    for path in ("driver", "rounds"):
        with _cc_path_conf(spark, path):
            out = prepare_corpus(docs, **kw)
            rows = sorted(map(tuple, out["packed"].collect()), key=repr)
            seen[path] = out["stats"](), rows
            out["release"]()
    assert seen["driver"] == seen["rounds"]
    assert seen["driver"][1]


def test_prepare_corpus_release_unpersists_own_caches(spark):
    """release() drops exactly the checkpoints the call pinned itself
    (exact, near and paragraph dedup), told apart by their RDD ids, and
    leaves another live call's alone. A frame below a released pin
    raises if read: a checkpoint has no lineage to recompute from."""
    from py4j.protocol import Py4JJavaError

    from dataval_spark.operators.corpus import prepare_corpus

    docs, kw = _paragraph_fixture(spark)
    sc = spark.sparkContext

    def checkpoints() -> set:
        rdds = sc._jsc.getPersistentRDDs()
        return {k for k in rdds.keys() if rdds[k].rdd().isCheckpointed()}

    # the pins are eager: each call registers its three at call time
    before = checkpoints()
    first = prepare_corpus(docs, **kw)
    own_first = checkpoints() - before
    second = prepare_corpus(docs, **kw)
    own_second = checkpoints() - before - own_first
    assert len(own_first) == len(own_second) == 3
    first["release"]()
    assert checkpoints() - before == own_second
    assert second["packed"].count() == 3
    second["release"]()
    assert not checkpoints() - before
    with pytest.raises(Py4JJavaError, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        second["exact_deduped"].collect()


def test_prepare_corpus_release_deletes_reliable_checkpoints(spark, tmp_path):
    """With checkpoint_dir the pins are reliable checkpoints: release()
    deletes their files, so a released frame raises instead of reading
    them back."""
    import glob

    from py4j.protocol import Py4JJavaError

    from dataval_spark.operators.corpus import prepare_corpus

    docs, kw = _paragraph_fixture(spark)
    ckpt = str(tmp_path / "ckpt")
    out = prepare_corpus(docs, checkpoint_dir=ckpt, **kw)
    assert len(glob.glob(f"{ckpt}/*/rdd-*")) == 3
    assert out["packed"].count() == 3
    out["release"]()
    assert not glob.glob(f"{ckpt}/*/rdd-*")
    with pytest.raises(Py4JJavaError):
        out["exact_deduped"].collect()


def test_prepare_corpus_packed_plan_reads_pins_as_leaves(spark):
    """`packed`'s analysed plan starts from the last pin's checkpoint, so
    planning it, and each adaptive re-plan of the caller's write, does
    not walk the lineage above the pins (the persisted pins of the
    corpus benchmark kept 117 scan leaves over one input file). The
    pins must be eager for the funnel to stay exact: a lazy checkpoint
    reports the observations below it as 0, and
    test_prepare_corpus_stats_observed pins the exact funnel."""
    from dataval_spark.operators.corpus import prepare_corpus

    docs, kw = _paragraph_fixture(spark)
    out = prepare_corpus(docs, strip_boilerplate=True, split_long=True,
                         window_tokens=8, **kw)
    leaves = out["packed"]._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() <= 4
    assert out["packed"].count() > 0
    out["release"]()


def test_text_ops_unicode_and_edge_cases(spark):
    """Unicode text, emoji, CJK, empty and whitespace-only strings must
    not break tokenization/fingerprints/dedup hashing."""
    rows = [
        (1, "héllo wörld ünïcode"),
        (2, "日本語 テキスト 検証"),
        (3, "emoji 🚀 in 🧪 text"),
        (4, ""),
        (5, "   "),
        (6, "tabs\tand\nnewlines  collapse"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n"),
        X.fingerprint(F.col("text")).alias("fp"),
        D.simhash(F.col("text"), 16).alias("sh"),
        D.minhash_signature(F.col("text"), 2).alias("mh"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n == 3 and by_id[2].n == 3 and by_id[3].n == 5
    assert by_id[4].n == 0 and by_id[5].n == 0
    assert by_id[6].n == 4  # \t and \n are token separators
    assert all(len(r.fp) == 16 for r in out)
    assert all(0 <= r.sh < 2**16 for r in out)


def test_similarity_null_and_zero_vectors(spark):
    """Zero vectors produce NULL cosine (0/0) rather than crashing; they
    rank last and never displace real neighbors."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    top = S.brute_force_topk(corpus, queries, k=2).collect()
    assert [r.vec_id for r in top] == [1, 3]


def test_pii_counts_flag_and_redaction(spark):
    rows = [
        (1, "contact me at jane.doe+x@example.org or bob@sub.domain.co"),
        (2, "call +1 (555) 123-4567 tomorrow"),
        (3, "server at 192.168.0.1 responded"),
        (4, "clean text with no identifiers"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            X.pii_counts(F.col("text"))["email"].alias("email"),
            X.pii_counts(F.col("text"))["phone"].alias("phone"),
            X.pii_counts(F.col("text"))["ipv4"].alias("ipv4"),
            X.pii_flag(F.col("text")).alias("flag"),
            X.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1].email == 2 and out[1].flag
    assert out[2].phone == 1 and out[2].flag
    assert out[3].ipv4 == 1 and out[3].flag
    assert not out[4].flag and not out[5].flag
    assert "<email>" in out[1].red and "@" not in out[1].red
    assert "<phone>" in out[2].red and "555" not in out[2].red
    assert "<ipv4>" in out[3].red and "192" not in out[3].red


def test_connected_components_chain_and_isolates(spark):
    """Min-label propagation: a 6-node chain collapses to its min id
    (worst-case diameter), isolated nodes keep their own label, two
    separate components stay separate."""
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc long")
    # chain 0-1-2-3-4-5, pair 7-8; 6 and 9 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "doc_a long, doc_b long"
    )
    labels = {r.doc: r.cluster for r in D.connected_components(ids, pairs).collect()}
    assert all(labels[i] == 0 for i in range(6))
    assert labels[7] == labels[8] == 7
    assert labels[6] == 6 and labels[9] == 9


def test_keep_cluster_canonical(spark, docs):
    # near-dup evidence: 1-2 and 2-6 (transitively one cluster)
    pairs = spark.createDataFrame([(1, 2), (2, 6)], "doc_a long, doc_b long")
    ids = docs.select(F.col("doc_id").alias("doc"))
    labels = D.connected_components(ids, pairs)
    kept = D.keep_cluster_canonical(docs, labels)
    kept_ids = sorted(r.doc_id for r in kept.collect())
    # cluster {1,2,6} -> only canonical 1 survives; 3,4,5 untouched
    assert kept_ids == [1, 3, 4, 5]


def test_contamination_probe(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "unique training text"),
         (3, "  The   QUICK brown fox ")],  # dup of benchmark modulo norm
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "benchmark only text")],
        "doc_id long, text string",
    )
    hits = sorted(r.doc_id for r in D.contamination(corpus, bench).collect())
    assert hits == [1, 3]


def test_shingles_short_docs_empty_not_crash(spark):
    """Documents shorter than n tokens yield EMPTY shingle sets —
    F.sequence(1, 0) is DESCENDING and the unguarded transform threw
    INVALID_ARRAY_INDEX for any short doc."""
    rows = [(1, "hello world"), (2, "one"), (3, ""), (4, None),
            (5, "three whole tokens here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.s for r in df.select(
        "doc_id", D.shingles(F.col("text"), 3).alias("s")).collect()}
    assert out[1] == [] and out[2] == [] and out[3] == []
    assert len(out[5]) == 2  # 4 tokens -> 2 trigrams
    # and the jaccard pipeline over the same corpus must not crash
    pairs = D.jaccard_pairs(df, "doc_id", n=3, threshold=0.1).collect()
    assert pairs == []


def test_dedup_skips_content_free_docs(spark):
    """NULL/blank docs must NOT pair with each other (they all hash
    identically — one degenerate bucket of O(m^2) pairs at scale)."""
    rows = [(1, None), (2, None), (3, ""), (4, "   "),
            (5, "real content here"), (6, "real content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = {(r.doc_a, r.doc_b) for r in D.minhash_candidates(df, "doc_id").collect()}
    sh = {(r.doc_a, r.doc_b) for r in
          D.simhash_near_pairs(df, "doc_id", max_hamming=3).collect()}
    assert mh == {(5, 6)}
    assert sh == {(5, 6)}


def test_media_integrity_null_kind_flagged(spark):
    df = spark.createDataFrame(
        [(1, None, bytearray(b"xx"), None, None, 100)], M.MEDIA_SCHEMA
    )
    (r,) = M.media_integrity_flags(df).collect()
    assert not r.approved
    assert r.dataval & 2  # bad kind


def test_prepare_corpus_optional_stages(spark):
    """gopher gate, SemDeDup stage, and budget mixing compose into the
    funnel: each drops exactly the rows it owns."""
    from dataval_spark.operators.corpus import prepare_corpus

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    distinct2 = (
        "an entirely separate second document whose words overlap nothing "
        "from before because every token here is new and occurs just once"
    )
    rows = [
        (1, base + " one", "en", "web"),
        (2, "spam " * 60, "en", "web"),  # gopher: 60 words, all repeats
        (3, distinct2, "en", "web"),
        (4, distinct2 + " tail marker", "en", "web"),  # semantic dup of 3
        (5, base + " totally reworded into unrelated fresh prose today",
         "en", "wiki"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    # embeddings: docs 3 and 4 identical vectors -> semantic dup pair;
    # doc 2 has no embedding row (kept by contract, but gopher kills it
    # first); others orthogonal
    emb = spark.createDataFrame(
        [
            (1, [10.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 10.0, 0.0, 0.0]),
            (4, [0.0, 10.0, 0.0, 0.0]),
            (5, [0.0, 0.0, 10.0, 0.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = prepare_corpus(
        docs,
        min_tokens=5,
        gopher=True,
        embeddings=emb,
        emb_dim=4,
        semantic_k=3,
        semantic_threshold=0.99,
        budget_tokens=10_000,  # far above corpus size -> keeps all
        mixing_tau=1.0,
    )
    s = out["stats"]()
    assert s["n_input"] == 5
    assert s["n_quality_pass"] == 4        # doc 2 fails gopher
    assert s["n_exact_deduped"] == 4       # no exact dups planted
    assert s["n_near_deduped"] == 3        # doc 4 = semantic dup of 3
    kept = {r.doc_id for r in out["near_deduped"].select("doc_id").collect()}
    assert kept == {1, 3, 5}
    assert s["n_sampled"] == 3             # budget >> corpus: all kept
    assert out["mixture"] is not None
    rates = {m["source"]: m["rate"] for m in out["mixture"].sources}
    assert set(rates) == {"web", "wiki"} and all(r == 1.0 for r in rates.values())
    assert "bin" in out["packed"].columns


def test_prepare_corpus_web_stages(spark):
    """Boilerplate strip runs before the quality gate (so boilerplate
    doesn't distort quality metrics) and URL dedup keeps first-per-
    canonical-URL while keeping every NULL-URL doc."""
    from dataval_spark.operators.corpus import prepare_corpus

    body = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    boiler = "Accept cookies to continue browsing"
    rows = [
        # 1 and 2: same canonical URL (tracking param stripped) -> keep 1
        (1, boiler + "\n" + body + " one", "https://ex.com/a?utm_source=x", "en"),
        (2, boiler + "\n" + body + " two", "https://ex.com/a", "en"),
        # 3: distinct URL
        (3, boiler + "\n" + body + " three entirely different close",
         "https://ex.com/b", "en"),
        # 4 and 5: no URL -> both kept
        (4, body + " four reworded fresh and unrelated prose here", None, "en"),
        (5, body + " five another unique continuation of words", None, "en"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string, lang string"
    )
    out = prepare_corpus(
        docs,
        min_tokens=5,
        strip_boilerplate=True,
        boilerplate_max_occurrences=2,
        dedup_url_col="url",
    )
    s = out["stats"]()
    assert s["n_input"] == 5
    kept = {
        r.doc_id: r.text
        for r in out["quality_pass"].select("doc_id", "text").collect()
    }
    # URL dedup dropped doc 2 (same canonical URL as 1, keep-first);
    # NULL-URL docs 4 and 5 both survive
    assert set(kept) == {1, 3, 4, 5}
    # the boilerplate line (3 occurrences > max 2) is gone from survivors
    assert all("Accept cookies" not in t for t in kept.values())
    assert kept[1].startswith("alpha")


def test_prepare_corpus_quantized_semantic_stage(spark):
    """quantize_embeddings=True runs SemDeDup over int8 vectors: same
    survivors at the tested threshold (cosine is scale-invariant, so the
    per-vector absmax scale cancels), 4x fewer embedding bytes through
    the join + pair shuffles."""
    from dataval_spark.operators.corpus import prepare_corpus

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    distinct2 = (
        "an entirely separate second document whose words overlap nothing "
        "from before because every token here is new and occurs just once"
    )
    rows = [
        (1, base + " one", "en"),
        (3, distinct2, "en"),
        (4, distinct2 + " tail marker", "en"),  # semantic dup of 3
        (5, base + " totally reworded into unrelated fresh prose today", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    emb = spark.createDataFrame(
        [
            (1, [10.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 9.5, 0.5, 0.0]),
            (4, [0.0, 9.5, 0.5, 0.0]),
            (5, [0.0, 0.0, 10.0, 0.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    kw = dict(min_tokens=5, embeddings=emb, emb_dim=4, semantic_k=3,
              semantic_threshold=0.99)
    plain = prepare_corpus(docs, **kw)
    quant = prepare_corpus(docs, quantize_embeddings=True, **kw)
    ids_plain = sorted(
        r.doc_id for r in plain["near_deduped"].select("doc_id").collect()
    )
    ids_quant = sorted(
        r.doc_id for r in quant["near_deduped"].select("doc_id").collect()
    )
    assert ids_quant == ids_plain == [1, 3, 5]


def test_prepare_corpus_perplexity_gate(spark):
    """ppl_lm + max_ppl drop high-perplexity docs (the CCNet model tier)
    inside the quality stage, before any dedup."""
    from dataval_spark.operators.corpus import prepare_corpus
    from dataval_spark.operators.ngram_lm import train_ngram_lm

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog sat on the rug")
         for i in range(3)],
        "doc_id long, text string",
    )
    lm = train_ngram_lm(ref, n=2)
    try:
        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the rug and the dog sat", "en"),
                (2, "zyx wvu tsr qpo nml kji hgf edc baz yxw", "en"),  # gibberish
            ],
            "doc_id long, text string, lang string",
        )
        # mirror ppl under this 9-word LM: doc1 ~3.42 (in-distribution),
        # doc2 ~11.34 (all-unseen floor = |V|+1 with a tiny vocab) — the
        # ceiling must sit between them
        out = prepare_corpus(docs, min_tokens=5, ppl_lm=lm, max_ppl=7.0)
        kept = sorted(r.doc_id for r in out["quality_pass"].select("doc_id").collect())
        assert kept == [1]
        with pytest.raises(ValueError, match="set together"):
            prepare_corpus(docs, min_tokens=5, max_ppl=7.0)
    finally:
        lm.release()


def test_prepare_corpus_split_assignment_pure_packing(spark):
    """split_spec routes every document deterministically and packs
    within (lang, split): chunks follow their document's split and no
    bin mixes splits."""
    from collections import Counter

    from dataval_spark.operators.corpus import prepare_corpus

    words = lambda n, tag: " ".join(f"{tag}{i}" for i in range(n))  # noqa: E731
    rows = [(i, words(40, f"w{i}x"), "en") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    spec = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = prepare_corpus(
        docs, min_tokens=5, window_tokens=30, split_long=True,
        split_spec=spec, split_seed=3,
    )
    packed = out["packed"].collect()
    assert len(packed) > 40  # 40-token docs split at a 30-token window
    # every chunk of a doc carries the same split
    by_doc: dict[int, set] = {}
    for r in packed:
        by_doc.setdefault(r.doc_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_doc.values())
    # deterministic rerun routes identically
    out2 = prepare_corpus(
        docs, min_tokens=5, window_tokens=30, split_long=True,
        split_spec=spec, split_seed=3,
    )
    assert {r.doc_id: r.split for r in out2["packed"].collect()} == {
        r.doc_id: r.split for r in packed
    }
    # with several docs per split, bins are split-pure: a (lang, split,
    # bin) group never holds a foreign split by construction; check the
    # dual — the same (lang, bin) id across DIFFERENT splits is allowed
    # and consumers must group on (lang, split, bin)
    splits_seen = Counter(s.pop() for s in by_doc.values())
    assert len(splits_seen) >= 2  # the spec actually produced >1 split
    # so n_packed_bins counts (lang, split, bin) groups; the fixture has
    # splits sharing a bin id, which a (lang, bin) count would merge
    bins = {(r.lang, r.split, r.bin) for r in packed}
    assert len({(r.lang, r.bin) for r in packed}) < len(bins)
    assert out["stats"]()["n_packed_bins"] == len(bins)
    assert out2["stats"]()["n_packed_bins"] == len(bins)


def test_prepare_corpus_span_removal(spark):
    """remove_spans strips a corpus-duplicated span inside the funnel;
    the first occurrence is spared."""
    from dataval_spark.operators.corpus import prepare_corpus

    span = " ".join(f"dup{i}" for i in range(10))
    a = ("alpha beta gamma delta epsilon zeta eta theta " + span
         + " iota kappa lambda mu")
    b = ("nu xi omicron pi rho sigma tau upsilon " + span
         + " phi chi psi omega")
    rows = [(1, a, "en"), (2, b, "en"),
            (3, "plain third document with entirely fresh words only here",
             "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = prepare_corpus(
        docs, min_tokens=5, remove_spans=True, span_tokens=8,
    )
    texts = {
        r.doc_id: r.text
        for r in out["decontaminated"].select("doc_id", "text").collect()
    }
    assert "dup0" in texts[1]          # first occurrence spared
    assert "dup0" not in texts[2]      # later copy stripped
    assert texts[3] == rows[2][1]      # untouched doc byte-identical


def test_prepare_corpus_domain_block(spark):
    from dataval_spark.operators.corpus import prepare_corpus

    rows = [
        (1, "first document with plenty of ordinary words to pass the gate",
         "https://spam.example.com/x", "en"),
        (2, "second document also carrying enough distinct tokens to pass",
         "https://ok.example.org/y", "en"),
        (3, "third document no url so it is kept by the evidence contract",
         None, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string, lang string")
    out = prepare_corpus(
        docs, min_tokens=5, dedup_url_col="url", domain_block={"example.com"},
    )
    kept = sorted(r.doc_id for r in out["quality_pass"].select("doc_id").collect())
    assert kept == [2, 3]

    with pytest.raises(ValueError, match="dedup_url_col"):
        prepare_corpus(docs, domain_block={"example.com"})


def test_prepare_corpus_paragraph_dedup(spark):
    from dataval_spark.operators.corpus import prepare_corpus

    quote = "a famous passage quoted verbatim in many documents exactly"
    rows = [
        (1, "own opening paragraph with sufficient words\n\n" + quote, "en"),
        (2, quote + "\n\nanother document distinct trailing paragraph", "en"),
        (3, "third document fully original text with enough tokens", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = prepare_corpus(docs, min_tokens=3, paragraph_dedup=True)
    texts = {
        r.doc_id: r.text
        for r in out["decontaminated"].select("doc_id", "text").collect()
    }
    assert "famous passage" in texts[1]
    assert "famous passage" not in texts[2]
    assert texts[3] == rows[2][1]


def test_split_long_docs(spark):
    from dataval_spark.operators.packing import split_long_docs

    long_text = " ".join(f"t{i}" for i in range(25))
    rows = [
        (1, "short doc stays whole"),
        (2, long_text),          # 25 tokens, window 10 -> 3 chunks
        (3, None),
        (4, ""),
        (5, " ".join(f"u{i}" for i in range(10))),  # exactly one window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = split_long_docs(df, window_tokens=10)
    got = {(r.doc_id, r.chunk_idx): r.text for r in out.collect()}
    # python mirror
    expect = {}
    for doc_id, text in rows:
        if text is None or len(text.split()) <= 10:
            expect[(doc_id, 0)] = text
        else:
            t = text.split()
            for c in range((len(t) + 9) // 10):
                expect[(doc_id, c)] = " ".join(t[c * 10 : (c + 1) * 10])
    assert got == expect
    # short/NULL/empty rows byte-identical, chunks cover the long doc
    assert got[(1, 0)] == rows[0][1]
    assert got[(3, 0)] is None and got[(4, 0)] == ""
    assert got[(2, 2)] == " ".join(f"t{i}" for i in range(20, 25))


def test_prepare_corpus_split_long(spark):
    from dataval_spark.operators.corpus import prepare_corpus

    long_text = " ".join(f"tok{i}" for i in range(30))
    rows = [(1, long_text, "en"),
            (2, "short document with plenty of unique words here", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = prepare_corpus(
        docs, min_tokens=3, window_tokens=12, split_long=True,
    )
    packed = out["packed"].select("doc_id", "chunk_idx", "n_tok", "bin").collect()
    by_doc = {}
    for r in packed:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3            # 30 tokens / 12 -> 3 chunks
    assert all(r.n_tok <= 12 for r in by_doc[1])
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_idx == 0


def _template_rows():
    """(id, text): 120 distinct docs, 25 verbatim copies of one template
    (one code), 10 near-misses of it, and 12 one-token variants of a
    long text (distinct codes a few bits apart, so the pair search has
    near pairs to find at 64 bits too)."""
    rows = [
        (i, f"unique doc {i} about subject {i % 13} rating {(i * 7) % 29} stars")
        for i in range(120)
    ]
    rows += [(500 + j, "the very same template text repeated verbatim")
             for j in range(25)]
    rows += [(600 + j, f"the very same template text repeated verbatim {j}")
             for j in range(10)]
    long_text = " ".join(f"word{k}" for k in range(80))
    rows += [(700 + j, f"{long_text} extra{j}") for j in range(12)]
    return rows


def test_simhash_clusters_equivalent_to_uncollapsed_pipeline(spark):
    """Exact-code collapse must produce byte-identical labels to the
    full simhash_near_pairs + connected_components pipeline, including
    on a template-heavy corpus where many docs share one code, on both
    of its paths (the driver pass, and the Spark pair join + CC)."""
    df = spark.createDataFrame(_template_rows(), "doc_id long, text string")
    for path in ("driver", "rounds"):
        with _cc_path_conf(spark, path):
            pairs = D.simhash_near_pairs(df, "doc_id", bits=32, max_hamming=3)
            ids = df.where(D.content_bearing(F.col("text"))).select(
                F.col("doc_id").alias("doc")
            )
            want = {
                (r.doc, r.cluster)
                for r in D.connected_components(ids, pairs).collect()
            }
            got = {
                (r.doc, r.cluster)
                for r in D.simhash_clusters(
                    df, "doc_id", bits=32, max_hamming=3
                ).collect()
            }
        assert got == want, path
        # the template clique collapsed: all 25 copies share one cluster
        clus = {d: c for d, c in got}
        assert len({clus[500 + j] for j in range(25)}) == 1, path


def _clusters_by_path(spark, monkeypatch, df, threshold=None, **kw):
    """simhash_clusters' sorted (doc, cluster) rows and whether
    salted_self_pairs ran, keyed "driver" (the session's broadcast
    threshold, or ``threshold``) and "spark" (threshold -1)."""
    calls = []
    orig = D.salted_self_pairs

    def spy(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(D, "salted_self_pairs", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    out = {}
    try:
        for path, value in (("driver", threshold or prev), ("spark", "-1")):
            spark.conf.set(key, value)
            calls.clear()
            labels = D.simhash_clusters(df, "doc_id", **kw).collect()
            rows = sorted(((r.doc, r.cluster) for r in labels), key=repr)
            out[path] = rows, bool(calls)
    finally:
        spark.conf.set(key, prev)
    return out


@pytest.mark.parametrize("case", ["sign64", "string_ids", "big_ids", "nulls"])
def test_simhash_clusters_driver_pass_matches_spark_path(spark, monkeypatch, case):
    """The driver pass labels exactly as the Spark pair join + CC do:
    64-bit codes with the sign bit set, string ids, bigint ids above
    2^53 (a double cannot tell these apart), and NULL ids next to NULL
    and blank text — a NULL id in a code group takes the group's
    cluster, a group of NULL ids only gets no row, on both paths."""
    rows, schema, bits = _template_rows(), "doc_id long, text string", 32
    if case == "sign64":
        bits = 64
    elif case == "string_ids":
        # unpadded, so string order differs from numeric order
        rows = [(f"d{i}", t) for i, t in rows]
        schema = "doc_id string, text string"
    elif case == "big_ids":
        rows = [((1 << 53) + 2 * i + 1, t) for i, t in rows]
    else:
        lone = "a text that only null ids carry in this corpus"
        rows += [(None, rows[-1][1]), (None, lone), (None, lone),
                 (900, None), (901, "   "), (902, "")]
    df = spark.createDataFrame(rows, schema)
    out = _clusters_by_path(spark, monkeypatch, df, bits=bits, max_hamming=3)
    (driver, driver_joined), (spark_rows, spark_joined) = out["driver"], out["spark"]
    assert driver == spark_rows
    assert not driver_joined and spark_joined
    # the pair search merged distinct codes, not just code groups
    codes = df.where(D.content_bearing(F.col("text")) & F.col("doc_id").isNotNull())
    n_codes = codes.select(D.simhash(F.col("text"), bits)).distinct().count()
    assert len({c for _, c in driver}) < n_codes
    if case == "sign64":
        assert df.where(D.simhash(F.col("text"), 64) < 0).count() > 0
    if case == "nulls":
        assert (None, 700) in driver  # the NULL id copy of doc 711
        assert all(d not in (900, 901, 902) for d, _ in driver)


def test_simhash_clusters_empty_input(spark, monkeypatch):
    """No content-bearing doc: both paths return no labels."""
    df = spark.createDataFrame([(1, None), (2, " ")], "doc_id long, text string")
    out = _clusters_by_path(spark, monkeypatch, df)
    assert out["driver"] == ([], False)
    assert out["spark"][0] == []


def test_simhash_clusters_hot_bucket_takes_spark_path(spark, monkeypatch):
    """A code set that fits the broadcast threshold but whose pigeonhole
    candidates do not (16-bit codes: 4-bit chunks, so ~200 codes fill
    each chunk value with ~12 codes, ~4,600 candidates × 24 B > 20 KB,
    while 200 codes × 24 B fit) falls back to the Spark pair join, with
    the same labels as the -1 run."""
    rows = [
        (i, f"doc {i} on topic {i % 17} with words {(i * 7) % 31} {(i * 11) % 23}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = _clusters_by_path(
        spark, monkeypatch, df, threshold="20KB", bits=16, max_hamming=3
    )
    assert out["driver"] == out["spark"]
    assert out["driver"][1]  # salted_self_pairs ran: the Spark path


def test_prepare_corpus_regates_hollowed_docs(spark):
    """A doc whose ENTIRE text is a corpus-duplicated span is hollowed
    out by the rewrite stage and must not reach packing as an empty
    husk: the token floor is re-applied after paragraph/span removal."""
    from dataval_spark.operators.corpus import prepare_corpus

    span = " ".join(f"lic{i}" for i in range(12))
    rows = [
        (1, span + " plus commentary making doc one clearly longer", "en"),
        (2, span, "en"),  # doc 2 IS the span -> hollowed to ""
        (3, "an unrelated document with its own set of fresh words", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = prepare_corpus(docs, min_tokens=5, remove_spans=True, span_tokens=12)
    kept = sorted(r.doc_id for r in out["decontaminated"].select("doc_id").collect())
    assert kept == [1, 3]
    packed_ids = sorted(r.doc_id for r in out["packed"].select("doc_id").collect())
    assert packed_ids == [1, 3]


def test_corpus_report(spark):
    from dataval_spark.operators.corpus import corpus_report

    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "web"),
        (2, "alpha beta gamma delta epsilon", "en", "web"),   # exact dup
        (3, "zeta eta theta iota kappa lambda mu nu", "en", "wiki"),
        (4, None, "en", "wiki"),
        (5, "uno dos tres cuatro cinco seis", "es", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    rep = {(r.lang, r.source): r.asDict() for r in corpus_report(df).collect()}
    assert set(rep) == {("en", "web"), ("en", "wiki"), ("es", "web")}
    enweb = rep[("en", "web")]
    assert enweb["n_docs"] == 2 and enweb["n_tokens"] == 10
    assert enweb["est_dup_ratio"] == 0.5          # 2 docs, 1 distinct
    enwiki = rep[("en", "wiki")]
    assert enwiki["n_null_text"] == 1 and enwiki["n_tokens"] == 8
    # dims missing from the frame -> whole-corpus single row
    whole = corpus_report(df.drop("lang", "source")).collect()
    assert len(whole) == 1 and whole[0].n_docs == 5


def test_split_long_docs_roundtrip_property(spark):
    """Randomized invariants in one batched job: chunk token arrays
    concatenate back to the original token sequence, every chunk is
    <= window tokens, chunk_idx is dense from 0, and the closed-form
    count_col equals the actual token count of the rebuilt chunk."""
    import random

    from dataval_spark.operators.packing import split_long_docs

    rng = random.Random(99)
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(rng.randint(0, 60))) or None
         if rng.random() < 0.05 else
         " ".join(f"t{i}x{j}" for j in range(rng.randint(0, 60))))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = split_long_docs(df, window_tokens=16, count_col="k").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    orig = dict(rows)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        texts = [c.text for c in chunks]
        if orig[doc_id] is None:
            assert texts == [None] and chunks[0].k is None
            continue
        toks = orig[doc_id].split()
        rebuilt = [t for c in texts for t in c.split()]
        assert rebuilt == toks, doc_id
        for c in chunks:
            n = len(c.text.split()) if c.text.strip() else 0
            assert n <= 16
            assert c.k == n, (doc_id, c.chunk_idx, c.k, n)


def test_topk_per_group_equals_single_window(spark):
    """Salted two-phase top-k must be row- and rank-identical to the
    single-window formulation under a total order, including on a
    skewed group that dwarfs the others."""
    from pyspark.sql import Window
    from dataval_spark.fixtures import transcripts
    from dataval_spark.operators.rollup import topk_per_group

    df = transcripts(spark, n_convs=120, seed=99, n_parts=4).select(
        # low-cardinality group with heavy skew: role 'user' ~half of rows
        "role", "conv_id", "turn_idx", "ts",
    )
    order = [F.desc("ts"), F.asc("conv_id"), F.asc("turn_idx")]
    two_phase = topk_per_group(df, ["role"], order, 7, n_salts=5, rn_col="rn")
    w = Window.partitionBy("role").orderBy(*order)
    single = (
        df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 7)
    )
    key = lambda r: (r["role"] or "", r["rn"])
    a = sorted(two_phase.collect(), key=key)
    b = sorted(single.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # k larger than some groups: still exact
    t2 = topk_per_group(df, ["role"], order, 10**6, n_salts=3)
    assert t2.count() == df.count()


def test_fan_out_decides_from_plan_without_jobs(spark, tmp_path):
    """fan_out reads the partition count from the physical plan: a
    shuffled input and a broadcast-join output start no Spark job (the
    old ``df.rdd.getNumPartitions()`` ran every upstream stage), and the
    repartition decision matches the executed RDD's count for a
    single-split scan, a post-shuffle frame and a broadcast-join
    output."""
    path = str(tmp_path / "scan")
    spark.range(400).selectExpr("id", "cast(id % 7 as string) AS t") \
        .coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    tiny = scan.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    # a post-shuffle frame of more than parallelism x 1 MB: adaptive
    # coalescing keeps it at >= parallelism partitions
    shuffled = (
        spark.range(0, 200_000, numPartitions=8)
        .selectExpr("id", "sha2(cast(id AS string), 512) AS t")
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    )
    joined = scan.join(F.broadcast(tiny), "t")
    p = spark.sparkContext.defaultParallelism
    for name, df in (("scan", scan), ("shuffled", shuffled), ("bhj", joined)):
        out, jobs = _jobs_run_by(spark, lambda: D.fan_out(df))
        if name != "scan":
            assert jobs == 0, (name, jobs)
        executed = df.rdd.getNumPartitions()
        assert (out is not df) == (executed < p), (name, executed, p)
    assert D.fan_out(scan) is not scan  # one split < parallelism
    assert D.fan_out(shuffled) is shuffled
    # the documented difference: a shuffle under parallelism x 1 MB is
    # coalesced below parallelism at run time (one partition here), but
    # the plan shows its declared width, so it is not repartitioned
    out, jobs = _jobs_run_by(spark, lambda: D.fan_out(tiny))
    assert jobs == 0 and out is tiny
