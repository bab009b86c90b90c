"""Deduplication operators: exact, MinHash(+LSH banding), SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (100 TB corpus):
  * exact dedup — hash-groupBy on a 128-bit fingerprint; map-side partial
    aggregation makes the shuffle proportional to distinct docs.
  * MinHash — the signature is computed per-row from the token array
    (no token explode, no shuffle); candidate grouping shuffles only
    (band_key, doc_id) pairs, i.e. O(docs × bands), never O(tokens).
  * n-gram Jaccard — shingle explode + self-equi-join on shingle; the
    join key is fine-grained (a shingle) so AQE handles skew; a frequency
    cap drops stop-shingles that would otherwise quadratically blow up
    the join (standard LSH-free pair generation guardrail).
  * SimHash — per-row bit-majority over token hashes, fully JVM-side;
    near-dup = Hamming distance on the 16/64-bit code (bit_count(xor)).
  * embedding cosine — brute force is a crossJoin (only for candidate
    re-ranking); the scale path buckets by LSH sign-planes first.

All hashing is md5-based so DuckDB reproduces it bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dataval_spark.operators.text import normalize, token_count, tokens


def content_bearing(text: Column) -> Column:
    """The shared degenerate-doc predicate for every pair-generating
    operator AND the seed sets fed to connected_components: content-free
    docs (NULL/blank) all hash identically — one O(m^2) bucket — and
    belong to exact dedup. ONE definition so an operator's internal
    filter can never drift from a caller's separately-built seed set
    (strict connected_components raises on exactly that drift)."""
    return token_count(text) > 0


# One live cache per (operator, session), for operator-level pins only:
# the pair-join operators persist a small derived frame (codes / band
# keys) so the self-join does not re-evaluate the hash expressions per
# side (boilerplate lines and incremental signatures likewise), but they
# return a lazy result and so cannot unpersist it themselves. Pipeline
# runners that can free what they pin (prepare_corpus) checkpoint with
# _ckpt instead and release their own checkpoints. The pin runs no
# action: the first action that reads the frame fills it (for the pair
# operators, salted_self_pairs' bucket-stats job), and the block
# manager's per-partition locks compute each partition once however
# many stages of that action read it. Swapping out the previous call's
# cache bounds the footprint to one entry per operator per session (an
# older result frame still held by a caller stays CORRECT — it just
# recomputes if re-used). Keyed by session so a
# replacement SparkSession never tries to unpersist a stopped one's
# frame, and the unpersist itself is best-effort for the same reason.
# Known benign race: concurrent calls to the SAME operator in one
# session can evict each other's cache mid-query — results stay
# correct, the loser recomputes (single-caller-per-operator is the
# performance assumption).
_live_caches: dict[tuple[str, int], DataFrame] = {}


def _cache_swap(key: str, df: DataFrame) -> DataFrame:
    skey = (key, id(df.sparkSession))
    old = _live_caches.get(skey)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass  # stopped/replaced session: nothing left to unpersist
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_caches[skey] = df
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a frame to cluster parallelism — ONLY when
    its physical plan has fewer partitions than the cluster has slots.

    The hash-heavy per-row projections in this module (MinHash band
    keys, 60-bit SimHash folds, LSH plane dots) run in the SCAN stage,
    and a small parquet input arrives as one split (Spark's split size
    is at least spark.sql.files.openCostInBytes, 4 MB, and a row group
    is read by one split) — measured at sf1.0: the whole 50k-doc
    MinHash banding ran in ONE task for 12.7 s while 31 cores idled.
    At production scale the scan has thousands of splits and this
    helper is a no-op (shuffling a corpus of raw text to gain
    parallelism it already has would be pure cost), so the condition is
    the partition count, not the data size. The count is read from the
    plan (see _planned_partitions): ``df.rdd`` on a frame with shuffles
    runs its upstream stages just to report it."""
    p = df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df._jdf.queryExecution().executedPlan())
    return df.repartition(p) if n < p else df


def _planned_partitions(plan) -> int:
    """Output partition count of a JVM physical plan, without running it.

    A shuffle counts as its declared width. Adaptive execution can
    coalesce it at run time, but it keeps at least the cluster
    parallelism unless the whole shuffle is under parallelism ×
    coalescePartitions.minPartitionSize (1 MB): only such a tiny frame
    gets a different answer than its executed RDD (no repartition where
    the RDD would show fewer partitions than slots). Nodes of unknown
    partitioning keep their children's count (the sum, for a union), a
    broadcast join its streamed side's, and a cached frame its cached
    plan's. Only a leaf builds its RDD, which lists input splits and
    runs no job."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":  # exchanges are planned in initialPlan
        return _planned_partitions(plan.initialPlan())
    if name == "InMemoryTableScan":
        return _planned_partitions(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    seq = plan.children()
    kids = [
        c for c in (seq.apply(i) for i in range(seq.size()))
        if c.nodeName() != "BroadcastExchange"
    ]
    if not kids:
        return plan.execute().getNumPartitions()
    return sum(_planned_partitions(c) for c in kids)


# ------------------------------------------------ salted self-pair join
def salted_self_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str = "doc",
    payload_cols: tuple[str, ...] = (),
    target_bucket_rows: int = 2048,
) -> DataFrame:
    """Enumerate unordered within-bucket pairs of a keyed frame with
    per-bucket salt-block decomposition (guide §2.5: a single hot key
    cannot be split by AQE skew-join).

    The plain self-equi-join puts EVERY pair of a bucket in the one task
    that owns that join key: a bucket of m rows is m²/2 pair
    enumerations on one core while the rest of the cluster idles
    (measured at sf1.0: one MinHash band bucket of 31.6k docs → ~5·10⁸
    pairs in a single task — the entire q53 wall). Fix: rows of a bucket
    larger than ``target_bucket_rows`` get a deterministic salt
    s = pmod(xxhash64(id), g) with g = ceil(m / target); the pair space
    splits into g·(g+1)/2 blocks (lo ≤ hi), and each unordered pair
    (x, y) is produced in exactly ONE block — (min(sx,sy), max(sx,sy)):
    side A carries a row with salt s into blocks (s, s..g-1), side B
    into blocks (0..s, s). Off-diagonal blocks see a pair once in an
    arbitrary orientation, so ids are normalized with least/greatest and
    payloads swapped alongside; diagonal blocks keep the classic
    a.id < b.id guard. Buckets at or under the target keep g = 1 — one
    diagonal block, byte-identical behavior to the plain join.

    Only oversized buckets are counted and broadcast (≤ rows/target
    entries, so the broadcast stays bounded at any corpus size); the
    salt is a pure hash of the id, so task retries reproduce the same
    blocks (SPARK-38388 hazard avoided).

    Returns one row per unordered pair with columns ``doc_a``/``doc_b``
    (doc_a < doc_b), the bucket key columns, and ``<p>_a``/``<p>_b`` for
    every payload column.

    Adaptive: one cheap aggregation over ``keyed`` measures the max
    bucket and the total pair volume first. Callers pass a pinned or
    pin-derived frame (_cache_swap), and this job reads every row of it,
    so it is also the action that fills the pin. When no bucket is
    oversized AND the total volume is small relative to the cluster
    (≤ ~2M pairs per slot), the whole salt/repartition scaffolding is
    skipped and the classic a.id < b.id self-join runs — the scaffolding
    costs ~2-3 s of extra jobs/tasks per call (measured on the
    32k-template rep-pair stage of prepare_corpus), which would tax
    every SMALL pair stage to protect against a skew they don't have.
    Both paths produce the identical pair set. Rows with a NULL id are
    dropped first: they pair with nothing on the fast path, while on the
    salted path least/greatest skip NULL and would emit (x, x)."""
    keyed = keyed.where(F.col(id_col).isNotNull())
    cnt = F.count(F.lit(1)).alias("_bn")
    sizes_all = keyed.groupBy(*key_cols).agg(cnt)
    stats = sizes_all.agg(
        F.max("_bn").alias("mx"),
        F.sum(F.col("_bn") * (F.col("_bn") - 1) / 2).alias("pairs"),
    ).first()
    max_bucket = stats["mx"] or 0
    total_pairs = stats["pairs"] or 0.0
    sc = keyed.sparkSession.sparkContext
    if (
        max_bucket <= target_bucket_rows
        and total_pairs <= 2_000_000 * sc.defaultParallelism
    ):
        a, b = keyed.alias("a"), keyed.alias("b")
        cond = reduce(
            lambda acc, c: acc & (F.col(f"a.{c}") == F.col(f"b.{c}")),
            key_cols,
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        )
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            *[F.col(f"a.{c}") for c in key_cols],
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
    big = sizes_all.where(F.col("_bn") > target_bucket_rows)
    sized = keyed.join(F.broadcast(big), key_cols, "left")
    g = F.ceil(F.coalesce(F.col("_bn"), F.lit(1)) / target_bucket_rows).cast("int")
    s = F.pmod(F.xxhash64(F.col(id_col)), g).cast("int")
    sized = sized.withColumn("_g", g).withColumn("_s", s)
    a = (
        sized.withColumn("_hi", F.explode(F.sequence(F.col("_s"), F.col("_g") - 1)))
        .withColumnRenamed("_s", "_lo")
        .drop("_g", "_bn")
        # distribute the PROBE side by block key: the keyed frame usually
        # comes out of a cache with very few partitions (one input file →
        # 1-2 blocks), and when the planner picks a broadcast hash join —
        # both sides of these self-joins are tiny relative to the pair
        # volume they emit — stream-side parallelism IS the partition
        # count: without this every block's m²-pair probe loop runs in
        # the cache's 1-2 tasks and the salt decomposition buys nothing
        # (measured at sf1.0: q53's BHJ enumerated ~10⁹ pairs in one
        # task). Hash-repartitioning by (bucket, lo, hi) spreads blocks
        # across tasks for BHJ and doubles as the required distribution
        # if the planner shuffles instead. The partition count is pinned
        # (4× cluster parallelism, scale-adaptive, not a constant):
        # with an unpinned column repartition AQE coalesces by INPUT
        # bytes — a few hundred MB of keys → a handful of tasks — which
        # is exactly wrong for a stage whose cost is the quadratic pair
        # volume it EMITS, not the bytes it reads.
        .repartition(
            4 * keyed.sparkSession.sparkContext.defaultParallelism,
            *key_cols, "_lo", "_hi",
        )
        .alias("a")
    )
    b = (
        sized.withColumn("_lo", F.explode(F.sequence(F.lit(0), F.col("_s"))))
        .withColumnRenamed("_s", "_hi")
        .drop("_g", "_bn")
        .alias("b")
    )
    cond = reduce(
        lambda acc, c: acc & (F.col(f"a.{c}") == F.col(f"b.{c}")),
        key_cols + ["_lo", "_hi"],
        F.lit(True),
    )
    joined = a.join(b, cond).where(
        # diagonal blocks hold both orientations: keep a < b. Off-diagonal
        # blocks hold exactly one orientation: keep it (normalized below).
        (F.col("a._lo") != F.col("a._hi"))
        | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    swap = F.col(f"a.{id_col}") > F.col(f"b.{id_col}")
    out = [
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
        *[F.col(f"a.{c}") for c in key_cols],
        *[
            F.when(swap, F.col(f"b.{c}")).otherwise(F.col(f"a.{c}")).alias(f"{c}_a")
            for c in payload_cols
        ],
        *[
            F.when(swap, F.col(f"a.{c}")).otherwise(F.col(f"b.{c}")).alias(f"{c}_b")
            for c in payload_cols
        ],
    ]
    return joined.select(*out)


# ----------------------------------------------------------------- exact
def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents — GROUP BY
    fingerprint HAVING COUNT>1 (reference duplicate check shape,
    /root/reference/dataval/camera_overlap.py:40)."""
    return (
        fan_out(df).withColumn("fp", F.md5(normalize(F.col(text_col))))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dup_cnt"))
        .where(F.col("dup_cnt") > 1)
    )


def dedup_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Keep the lowest-id member of each exact-dup group (deterministic).
    ``key`` overrides the default md5(normalized text) group key — e.g.
    a canonical-URL hash. The caller must make the key non-NULL per row
    (groupBy puts ALL NULL keys in one group).

    Formulated as groupBy + min_by(full row, id) rather than a
    row_number window: min_by is a declarative aggregate with map-side
    partial combine, so a pathological group (one boilerplate page
    duplicated 10^8 times across a crawl) reduces inside each map task
    instead of concentrating every copy in a single window task's sort
    buffer. One shuffle either way; this one carries one row per
    (partition, key) instead of one per document."""
    if key is None:
        key = F.md5(normalize(F.col(text_col)))
    cols = df.columns
    return (
        fan_out(df).groupBy(key.alias("_k"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


# --------------------------------------------------------------- minhash
def _min_hash(toks: Column, i: int) -> Column:
    prefix = f"{i}:"
    return F.array_min(F.transform(toks, lambda x: F.md5(F.concat(F.lit(prefix), x))))


def minhash_signature(text: Column, n_hashes: int = 8) -> Column:
    """MinHash over the distinct token set: hash_i(doc) =
    min(md5(i || ':' || token)); the signature is the concatenation.
    Lexicographic min over md5 hex == min over a 128-bit hash family —
    deterministic and engine-portable. Token array bound once (_bind):
    each of the n hashes otherwise embeds its own tokenize subtree."""

    def from_toks(toks: Column) -> Column:
        mins = [_min_hash(toks, i) for i in range(n_hashes)]
        return F.concat_ws("|", *mins)

    return _bind(F.array_distinct(tokens(normalize(text))), from_toks)


def minhash_band_array(
    text: Column, n_hashes: int = 8, band_size: int = 2
) -> Column:
    """All LSH band keys as ONE array Column, with the token array bound
    a single time — the form the candidate join explodes. (Per-band
    Columns would each carry their own tokenize subtree: n_bands x the
    normalize+split work per row.)"""

    def from_toks(toks: Column) -> Column:
        mins = [_min_hash(toks, i) for i in range(n_hashes)]
        return F.array(
            *[
                F.concat_ws(
                    "|", F.lit(str(b)), *mins[b * band_size : (b + 1) * band_size]
                )
                for b in range(n_hashes // band_size)
            ]
        )

    return _bind(F.array_distinct(tokens(normalize(text))), from_toks)


def minhash_bands(text: Column, n_hashes: int = 8, band_size: int = 2) -> list[Column]:
    """LSH banding: signature split into bands of ``band_size`` hashes;
    docs sharing any band key are near-dup candidates. Convenience
    list-of-Columns view over minhash_band_array — prefer the array form
    when every band is consumed (each listed Column re-evaluates the
    whole array expression)."""
    arr = minhash_band_array(text, n_hashes, band_size)
    return [F.element_at(arr, b + 1) for b in range(n_hashes // band_size)]


def minhash_candidates(
    df: DataFrame, id_col: str, text_col: str = "text",
    n_hashes: int = 8, band_size: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH: explode band keys,
    self-join per band, dedupe pairs. Shuffle volume = docs × bands.

    Two structural choices for scale (round 7):
      * the self-join rides salted_self_pairs — a template-heavy corpus
        concentrates most docs in a handful of band buckets (sf1.0: one
        bucket held 31.6k of 50k docs → ~5·10⁸ pairs in ONE task), and
        AQE cannot split a single join key.
      * a pair colliding in several bands is emitted only by its OWNER
        band — the lowest band index where both docs agree — a per-row
        predicate over the carried band arrays, replacing a distinct()
        that re-shuffled every candidate pair (the candidate volume is
        the operator's cost center: ~10⁹ rows at sf1.0). Same dedup
        trick as code_near_pairs."""
    bands_arr = minhash_band_array(F.col(text_col), n_hashes, band_size)
    n_bands = n_hashes // band_size
    # degenerate docs (NULL/blank text) all hash to IDENTICAL band keys —
    # at 10^6 such docs that is one bucket of O(m^2) candidate pairs and
    # "near-duplicates" with no content to compare. Content-free docs are
    # exact-dedup territory, not MinHash's.
    keyed = (
        fan_out(df).where(content_bearing(F.col(text_col)))
        # bands computed ONCE per row in its own projection; the
        # generator below references the column, not the expression
        .select(F.col(id_col).alias("doc"), bands_arr.alias("bands"))
        .select("doc", "bands", F.posexplode("bands").alias("band_idx", "band_key"))
    )
    # pin (doc, band_idx, band_key, bands) under the self-join: each
    # band key embeds two full tokenize+md5+min passes and both join
    # sides would recompute all of them per doc (same CollapseProject
    # behavior as simhash_near_pairs — measured there at ~10x).
    # ~50 B/doc/band + the bands array, memory+disk, vs re-hashing the
    # corpus text 16x.
    keyed = _cache_swap("minhash_candidates", keyed)
    pairs = salted_self_pairs(
        keyed, ["band_idx", "band_key"], id_col="doc", payload_cols=("bands",)
    )
    # owner-band predicate: band 0 always owns; band i owns only when no
    # earlier band key agrees (band keys are concat_ws strings — never
    # NULL — so plain != is a total comparison)
    owner = F.lit(True)
    for i in range(1, n_bands):
        no_earlier = reduce(
            lambda acc, j: acc
            & (F.col("bands_a")[j] != F.col("bands_b")[j]),
            range(i),
            F.lit(True),
        )
        owner = F.when(F.col("band_idx") == i, no_earlier).otherwise(owner)
    return pairs.where(owner).select("doc_a", "doc_b")


def minhash_candidate_census(
    df: DataFrame, id_col: str, text_col: str = "text",
    n_hashes: int = 8, band_size: int = 2,
) -> DataFrame:
    """1-row census of the banded-MinHash candidate-pair set WITHOUT
    enumerating it: (n_candidate_pairs, n_docs_as_a), equal by
    construction to

        minhash_candidates(df, ...).agg(count(*), count_distinct(doc_a))

    The candidate set is a union of per-bucket cliques, so its size has
    a closed form by inclusion-exclusion over the bands: a pair is a
    candidate iff it agrees on >= 1 band key, hence

        |pairs| = Σ_{∅≠S⊆bands} (-1)^{|S|+1} Σ_{g ∈ groupBy(keys S)} C(n_g, 2)

    (a pair agreeing on exactly the band set T is counted
    Σ_{∅≠S⊆T} (-1)^{|S|+1} = 1 time). And a doc appears as doc_a iff
    some bucket it belongs to contains a strictly larger id — i.e.
    doc < max(bucket) for any of its band buckets. Each term is one
    grouped aggregation over (doc, band keys): O(docs) shuffle, zero
    pair rows. At sf1.0 the enumerated form walks ~1.05·10⁹ joined rows
    to produce these two numbers (~9 s on 32 cores after skew salting);
    the census runs the same corpus in ~2 s, and the gap grows
    quadratically with template density. 2^bands - 1 terms: meant for
    the handful of bands real LSH configs use.

    PRECONDITION: ids are unique per row (the normal case — doc_id is
    the table key). With duplicate ids the enumerated form collapses
    row pairs onto id pairs in ways bucket counts cannot see."""
    bands_arr = minhash_band_array(F.col(text_col), n_hashes, band_size)
    n_bands = n_hashes // band_size
    base = (
        fan_out(df).where(content_bearing(F.col(text_col)))
        .select(F.col(id_col).alias("doc"), bands_arr.alias("bands"))
    )
    base = _cache_swap("minhash_candidate_census", base)
    from itertools import combinations

    pair_terms = []
    # integer C(n,2): n*(n-1) is even, so a shift divides exactly — a
    # double division would lose exactness past 2^53 total pairs, and
    # this census exists precisely for corpora where pair counts explode
    c2 = F.sum(F.shiftright(F.col("_n") * (F.col("_n") - 1), 1))
    for r in range(1, n_bands + 1):
        for subset in combinations(range(n_bands), r):
            term = (
                base.groupBy(*[F.col("bands")[i].alias(f"_k{i}") for i in subset])
                .agg(F.count(F.lit(1)).alias("_n"))
                .agg((c2 * (1 if r % 2 else -1)).alias("_t"))
            )
            pair_terms.append(term)
    # coalesce: SUM over an empty/contentless corpus is NULL, but the
    # enumerated form's count(*) over zero pairs is 0
    n_pairs = reduce(lambda a, b: a.unionAll(b), pair_terms).agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_candidate_pairs")
    )
    # docs-as-a: explode to (doc, band_idx, key), per-bucket max, any
    # bucket with a larger member marks the doc
    keyed = base.select(
        "doc", F.posexplode("bands").alias("_bi", "_bk")
    )
    mx = keyed.groupBy("_bi", "_bk").agg(F.max("doc").alias("_mx"))
    as_a = (
        keyed.join(mx, ["_bi", "_bk"])
        .groupBy("doc")
        .agg(F.max((F.col("doc") < F.col("_mx")).cast("int")).alias("_f"))
        .agg(
            F.coalesce(F.sum("_f"), F.lit(0)).cast("long").alias("n_docs_as_a")
        )
    )
    return n_pairs.crossJoin(as_a)


# --------------------------------------------------------------- simhash
def hashed_tokens(text: Column, bits: int = 16) -> Column:
    """``bits``-bit md5-derived hash per distinct token (bits in 4..64,
    multiple of 4). Project this ONCE (its own select) before
    simhash_from_hashed: Catalyst does not CSE across the per-bit
    filters, so inlining it re-computes md5 per token PER BIT.

    The width MUST match the simhash_from_hashed bits: round 2 shipped
    this hard-coded to 16, so bits=64 codes had their top 48 bits always
    zero — 3 of the 4 pigeonhole chunk indexes were total-degenerate
    (every doc in one bucket: quadratic candidates again). conv() of all
    16 hex chars overflows SIGNED bigint, so 64-bit hashes are assembled
    from two 32-bit halves."""
    if bits < 4 or bits > 64 or bits % 4:
        raise ValueError(f"bits must be a multiple of 4 in 4..64, got {bits}")
    nhex = bits // 4

    def h(x: Column) -> Column:
        hx = F.md5(x)
        if nhex <= 15:  # < 60 bits: single conv stays within signed range
            return F.conv(F.substring(hx, 1, nhex), 16, 10).cast("bigint")
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    return F.transform(F.array_distinct(tokens(normalize(text))), h)


def simhash_from_hashed(ht: Column, bits: int = 16) -> Column:
    """SimHash from pre-hashed tokens: code bit b = majority of token
    hash bits b (+1 when set, -1 when not). ``bits`` must equal the
    hashed_tokens width (enforced statistically by
    test_simhash_64bit_high_bits_populated).

    Formulated as ONE traversal of the token array (aggregate into a
    per-bit popcount vector, then fold the majority masks), not one
    filter pass per bit: at 60 bits the per-bit form re-walked and
    re-allocated the array 60x and its unrolled plan took ~5 s of codegen
    alone — measured on sf0.1 documents: 6.3 s cold / 1.4 s warm vs
    1.4 s cold / 1.1 s warm for this form, identical codes. shiftright
    is arithmetic, which still extracts bit b exactly (the AND keeps only
    the lowest shifted bit), so sign-bit-set 64-bit hashes are fine;
    shiftleft(1L, 63) wraps to the sign mask in the JVM rather than
    erroring, so the bit-63 mask needs no special case."""
    n = F.size(ht)
    bits_seq = F.sequence(F.lit(0), F.lit(bits - 1))
    zeros = F.transform(bits_seq, lambda b: F.lit(0).cast("bigint"))
    one = F.lit(1).cast("bigint")
    counts = F.aggregate(
        ht,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            bits_seq,
            lambda c, b: c + F.call_function("shiftright", h, b).bitwiseAND(one),
        ),
    )
    masks = F.zip_with(
        counts,
        bits_seq,
        lambda c, b: F.when(
            c * 2 > n, F.call_function("shiftleft", one, b)
        ).otherwise(F.lit(0).cast("bigint")),
    )
    code = F.aggregate(masks, F.lit(0).cast("bigint"), lambda a, x: a.bitwiseOR(x))
    # NULL token array (NULL text) must code to 0, not NULL: the old
    # per-bit CASE form folded NULL to 0 and the DuckDB oracle twin
    # (CASE WHEN NULL-cond THEN .. ELSE 0) still does — aggregate/zip_with
    # propagate NULL, which would silently diverge q30-style censuses on
    # any corpus containing a NULL-text row
    return F.coalesce(code, F.lit(0).cast("bigint"))


def simhash(text: Column, bits: int = 16) -> Column:
    """Per-row SimHash: token t contributes +1 to bit b when bit b of
    md5(t) is set, else -1; code bit b = majority sign. Uses the first
    bits/4 hex chars of md5 mapped to bigint — portable via
    conv/('0x'||h)::int in both engines (oracle twin: _simhash_sql).

    NOTE: single-Column convenience form — the hash array is inlined per
    bit. For hot paths, project hashed_tokens() in its own select and
    apply simhash_from_hashed on the column (see simhash_near_pairs)."""
    return simhash_from_hashed(hashed_tokens(text, bits), bits)


def simhash_chunk_keys(code: Column, bits: int, max_hamming: int) -> list[Column]:
    """Pigeonhole multi-index keys: split the ``bits``-bit code into
    ``max_hamming + 1`` disjoint chunks. Two codes within Hamming distance
    ``max_hamming`` differ in at most ``max_hamming`` chunks, so they MUST
    agree exactly on at least one chunk — joining per (chunk_idx,
    chunk_value) guarantees recall while bounding candidates by per-chunk
    bucket sizes (2^chunk_bits buckets per index). At production scale use
    64-bit codes: chunks of 16 bits give 65536 buckets per index; a
    single high-byte band (the old scheme) had only 2^(bits/2) buckets
    total and went quadratic per bucket at 10^9 docs."""
    return [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright(code, lo).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
        )
        for i, (lo, width) in enumerate(_chunk_layout(bits, max_hamming))
    ]


def _chunk_layout(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per chunk — shared by key building and ownership."""
    m = max_hamming + 1
    base, rem = divmod(bits, m)
    out, lo = [], 0
    for i in range(m):
        width = base + (1 if i < rem else 0)
        out.append((lo, width))
        lo += width
    return out


def _pair_join(coded: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    # salted_self_pairs, not a plain self-equi-join: SimHash codes of a
    # template-heavy corpus concentrate in a few chunk buckets (sf1.0:
    # top bucket 15.7k of 50k docs → ~1.2·10⁸ pairs in one task) and AQE
    # cannot split a single hot join key. code_a/code_b ride as payloads
    # (swapped with the id normalization; hamming is symmetric and the
    # owner predicate in code_near_pairs compares per-chunk equality,
    # also symmetric).
    keys = simhash_chunk_keys(F.col("code"), bits, max_hamming)
    keyed = coded.select("doc", "code", F.explode(F.array(*keys)).alias("k"))
    pairs = salted_self_pairs(keyed, ["k"], id_col="doc", payload_cols=("code",))
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("k.ci").alias("ci"),
        F.col("code_a"),
        F.col("code_b"),
        F.bit_count(F.col("code_a").bitwiseXOR(F.col("code_b"))).alias("hamming"),
    )


def code_candidates(coded: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """Candidate pairs from a (doc, code) frame BEFORE the exact-Hamming
    filter (one row per agreeing chunk, so a pair can appear up to
    max_hamming+1 times). Exposed so tests can assert the candidate
    volume stays O(docs) — not O(docs^2) — on realistic code
    distributions."""
    return _pair_join(coded, bits, max_hamming).select("doc_a", "doc_b", "hamming")


def code_near_pairs(coded: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """Exact near-pair set at Hamming <= max_hamming from (doc, code):
    recall guaranteed by the pigeonhole multi-index, precision by the
    bit_count(xor) filter.

    Dedup WITHOUT a shuffle: a pair appearing under several agreeing
    chunks is emitted only by its OWNER chunk (the lowest agreeing
    index) — a per-row predicate over the two codes, replacing a
    distinct() that would shuffle every matched pair (measured: the
    distinct dominated the whole operator on a dense-near-dup corpus)."""
    cand = _pair_join(coded, bits, max_hamming)
    layout = _chunk_layout(bits, max_hamming)

    def chunk_eq(i: int) -> Column:
        lo, width = layout[i]
        mask = F.lit((1 << width) - 1)
        return (
            F.shiftright(F.col("code_a"), lo).bitwiseAND(mask)
            == F.shiftright(F.col("code_b"), lo).bitwiseAND(mask)
        )

    owner = F.lit(True)  # ci == 0 owns unconditionally
    for i in range(1, len(layout)):
        no_earlier_match = reduce(
            lambda acc, j: acc & ~chunk_eq(j), range(i), F.lit(True)
        )
        owner = F.when(F.col("ci") == i, no_earlier_match).otherwise(owner)

    return (
        cand.where((F.col("hamming") <= max_hamming) & owner)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    bits: int = 16, max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via the pigeonhole
    multi-index (see simhash_chunk_keys)."""
    # content-free docs (NULL/blank text) all code to 0 and would pair
    # with each other quadratically; they belong to exact dedup
    # (content_bearing — shared with callers' seed sets)
    coded = fan_out(df).where(content_bearing(F.col(text_col))).select(
        F.col(id_col).alias("doc"), hashed_tokens(F.col(text_col), bits).alias("_ht")
    ).select("doc", simhash_from_hashed(F.col("_ht"), bits).alias("code"))
    # Pin (doc, code) under the self-join: without a barrier,
    # CollapseProject inlines the simhash expression into every chunk
    # key and each join side recomputes it (~10 evaluations per doc —
    # measured 13.4 s vs 1.1 s for the pair stage at sf0.1), and
    # exchange reuse does not rescue identical join sides here. The
    # cache is 16 B/doc (~16 GB cluster-wide at 10^9 docs, MEMORY_AND_
    # DISK so it spills, LRU-evictable) vs re-hashing the corpus text
    # 10x.
    coded = _cache_swap("simhash_near_pairs", coded)
    return code_near_pairs(coded, bits, max_hamming)


# ------------------------------------------------- dedup cluster assembly
def _filled(observations: list[Observation], sc) -> dict:
    """The metrics of each observation an action has filled, keyed by
    observation. Never waits for an action (``Observation.get`` blocks
    until one runs): it only drains Spark's listener bus, which fills an
    observation a moment after its action returns."""

    def done(obs: Observation) -> bool:
        return obs._jo is not None and obs._jo.future().isCompleted()

    if not all(map(done, observations)):
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            pass  # timed out: count what is still missing
    return {obs: obs.get for obs in observations if done(obs)}


def _ckpt(df: DataFrame, reliable: bool, eager: bool = True) -> DataFrame:
    """``df`` re-rooted on its computed rows: every later plan reads the
    checkpoint as a single leaf, not ``df``'s lineage.

    ``reliable`` (a checkpoint dir is set): ``checkpoint()``, whose
    blocks survive executor loss; always eager, since a lazy one would
    compute the frame a second time to write the files. Otherwise
    ``localCheckpoint(eager)``. ``eager=False`` leaves the fill to the
    caller's next action: only safe when that one action runs before
    the frame fans out into a multi-consumer job (a lazily marked RDD
    read twice WITHIN one job is computed twice, racing the block
    store), and an Observation inside the frame then reads 0: it is
    posted when this call returns, before the fill ran a row."""
    if reliable:
        return df.checkpoint()
    return df.localCheckpoint(eager=eager)


def _ckpt_release(df: DataFrame) -> None:
    """Drop a checkpoint _ckpt made: its blocks and, for a reliable one,
    its files. A frame read from it raises from then on: a checkpoint
    has no lineage to recompute from."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.unpersist(False)
    path = rdd.getCheckpointFile()
    if path.isDefined():
        jvm = df.sparkSession._jvm
        p = jvm.org.apache.hadoop.fs.Path(path.get())
        conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        p.getFileSystem(conf).delete(p, True)


def connected_components(
    ids: DataFrame, pairs: DataFrame, id_col: str = "doc", max_iter: int = 25,
    checkpoint_dir: str | None = None, strict: bool = True,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc, cluster) where
    cluster = the minimum doc id in the component (the canonical
    survivor). The output universe is exactly ``ids``: one row per
    ``ids`` row, a doc without pairs labeled by itself.

    The directed pair set is checkpointed first; the same action
    observes its row count, which picks one of two paths:

    * Driver pass — when the pairs' estimated size (rows × Spark's
      per-row size) is within the session's
      ``spark.sql.autoBroadcastJoinThreshold``, the size Spark already
      collects to the driver for a broadcast-join build side (-1 turns
      this path off). The pairs come to the driver as Arrow and one
      vectorized numpy pass labels every endpoint (_component_min, ids
      kept in their own dtype: bigints above 2^53 stay exact); the
      labels of the non-minimum nodes go back as a local frame,
      left-joined onto ``ids``, and the pair checkpoint is dropped.
      No per-round checkpoints, pins or probes: a near-dup rep graph
      is usually this small (the sf1.0 corpus's 223k pairs are
      ~5 MB), and the rounds' cost on it is per-stage job latency,
      not data.
    * Rounds — the scale path above that bound: min-label propagation
      with PATH HALVING. Each round a node takes the min over its own
      label, its neighbors' labels, and its label's label (one pointer
      hop), which turns O(diameter) convergence into O(log diameter)
      rounds; each round is one join + one groupBy with map-side
      combine, at the session's shuffle width. Two rounds share one
      driver action (the probe) and checkpointing cuts the lineage, so
      the plan does not grow with iterations. ``max_iter`` caps these
      rounds; the driver pass always runs to convergence.

    ``strict`` (default): every pair endpoint must be in ``ids``; if any
    endpoint — NULL included — is missing, the call raises instead of
    returning silently wrong clusters. The rounds check with an
    anti-join of the endpoints against the seeds; the driver pass with
    a semi-join that streams ``ids`` past the broadcast endpoints (no
    shuffle of ``ids``, result bounded by the endpoints) and takes the
    difference in numpy. With ``strict=False`` a missing endpoint gets
    no label row and relays no label between its neighbors — the
    rounds never reach it, the driver pass drops every edge that
    touches it — so both paths SPLIT a cluster at it the same way.

    ``checkpoint_dir``: when given, the pair set and the rounds use
    RELIABLE ``checkpoint()`` (blocks written to the dir, survives
    executor loss — required on a real cluster, where losing one
    executor's localCheckpoint blocks fails the whole iteration
    lineage); default ``localCheckpoint`` is the right call in local
    mode (no HDFS round-trip per iteration). NOTE: setCheckpointDir is
    SESSION-GLOBAL — other checkpoint() users in the application will
    write there too. Each round snapshots the labels frame into the
    dir; sessions from get_spark() enable
    spark.cleaner.referenceTracking.cleanCheckpoints so superseded
    rounds' files are deleted on GC — set it yourself on foreign
    sessions, or point checkpoint_dir at a run-scoped path you delete.

    The round is formulated WITHOUT a labels-union-neighbors step: the
    neighbor labels are pre-aggregated to a per-node min (map-side
    combine) and LEFT-JOINED back onto labels. Equivalent to the
    union+groupBy textbook form, but (a) the big shuffle carries one row
    per node instead of labels+neighbor-copies, and (b) it sidesteps a
    Spark 4.1 Catalyst bug: Union.rewriteConstraints throws
    NoSuchElementException when a filter-derived alias-equivalence
    constraint from ``ids``' lineage crosses the union (checkpointing
    does not help — LogicalRDD propagates constraints).
    """
    reliable = checkpoint_dir is not None
    if reliable:
        ids.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    # checkpoint the DIRECTED pair set first, THEN mirror it: the two
    # union branches are different projections over the same join
    # subtree, so a single checkpoint of the union evaluated the whole
    # (often expensive) pair join twice — measured 7.2 s vs 3.5 s on the
    # 223k-edge corpus rep graph at sf1.0
    n_raw = Observation()
    raw = _ckpt(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .observe(n_raw, F.count(F.lit(1)).alias("n")),
        reliable,
    )
    if _broadcast_sized(raw, n_raw):
        labels = _cc_driver(ids.select(F.col(id_col).alias("doc")), raw, strict)
        _ckpt_release(raw)  # the moved labels are a local frame
        return labels
    edges = _ckpt(
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        reliable,
    )
    labels = _ckpt(
        ids.select(F.col(id_col).alias("doc"), F.col(id_col).alias("label")),
        reliable,
    )
    if strict:
        ends = raw.select(F.explode(F.array("a", "b")).alias("doc"))
        orphans = ends.join(labels, "doc", "left_anti").limit(5)
        sample = [r.doc for r in orphans.collect()]
        if sample:
            raise _seed_error(sample)
    return _cc_rounds(edges, labels, max_iter, reliable)


def _broadcast_limit(spark) -> int:
    """The session's parsed ``spark.sql.autoBroadcastJoinThreshold`` in
    bytes (the conf accepts size strings such as ``10MB``); -1 is off.
    A frame fits it when rows × (8 bytes of row overhead + Spark's
    per-row column widths) is within it, Spark's own estimate."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _broadcast_sized(raw: DataFrame, n_raw: Observation) -> bool:
    """Whether the checkpointed pair set ``raw`` (row count observed
    into ``n_raw``) fits the broadcast-join threshold."""
    spark = raw.sparkSession
    limit = _broadcast_limit(spark)
    if limit < 0:
        return False
    seen = _filled([n_raw], spark.sparkContext)
    n = seen[n_raw]["n"] if n_raw in seen else raw.count()
    return n * (8 + raw._jdf.schema().defaultSize()) <= limit


def _seed_error(missing: list) -> ValueError:
    return ValueError(
        f"pair endpoints missing from the seed ids (first 5: "
        f"{missing[:5]}) — labels cannot propagate through unlabeled "
        f"nodes; add them to ids or pass strict=False to label "
        f"only the seeded subgraph"
    )


def _cc_driver(seeds: DataFrame, raw: DataFrame, strict: bool) -> DataFrame:
    """connected_components' driver pass over the collected pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = raw.toArrow()
    n_pairs = tbl.num_rows
    tbl = tbl.filter(pc.and_(pc.is_valid(tbl["a"]), pc.is_valid(tbl["b"])))
    has_null = tbl.num_rows < n_pairs
    a, b = tbl["a"].to_numpy(), tbl["b"].to_numpy()
    # the seed check, without shuffling ids: a semi-join streams ids past
    # the broadcast endpoints; what it does not find is missing (NULL
    # never matches)
    ends = raw.select(F.explode(F.array("a", "b")).alias("doc"))
    found = seeds.join(F.broadcast(ends), "doc", "left_semi").toArrow()["doc"]
    gone = np.setdiff1d(np.concatenate([a, b]), found.to_numpy())
    if strict and (has_null or len(gone)):
        raise _seed_error(([None] if has_null else []) + gone.tolist())
    if len(gone):
        # strict=False: an unseeded endpoint relays no label, so every
        # edge touching it is dropped — the rounds split there too
        keep = ~(np.isin(a, gone) | np.isin(b, gone))
        a, b = a[keep], b[keep]
    doc, cluster = _component_min(a, b)
    if not len(doc):
        return seeds.select("doc", F.col("doc").alias("cluster"))
    typ = tbl.schema.field("a").type
    moved = raw.sparkSession.createDataFrame(
        pa.table({"doc": pa.array(doc, typ), "cluster": pa.array(cluster, typ)})
    )
    return seeds.join(F.broadcast(moved), "doc", "left").select(
        "doc", F.coalesce("cluster", "doc").alias("cluster")
    )


def _component_min(a, b):
    """(node, component minimum) for every node of the edge list
    (a[i], b[i]) that is not its component's minimum.

    np.unique indexes the endpoints in sorted order, so index order is
    id order and labels can be indexes. Each pass hooks the two roots
    of every edge to the smaller one (np.minimum.at), then jumps
    pointers until every node points at a root. A pass that changes
    nothing leaves every edge inside one star, whose root is the
    component's minimum."""
    import numpy as np

    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = idx[: len(a)], idx[len(a):]
    lab = np.arange(len(nodes))
    while True:
        ra, rb = lab[ea], lab[eb]
        lo = np.minimum(ra, rb)
        new = lab.copy()
        np.minimum.at(new, ra, lo)
        np.minimum.at(new, rb, lo)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    moved = np.flatnonzero(lab != np.arange(len(nodes)))
    return nodes[moved], nodes[lab[moved]]


def _cc_rounds(edges, labels, max_iter, reliable) -> DataFrame:
    """connected_components' scale path: path-halving rounds over the
    mirrored ``edges`` from the seed ``labels`` (doc, label)."""

    def _half_round(lbl: DataFrame) -> DataFrame:
        """One min-label + path-halving propagation round over
        (doc, old, label) — `old` (the PROBE-start label) rides through
        untouched so the probe's convergence check is a filter over the
        probe output instead of a join back onto its starting labels."""
        nbr_min = (
            edges.join(lbl, edges["b"] == lbl["doc"])
            .select(F.col("a").alias("doc"), F.col("label").alias("nlbl"))
            .groupBy("doc")
            .agg(F.min("nlbl").alias("nlbl"))
        )
        new = (
            lbl.alias("l")
            .join(nbr_min.alias("m"), "doc", "left")
            .select(
                F.col("doc"),
                F.col("l.old").alias("old"),
                F.least(
                    F.col("l.label"),
                    F.coalesce(F.col("m.nlbl"), F.col("l.label")),
                ).alias("label"),
            )
        )
        # path halving: label <- min(label, label's label). Labels are
        # always existing doc ids so the self-join resolves; left join
        # keeps rows whose label row is themselves.
        return (
            new.alias("x")
            .join(new.alias("y"), F.col("x.label") == F.col("y.doc"), "left")
            .select(
                F.col("x.doc").alias("doc"),
                F.col("x.old").alias("old"),
                F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("y.label"), F.col("x.label")),
                ).alias("label"),
            )
        )

    # TWO propagation rounds per driver action: round 1's output is
    # pinned (MEMORY_AND_DISK, so a huge label frame spills, not OOMs;
    # the block manager's per-partition locks compute it once however
    # many round-2 stages consume it), round 2 is lazily checkpointed,
    # and the probe's changed-count is the ONLY action, materializing
    # the checkpoint blocks the next probe reads. Convergence is monotone
    # (labels only ever decrease), so probing every other round cannot
    # miss the fixed point — changed==0 across a probe means both of its
    # rounds were no-ops. Halves the per-round driver barrier that
    # dominates shallow-graph CC at small SF and deep components' round
    # ladder at scale.
    for _ in range((max_iter + 1) // 2):
        start = labels.select(
            "doc", F.col("label").alias("old"), F.col("label").alias("label")
        )
        r1 = _half_round(start).persist(StorageLevel.MEMORY_AND_DISK)
        halved = _ckpt(_half_round(r1), reliable, eager=False)
        changed = halved.where(F.col("label") != F.col("old")).count()
        r1.unpersist()
        labels = halved.select("doc", "label")
        if changed == 0:
            break
    return labels.select("doc", F.col("label").alias("cluster"))


def simhash_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 60,
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc, cluster) SimHash near-dup labels with an EXACT-CODE
    COLLAPSE before the pair search — the scale path for cluster
    assembly when you don't need the pair enumeration itself.

    Template-heavy web corpora put thousands of near-identical docs on
    the SAME simhash code; the pigeonhole join then enumerates all
    C(k,2) intra-code pairs (measured: 271k pairs over 5k synthetic
    docs, CC paying for every edge) even though those pairs carry no
    extra connectivity. Hamming distance depends only on codes, so docs
    sharing a code are connectivity-equivalent to one representative:
    any cross pair (b, c) at ham <= h implies the same pair between
    their reps, and members reach their rep's component through the
    code group. The pair search + CC therefore run on DISTINCT CODES
    (the corpus's template count), one (code, rep = min doc) group
    each, and labels go back to the docs through their codes. Because
    each rep is the min doc of its code group, the component-min labels
    are identical to what the uncollapsed simhash_near_pairs +
    connected_components pipeline produces.

    One count over the pinned groups (it fills both pins) picks one of
    two paths, with connected_components' size rule:

    * Driver pass — when the groups fit the session's
      ``spark.sql.autoBroadcastJoinThreshold`` (rows × (8 + Spark's row
      size); -1 turns this path off) and so does the pigeonhole
      candidate volume, counted from the per-chunk run lengths before
      any pair is enumerated (8 + 16 bytes per candidate: two int64
      indexes). The groups come to the driver as Arrow once, one numpy
      pass finds the near pairs and labels them (_code_clusters), and
      the (code, cluster) table is broadcast-joined onto the coded docs.
      A near-dup code set is usually this small: the perfbench corpus
      has ~480 distinct codes of 16 B.
    * Spark — above either bound: code_near_pairs (salted_self_pairs)
      over the reps, connected_components (checkpoint_dir passes
      through to it), and the labels joined back through the groups.
    """
    coded = (
        df.where(content_bearing(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc"),
            hashed_tokens(F.col(text_col), bits).alias("_ht"),
        )
        .select("doc", simhash_from_hashed(F.col("_ht"), bits).alias("code"))
    )
    coded = _cache_swap("simhash_clusters", coded)
    # the (code, rep) aggregation is consumed several times on either
    # path — the size count and the collect, or both sides of the rep
    # pair join, its adaptive stats pass, the CC seed ids and the member
    # join-back — and each consumer re-ran the groupBy shuffle (measured
    # ~7 s of the corpus CC setup at sf1.0). One more live-cache entry
    # pins it; it is one row per distinct code.
    groups = _cache_swap(
        "simhash_clusters_groups",
        coded.groupBy("code").agg(F.min("doc").alias("rep")),
    )
    limit = _broadcast_limit(df.sparkSession)
    row = 8 + groups._jdf.schema().defaultSize()
    if limit >= 0 and groups.count() * row <= limit:
        local = _code_clusters(groups.toArrow(), bits, max_hamming, limit // 24)
        if local is not None:
            by_code = df.sparkSession.createDataFrame(local)
            return coded.join(F.broadcast(by_code), "code").select("doc", "cluster")
    rep_coded = groups.select(F.col("rep").alias("doc"), "code")
    rep_pairs = code_near_pairs(rep_coded, bits, max_hamming)
    labels = connected_components(
        rep_coded.select("doc"),
        rep_pairs,
        checkpoint_dir=checkpoint_dir,
    )
    member = coded.join(groups, "code").select("doc", "rep")
    return member.join(
        labels.withColumnRenamed("doc", "rep"), "rep"
    ).select("doc", "cluster")


def _code_clusters(groups, bits: int, max_hamming: int, max_pairs: int):
    """simhash_clusters' driver pass over the collected (code, rep)
    Arrow table: the (code, cluster) table, or None when the pigeonhole
    candidates number more than ``max_pairs``.

    Per chunk of _chunk_layout, the codes sorted by chunk value form
    runs of equal values, and every pair inside a run is a candidate;
    the run lengths give the volume before any pair is enumerated. The
    uint64 view makes the shift logical, which the mask turns into the
    same chunk value as Spark's arithmetic shiftright, sign bit or not.
    A candidate is kept at popcount(xor) <= max_hamming (SWAR: numpy
    1.26 has no bitwise_count); a pair agreeing on several chunks is
    kept once per chunk, which _component_min does not mind. A group
    with a NULL rep pairs with nothing and gets no label, as on the
    Spark path. Labels are indexes into the sorted distinct reps, so the
    ids keep their own dtype (bigints above 2^53 stay exact)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    groups = groups.filter(pc.is_valid(groups["rep"]))
    code = groups["code"].to_numpy().view(np.uint64)
    ids, node = np.unique(
        groups["rep"].to_numpy(zero_copy_only=False), return_inverse=True
    )
    runs = []
    for lo, width in _chunk_layout(bits, max_hamming):
        v = (code >> np.uint64(lo)) & np.uint64((1 << width) - 1)
        order = np.argsort(v)
        cut = np.r_[0, np.flatnonzero(np.diff(v[order])) + 1, len(v)]
        # partners of each sorted position: the rest of its run
        ahead = np.repeat(cut[1:], np.diff(cut)) - np.arange(len(v)) - 1
        runs.append((order, ahead))
    if sum(int(ahead.sum()) for _, ahead in runs) > max_pairs:
        return None
    ends = [], []  # one array per chunk; there is at least one
    for order, ahead in runs:
        first = np.repeat(np.arange(len(ahead)), ahead)
        step = np.arange(len(first)) - np.repeat(np.cumsum(ahead) - ahead, ahead)
        a, b = order[first], order[first + 1 + step]
        x = code[a] ^ code[b]
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        near = (x * np.uint64(0x0101010101010101)) >> np.uint64(56) <= max_hamming
        ends[0].append(node[a[near]])
        ends[1].append(node[b[near]])
    moved, root = _component_min(np.concatenate(ends[0]), np.concatenate(ends[1]))
    lab = np.arange(len(ids))
    lab[moved] = root
    typ = groups.schema.field("rep").type
    return pa.table({"code": groups["code"], "cluster": pa.array(ids[lab[node]], typ)})


def keep_cluster_canonical(
    df: DataFrame, labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the dedup: keep only each cluster's canonical (min-id)
    member. ``labels`` is connected_components' output (doc, cluster);
    docs absent from labels are kept (no near-dup evidence). One
    anti-join on the dropped (non-canonical) ids."""
    dropped = labels.where(F.col("doc") != F.col("cluster")).select("doc")
    return df.join(dropped, df[id_col] == dropped["doc"], "left_anti")


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test decontamination probe: corpus documents whose
    normalized-text fingerprint appears in the benchmark set — the exact
    layer of the standard decontamination pass (n-gram overlap comes from
    jaccard_pairs on the union when fuzzier matching is needed).
    The benchmark side is aggregated to distinct fingerprints and
    broadcast: benchmarks are small next to a training corpus, so the
    scan stays shuffle-free on the corpus side."""
    bench_fp = (
        benchmark.select(F.md5(normalize(F.col(text_col))).alias("fp")).distinct()
    )
    return (
        fan_out(corpus).withColumn("fp", F.md5(normalize(F.col(text_col))))
        .join(F.broadcast(bench_fp), "fp", "left_semi")
        .select(id_col, "fp")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FUZZY decontamination layer: corpus documents sharing at least
    ``min_hits`` distinct word ``n``-grams with the benchmark set — the
    standard n-gram leakage test (13-gram in GPT-3's dedup appendix,
    8-10 grams in later pipelines), catching benchmark rows quoted
    inside larger documents where the exact-fingerprint layer (see
    ``contamination``) sees different documents.

    Shape: benchmark shingles are aggregated DISTINCT and broadcast
    (a benchmark is ~10^4-10^6 n-grams — megabytes — against a corpus
    of 10^9 docs), so the corpus side is one shuffle-free semi-join per
    exploded shingle plus a groupBy(doc) count. Output: (id, n_hits,
    one example shared shingle) per contaminated doc."""
    # fan_out both sides: the shingle explode is the expensive per-row
    # projection and a single-split scan would serialize it on one core
    bench_sh = (
        fan_out(benchmark)
        .select(F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    corp_sh = fan_out(corpus).select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("shingle").alias("example_shingle"),
        )
        .where(F.col("n_hits") >= min_hits)
    )


# --------------------------------------------------------- n-gram jaccard
def _bind(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE and pass it to ``fn`` as a bound lambda
    variable. Interpreted HOF expressions get no common-subexpression
    elimination, so an expression tree that references a subtree k times
    (e.g. element_at(toks, i+j) for 8 j's, per gram) re-evaluates it
    k times PER ELEMENT — shingles(text, 8) re-ran normalize+split ~288x
    per doc (35 s for 4,500 sf0.1 docs; 1.5 s with the binding). The
    1-element-array transform is the standard trick: the array
    constructor evaluates the value once, the lambda body references the
    NamedLambdaVariable."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text. Documents
    with fewer than n tokens (or NULL text) yield an EMPTY set:
    F.sequence(1, 0) produces the DESCENDING [1, 0] (auto step -1), so
    the unguarded transform evaluated element_at out of bounds and threw
    INVALID_ARRAY_INDEX for any short document; the when-guard keeps the
    sequence branch unevaluated for those rows. The token array is bound
    once via _bind — see its docstring for why that matters."""

    def from_toks(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
        return F.when(k >= 1, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return _bind(tokens(normalize(text)), from_toks)


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3, threshold: float = 0.2,
    within: str | None = None, max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    explode -> (optional stop-shingle cap) -> salted_self_pairs on
    (group,) shingle -> count common -> jaccard = common / (|A| + |B| -
    common). The per-doc shingle sets are pinned (one row per doc, not
    per shingle) and filled by the pair primitive's bucket-stats job.
    """
    base = df.select(
        F.col(id_col).alias("doc"),
        *( [F.col(within).alias("grp")] if within else [] ),
        shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    base = _cache_swap("jaccard_pairs", base)

    keys = ["grp", "shingle"] if within else ["shingle"]
    exploded = base.select("doc", *keys[:-1], "n_sh", F.explode("sh").alias("shingle"))
    if max_shingle_freq:
        freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
        exploded = exploded.join(
            F.broadcast(freq.where(F.col("f") > max_shingle_freq)), "shingle", "left_anti"
        )
    common = (
        salted_self_pairs(exploded, keys, payload_cols=("n_sh",))
        .groupBy(
            "doc_a", "doc_b",
            F.col("n_sh_a").alias("n_a"), F.col("n_sh_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
