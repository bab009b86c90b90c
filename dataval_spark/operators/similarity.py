"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — exact baseline: broadcast the (small) query
  set, JVM-side zip_with/aggregate dot products, window top-k. At scale
  the corpus side stays distributed; only queries are broadcast.
* LSH sign-plane bucketing — the scale path: each vector is assigned a
  small bucket code from deterministic hyperplanes; candidate search
  touches only same-bucket rows, turning the crossJoin into an equi-join.
* embedding-cosine near-dup — same-bucket pairs above a cosine threshold.

No Python UDFs: dot products are F.zip_with + F.aggregate (whole-stage
codegen). Hyperplane weights are deterministic and dependency-free
(table 0: sin((i+1)*(j+1)); further tables: md5-derived — see plane()),
and python is the single source inlined into the DuckDB oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _vec(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_vec(a), _vec(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_vec(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def vector_ok(vec: Column, dim: int) -> Column:
    """Structural validity predicate for an embedding column: non-NULL,
    exactly ``dim`` elements, no NULL elements.

    The vector-side mirror of dedup.content_bearing. Without it every
    NULL/ragged vector hashes to bucket 0 of EVERY plane family (each
    bit's ``when(sum > 0, 1).otherwise(0)`` folds NULL to 0), so all
    dirty vectors collide in one bucket per table and generate quadratic
    candidate pairs that only die later at the NULL-sim filter. Filter
    BEFORE bucket keying; results are unchanged (a dirty vector's cosine
    is NULL, which can never clear a threshold or outrank a real
    neighbor)."""
    v = _vec(vec)
    return (
        vec.isNotNull()
        & (F.size(v) == dim)
        & ~F.exists(v, lambda x: x.isNull())
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide, not /: Spark 4 runs ANSI mode by default, so a single
    # zero vector in a 10^9-row corpus would fail the whole job with
    # DIVIDE_BY_ZERO. NULL similarity ranks last instead.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def rank_topk(
    joined: DataFrame, k: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
    cached_norms: bool = False,
) -> DataFrame:
    """Shared scoring tail for every ANN variant: rounded cosine (the
    4-decimal round is what the DuckDB oracle parity relies on),
    deterministic tie-break on corpus id, rank <= k.

    ``cached_norms``: the caller pre-computed per-ROW norms into _nv
    (corpus) and _nq (query) — every variant in this module does — so
    the per-PAIR work is just the dot product; recomputing both
    64-element norm folds per candidate pair doubled the scoring cost of
    the join stage. An EXPLICIT flag, not column-name sniffing: a
    caller-supplied frame that happens to carry foreign _nv/_nq columns
    must not silently divide by them. Values are identical either way
    (same sums, same order)."""
    if cached_norms:
        sim = F.round(
            F.try_divide(
                dot(F.col(vec_col), F.col(query_vec_col)),
                F.col("_nv") * F.col("_nq"),
            ),
            4,
        )
    else:
        sim = F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 4)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        joined.select(F.col(query_id_col), F.col(id_col), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, deterministic
    tie-break on corpus id. Output: query_id, vec_id, sim, rank."""
    from dataval_spark.operators.dedup import fan_out

    # fan_out: every corpus row pays |queries| HOF dot products in the
    # SCAN stage; a single-split corpus would score them all on one core
    joined = fan_out(corpus).withColumn("_nv", norm(F.col(vec_col))).crossJoin(
        F.broadcast(queries.withColumn("_nq", norm(F.col(query_vec_col))))
    )
    return rank_topk(
        joined, k, id_col, vec_col, query_id_col, query_vec_col,
        cached_norms=True,
    )


def plane(j: int, dim: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane j of table ``table``.

    Table 0 keeps the sin((i+1)*(j+1)) family — it is the engine-portable
    form the DuckDB oracle twins replicate in SQL (queries._bucket_sql).
    Tables >= 1 derive weights from md5, NOT a shifted sin family: integer
    sin bases alias (bases ~710 apart are ~113*2pi, giving near-identical
    planes) and any affine (table, j) -> base map collides once n_planes
    exceeds the stride — both silently correlate the 'independent'
    tables and void the 1-(1-p)^T recall math. md5 keys cannot collide
    across (table, j, i) and have no spectral structure."""
    if table == 0:
        return [math.sin((i + 1) * (j + 1)) for i in range(dim)]
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane:{table}:{j}:{i}".encode()).digest()
        out.append(2.0 * (int.from_bytes(h[:8], "big") / 2.0**64) - 1.0)
    return out


def lsh_bucket(vec: Column, dim: int, n_planes: int = 4, table: int = 0) -> Column:
    """Sign-plane bucket code in [0, 2^n_planes): bit j = sign of the dot
    product with plane j of table ``table``.

    One transform over a plane MATRIX literal, not one unrolled
    aggregate per plane: per-plane unrolling copied the whole
    zip_with/aggregate structure n_planes times and Janino paid for each
    (8 planes across 2 tables measured ~8 s of compile before the first
    row). The sums are still evaluated in index order per plane, so
    bucket values are bit-identical to the unrolled form and to the
    DuckDB twins."""
    planes_m = F.array(
        *[F.array(*[F.lit(x) for x in plane(j, dim, table)]) for j in range(n_planes)]
    )
    bits = F.transform(
        planes_m,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(_vec(vec), p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda b, j: F.call_function("shiftleft", b, j),
        ),
        F.lit(0),
        lambda a, x: a.bitwiseOR(x),
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: only same-bucket candidates are scored.
    At 10^9+ vectors this replaces the O(N·Q) crossJoin with an
    equi-join on bucket.

    Structurally invalid vectors (NULL / ragged / NULL-element) are
    dropped on BOTH sides before keying — they would all collide in
    bucket 0 and be scored against every bucket-0 query for nothing
    (their sim is NULL). Zero vectors are structurally valid and keep
    the brute-force semantics: NULL sim, ranked last."""
    c = corpus.where(vector_ok(F.col(vec_col), dim)).withColumn(
        "_bkt", lsh_bucket(F.col(vec_col), dim, n_planes)
    ).withColumn("_nv", norm(F.col(vec_col)))
    q = queries.where(vector_ok(F.col(query_vec_col), dim)).withColumn(
        "_bkt", lsh_bucket(F.col(query_vec_col), dim, n_planes)
    ).withColumn("_nq", norm(F.col(query_vec_col)))
    joined = c.join(F.broadcast(q), "_bkt")
    return rank_topk(
        joined, k, id_col, vec_col, query_id_col, query_vec_col,
        cached_norms=True,
    )


def cosine_near_dup_pairs(
    df: DataFrame, dim: int, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding", n_planes: int = 4,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Scale sizing: candidate pairs ~ N^2 / 2^n_planes for a corpus of N
    (pairs are quadratic WITHIN a bucket), so pick n_planes ~
    log2(N^2 / candidate_budget) — e.g. N=10^9 with a 10^12-pair budget
    needs ~20 planes, not the default 4 (which is sized for the test
    corpora). Single-table recall FALLS as n_planes grows (a true pair
    survives one table with prob ~ (1 - theta/pi)^n_planes), so
    production runs set ``n_tables`` > 1: independent plane families
    (disjoint via the table offset in ``plane``), a pair is a candidate
    if it collides in ANY table — recall 1-(1-p)^T — and the final
    distinct collapses pairs that collide in several. The join stays one
    equi-join on the exploded (table, bucket) key; the distinct shuffles
    only (id, id, sim) rows, i.e. the candidate volume the operator
    already pays for.

    The exploded (doc, v, key) frame is not cached: it is read once, by
    the grouped ``applyInPandas`` scorer, so the bucket keys are
    computed once per row. The shuffle carries the vector itself times
    n_tables (dim x 8 B x T per doc) — size T accordingly at corpus
    scale."""
    if n_tables < 1 or n_planes < 1:
        raise ValueError(
            f"n_tables and n_planes must be >= 1, got {n_tables}/{n_planes}"
            " — 0 tables would silently report zero near-duplicates"
        )
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket(F.col("v"), dim, n_planes, t).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )
    # degenerate-vector guard BEFORE keying (vector_ok docstring): dirty
    # vectors all collide in bucket 0 of every table — quadratic
    # candidate pairs that the sim >= threshold filter would discard
    # anyway (NULL sim). Zero vectors are excluded too: same bucket-0
    # collision, and 0/0 cosine is NULL, so dropping them is also
    # result-preserving.
    from dataval_spark.operators.dedup import fan_out

    base = (
        fan_out(df).where(vector_ok(F.col(vec_col), dim))
        .select(
            F.col(id_col).alias("doc"),
            # double up front: the JVM dot/norm always folded over
            # array<double> (see _vec) and float→double is exact, so the
            # Arrow batches below carry the identical values
            _vec(F.col(vec_col)).alias("v"),
            # norm once per row: computed per candidate pair it would
            # re-run the 64-element fold 2x per pair (the pair volume is
            # the operator's cost center, the row count is not)
            norm(F.col(vec_col)).alias("nv"),
        )
        .where(F.col("nv") > 0)
    )
    coded = base.select(
        "doc", "v", "nv", F.explode(keys).alias("k")
    ).select("doc", "v", "nv", F.col("k.tbl").alias("tbl"), F.col("k.bkt").alias("bkt"))

    # Per-bucket pair scoring in numpy (guide §4.2), not a per-pair JVM
    # HOF fold: the self-join form paid an interpreted zip_with+aggregate
    # dot product PER CANDIDATE PAIR (~15 µs each; at sf1.0 that is
    # 2.5·10⁷ pairs → 381 s). Here each (table, bucket) group crosses the
    # Arrow boundary once (rows, not pairs) and all in-bucket pair dots
    # are produced by dim vectorized outer-product accumulations.
    #
    # Numeric parity is exact, not approximate: S starts at 0.0 and adds
    # V[:,d]·Vᵀ[d,:] for d = 0..dim-1 in index order, so each pair's dot
    # is the same left-to-right IEEE-double chain ((0+x₀y₀)+x₁y₁)+… the
    # JVM aggregate and the DuckDB list_sum twin evaluate (numpy's
    # elementwise multiply/add are single IEEE ops — no FMA, no
    # reassociation). Python only PRE-FILTERS with a conservative margin
    # below the rounded threshold; the returned sim is re-derived in the
    # JVM from the raw dot with the exact original round(try_divide(...))
    # expression, so emitted rows are bit-identical to the join form.
    import pandas as pd  # local: keep module import light

    id_field = next(f for f in coded.schema.fields if f.name == "doc")
    out_schema = (
        f"doc_a {id_field.dataType.simpleString()}, "
        f"doc_b {id_field.dataType.simpleString()}, "
        "dot double, na double, nb double"
    )
    # everything at or above `cut` COULD round (HALF_UP) to >= threshold
    # at 4 decimals; the extra 1e-9 covers the pre-filter's own division
    # rounding (the authoritative comparison happens JVM-side)
    cut = threshold - 0.00005 - 1e-9

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = {
            "doc_a": pdf["doc"].iloc[:0],
            "doc_b": pdf["doc"].iloc[:0],
            "dot": np.empty(0),
            "na": np.empty(0),
            "nb": np.empty(0),
        }
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf["doc"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.asarray(np.stack(pdf["v"].to_numpy()[order]), dtype=np.float64)
        nv = pdf["nv"].to_numpy()[order]
        out_a, out_b, out_dot, out_na, out_nb = [], [], [], [], []
        # row-blocked so the (blk × n) product matrix stays ~32 MB even
        # for a pathologically hot bucket
        blk = max(1, int(4_000_000 // n))
        for s in range(0, n - 1, blk):
            e = min(s + blk, n)
            S = np.zeros((e - s, n))
            for d in range(V.shape[1]):
                S += np.multiply.outer(V[s:e, d], V[:, d])
            sims = S / np.multiply.outer(nv[s:e], nv)
            mask = sims >= cut
            # strict id inequality, not index: duplicate ids never pair
            # (the join form's a.doc < b.doc)
            mask &= ids[None, :] > ids[s:e, None]
            ai, bj = np.nonzero(mask)
            if len(ai):
                out_a.append(ids[ai + s])
                out_b.append(ids[bj])
                out_dot.append(S[ai, bj])
                out_na.append(nv[ai + s])
                out_nb.append(nv[bj])
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "dot": np.concatenate(out_dot),
                "na": np.concatenate(out_na),
                "nb": np.concatenate(out_nb),
            }
        )

    cand = coded.groupBy("tbl", "bkt").applyInPandas(_score, out_schema)
    sim = F.round(F.try_divide(F.col("dot"), F.col("na") * F.col("nb")), 4)
    pairs = cand.select("doc_a", "doc_b", sim.alias("sim")).where(
        F.col("sim") >= threshold
    )
    return pairs.distinct() if n_tables > 1 else pairs
