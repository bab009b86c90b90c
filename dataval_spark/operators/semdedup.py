"""SemDeDup-style semantic deduplication over an embedding column.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540):
k-means-cluster the embeddings, compare pairs ONLY within a cluster,
connect pairs above a cosine threshold into duplicate groups, keep one
representative per group. This module composes operators the engine
already ships — `ivf.train_centroids` / `ivf.build_index` (Lloyd
k-means with a deterministic hash seed), the per-bucket numpy cosine
scorer of `similarity.cosine_near_dup_pairs`, and
`dedup.connected_components` + `dedup.keep_cluster_canonical` — into
that pipeline.

Scale design:
- Candidate volume is sum(c_i^2) over cluster sizes c_i, so k is the
  knob: SemDeDup uses k ~ sqrt(N) (the paper runs k=50k on LAION-440M).
  For clusters that are still too big, ``sub_planes`` adds a sign-plane
  sub-bucket to the scoring key (cluster, bucket) — identical vectors
  always share a bucket, so exact duplicates are never lost; near-dups
  keep the 1-(theta/pi)^p per-plane retention described in
  `similarity.cosine_near_dup_pairs`.
- Pairs are scored per key group in numpy: each (cluster[, bucket])
  group crosses the Arrow boundary once as rows with their norms, and
  its in-group dot products are vectorized (the pair volume, not the
  row count, is the cost center). The scorer reads its input once, so
  nothing is cached.
- Connected components run over pair ENDPOINTS only (distinct ids that
  appear in some pair), not the whole corpus — singleton docs never
  enter the label-propagation loop.
- Centroid distances for the ``keep="centroid_far"`` policy come from a
  broadcast join against a k-row centroid table, not a k*dim plan
  literal, so k can grow to SemDeDup's 50k without bloating the plan.

Dirty vectors (NULL / wrong dim / NULL elements) never pair (the
`vector_ok` guard mirrors `cosine_near_dup_pairs`) and are therefore
always kept — no near-dup evidence, same contract as the rest of the
dedup family.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataval_spark.operators.dedup import connected_components, keep_cluster_canonical
from dataval_spark.operators.ivf import build_index, train_centroids
from dataval_spark.operators.similarity import (
    _bucket_cosine_pairs, _vec, dot, lsh_bucket, norm, vector_ok,
)

__all__ = ["SemanticDedupResult", "within_cluster_pairs", "semantic_dedup"]


@dataclass
class SemanticDedupResult:
    kept: DataFrame  # input rows minus dropped near-duplicates
    labels: DataFrame  # (doc, cluster) duplicate-group labeling
    pairs: DataFrame  # (doc_a, doc_b, sim) evidence edges
    centroids: list[list[float]]  # the k-means model that bucketed them


def within_cluster_pairs(
    indexed: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    cluster_col: str = "_cluster",
    sub_planes: int = 0,
) -> DataFrame:
    """(doc_a, doc_b, sim) for same-cluster pairs with cosine >=
    threshold. ``indexed`` is `ivf.build_index` output (or any frame
    with an int cluster column); cluster -1 (dirty/unassignable) rows
    are excluded up front."""
    keys = {"ck": F.col(cluster_col)}
    if sub_planes > 0:
        keys["bkt"] = lsh_bucket(F.col(vec_col), dim, sub_planes)
    base = indexed.where(
        (F.col(cluster_col) >= 0) & vector_ok(F.col(vec_col), dim)
    ).select(
        F.col(id_col).alias("doc"),
        _vec(F.col(vec_col)).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
        *[c.alias(k) for k, c in keys.items()],
    )
    return _bucket_cosine_pairs(base.where(F.col("nv") > 0), list(keys), threshold)


def _centroid_sims(
    indexed: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    cluster_col: str = "_cluster",
) -> DataFrame:
    """(doc, csim): cosine of each assigned vector to its own centroid,
    via a broadcast join on the k-row centroid table."""
    spark = indexed.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        f"{cluster_col} int, _centroid array<double>",
    )
    joined = indexed.where(F.col(cluster_col) >= 0).join(
        F.broadcast(cent), cluster_col
    )
    csim = F.try_divide(
        dot(F.col(vec_col), F.col("_centroid")),
        norm(F.col(vec_col)) * norm(F.col("_centroid")),
    )
    return joined.select(F.col(id_col).alias("doc"), csim.alias("csim"))


def semantic_dedup(
    df: DataFrame,
    dim: int,
    k: int = 16,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    iters: int = 2,
    keep: str = "min_id",
    sub_planes: int = 0,
    checkpoint_dir: str | None = None,
) -> SemanticDedupResult:
    """Full SemDeDup pass. ``keep`` picks the survivor per duplicate
    group: ``"min_id"`` (deterministic, join-free) or
    ``"centroid_far"`` — the paper's choice: the member with the LOWEST
    cosine to its cluster centroid survives (keeps the least-typical
    exemplar, maximizing retained diversity), ties broken by id."""
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(f"unknown keep policy {keep!r}")
    # Train on VALID vectors only, with k degraded to their count: in a
    # composed pipeline most docs may carry no embedding (left join), and
    # a k-means trainer sampling the whole frame would find too few valid
    # rows and raise. Zero valid vectors = nothing to dedup: the whole
    # input is kept, with empty evidence frames.
    valid = df.where(vector_ok(F.col(vec_col), dim))
    n_valid = valid.limit(4 * k).count()  # capped probe: only "< 4k?" matters
    if n_valid == 0:
        spark = df.sparkSession
        id_type = dict(df.dtypes)[id_col]
        empty_labels = spark.createDataFrame(
            [], f"doc {id_type}, cluster {id_type}"
        )
        empty_pairs = spark.createDataFrame(
            [], f"doc_a {id_type}, doc_b {id_type}, sim double"
        )
        return SemanticDedupResult(df, empty_labels, empty_pairs, [])
    k_eff = min(k, n_valid)
    centroids = train_centroids(valid, dim, k_eff, vec_col, id_col, iters)
    indexed = build_index(df, centroids, vec_col)
    pairs = within_cluster_pairs(
        indexed, dim, threshold, id_col, vec_col, sub_planes=sub_planes
    )
    # CC universe = pair endpoints only; singletons never shuffle in the
    # label-propagation loop. Endpoints are by construction a subset of
    # the valid-vector docs, so the strict seed contract holds.
    endpoints = (
        pairs.select(F.col("doc_a").alias("doc"))
        .union(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    labels = connected_components(
        endpoints, pairs, id_col="doc", checkpoint_dir=checkpoint_dir
    )
    if keep == "min_id":
        kept = keep_cluster_canonical(df, labels, id_col)
    else:
        sims = _centroid_sims(indexed, centroids, id_col, vec_col)
        # survivor per cluster = argmin over (csim, doc): min_by is a
        # map-side-combinable aggregate, so one giant near-dup cluster
        # (the boilerplate-page case SemDeDup exists for) never funnels
        # into a single window task's sort buffer.
        joined = labels.join(sims, "doc")
        keepers = joined.groupBy("cluster").agg(
            F.min_by("doc", F.struct(F.col("csim"), F.col("doc"))).alias("_keep")
        )
        dropped = (
            joined.join(keepers, "cluster")
            .where(F.col("doc") != F.col("_keep"))
            .select("doc")
        )
        kept = df.join(dropped, df[id_col] == dropped["doc"], "left_anti")
    return SemanticDedupResult(kept, labels, pairs, centroids)
