"""Context-window packing: assign documents to training-context bins by
cumulative token count — the sequence-packing step of an LLM data
pipeline, as one window expression.

``bin = floor(preceding_cumulative_tokens / budget)``: a document opens
the bin its running offset lands in, so a bin can overflow by at most
one document's tokens (offset packing). Exact first-fit is inherently
sequential per group; this closed form is the standard scalable
approximation — one window shuffle on the group key, no state, and the
assignment is deterministic under the given ordering, so it is
reproducible run to run (prerequisite for training-data lineage).

Scale note (round-3 verdict): the window sorts ONE partition per group
value, so the unsharded form requires group-key cardinality >> the
cluster's core count — ``lang`` (cardinality ~5) at corpus scale means
one reducer sorts all English docs. ``n_shards`` splits every group into
``(group, pmod(xxhash64(order_col), n_shards))`` sub-groups that pack
independently: bins are still valid training packs (each is a
token-budget-bounded set of whole documents), offsets just reset per
shard, costing at most one under-filled bin per (group, shard). Sizing:
n_shards ~ total_cores / group_cardinality keeps every core busy with a
bounded sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_greedy(
    df: DataFrame,
    token_col: str,
    budget: int,
    group_col: str,
    order_col: str,
    out_col: str = "bin",
    n_shards: int = 1,
    start_col: str | None = None,
) -> DataFrame:
    """Pack into ``out_col`` bins of ~``budget`` tokens per ``group_col``.

    ``n_shards=1`` (default) reproduces the exact single-sequence
    packing per group — require group-key cardinality >> cores at scale.
    ``n_shards=k`` packs within ``(group, hash(order) % k)``: same bin
    validity, parallel sorts, at the price of <= k partially-filled bins
    per group. Deterministic either way (shard id is a pure hash of the
    order key, not a partition id).

    ``start_col`` additionally emits a boolean column that is true on
    each bin's first row, computed in the same window (no extra shuffle
    or sort): its true rows count the bins without a ``distinct()`` pass.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard: list[Column] = []
    out = df
    if n_shards > 1:
        out = out.withColumn(
            "_pack_shard",
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_shards)).cast("int"),
        )
        shard = [F.col("_pack_shard")]
    spec = Window.partitionBy(F.col(group_col), *shard).orderBy(order_col)
    w = spec.rowsBetween(Window.unboundedPreceding, -1)

    def bin_after(frame) -> Column:
        prev = F.coalesce(F.sum(token_col).over(frame), F.lit(0))
        return F.floor(prev / F.lit(budget)).cast("int")

    binned = out.withColumn(out_col, bin_after(w))
    if start_col is not None:
        # a row opens a bin when it is first in its (group, shard) or
        # its bin differs from the previous row's, whose offset is the
        # sum up to two rows back: one more frame on the same spec
        first = F.count(F.lit(1)).over(w) == 0
        prev_bin = bin_after(spec.rowsBetween(Window.unboundedPreceding, -2))
        binned = binned.withColumn(start_col, first | (F.col(out_col) != prev_bin))
    if n_shards > 1:
        # globally unique bin id per (group, shard, local bin) so
        # downstream consumers can group on (group_col, out_col) alone
        binned = binned.withColumn(
            out_col,
            (F.col("_pack_shard") * F.lit(1 << 32) + F.col(out_col)).cast("long"),
        ).drop("_pack_shard")
    return binned


def packing_stats(packed: DataFrame, token_col: str, group_col: str, out_bin: str = "bin") -> DataFrame:
    """Per-group packing summary: bins used, fill distribution."""
    per_bin = packed.groupBy(group_col, out_bin).agg(
        F.sum(token_col).alias("bin_tokens"), F.count(F.lit(1)).alias("n_docs")
    )
    return per_bin.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.max("bin_tokens").alias("max_bin_tokens"),
        F.round(F.avg("bin_tokens"), 4).alias("avg_bin_tokens"),
    )


def split_long_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 2048,
    idx_col: str = "chunk_idx",
    count_col: str | None = None,
) -> DataFrame:
    """Explode documents longer than one context window into
    window-sized chunks (the standard pretraining move: a 100k-token
    document becomes ~49 rows of <= window_tokens whitespace tokens,
    each packable as a whole unit by pack_greedy).

    Output: one row per chunk with ``idx_col`` (0-based, 0 for
    unsplit docs). Documents at or under the window — and NULL-text
    rows — pass through byte-identical with idx 0; split chunks are
    re-joined with single spaces. ``count_col`` additionally emits the
    per-chunk token count, CLOSED-FORM for split chunks
    (min(window, n - c*window)) — sparing the caller a second full
    tokenization pass over the rebuilt text. Pure per-row array work
    fused into the scan: no shuffle, no UDF.
    """
    from dataval_spark.operators.dedup import _bind
    from dataval_spark.operators.text import token_count

    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def chunked(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.ceil(n / F.lit(window_tokens)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda c: F.struct(
                F.concat_ws(
                    " ", F.slice(t, c * window_tokens + 1, window_tokens)
                ).alias("t"),
                F.least(
                    F.lit(window_tokens), n - c * window_tokens
                ).cast("int").alias("k"),
            ),
        )

    pieces = F.when(
        F.col(text_col).isNull()
        | (F.coalesce(F.size(toks), F.lit(0)) <= window_tokens),
        F.array(
            F.struct(
                F.col(text_col).alias("t"),
                token_count(F.col(text_col)).cast("int").alias("k"),
            )
        ),
    ).otherwise(_bind(toks, chunked))
    other = [c for c in df.columns if c != text_col]
    out = df.select(*other, F.posexplode_outer(pieces).alias(idx_col, "_piece"))
    cols = [*other, idx_col, F.col("_piece.t").alias(text_col)]
    if count_col is not None:
        cols.append(F.col("_piece.k").alias(count_col))
    return out.select(*cols)
