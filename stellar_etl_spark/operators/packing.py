"""Sequence packing for training-data pipelines.

Packing concatenates documents into fixed-token-budget training sequences.
The bin assignment is a *sequential* greedy fold over an ordered document
stream — not expressible as window/cumsum column algebra (a bin closes only
when the next document would overflow it, so the running fill resets
data-dependently).  This is exactly the shape ``applyInPandas`` exists for:
the fold runs per shard (e.g. per source), shards run in parallel, and no
state ever leaves an executor.

Scale shape: one shuffle to co-locate each shard, then an O(docs-in-shard)
Arrow-batched fold.  At 100 TB the shard key is whatever unit must be packed
contiguously (source, domain, date bucket…); shards are independent, so skew
is handled by sub-sharding the key upstream, not by the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_next_fit(
    df: DataFrame,
    group_col: str = "source",
    order_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 512,
) -> DataFrame:
    """Greedy next-fit packing: walk the shard in ``order_col`` order, keep
    appending documents to the current bin, open a new bin when the next
    document would overflow ``budget``.  A document larger than the budget
    occupies a (oversized) bin alone.  The first document always lands in
    bin 0.

    Deterministic given the ordering column, so it is oracle-checkable (the
    DuckDB twin is a recursive CTE stepping the same fold).
    """

    out_schema = (
        f"{group_col} string, {order_col} bigint, {size_col} bigint, bin_id bigint"
    )

    def fold(pdf):
        pdf = pdf.sort_values(order_col, ignore_index=True)
        bins = []
        fill = 0
        bin_id = 0
        first = True
        for t in pdf[size_col]:
            t = int(t)
            if not first and fill + t > budget:
                bin_id += 1
                fill = t
            else:
                fill += t
            first = False
            bins.append(bin_id)
        pdf["bin_id"] = bins
        return pdf[[group_col, order_col, size_col, "bin_id"]]

    src = df.select(
        F.col(group_col),
        F.col(order_col).cast("long").alias(order_col),
        F.col(size_col).cast("long").alias(size_col),
    )
    return src.groupBy(group_col).applyInPandas(fold, out_schema)


def concat_chunk_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 2048,
    coarse: int = 4096,
) -> DataFrame:
    """GPT-style concat-then-chunk: conceptually concatenate every document
    in ``id_col`` order into one character stream, then cut the stream into
    fixed ``block_chars`` blocks that freely cross document boundaries (the
    standard causal-LM pretraining layout, vs :func:`pack_next_fit` which
    never splits a document).

    Per block it reports how many documents contribute, how many characters
    land in the block, and the first/last contributing document — the audit a
    dataloader needs to map a training block back to its provenance.

    Scale shape: the global running offset is a TWO-PHASE cumulative sum —
    documents coarse-bucket by ``id_col // coarse`` (order-preserving for the
    dense non-negative ids the catalog guarantees), per-bucket totals cumsum
    on a frame ``coarse``× smaller than the corpus, and the tiny offset frame
    broadcast-joins back so the within-bucket window runs parallel per
    bucket.  No global window, no driver action; the block fan-out is a
    bounded ``sequence`` explode (a document touches at most
    ``len/block_chars + 1`` blocks).
    """
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.length(F.col(text_col)).cast("long").alias("_len"),
    ).where(F.col("_len") > 0)
    base = base.withColumn("_bkt", (F.col("_id") / F.lit(coarse)).cast("long"))

    from pyspark.sql.window import Window

    per_bucket = base.groupBy("_bkt").agg(F.sum("_len").alias("_bsum"))
    w_buckets = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "_bkt",
        F.coalesce(F.sum("_bsum").over(w_buckets), F.lit(0)).alias("_off"),
    )

    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        base.join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "_start",
            F.col("_off") + F.coalesce(F.sum("_len").over(w_in), F.lit(0)),
        )
        .withColumn("_end", F.col("_start") + F.col("_len"))
    )

    C = F.lit(int(block_chars)).cast("long")
    blocks = placed.select(
        "_id",
        "_start",
        "_end",
        F.explode(
            F.sequence(
                (F.col("_start") / C).cast("long"),
                ((F.col("_end") - 1) / C).cast("long"),
            )
        ).alias("block_id"),
    )
    lo = F.greatest(F.col("_start"), F.col("block_id") * C)
    hi = F.least(F.col("_end"), (F.col("block_id") + 1) * C)
    return (
        blocks.select("block_id", "_id", (hi - lo).alias("_chars"))
        .groupBy("block_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_chars").cast("long").alias("n_chars"),
            F.min("_id").alias("first_doc"),
            F.max("_id").alias("last_doc"),
        )
    )
