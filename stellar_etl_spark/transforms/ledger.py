"""history_ledgers projection (reference: internal/transform/ledger.go:17-107).

A narrow select over the ledger rows: the per-ledger tx/op counts
(`extractCounts`, ledger.go:120-153) arrive on each row from the silver
decode of the same LedgerCloseMeta, so nothing aggregates or joins the
transactions table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.toid import toid


def transform_ledger(ledgers: DataFrame, strict: bool = False) -> DataFrame:
    """One output row per ledger with TOID id and the ledger's counts.

    Count semantics (ledger.go:120-153): ``transaction_count`` counts only
    successful txs; ``operation_count`` sums ops of successful txs;
    ``tx_set_operation_count`` is ALL ops, surfaced as a STRING (the
    reference's quirk, ledger.go:151).  Negative total_coins/fee_pool rows
    error in strict mode, are dropped otherwise (ledger.go:43-50).
    """
    invalid = (F.col("total_coins") < 0) | (F.col("fee_pool") < 0)
    base = ledgers.withColumn(
        "_invalid",
        F.when(
            invalid & F.lit(strict),
            F.raise_error(F.lit("negative total_coins/fee_pool (ledger.go:43-50)")),
        ).otherwise(invalid),
    ).where(~F.col("_invalid"))

    return base.select(
        F.col("sequence"),
        toid(F.col("sequence"), 0, 0).alias("id"),
        F.col("ledger_hash"),
        F.col("previous_ledger_hash"),
        F.col("ledger_header"),
        F.col("closed_at"),
        F.col("successful_transaction_count").alias("transaction_count"),
        F.col("successful_transaction_count"),
        F.col("failed_transaction_count"),
        F.col("operation_count"),
        F.col("tx_set_operation_count")
        .cast("string")
        .alias("tx_set_operation_count"),
        F.col("total_coins"),
        F.col("fee_pool"),
        F.col("base_fee"),
        F.col("base_reserve"),
        F.col("max_tx_set_size"),
        F.col("protocol_version"),
        # pre-Soroban ledgers export the Go ZERO value, not null
        # (ledger.go LedgerOutput int64 defaults — golden parity)
        F.coalesce(F.col("soroban_fee_write_1kb"), F.lit(0)).alias(
            "soroban_fee_write_1kb"
        ),
        F.coalesce(F.col("total_byte_size_of_bucket_list"), F.lit(0)).alias(
            "total_byte_size_of_bucket_list"
        ),
        F.col("node_id"),
        F.col("signature"),
    )
