"""history_transactions projection (reference: internal/transform/
transaction.go:20-275): memo switch, time/ledger-bounds interval strings,
fee-bump fields, Soroban fee decomposition, pre-protocol-21 fee-bump fix.

Everything is a single narrow select over the tx row, which carries its
ledger's close time, protocol and header entry blob from silver — no join,
no fan-out, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.scalars import interval_string
from stellar_etl_spark.functions.toid import toid


def _z(col):
    """Coalesce to int64 zero — Go's unset-field marshaling."""
    return F.coalesce(col, F.lit(0)).cast("long")


def transform_transaction(transactions: DataFrame, strict: bool = False) -> DataFrame:
    """One output row per transaction; close time and protocol come from the
    tx row itself (the reference's LedgerHeaderHistoryEntry argument).

    - id = TOID(ledger, tx_index, 0) (toid/main.go:130-157)
    - memo switch (transaction.go:74-89): memo_type 'none' clears the memo
    - time bounds ``[min,max)``; max==0 → unbounded; max<min errors
      (transaction.go:93-111)
    - fee-bump surface: new_max_fee / fee_account / inner hash
      (transaction.go:254-272)
    - Soroban: for protocol<21 fee-bump+soroban txs the reported fee_charged
      compensates the core bug by recomputing resource_fee − refund
      (transaction.go:185-190)
    """
    bad_bounds = (
        F.col("time_bounds_max").isNotNull()
        & (F.col("time_bounds_max") != 0)
        & (F.col("time_bounds_max") < F.col("time_bounds_min"))
    )

    tx = transactions.withColumn(
        "_bad_bounds",
        F.when(
            bad_bounds & F.lit(strict),
            F.raise_error(F.lit("max time bound < min (transaction.go:93-104)")),
        ).otherwise(bad_bounds),
    ).where(~F.col("_bad_bounds"))

    soroban_fix = (
        (F.col("protocol_version") < 21)
        & F.col("is_fee_bump")
        & F.col("has_soroban")
    )

    return tx.select(
        toid(F.col("ledger_sequence"), F.col("tx_index"), 0).alias("id"),
        F.col("transaction_hash"),
        F.col("ledger_sequence"),
        F.col("tx_index").alias("application_order"),
        F.col("source_account").alias("account"),
        F.col("source_muxed").alias("account_muxed"),
        F.col("account_sequence"),
        F.col("max_fee"),
        F.when(soroban_fix, F.col("resource_fee") - F.col("fee_refund"))
        .otherwise(F.col("fee_charged"))
        .alias("fee_charged"),
        F.col("successful"),
        F.col("operation_count"),
        F.col("closed_at"),
        # created_at == the ledger close time (transaction.go:193-197)
        F.col("closed_at").alias("created_at"),
        # memo_type is the Go enum NAME (memoObject.Type.String(),
        # transaction.go:89) — "MemoTypeMemoText", not "text"
        F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for kv in {
                        "none": "MemoTypeMemoNone",
                        "text": "MemoTypeMemoText",
                        "id": "MemoTypeMemoId",
                        "hash": "MemoTypeMemoHash",
                        "return": "MemoTypeMemoReturn",
                    }.items()
                    for x in kv
                ]
            ),
            F.col("memo_type"),
        ).alias("memo_type"),
        F.when(F.col("memo_type") == "none", F.lit(None).cast("string"))
        .otherwise(F.col("memo"))
        .alias("memo"),
        F.when(
            F.col("time_bounds_min").isNotNull(),
            interval_string(F.col("time_bounds_min"), F.col("time_bounds_max")),
        ).alias("time_bounds"),
        F.when(
            F.col("ledger_bounds_min").isNotNull(),
            interval_string(F.col("ledger_bounds_min"), F.col("ledger_bounds_max")),
        ).alias("ledger_bounds"),
        F.col("min_account_sequence"),
        # json tags min_account_sequence_age / _ledger_gap (schema.go:63-64)
        F.col("min_sequence_age").alias("min_account_sequence_age"),
        F.col("min_sequence_ledger_gap").alias("min_account_sequence_ledger_gap"),
        F.col("extra_signers"),
        F.when(F.col("is_fee_bump"), F.col("inner_transaction_hash")).alias(
            "inner_transaction_hash"
        ),
        F.when(F.col("is_fee_bump"), F.col("fee_account")).alias("fee_account"),
        F.when(F.col("is_fee_bump"), F.col("fee_account_muxed")).alias(
            "fee_account_muxed"
        ),
        F.when(F.col("is_fee_bump"), F.col("new_max_fee")).alias("new_max_fee"),
        # Soroban fee decomposition (transaction.go:141-190): zero — not
        # null — outside soroban txs, matching the Go struct's int64 zero
        # values in the goldens.
        _z(F.when(F.col("has_soroban"), F.col("resource_fee"))).alias(
            "resource_fee"
        ),
        _z(
            F.when(F.col("has_soroban"), F.col("soroban_resources_instructions"))
        ).alias("soroban_resources_instructions"),
        _z(
            F.when(F.col("has_soroban"), F.col("soroban_resources_read_bytes"))
        ).alias("soroban_resources_read_bytes"),
        _z(
            F.when(F.col("has_soroban"), F.col("soroban_resources_write_bytes"))
        ).alias("soroban_resources_write_bytes"),
        # inclusion_fee_bid = envelope fee − resource fee
        # (transaction.go:165); charged = initial fee − resource fee where
        # initial is the fee account's FEE-meta balance sweep — silver
        # carries it as fee_initial_charged (transaction.go:167-169),
        # independent of the pre-P21 fee_charged override.  Fixture/synthetic
        # frames without the sweep fall back to the P21 identity
        # initial = fee_charged + refund.
        _z(
            F.when(F.col("has_soroban"), F.col("max_fee") - F.col("resource_fee"))
        ).alias("inclusion_fee_bid"),
        _z(
            F.when(
                F.col("has_soroban"),
                F.coalesce(
                    F.col("fee_initial_charged"),
                    F.col("fee_charged") + F.col("fee_refund"),
                )
                - F.col("resource_fee"),
            )
        ).alias("inclusion_fee_charged"),
        _z(F.when(F.col("has_soroban"), F.col("fee_refund"))).alias(
            "resource_fee_refund"
        ),
        _z(F.when(F.col("has_soroban"), F.col("fee_nonrefundable"))).alias(
            "non_refundable_resource_fee_charged"
        ),
        _z(F.when(F.col("has_soroban"), F.col("fee_refundable"))).alias(
            "refundable_resource_fee_charged"
        ),
        _z(F.when(F.col("has_soroban"), F.col("rent_fee"))).alias(
            "rent_fee_charged"
        ),
        F.col("result_code").alias("transaction_result_code"),
        F.col("tx_signers"),
        F.col("tx_envelope"),
        # the transactions table stores the BARE TransactionResult; silver
        # carries the TransactionResultPair (hash ‖ result) the
        # ledger_transactions table needs — strip the 32-byte hash prefix
        # (transaction.go getTxResult vs ledger_transaction.go)
        F.when(
            F.col("tx_result").isNotNull(),
            # Spark's base64() chunks long output MIME-style (CRLF every
            # 76 chars) — strip to the canonical unbroken form
            F.regexp_replace(
                F.base64(
                    F.expr(
                        "substring(unbase64(tx_result), 33,"
                        " length(unbase64(tx_result)) - 32)"
                    )
                ),
                "[\\r\\n]",
                "",
            ),
        ).alias("tx_result"),
        F.col("tx_meta"),
        F.col("tx_fee_meta"),
    )


def transform_ledger_transaction(transactions: DataFrame) -> DataFrame:
    """Raw-XDR passthrough table (ledger_transaction.go:13-58) — narrow
    projection, no decode of operations (column pruning does the work).
    ``tx_ledger_history`` is the ledger's LedgerHeaderHistoryEntry blob
    (ledger_transaction.go:37-40), carried on every tx row with its
    ``closed_at``."""
    return transactions.select(
        F.col("ledger_sequence"),
        F.col("tx_index").alias("application_order"),
        F.col("transaction_hash"),
        F.col("tx_envelope"),
        F.col("tx_result"),
        F.col("tx_meta"),
        F.col("tx_fee_meta"),
        F.col("tx_ledger_history"),
        F.col("closed_at"),
    )
