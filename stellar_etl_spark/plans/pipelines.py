"""The reference's export commands as end-to-end DataFrame pipelines
(reference: one Cobra subcommand per pipeline under cmd/, SURVEY.md §3).

Each pipeline = silver-input DataFrames → transform (transforms/*) → sink
(sources/sinks).  All take a ledger range (the universal ``--start-ledger/
--end-ledger`` contract, internal/utils/main.go:231-253) applied as a
partition-prunable filter, and write JSONL and/or Parquet exactly like
``ExportEntry``/``WriteParquet`` (cmd/command_utils.go) through the one
observed sink, ``sources.sinks.export``.  Each returns the rows it wrote,
counted by the write job itself: an int for a single-table export,
``{name: rows}`` for the multi-table ones.

Shape notes: every pipeline is one Spark job; only the aggregation/explode
steps shuffle (see tests/test_plans.py).  Each export takes one frame and
joins no other: a silver ledger row carries its own tx and op counts, a
transaction row its ledger's close time, protocol and header entry blob,
and an operation row its transaction's hash and source and its ledger's
close time.  The range filter sits on the silver rows; the CLI also filters
bronze on the file-name sequence, so ledgers out of range are read but
never parsed in Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.operators.compaction import compact_changes
from stellar_etl_spark.operators.ranges import ledger_range_for_times
from stellar_etl_spark.sources.sinks import export
from stellar_etl_spark.streaming.micro_batch import DEFAULT_BATCH_LEDGERS, batch_id_col
from stellar_etl_spark.transforms import (
    transform_asset,
    transform_contract_events,
    transform_effects,
    transform_ledger,
    transform_offer_normalized,
    transform_operation,
    transform_token_transfer,
    transform_trade,
    transform_transaction,
)
from stellar_etl_spark.transforms.changes import route_changes
from stellar_etl_spark.transforms.transaction import transform_ledger_transaction


def _range(df: DataFrame, start: int, end: int, col: str = "ledger_sequence") -> DataFrame:
    """Inclusive [start, end] ledger range (utils/main.go:231-253); end=0 is
    unbounded (README.md:294-296)."""
    cond = F.col(col) >= start
    if end:
        cond = cond & (F.col(col) <= end)
    return df.where(cond)


_SUFFIX = {"json": ".jsonl", "parquet": ".parquet"}


def _sink(
    df: DataFrame,
    out_dir: str,
    name: str,
    fmt: str = "json",
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> int:
    """Write ``<out_dir>/<name>.jsonl`` and/or ``.parquet``; returns the rows
    observed by the first write."""
    path = os.path.join(out_dir, name)
    formats = ("json", "parquet") if fmt == "both" else (fmt,)
    rows = [export(df, path + _SUFFIX[f], f, extra_fields, mode) for f in formats]
    return rows[0]


def export_ledgers(ledgers, out_dir, start=0, end=0, fmt="json",
                   strict=False, extra_fields=None, mode="overwrite") -> int:
    """cmd/export_ledgers.go equivalent (SURVEY.md §3.1)."""
    out = transform_ledger(_range(ledgers, start, end, "sequence"), strict=strict)
    return _sink(out, out_dir, "ledgers", fmt, extra_fields, mode=mode)


def export_transactions(transactions, out_dir, start=0, end=0, fmt="json",
                        strict=False, extra_fields=None,
                        mode="overwrite") -> int:
    out = transform_transaction(_range(transactions, start, end), strict)
    return _sink(out, out_dir, "transactions", fmt, extra_fields, mode=mode)


def export_ledger_transactions(transactions, out_dir, start=0, end=0,
                               fmt="json", extra_fields=None,
                               mode="overwrite") -> int:
    out = transform_ledger_transaction(_range(transactions, start, end))
    return _sink(out, out_dir, "ledger_transactions", fmt, extra_fields, mode=mode)


def export_operations(operations, out_dir, start=0, end=0, fmt="json",
                      extra_fields=None, mode="overwrite") -> int:
    out = transform_operation(_range(operations, start, end))
    return _sink(out, out_dir, "operations", fmt, extra_fields, mode=mode)


def export_effects(operations, out_dir, start=0, end=0, fmt="json",
                   extra_fields=None, mode="overwrite") -> int:
    out = transform_effects(_range(operations, start, end))
    return _sink(out, out_dir, "effects", fmt, extra_fields, mode=mode)


def export_trades(operations, out_dir, start=0, end=0, fmt="json",
                  extra_fields=None, mode="overwrite") -> int:
    out = transform_trade(_range(operations, start, end))
    return _sink(out, out_dir, "trades", fmt, extra_fields, mode=mode)


def export_assets(operations, out_dir, start=0, end=0, fmt="json",
                  extra_fields=None, mode="overwrite") -> int:
    out = transform_asset(_range(operations, start, end))
    return _sink(out, out_dir, "assets", fmt, extra_fields, mode=mode)


def export_contract_events(events, out_dir, start=0, end=0, fmt="json",
                           extra_fields=None, mode="overwrite") -> int:
    out = transform_contract_events(_range(events, start, end))
    return _sink(out, out_dir, "contract_events", fmt, extra_fields, mode=mode)


def export_token_transfers(events, out_dir, start=0, end=0, fmt="json",
                           extra_fields=None, mode="overwrite") -> int:
    out = transform_token_transfer(_range(events, start, end))
    return _sink(out, out_dir, "token_transfers", fmt, extra_fields, mode=mode)


def export_orderbooks(offers, out_dir, fmt="parquet",
                      mode="overwrite") -> dict[str, int]:
    """cmd/export_orderbooks.go equivalent: the FNV star schema snapshot."""
    star = transform_offer_normalized(offers)
    return {name: _sink(df, out_dir, name, fmt, mode=mode)
            for name, df in star.items()}


# The 9 per-entity export-type flags (utils/main.go:278-288, default all).
DEFAULT_EXPORT_TYPES = (
    "accounts account_signers trustlines offers liquidity_pools "
    "claimable_balances contract_code contract_data config_settings ttls"
).split()


def export_ledger_entry_changes(
    changes,
    out_dir,
    start=0,
    end=0,
    batch_size: int = DEFAULT_BATCH_LEDGERS,
    export_types: list[str] | None = None,
    fmt: str = "json",
    mode: str = "overwrite",
) -> dict[str, int]:
    """cmd/export_ledger_entry_changes.go equivalent (SURVEY.md §3.3):
    range → 64-ledger batches → per-(batch, key) compaction → per-entity
    routing → one batch-partitioned output dir per entity.

    The whole fan-out is ONE logical plan per entity over a shared compacted
    change log; Spark writes each entity's every batch in a single job
    (partitionBy batch), unlike the reference's sequential per-batch loop.
    The silver change rows are persisted for the duration of the export, so
    the ledgers are decoded once, not once per entity.  Each entity is one
    ``<out_dir>/<entity>`` directory, so ``fmt`` is "json" or "parquet",
    not "both".
    """
    names = export_types or DEFAULT_EXPORT_TYPES
    # cached BEFORE the compaction shuffle: AQE does not re-coalesce a
    # cached plan's output, so persisting ``compacted`` instead freezes its
    # shuffle partitions and multiplies the files each entity writes
    ranged = _range(changes, start, end).withColumn(
        "batch_id", batch_id_col(batch_size=batch_size)
    ).persist()
    try:
        # after compaction the surviving row's type is the RECONCILED one
        # (created→updated collapses to created, ChangeCompactor rule)
        compacted = compact_changes(ranged).withColumn(
            "change_type", F.col("effective_change_type")
        )
        routed = route_changes(compacted, names)
        return {
            name: export(routed[name], os.path.join(out_dir, name), fmt, mode=mode)
            for name in names
        }
    finally:
        ranged.unpersist()


def get_ledger_range_from_times(ledgers, start_time, end_time) -> DataFrame:
    """cmd/get_ledger_range_from_times.go equivalent (input/ledger_range.go:
    32-68) — answered from min/max statistics over the ledgers table."""
    return ledger_range_for_times(
        ledgers, start_time, end_time, seq_col="sequence", time_col="closed_at"
    )


EXPORT_PIPELINES = {
    "export_ledgers": export_ledgers,
    "export_transactions": export_transactions,
    "export_ledger_transactions": export_ledger_transactions,
    "export_operations": export_operations,
    "export_effects": export_effects,
    "export_trades": export_trades,
    "export_assets": export_assets,
    "export_contract_events": export_contract_events,
    "export_token_transfers": export_token_transfers,
    "export_orderbooks": export_orderbooks,
    "export_ledger_entry_changes": export_ledger_entry_changes,
    "get_ledger_range_from_times": get_ledger_range_from_times,
}
