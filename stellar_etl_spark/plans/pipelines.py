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

Ledger entry changes are compacted per ``batch_size``-ledger window (64 by
default), as the reference compacts one ChangeBatch at a time
(input/changes.go:61-64), and each entity is written as one
``batch_id=<window>`` directory per window, the reference's one
``{start}-{end}-{type}`` output per batch (command_utils.go:105-111).  A
write replaces only the windows it holds, so re-exporting a window is
idempotent; ``--stream`` relies on that when it re-exports every window a
micro-batch touches.

Shape notes: a single-table pipeline is one Spark write job; a
multi-table one (orderbooks, ledger entry changes) persists its input and
then writes every table as its own job, all at once (:func:`_write_all`),
so one table's driver-side planning and codegen and the scheduling gaps
between jobs overlap the others' work.  Only the aggregation/explode steps
shuffle (see tests/test_plans.py).  Each export takes one frame and
joins no other: a silver ledger row carries its own tx and op counts, a
transaction row its ledger's close time, protocol and header entry blob,
and an operation row its transaction's hash and source and its ledger's
close time.  The range filter sits on the silver rows; the CLI also filters
bronze on the file-name sequence, so ledgers out of range are read but
never parsed in Python.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.operators.compaction import compact_changes
from stellar_etl_spark.operators.ranges import ledger_range_for_times
from stellar_etl_spark.sources.sinks import export
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


def _write_all(
    frames: dict[str, DataFrame], write: Callable[[str, DataFrame], int]
) -> dict[str, int]:
    """``write(name, df)`` every frame in its own thread, all at once, and
    return ``{name: rows}`` in ``frames`` order.  Each thread inherits the
    caller's Spark local properties, so its jobs keep the caller's job
    group and description (under ``--stream``, the query's own).  Every
    write ends before this returns; a failed one's error is then raised."""
    spark = next(iter(frames.values())).sparkSession
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in frames.items()
        }
    return {name: f.result() for name, f in futures.items()}


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
    """cmd/export_orderbooks.go equivalent: the FNV star schema snapshot.
    The offers are persisted for the duration of the export, so the four
    tables' writes decode each ledger once between them."""
    offers = offers.persist()
    try:
        return _write_all(
            transform_offer_normalized(offers),
            lambda name, df: _sink(df, out_dir, name, fmt, mode=mode),
        )
    finally:
        offers.unpersist()


# Reference default --batch-size (utils/main.go:269): 64 ledgers ≈ 5 min.
DEFAULT_BATCH_LEDGERS = 64


def batch_id_col(
    seq_col: str = "ledger_sequence", batch_size: int = DEFAULT_BATCH_LEDGERS
) -> Column:
    """The ``batch_size``-ledger window a ledger sequence falls in."""
    return (F.col(seq_col) / batch_size).cast("long")


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
) -> dict[str, int]:
    """cmd/export_ledger_entry_changes.go equivalent (SURVEY.md §3.3):
    range → ``batch_size``-ledger windows → per-(window, key) compaction →
    per-entity routing → ``<out_dir>/<entity>/batch_id=<window>/part-*``.

    The whole fan-out is ONE logical plan per entity over a shared compacted
    change log; Spark writes each entity's every window in a single job,
    unlike the reference's sequential per-batch loop, and the entities'
    jobs run concurrently (:func:`_write_all`).  The silver change rows are
    persisted for the duration of the export, so the ledgers are decoded
    once, not once per entity.  ``batch_id`` names the directory and is not
    a column of the rows.  A write replaces only the windows it holds and
    keeps every other window's directory, so exporting a window again
    (``--stream`` re-exports every window a micro-batch touches, from all
    of that window's ledgers) replaces its earlier output; an entity left
    with no rows in that window keeps its earlier directory there.  Each
    entity is one ``<out_dir>/<entity>`` tree, so ``fmt`` is "json" or
    "parquet", not "both".
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
        # a compacted row keeps its window's last change, so its sequence
        # lies inside that window
        return _write_all(
            {
                name: routed[name].withColumn(
                    "batch_id", batch_id_col(batch_size=batch_size)
                )
                for name in names
            },
            lambda name, df: export(
                df, os.path.join(out_dir, name), fmt, partition_by="batch_id"
            ),
        )
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
