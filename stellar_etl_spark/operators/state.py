"""Running-state snapshots — the reference's one stateful computation
(StreamOrderbooks, internal/input/orderbooks.go:194-237: maintain the live
orderbook across ledgers, emit a snapshot per checkpoint).

Scale formulation (no per-key iteration, no driver state):

  1. last change per (key, snapshot window)  — one ``max_by`` hash aggregate
  2. validity interval per state: ``[snap, next_snap)`` via ``lead`` over the
     per-key window (bounded partitions — one row per key per active window)
  3. explode ``sequence(valid_from, valid_to)`` — each surviving state fans
     out to exactly the snapshots it covers, so output cost is linear in the
     snapshot table size, never quadratic
  4. tombstones (last change = remove) participate in the fill, masking the
     key until it reappears, then drop out of the final filter
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

REMOVED = 2


def running_snapshots(
    changes: DataFrame,
    key_col: str = "ledger_key",
    seq_col: str = "ledger_sequence",
    idx_col: str = "change_index",
    type_col: str = "change_type",
    snapshot_every: int = 64,
) -> DataFrame:
    """Live state per (snapshot_id, key): cumulative last-state-per-key at
    each snapshot boundary, with removals masking prior state.

    Output: one row per snapshot per key alive at that snapshot, carrying
    every original column of the key's latest change plus ``snapshot_id``.
    """
    snap = (F.col(seq_col) / snapshot_every).cast("long")
    ord_key = F.shiftleft(F.col(seq_col).cast("long"), 20) + F.col(idx_col)
    carry = [c for c in changes.columns if c != key_col]

    # (1) last state per key per snapshot window — map-side combinable.
    # Per-column max_by over the same ordering key (not a struct payload:
    # nested-field pruning through the later window+explode miscompiles).
    last_per_snap = (
        changes.withColumn("snapshot_id", snap)
        .groupBy("snapshot_id", key_col)
        .agg(
            *[F.max_by(F.col(c), ord_key).alias(c) for c in carry],
            F.max_by(F.col(type_col), ord_key).alias("_last_type"),
        )
    )

    # (2) validity interval: this state holds until the key's next change
    w = Window.partitionBy(key_col).orderBy("snapshot_id")
    with_to = last_per_snap.withColumn(
        "_next_snap", F.lead("snapshot_id").over(w)
    )

    # global last snapshot closes open intervals — scalar via broadcast, no
    # collect()
    max_snap = changes.select(snap.alias("s")).agg(F.max("s").alias("_max_snap"))
    with_to = with_to.crossJoin(F.broadcast(max_snap))

    # (3) fan each state out to the snapshots it covers
    covered = with_to.select(
        F.col(key_col),
        *[F.col(c) for c in carry],
        F.col("_last_type"),
        F.explode(
            F.sequence(
                F.col("snapshot_id"),
                F.coalesce(F.col("_next_snap") - 1, F.col("_max_snap")),
            )
        ).alias("snapshot_id"),
    )

    # (4) tombstones masked prior state during the fill; drop them now
    alive = covered.where(F.col("_last_type") != REMOVED)
    return alive.select("snapshot_id", F.col(key_col), *carry)
