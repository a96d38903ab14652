"""history_assets sightings (reference: internal/transform/asset.go:14-53).

Every payment/manage-sell-offer op (input/assets.go:42) emits an asset
sighting; the id is FarmHash Fingerprint64(code+issuer+type) cast int64
(asset.go:72-77).  Dedup to first sighting happens downstream (the reference
leaves it to BigQuery; we expose ``first_sighting=True``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.hashes import asset_id
from stellar_etl_spark.functions.toid import toid
from stellar_etl_spark.schemas import ASSET_OP_TYPES


def transform_asset(operations: DataFrame, first_sighting: bool = False) -> DataFrame:
    """One row per asset sighting (or per asset with ``first_sighting``).
    ``closed_at`` (AssetOutput, schema.go:219) is the op row's close time."""
    src = operations.where(F.col("type").isin(*ASSET_OP_TYPES))
    # payment carries body.asset; manage_sell_offer sights the selling asset
    asset = F.when(F.col("type") == 1, F.col("body.asset")).otherwise(
        F.col("body.selling")
    )
    sightings = src.select(
        toid(F.col("ledger_sequence"), F.col("tx_index"), F.col("op_index") + 1).alias(
            "operation_id"
        ),
        F.col("ledger_sequence"),
        F.col("closed_at"),
        asset["asset_type"].alias("asset_type"),
        F.coalesce(asset["asset_code"], F.lit("")).alias("asset_code"),
        F.coalesce(asset["asset_issuer"], F.lit("")).alias("asset_issuer"),
        asset_id(
            F.coalesce(asset["asset_code"], F.lit("")),
            F.coalesce(asset["asset_issuer"], F.lit("")),
            asset["asset_type"],
        ).alias("asset_id"),
    ).where(F.col("asset_type").isNotNull())

    if not first_sighting:
        return sightings
    # min-struct aggregate — map-side combinable, no window sort
    first = sightings.groupBy("asset_id").agg(
        F.min(
            F.struct("ledger_sequence", "operation_id", "asset_type", "asset_code", "asset_issuer")
        ).alias("f")
    )
    return first.select(
        "asset_id",
        F.col("f.asset_type").alias("asset_type"),
        F.col("f.asset_code").alias("asset_code"),
        F.col("f.asset_issuer").alias("asset_issuer"),
        F.col("f.operation_id").alias("first_operation_id"),
        F.col("f.ledger_sequence").alias("first_ledger_sequence"),
    )
