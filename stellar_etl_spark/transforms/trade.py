"""history_trades fan-out (reference: internal/transform/trade.go:21-162).

Claim atoms explode 1→N per trade-capable op of a successful tx; the sell
price comes from the LAST change whose pre-state matches the sold offer —
the reference's reverse scan (trade.go:281-304) expressed as an array
``filter`` + ``element_at(-1)`` over the op's co-indexed change array: pure
struct-internal correlation, no join, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.amm import rounding_slippage_udf
from stellar_etl_spark.functions.hashes import asset_id
from stellar_etl_spark.functions.scalars import stroops_to_real
from stellar_etl_spark.functions.strkey import strkey_pool_udf
from stellar_etl_spark.functions.toid import encode_offer_id, toid
from stellar_etl_spark.schemas import TRADE_OP_TYPES


def _aid(asset):
    return asset_id(
        F.coalesce(asset["asset_code"], F.lit("")),
        F.coalesce(asset["asset_issuer"], F.lit("")),
        asset["asset_type"],
    )


def transform_trade(operations: DataFrame) -> DataFrame:
    """One row per claim atom of trade-capable ops in successful txs.

    - gate: op type ∈ {2,3,4,12,13} and tx successful (input/trades.go:89-104,
      trade.go:27-29)
    - 0-sold AND 0-bought atoms are skipped (trade.go:69-72)
    - offer trades: seller price from last matching pre-change offer entry;
      LP trades: pool fee from the pre-change pool entry (trade.go:264-317)
    - synthetic buying offer id when the buyer had no resting offer: TOID-typed
      id with bit 62 set (trade.go:116-120, synt_offer_id.go:28-35)
    - buying account = op source, falling back to the tx source
      (trade.go:122-129); ``ledger_closed_at`` is the op row's close time
    - trade_type 1 orderbook / 2 LP; seller_is_exact true for
      strict-receive, false for strict-send, else null (trade.go:227,243);
      rounding_slippage bips from the CAP-38 payout over the pool's
      pre-change reserves (trade.go:350-399)
    """
    tradable = operations.where(
        F.col("type").isin(*TRADE_OP_TYPES) & F.col("tx_successful")
    )

    # Hoist the per-OP change reductions above the atom explode so the full
    # changes array never rides through Generate: the price scan only needs
    # the pre-change OFFER entries (offer_id, price) and the pool scan only
    # the last pre-change POOL entry — both tiny projections of `changes`.
    chg = F.col("changes")
    offer_pres = F.transform(
        F.filter(chg, lambda c: c["pre"]["offer_id"].isNotNull()),
        lambda c: F.struct(
            c["pre"]["offer_id"].alias("offer_id"),
            c["pre"]["price_n"].alias("price_n"),
            c["pre"]["price_d"].alias("price_d"),
        ),
    )
    pool_pre_full = F.try_element_at(
        F.filter(chg, lambda c: c["pre"]["pool_fee"].isNotNull()), F.lit(-1)
    )["pre"]
    pool_pre_slim = F.struct(
        pool_pre_full["pool_fee"].alias("pool_fee"),
        pool_pre_full["asset_a"].alias("asset_a"),
        pool_pre_full["reserve_a"].alias("reserve_a"),
        pool_pre_full["reserve_b"].alias("reserve_b"),
    )

    exploded = (
        tradable.select(
            "ledger_sequence",
            "tx_index",
            "op_index",
            "type",
            F.col("result_offer_id").alias("_result_offer_id"),
            offer_pres.alias("_offer_pres"),
            pool_pre_slim.alias("_pool_pre"),
            F.coalesce(F.col("source_account"), F.col("tx_source_account")).alias(
                "_buyer"
            ),
            F.col("closed_at").alias("ledger_closed_at"),
            F.posexplode("claim_atoms").alias("order", "atom"),
        )
        .where(~((F.col("atom.amount_sold") == 0) & (F.col("atom.amount_bought") == 0)))
    )

    atom = F.col("atom")
    op_id = toid(F.col("ledger_sequence"), F.col("tx_index"), F.col("op_index") + 1)

    # trade.go:281-304 — reverse scan for the last change whose PRE offer
    # matches this atom's sold offer; its price is the true sell price.
    matching_pre = F.filter(
        F.col("_offer_pres"),
        lambda c: c["offer_id"] == atom["offer_id"],
    )
    last_pre = F.try_element_at(matching_pre, F.lit(-1))
    is_lp = atom["atom_type"] == "lp"

    # trade.go:306-317 — LP fee + reserves from the pool's pre-change entry.
    pool_pre = F.col("_pool_pre")
    pool_fee = pool_pre["pool_fee"]

    # liquidityPoolReserves (trade.go:339-348): the sold-side reserve is
    # reserve_a when the atom sold the pool's asset_a, else reserve_b.
    sold_is_a = atom["asset_sold"].eqNullSafe(pool_pre["asset_a"])
    reserve_sold = F.when(sold_is_a, pool_pre["reserve_a"]).otherwise(
        pool_pre["reserve_b"]
    )
    reserve_deposited = F.when(sold_is_a, pool_pre["reserve_b"]).otherwise(
        pool_pre["reserve_a"]
    )

    price_n = F.when(is_lp, atom["amount_bought"]).otherwise(last_pre["price_n"])
    price_d = F.when(is_lp, atom["amount_sold"]).otherwise(last_pre["price_d"])

    slippage = F.when(
        is_lp & F.col("type").isin(2, 13) & pool_pre["reserve_a"].isNotNull(),
        rounding_slippage_udf(
            F.col("type").cast("int"),
            atom["amount_sold"].cast("long"),
            atom["amount_bought"].cast("long"),
            reserve_sold.cast("long"),
            reserve_deposited.cast("long"),
            pool_fee.cast("long"),
        ),
    )
    seller_is_exact = (
        F.when(F.col("type") == 2, F.lit(True))
        .when(F.col("type") == 13, F.lit(False))
        .cast("boolean")
    )
    pool_id_raw = F.when(is_lp, F.unhex(atom["pool_id"]))

    return exploded.select(
        op_id.alias("history_operation_id"),
        F.col("order"),
        F.col("ledger_closed_at"),
        F.when(~is_lp, atom["seller_id"]).alias("selling_account_address"),
        atom["asset_sold"]["asset_type"].alias("selling_asset_type"),
        atom["asset_sold"]["asset_code"].alias("selling_asset_code"),
        atom["asset_sold"]["asset_issuer"].alias("selling_asset_issuer"),
        _aid(atom["asset_sold"]).alias("selling_asset_id"),
        stroops_to_real(atom["amount_sold"]).alias("selling_amount"),
        F.col("_buyer").alias("buying_account_address"),
        atom["asset_bought"]["asset_type"].alias("buying_asset_type"),
        atom["asset_bought"]["asset_code"].alias("buying_asset_code"),
        atom["asset_bought"]["asset_issuer"].alias("buying_asset_issuer"),
        _aid(atom["asset_bought"]).alias("buying_asset_id"),
        stroops_to_real(atom["amount_bought"]).alias("buying_amount"),
        price_n.cast("long").alias("price_n"),
        price_d.cast("long").alias("price_d"),
        F.when(is_lp, atom["pool_id"]).alias("selling_liquidity_pool_id"),
        F.when(F.length(pool_id_raw) == 32, strkey_pool_udf(pool_id_raw)).alias(
            "selling_liquidity_pool_id_strkey"
        ),
        F.when(is_lp, pool_fee).alias("liquidity_pool_fee"),
        F.when(is_lp, F.lit(2)).otherwise(F.lit(1)).alias("trade_type"),
        slippage.alias("rounding_slippage"),
        seller_is_exact.alias("seller_is_exact"),
        F.when(~is_lp, atom["offer_id"]).alias("selling_offer_id"),
        # real resting-offer id when the result carried one, else the
        # synthetic TOID-typed id (trade.go:116-120)
        F.coalesce(
            F.col("_result_offer_id"), encode_offer_id(op_id, toid_type=True)
        ).alias("buying_offer_id"),
    )
