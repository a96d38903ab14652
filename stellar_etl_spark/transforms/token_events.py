"""Token-transfer EVENT DERIVATION from classic operations (reference:
internal/transform/token_transfer.go:14-35, delegating to stellar/go's
``token_transfer.EventsProcessor`` — the classic-operation → event rules
re-expressed Spark-first).

Covered classification (the kinds transform_token_transfer consumes,
token_transfer.go:47-76):

- ``create_account`` (type 0): native ``transfer`` funder → new account of
  the starting balance.
- ``payment`` (type 1): ``transfer`` source → destination — EXCEPT when an
  asset moves from its own issuer (supply enters circulation → ``mint`` to
  the destination) or back to its issuer (supply leaves → ``burn`` from the
  source).  The issuer's balance in its own asset is notional, so the
  processor emits mint/burn, not transfer.
- ``account_merge`` (type 8): native ``transfer`` of the merged balance
  (the operation result's sweep amount) source → destination.
- ``clawback`` (type 19): ``clawback`` removing the amount from the held
  account.
- per-transaction ``fee`` event: the fee account pays the network
  (no operation index — operation_id stays null downstream).

Each event carries the asset's SAC contract id — sha256 of the
HashIDPreimage (ENVELOPE_TYPE_CONTRACT_ID ‖ network id ‖ FROM_ASSET ‖
asset XDR) — the same derivation transform_contract_data verifies
(contract_data.go:283-297), so classic and Soroban movements join on one
id space.

Output schema == CONTRACT_EVENTS_DDL, i.e. directly consumable by
``transform_token_transfer``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.strkey import (
    strkey_contract_udf,
    strkey_payload_udf,
)
from stellar_etl_spark.transforms.changes import (
    PUBLIC_PASSPHRASE,
    _asset_contract_id,
)

# Trade-capable ops: every claimed atom emits a transfer PAIR (seller →
# taker of the asset sold, taker → seller of the asset bought), and path
# payments add the final source → destination transfer.
TRADE_OP_TYPES = (2, 3, 4, 12, 13)

# Operation types that emit classic token-transfer events.
EVENT_OP_TYPES = (0, 1, 8, 19) + TRADE_OP_TYPES


def _canonical_asset(asset: Column) -> Column:
    """'native' or 'TYPE:CODE:ISSUER' — the reference's assetConcat is the
    THREE-part form (getAssetFromEvent, token_transfer.go:132-151), with
    the type recomputed from the code length."""
    typ = F.when(
        F.length(asset["asset_code"]) > 4, F.lit("credit_alphanum12")
    ).otherwise(F.lit("credit_alphanum4"))
    return F.when(asset["asset_type"] == "native", F.lit("native")).otherwise(
        F.concat_ws(":", typ, asset["asset_code"], asset["asset_issuer"])
    )


def _issuer_kind(frm: Column, to: Column, asset: Column) -> Column:
    """EventsProcessor's mintOrBurnOrTransferEvent: an asset moving OUT of
    its issuer enters circulation (mint to the receiver); moving INTO its
    issuer leaves it (burn from the sender); otherwise a plain transfer.
    The issuer's balance in its own asset is notional."""
    issuer = asset["asset_issuer"]
    from_is = issuer.isNotNull() & (issuer == frm)
    to_is = issuer.isNotNull() & (issuer == to)
    return (
        F.when(from_is & ~to_is, F.lit("mint"))
        .when(to_is & ~from_is, F.lit("burn"))
        .otherwise(F.lit("transfer"))
    )


def _sac_id(asset: Column, passphrase: str) -> Column:
    sym = (
        F.when(asset["asset_type"] == "native", F.lit("Native"))
        .when(asset["asset_type"] == "credit_alphanum4", F.lit("AlphaNum4"))
        .otherwise(F.lit("AlphaNum12"))
    )
    issuer_key = strkey_payload_udf(asset["asset_issuer"])
    raw = _asset_contract_id(
        sym, F.coalesce(asset["asset_code"], F.lit("")), issuer_key, passphrase
    )
    return strkey_contract_udf(raw)


def derive_token_transfer_events(
    operations: DataFrame,
    transactions: DataFrame,
    passphrase: str = PUBLIC_PASSPHRASE,
) -> DataFrame:
    """Classic-operation events + per-tx fee events, in the contract-events
    shape ``transform_token_transfer`` consumes.  Op events take the tx
    source, tx hash and close time from the op row, fee events take them
    from the tx row: no join."""
    ops = operations.where(
        F.col("type").isin(*EVENT_OP_TYPES) & F.col("tx_successful")
    )

    body = F.col("body")
    t = F.col("type")
    source = F.coalesce(F.col("source_account"), F.col("tx_source_account"))
    native = F.struct(
        F.lit("native").alias("asset_type"),
        F.lit(None).cast("string").alias("asset_code"),
        F.lit(None).cast("string").alias("asset_issuer"),
    )

    asset = (
        F.when(t == 1, body["asset"])
        .when(t == 19, body["asset"])
        .otherwise(native)
    )
    frm = (
        F.when(t == 0, source)
        .when(t == 1, source)
        .when(t == 8, source)
        .when(t == 19, body["from"])
    )
    to = (
        F.when(t == 0, body["account"])
        .when(t == 1, body["to"])
        .when(t == 8, body["account"])
    )
    amount = (
        F.when(t == 0, body["starting_balance"])
        # account_merge sweeps the result amount; the derived surface
        # carries it in body.source_amount (operation.go result plumbing)
        .when(t == 8, F.coalesce(body["source_amount"], body["amount"]))
        .otherwise(body["amount"])
    )

    # ---- single scan: every op row builds its MOVEMENT ARRAY in-row, then
    # one explode (round-9: replaces the 3-branch union — op events, offer
    # fills, final path payment — that scanned the ops table three times and
    # re-paid the tx broadcast join per branch; rows are identical).
    def _mv(frm_c: Column, to_c: Column, asset_c: Column, amount_c: Column) -> Column:
        return F.struct(
            frm_c.cast("string").alias("mf"),
            to_c.cast("string").alias("mt"),
            F.struct(
                asset_c["asset_type"].alias("asset_type"),
                asset_c["asset_code"].alias("asset_code"),
                asset_c["asset_issuer"].alias("asset_issuer"),
            ).alias("ma"),
            amount_c.cast("long").alias("mv"),
        )

    # offer fills: a transfer PAIR per claimed atom (EventsProcessor trade
    # rules) — seller → taker of the asset the seller sold, then taker →
    # seller of the asset the seller bought.  ALL atoms emit, even 0/0
    # rounding fills (the 0-skip rule is a TRADES-table rule, not a
    # token-event rule — verified against the mainnet goldens).  A null
    # atom list coalesces to no movements, so offer ops that crossed
    # nothing vanish at the explode without an extra filter.
    seller = lambda a: F.coalesce(a["seller_id"], a["pool_id"])  # noqa: E731
    pair_movements = F.coalesce(
        F.flatten(
            F.transform(
                F.col("claim_atoms"),
                lambda a: F.array(
                    _mv(seller(a), source, a["asset_sold"], a["amount_sold"]),
                    _mv(source, seller(a), a["asset_bought"], a["amount_bought"]),
                ),
            )
        ),
        F.array().cast(
            "array<struct<mf:string,mt:string,"
            "ma:struct<asset_type:string,asset_code:string,asset_issuer:string>,"
            "mv:bigint>>"
        ),
    )
    # path payments additionally emit the final source → destination
    # movement of the destination asset (strict receive fixes
    # op.dest_amount; strict send delivers the RESULT amount,
    # silver-enriched into body.amount) — appended after the fills even
    # when the op crossed no offers.
    final_path_movement = _mv(
        source,
        body["to"],
        body["dest_asset"],
        F.when(t == 2, body["dest_amount"]).otherwise(body["amount"]),
    )
    movements = (
        F.when(t.isin(0, 1, 8, 19), F.array(_mv(frm, to, asset, amount)))
        .when(t.isin(2, 13), F.concat(pair_movements, F.array(final_path_movement)))
        .otherwise(pair_movements)
    )

    ev = F.col("_ev")
    # issuer-side classification (EventsProcessor rules): clawback is the
    # op-type special case; everything else is the mint/burn/transfer
    # issuer test on the movement's own endpoints — for payments this is
    # exactly the source/destination comparison (the movement carries
    # them), and native movements (create_account / account_merge) have a
    # NULL issuer, so they always classify as transfer.
    op_events = ops.withColumn("_ev", F.explode(movements)).select(
        F.col("ledger_sequence"),
        F.col("closed_at"),
        F.col("tx_index"),
        F.col("transaction_hash"),
        F.col("tx_successful"),
        F.lit(True).alias("in_successful_contract_call"),
        _sac_id(ev["ma"], passphrase).alias("contract_id"),
        F.lit("contract").alias("event_type"),
        F.array().cast("array<string>").alias("topics"),
        F.array().cast("array<string>").alias("topics_decoded"),
        F.lit(None).cast("string").alias("data"),
        F.lit(None).cast("string").alias("data_decoded"),
        F.lit(None).cast("string").alias("contract_event_xdr"),
        F.when(t == 19, F.lit("clawback"))
        .otherwise(_issuer_kind(ev["mf"], ev["mt"], ev["ma"]))
        .alias("sac_kind"),
        ev["mf"].alias("sac_from"),
        ev["mt"].alias("sac_to"),
        F.lit(None).cast("string").alias("sac_to_muxed"),
        F.lit(None).cast("long").alias("sac_to_muxed_id"),
        ev["mv"].alias("sac_amount"),
        _canonical_asset(ev["ma"]).alias("sac_asset"),
        F.col("op_index").alias("sac_op_index"),
        # derived amounts are native int64 protocol fields — never
        # saturated, unlike decode_contract_events' i128 clamp
        F.lit(False).alias("sac_amount_clamped"),
    )

    fee_events = transactions.where(F.col("fee_charged") > 0).select(
        F.col("ledger_sequence"),
        F.col("closed_at"),
        F.col("tx_index"),
        F.col("transaction_hash"),
        F.lit(True).alias("tx_successful"),
        F.lit(True).alias("in_successful_contract_call"),
        _sac_id(
            F.struct(
                F.lit("native").alias("asset_type"),
                F.lit(None).cast("string").alias("asset_code"),
                F.lit(None).cast("string").alias("asset_issuer"),
            ),
            passphrase,
        ).alias("contract_id"),
        F.lit("contract").alias("event_type"),
        F.array().cast("array<string>").alias("topics"),
        F.array().cast("array<string>").alias("topics_decoded"),
        F.lit(None).cast("string").alias("data"),
        F.lit(None).cast("string").alias("data_decoded"),
        F.lit(None).cast("string").alias("contract_event_xdr"),
        F.lit("fee").alias("sac_kind"),
        F.coalesce(F.col("fee_account"), F.col("source_account")).alias(
            "sac_from"
        ),
        F.lit(None).cast("string").alias("sac_to"),
        F.lit(None).cast("string").alias("sac_to_muxed"),
        F.lit(None).cast("long").alias("sac_to_muxed_id"),
        F.col("fee_charged").cast("long").alias("sac_amount"),
        F.lit("native").alias("sac_asset"),
        F.lit(None).cast("int").alias("sac_op_index"),
        F.lit(False).alias("sac_amount_clamped"),
    )

    return op_events.unionByName(fee_events)
