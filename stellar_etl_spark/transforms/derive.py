"""Deterministic stellar-shaped inputs derived from the driver tables.

The entity transforms (transforms/{transaction,operation,trade,effects,
changes}.py) consume stellar-shaped rows — tx envelopes, op bodies, claim
atoms, ledger-entry changes.  The driver's correctness gate, however, runs
over the synthetic TPC-H-ish parquet tables.  This module bridges the two:
every function below derives a transform input DataFrame from a driver
table with PURE, SQL-expressible column formulas (modular arithmetic,
concat, md5 — nothing engine-specific), so a DuckDB oracle can re-derive
the same rows and re-state the transform's semantics in ANSI SQL.  That is
what lets the oracle grade the REAL transform code paths (the same
functions production pipelines call), not simplified analogues.

Conventions:
- ``o_orderkey``/``l_orderkey`` → (ledger_sequence, tx_index) injectively:
  ``seq = k div 1024 + 2``, ``tx_index = k mod 1024`` (tx_index < 2^20, so
  TOID packing is collision-free).
- closed_at = 2024-01-01T00:00:00Z + 5 s per sequence.
- an operation row carries its transaction's hash and source and its
  ledger's close time from the same helpers (``tx_hash_of``,
  ``tx_source_of``, ``closed_at_of``) that derived_transactions uses, so
  the op and tx sides agree by construction.
- a transaction row carries its ledger's close time and protocol version
  (``closed_at_of``, ``protocol_of``): protocol_version = 19 + seq mod 4,
  so both pre- and post-21 branches of the fee-bump/soroban fix are
  exercised.

Reference parity targets are cited per derived field family:
transaction.go:20-275, operation.go:30-101/584-1173, trade.go:21-162,
effects.go:401-832, account.go/trustline.go/offer.go/liquidity_pool.go.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPOCH = 1704067200  # 2024-01-01T00:00:00Z

_ASSET_T = "struct<asset_type:string,asset_code:string,asset_issuer:string>"



def _cached_cols(fn):
    """Build-once column tuples.  Every derive expression references only
    input column NAMES (unresolved trees), so the tuple is reusable across
    any DataFrame with those columns — building it costs thousands of py4j
    round trips (~seconds of driver time per query without the cache; the
    same pattern as transforms/effects.py _effects_array_expr)."""
    return lru_cache(maxsize=1)(fn)


def sparse_struct(fields: Sequence[tuple[str, str]], given: dict) -> Column:
    """Fully-typed struct with every field present; unset fields are typed
    nulls.  Keeps derived structs schema-identical to the transform DDLs
    without spelling out 40+ nulls at each call site."""
    cols = []
    for name, typ in fields:
        c = given.get(name)
        col = (
            (c if isinstance(c, Column) else F.lit(c)) if c is not None else F.lit(None)
        )
        cols.append(col.cast(typ).alias(name))
    return F.struct(*cols)


def asset_struct(kind: Column) -> Column:
    """3-way deterministic asset cycle keyed by ``kind`` (any long col):
    0 → native, 1 → alphanum4 USD, 2 → alphanum12 LONGCODE."""
    k = kind % 3
    return F.struct(
        F.when(k == 0, F.lit("native"))
        .when(k == 1, F.lit("credit_alphanum4"))
        .otherwise(F.lit("credit_alphanum12"))
        .alias("asset_type"),
        F.when(k == 1, F.lit("USD"))
        .when(k == 2, F.lit("LONGCODE"))
        .alias("asset_code"),
        F.when(k == 1, F.lit("ISS1")).when(k == 2, F.lit("ISS2")).alias("asset_issuer"),
    ).cast(_ASSET_T)


def seq_of(key: Column) -> Column:
    return (key / 1024).cast("long") + 2


def tx_index_of(key: Column) -> Column:
    return (key % 1024).cast("int")


def tx_hash_of(key: Column) -> Column:
    return F.md5(key.cast("string").cast("binary"))


def tx_source_of(key: Column) -> Column:
    return F.concat(F.lit("GACC"), (key % 997).cast("string"))


def closed_at_of(seq: Column) -> Column:
    return F.timestamp_seconds(F.lit(EPOCH) + seq * 5)


def protocol_of(seq: Column) -> Column:
    return F.lit(19) + seq % 4


def derived_transactions(orders: DataFrame) -> DataFrame:
    """One stellar transaction row per order — see _derived_transactions_cols."""
    return orders.select(*_derived_transactions_cols())


@_cached_cols
def _derived_transactions_cols() -> tuple:
    """One stellar transaction row per order (transaction.go:20-275 input
    surface).  Every branch of transform_transaction is populated:
    memo switch, time/ledger bounds (incl. invalid max<min rows that the
    transform must drop and max==0 unbounded rows), fee-bump and soroban
    field families (set unconditionally — the transform must null them
    when the flag is off), and the pre-21 fee recompute inputs."""
    k = F.col("o_orderkey")
    tb_min = F.when(k % 7 == 0, F.lit(None).cast("long")).otherwise(k % 50)
    tb_max = (
        F.when(k % 7 == 0, F.lit(None).cast("long"))
        .when(k % 5 == 0, F.lit(0))
        .when(k % 11 == 0, (k % 50) - 5)
        .otherwise((k % 50) + 100)
    )
    lb_min = F.when(k % 3 == 0, k % 20)
    lb_max = F.when(k % 3 == 0, F.when(k % 6 == 0, F.lit(0)).otherwise(k % 20 + 30))
    return (
        seq_of(k).alias("ledger_sequence"),
        tx_index_of(k).alias("tx_index"),
        tx_hash_of(k).alias("transaction_hash"),
        tx_source_of(k).alias("source_account"),
        F.when(k % 10 == 0, F.concat(F.lit("MUX"), (k % 997).cast("string"))).alias(
            "source_muxed"
        ),
        F.col("o_custkey").alias("account_sequence"),
        (F.lit(100) + k % 900).alias("max_fee"),
        (F.lit(100) + k % 400).alias("fee_charged"),
        (F.col("o_orderstatus") != "F").alias("successful"),
        (F.lit(1) + k % 5).cast("int").alias("operation_count"),
        F.when(k % 4 == 0, F.lit("none"))
        .when(k % 4 == 1, F.lit("text"))
        .when(k % 4 == 2, F.lit("hash"))
        .otherwise(F.lit("id"))
        .alias("memo_type"),
        F.concat(F.lit("memo-"), (k % 50).cast("string")).alias("memo"),
        tb_min.cast("long").alias("time_bounds_min"),
        tb_max.cast("long").alias("time_bounds_max"),
        lb_min.cast("long").alias("ledger_bounds_min"),
        lb_max.cast("long").alias("ledger_bounds_max"),
        F.when(k % 13 == 0, F.col("o_custkey")).alias("min_account_sequence"),
        F.when(k % 17 == 0, k % 1000).alias("min_sequence_age"),
        F.when(k % 19 == 0, k % 10).alias("min_sequence_ledger_gap"),
        F.array().cast("array<string>").alias("extra_signers"),
        (k % 3 == 0).alias("is_fee_bump"),
        F.concat(F.lit("FEE"), (k % 997).cast("string")).alias("fee_account"),
        F.md5(F.concat(F.lit("inner"), k.cast("string")).cast("binary")).alias(
            "inner_transaction_hash"
        ),
        (F.lit(2) * (F.lit(100) + k % 900)).alias("new_max_fee"),
        (k % 5 == 0).alias("has_soroban"),
        (F.lit(500) + k % 1000).alias("resource_fee"),
        (k % 10000).alias("soroban_resources_instructions"),
        (k % 2048).alias("soroban_resources_read_bytes"),
        (k % 1024).alias("soroban_resources_write_bytes"),
        (k % 100).alias("fee_refund"),
        # the fee-meta sweep equals fee_charged + refund on P21+ semantics
        # (transaction.go:167-169) — keeps the oracle's
        # fee_raw + refund - rfee spelling exact
        (F.lit(100) + k % 400 + k % 100).alias("fee_initial_charged"),
        F.when(
            k % 10 == 0, F.concat(F.lit("FMUX"), (k % 997).cast("string"))
        ).alias("fee_account_muxed"),
        (k % 60).alias("fee_nonrefundable"),
        (k % 40).alias("fee_refundable"),
        (k % 25).alias("rent_fee"),
        F.when(
            F.col("o_orderstatus") != "F",
            F.lit("TransactionResultCodeTxSuccess"),
        )
        .otherwise(F.lit("TransactionResultCodeTxFailed"))
        .alias("result_code"),
        F.array(F.concat(F.lit("GSIG"), (k % 997).cast("string"))).alias(
            "tx_signers"
        ),
        F.lit("ZW52").alias("tx_envelope"),
        F.lit("cmVz").alias("tx_result"),
        F.lit("bWV0YQ==").alias("tx_meta"),
        F.lit("ZmVl").alias("tx_fee_meta"),
        F.lit("aGlzdA==").alias("tx_ledger_history"),
        closed_at_of(seq_of(k)).alias("closed_at"),
        protocol_of(seq_of(k)).alias("protocol_version"),
    )


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------

_BODY_FIELDS: list[tuple[str, str]] = [
    ("from", "string"),
    ("to", "string"),
    ("to_muxed", "string"),
    ("asset", _ASSET_T),
    ("amount", "long"),
    ("starting_balance", "long"),
    ("account", "string"),
    ("offer_id", "long"),
    ("selling", _ASSET_T),
    ("buying", _ASSET_T),
    ("price_n", "int"),
    ("price_d", "int"),
    ("send_asset", _ASSET_T),
    ("send_max", "long"),
    ("dest_asset", _ASSET_T),
    ("dest_amount", "long"),
    ("path", f"array<{_ASSET_T}>"),
    ("line", _ASSET_T),
    ("limit", "long"),
    ("trustor", "string"),
    ("authorize", "boolean"),
    ("authorize_flags", "int"),
    ("set_flags", "array<int>"),
    ("clear_flags", "array<int>"),
    ("master_weight", "int"),
    ("low_threshold", "int"),
    ("med_threshold", "int"),
    ("high_threshold", "int"),
    ("home_domain", "string"),
    ("signer_key", "string"),
    ("signer_weight", "int"),
    ("data_name", "string"),
    ("data_value", "string"),
    ("bump_to", "long"),
    ("balance_id", "string"),
    ("claimants", "array<struct<destination:string,predicate:string>>"),
    ("sponsored_id", "string"),
    ("pool_id", "string"),
    ("max_amount_a", "long"),
    ("max_amount_b", "long"),
    ("min_amount_a", "long"),
    ("min_amount_b", "long"),
    ("shares", "long"),
    ("min_price_n", "int"),
    ("min_price_d", "int"),
    ("max_price_n", "int"),
    ("max_price_d", "int"),
    ("fn_type", "string"),
    ("contract_id", "string"),
    ("extend_to", "long"),
    ("soroban_type", "string"),
    (
        "params",
        "array<struct<type:string,value:string,decoded:string,json:string>>",
    ),
    ("preimage_from", "string"),
    ("preimage_address", "string"),
    ("preimage_asset", "string"),
    ("ledger_key_hash", "array<string>"),
    ("footprint_contract_id", "string"),
    ("contract_code_hash", "string"),
    ("asset_balance_changes", "string"),
    ("inflation_dest", "string"),
    ("payouts", "array<struct<destination:string,amount:long>>"),
    ("dest_min", "long"),
    ("source_amount", "long"),
    (
        "revoke",
        f"""struct<entry_type:string,account_id:string,claimable_balance_id:string,
        data_account_id:string,data_name:string,offer_id:long,
        trustline_account_id:string,trustline_asset:{_ASSET_T},
        trustline_pool_id:string,pool_id:string,
        signer_account_id:string,signer_key:string>""",
    ),
]

_OP_CHANGE_ENTRY_FIELDS: list[tuple[str, str]] = [
    ("offer_id", "long"),
    ("price_n", "int"),
    ("price_d", "int"),
    ("pool_fee", "int"),
    ("sponsor", "string"),
    ("account_id", "string"),
    ("asset", _ASSET_T),
    ("amount", "long"),
    ("data_name", "string"),
    ("balance_id", "string"),
    ("pool_id", "string"),
    ("asset_a", _ASSET_T),
    ("asset_b", _ASSET_T),
    ("reserve_a", "long"),
    ("reserve_b", "long"),
    ("total_shares", "long"),
    ("trustline_count", "long"),
    ("key_hash", "string"),
    ("claimants", "array<struct<destination:string,predicate:string>>"),
    ("signers", "array<struct<key:string,weight:int,sponsor:string>>"),
]


def _op_change(change_type: int, entry_type: str, pre: dict | None, post: dict | None) -> Column:
    null_entry = F.lit(None).cast(
        "struct<"
        + ",".join(f"{n}:{t}" for n, t in _OP_CHANGE_ENTRY_FIELDS)
        + ">"
    )
    return F.struct(
        F.lit(change_type).cast("int").alias("change_type"),
        F.lit(entry_type).alias("entry_type"),
        (
            sparse_struct(_OP_CHANGE_ENTRY_FIELDS, pre) if pre is not None else null_entry
        ).alias("pre"),
        (
            sparse_struct(_OP_CHANGE_ENTRY_FIELDS, post)
            if post is not None
            else null_entry
        ).alias("post"),
    )


_EMPTY_CHANGES = (
    "array<struct<change_type:int,entry_type:string,pre:struct<"
    + ",".join(f"{n}:{t}" for n, t in _OP_CHANGE_ENTRY_FIELDS)
    + ">,post:struct<"
    + ",".join(f"{n}:{t}" for n, t in _OP_CHANGE_ENTRY_FIELDS)
    + ">>>"
)

_ATOM_T = (
    f"struct<atom_type:string,seller_id:string,offer_id:long,pool_id:string,"
    f"asset_sold:{_ASSET_T},amount_sold:long,"
    f"asset_bought:{_ASSET_T},amount_bought:long>"
)


def _op_frame_cols(type_col: Column, source: Column, body: Column,
                   atoms: Column | None = None,
                   changes: Column | None = None) -> tuple:
    k = F.col("l_orderkey")
    return (
        seq_of(k).alias("ledger_sequence"),
        tx_index_of(k).alias("tx_index"),
        F.col("l_linenumber").cast("int").alias("op_index"),
        type_col.cast("int").alias("type"),
        source.alias("source_account"),
        F.lit(None).cast("string").alias("source_muxed"),
        (k % 10 != 0).alias("tx_successful"),
        tx_hash_of(k).alias("transaction_hash"),
        tx_source_of(k).alias("tx_source_account"),
        closed_at_of(seq_of(k)).alias("closed_at"),
        F.lit("OperationResultCodeOpInner").alias("result_code"),
        F.lit("success").alias("trace_code"),
        F.lit(None).cast("long").alias("result_offer_id"),
        body.alias("body"),
        (atoms if atoms is not None else F.array().cast(f"array<{_ATOM_T}>")).alias(
            "claim_atoms"
        ),
        (changes if changes is not None else F.array().cast(_EMPTY_CHANGES)).alias(
            "changes"
        ),
    )


def derived_operations_details(lineitem: DataFrame) -> DataFrame:
    """See _op_details_cols."""
    return lineitem.select(*_op_details_cols())


@_cached_cols
def _op_details_cols() -> tuple:
    """Ops cycling the six most-load-bearing detail families of the 27-type
    switch (operation.go:584-1173): create_account, payment,
    manage_sell_offer, change_trust, manage_data, bump_sequence — body
    fields set ONLY for the owning type (the reference's details maps are
    sparse the same way), plus a change-array sponsor for the
    operation.go:296-358 scan."""
    ln = F.col("l_linenumber").cast("long")
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    t6 = ln % 6
    type_col = (
        F.when(t6 == 0, 0)
        .when(t6 == 1, 1)
        .when(t6 == 2, 3)
        .when(t6 == 3, 6)
        .when(t6 == 4, 10)
        .otherwise(11)
    )
    source = F.when(pk % 3 != 0, F.concat(F.lit("GOP"), sk.cast("string")))
    is_t = lambda v: type_col == v  # noqa: E731
    body = sparse_struct(
        _BODY_FIELDS,
        {
            "from": F.when(is_t(1), F.concat(F.lit("A"), pk.cast("string"))),
            "to": F.when(is_t(1), F.concat(F.lit("B"), sk.cast("string"))),
            "asset": F.when(is_t(1), asset_struct(pk)),
            "amount": F.when(is_t(1) | is_t(3), pk * 100000 + 3),
            "starting_balance": F.when(is_t(0), (pk % 1000) * 10000000 + 5),
            "account": F.when(is_t(0), F.concat(F.lit("ACC"), pk.cast("string"))),
            "offer_id": F.when(is_t(3), pk),
            "selling": F.when(is_t(3), asset_struct(pk)),
            "buying": F.when(is_t(3), asset_struct(pk + 1)),
            "price_n": F.when(is_t(3), (ln % 9) + 1),
            "price_d": F.when(is_t(3), (sk % 7) + 1),
            "line": F.when(is_t(6), asset_struct(pk + 2)),
            "limit": F.when(is_t(6), pk * 10),
            "data_name": F.when(is_t(10), F.concat(F.lit("k"), (sk % 5).cast("string"))),
            "data_value": F.when(is_t(10) & (pk % 2 == 0), F.lit("djE=")),
            "bump_to": F.when(is_t(11), pk + 100),
        },
    )
    changes = (
        F.when(
            sk % 4 == 0,
            F.array(
                _op_change(
                    1,
                    "account",
                    None,
                    {"sponsor": F.concat(F.lit("SPN"), pk.cast("string"))},
                )
            ),
        )
        .when(sk % 4 == 1, F.array(_op_change(1, "account", None, {})))
        .otherwise(F.array().cast(_EMPTY_CHANGES))
        .cast(_EMPTY_CHANGES)
    )
    return _op_frame_cols(type_col, source, body, changes=changes)


def derived_operations_sponsorship(lineitem: DataFrame) -> DataFrame:
    """See _op_sponsorship_cols."""
    return lineitem.where(F.col("l_linenumber") <= 3).select(*_op_sponsorship_cols())


@_cached_cols
def _op_sponsorship_cols() -> tuple:
    """begin/end_sponsoring_future_reserves pairs for the in-tx back-scan
    (findInitatingBeginSponsoringOp, operation.go:533-553): op 1 is the
    begin (sponsored_id = 'END<k>'), later ops are ends whose source
    matches the begin's sponsored_id only for even order keys."""
    k = F.col("l_orderkey")
    ln = F.col("l_linenumber").cast("long")
    type_col = F.when(ln == 1, 16).otherwise(17)
    end_src = F.when(
        (ln == 2) & (k % 2 == 0) | (ln == 3) & (k % 3 == 0),
        F.concat(F.lit("END"), k.cast("string")),
    ).otherwise(F.lit("OTHER"))
    source = F.when(ln == 1, F.concat(F.lit("BEG"), k.cast("string"))).otherwise(
        end_src
    )
    body = sparse_struct(
        _BODY_FIELDS,
        {"sponsored_id": F.when(ln == 1, F.concat(F.lit("END"), k.cast("string")))},
    )
    return _op_frame_cols(type_col, source, body)


def derived_operations_trades(lineitem: DataFrame) -> DataFrame:
    """See _op_trades_cols."""
    return lineitem.select(*_op_trades_cols())


@_cached_cols
def _op_trades_cols() -> tuple:
    """manage_sell_offer ops with claim atoms + pre-change offers for the
    trade fan-out (trade.go:21-162): a filled offer atom, then either a
    0/0 atom (even line numbers — must be skipped, trade.go:69-72) or an
    LP atom (odd).  The change array carries a decoy pre-offer, TWO
    matching pre-offers (last one must win the price scan,
    trade.go:281-304) and the pool-fee pre entry (trade.go:306-317)."""
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    ln = F.col("l_linenumber").cast("long")
    sold = asset_struct(pk)
    bought = asset_struct(pk + 1)
    offer_atom = F.struct(
        F.lit("offer").alias("atom_type"),
        F.concat(F.lit("SELLER"), sk.cast("string")).alias("seller_id"),
        pk.alias("offer_id"),
        F.lit(None).cast("string").alias("pool_id"),
        sold.alias("asset_sold"),
        (F.col("l_quantity").cast("long") * 1000000 + 1).alias("amount_sold"),
        bought.alias("asset_bought"),
        ((pk % 1000 + 1) * 500000).alias("amount_bought"),
    ).cast(_ATOM_T)
    zero_atom = F.struct(
        F.lit("offer").alias("atom_type"),
        F.concat(F.lit("SELLER"), sk.cast("string")).alias("seller_id"),
        pk.alias("offer_id"),
        F.lit(None).cast("string").alias("pool_id"),
        sold.alias("asset_sold"),
        F.lit(0).cast("long").alias("amount_sold"),
        bought.alias("asset_bought"),
        F.lit(0).cast("long").alias("amount_bought"),
    ).cast(_ATOM_T)
    lp_atom = F.struct(
        F.lit("lp").alias("atom_type"),
        F.lit(None).cast("string").alias("seller_id"),
        F.lit(None).cast("long").alias("offer_id"),
        F.concat(F.lit("POOL"), (sk % 10).cast("string")).alias("pool_id"),
        sold.alias("asset_sold"),
        ((pk % 500 + 1) * 200000).alias("amount_sold"),
        bought.alias("asset_bought"),
        ((pk % 300 + 1) * 100000).alias("amount_bought"),
    ).cast(_ATOM_T)
    atoms = F.when(ln % 2 == 0, F.array(offer_atom, zero_atom)).otherwise(
        F.array(offer_atom, lp_atom)
    )
    changes = F.array(
        _op_change(1, "offer", {"offer_id": pk + 1, "price_n": 99, "price_d": 98}, None),
        _op_change(
            1,
            "offer",
            {"offer_id": pk, "price_n": (ln % 9) + 1, "price_d": (sk % 7) + 2},
            None,
        ),
        _op_change(
            1,
            "offer",
            {"offer_id": pk, "price_n": (ln % 9) + 5, "price_d": (sk % 7) + 3},
            None,
        ),
        _op_change(1, "liquidity_pool", {"pool_fee": 30}, None),
    ).cast(_EMPTY_CHANGES)
    body = sparse_struct(_BODY_FIELDS, {"offer_id": pk})
    return _op_frame_cols(F.lit(3), F.concat(F.lit("G"), sk.cast("string")), body,
                          atoms=atoms, changes=changes)


def derived_operations_effects(lineitem: DataFrame) -> DataFrame:
    """See _op_effects_cols."""
    return lineitem.select(*_op_effects_cols())


@_cached_cols
def _op_effects_cols() -> tuple:
    """Ops cycling the result-driven effect families (effects.go:401-832):
    create_account (3 effects), payment (credited+debited), account_merge
    (debited+credited+removed), inflation (per-payout fan-out),
    manage_data (created vs removed by value presence), bump_sequence."""
    ln = F.col("l_linenumber").cast("long")
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    t6 = ln % 6
    type_col = (
        F.when(t6 == 0, 0)
        .when(t6 == 1, 1)
        .when(t6 == 2, 8)
        .when(t6 == 3, 9)
        .when(t6 == 4, 10)
        .otherwise(11)
    )
    is_t = lambda v: type_col == v  # noqa: E731
    source = F.when(pk % 5 != 0, F.concat(F.lit("GSRC"), sk.cast("string")))
    body = sparse_struct(
        _BODY_FIELDS,
        {
            "account": F.when(is_t(0), F.concat(F.lit("ACC"), pk.cast("string"))),
            "starting_balance": F.when(is_t(0), (pk % 1000) * 10000000 + 5),
            "from": F.when(is_t(1) & (pk % 2 == 0), F.concat(F.lit("A"), pk.cast("string"))),
            "to": F.when(is_t(1) | is_t(8), F.concat(F.lit("B"), sk.cast("string"))),
            "asset": F.when(is_t(1), asset_struct(pk)),
            "amount": F.when(is_t(1) | is_t(8), pk * 100000 + 3),
            # account_merge effects read the RESULT's swept balance
            # (sourceAccountBalance) from body.source_amount
            "source_amount": F.when(is_t(8), pk * 100000 + 3),
            "payouts": F.when(
                is_t(9),
                F.array(
                    F.struct(
                        F.concat(F.lit("P1u"), sk.cast("string")).alias("destination"),
                        (pk * 100).alias("amount"),
                    ),
                    F.struct(
                        F.concat(F.lit("P2u"), sk.cast("string")).alias("destination"),
                        (pk * 50 + 1).alias("amount"),
                    ),
                ),
            ),
            "data_name": F.when(is_t(10), F.concat(F.lit("k"), (sk % 5).cast("string"))),
            "data_value": F.when(is_t(10) & (pk % 2 == 0), F.lit("djE=")),
            "bump_to": F.when(is_t(11), pk + 100),
        },
    )
    return _op_frame_cols(type_col, source, body)


# ---------------------------------------------------------------------------
# ledger-entry changes
# ---------------------------------------------------------------------------

# The full shared entry struct from the schema registry — transforms
# address any of its fields, so the derived struct must carry them all.
from stellar_etl_spark.schemas import ENTRY_FIELDS as _CHANGE_ENTRY_FIELDS

_CHANGE_ENTRY_T = (
    "struct<" + ",".join(f"{n}:{t}" for n, t in _CHANGE_ENTRY_FIELDS) + ">"
)


def derived_changes(events: DataFrame) -> DataFrame:
    """See _derived_changes_cols.  A change row needs a KEY — events with
    NULL user_id cannot synthesize one (oracle twins filter identically)."""
    return events.where(F.col("user_id").isNotNull()).select(
        *_derived_changes_cols()
    )


@_cached_cols
def _derived_changes_cols() -> tuple:
    """Ledger-entry change rows cycling the four state-entity families
    (account / trustline / offer / liquidity_pool) with created / updated /
    removed change types.  Removed rows carry only ``pre`` — whose
    balance-ish fields differ from post by +1 so the oracle can prove
    extract_entry_from_change picks the right side (utils/main.go:836-845).
    Account entries carry a 3-signer list for the weight-sorted explode
    (account_signer.go:14-55)."""
    eid, uid = F.col("event_id"), F.col("user_id")
    ent4 = eid % 4
    entity = (
        F.when(ent4 == 0, "account")
        .when(ent4 == 1, "trustline")
        .when(ent4 == 2, "offer")
        .otherwise("liquidity_pool")
    )
    change_type = (eid % 3).cast("int")
    seq = (eid / 500).cast("long") + 2
    tl_pool = (ent4 == 1) & (eid % 5 == 0)

    def entry(bump: int) -> Column:
        b = F.lit(bump)
        return sparse_struct(
            _CHANGE_ENTRY_FIELDS,
            {
                "account_id": F.when(
                    ent4 == 0, F.concat(F.lit("A"), uid.cast("string"))
                ).when(ent4 == 1, F.concat(F.lit("TA"), uid.cast("string"))),
                "balance": F.when(ent4 <= 1, (eid % 1000000000) + b),
                "seq_num": F.when(ent4 == 0, eid),
                "num_subentries": F.when(ent4 == 0, eid % 10),
                "flags": F.when(ent4 <= 2, eid % 16),
                "home_domain": F.when(
                    ent4 == 0,
                    F.concat(F.lit("d"), (uid % 100).cast("string"), F.lit(".com")),
                ),
                "thresholds": F.when(
                    ent4 == 0,
                    F.array(
                        F.lit(1).cast("int"),
                        (eid % 3).cast("int"),
                        F.lit(2).cast("int"),
                        F.lit(3).cast("int"),
                    ),
                ),
                "signers": F.when(
                    ent4 == 0,
                    F.array(
                        F.struct(
                            F.concat(F.lit("K"), (uid % 50).cast("string")).alias("key"),
                            (eid % 7).cast("int").alias("weight"),
                            F.lit(None).cast("string").alias("sponsor"),
                        ),
                        F.struct(
                            F.concat(F.lit("K"), ((uid + 1) % 50).cast("string")).alias(
                                "key"
                            ),
                            (eid % 5).cast("int").alias("weight"),
                            F.concat(F.lit("SS"), uid.cast("string")).alias("sponsor"),
                        ),
                        F.struct(
                            F.concat(F.lit("K"), ((uid + 2) % 50).cast("string")).alias(
                                "key"
                            ),
                            F.lit(3).cast("int").alias("weight"),
                            F.lit(None).cast("string").alias("sponsor"),
                        ),
                    ),
                ),
                "liabilities": F.when(
                    ent4 <= 1,
                    F.struct(
                        (eid % 1000).alias("buying"), (eid % 500).alias("selling")
                    ),
                ),
                "num_sponsored": F.when(ent4 == 0, eid % 4),
                "num_sponsoring": F.when(ent4 == 0, eid % 3),
                "asset": F.when((ent4 == 1) & ~tl_pool, asset_struct(uid % 2 + 1)),
                "limit": F.when(ent4 == 1, (eid % 100000000) + 100),
                "pool_id": F.when(tl_pool, F.concat(F.lit("TLP"), (uid % 10).cast("string"))).when(
                    ent4 == 3, F.concat(F.lit("LP"), (uid % 20).cast("string"))
                ),
                "seller_id": F.when(ent4 == 2, F.concat(F.lit("SEL"), uid.cast("string"))),
                "offer_id": F.when(ent4 == 2, eid),
                "selling": F.when(ent4 == 2, asset_struct(uid)),
                "buying": F.when(ent4 == 2, asset_struct(uid + 1)),
                "amount": F.when(ent4 == 2, (eid % 10000000) + b),
                "price_n": F.when(ent4 == 2, eid % 9 + 1),
                "price_d": F.when(ent4 == 2, eid % 7 + 1),
                "fee": F.when(ent4 == 3, F.lit(30)),
                "trustline_count": F.when(ent4 == 3, eid % 5 + 1),
                "total_shares": F.when(ent4 == 3, eid % 1000000),
                "asset_a": F.when(ent4 == 3, asset_struct(uid % 2 + 1)),
                "reserve_a": F.when(ent4 == 3, (eid % 10000000) + b),
                "asset_b": F.when(ent4 == 3, asset_struct(F.lit(0))),
                "reserve_b": F.when(ent4 == 3, eid % 1000000),
            },
        )

    null_entry = F.lit(None).cast(_CHANGE_ENTRY_T)
    return (
        seq.alias("ledger_sequence"),
        closed_at_of(seq).alias("closed_at"),
        entity.alias("entry_type"),
        change_type.alias("change_type"),
        (eid % 8).cast("int").alias("change_index"),
        F.concat(F.lit("LK"), eid.cast("string")).alias("ledger_key"),
        seq.alias("last_modified_ledger"),
        F.when(eid % 6 == 0, F.concat(F.lit("SP"), uid.cast("string"))).alias("sponsor"),
        F.when(change_type >= 1, entry(1)).otherwise(null_entry).alias("pre"),
        F.when(change_type <= 1, entry(0)).otherwise(null_entry).alias("post"),
    )


def derived_token_ops(lineitem: DataFrame) -> DataFrame:
    """See _token_ops_cols."""
    return lineitem.select(*_token_ops_cols())


@_cached_cols
def _token_ops_cols() -> tuple:
    """Ops cycling the classic token-transfer classification families
    (stellar/go EventsProcessor rules surfaced via transforms/token_events
    .py): create_account, payment (incl. issuer-source → mint and
    issuer-destination → burn rows), account_merge, clawback."""
    k = F.col("l_orderkey")
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    ln = F.col("l_linenumber").cast("long")
    t4 = ln % 4
    type_col = (
        F.when(t4 == 0, F.lit(0))
        .when(t4 == 1, F.lit(1))
        .when(t4 == 2, F.lit(8))
        .otherwise(F.lit(19))
    )
    asset = asset_struct(pk)
    issuer = asset["asset_issuer"]
    # k%9==0 payment rows source from the issuer (mint); k%9==1 pay the
    # issuer back (burn); both only bite for credit assets (issuer non-null)
    source = F.when(
        (t4 == 1) & (k % 9 == 0), issuer
    ).otherwise(tx_source_of(k))
    to = F.when((t4 == 1) & (k % 9 == 1), issuer).otherwise(
        F.concat(F.lit("GBEN"), (pk % 997).cast("string"))
    )
    body = sparse_struct(
        _BODY_FIELDS,
        {
            "to": to,
            "asset": asset,
            "amount": (F.col("l_quantity").cast("long") * 100000 + 7),
            "account": F.concat(F.lit("GNEW"), (sk % 997).cast("string")),
            "starting_balance": pk * 1000 + 1,
            "source_amount": pk * 500 + 3,
            "from": F.concat(F.lit("GHOLD"), (sk % 997).cast("string")),
        },
    )
    return _op_frame_cols(type_col, source, body)


# ---------------------------------------------------------------------------
# soroban / state-entity changes + contract events
# ---------------------------------------------------------------------------


def _hashlib_sac_ids() -> tuple[bytes, list[bytes]]:
    """hashlib-derived asset contract ids for the 71 assets
    derived_soroban_changes can emit (native + TK0-9 x ISS0-6)."""
    import hashlib

    network = hashlib.sha256(
        b"Public Global Stellar Network ; September 2015"
    ).digest()

    def cid(asset_xdr: bytes) -> bytes:
        return hashlib.sha256(
            bytes([0, 0, 0, 16]) + network + bytes([0, 0, 0, 1]) + asset_xdr
        ).digest()

    native = cid(bytes(4))
    alphanum = []
    for c in range(10):
        for i in range(7):
            code = f"TK{c}".encode().ljust(4, b"\x00")
            issuer = hashlib.sha256(f"ISS{i}".encode()).digest()
            alphanum.append(cid(bytes([0, 0, 0, 1]) + code + bytes(4) + issuer))
    return native, alphanum


_SAC_NATIVE_ID, _SAC_ALPHANUM_IDS = _hashlib_sac_ids()


def derived_soroban_changes(events: DataFrame) -> DataFrame:
    """See _soroban_changes_cols.  Keyed-events contract: NULL user_id rows
    cannot synthesize an owner (oracle twins filter identically)."""
    return events.where(F.col("user_id").isNotNull()).select(
        *_soroban_changes_cols()
    )


@_cached_cols
def _soroban_changes_cols() -> tuple:
    """Ledger-entry change rows cycling the five Soroban/state families the
    base :func:`derived_changes` does not cover: claimable_balance /
    contract_data / contract_code / config_setting / ttl
    (claimable_balance.go:24-77, contract_data.go:49-379,
    contract_code.go:12-101, config_setting.go:13-101, ttl.go:12-49).

    Shared modular formulas (lockstep with entity_oracles.py):
    ``ent5 = eid % 5`` picks the family, ``change_type = eid % 3`` (removed
    rows carry pre only, with a ``+1`` bump on one value column so the
    oracle proves extract_entry_from_change picks pre), ``seq = eid//500 +
    2``, ``ledger_key = 'SLK'||eid``.

    contract_data sub-cycle (``sub = eid % 4``):

    - sub 0: SAC ContractInstance whose ``contract_id_bytes`` IS the
      re-derived asset contract id (sha256 HashIDPreimage,
      contract_data.go:283-297) — uid%5==0 rows are Native, the rest
      AlphaNum4 with a 3-char code → the transform must emit the asset
      columns (verified path);
    - sub 1: same instance shape but a FORGED contract id
      (sha256('forged'||eid)) → asset columns must stay null;
    - sub 2: [Balance, holder] entry with a 3-entry i128 value map
      (contract_data.go:306-379); eid%7==0 rows carry a negative hi word
      and eid%11==0 rows a 2-entry map — both must suppress the balance;
    - sub 3: nonce-keyed entry the transform must drop (lines 60-63).
    """
    eid, uid = F.col("event_id"), F.col("user_id")
    ent5 = eid % 5
    entity = (
        F.when(ent5 == 0, "claimable_balance")
        .when(ent5 == 1, "contract_data")
        .when(ent5 == 2, "contract_code")
        .when(ent5 == 3, "config_setting")
        .otherwise("ttl")
    )
    change_type = (eid % 3).cast("int")
    seq = (eid / 500).cast("long") + 2
    sub = eid % 4
    arm = eid % 3

    is_native = uid % 5 == 0
    sym = F.when(is_native, F.lit("Native")).otherwise(F.lit("AlphaNum4"))
    code = F.when(~is_native, F.concat(F.lit("TK"), (uid % 10).cast("string")))
    issuer_key = F.when(
        ~is_native,
        F.unhex(F.sha2(F.concat(F.lit("ISS"), (uid % 7).cast("string")).cast("binary"), 256)),
    )
    # Genuine SAC contract ids precomputed with hashlib (NOT the Spark
    # expression the transform uses) so the transform's JVM-side
    # HashIDPreimage sha256 is verified against an independent
    # implementation: id = sha256(envelope_type(16) || network_id ||
    # FROM_ASSET(1) || asset_xdr) per contract_data.go:283-297.
    genuine_id = F.when(is_native, F.lit(_SAC_NATIVE_ID)).otherwise(
        F.element_at(
            F.array(*[F.lit(b) for b in _SAC_ALPHANUM_IDS]),
            ((uid % 10) * 7 + uid % 7 + 1).cast("int"),
        )
    )
    contract_id_bytes = (
        F.when(sub == 0, genuine_id)
        .when(sub == 1, F.unhex(F.sha2(F.concat(F.lit("forged"), eid.cast("string")).cast("binary"), 256)))
        .otherwise(F.unhex(F.sha2(F.concat(F.lit("CID"), (uid % 13).cast("string")).cast("binary"), 256)))
    )
    key_type = (
        F.when(sub == 3, F.lit("ScValTypeScvLedgerKeyNonce"))
        .when(sub == 2, F.lit("ScValTypeScvVec"))
        .otherwise(F.lit("ScValTypeScvLedgerKeyContractInstance"))
    )

    def entry(bump: int) -> Column:
        b = F.lit(bump)
        return sparse_struct(
            _CHANGE_ENTRY_FIELDS,
            {
                # --- claimable_balance (ent5 == 0) ---
                "balance_id": F.when(
                    ent5 == 0, F.md5(F.concat(F.lit("CB"), eid.cast("string")).cast("binary"))
                ),
                "claimants": F.when(
                    ent5 == 0,
                    F.slice(
                        F.array(*[
                            F.struct(
                                F.concat(F.lit("CLD"), ((uid + i) % 97).cast("string")).alias(
                                    "destination"
                                ),
                                F.lit('{"unconditional":true}').alias("predicate"),
                            )
                            for i in range(3)
                        ]),
                        1,
                        (eid % 3 + 1).cast("int"),
                    ),
                ),
                "asset": F.when(ent5 == 0, asset_struct(uid)),
                "amount": F.when(ent5 == 0, (eid % 1000000000) + b),
                "flags": F.when(ent5 == 0, (eid % 2).cast("int")),
                # --- contract_data (ent5 == 1) ---
                "contract_id_bytes": F.when(ent5 == 1, contract_id_bytes),
                "key_type": F.when(ent5 == 1, key_type),
                "durability": F.when(
                    ent5 == 1,
                    F.when(eid % 2 == 0, F.lit("ContractDataDurabilityPersistent"))
                    .otherwise(F.lit("ContractDataDurabilityTemporary")),
                ),
                "instance_asset": F.when(
                    (ent5 == 1) & (sub <= 1),
                    F.struct(sym.alias("sym"), code.alias("code"), issuer_key.alias("issuer_key")),
                ),
                "balance_key": F.when(
                    (ent5 == 1) & (sub == 2),
                    F.struct(
                        F.lit(True).alias("is_balance"),
                        F.unhex(
                            F.sha2(F.concat(F.lit("HOLD"), uid.cast("string")).cast("binary"), 256)
                        ).alias("holder"),
                    ),
                ),
                "val_map": F.when(
                    (ent5 == 1) & (sub == 2),
                    F.struct(
                        F.when(eid % 7 == 0, F.lit(-1)).otherwise(eid % 1000).cast("long").alias("amount_hi"),
                        ((eid * 31) % 1000000007 + b).cast("long").alias("amount_lo"),
                        (eid % 2 == 0).alias("authorized"),
                        (eid % 3 == 0).alias("clawback"),
                        F.when(eid % 11 == 0, F.lit(2)).otherwise(F.lit(3)).cast("int").alias("n_entries"),
                    ),
                ),
                "key_xdr": F.when(ent5 == 1, F.concat(F.lit("S0V5"), eid.cast("string"))),
                "key_decoded": F.when(
                    ent5 == 1, F.concat(F.lit('{"key":'), eid.cast("string"), F.lit("}"))
                ),
                "val_xdr": F.when(ent5 == 1, F.concat(F.lit("VkFM"), eid.cast("string"))),
                "val_decoded": F.when(
                    ent5 == 1, F.concat(F.lit('{"val":'), eid.cast("string"), F.lit("}"))
                ),
                "contract_data_xdr": F.when(
                    ent5 == 1, F.concat(F.lit("Q0RY"), eid.cast("string"))
                ),
                # --- contract_code (ent5 == 2) ---
                "code_hash": F.when(
                    ent5 == 2, F.md5(F.concat(F.lit("CH"), (uid % 40).cast("string")).cast("binary"))
                ),
                "ext_v": F.when(ent5 == 2, (eid % 2).cast("int")),
                "wasm_b64": F.when(ent5 == 2, F.lit("V0FTTQ==")),
                "n_instructions": F.when((ent5 == 2) & (eid % 2 == 1), eid % 5000 + b),
                "n_functions": F.when((ent5 == 2) & (eid % 2 == 1), eid % 300),
                "n_globals": F.when((ent5 == 2) & (eid % 2 == 1), eid % 50),
                "n_table_entries": F.when((ent5 == 2) & (eid % 2 == 1), eid % 20),
                "n_types": F.when((ent5 == 2) & (eid % 2 == 1), eid % 40),
                "n_data_segments": F.when((ent5 == 2) & (eid % 2 == 1), eid % 10),
                "n_elem_segments": F.when((ent5 == 2) & (eid % 2 == 1), eid % 8),
                "n_imports": F.when((ent5 == 2) & (eid % 2 == 1), eid % 30),
                "n_exports": F.when((ent5 == 2) & (eid % 2 == 1), eid % 25),
                "n_data_segment_bytes": F.when((ent5 == 2) & (eid % 2 == 1), eid % 4096),
                # --- config_setting (ent5 == 3): one union arm per row ---
                "config_setting_id": F.when(
                    ent5 == 3,
                    F.when(arm == 0, F.lit(0)).when(arm == 1, F.lit(6)).otherwise(F.lit(11)).cast("int"),
                ),
                "contract_max_size_bytes": F.when(
                    (ent5 == 3) & (arm == 0), (eid % 65536) + b
                ),
                "contract_cost_params_cpu_insns": F.when(
                    (ent5 == 3) & (arm == 1),
                    F.array(
                        F.concat(F.lit('{"const":'), (eid % 100).cast("string"), F.lit(',"linear":7}')),
                        F.concat(F.lit('{"const":'), (eid % 50).cast("string"), F.lit(',"linear":9}')),
                    ),
                ),
                "bucket_list_size_window": F.when(
                    (ent5 == 3) & (arm == 2),
                    F.array((eid % 1000).cast("long"), (eid % 1000 + 1).cast("long")),
                ),
                # --- ttl (ent5 == 4) ---
                "key_hash": F.when(
                    ent5 == 4, F.md5(F.concat(F.lit("TTL"), eid.cast("string")).cast("binary"))
                ),
                "live_until_seq": F.when(ent5 == 4, seq + eid % 10000 + b),
            },
        )

    null_entry = F.lit(None).cast(_CHANGE_ENTRY_T)
    return (
        seq.alias("ledger_sequence"),
        closed_at_of(seq).alias("closed_at"),
        entity.alias("entry_type"),
        change_type.alias("change_type"),
        (eid % 8).cast("int").alias("change_index"),
        # valid-base64 keys: transform ledger_key_hash cols sha256 the
        # base64-DECODED key bytes (utils.LedgerEntryToLedgerKeyHash)
        F.base64(F.concat(F.lit("SLK"), eid.cast("string")).cast("binary")).alias(
            "ledger_key"
        ),
        seq.alias("last_modified_ledger"),
        F.when(eid % 6 == 0, F.concat(F.lit("SP"), uid.cast("string"))).alias("sponsor"),
        F.when(change_type >= 1, entry(1)).otherwise(null_entry).alias("pre"),
        F.when(change_type <= 1, entry(0)).otherwise(null_entry).alias("post"),
    )


def derived_contract_events(events: DataFrame) -> DataFrame:
    """See _contract_events_cols.  Keyed-events contract: NULL user_id rows
    cannot synthesize an emitter (oracle twins filter identically)."""
    return events.where(F.col("user_id").isNotNull()).select(
        *_contract_events_cols()
    )


@_cached_cols
def _contract_events_cols() -> tuple:
    """Contract-event rows cycling the xdr.ContractEventType triple
    (system / contract / diagnostic) so the contract-vs-diagnostic filter
    (operation.go:1886-1905) provably drops the non-contract kinds, with
    dual topic/data serializations (contract_events.go:128-169)."""
    eid, uid = F.col("event_id"), F.col("user_id")
    seq = (eid / 500).cast("long") + 2
    kind = (
        F.when(eid % 3 == 0, F.lit("system"))
        .when(eid % 3 == 1, F.lit("contract"))
        .otherwise(F.lit("diagnostic"))
    )
    return (
        seq.alias("ledger_sequence"),
        closed_at_of(seq).alias("closed_at"),
        (eid % 1024).cast("int").alias("tx_index"),
        F.md5(F.concat(F.lit("EV"), eid.cast("string")).cast("binary")).alias(
            "transaction_hash"
        ),
        (eid % 10 != 0).alias("tx_successful"),
        (eid % 4 != 0).alias("in_successful_contract_call"),
        F.concat(F.lit("CONTRACT"), (uid % 50).cast("string")).alias("contract_id"),
        kind.alias("event_type"),
        F.slice(
            F.array(
                F.concat(F.lit("dG9w"), (eid % 5).cast("string")),
                F.concat(F.lit("dG9x"), (uid % 7).cast("string")),
                F.lit("dG9y"),
            ),
            1,
            (uid % 3 + 1).cast("int"),
        ).alias("topics"),
        F.slice(
            F.array(
                F.concat(F.lit('{"sym":"t'), (eid % 5).cast("string"), F.lit('"}')),
                F.concat(F.lit('{"sym":"u'), (uid % 7).cast("string"), F.lit('"}')),
                F.lit('{"sym":"v"}'),
            ),
            1,
            (uid % 3 + 1).cast("int"),
        ).alias("topics_decoded"),
        F.concat(F.lit("RFgZ"), eid.cast("string")).alias("data"),
        F.concat(F.lit('{"v":'), eid.cast("string"), F.lit("}")).alias("data_decoded"),
        F.concat(F.lit("RVZY"), eid.cast("string")).alias("contract_event_xdr"),
    )
