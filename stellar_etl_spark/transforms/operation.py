"""history_operations projection (reference: internal/transform/operation.go:
30-101 and the 27-case details switch, operation.go:584-1173).

The details map becomes a sparse typed struct (prunable) plus a compact
``details_json`` twin (the parquet converter's JSON form,
parquet_converter.go:19-25).  Per-type logic is a ``when`` chain over the
co-indexed body struct — all JVM expressions, one narrow projection.
Sponsor resolution scans the op's own change array (operation.go:296-358) via
``filter`` + ``element_at`` — correlation without a join.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stellar_etl_spark.functions.hashes import asset_id
from stellar_etl_spark.functions.scalars import (
    price_rounded7,
    price_to_float,
    stroops_to_real,
)
from stellar_etl_spark.functions.toid import toid
from stellar_etl_spark.schemas import OPERATION_TYPE_NAMES


def op_type_string(type_col: Column) -> Column:
    """Type int → canonical name (operation.go:103-166)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in OPERATION_TYPE_NAMES.items() for x in kv]
    )
    return mapping[type_col]


def _asset_cols(asset: Column, prefix: str) -> list[Column]:
    """Flatten an asset struct into code/issuer/type/id columns, the way the
    reference's details maps spell them: ``formatPrefix`` yields BARE
    ``asset_type``/``asset_code``/... for the empty prefix
    (operation.go:360-407)."""
    p = f"{prefix}_" if prefix else ""
    is_native = asset["asset_type"] == "native"
    return [
        F.when(~is_native, asset["asset_code"]).alias(f"{p}asset_code"),
        F.when(~is_native, asset["asset_issuer"]).alias(f"{p}asset_issuer"),
        asset["asset_type"].alias(f"{p}asset_type"),
        F.when(
            asset["asset_type"].isNotNull(),
            asset_id(
                F.coalesce(asset["asset_code"], F.lit("")),
                F.coalesce(asset["asset_issuer"], F.lit("")),
                asset["asset_type"],
            ),
        ).alias(f"{p}asset_id"),
    ]


# Account authorization flags (operation.go:555-582).
FLAG_NAMES = {
    1: "auth_required",
    2: "auth_revocable",
    4: "auth_immutable",
    8: "auth_clawback_enabled",
}

# Trustline flags use different names (addTrustLineFlagToDetails,
# operation.go:442-466).
TRUSTLINE_FLAG_NAMES = {
    1: "authorized",
    2: "authorized_to_maintain_liabilities",
    4: "clawback_enabled",
}


def flag_strings(flags_col: Column, names: dict[int, str] = FLAG_NAMES) -> Column:
    """int flag array → canonical flag-name array (order by bit value)."""
    mapping = F.create_map(*[F.lit(x) for kv in names.items() for x in kv])
    return F.transform(F.array_sort(flags_col), lambda f: mapping[f])


def _amount_string(col: Column) -> Column:
    """amount.String() twin: stroops → fixed 7-dp decimal string."""
    return (
        col.cast("decimal(20,0)") / F.lit(10_000_000).cast("decimal(8,0)")
    ).cast("decimal(20,7)").cast("string")


def _alias_name(c: Column) -> str:
    """Alias name of a ``col.alias(name)`` column.  ``Alias.toString`` is
    ``<child> AS <name>`` — the outer alias is always the final suffix, and
    every detail field name here is a plain identifier (never containing
    ``" AS "``), so the rsplit is exact.  test_transforms pins the
    extracted names against the built struct's schema so drift is loud."""
    return str(c._jc).rsplit(" AS ", 1)[1]


@lru_cache(maxsize=1)
def _op_exprs() -> tuple[tuple[tuple[str, Column], ...], Column]:
    """((name, aliased column) detail pairs, sponsor) as cached unresolved
    expressions — the ~70-field details switch costs thousands of py4j
    round trips to build; it references only column names, so one instance
    serves every transform_operation call.  Pairs (not a pre-built struct)
    so ``transform_operation(detail_fields=...)`` can assemble a pruned
    struct without re-deriving any expression."""
    body = F.col("body")
    sponsoring = F.filter(
        F.col("changes"), lambda c: c["post"]["sponsor"].isNotNull()
    )
    sponsor = F.try_element_at(sponsoring, F.lit(-1))["post"]["sponsor"]

    op_source = F.coalesce(F.col("source_account"), F.col("tx_source_account"))

    # realized LP deposit/withdraw amounts from the op's liquidity-pool change
    # delta (getLiquidityPoolAndProductDelta, operation.go:238-285)
    lp_change = F.try_element_at(
        F.filter(
            F.col("changes"),
            lambda c: c["entry_type"] == "liquidity_pool",
        ),
        F.lit(1),
    )

    def _lp_delta_cols() -> list[Column]:
        post, pre = lp_change["post"], lp_change["pre"]

        def _delta(field):
            return F.coalesce(post[field], F.lit(0)) - F.coalesce(
                pre[field], F.lit(0)
            )

        lp_asset = F.coalesce(post["asset_a"], pre["asset_a"])
        lp_asset_b = F.coalesce(post["asset_b"], pre["asset_b"])
        is_deposit, is_withdraw = F.col("type") == 22, F.col("type") == 23
        has_lp = lp_change.isNotNull() & F.col("tx_successful")
        return [
            F.when((is_deposit | is_withdraw) & has_lp, lp_asset["asset_type"]).alias(
                "reserve_a_asset_type"
            ),
            F.when((is_deposit | is_withdraw) & has_lp, lp_asset["asset_code"]).alias(
                "reserve_a_asset_code"
            ),
            F.when(
                (is_deposit | is_withdraw) & has_lp, lp_asset_b["asset_type"]
            ).alias("reserve_b_asset_type"),
            F.when(
                (is_deposit | is_withdraw) & has_lp, lp_asset_b["asset_code"]
            ).alias("reserve_b_asset_code"),
            F.when(
                is_deposit & has_lp, stroops_to_real(_delta("reserve_a"))
            ).alias("reserve_a_deposit_amount"),
            F.when(
                is_deposit & has_lp, stroops_to_real(_delta("reserve_b"))
            ).alias("reserve_b_deposit_amount"),
            F.when(
                is_deposit & has_lp, stroops_to_real(_delta("total_shares"))
            ).alias("shares_received"),
            F.when(
                is_withdraw & has_lp, stroops_to_real(-_delta("reserve_a"))
            ).alias("reserve_a_withdraw_amount"),
            F.when(
                is_withdraw & has_lp, stroops_to_real(-_delta("reserve_b"))
            ).alias("reserve_b_withdraw_amount"),
        ]
    matching_begin = F.try_element_at(
        F.filter(
            F.coalesce(
                F.col("_begins"),
                F.array().cast(
                    "array<struct<op_index:int,sponsored_id:string,"
                    "source_account:string>>"
                ),
            ),
            lambda b: (b["op_index"] < F.col("op_index"))
            & (b["sponsored_id"] == op_source),
        ),
        F.lit(-1),
    )
    begin_sponsor = F.when(
        (F.col("type") == 17) & matching_begin.isNotNull(),
        F.coalesce(matching_begin["source_account"], F.col("tx_source_account")),
    )

    t = F.col("type")
    # the account-role details the reference derives from the op SOURCE
    # (addAccountAndMuxedAccountDetails call sites, operation.go:584-900):
    # payments' "from", create_account's "funder", merge's "account",
    # change_trust's "trustor", allow_trust's "trustee", claims' "claimant"
    src_muxed = F.col("source_muxed")
    # the UNPREFIXED asset family — which asset it is depends on the type:
    # payments/trust ops use body.asset / the trust line, path payments the
    # DESTINATION asset (operation.go:615-680, 790-830)
    is_pool_line = (t == 6) & (body["line"]["asset_type"] == "pool_share")
    prim_asset = (
        F.when((t == 6) & ~is_pool_line, body["line"])
        .when(t.isin(2, 13), body["dest_asset"])
        .when(t.isin(1, 7, 19), body["asset"])
    )
    # allow_trust authorize decomposition (operation.go:822-840): the raw
    # TrustLineFlags word when silver provides it, else the legacy boolean
    auth_flags = F.coalesce(
        body["authorize_flags"],
        F.when(body["authorize"], F.lit(1)).otherwise(F.lit(0)),
    )

    st = body["soroban_type"]

    detail_args = [
        F.when(t.isin(1, 2, 13), op_source)
        # create_contract preimage "from": "address" | "asset"
        # (switchContractIdPreimageType, operation.go:2275-2295)
        .when(t == 24, body["preimage_from"])
        .otherwise(body["from"])
        .alias("from"),
        F.when(t.isin(1, 2, 13), src_muxed).alias("from_muxed"),
        F.when(t == 0, op_source).alias("funder"),
        F.when(t == 0, src_muxed).alias("funder_muxed"),
        # merge's destination is "into", not "to" (operation.go:846-852)
        F.when(t != 8, body["to"]).alias("to"),
        body["to_muxed"].alias("to_muxed"),
        F.when(t == 8, F.coalesce(body["account"], body["to"])).alias("into"),
        F.when(t == 2, stroops_to_real(body["dest_amount"]))
        .when(body["amount"].isNotNull(), stroops_to_real(body["amount"]))
        .alias("amount"),
        # failed path-payment-strict-send: the reference leaves the Go
        # amount.String(0) DEFAULT in place — a "0.0000000" STRING in the
        # JSON where success puts a number (operation.go:672-700); the
        # _str twin is spliced into the same key post-to_json
        F.when((t == 13) & body["amount"].isNull(), F.lit("0.0000000")).alias(
            "amount_str"
        ),
        *_asset_cols(prim_asset, ""),
        F.when(
            body["starting_balance"].isNotNull(),
            stroops_to_real(body["starting_balance"]),
        ).alias("starting_balance"),
        F.when(t == 8, op_source).otherwise(body["account"]).alias("account"),
        F.when(t == 8, src_muxed).alias("account_muxed"),
        body["offer_id"].alias("offer_id"),
        *_asset_cols(body["selling"], "selling"),
        *_asset_cols(body["buying"], "buying"),
        # operation-details price is the 7-dp-rounded rational
        # (addPriceDetails parses Price.String()), unlike the offers
        # table's raw float division
        F.when(
            body["price_n"].isNotNull(),
            price_rounded7(body["price_n"], body["price_d"]),
        ).alias("price"),
        F.when(
            body["price_n"].isNotNull(),
            F.struct(body["price_n"].alias("n"), body["price_d"].alias("d")),
        ).alias("price_r"),
        *_asset_cols(body["send_asset"], "source"),
        F.when(body["send_max"].isNotNull(), stroops_to_real(body["send_max"])).alias(
            "source_max"
        ),
        # path-payment result amounts (operation.go:620-700): strict-receive
        # fills source_amount from the result, strict-send fills amount;
        # destination_min is an amount.String() string
        F.when(
            body["source_amount"].isNotNull(), stroops_to_real(body["source_amount"])
        ).alias("source_amount"),
        # failed strict-receive: the Go amount.String(0) default survives as
        # a "0.0000000" STRING (operation.go:630-659) — spliced post-to_json
        F.when(
            (t == 2) & body["source_amount"].isNull(), F.lit("0.0000000")
        ).alias("source_amount_str"),
        F.when(
            body["dest_min"].isNotNull(), _amount_string(body["dest_min"])
        ).alias("destination_min"),
        # transformPath (operation.go:423-440): list of asset detail maps
        F.when(
            F.size(body["path"]) > 0,
            F.transform(
                body["path"],
                lambda a: F.struct(
                    F.when(a["asset_type"] != "native", a["asset_code"]).alias(
                        "asset_code"
                    ),
                    F.when(a["asset_type"] != "native", a["asset_issuer"]).alias(
                        "asset_issuer"
                    ),
                    a["asset_type"].alias("asset_type"),
                ),
            ),
        ).alias("path"),
        # change_trust: trustor = op source, trustee = the line's issuer;
        # allow_trust: trustee = op source (the issuer), trustor from the op
        # (operation.go:800-840)
        F.when(t == 6, op_source).otherwise(body["trustor"]).alias("trustor"),
        F.when(t == 6, src_muxed).alias("trustor_muxed"),
        F.when(t == 7, op_source)
        .when((t == 6) & ~is_pool_line, body["line"]["asset_issuer"])
        .alias("trustee"),
        F.when(t == 7, (auth_flags.bitwiseAND(F.lit(1)) != 0)).otherwise(
            F.when(t != 7, body["authorize"])
        ).alias("authorize"),
        F.when(
            (t == 7) & (auth_flags.bitwiseAND(F.lit(2)) != 0), F.lit(True)
        ).alias("authorize_to_maintain_liabilities"),
        F.when(
            (t == 7) & (auth_flags.bitwiseAND(F.lit(4)) != 0), F.lit(True)
        ).alias("clawback_enabled"),
        F.when(body["limit"].isNotNull(), stroops_to_real(body["limit"])).alias(
            "limit"
        ),
        body["set_flags"].alias("set_flags"),
        F.when(
            body["set_flags"].isNotNull(),
            F.when(
                F.col("type") == 21,
                flag_strings(body["set_flags"], TRUSTLINE_FLAG_NAMES),
            ).otherwise(flag_strings(body["set_flags"])),
        ).alias("set_flags_s"),
        body["clear_flags"].alias("clear_flags"),
        F.when(
            body["clear_flags"].isNotNull(),
            F.when(
                F.col("type") == 21,
                flag_strings(body["clear_flags"], TRUSTLINE_FLAG_NAMES),
            ).otherwise(flag_strings(body["clear_flags"])),
        ).alias("clear_flags_s"),
        body["inflation_dest"].alias("inflation_dest"),
        body["master_weight"].alias("master_key_weight"),
        body["low_threshold"].alias("low_threshold"),
        body["med_threshold"].alias("med_threshold"),
        body["high_threshold"].alias("high_threshold"),
        body["home_domain"].alias("home_domain"),
        body["signer_key"].alias("signer_key"),
        body["signer_weight"].alias("signer_weight"),
        body["data_name"].alias("data_name"),
        body["data_value"].alias("data_value"),
        body["bump_to"].cast("string").alias("bump_to"),
        body["balance_id"].alias("balance_id"),
        # create_claimable_balance carries the CANONICAL asset string
        # (StringCanonical, operation.go:884-887), not the detail columns
        F.when(
            t == 14,
            F.when(
                body["asset"]["asset_type"] == "native", F.lit("native")
            ).otherwise(
                F.concat_ws(
                    ":",
                    body["asset"]["asset_code"],
                    body["asset"]["asset_issuer"],
                )
            ),
        )
        # create_contract from-asset preimage: the canonical asset string
        # (operation.go:2287-2289)
        .when(t == 24, body["preimage_asset"])
        .alias("asset"),
        F.when(t == 15, op_source).alias("claimant"),
        F.when(t == 15, src_muxed).alias("claimant_muxed"),
        body["claimants"].alias("claimants"),
        body["sponsored_id"].alias("sponsored_id"),
        begin_sponsor.alias("begin_sponsor"),
        # revoke_sponsorship ledger-key variants (operation.go:912-921 +
        # addLedgerKeyToDetails 468-508) — one family of keys per entry kind
        body["revoke"]["account_id"].alias("account_id"),
        body["revoke"]["claimable_balance_id"].alias("claimable_balance_id"),
        body["revoke"]["data_account_id"].alias("data_account_id"),
        body["revoke"]["data_name"].alias("revoke_data_name"),
        body["revoke"]["offer_id"].alias("revoke_offer_id"),
        body["revoke"]["trustline_account_id"].alias("trustline_account_id"),
        F.when(
            body["revoke"]["trustline_asset"].isNotNull(),
            F.when(
                body["revoke"]["trustline_asset"]["asset_type"] == "native",
                F.lit("native"),
            ).otherwise(
                F.concat_ws(
                    ":",
                    body["revoke"]["trustline_asset"]["asset_code"],
                    body["revoke"]["trustline_asset"]["asset_issuer"],
                )
            ),
        ).alias("trustline_asset"),
        body["revoke"]["trustline_pool_id"].alias("trustline_liquidity_pool_id"),
        body["revoke"]["signer_account_id"].alias("signer_account_id"),
        body["revoke"]["signer_key"].alias("revoke_signer_key"),
        F.coalesce(body["pool_id"], body["revoke"]["pool_id"]).alias(
            "liquidity_pool_id"
        ),
        body["shares"].alias("shares"),
        # liquidity-pool deposit/withdraw details (operation.go:957-1095):
        # bounds from the op body, realized amounts from the LP change delta
        F.when(
            body["max_amount_a"].isNotNull(), stroops_to_real(body["max_amount_a"])
        ).alias("reserve_a_max_amount"),
        F.when(
            body["max_amount_b"].isNotNull(), stroops_to_real(body["max_amount_b"])
        ).alias("reserve_b_max_amount"),
        F.when(
            body["min_amount_a"].isNotNull(), stroops_to_real(body["min_amount_a"])
        ).alias("reserve_a_min_amount"),
        F.when(
            body["min_amount_b"].isNotNull(), stroops_to_real(body["min_amount_b"])
        ).alias("reserve_b_min_amount"),
        F.when(
            body["min_price_n"].isNotNull(),
            price_rounded7(body["min_price_n"], body["min_price_d"]),
        ).alias("min_price"),
        F.when(
            body["min_price_n"].isNotNull(),
            F.struct(
                body["min_price_n"].alias("n"), body["min_price_d"].alias("d")
            ),
        ).alias("min_price_r"),
        F.when(
            body["max_price_n"].isNotNull(),
            price_rounded7(body["max_price_n"], body["max_price_d"]),
        ).alias("max_price"),
        F.when(
            body["max_price_n"].isNotNull(),
            F.struct(
                body["max_price_n"].alias("n"), body["max_price_d"].alias("d")
            ),
        ).alias("max_price_r"),
        *_lp_delta_cols(),
        body["fn_type"].alias("function"),
        # soroban sub-type: invoke_contract / create_contract[_v2] /
        # upload_wasm / extend_footprint_ttl / restore_footprint
        # (operation.go:1075-1154)
        st.alias("type"),
        # contract_id: the invoked address for invoke_contract
        # (operation.go:1077-1084); the first footprint contract-data key
        # otherwise, EMPTY STRING when absent (operation.go:1808-1824,
        # operation_test.go:1947); upload_wasm carries no contract_id key
        F.when((t == 24) & (st == "invoke_contract"), body["contract_id"])
        .when(
            (t == 24) & st.isin("create_contract", "create_contract_v2"),
            F.coalesce(body["footprint_contract_id"], F.lit("")),
        )
        .when(
            t.isin(25, 26) & st.isNotNull(),
            F.coalesce(body["footprint_contract_id"], F.lit("")),
        )
        .otherwise(body["contract_id"])
        .alias("contract_id"),
        # first footprint contract-code key, "" when absent
        # (operation.go:1841-1857)
        F.when(
            t.isin(24, 25, 26) & st.isNotNull(),
            F.coalesce(body["contract_code_hash"], F.lit("")),
        ).alias("contract_code_hash"),
        body["ledger_key_hash"].alias("ledger_key_hash"),
        # Go marshals the nil hash slice as an explicit null — spliced
        # back to "ledger_key_hash":null post-to_json (the struct field
        # itself would be dropped by ignoreNullFields)
        F.when(
            t.isin(24, 25, 26)
            & st.isNotNull()
            & body["ledger_key_hash"].isNull(),
            F.lit("__NULL__"),
        ).alias("ledger_key_hash_null"),
        body["preimage_address"].alias("address"),
        # serializeParameters' four shapes (operation.go:1087-1088,
        # 2247-2273): arm-name+base64, arm-name+String(), bare base64
        # list, and the xdrjson list (raw JSON via variant)
        F.transform(
            body["params"],
            lambda p: F.struct(
                p["type"].alias("type"), p["value"].alias("value")
            ),
        ).alias("parameters"),
        F.transform(
            body["params"],
            lambda p: F.struct(
                p["type"].alias("type"), p["decoded"].alias("value")
            ),
        ).alias("parameters_decoded"),
        F.transform(body["params"], lambda p: p["value"]).alias(
            "parameters_json"
        ),
        F.transform(body["params"], lambda p: F.parse_json(p["json"])).alias(
            "parameters_json_decoded"
        ),
        # SAC balance changes re-derived from the tx's contract events
        # (operation.go:1093-1097); pre-rendered canonical JSON in silver,
        # embedded raw via variant
        F.parse_json(body["asset_balance_changes"]).alias(
            "asset_balance_changes"
        ),
        body["extend_to"].alias("extend_to"),
    ]

    return tuple((_alias_name(c), c) for c in detail_args), sponsor


def transform_operation(
    operations: DataFrame, detail_fields: list[str] | None = None
) -> DataFrame:
    """One output row per operation.

    - operation id = TOID(ledger, tx, op_index+1) — the +1 offset is the
      reference's (operation.go:32)
    - source account defaults to the tx source when the op has none
      (operation.go:287-294); it, the transaction hash and ``closed_at``
      come from the op row's tx and ledger context
    - sponsor = sponsor of the last change whose post carries one
      (operation.go:296-358 change scan)

    ``detail_fields`` (optimization knob, round-9): callers that consume
    only a subset of the details struct pass the field names they read and
    the struct is assembled from just those pairs.  The full struct's
    unused fields are NOT free to skip via column pruning — Catalyst's
    CollapseProject refuses to inline a struct alias referenced many
    times, so every field (including the four ArrowEvalPython asset-id
    UDFs and the parse_json variants) is otherwise evaluated per row and
    thrown away.  When ``begin_sponsor`` is not requested the begin-ops
    back-scan (a second full scan + shuffle aggregate + join over
    ``operations``) is skipped outright.  Field EXPRESSIONS are identical
    to the default path — only presence changes.  ``details_json`` is
    serialized from the same pruned struct, so callers that read it must
    not pass ``detail_fields``.  Default ``None`` = full struct, exactly
    the pre-round-9 behavior.
    """
    # in-tx back-scan for end_sponsoring_future_reserves: the matching
    # begin op's source (findInitatingBeginSponsoringOp, operation.go:533-553).
    # Begin ops are rare, so the aggregate is tiny.
    # Skipped entirely (second scan + aggregate + join) when the caller's
    # detail_fields excludes begin_sponsor, the only consumer of _begins.
    if detail_fields is None or "begin_sponsor" in detail_fields:
        begin_ops = (
            operations.where(F.col("type") == 16)
            .groupBy("ledger_sequence", "tx_index")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("op_index").alias("op_index"),
                            F.col("body")["sponsored_id"].alias("sponsored_id"),
                            F.col("source_account").alias("source_account"),
                        )
                    )
                ).alias("_begins")
            )
            .withColumnRenamed("ledger_sequence", "_bls")
            .withColumnRenamed("tx_index", "_bti")
        )
        ops = operations.join(
            begin_ops,
            (operations.ledger_sequence == begin_ops._bls)
            & (operations.tx_index == begin_ops._bti),
            "left",
        )
    else:
        ops = operations.withColumn(
            "_begins",
            F.lit(None).cast(
                "array<struct<op_index:int,sponsored_id:string,"
                "source_account:string>>"
            ),
        )
    pairs, sponsor = _op_exprs()
    if detail_fields is not None:
        want = set(detail_fields)
        unknown = want - {n for n, _ in pairs}
        if unknown:
            raise ValueError(
                f"unknown detail_fields: {sorted(unknown)}"
            )
        pairs = tuple(p for p in pairs if p[0] in want)
    details = F.struct(*[c for _, c in pairs])

    return ops.select(
        toid(F.col("ledger_sequence"), F.col("tx_index"), F.col("op_index") + 1).alias(
            "id"
        ),
        toid(F.col("ledger_sequence"), F.col("tx_index"), 0).alias("transaction_id"),
        F.col("transaction_hash"),
        F.col("ledger_sequence"),
        (F.col("op_index") + 1).alias("application_order"),
        F.coalesce(F.col("source_account"), F.col("tx_source_account")).alias(
            "source_account"
        ),
        F.col("source_muxed").alias("source_account_muxed"),
        F.col("type"),
        op_type_string(F.col("type")).alias("type_string"),
        F.col("tx_successful").alias("transaction_successful"),
        F.col("closed_at"),
        # json tags operation_result_code / operation_trace_code
        # (schema.go:140-141)
        F.col("result_code").alias("operation_result_code"),
        F.col("trace_code").alias("operation_trace_code"),
        sponsor.alias("sponsor"),
        details.alias("details"),
        # the *_str twins splice back into their real keys: the reference's
        # details map holds a STRING "0.0000000" where a failed path
        # payment left the Go default, and a number on success — one typed
        # struct field cannot be both, so the string variant rides under a
        # sibling name and is renamed in the serialized JSON (the two are
        # mutually exclusive by construction)
        F.replace(
            F.replace(
                F.replace(
                    F.to_json(details, {"ignoreNullFields": "true"}),
                    F.lit('"source_amount_str":'),
                    F.lit('"source_amount":'),
                ),
                F.lit('"amount_str":'),
                F.lit('"amount":'),
            ),
            # Go marshals the nil footprint hash slice as an explicit null
            F.lit('"ledger_key_hash_null":"__NULL__"'),
            F.lit('"ledger_key_hash":null'),
        ).alias("details_json"),
    )
