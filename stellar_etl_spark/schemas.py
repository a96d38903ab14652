"""Explicit schema registry (no inference anywhere — the reference's schemas
are code-defined Go structs, internal/transform/schema.go:13-657).

DDL strings double as documentation of the FIXTURES.md input shapes; output
schemas are implied by each transform's select list.  Widening conventions
follow the reference's parquet twins (schema_parquet.go): uint32 → long,
timestamps at µs/ms precision, big ints as strings.
"""

from __future__ import annotations

# Asset triple used everywhere (asset.go:72-77): id = farmhash64(code+issuer+type)
ASSET_DDL = "struct<asset_type:string, asset_code:string, asset_issuer:string>"

# One row per ledger.  The four counts are the reference's extractCounts
# (ledger.go:120-153) over the ledger's own transactions, computed by the
# decoder that parses them: no transform aggregates the transactions table.
# A ledger without transactions counts 0, never null.
LEDGERS_DDL = """
    sequence long, ledger_hash string, previous_ledger_hash string,
    ledger_header string, closed_at timestamp, total_coins long, fee_pool long,
    base_fee long, base_reserve long, max_tx_set_size long, protocol_version long,
    soroban_fee_write_1kb long, total_byte_size_of_bucket_list long,
    node_id string, signature string, ledger_header_history string,
    successful_transaction_count long not null,
    failed_transaction_count long not null,
    operation_count long not null, tx_set_operation_count long not null
"""

# One row per transaction.  Each row also carries its ledger's header
# context, as the reference's transaction input carries its
# LedgerHeaderHistoryEntry (transaction.go:20-275, ledger_transaction.go:
# 13-58): the LedgerHeaderHistoryEntry blob, the close time and the
# protocol version.  No transform joins the ledgers table back.
TRANSACTIONS_DDL = """
    ledger_sequence long, tx_index int, transaction_hash string,
    source_account string, source_muxed string, account_sequence long,
    max_fee long, fee_charged long, successful boolean, operation_count int,
    memo_type string, memo string,
    time_bounds_min long, time_bounds_max long,
    ledger_bounds_min long, ledger_bounds_max long,
    min_account_sequence long, min_sequence_age long, min_sequence_ledger_gap long,
    extra_signers array<string>,
    is_fee_bump boolean, fee_account string, fee_account_muxed string,
    inner_transaction_hash string, new_max_fee long,
    has_soroban boolean, resource_fee long, soroban_resources_instructions long,
    soroban_resources_read_bytes long, soroban_resources_write_bytes long,
    fee_refund long, fee_nonrefundable long, fee_refundable long, rent_fee long,
    fee_initial_charged long,
    result_code string, tx_signers array<string>,
    tx_envelope string, tx_result string, tx_meta string, tx_fee_meta string,
    tx_ledger_history string, closed_at timestamp, protocol_version long
"""

# Per-op ledger-entry change view (ingest.Change pre/post pairs scoped to one
# operation).  Sparse across entry types: offer fields feed the trade price
# scan (trade.go:281-304), sponsor/account/asset/data/balance/pool/signers
# feed the change-driven effect builders (effects.go:225-399), key_hash the
# footprint effects (effects.go:1432-1513).
_OP_CHANGE_ENTRY_DDL = f"""struct<
    offer_id:long, price_n:int, price_d:int, pool_fee:int,
    sponsor:string, account_id:string,
    asset:{ASSET_DDL}, amount:long, data_name:string, balance_id:string,
    pool_id:string, asset_a:{ASSET_DDL}, asset_b:{ASSET_DDL},
    reserve_a:long, reserve_b:long, total_shares:long, trustline_count:long,
    key_hash:string,
    claimants:array<struct<destination:string, predicate:string>>,
    signers:array<struct<key:string, weight:int, sponsor:string>>
>"""

# Sparse per-type body struct (operation.go:584-1173 details switch); claim
# atoms + changes ride along for trades/sponsorship (trade.go:21-162).  Each
# row also carries its transaction's hash and source and its ledger's close
# time, as the reference's operation input carries the whole transaction and
# close meta (input/operations.go:58-70): no transform joins them back.
OPERATIONS_DDL = f"""
    ledger_sequence long, tx_index int, op_index int, type int,
    source_account string, source_muxed string, tx_successful boolean,
    transaction_hash string, tx_source_account string, closed_at timestamp,
    result_code string, trace_code string,
    result_offer_id long,
    body struct<
        from:string, to:string, to_muxed:string, asset:{ASSET_DDL},
        amount:long,
        starting_balance:long, account:string,
        offer_id:long, selling:{ASSET_DDL}, buying:{ASSET_DDL},
        price_n:int, price_d:int,
        send_asset:{ASSET_DDL}, send_max:long, dest_asset:{ASSET_DDL},
        dest_amount:long, path:array<{ASSET_DDL}>,
        line:{ASSET_DDL}, limit:long, trustor:string, authorize:boolean,
        authorize_flags:int,
        set_flags:array<int>, clear_flags:array<int>,
        master_weight:int, low_threshold:int, med_threshold:int,
        high_threshold:int, home_domain:string,
        signer_key:string, signer_weight:int,
        data_name:string, data_value:string, bump_to:long,
        balance_id:string, claimants:array<struct<destination:string, predicate:string>>,
        sponsored_id:string,
        pool_id:string, max_amount_a:long, max_amount_b:long,
        min_amount_a:long, min_amount_b:long, shares:long,
        min_price_n:int, min_price_d:int, max_price_n:int, max_price_d:int,
        fn_type:string, contract_id:string, extend_to:long,
        soroban_type:string,
        params:array<struct<type:string, value:string, decoded:string,
                            json:string>>,
        preimage_from:string, preimage_address:string, preimage_asset:string,
        ledger_key_hash:array<string>, footprint_contract_id:string,
        contract_code_hash:string, asset_balance_changes:string,
        inflation_dest:string,
        payouts:array<struct<destination:string, amount:long>>,
        dest_min:long, source_amount:long,
        revoke:struct<
            entry_type:string, account_id:string, claimable_balance_id:string,
            data_account_id:string, data_name:string, offer_id:long,
            trustline_account_id:string, trustline_asset:{ASSET_DDL},
            trustline_pool_id:string, pool_id:string,
            signer_account_id:string, signer_key:string
        >
    >,
    claim_atoms array<struct<
        atom_type:string, seller_id:string, offer_id:long, pool_id:string,
        asset_sold:{ASSET_DDL}, amount_sold:long,
        asset_bought:{ASSET_DDL}, amount_bought:long
    >>,
    changes array<struct<
        change_type:int,
        entry_type:string,
        pre:{_OP_CHANGE_ENTRY_DDL},
        post:{_OP_CHANGE_ENTRY_DDL}
    >>
"""

_SIGNER_DDL = "array<struct<key:string, weight:int, sponsor:string>>"
_LIAB_DDL = "struct<buying:long, selling:long>"

# ConfigSettingOutput scalar params (schema.go:557-606) beyond the id; each
# config entry is one union arm so all others are zero in the output — the
# entry carries whichever the fixture/decoder populated.
CONFIG_SCALAR_FIELDS = (
    "contract_max_size_bytes ledger_max_instructions tx_max_instructions "
    "fee_rate_per_instructions_increment tx_memory_limit "
    "ledger_max_read_ledger_entries ledger_max_read_bytes "
    "ledger_max_write_ledger_entries ledger_max_write_bytes "
    "tx_max_read_ledger_entries tx_max_read_bytes "
    "tx_max_write_ledger_entries tx_max_write_bytes "
    "fee_read_ledger_entry fee_write_ledger_entry fee_read_1kb "
    "bucket_list_target_size_bytes write_fee_1kb_bucket_list_low "
    "write_fee_1kb_bucket_list_high bucket_list_write_fee_growth_factor "
    "fee_historical_1kb tx_max_contract_events_size_bytes "
    "fee_contract_events_1kb ledger_max_txs_size_bytes tx_max_size_bytes "
    "fee_tx_size_1kb contract_data_key_size_bytes "
    "contract_data_entry_size_bytes max_entry_ttl min_temporary_ttl "
    "min_persistent_ttl auto_bump_ledgers persistent_rent_rate_denominator "
    "temp_rent_rate_denominator max_entries_to_archive "
    "bucket_list_size_window_sample_size eviction_scan_size "
    "starting_eviction_scan_level ledger_max_tx_count"
).split()

_CONFIG_SCALARS_DDL = ", ".join(f"{f}:long" for f in CONFIG_SCALAR_FIELDS)

# One entry struct shared by pre/post (reference: the xdr.LedgerEntry union;
# sparse across entry types — only the routed entity's fields are non-null).
_ENTRY_DDL = f"""struct<
    account_id:string, balance:long, seq_num:long, num_subentries:int,
    flags:int, home_domain:string, thresholds:array<int>,
    signers:{_SIGNER_DDL}, liabilities:{_LIAB_DDL},
    num_sponsored:int, num_sponsoring:int,
    inflation_destination:string, seq_ledger:long, seq_time:long,
    asset:{ASSET_DDL}, limit:long, pool_id:string,
    seller_id:string, offer_id:long, selling:{ASSET_DDL}, buying:{ASSET_DDL},
    amount:long, price_n:int, price_d:int,
    fee:int, trustline_count:long, total_shares:long,
    asset_a:{ASSET_DDL}, reserve_a:long, asset_b:{ASSET_DDL}, reserve_b:long,
    balance_id:string, claimants:array<struct<destination:string, predicate:string>>,
    contract_id:string, key_type:string, durability:string,
    key_xdr:string, val_xdr:string, key_decoded:string, val_decoded:string,
    contract_data_xdr:string,
    contract_id_bytes:binary,
    instance_asset:struct<sym:string, code:string, issuer_key:binary>,
    balance_key:struct<is_balance:boolean, holder:binary>,
    val_map:struct<amount_hi:long, amount_lo:long, authorized:boolean,
                   clawback:boolean, n_entries:int>,
    code_hash:string, ext_v:int, wasm_b64:string,
    n_instructions:long, n_functions:long, n_globals:long,
    n_table_entries:long, n_types:long, n_data_segments:long,
    n_elem_segments:long, n_imports:long, n_exports:long,
    n_data_segment_bytes:long,
    key_hash:string, live_until_seq:long,
    config_setting_id:int, {_CONFIG_SCALARS_DDL},
    bucket_list_size_window:array<long>,
    contract_cost_params_cpu_insns:array<string>,
    contract_cost_params_mem_bytes:array<string>
>"""


def _top_level_fields(struct_ddl: str) -> list[tuple[str, str]]:
    """Top-level (name, type) pairs of a struct<...> DDL."""
    body = struct_ddl.strip()
    body = body[body.index("<") + 1 : body.rindex(">")]
    names, depth, token = [], 0, []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append("".join(token))
            token = []
            continue
        token.append(ch)
    names.append("".join(token))
    return [
        tuple(p.strip() for p in n.strip().split(":", 1))
        for n in names
        if n.strip()
    ]


# Ordered (name, type) pairs / names of the shared entry struct — fixtures
# build tuples in this order; derive.py builds sparse structs from it.
ENTRY_FIELDS = _top_level_fields(_ENTRY_DDL)
ENTRY_FIELD_NAMES = [n for n, _ in ENTRY_FIELDS]

CHANGES_DDL = f"""
    ledger_sequence long, closed_at timestamp, entry_type string,
    change_type int, change_index int, ledger_key string,
    last_modified_ledger long, sponsor string,
    pre {_ENTRY_DDL},
    post {_ENTRY_DDL}
"""

CONTRACT_EVENTS_DDL = """
    ledger_sequence long, closed_at timestamp, tx_index int,
    transaction_hash string,
    tx_successful boolean, in_successful_contract_call boolean,
    contract_id string, event_type string,
    topics array<string>, topics_decoded array<string>,
    data string, data_decoded string, contract_event_xdr string,
    sac_kind string, sac_from string, sac_to string,
    sac_to_muxed string, sac_to_muxed_id long,
    sac_amount long, sac_asset string, sac_op_index int,
    sac_amount_clamped boolean
"""

# xdr.ContractEventType discriminants (Stellar-ledger.x): 0 system,
# 1 contract, 2 diagnostic.
CONTRACT_EVENT_TYPES = {"system": 0, "contract": 1, "diagnostic": 2}
CONTRACT_EVENT_TYPE_STRINGS = {
    "system": "ContractEventTypeSystem",
    "contract": "ContractEventTypeContract",
    "diagnostic": "ContractEventTypeDiagnostic",
}

# Operation type strings (operation.go:103-166).
OPERATION_TYPE_NAMES = {
    0: "create_account",
    1: "payment",
    2: "path_payment_strict_receive",
    3: "manage_sell_offer",
    4: "create_passive_sell_offer",
    5: "set_options",
    6: "change_trust",
    7: "allow_trust",
    8: "account_merge",
    9: "inflation",
    10: "manage_data",
    11: "bump_sequence",
    12: "manage_buy_offer",
    13: "path_payment_strict_send",
    14: "create_claimable_balance",
    15: "claim_claimable_balance",
    16: "begin_sponsoring_future_reserves",
    17: "end_sponsoring_future_reserves",
    18: "revoke_sponsorship",
    19: "clawback",
    20: "clawback_claimable_balance",
    21: "set_trust_line_flags",
    22: "liquidity_pool_deposit",
    23: "liquidity_pool_withdraw",
    24: "invoke_host_function",
    25: "extend_footprint_ttl",
    26: "restore_footprint",
}

# The five trade-capable operation types (input/trades.go:89-104).
TRADE_OP_TYPES = (2, 3, 4, 12, 13)

# Payment-ish ops scanned for the assets table (input/assets.go:42).
ASSET_OP_TYPES = (1, 3)
