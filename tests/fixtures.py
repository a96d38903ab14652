"""Hand-built fixture rows for the stellar transforms, mirroring the
reference's table-driven test style (internal/transform/*_test.go with shared
values in test_variables_test.go).  Deterministic, tiny, schema-exact
(FIXTURES.md shapes via stellar_etl_spark.schemas DDL)."""

from __future__ import annotations

import datetime as dt

from stellar_etl_spark.schemas import (
    CHANGES_DDL,
    CONTRACT_EVENTS_DDL,
    LEDGERS_DDL,
    OPERATIONS_DDL,
    TRANSACTIONS_DDL,
)

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)

ACCOUNT_A = "GAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"
ACCOUNT_B = "GBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBBB"
ACCOUNT_C = "GCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCCC"

NATIVE = ("native", None, None)
USD = ("credit_alphanum4", "USD", ACCOUNT_B)
EUR = ("credit_alphanum4", "EUR", ACCOUNT_C)


HDR_HIST = "aGRyaGlzdA=="  # b64("hdrhist") — LedgerHeaderHistoryEntry blob


def _closed_at(seq):
    return EPOCH + dt.timedelta(seconds=5 * (seq - 2))


def _protocol(seq):
    return 19 if seq == 4 else 20  # ledger 4 is pre-21 for the fee-bump fix


def _ledger(seq, total_coins=10**12, fee_pool=100):
    """Ledger row; its counts are extractCounts over the fixture's
    transactions of that ledger, as silver computes them."""
    txs = [t for t in _tx_rows() if t["ledger_sequence"] == seq]
    ok = [t for t in txs if t["successful"]]
    return (
        seq,
        f"{seq:064x}",
        f"{seq - 1:064x}",
        "aGVhZGVy",  # b64("header")
        _closed_at(seq),
        total_coins,
        fee_pool,
        100,
        5_000_000,
        1000,
        _protocol(seq),
        0,
        0,
        ACCOUNT_A,
        "c2ln",
        HDR_HIST,
        len(ok),
        len(txs) - len(ok),
        sum(t["operation_count"] for t in ok),
        sum(t["operation_count"] for t in txs),
    )


def ledgers_df(spark):
    rows = [
        _ledger(2),
        _ledger(3),
        _ledger(4),
        _ledger(5, total_coins=-1),  # invalid: dropped / strict-error
    ]
    return spark.createDataFrame(rows, LEDGERS_DDL)


def _tx(seq, idx, successful=True, op_count=1, **kw):
    base = dict(
        ledger_sequence=seq,
        tx_index=idx,
        transaction_hash=f"{seq:04x}{idx:060x}",
        source_account=ACCOUNT_A,
        source_muxed=None,
        account_sequence=100 + idx,
        max_fee=1000,
        fee_charged=100,
        successful=successful,
        operation_count=op_count,
        memo_type="none",
        memo=None,
        time_bounds_min=None,
        time_bounds_max=None,
        ledger_bounds_min=None,
        ledger_bounds_max=None,
        min_account_sequence=None,
        min_sequence_age=None,
        min_sequence_ledger_gap=None,
        extra_signers=[],
        is_fee_bump=False,
        fee_account=None,
        fee_account_muxed=None,
        inner_transaction_hash=None,
        new_max_fee=None,
        has_soroban=False,
        resource_fee=None,
        soroban_resources_instructions=None,
        soroban_resources_read_bytes=None,
        soroban_resources_write_bytes=None,
        fee_refund=None,
        fee_nonrefundable=None,
        fee_refundable=None,
        rent_fee=None,
        result_code="TransactionResultCodeTxSuccess",
        tx_signers=[],
        tx_envelope="ZW52",
        tx_result="cmVz",
        tx_meta="bWV0YQ==",
        tx_fee_meta="ZmVl",
        tx_ledger_history=HDR_HIST,
        closed_at=_closed_at(seq),
        protocol_version=_protocol(seq),
    )
    base.update(kw)
    return base


def _tx_rows():
    return [
        _tx(2, 1, memo_type="text", memo="hello"),
        _tx(2, 2, successful=False, op_count=2),
        _tx(2, 3, time_bounds_min=10, time_bounds_max=0),  # unbounded max
        _tx(3, 1, time_bounds_min=5, time_bounds_max=50, ledger_bounds_min=2,
            ledger_bounds_max=9),
        _tx(3, 2, memo_type="none", memo="SHOULD_BE_CLEARED"),
        _tx(3, 3, time_bounds_min=90, time_bounds_max=10),  # invalid bounds
        # protocol<21 fee-bump + soroban: fee recompute (transaction.go:185-190)
        _tx(4, 1, is_fee_bump=True, fee_account=ACCOUNT_B,
            inner_transaction_hash="ab" * 32, new_max_fee=5000,
            has_soroban=True, resource_fee=900, fee_refund=150,
            soroban_resources_instructions=7, soroban_resources_read_bytes=11,
            soroban_resources_write_bytes=13, fee_charged=999),
    ]


def transactions_df(spark):
    return spark.createDataFrame(_tx_rows(), TRANSACTIONS_DDL)


def _body(**kw):
    """Sparse body struct as a name-keyed dict (unset fields → null).

    createDataFrame maps dict keys to struct field names, so fixture rows no
    longer depend on the DDL's field order.
    """
    if "from_" in kw:
        kw["from"] = kw.pop("from_")
    return kw


def _op(seq, tx, op, type_, body, successful=True, source=None, atoms=None,
        changes=None, result_offer_id=None):
    """Operation row; its tx and ledger context matches ``_tx``/``_ledger``
    (every fixture transaction's source is ACCOUNT_A)."""
    return (
        seq,
        tx,
        op,
        type_,
        source,
        None,
        successful,
        f"{seq:04x}{tx:060x}",
        ACCOUNT_A,
        _closed_at(seq),
        "OperationResultCodeOpInner",
        "success",
        result_offer_id,
        body,
        atoms or [],
        changes or [],
    )


def _change(change_type, pre_offer=None, post_sponsor=None, pool_fee=None,
            pre_sponsor=None, account=None, entry_type=None, pre=None,
            post=None):
    """Per-op ledger-entry change.  Legacy kwargs cover the offer-price /
    sponsor cases; `entry_type`/`pre`/`post` dicts express the full
    change-driven effect surface (effects.go:225-399)."""
    if pre is None and (pre_offer or pool_fee or pre_sponsor):
        po = pre_offer or (None, None, None)
        pre = {"offer_id": po[0], "price_n": po[1], "price_d": po[2],
               "pool_fee": pool_fee, "sponsor": pre_sponsor,
               "account_id": account}
    if post is None:
        if post_sponsor:
            post = {"sponsor": post_sponsor, "account_id": account}
        elif pool_fee is not None:
            # LP trade updates the pool entry — pre AND post exist, so the
            # change must not read as a liquidity_pool_removed transition
            post = {"pool_fee": pool_fee}
    if entry_type is None:
        if pre_offer:
            entry_type = "offer"
        elif pool_fee is not None:
            entry_type = "liquidity_pool"
        else:
            entry_type = "account"
    return (change_type, entry_type, pre, post)


def operations_df(spark):
    rows = [
        # payment A→B of 15 USD (type 1)
        _op(2, 1, 0, 1, _body(from_=ACCOUNT_A, to=ACCOUNT_B, asset=USD,
                              amount=150_000_000)),
        # payment native, op-level source override
        _op(2, 1, 1, 1, _body(from_=ACCOUNT_C, to=ACCOUNT_A, asset=NATIVE,
                              amount=5_000_000), source=ACCOUNT_C),
        # create_account (type 0)
        _op(2, 3, 0, 0, _body(account=ACCOUNT_C, starting_balance=20_000_000)),
        # manage_sell_offer (type 3) with a trade: two claim atoms, one 0/0
        _op(
            3, 1, 0, 3,
            _body(offer_id=77, selling=USD, buying=NATIVE, price_n=1, price_d=2,
                  amount=100_000_000),
            atoms=[
                ("offer", ACCOUNT_B, 42, None, USD, 60_000_000, NATIVE, 30_000_000),
                ("offer", ACCOUNT_B, 42, None, USD, 0, NATIVE, 0),  # skipped
            ],
            changes=[_change(1, pre_offer=(42, 1, 2)),
                     _change(1, post_sponsor=ACCOUNT_C)],
        ),
        # path_payment_strict_send (type 13) LP trade
        _op(
            3, 2, 0, 13,
            _body(from_=ACCOUNT_A, to=ACCOUNT_B, send_asset=USD,
                  send_max=10_000_000, dest_asset=NATIVE, dest_amount=9_000_000,
                  asset=NATIVE, amount=9_000_000),
            atoms=[("lp", None, None, "POOL1", USD, 10_000_000, NATIVE, 9_000_000)],
            changes=[_change(1, pool_fee=30)],
        ),
        # change_trust create (type 6)
        _op(3, 1, 1, 6, _body(line=EUR, limit=500_000_000)),
        # change_trust remove
        _op(3, 1, 2, 6, _body(line=EUR, limit=0)),
        # set_options: thresholds + signer add + flags (type 5)
        _op(3, 2, 1, 5, _body(master_weight=1, low_threshold=1, med_threshold=2,
                              high_threshold=3, signer_key=ACCOUNT_B,
                              signer_weight=10, set_flags=[2, 1],
                              clear_flags=[8])),
        # account_merge (type 8)
        _op(4, 1, 0, 8, _body(to=ACCOUNT_B, amount=70_000_000)),
        # manage_data create (type 10)
        _op(4, 1, 1, 10, _body(data_name="k", data_value="djE=")),
        # bump_sequence (type 11)
        _op(4, 1, 2, 11, _body(bump_to=999)),
        # create_claimable_balance with 2 claimants (type 14)
        _op(4, 1, 3, 14, _body(balance_id="00bal", amount=30_000_000,
                               claimants=[(ACCOUNT_B, "{}"), (ACCOUNT_C, "{}")])),
        # revoke_sponsorship (type 18): changes drive updated + removed
        _op(4, 2, 0, 18, _body(sponsored_id=ACCOUNT_C),
            changes=[_change(1, pre_sponsor=ACCOUNT_B, post_sponsor=ACCOUNT_C,
                             account=ACCOUNT_A),
                     _change(1, pre_sponsor=ACCOUNT_C, account=ACCOUNT_B)]),
        # trade op on FAILED tx — must emit no trades/effects
        _op(
            3, 3, 0, 3,
            _body(offer_id=90, selling=USD, buying=NATIVE, price_n=1, price_d=1,
                  amount=1),
            successful=False,
            atoms=[("offer", ACCOUNT_B, 90, None, USD, 1, NATIVE, 1)],
        ),
    ]
    return spark.createDataFrame(rows, OPERATIONS_DDL)


from stellar_etl_spark.schemas import ENTRY_FIELD_NAMES as _ENTRY_FIELDS


def _entry(**kw):
    fields = dict.fromkeys(_ENTRY_FIELDS)
    fields.update(kw)
    return tuple(fields[k] for k in _ENTRY_FIELDS)


def _chrow(seq, entry_type, change_type, idx, key, pre=None, post=None,
           sponsor=None):
    return (
        seq,
        _closed_at(seq),
        entry_type,
        change_type,
        idx,
        key,
        seq,
        sponsor,
        pre,
        post,
    )


ACCOUNT_ENTRY = _entry(
    account_id=ACCOUNT_A,
    balance=250_000_000,
    seq_num=12345,
    num_subentries=2,
    flags=1,
    home_domain="example.com",
    thresholds=[1, 0, 2, 3],
    signers=[(ACCOUNT_B, 20, None), (ACCOUNT_C, 5, ACCOUNT_B)],
    liabilities=(10_000_000, 5_000_000),
    num_sponsored=0,
    num_sponsoring=1,
)


def changes_df(spark):
    rows = [
        # account updated (signers present, sorted check)
        _chrow(2, "account", 1, 0, "acctA", post=ACCOUNT_ENTRY),
        # account removed → pre + deleted
        _chrow(3, "account", 2, 0, "acctB",
               pre=_entry(account_id=ACCOUNT_B, balance=1_000_000, seq_num=1,
                          num_subentries=0, flags=0, thresholds=[1, 0, 0, 0],
                          signers=[], liabilities=(0, 0))),
        # trustline with asset
        _chrow(2, "trustline", 0, 1, "tlA",
               post=_entry(account_id=ACCOUNT_A, asset=USD, balance=70_000_000,
                           limit=1_000_000_000, flags=1, liabilities=(0, 0))),
        # pool-share trustline (pool_id set)
        _chrow(2, "trustline", 1, 2, "tlB",
               post=_entry(account_id=ACCOUNT_B, pool_id="POOL1",
                           balance=30_000_000, limit=900_000_000, flags=1,
                           liabilities=(0, 0))),
        # offer
        _chrow(3, "offer", 0, 0, "off1",
               post=_entry(seller_id=ACCOUNT_B, offer_id=42, selling=USD,
                           buying=NATIVE, amount=80_000_000, price_n=1,
                           price_d=4, flags=0)),
        # liquidity pool
        _chrow(3, "liquidity_pool", 1, 1, "lp1",
               post=_entry(pool_id="POOL1", fee=30, trustline_count=2,
                           total_shares=50_000_000, asset_a=USD,
                           reserve_a=100_000_000, asset_b=NATIVE,
                           reserve_b=200_000_000)),
        # claimable balance
        _chrow(3, "claimable_balance", 0, 2, "cb1",
               post=_entry(balance_id="00bal", asset=USD, amount=30_000_000,
                           claimants=[(ACCOUNT_B, "{}")], flags=0)),
        # contract data (one nonce row that must be dropped)
        _chrow(4, "contract_data", 0, 0, "cd1",
               post=_entry(contract_id="C1", key_type="ScValTypeScvSymbol",
                           durability="persistent", key_xdr="a2V5",
                           val_xdr="dmFs")),
        _chrow(4, "contract_data", 0, 1, "cd2",
               post=_entry(contract_id="C1",
                           key_type="ScValTypeScvLedgerKeyNonce",
                           durability="temporary", key_xdr="bm9uY2U=",
                           val_xdr="MA==")),
        # contract code
        _chrow(4, "contract_code", 0, 2, "cc1",
               post=_entry(code_hash="ff" * 32, n_instructions=100,
                           n_functions=5, n_globals=2,
                           n_data_segment_bytes=64)),
        # ttl
        _chrow(4, "ttl", 1, 3, "ttl1",
               post=_entry(key_hash="aa" * 32, live_until_seq=999)),
        # config setting (network parameter update)
        _chrow(4, "config_setting", 1, 4, "cfg1",
               post=_entry(config_setting_id=0, contract_max_size_bytes=65536,
                           ledger_max_instructions=500_000_000,
                           tx_max_instructions=100_000_000,
                           fee_rate_per_instructions_increment=25,
                           bucket_list_target_size_bytes=14_000_000_000)),
    ]
    return spark.createDataFrame(rows, CHANGES_DDL)


def effects_extended_ops_df(spark):
    """Ops exercising the change/result-driven effect families
    (effects.go:197-399, 520-760, 1033-1513): inflation payouts, signer
    diffs + signer sponsorship, change-driven trustlines, LP lifecycle and
    revocation, clawbacks, claims, footprints, per-entry sponsorship."""
    rows = [
        # inflation (type 9): one credited per payout
        _op(6, 1, 0, 9, _body(payouts=[(ACCOUNT_B, 10_000_000),
                                       (ACCOUNT_C, 5_000_000)]),
            source=ACCOUNT_A),
        # set_options (type 5): home domain + inflation dest + change-driven
        # signer diff (A removed, B reweighted, C added) + B's sponsor dropped
        _op(6, 2, 0, 5, _body(home_domain="ex.com", inflation_dest=ACCOUNT_B),
            source=ACCOUNT_A,
            changes=[_change(
                1, entry_type="account",
                pre={"account_id": ACCOUNT_A,
                     "signers": [
                         {"key": ACCOUNT_A, "weight": 1, "sponsor": None},
                         {"key": ACCOUNT_B, "weight": 5, "sponsor": ACCOUNT_C},
                     ]},
                post={"account_id": ACCOUNT_A,
                      "signers": [
                          {"key": ACCOUNT_B, "weight": 7, "sponsor": None},
                          {"key": ACCOUNT_C, "weight": 2, "sponsor": None},
                      ]},
            )]),
        # change_trust pool share (type 6): trustline created via change +
        # liquidity_pool_created entry effect
        _op(6, 3, 0, 6,
            _body(line=("pool_share", None, None), pool_id="PL1",
                  limit=1_000_000_000),
            source=ACCOUNT_A,
            changes=[
                _change(0, entry_type="trustline",
                        post={"account_id": ACCOUNT_A, "pool_id": "PL1"}),
                _change(0, entry_type="liquidity_pool",
                        post={"pool_id": "PL1", "pool_fee": 30,
                              "trustline_count": 1, "total_shares": 0,
                              "asset_a": USD, "reserve_a": 0,
                              "asset_b": NATIVE, "reserve_b": 0}),
            ]),
        # change_trust account-trusts-itself regression: changes exist but no
        # trustline entry → no effects (effects_test.go:2029)
        _op(6, 4, 0, 6, _body(line=EUR, limit=5_000_000), source=ACCOUNT_A,
            changes=[_change(1, entry_type="account",
                             pre={"account_id": ACCOUNT_A},
                             post={"account_id": ACCOUNT_A})]),
        # claim_claimable_balance (type 15)
        _op(6, 5, 0, 15, _body(balance_id="cb1", asset=USD,
                               amount=30_000_000), source=ACCOUNT_B),
        # clawback (type 19): credited(source) THEN debited(from)
        _op(6, 6, 0, 19, _body(from_=ACCOUNT_C, asset=USD, amount=20_000_000),
            source=ACCOUNT_B),
        # clawback_claimable_balance (type 20) + removed CB change
        _op(6, 7, 0, 20, _body(balance_id="cb2"), source=ACCOUNT_B,
            changes=[_change(2, entry_type="claimable_balance",
                             pre={"balance_id": "cb2", "asset": USD,
                                  "amount": 25_000_000})]),
        # allow_trust revoking a pool-share trustline (type 7): CB created for
        # the redeemed reserve + liquidity_pool_revoked
        _op(6, 8, 0, 7, _body(trustor=ACCOUNT_C, authorize=False),
            source=ACCOUNT_B,
            changes=[
                _change(0, entry_type="claimable_balance",
                        post={"balance_id": "cblp", "asset": USD,
                              "amount": 40_000_000,
                              "claimants": [(ACCOUNT_C, "{}")]}),
                _change(1, entry_type="liquidity_pool",
                        pre={"pool_id": "PL9", "total_shares": 1_000_000_000},
                        post={"pool_id": "PL9", "total_shares": 0}),
            ]),
        # liquidity_pool_withdraw (type 23) draining the pool → LP removed
        _op(6, 9, 0, 23, _body(pool_id="PL9", shares=1_000_000_000),
            source=ACCOUNT_A,
            changes=[_change(2, entry_type="liquidity_pool",
                             pre={"pool_id": "PL9",
                                  "total_shares": 1_000_000_000})]),
        # revoke_sponsorship (type 18): per-entry sponsorship families
        _op(6, 10, 0, 18, _body(), source=ACCOUNT_A,
            changes=[
                _change(1, entry_type="trustline",
                        pre={"account_id": ACCOUNT_B, "asset": USD,
                             "sponsor": ACCOUNT_B},
                        post={"account_id": ACCOUNT_B, "asset": USD,
                              "sponsor": ACCOUNT_C}),
                _change(1, entry_type="data",
                        pre={"data_name": "cfg", "sponsor": ACCOUNT_C},
                        post={"data_name": "cfg"}),
                _change(1, entry_type="claimable_balance",
                        pre={"balance_id": "cb9"},
                        post={"balance_id": "cb9", "sponsor": ACCOUNT_B}),
            ]),
        # extend_footprint_ttl (type 25) over two ttl entries
        _op(6, 11, 0, 25, _body(extend_to=500), source=ACCOUNT_A,
            changes=[_change(1, entry_type="ttl", post={"key_hash": "kh1"}),
                     _change(1, entry_type="ttl", post={"key_hash": "kh2"})]),
        # restore_footprint (type 26)
        _op(6, 12, 0, 26, _body(), source=ACCOUNT_A,
            changes=[_change(1, entry_type="ttl", post={"key_hash": "kh3"})]),
    ]
    return spark.createDataFrame(rows, OPERATIONS_DDL)


def operation_details_ops_df(spark):
    """Ops exercising the per-type details surface (operation.go:584-1173):
    revoke-sponsorship ledger-key variants, LP deposit deltas, the
    end-sponsoring back-scan, path serialization, trustline flag names."""
    rows = [
        # revoke_sponsorship over a trustline ledger key
        _op(8, 1, 0, 18,
            _body(revoke={"entry_type": "trustline",
                          "trustline_account_id": ACCOUNT_B,
                          "trustline_asset": USD}),
            source=ACCOUNT_A),
        # revoke_sponsorship of a signer
        _op(8, 1, 1, 18,
            _body(revoke={"entry_type": "signer",
                          "signer_account_id": ACCOUNT_A,
                          "signer_key": ACCOUNT_B}),
            source=ACCOUNT_A),
        # begin_sponsoring (op 0) then end_sponsoring by the sponsored account
        # (op 1) — the back-scan resolves begin_sponsor (operation.go:533-553)
        _op(8, 2, 0, 16, _body(sponsored_id=ACCOUNT_C), source=ACCOUNT_B),
        _op(8, 2, 1, 17, _body(), source=ACCOUNT_C),
        # liquidity_pool_deposit with a realized LP delta
        _op(8, 3, 0, 22,
            _body(pool_id="PLD", max_amount_a=150_000_000,
                  max_amount_b=300_000_000, min_price_n=1, min_price_d=2,
                  max_price_n=2, max_price_d=1),
            source=ACCOUNT_A,
            changes=[_change(
                1, entry_type="liquidity_pool",
                pre={"pool_id": "PLD", "asset_a": USD, "asset_b": NATIVE,
                     "reserve_a": 100_000_000, "reserve_b": 200_000_000,
                     "total_shares": 50_000_000},
                post={"pool_id": "PLD", "asset_a": USD, "asset_b": NATIVE,
                      "reserve_a": 200_000_000, "reserve_b": 400_000_000,
                      "total_shares": 100_000_000},
            )]),
        # path_payment_strict_send with a conversion path + result amounts
        _op(8, 4, 0, 13,
            _body(from_=ACCOUNT_A, to=ACCOUNT_B, send_asset=USD,
                  source_amount=10_000_000, dest_asset=NATIVE,
                  amount=9_000_000, dest_min=8_000_000, path=[EUR, NATIVE]),
            source=ACCOUNT_A),
        # set_trust_line_flags uses trustline flag names
        _op(8, 5, 0, 21,
            _body(trustor=ACCOUNT_C, asset=USD, set_flags=[1],
                  clear_flags=[4]),
            source=ACCOUNT_A),
    ]
    return spark.createDataFrame(rows, OPERATIONS_DDL)


def _cev(seq, txi, h, tx_ok, in_ok, event_type, topics, data, kind, frm, to,
         amount, asset, op_index=0, to_muxed=None, to_muxed_id=None):
    return dict(
        ledger_sequence=seq,
        closed_at=_closed_at(seq),
        tx_index=txi,
        transaction_hash=h,
        tx_successful=tx_ok,
        in_successful_contract_call=in_ok,
        contract_id="CCONTRACT1",
        event_type=event_type,
        topics=topics,
        topics_decoded=[f'{{"symbol":"{kind or "diag"}"}}'],
        data=data,
        data_decoded=f'{{"i128":{{"hi":0,"lo":{amount or 0}}}}}',
        contract_event_xdr=None,
        sac_kind=kind,
        sac_from=frm,
        sac_to=to,
        sac_to_muxed=to_muxed,
        sac_to_muxed_id=to_muxed_id,
        sac_amount=amount,
        sac_asset=asset,
        sac_op_index=op_index,
    )


def contract_events_df(spark):
    rows = [
        _cev(5, 1, "e1" * 32, True, True, "contract", ["dG9waWMx"],
             "ZGF0YQ==", "transfer", ACCOUNT_A, ACCOUNT_B, 40_000_000,
             "USD:GB", to_muxed="MMUX1", to_muxed_id=7),
        _cev(5, 1, "e1" * 32, True, True, "diagnostic", ["ZGlhZw=="],
             "eA==", None, None, None, None, None),
        _cev(5, 2, "e2" * 32, True, True, "contract", ["bWludA=="],
             "eQ==", "mint", None, ACCOUNT_C, 10_000_000, "USD:GB"),
        _cev(5, 3, "e3" * 32, False, False, "contract", ["YnVybg=="],
             "eg==", "burn", ACCOUNT_A, None, 5_000_000, "USD:GB"),
    ]
    return spark.createDataFrame(rows, CONTRACT_EVENTS_DDL)


# ---------------------------------------------------------------------------
# SAC (Stellar Asset Contract) contract-data fixtures
# (contract_data.go:191-379 semantics over the columnar decoded model)
# ---------------------------------------------------------------------------

SAC_ISSUER_KEY = bytes(range(32))
SAC_HOLDER = bytes(range(100, 132))
SAC_PASSPHRASE = "Public Global Stellar Network ; September 2015"


def sac_contract_id(asset_xdr: bytes, passphrase: str = SAC_PASSPHRASE) -> bytes:
    """Python mirror of the HashIDPreimage contract-id derivation — an
    independent re-implementation the Spark expression must agree with."""
    import hashlib

    nid = hashlib.sha256(passphrase.encode()).digest()
    pre = bytes([0, 0, 0, 16]) + nid + bytes([0, 0, 0, 1]) + asset_xdr
    return hashlib.sha256(pre).digest()


ALPHANUM4_XDR = (
    bytes([0, 0, 0, 1]) + b"USDC" + bytes([0, 0, 0, 0]) + SAC_ISSUER_KEY
)
NATIVE_XDR = bytes([0, 0, 0, 0])
USDC_CONTRACT_ID = sac_contract_id(ALPHANUM4_XDR)
NATIVE_CONTRACT_ID = sac_contract_id(NATIVE_XDR)


def sac_changes_df(spark):
    inst = "ScValTypeScvLedgerKeyContractInstance"
    rows = [
        # verified AlphaNum4 SAC instance → asset columns emitted
        _chrow(4, "contract_data", 0, 0, "sac1",
               post=_entry(contract_id="CUSDC", key_type=inst,
                           durability="persistent", key_xdr="aQ==",
                           val_xdr="dg==",
                           contract_id_bytes=USDC_CONTRACT_ID,
                           instance_asset=("AlphaNum4", "USDC",
                                           SAC_ISSUER_KEY))),
        # forged: instance claims USDC but the contract id does not match
        # the re-derived one → recognition must fail
        _chrow(4, "contract_data", 0, 1, "sac2",
               post=_entry(contract_id="CFORGE", key_type=inst,
                           durability="persistent", key_xdr="aQ==",
                           val_xdr="dg==",
                           contract_id_bytes=bytes(32),
                           instance_asset=("AlphaNum4", "USDC",
                                           SAC_ISSUER_KEY))),
        # native asset contract
        _chrow(4, "contract_data", 0, 2, "sac3",
               post=_entry(contract_id="CNATIVE", key_type=inst,
                           durability="persistent", key_xdr="aQ==",
                           val_xdr="dg==",
                           contract_id_bytes=NATIVE_CONTRACT_ID,
                           instance_asset=("Native", None, None))),
        # balance entry: [Balance, holder] key + 3-entry i128 value map
        _chrow(4, "contract_data", 1, 3, "sac4",
               post=_entry(contract_id="CUSDC",
                           key_type="ScValTypeScvVec",
                           durability="persistent", key_xdr="Yg==",
                           val_xdr="bQ==",
                           contract_id_bytes=USDC_CONTRACT_ID,
                           balance_key=(True, SAC_HOLDER),
                           val_map=(0, 10_000_000, True, False, 3))),
        # negative i128 hi word → balance must NOT be emitted
        _chrow(4, "contract_data", 1, 4, "sac5",
               post=_entry(contract_id="CUSDC",
                           key_type="ScValTypeScvVec",
                           durability="persistent", key_xdr="Yg==",
                           val_xdr="bQ==",
                           contract_id_bytes=USDC_CONTRACT_ID,
                           balance_key=(True, SAC_HOLDER),
                           val_map=(-1, 5, True, False, 3))),
        # malformed value map (2 entries) → no balance
        _chrow(4, "contract_data", 1, 5, "sac6",
               post=_entry(contract_id="CUSDC",
                           key_type="ScValTypeScvVec",
                           durability="persistent", key_xdr="Yg==",
                           val_xdr="bQ==",
                           contract_id_bytes=USDC_CONTRACT_ID,
                           balance_key=(True, SAC_HOLDER),
                           val_map=(0, 5, True, None, 2))),
        # big balance crossing the 2^64 boundary: hi=2, lo=-1
        # (unsigned lo 2^64-1) → 3 * 2^64 - 1
        _chrow(4, "contract_data", 1, 6, "sac7",
               post=_entry(contract_id="CUSDC",
                           key_type="ScValTypeScvVec",
                           durability="persistent", key_xdr="Yg==",
                           val_xdr="bQ==",
                           contract_id_bytes=USDC_CONTRACT_ID,
                           balance_key=(True, SAC_HOLDER),
                           val_map=(2, -1, True, True, 3))),
    ]
    return spark.createDataFrame(rows, CHANGES_DDL)
