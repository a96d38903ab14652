"""FULL-PIPELINE mainnet parity: raw reassembled LedgerCloseMeta bytes →
bronze → silver decode → transforms, compared row-by-row against the
reference's golden exports for the same ledgers (cmd/test_utils.go:39-163
goldens; tests/golden_lcm.py rebuilds the wire bytes).

This is the strongest correctness gate in the repo: every byte of input is
mainnet's own, every expected row is the reference's own output, and the
whole distributed pipeline (binaryFile scan → Arrow decode → the effect /
token-transfer expression trees) runs end to end — nothing is mocked.
"""

from __future__ import annotations

import base64
import json
import os

import pytest

from golden_lcm import golden_rows, have_goldens, write_golden_ledger_dir

pytestmark = pytest.mark.skipif(
    not have_goldens(), reason="reference goldens not available"
)


def _details_equal(g, m) -> bool:
    if isinstance(g, dict) and isinstance(m, dict):
        return set(g) == set(m) and all(_details_equal(g[k], m[k]) for k in g)
    if isinstance(g, list) and isinstance(m, list):
        return len(g) == len(m) and all(
            _details_equal(a, b) for a, b in zip(g, m)
        )
    if isinstance(g, float) or isinstance(m, float):
        try:
            return abs(float(g) - float(m)) <= 1e-9 * max(1.0, abs(float(g)))
        except (TypeError, ValueError):
            return False
    return g == m


@pytest.fixture(scope="module")
def silver(spark, tmp_path_factory):
    from stellar_etl_spark.sources.bronze import (
        decode_ledger_files,
        read_ledger_files,
    )
    from stellar_etl_spark.sources.silver import (
        decode_ledgers,
        decode_operations,
        decode_transactions,
    )

    d = str(tmp_path_factory.mktemp("golden_lcm"))
    lcms = write_golden_ledger_dir(d)
    bronze = decode_ledger_files(read_ledger_files(spark, d)).cache()
    return {
        "seqs": set(lcms),
        "transactions": decode_transactions(bronze),
        "operations": decode_operations(bronze),
        "ledgers": decode_ledgers(bronze),
    }


class TestEffectsMainnetParity:
    def test_all_effect_rows_recompute(self, silver):
        """Every effects-golden row whose ledger we can reassemble must be
        produced EXACTLY: id, type, address, muxed address, and the full
        details object (amount strings, trade family fields, allow_trust
        double-emission, flag spellings) — 155 real rows incl. 8-effect
        trade families and path-payment chains."""
        from stellar_etl_spark.transforms.effects import transform_effects

        eff = transform_effects(silver["operations"]).collect()
        mine = {r["id"]: r.asDict() for r in eff}

        golden = {
            row["id"]: row
            for row in golden_rows("effects")
            if row["ledger_sequence"] in silver["seqs"]
        }
        assert len(golden) >= 150

        missing = sorted(k for k in golden if k not in mine)
        assert missing == [], f"effects missing: {missing[:5]}"
        extra = sorted(
            k
            for k, m in mine.items()
            if k not in golden and m["ledger_sequence"] in silver["seqs"]
        )
        assert extra == [], f"unexpected extra effects: {extra[:5]}"

        for k, g in golden.items():
            m = mine[k]
            assert int(g["operation_id"]) == int(m["operation_id"])
            assert g["type"] == m["type"], k
            assert g["type_string"] == m["type_string"], k
            assert g["address"] == m["address"], k
            assert g["address_muxed"] == m["address_muxed"], k
            assert g["closed_at"] == m["closed_at"].strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ), k
            gd = g.get("details") or {}
            md = json.loads(m.get("details") or "{}")
            assert _details_equal(gd, md), (
                f"{k}: golden={json.dumps(gd, sort_keys=True)[:200]} "
                f"mine={json.dumps(md, sort_keys=True)[:200]}"
            )


class TestTransactionsMainnetParity:
    def test_all_transaction_rows_recompute(self, silver):
        """Every shared column of every golden history_transactions row
        (700+) matches: ids, fees, memo enum names, bounds strings,
        signature strkeys, the BARE-result tx_result blob, null-vs-empty
        extra_signers."""
        from stellar_etl_spark.transforms.transaction import (
            transform_transaction,
        )

        out = transform_transaction(silver["transactions"]).collect()
        mine = {int(r["id"]): r.asDict() for r in out}

        n = 0
        for g in golden_rows("transactions"):
            if g["ledger_sequence"] not in silver["seqs"]:
                continue
            k = int(g["id"])
            assert k in mine, k
            m = mine[k]
            for field in sorted(set(g) & set(m)):
                if field in ("closed_at", "created_at"):
                    continue
                gv, mv = g.get(field), m.get(field)
                if isinstance(gv, bool) or isinstance(mv, bool):
                    gv = gv in (True, "true", "True")
                    mv = mv in (True, "true", "True")
                elif isinstance(gv, (int, float)) and mv is not None:
                    mv = type(gv)(mv)
                if gv in ("", None) and mv in ("", None):
                    continue
                assert gv == mv, (k, field, gv, mv)
            n += 1
        assert n >= 700


class TestLedgersMainnetParity:
    def test_all_ledger_rows_recompute(self, silver):
        """The golden history_ledgers rows for the reassembled range match:
        TOID ids, tx/op counts incl. the string-typed tx_set count, pool
        and fee scalars, hex hashes, node id + signature, and the Go
        zero-value defaults for pre-Soroban fields."""
        from stellar_etl_spark.transforms.ledger import transform_ledger

        out = transform_ledger(silver["ledgers"]).collect()
        mine = {r["sequence"]: r.asDict() for r in out}

        n = 0
        for g in golden_rows("ledgers"):
            if g["sequence"] not in mine:
                continue
            m = mine[g["sequence"]]
            for field in sorted(set(g) & set(m)):
                if field == "closed_at":
                    continue
                gv, mv = g.get(field), m.get(field)
                if isinstance(gv, (int, float)) and mv is not None:
                    mv = type(gv)(mv)
                if gv in ("", None) and mv in ("", None):
                    continue
                assert gv == mv, (g["sequence"], field, gv, mv)
            n += 1
        assert n >= 11


class TestOperationsMainnetParity:
    def test_all_operation_rows_recompute(self, silver):
        """Every golden history_operations row (2200+, seven op types incl.
        1900 manage-offer ops and 91 path payments) recomputes exactly:
        ids, type switch, source fallback, result/trace codes, and the full
        details map — bare asset_* keys with FarmHash ids, 7-dp-rounded
        prices, from/funder/trustee account roles, the dual string/number
        source_amount of failed path payments."""
        from stellar_etl_spark.transforms.operation import transform_operation

        out = transform_operation(silver["operations"]).collect()
        mine = {int(r["id"]): r.asDict() for r in out}

        golden = {
            int(row["id"]): row
            for row in golden_rows("operations")
            if row["ledger_sequence"] in silver["seqs"]
        }
        assert len(golden) >= 2200

        missing = sorted(k for k in golden if k not in mine)
        assert missing == [], f"ops missing: {missing[:5]}"

        for k, g in golden.items():
            m = mine[k]
            for field in (
                "type", "type_string", "source_account",
                "operation_result_code", "operation_trace_code",
            ):
                assert g.get(field) == m.get(field), (k, field)
            assert int(g["transaction_id"]) == int(m["transaction_id"])
            gd = g.get("details") or {}
            md = json.loads(m.get("details_json") or "{}")
            assert _details_equal(gd, md), (
                f"{k} {g['type_string']}: "
                f"golden={json.dumps(gd, sort_keys=True)[:200]} "
                f"mine={json.dumps(md, sort_keys=True)[:200]}"
            )


class TestTokenTransfersMainnetParity:
    def test_all_token_transfer_rows_recompute(self, silver):
        """All 728 golden token-transfer rows (650 fee + 78 transfer)
        recompute from the classic-operation event derivation: per-atom
        fill pairs, final path-payment transfers, merges, payments, fees —
        matched on (topic, operation_id, from, to, asset, amount_raw)."""
        from stellar_etl_spark.transforms.token_events import (
            derive_token_transfer_events,
        )
        from stellar_etl_spark.transforms.token_transfer import (
            transform_token_transfer,
        )

        out = transform_token_transfer(
            derive_token_transfer_events(
                silver["operations"], silver["transactions"]
            )
        ).collect()

        def key(topic, op_id, frm, to, asset, amount_raw):
            return (
                topic,
                None if op_id is None else int(op_id),
                frm,
                to,
                asset,
                str(amount_raw),
            )

        mine: dict = {}
        for r in out:
            d = r.asDict()
            k = key(
                d["event_topic"], d["operation_id"], d["from"], d["to"],
                d["asset"], d["amount_raw"],
            )
            mine[k] = mine.get(k, 0) + 1

        golden: dict = {}
        n = 0
        for g in golden_rows("token_transfers"):
            if g["ledger_sequence"] not in silver["seqs"]:
                continue
            k = key(
                g["event_topic"], g["operation_id"], g["from"], g["to"],
                g["asset"], g["amount_raw"],
            )
            golden[k] = golden.get(k, 0) + 1
            n += 1
        assert n >= 700

        gonly = {k: v for k, v in golden.items() if mine.get(k, 0) != v}
        monly = {k: v for k, v in mine.items() if golden.get(k, 0) != v}
        assert gonly == {}, f"golden-only: {list(gonly)[:5]}"
        assert monly == {}, f"mine-only: {list(monly)[:5]}"


class TestTokenTransferSelfVerification:
    def test_events_reconcile_against_balance_deltas(
        self, spark, tmp_path_factory
    ):
        """VerifyEvents twin (token_transfer.go:15-25): on the mainnet
        golden ledgers, the net balance movement implied by the derived
        events must equal the account/trustline balance deltas the change
        stream records — per (ledger, holder, asset), zero mismatches.
        Two independent readings of the same meta bytes: events come from
        the operations/transactions decode, deltas from decode_changes."""
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import (
            decode_changes,
            decode_operations,
            decode_transactions,
        )
        from stellar_etl_spark.transforms.token_events import (
            derive_token_transfer_events,
        )
        from stellar_etl_spark.transforms.token_verify import (
            verify_token_transfers,
        )

        d = str(tmp_path_factory.mktemp("verify_lcm"))
        write_golden_ledger_dir(d)
        bronze = decode_ledger_files(read_ledger_files(spark, d)).cache()
        events = derive_token_transfer_events(
            decode_operations(bronze), decode_transactions(bronze)
        )
        audit = verify_token_transfers(events, decode_changes(bronze)).collect()

        assert len(audit) > 100  # real movement reconciled, not vacuous
        mismatched = [r.asDict() for r in audit if not r.matched]
        assert mismatched == [], f"first mismatches: {mismatched[:5]}"

        # negative control: corrupt every transfer amount by one stroop —
        # the audit must flag mismatches (the check has teeth)
        from pyspark.sql import functions as F

        corrupted = events.withColumn(
            "sac_amount",
            F.when(
                F.col("sac_kind") == "transfer", F.col("sac_amount") + 1
            ).otherwise(F.col("sac_amount")),
        )
        bad = verify_token_transfers(corrupted, decode_changes(bronze))
        assert bad.where(~F.col("matched")).limit(1).count() == 1

    def test_soroban_two_part_asset_and_failed_tx_fee(self, spark):
        """The Soroban-decoded half of the event union carries the two-part
        SEP-41 'CODE:ISSUER' asset form and REAL success flags (unlike the
        classic-derived stream, which stamps them).  The verifier must
        (a) canonicalize the asset to the three-part change-side form and
        (b) keep fee debits of FAILED transactions while dropping their op
        events — else every Soroban SAC transfer touching a classic
        trustline and every failed-tx fee reconciles as a false mismatch."""
        import datetime as dt

        from fixtures import _chrow, _entry

        from stellar_etl_spark.schemas import CHANGES_DDL, CONTRACT_EVENTS_DDL
        from stellar_etl_spark.transforms.token_verify import (
            verify_token_transfers,
        )

        # strkey-length (56-char) classic accounts — the fixture constants
        # are 60 chars and would fail _is_classic_account
        ACCOUNT_A = "G" + "A" * 55
        ACCOUNT_C = "G" + "C" * 55
        issuer = "G" + "B" * 55
        USD = ("credit_alphanum4", "USD", issuer)
        contract = "C" + "D" * 55
        two_part = f"USD:{issuer}"  # Soroban SEP-41 topic form

        def ev(kind, frm, to, amount, asset, tx_ok, in_call, tx_index):
            return (
                5, dt.datetime(2024, 1, 1), tx_index, f"hash{tx_index}",
                tx_ok, in_call, contract, "contract", [], [], None, None,
                None, kind, frm, to, None, None, amount, asset, 0, False,
            )

        events = spark.createDataFrame(
            [
                # Soroban SAC transfer into a classic trustline holder
                ev("transfer", contract, ACCOUNT_A, 100, two_part,
                   True, True, 1),
                # fee debit of a FAILED tx — must still count
                ev("fee", ACCOUNT_C, None, 7, "native", False, False, 2),
                # op events of failed txs / failed calls — must NOT count
                ev("transfer", contract, ACCOUNT_A, 999, two_part,
                   False, False, 3),
                ev("transfer", contract, ACCOUNT_A, 888, two_part,
                   True, False, 4),
            ],
            CONTRACT_EVENTS_DDL,
        )
        changes = spark.createDataFrame(
            [
                _chrow(5, "trustline", 1, 0, "tl",
                       pre=_entry(account_id=ACCOUNT_A, asset=USD,
                                  balance=50, limit=10**9, flags=1,
                                  liabilities=(0, 0)),
                       post=_entry(account_id=ACCOUNT_A, asset=USD,
                                   balance=150, limit=10**9, flags=1,
                                   liabilities=(0, 0))),
                _chrow(5, "account", 1, 1, "acct",
                       pre=_entry(account_id=ACCOUNT_C, balance=1000,
                                  seq_num=1, num_subentries=0, flags=0,
                                  thresholds=[1, 0, 0, 0], signers=[],
                                  liabilities=(0, 0)),
                       post=_entry(account_id=ACCOUNT_C, balance=993,
                                   seq_num=2, num_subentries=0, flags=0,
                                   thresholds=[1, 0, 0, 0], signers=[],
                                   liabilities=(0, 0))),
            ],
            CHANGES_DDL,
        )
        audit = {
            (r.holder, r.asset): r
            for r in verify_token_transfers(events, changes).collect()
        }
        assert len(audit) == 2
        tl = audit[(ACCOUNT_A, f"credit_alphanum4:USD:{issuer}")]
        assert tl.matched and tl.event_net == 100 and tl.balance_delta == 100
        fee = audit[(ACCOUNT_C, "native")]
        assert fee.matched and fee.event_net == -7 and fee.balance_delta == -7

        # classify must apply the SAME gate: the failed-tx fee debit stays
        # in the exported token_transfers table (the reference
        # EventsProcessor emits FeeEvents for failed transactions), while
        # the failed-tx / failed-call op events are dropped — otherwise
        # classify and verify disagree on identical input
        from stellar_etl_spark.transforms.token_transfer import (
            transform_token_transfer,
        )

        rows = transform_token_transfer(events).collect()
        assert {(r.event_type, r["from"], r.amount_raw) for r in rows} == {
            ("transfer", contract, "100"),
            ("fee", ACCOUNT_C, "7"),
        }
        fee_row = next(r for r in rows if r.event_type == "fee")
        assert fee_row.operation_id is None  # fee events are tx-level


class TestTradesGoldenParity:
    @pytest.fixture(scope="class")
    def trade_frames(self, spark, tmp_path_factory):
        from golden_trades import write_trade_ledger_dir

        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import decode_operations

        d = str(tmp_path_factory.mktemp("golden_trades"))
        write_trade_ledger_dir(d)
        bronze = decode_ledger_files(read_ledger_files(spark, d)).cache()
        return {"operations": decode_operations(bronze)}

    def test_all_trade_rows_recompute(self, trade_frames):
        """Every golden history_trades row recomputes from wire bytes whose
        trade content is the golden's own values (tests/golden_trades.py):
        the reverse pre-change price scan skips the decoy entry and lands
        on the golden (price_n, price_d); real resting-offer buying ids and
        synthetic TOID-typed ids both reproduce; amounts, FarmHash asset
        ids, strkeys, order and closed_at are exact.  Pins
        trade.go:21-162 + 264-304 semantics on mainnet values."""
        from golden_trades import unique_golden_trades

        from stellar_etl_spark.transforms.trade import transform_trade

        out = transform_trade(trade_frames["operations"]).collect()
        mine = {int(r["history_operation_id"]): r.asDict() for r in out}

        golden = unique_golden_trades()
        assert len(golden) >= 5

        missing = sorted(k for k in golden if k not in mine)
        assert missing == [], f"trades missing: {missing}"
        extra = sorted(k for k in mine if k not in golden)
        assert extra == [], f"unexpected extra trades: {extra}"

        for k, g in golden.items():
            m = mine[k]
            assert g["order"] == m["order"], k
            assert g["ledger_closed_at"] == m["ledger_closed_at"].strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ), k
            for field in (
                "selling_account_address", "selling_asset_type",
                "buying_account_address", "buying_asset_type",
                "selling_asset_id", "buying_asset_id",
                "price_n", "price_d", "trade_type",
                "selling_offer_id", "buying_offer_id",
                "liquidity_pool_fee", "rounding_slippage", "seller_is_exact",
                "selling_liquidity_pool_id",
                "selling_liquidity_pool_id_strkey",
            ):
                gv, mv = g.get(field), m.get(field)
                if gv in ("", None) and mv in ("", None):
                    continue
                if isinstance(gv, (int, float)) and mv is not None:
                    mv = type(gv)(mv)
                assert gv == mv, (k, field, gv, mv)
            for field in ("selling_asset_code", "selling_asset_issuer",
                          "buying_asset_code", "buying_asset_issuer"):
                gv, mv = g.get(field), m.get(field)
                assert (gv or "") == (mv or ""), (k, field, gv, mv)
            for field in ("selling_amount", "buying_amount"):
                assert abs(g[field] - m[field]) <= 1e-12 * max(
                    1.0, abs(g[field])
                ), (k, field, g[field], m[field])


class TestTradesMainnetConsistency:
    def test_trades_match_golden_trade_effects(self, silver):
        """transform_trade over the PURE-mainnet reassembled range
        (30822015-25: real manage-offer results with real resting offers
        and real pre-change metas) must agree with the reference's own
        golden TRADE EFFECTS for the same ledgers: same atom count (each
        trade emits a buyer+seller effect pair), and for every buyer-side
        effect a trade row with the same operation, sold offer, seller and
        both amounts."""
        from decimal import Decimal

        from stellar_etl_spark.transforms.trade import transform_trade

        trades = transform_trade(silver["operations"]).collect()

        by_op: dict = {}
        for r in trades:
            d = r.asDict()
            by_op.setdefault(int(d["history_operation_id"]), []).append(d)

        eff = [
            row
            for row in golden_rows("effects")
            if row["ledger_sequence"] in silver["seqs"]
            and row["type_string"] == "trade"
        ]
        assert len(eff) >= 8 and len(eff) % 2 == 0
        n_trade_rows = sum(len(v) for v in by_op.values())
        assert n_trade_rows == len(eff) // 2

        matched = 0
        for e in eff:
            det = e["details"]
            cands = by_op.get(int(e["operation_id"]), [])
            assert cands, f"no trade rows for op {e['operation_id']}"
            # buyer-side effect: counterparty seller + sold offer id match
            hits = [
                t
                for t in cands
                if t["selling_offer_id"] == det["offer_id"]
                and t["selling_account_address"] == det["seller"]
                and Decimal(det["bought_amount"])
                == Decimal(str(t["selling_amount"]))
                and Decimal(det["sold_amount"])
                == Decimal(str(t["buying_amount"]))
                and e["address"] == t["buying_account_address"]
            ]
            if hits:
                matched += 1
        # exactly the buyer-side half of the pairs fully matches a trade row
        assert matched == len(eff) // 2


def _norm(v):
    """Golden empty-string/zero vs our null normalization."""
    return None if v in ("", None) else v


@pytest.fixture(scope="module")
def change_frames(spark, tmp_path_factory):
    from golden_changes import collect_change_goldens, write_change_ledger_dir

    from stellar_etl_spark.sources.bronze import (
        decode_ledger_files,
        read_ledger_files,
    )
    from stellar_etl_spark.sources.silver import decode_changes

    d = str(tmp_path_factory.mktemp("golden_changes"))
    write_change_ledger_dir(d)
    bronze = decode_ledger_files(read_ledger_files(spark, d))
    return {
        "changes": decode_changes(bronze).cache(),
        "golden": collect_change_goldens(),
    }


class TestChangesGoldenParity:
    """Every change-export golden row recomputes from wire bytes whose
    entry content is the golden's own values (tests/golden_changes.py):
    bronze → decode_changes → per-entity transform, row-keyed compare.
    Pins export_ledger_entry_changes.go:116-259 + the per-entity transform
    files on mainnet values (1749 pools, 245 claimable balances, all 14
    config arms, contract code/data, ttl, plus the accounts / signers /
    trustlines bucket families).  The offers bucket golden only carries
    FarmHash asset ids (not invertible) — documented skip in
    golden_changes.py."""

    def _routed(self, change_frames, name):
        from stellar_etl_spark.transforms.changes import route_change

        return route_change(change_frames["changes"], name).collect()

    def test_pools_recompute(self, change_frames):
        rows = self._routed(change_frames, "liquidity_pools")
        mine = {
            (r["ledger_sequence"], r["liquidity_pool_id"]): r.asDict()
            for r in rows
        }
        golden = change_frames["golden"]["pools"]
        assert len(golden) >= 1700
        for g in golden:
            k = (g["ledger_sequence"], g["liquidity_pool_id"])
            assert k in mine, k
            m = mine[k]
            for f in (
                "liquidity_pool_id_strkey", "type", "fee", "trustline_count",
                "asset_a_type", "asset_a_code", "asset_a_issuer", "asset_a_id",
                "asset_b_type", "asset_b_code", "asset_b_issuer", "asset_b_id",
                "last_modified_ledger", "ledger_entry_change", "deleted",
            ):
                gv, mv = _norm(g.get(f)), _norm(m.get(f))
                if isinstance(gv, (int, float)) and mv is not None:
                    mv = type(gv)(mv)
                assert gv == mv, (k, f, gv, mv)
            for f in ("pool_share_count", "asset_a_amount", "asset_b_amount"):
                assert abs(g[f] - m[f]) <= 1e-12 * max(1.0, abs(g[f])), (k, f)
            assert g["closed_at"] == m["closed_at"].strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            ), k

    def test_claimable_balances_recompute(self, change_frames):
        rows = self._routed(change_frames, "claimable_balances")
        mine = {
            (r["ledger_sequence"], r["balance_id"]): r.asDict() for r in rows
        }
        golden = change_frames["golden"]["claimable_balances"]
        assert len(golden) >= 240
        for g in golden:
            k = (g["ledger_sequence"], g["balance_id"])
            assert k in mine, k
            m = mine[k]
            assert g["balance_id_strkey"] == m["balance_id_strkey"], k
            assert _norm(g.get("sponsor")) == _norm(m.get("sponsor")), k
            assert g["flags"] == (m["flags"] or 0), k
            assert g["asset_id"] == m["asset_id"], k
            assert _norm(g["asset_code"]) == _norm(m["asset_code"]), k
            assert _norm(g["asset_issuer"]) == _norm(m["asset_issuer"]), k
            assert g["asset_type"] == m["asset_type"], k
            assert abs(g["asset_amount"] - m["asset_amount"]) <= 1e-12 * max(
                1.0, abs(g["asset_amount"])
            ), k
            assert g["deleted"] == m["deleted"], k
            assert g["ledger_entry_change"] == m["ledger_entry_change"], k
            gcl = [
                (c["destination"], json.dumps(c["predicate"], sort_keys=True))
                for c in g["claimants"]
            ]
            mcl = [
                (c["destination"], json.dumps(
                    json.loads(c["predicate"]), sort_keys=True
                ))
                for c in (m["claimants"] or [])
            ]
            assert gcl == mcl, k

    def test_config_settings_recompute(self, change_frames):
        rows = self._routed(change_frames, "config_settings")
        mine = {r["config_setting_id"]: r.asDict() for r in rows}
        golden = change_frames["golden"]["config_setting"]
        assert len(golden) == 14  # all union arms 0-13
        for g in golden:
            cid = g["config_setting_id"]
            assert cid in mine, cid
            m = mine[cid]
            for f, gv in g.items():
                if f not in m or f in ("closed_at",):
                    continue
                mv = m[f]
                if f in (
                    "contract_cost_params_cpu_insns",
                    "contract_cost_params_mem_bytes",
                ):
                    parsed = [json.loads(p) for p in (mv or [])]
                    assert [int(p["ConstTerm"]) for p in gv] == [
                        p["const_term"] for p in parsed
                    ], (cid, f)
                    assert [int(p["LinearTerm"]) for p in gv] == [
                        p["linear_term"] for p in parsed
                    ], (cid, f)
                    continue
                if f == "bucket_list_size_window":
                    assert [int(x) for x in gv] == list(mv or []), (cid, f)
                    continue
                if isinstance(gv, bool):
                    mv = bool(mv)
                elif isinstance(gv, (int, float)) and mv is not None:
                    mv = type(gv)(mv)
                if _norm(gv) in (None, 0) and _norm(mv) in (None, 0):
                    continue
                assert gv == mv, (cid, f, gv, mv)

    def test_contract_code_recompute(self, change_frames):
        rows = self._routed(change_frames, "contract_code")
        mine = {
            (r["ledger_sequence"], r["contract_code_hash"]): r.asDict()
            for r in rows
        }
        for g in change_frames["golden"]["contract_code"]:
            k = (g["ledger_sequence"], g["contract_code_hash"])
            assert k in mine, k
            m = mine[k]
            # the two derived key columns: hex sha256 of the KEY bytes and
            # base64 of the key bytes themselves (main.go:960-967)
            assert g["ledger_key_hash"] == m["ledger_key_hash"], k
            assert (
                g["ledger_key_hash_base_64"] == m["ledger_key_hash_base_64"]
            ), k
            assert g["contract_code_ext_v"] == (m["contract_code_ext_v"] or 0)
            for f in (
                "n_instructions", "n_functions", "n_globals",
                "n_table_entries", "n_types", "n_data_segments",
                "n_elem_segments", "n_imports", "n_exports",
                "n_data_segment_bytes",
            ):
                assert (g.get(f) or 0) == (m.get(f) or 0), (k, f)
            assert g["deleted"] == m["deleted"], k

    def test_contract_data_recompute(self, change_frames):
        rows = self._routed(change_frames, "contract_data")
        mine = {
            (r["ledger_sequence"], r["ledger_key_hash"]): r.asDict()
            for r in rows
        }
        golden = change_frames["golden"]["contract_data"]
        assert len(golden) >= 9
        for g in golden:
            k = (g["ledger_sequence"], g["ledger_key_hash"])
            assert k in mine, k
            m = mine[k]
            assert g["contract_id"] == m["contract_id"], k
            assert g["contract_key_type"] == m["contract_key_type"], k
            assert g["contract_durability"] == m["contract_durability"], k
            assert g["key"] == m["key"], k
            assert g["val"] == m["val"], k
            assert g["contract_data_xdr"] == m["contract_data_xdr"], k
            assert (
                g["ledger_key_hash_base_64"] == m["ledger_key_hash_base_64"]
            ), k
            for f in ("asset_code", "asset_issuer", "asset_type",
                      "balance", "balance_holder"):
                assert _norm(g.get(f)) == _norm(m.get(f)), (k, f)
            # decoded ScVal JSON parity at FULL depth: the golden
            # val_decoded rows carry contract_instance / string-keyed
            # storage maps / nested vec-of-symbol shapes (round-3 verdict
            # item 6 — key_decoded alone never exercised those arms)
            for side in ("key_decoded", "val_decoded"):
                gd = g.get(side)
                md = m.get(side)
                if gd is not None and md is not None:
                    assert _details_equal(gd, json.loads(md)), (k, side)

    def test_ttl_recompute(self, change_frames):
        rows = self._routed(change_frames, "ttls")
        mine = {
            (r["ledger_sequence"], r["key_hash"]): r.asDict() for r in rows
        }
        for g in change_frames["golden"]["ttl"]:
            k = (g["ledger_sequence"], g["key_hash"])
            assert k in mine, k
            m = mine[k]
            assert g["live_until_ledger_seq"] == m["live_until_ledger_seq"], k
            assert g["last_modified_ledger"] == m["last_modified_ledger"], k
            assert g["deleted"] == m["deleted"], k

    def test_accounts_recompute(self, change_frames):
        rows = self._routed(change_frames, "accounts")
        mine = {r["account_id"]: r.asDict() for r in rows}
        golden = {
            g["account_id"]: g for g in change_frames["golden"]["accounts"]
        }
        assert len(golden) >= 12
        for aid, g in golden.items():
            assert aid in mine, aid
            m = mine[aid]
            # legacy bucket golden stores stroops raw; current schema is
            # real-unit float64 (like the reference), so giant balances
            # carry double rounding — compare at double precision
            import math

            for rawf, realf in (
                ("balance", "balance"),
                ("buying_liabilities", "buying_liabilities"),
                ("selling_liabilities", "selling_liabilities"),
            ):
                assert math.isclose(
                    g[rawf], m[realf] * 1e7, rel_tol=1e-12, abs_tol=0.5
                ), (aid, rawf, g[rawf], m[realf])
            assert g["sequence_number"] == m["sequence_number"], aid
            assert g["num_subentries"] == m["num_subentries"], aid
            assert _norm(g["inflation_destination"]) == _norm(
                m["inflation_destination"]
            ), aid
            assert g["flags"] == m["flags"], aid
            assert _norm(g["home_domain"]) == _norm(m["home_domain"]), aid
            assert g["master_weight"] == m["master_weight"], aid
            assert g["threshold_low"] == m["threshold_low"], aid
            assert g["threshold_medium"] == m["threshold_medium"], aid
            assert g["threshold_high"] == m["threshold_high"], aid
            assert g["last_modified_ledger"] == m["last_modified_ledger"], aid
            assert g["deleted"] == m["deleted"], aid

    def test_signers_recompute(self, change_frames):
        """SignerSummary() semantics on real bucket data: the master key is
        a signer row iff master weight > 0, plus every explicit signer."""
        rows = self._routed(change_frames, "account_signers")
        mine = sorted(
            (r["account_id"], r["signer"], r["weight"], r["sponsor"])
            for r in rows
        )
        seen = set()
        golden = []
        for s in change_frames["golden"]["signers"]:
            k = (s["account_id"], s["signer"], s["weight"], s["sponsor"])
            if k not in seen:
                seen.add(k)
                golden.append(k)
        assert sorted(golden) == mine

    def test_trustlines_recompute(self, change_frames):
        rows = self._routed(change_frames, "trustlines")
        mine = {
            (r["last_modified_ledger"], r["ledger_key"]): r.asDict()
            for r in rows
        }
        tmap = {0: "native", 1: "credit_alphanum4", 2: "credit_alphanum12"}
        golden = {}
        for g in change_frames["golden"]["trustlines"]:
            golden[(g["last_modified_ledger"], g["ledger_key"])] = g
        assert len(golden) >= 4
        for lk, g in golden.items():
            # the golden ledger_key is the REAL serialized trustline key —
            # matching on it proves our key serialization byte-exact
            assert lk in mine, lk
            m = mine[lk]
            assert g["account_id"] == m["account_id"], lk
            assert tmap[g["asset_type"]] == m["asset_type"], lk
            assert g["asset_code"] == m["asset_code"], lk
            assert g["asset_issuer"] == m["asset_issuer"], lk
            import math

            assert math.isclose(
                g["balance"], m["balance"] * 1e7, rel_tol=1e-12, abs_tol=0.5
            ), lk
            # raw int64 limit (trustline.go TrustlineLimit)
            assert g["trust_line_limit"] == m["trust_line_limit"], lk
            assert math.isclose(
                g["buying_liabilities"], m["buying_liabilities"] * 1e7,
                rel_tol=1e-12, abs_tol=0.5,
            ), lk
            assert math.isclose(
                g["selling_liabilities"], m["selling_liabilities"] * 1e7,
                rel_tol=1e-12, abs_tol=0.5,
            ), lk
            assert g["flags"] == m["flags"], lk
            assert g["last_modified_ledger"] == m["last_modified_ledger"], lk
            assert g["deleted"] == m["deleted"], lk


class TestOrderbookGoldenParity:
    """The orderbooks golden (testdata/orderbooks/single_ledger.golden:
    testnet ledger 5000000's 33 live offers as the star schema) pins the
    FNV dim ids on real data.  The golden's own dim tables carry every
    offer's seller, market assets, amount and price, so the offer ENTRIES
    are reconstructible into wire bytes and the whole
    bronze → decode_changes → transform_offer_normalized path replays.

    dim_offer_id is NOT compared against the golden: that file predates
    the reference's stroops→real conversion (its base_amount/preimage use
    raw stroops; current extractDimOffer formats offer.Amount, a
    real-units float — verified by matching fnv64a("1/10000123/100.000000")
    against the golden id).  Market/account ids, actions, horizon ids and
    amounts are era-stable and compared exactly; our fact↔dim id
    referential integrity is asserted instead."""

    @pytest.fixture(scope="class")
    def star(self, spark, tmp_path_factory):
        from fractions import Fraction

        from golden_changes import _changes_for, _ed

        from stellar_etl_spark.sources import xdr_ledger as XL
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import decode_changes
        from stellar_etl_spark.sources.xdr import (
            LedgerHeader,
            encode_ledger_close_meta_v0,
            transaction_hash,
        )
        from stellar_etl_spark.transforms.offer_normalized import (
            transform_offer_normalized,
        )

        rows = []
        with open(
            "/root/reference/testdata/orderbooks/single_ledger.golden"
        ) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rows.append(json.loads(line))
        # golden FNV ids are printed as uint64; our columns are int64
        def _i64(v):
            return v - (1 << 64) if v >= (1 << 63) else v

        for r in rows:
            for f in ("market_id", "account_id", "maker_id",
                      "dim_offer_id", "offer_instance_id"):
                if f in r:
                    r[f] = _i64(r[f])
        markets = {r["market_id"]: r for r in rows if "base_code" in r}
        accounts = {r["account_id"]: r["address"] for r in rows if "address" in r}
        offers = [r for r in rows if "action" in r]
        facts = [r for r in rows if "ledger_id" in r]
        # single_ledger + large_range overlap; keep the 5000000 snapshot
        seq = 5000000
        offers = {o["dim_offer_id"]: o for o in offers}.values()

        def asset(code, issuer):
            if code == "native" and not issuer:
                return {"type": "native"}
            t = "credit_alphanum4" if len(code) <= 4 else "credit_alphanum12"
            return {"type": t, "code": code, "issuer": _ed(issuer)}

        changes = []
        for o in offers:
            mk = markets[o["market_id"]]
            base = asset(mk["base_code"], mk["base_issuer"])
            counter = asset(mk["counter_code"], mk["counter_issuer"])
            selling, buying = (
                (base, counter) if o["action"] == "s" else (counter, base)
            )
            fr = Fraction(o["price"]).limit_denominator(10**9)
            assert float(fr) == o["price"]
            data = {
                "seller_id": _ed(accounts[o["maker_id"]]),
                "offer_id": o["horizon_offer_id"],
                "selling": selling,
                "buying": buying,
                "amount": int(o["base_amount"]),
                "price": (fr.numerator, fr.denominator),
                "flags": 0,
            }
            changes.extend(
                _changes_for(XL.ENTRY_OFFER, data, 0, seq, None)
            )

        env = {
            "type": "v0",
            "tx": {
                "source": {"ed25519": b"\x09" * 32, "id": None},
                "fee": 100,
                "seq_num": 1,
                "preconditions": {},
                "memo": {"type": "none"},
                "operations": [
                    {"source": None, "type": 11, "body": {"bump_to": 1}}
                ],
            },
            "signatures": [],
        }
        processing = [
            {
                "result": {
                    "transaction_hash": transaction_hash(
                        env, "Public Global Stellar Network ; September 2015"
                    ),
                    "result": {
                        "fee_charged": 100,
                        "code": 0,
                        "op_results": [
                            {"code": 0, "type": 11, "inner_code": 0}
                        ],
                    },
                },
                "fee_changes": [],
                "meta": {
                    "version": 1,
                    "tx_changes_before": [],
                    "operations": [{"changes": changes}],
                    "tx_changes_after": [],
                    "soroban": None,
                },
            }
        ]
        raw = encode_ledger_close_meta_v0(
            LedgerHeader(ledger_seq=seq, close_time=1_580_000_000),
            [env],
            entry_hash=b"\x55" * 32,
            tx_processing=processing,
        )
        d = tmp_path_factory.mktemp("golden_orderbooks")
        (d / f"{seq}.xdr").write_bytes(raw)

        from pyspark.sql import functions as F

        ch = decode_changes(
            decode_ledger_files(read_ledger_files(spark, str(d)))
        ).where(F.col("entry_type") == "offer")
        frame = ch.select(
            "ledger_sequence",
            F.col("post")["seller_id"].alias("seller_id"),
            F.col("post")["offer_id"].alias("offer_id"),
            F.col("post")["selling"].alias("selling"),
            F.col("post")["buying"].alias("buying"),
            F.col("post")["amount"].alias("amount"),
            F.col("post")["price_n"].alias("price_n"),
            F.col("post")["price_d"].alias("price_d"),
        )
        out = transform_offer_normalized(frame)
        return {
            "golden": {
                "markets": markets,
                "accounts": accounts,
                "offers": list(offers),
                "facts": facts,
            },
            "dim_markets": out["dim_markets"].collect(),
            "dim_accounts": out["dim_accounts"].collect(),
            "dim_offers": out["dim_offers"].collect(),
            "fact": out["fact_offer_events"].collect(),
        }

    def test_market_and_account_dims_exact(self, star):
        mine_m = {
            r["market_id"]: r.asDict() for r in star["dim_markets"]
        }
        for mid, g in star["golden"]["markets"].items():
            assert mid in mine_m, mid
            m = mine_m[mid]
            for f in ("base_code", "base_issuer", "counter_code",
                      "counter_issuer"):
                assert g[f] == (m[f] or ""), (mid, f)
        assert len(mine_m) == len(star["golden"]["markets"]) == 4

        mine_a = {r["account_id"]: r["address"] for r in star["dim_accounts"]}
        assert mine_a == star["golden"]["accounts"]
        assert len(mine_a) == 7

    def test_offer_dims_and_fact(self, star):
        import math

        mine = {r["horizon_offer_id"]: r.asDict() for r in star["dim_offers"]}
        golden = {o["horizon_offer_id"]: o for o in star["golden"]["offers"]}
        assert set(mine) == set(golden) and len(mine) == 33
        for hid, g in golden.items():
            m = mine[hid]
            assert g["market_id"] == m["market_id"], hid
            assert g["maker_id"] == m["maker_id"], hid
            assert g["action"] == m["action"], hid
            assert g["price"] == m["price"], hid
            assert math.isclose(
                g["base_amount"], m["base_amount"] * 1e7,
                rel_tol=1e-12, abs_tol=0.5,
            ), hid
            assert math.isclose(
                g["counter_amount"], m["counter_amount"] * 1e7,
                rel_tol=1e-9, abs_tol=0.5,
            ), hid
        # fact: one event per offer at the snapshot ledger; instance ids
        # referentially match our dim ids
        fact = star["fact"]
        assert len(fact) == 33
        assert {r["ledger_id"] for r in fact} == {5000000}
        assert {r["offer_instance_id"] for r in fact} == {
            r["dim_offer_id"] for r in star["dim_offers"]
        }


class TestAssetsMainnetParity:
    def test_first_sightings_match_export_dedup(self, silver):
        """export_assets dedupes per run by asset id (seenIDs,
        cmd/export_assets.go:40-59) keeping the FIRST sighting in ledger/
        tx/op scan order; each golden file is one run.  Replaying the same
        dedup over our sightings for each run's range must reproduce every
        golden row exactly (FarmHash ids incl. the native constant, codes,
        issuers, the first ledger and its close time)."""
        import glob

        from stellar_etl_spark.transforms.asset import transform_asset

        out = transform_asset(silver["operations"]).collect()
        sightings = sorted(
            (r.asDict() for r in out),
            key=lambda r: (r["ledger_sequence"], r["operation_id"]),
        )

        runs = {
            "one_ledger_assets.golden": (30820015, 30820015),
            "10_ledgers_assets.golden": (30822015, 30822025),
        }
        checked = 0
        for fname, (lo, hi) in runs.items():
            golden = {}
            with open(f"/root/reference/testdata/assets/{fname}") as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        g = json.loads(line)
                        golden[g["asset_id"]] = g
            seen: dict = {}
            for r in sightings:
                if lo <= r["ledger_sequence"] <= hi and r["asset_id"] not in seen:
                    seen[r["asset_id"]] = r
            assert set(seen) == set(golden), (
                fname,
                sorted(set(golden) - set(seen))[:3],
                sorted(set(seen) - set(golden))[:3],
            )
            for aid, g in golden.items():
                m = seen[aid]
                assert g["ledger_sequence"] == m["ledger_sequence"], aid
                assert g["asset_type"] == m["asset_type"], aid
                assert g["asset_code"] == (m["asset_code"] or ""), aid
                assert g["asset_issuer"] == (m["asset_issuer"] or ""), aid
                assert g["closed_at"] == m["closed_at"].strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                ), aid
                checked += 1
        assert checked >= 37


class TestContractEventsGoldenParity:
    """The contract_events golden (testdata/contract_events, mainnet
    ledgers 52271338-49) embeds each row's FULL DiagnosticEvent XDR —
    reassembling them into Soroban tx metas gives the
    bronze → decode_contract_events → transform_contract_events path a
    byte-exact mainnet fixture (189 events across 8 ledgers).
    transaction_hash is the only uncompared column: it hashes the envelope,
    which the golden does not carry (scaffolding envelopes are synthetic).
    """

    def test_all_event_rows_recompute(self, spark, tmp_path_factory):
        import collections

        from golden_changes import _ed  # noqa: F401 (shared helpers)

        from stellar_etl_spark.sources import xdr_ledger as XL
        from stellar_etl_spark.sources.bronze import (
            decode_ledger_files,
            read_ledger_files,
        )
        from stellar_etl_spark.sources.silver import decode_contract_events
        from stellar_etl_spark.sources.xdr import (
            LedgerHeader,
            Reader,
            encode_ledger_close_meta_v0,
            transaction_hash,
        )
        from stellar_etl_spark.transforms.contract_events import (
            transform_contract_events,
        )

        golden = golden_rows("contract_events")
        assert len(golden) >= 180

        by_tx: dict = collections.OrderedDict()
        closed: dict[int, str] = {}
        for g in golden:
            tid = int(g["transaction_id"])
            seq = tid >> 32
            txi = (tid >> 12) & 0xFFFFF
            by_tx.setdefault((seq, txi), []).append(g)
            closed[seq] = g["closed_at"]

        from golden_lcm import _closed_at_unix

        per_ledger: dict[int, dict[int, list[dict]]] = {}
        for (seq, txi), rows in by_tx.items():
            per_ledger.setdefault(seq, {})[txi] = rows

        PUBLIC = "Public Global Stellar Network ; September 2015"
        d = tmp_path_factory.mktemp("golden_cevents")
        for seq, txs in sorted(per_ledger.items()):
            envelopes, processing = [], []
            for txi in range(1, max(txs) + 1):
                rows = txs.get(txi, [])
                diags = []
                ok = True
                for g in rows:
                    r = Reader(base64.b64decode(g["contract_event_xdr"]))
                    diags.append(
                        {
                            "in_successful_contract_call": r.bool(),
                            "event": XL._read_contract_event(r),
                        }
                    )
                    ok = bool(g["successful"])
                env = {
                    "type": "v0",
                    "tx": {
                        "source": {"ed25519": bytes([txi % 256]) * 32,
                                   "id": None},
                        "fee": 100,
                        "seq_num": (seq << 12) + txi,
                        "preconditions": {},
                        "memo": {"type": "none"},
                        "operations": [
                            {"source": None, "type": 11,
                             "body": {"bump_to": 1}}
                        ],
                    },
                    "signatures": [],
                }
                envelopes.append(env)
                processing.append(
                    {
                        "result": {
                            "transaction_hash": transaction_hash(env, PUBLIC),
                            "result": {
                                "fee_charged": 100,
                                "code": 0 if ok else -1,
                                "op_results": [
                                    {"code": 0, "type": 11, "inner_code": 0}
                                ],
                            },
                        },
                        "fee_changes": [],
                        "meta": {
                            "version": 3,
                            "tx_changes_before": [],
                            "operations": [{"changes": []}],
                            "tx_changes_after": [],
                            "soroban": (
                                {
                                    "fees": None,
                                    "events": [],
                                    "return_value": {"void": None},
                                    "diagnostic_events": diags,
                                }
                                if diags
                                else None
                            ),
                        },
                    }
                )
            raw = encode_ledger_close_meta_v0(
                LedgerHeader(
                    ledger_seq=seq,
                    close_time=_closed_at_unix(closed[seq]),
                ),
                envelopes,
                entry_hash=b"\x66" * 32,
                tx_processing=processing,
            )
            (d / f"{seq}.xdr").write_bytes(raw)

        bronze = decode_ledger_files(read_ledger_files(spark, str(d)))
        out = transform_contract_events(
            decode_contract_events(bronze), contract_only=False
        ).collect()

        mine: dict = collections.defaultdict(list)
        for r in out:
            mine[int(r["transaction_id"])].append(r.asDict())

        n = 0
        for (seq, txi), rows in by_tx.items():
            tid = (seq << 32) | (txi << 12)
            got = mine.get(tid, [])
            assert len(got) == len(rows), (seq, txi, len(got), len(rows))
            for g, m in zip(rows, got):
                assert g["contract_event_xdr"] == m["contract_event_xdr"], tid
                assert g["type"] == m["type"], tid
                assert g["type_string"] == m["type_string"], tid
                assert (g["contract_id"] or None) == m["contract_id"], tid
                assert bool(g["successful"]) == m["successful"], tid
                assert (
                    bool(g["in_successful_contract_call"])
                    == m["in_successful_contract_call"]
                ), tid
                assert g["topics"] == list(m["topics"]), tid
                assert g["data"] == m["data"], tid
                assert _details_equal(
                    g["topics_decoded"],
                    [json.loads(t) for t in m["topics_decoded"]],
                ), tid
                assert _details_equal(
                    g["data_decoded"], json.loads(m["data_decoded"])
                ), tid
                assert g["closed_at"] == m["closed_at"].strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                ), tid
                n += 1
        assert n == len(golden)


class TestLedgerTransactionsMainnetParity:
    def test_blob_columns_roundtrip(self, silver):
        """transform_ledger_transaction's four XDR blob columns must equal
        the goldens byte-for-byte (they re-encode from parsed structs, so
        this doubles as a codec re-encode check through the whole Spark
        path)."""
        from stellar_etl_spark.transforms.transaction import (
            transform_ledger_transaction,
        )

        rows = transform_ledger_transaction(silver["transactions"]).collect()
        mine = {}
        for r in rows:
            d = r.asDict()
            mine[(d["ledger_sequence"], d["tx_envelope"])] = d

        n = 0
        for g in golden_rows("ledger_transactions"):
            if g["ledger_sequence"] not in silver["seqs"]:
                continue
            key = (g["ledger_sequence"], g["tx_envelope"])
            assert key in mine, f"missing tx in ledger {g['ledger_sequence']}"
            m = mine[key]
            assert g["tx_result"] == m["tx_result"]
            assert g["tx_meta"] == m["tx_meta"]
            assert g["tx_fee_meta"] == m["tx_fee_meta"]
            # the LedgerHeaderHistoryEntry blob re-encodes byte-identically
            assert g["tx_ledger_history"] == m["tx_ledger_history"]
            assert g["closed_at"] == m["closed_at"].strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            n += 1
        assert n >= 59
