"""Golden parity harness (VERDICT.md next-round #5).

Two layers:

1. **Spec parity** (always runs): every transform's output columns equal the
   reference's code-defined field set (schema.go json tags, transcribed in
   stellar_etl_spark/golden_spec.py) modulo the documented EXTRA_ALLOWED
   engine columns.

2. **Golden parity** (skipped when the reference checkout is absent): the
   reference's own CLI golden files (testdata/*/*.golden, written by
   cmd/test_utils.go:39-163) are real-mainnet output rows.  We assert their
   JSON key sets are covered by our output columns, and validate VALUE
   formats against our implementations — FarmHash asset ids, strkey
   checksums, TOID packing, ``[a,b)`` interval strings, the string-typed
   ``tx_set_operation_count`` quirk, ``{op_id}-{idx}`` effect ids, and
   RFC3339 timestamps — over the actual mainnet rows.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

import fixtures as fx
from stellar_etl_spark.golden_spec import EXTRA_ALLOWED, GOLDEN_FIELDS

GOLDEN_DIR = "/root/reference/testdata"

needs_goldens = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference goldens not available"
)


def golden_rows(entity: str, limit: int = 500) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(f"{GOLDEN_DIR}/{entity}/*.golden")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        rows.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass
                if len(rows) >= limit:
                    return rows
    return rows


def golden_keys(entity: str) -> set[str]:
    keys: set[str] = set()
    for r in golden_rows(entity, limit=2000):
        keys |= set(r)
    return keys


# Golden files written before schema.go's current shape: keys present in the
# golden but renamed/removed since.  Kept explicit so NEW drift still fails.
LEGACY_GOLDEN_KEYS: dict[str, set[str]] = {
    # offers bucket-dump goldens predate the per-component asset columns
    # (selling_asset/buying_asset were single serialized columns)
    "offers": {"selling_asset", "buying_asset"},
}


@pytest.fixture(scope="module")
def outputs(spark):
    """Transform-name → output DataFrame, built from the table-driven
    fixtures (same construction as tests/test_transforms.py)."""
    from stellar_etl_spark.transforms import (
        transform_account,
        transform_asset,
        transform_claimable_balance,
        transform_contract_code,
        transform_contract_events,
        transform_effects,
        transform_ledger,
        transform_offer,
        transform_operation,
        transform_pool,
        transform_signers,
        transform_token_transfer,
        transform_trade,
        transform_transaction,
        transform_trustline,
        transform_ttl,
    )
    from stellar_etl_spark.transforms.changes import (
        transform_config_setting,
        transform_contract_data,
    )
    from stellar_etl_spark.transforms.transaction import (
        transform_ledger_transaction,
    )

    L = fx.ledgers_df(spark)
    T = fx.transactions_df(spark)
    O = fx.operations_df(spark)
    C = fx.changes_df(spark)
    E = fx.contract_events_df(spark)
    return {
        "ledgers": transform_ledger(L),
        "transactions": transform_transaction(T),
        "ledger_transactions": transform_ledger_transaction(T),
        "operations": transform_operation(O),
        "effects": transform_effects(O),
        "trades": transform_trade(O),
        "assets": transform_asset(O),
        "accounts": transform_account(C),
        "account_signers": transform_signers(C),
        "trustlines": transform_trustline(C),
        "offers": transform_offer(C),
        "liquidity_pools": transform_pool(C),
        "claimable_balances": transform_claimable_balance(C),
        "contract_data": transform_contract_data(C),
        "contract_code": transform_contract_code(C),
        "config_settings": transform_config_setting(C),
        "ttls": transform_ttl(C),
        "contract_events": transform_contract_events(E),
        "token_transfers": transform_token_transfer(E),
    }


class TestSpecParity:
    @pytest.mark.parametrize("entity", sorted(GOLDEN_FIELDS))
    def test_columns_match_schema_go(self, outputs, entity):
        spec = set(GOLDEN_FIELDS[entity])
        ours = set(outputs[entity].columns)
        missing = spec - ours
        extra = ours - spec - EXTRA_ALLOWED.get(entity, frozenset())
        assert not missing, f"{entity} missing reference fields: {sorted(missing)}"
        assert not extra, f"{entity} undocumented extra fields: {sorted(extra)}"


# entity → golden dir name (where they differ)
_GOLDEN_DIRS = {
    "ledgers": "ledgers",
    "transactions": "transactions",
    "ledger_transactions": "ledger_transactions",
    "operations": "operations",
    "effects": "effects",
    "trades": "trades",
    "assets": "assets",
    "accounts": "accounts",
    "account_signers": "signers",
    "trustlines": "trustlines",
    "offers": "offers",
    "claimable_balances": "claimable_balances",
    "contract_events": "contract_events",
    "token_transfers": "token_transfers",
}


@needs_goldens
class TestGoldenKeyCoverage:
    @pytest.mark.parametrize("entity", sorted(_GOLDEN_DIRS))
    def test_golden_keys_subset_of_columns(self, outputs, entity):
        keys = golden_keys(_GOLDEN_DIRS[entity])
        if not keys:
            pytest.skip("no golden rows")
        ours = set(outputs[entity].columns)
        legacy = LEGACY_GOLDEN_KEYS.get(entity, set())
        uncovered = keys - ours - legacy
        assert not uncovered, (
            f"{entity}: golden emits fields we lack: {sorted(uncovered)}"
        )

    def test_changes_union_covered(self, outputs):
        """testdata/changes/*.golden mixes the five soroban/state entities;
        its key union must be covered by the union of those outputs."""
        keys = golden_keys("changes")
        if not keys:
            pytest.skip("no golden rows")
        union = set()
        for ent in (
            "claimable_balances",
            "liquidity_pools",
            "contract_data",
            "contract_code",
            "config_settings",
            "ttls",
        ):
            union |= set(outputs[ent].columns)
        uncovered = keys - union
        assert not uncovered, f"changes union uncovered: {sorted(uncovered)}"


_RFC3339 = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$")
_INTERVAL = re.compile(r"^\[\d+,(\d+)?\)$")
_HEX64 = re.compile(r"^[0-9a-f]{64}$")


@needs_goldens
class TestLedgerHeaderValueParity:
    def test_ledger_header_values_recompute(self):
        """VALUE-level mainnet parity: decode each golden row's real
        ``ledger_header`` XDR with the pure-Python codec and every scalar
        the row carries must recompute from the decoded header — sequence,
        TOID id, previous hash, coins/fees/reserves, protocol, closed_at,
        and the STELLAR_VALUE_SIGNED node id + signature when present
        (ledger.go:17-107 field derivations, zero hand-built fixtures)."""
        import base64
        from datetime import datetime, timezone

        from stellar_etl_spark.functions.strkey import (
            VERSION_ACCOUNT,
            encode_strkey,
        )
        from stellar_etl_spark.sources.xdr import Reader, read_ledger_header

        n = 0
        for row in golden_rows("ledgers", limit=2000):
            raw = base64.b64decode(row["ledger_header"])
            h = read_ledger_header(Reader(raw))
            assert h.ledger_seq == int(row["sequence"])
            assert int(row["id"]) == h.ledger_seq << 32
            assert h.previous_ledger_hash.hex() == row["previous_ledger_hash"]
            assert h.total_coins == int(row["total_coins"])
            assert h.fee_pool == int(row["fee_pool"])
            assert h.base_fee == int(row["base_fee"])
            assert h.base_reserve == int(row["base_reserve"])
            assert h.max_tx_set_size == int(row["max_tx_set_size"])
            assert h.ledger_version == int(row["protocol_version"])
            closed = datetime.fromtimestamp(h.close_time, tz=timezone.utc)
            golden_closed = datetime.fromisoformat(
                row["closed_at"].replace("Z", "+00:00")
            )
            assert closed == golden_closed
            if row.get("node_id"):
                nid, sig = h.close_value_signature
                assert encode_strkey(VERSION_ACCOUNT, nid) == row["node_id"]
                assert base64.b64encode(sig).decode() == row["signature"]
                n += 1
        assert n > 0  # at least one signed header exercised the strkey path


class TestTransactionValueParity:
    def test_transaction_values_recompute_from_envelope_and_result(self):
        """VALUE-level mainnet parity for transactions: decode each golden
        row's real ``tx_envelope``/``tx_result`` XDR and recompute account,
        sequence, max_fee, operation_count, memo switch (transaction.go:
        74-89), the ``[a,b)`` time-bounds string (90-111), fee_charged and
        the success gate — zero hand-built fixtures."""
        import base64

        from stellar_etl_spark.functions.strkey import (
            VERSION_ACCOUNT,
            encode_strkey,
        )
        from stellar_etl_spark.sources.xdr import (
            Reader,
            read_transaction_envelope,
        )
        from stellar_etl_spark.sources.xdr_ledger import (
            read_transaction_result,
            result_successful,
        )

        memo_names = {
            "none": "MemoTypeMemoNone",
            "text": "MemoTypeMemoText",
            "id": "MemoTypeMemoId",
            "hash": "MemoTypeMemoHash",
            "return": "MemoTypeMemoReturn",
        }
        n = fee_bumps = 0
        for row in golden_rows("transactions", limit=2000):
            env = read_transaction_envelope(
                Reader(base64.b64decode(row["tx_envelope"]))
            )
            if env["type"] == "fee_bump":
                fee_bumps += 1
                assert int(row["max_fee"]) == env["fee"]
                tx = env["inner"]["tx"]
            else:
                tx = env["tx"]
                assert int(row["max_fee"]) == tx["fee"]
            assert int(row["account_sequence"]) == tx["seq_num"]
            assert int(row["operation_count"]) == len(tx["operations"])
            assert row["account"] == encode_strkey(
                VERSION_ACCOUNT, tx["source"]["ed25519"]
            )
            assert int(row["id"]) >> 32 == int(row["ledger_sequence"])

            memo = tx["memo"]
            assert row["memo_type"] == memo_names[memo["type"]]
            if memo["type"] == "text":
                assert row["memo"] == memo["text"]
            elif memo["type"] == "id":
                assert row["memo"] == str(memo["id"])
            elif memo["type"] in ("hash", "return"):
                assert row["memo"] == base64.b64encode(memo["hash"]).decode()

            tb = (tx.get("preconditions") or {}).get("time_bounds")
            if tb is None:
                assert row["time_bounds"] == ""
            elif tb["max_time"] == 0:
                assert row["time_bounds"] == f"[{tb['min_time']},)"
            else:
                assert (
                    row["time_bounds"]
                    == f"[{tb['min_time']},{tb['max_time']})"
                )

            res = read_transaction_result(
                Reader(base64.b64decode(row["tx_result"]))
            )
            assert int(row["fee_charged"]) == res["fee_charged"]
            golden_ok = row["successful"] in (True, "True", "true")
            assert golden_ok == result_successful(res)
            n += 1
        assert n >= 500  # fee_bumps counted when present in goldens


class TestOperationValueParity:
    def test_operation_values_recompute_from_tx_goldens(self):
        """VALUE-level mainnet parity for operations: every operations-
        golden row's transaction lives in the transactions goldens (same
        12 ledgers), so its type / type_string / source account / result
        code / TRACE code (the per-type inner result enum name,
        operation.go:168-231) recompute from the decoded real envelope +
        result — all 2000+ rows, zero hand-built fixtures."""
        import base64

        from stellar_etl_spark.functions.strkey import (
            VERSION_ACCOUNT,
            encode_strkey,
        )
        from stellar_etl_spark.schemas import OPERATION_TYPE_NAMES
        from stellar_etl_spark.sources.op_result_codes import trace_code_name
        from stellar_etl_spark.sources.xdr import (
            Reader,
            read_transaction_envelope,
        )
        from stellar_etl_spark.sources.xdr_ledger import (
            read_transaction_result,
        )

        tx_by_id = {int(r["id"]): r for r in golden_rows("transactions", 2000)}
        n = 0
        for row in golden_rows("operations", limit=5000):
            tx_row = tx_by_id.get(int(row["transaction_id"]))
            if tx_row is None:
                continue
            env = read_transaction_envelope(
                Reader(base64.b64decode(tx_row["tx_envelope"]))
            )
            tx = env["inner"]["tx"] if env["type"] == "fee_bump" else env["tx"]
            op_index = (int(row["id"]) & 0xFFF) - 1
            op = tx["operations"][op_index]
            assert int(row["type"]) == op["type"]
            assert row["type_string"] == OPERATION_TYPE_NAMES[op["type"]]
            src_key = (op["source"] or tx["source"])["ed25519"]
            assert row["source_account"] == encode_strkey(
                VERSION_ACCOUNT, src_key
            )

            res = read_transaction_result(
                Reader(base64.b64decode(tx_row["tx_result"]))
            )
            op_results = res.get("op_results") or (
                res.get("inner_result") or {}
            ).get("op_results")
            if op_results and op_index < len(op_results):
                op_res = op_results[op_index]
                if op_res["code"] == 0:
                    assert (
                        row["operation_result_code"]
                        == "OperationResultCodeOpInner"
                    )
                    assert row["operation_trace_code"] == trace_code_name(
                        op["type"], op_res["inner_code"]
                    )
            n += 1
        assert n >= 2000


class TestGoldenValueFormats:
    """Validate our scalar implementations against real-mainnet golden rows."""

    def test_ledger_quirks(self):
        rows = golden_rows("ledgers")
        assert rows
        for r in rows:
            # string-typed tx_set_operation_count (ledger.go:151)
            assert isinstance(r["tx_set_operation_count"], str)
            # TOID with op/tx parts zero (toid/main.go:130-157)
            assert r["id"] == r["sequence"] << 32
            assert _RFC3339.match(r["closed_at"])
            assert _HEX64.match(r["ledger_hash"])

    def test_transaction_formats(self):
        rows = golden_rows("transactions")
        assert rows
        for r in rows:
            assert r["id"] >> 32 == r["ledger_sequence"]
            if r.get("time_bounds"):
                assert _INTERVAL.match(r["time_bounds"]), r["time_bounds"]
            assert r["memo_type"].startswith("MemoType")
            assert r["transaction_result_code"].startswith(
                "TransactionResultCode"
            )
            assert r["created_at"] == r["closed_at"]

    def test_interval_string_reconstruction(self, spark):
        """Our interval_string reproduces every golden time_bounds verbatim
        from its parsed endpoints."""
        from pyspark.sql import functions as F

        from stellar_etl_spark.functions.scalars import interval_string

        bounds = sorted(
            {
                r["time_bounds"]
                for r in golden_rows("transactions", limit=2000)
                if r.get("time_bounds")
            }
        )
        assert bounds
        parsed = []
        for b in bounds:
            lo, hi = b[1:-1].split(",")
            parsed.append((int(lo), int(hi) if hi else None, b))
        df = spark.createDataFrame(parsed, "lo long, hi long, expect string")
        out = df.select(
            interval_string(F.col("lo"), F.coalesce(F.col("hi"), F.lit(0))).alias(
                "got"
            ),
            "expect",
        ).collect()
        for row in out:
            assert row.got == row.expect

    def test_asset_id_farmhash_parity(self):
        """FarmHash Fingerprint64 ids recompute exactly on mainnet assets
        (asset.go:72-77)."""
        from stellar_etl_spark.functions.hashes import farmhash_fingerprint64

        rows = golden_rows("assets", limit=300)
        assert rows
        for r in rows:
            expected = farmhash_fingerprint64(
                (r["asset_code"] or "")
                + (r["asset_issuer"] or "")
                + r["asset_type"]
            )
            assert expected == r["asset_id"], r

    def test_trade_asset_ids_and_synthetic_offer_bit(self):
        from stellar_etl_spark.functions.hashes import farmhash_fingerprint64

        rows = golden_rows("trades", limit=300)
        assert rows
        for r in rows:
            sid = farmhash_fingerprint64(
                (r["selling_asset_code"] or "")
                + (r["selling_asset_issuer"] or "")
                + r["selling_asset_type"]
            )
            assert sid == r["selling_asset_id"]
            assert r["trade_type"] in (1, 2)
            if r["trade_type"] == 2:
                assert r.get("selling_liquidity_pool_id")
            # synthetic buying offer ids carry TOID-type bit 62
            # (synt_offer_id.go:28-35)
            if r["buying_offer_id"] and r["buying_offer_id"] > (1 << 62):
                assert (r["buying_offer_id"] >> 62) & 1 == 1

    def test_operation_details_asset_ids(self):
        """The *_asset_id values inside mainnet operation details recompute
        exactly (operation.go:360-407 → FarmHashAsset)."""
        from stellar_etl_spark.functions.hashes import farmhash_fingerprint64

        checked = 0
        for r in golden_rows("operations", limit=500):
            d = r.get("details") or {}
            for prefix in ("asset", "selling", "buying", "source"):
                if f"{prefix}_asset_id" in d and f"{prefix}_asset_type" in d:
                    expect = farmhash_fingerprint64(
                        (d.get(f"{prefix}_asset_code") or "")
                        + (d.get(f"{prefix}_asset_issuer") or "")
                        + d[f"{prefix}_asset_type"]
                    )
                    assert expect == d[f"{prefix}_asset_id"], (prefix, d)
                    checked += 1
        assert checked > 20

    def test_effect_id_format(self):
        rows = golden_rows("effects", limit=300)
        assert rows
        for r in rows:
            assert r["id"] == f"{r['operation_id']}-{r['index']}"
            assert r["operation_id"] >> 32 == r["ledger_sequence"]

    def test_strkey_checksums_decode(self):
        """Real mainnet strkeys round-trip through our base32+CRC16 codec
        (strkey.go semantics)."""
        from stellar_etl_spark.functions.strkey import (
            VERSION_ACCOUNT,
            VERSION_CONTRACT,
            decode_strkey,
            encode_strkey,
        )

        seen = 0
        for r in golden_rows("transactions", limit=200):
            acct = r["account"]
            if acct.startswith("G"):
                ver, payload = decode_strkey(acct)
                assert ver == VERSION_ACCOUNT and len(payload) == 32
                assert encode_strkey(ver, payload) == acct
                seen += 1
        for r in golden_rows("token_transfers", limit=200):
            cid = r.get("contract_id")
            if cid and cid.startswith("C"):
                ver, payload = decode_strkey(cid)
                assert ver == VERSION_CONTRACT and len(payload) == 32
                assert encode_strkey(ver, payload) == cid
                seen += 1
        assert seen > 50

    def test_token_transfer_amounts_and_toid(self):
        rows = golden_rows("token_transfers", limit=300)
        assert rows
        for r in rows:
            assert r["transaction_id"] >> 32 == r["ledger_sequence"]
            assert r["event_topic"] in (
                "transfer",
                "mint",
                "burn",
                "clawback",
                "fee",
            )
            # amount = stroops × 1e-7 (token_transfer.go:52-73)
            assert abs(float(r["amount_raw"]) * 1e-7 - r["amount"]) < 1e-9
            if r["event_topic"] == "fee":
                assert r["operation_id"] is None

    def test_signers_weight_types(self):
        rows = golden_rows("signers", limit=300)
        assert rows
        for r in rows:
            assert isinstance(r["weight"], int)
            assert set(r) <= set(GOLDEN_FIELDS["account_signers"])

    def test_ranges_shape(self):
        rows = golden_rows("ranges")
        assert rows
        for r in rows:
            assert set(r) == {"start", "end"} and r["start"] <= r["end"]
