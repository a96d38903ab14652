"""Silver layer: raw LedgerCloseMeta bytes → transform-ready ledger,
transaction and operation rows (reference: input/ledgers.go normalization
feeding transform_ledger / transform_transaction / transform_operation).

``decode_transactions`` / ``decode_operations`` run the pure-Python XDR
parser (sources/xdr.py) in one Arrow-batched ``mapInPandas`` pass over the
bronze table and emit rows in the TRANSACTIONS_DDL / OPERATIONS_DDL shapes
the entity transforms consume — so the full pipeline
``ledger files → bronze → silver → history_* tables`` runs on real wire
bytes with no SDK.

The full ingestion surface is decoded (sources/xdr.py + xdr_ledger.py):

- ``decode_ledgers`` emits one header row per ledger with the ledger's
  own tx and op counts (the reference's extractCounts over its
  LedgerCloseMeta), so no transform aggregates the transactions table.
- ``decode_transactions`` pairs every envelope with its
  TransactionResultMeta BY NETWORK TX HASH and fills successful /
  fee_charged / result_code, the Soroban fee ext, and the four canonical
  base64 blobs (envelope, result pair, meta, fee meta) by re-encoding the
  decoded structures (byte-exactness pinned in tests/test_xdr_golden.py).
  Each row also carries its ledger's LedgerHeaderHistoryEntry blob, close
  time and protocol version, as the reference's transaction input carries
  its header (transaction.go:20-275), so no tx-grain transform joins the
  ledgers table.  Both decoders take the header blob from one helper and
  the success rule from another.
- ``decode_operations`` attaches per-op result codes, claim atoms from
  offer/path-payment results (the trades input) and the op's PAIRED
  ledger-entry changes (stellar/go ingest.Change semantics) from the apply
  meta — the sponsor scan / trade price scan / effects inputs.  Each row
  also carries its transaction's hash and source account and its ledger's
  close time, the way the reference's operation input carries its parent
  transaction and close meta (input/operations.go:58-70), so no op-grain
  transform needs a second decode or a join to get them.
- ``decode_changes`` emits the CHANGES_DDL table (fee processing + per-op
  + tx-level changes) feeding route_changes — the StreamChanges surface.
- ``decode_contract_events`` emits the CONTRACT_EVENTS_DDL table from the
  Soroban apply meta (contract + diagnostic events, SAC token-event
  classification) — the contract-events / token-transfer surface.

Operation ``trace_code`` carries the per-type inner result-code Go name
(sources/op_result_codes.py; getOperationTraceCode, operation.go:168-231)
— verified value-exact against the reference's mainnet operations goldens
in tests/test_golden_parity.py.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from stellar_etl_spark.functions.strkey import (
    VERSION_ACCOUNT,
    VERSION_MUXED,
    encode_strkey,
)
from stellar_etl_spark.schemas import OPERATIONS_DDL, TRANSACTIONS_DDL
from stellar_etl_spark.sources.op_result_codes import trace_code_name
from stellar_etl_spark.sources.xdr import (
    Writer,
    _write_header_entry,
    parse_ledger_close_meta,
)
from stellar_etl_spark.sources.xdr_ledger import (
    TX_RESULT_CODE_NAMES as _TX_CODES,
)
from stellar_etl_spark.sources.xdr_ledger import (
    result_successful as _result_successful,
)

import base64
import struct

_I64_MAX = (1 << 63) - 1

# Nullable integer columns of the silver transactions grain that mainnet
# pushes to the int64 edge (TimeBounds max is a u64 TimePoint; wallets
# commonly send 2^63-1 "far future").  A plain pd.DataFrame turns
# int+None into float64, which silently loses precision above 2^53 and
# then fails Arrow's safe int64 cast — exact nullable Int64 avoids both.
_TX_INT64_COLS = (
    "time_bounds_min",
    "time_bounds_max",
    "ledger_bounds_min",
    "ledger_bounds_max",
    "min_account_sequence",
    "min_sequence_age",
    "min_sequence_ledger_gap",
    "new_max_fee",
    "resource_fee",
    "soroban_resources_instructions",
    "soroban_resources_read_bytes",
    "soroban_resources_write_bytes",
    "fee_refund",
    "fee_nonrefundable",
    "fee_refundable",
    "rent_fee",
    "fee_initial_charged",
)


def _exact_int64_frame(rows: list[dict], cols) -> "pd.DataFrame":
    """Build the tx batch with lossless nullable ints.

    u64 protocol values above int64 max (legal for TimePoint/duration
    fields) clamp to int64 max — the long-typed silver schema cannot carry
    them, and every such value means "unbounded/far future" in practice.
    """
    import pandas as pd

    df = pd.DataFrame(rows)
    for c in cols:
        if c in df.columns:
            df[c] = pd.array(
                [
                    None if v is None else min(int(v), _I64_MAX)
                    for v in (r.get(c) for r in rows)
                ],
                dtype="Int64",
            )
    return df


def _acct(ed25519: bytes) -> str:
    return encode_strkey(VERSION_ACCOUNT, ed25519)


def _muxed(m: dict) -> tuple[str, str | None]:
    """(G address, M address or None) for a decoded MuxedAccount."""
    g = _acct(m["ed25519"])
    if m.get("id") is None:
        return g, None
    payload = m["ed25519"] + struct.pack(">Q", m["id"])
    return g, encode_strkey(VERSION_MUXED, payload)


def _asset(a: dict | None) -> dict | None:
    if a is None:
        return None
    if a["type"] == "native":
        return {"asset_type": "native", "asset_code": None, "asset_issuer": None}
    return {
        "asset_type": a["type"],
        "asset_code": a["code"],
        "asset_issuer": _acct(a["issuer"]),
    }


def _bits(mask: int | None) -> list[int] | None:
    if mask is None:
        return None
    return [1 << b for b in range(32) if mask & (1 << b)]


_MEMO_TYPES = {
    "none": "none",
    "text": "text",
    "id": "id",
    "hash": "hash",
    "return": "return",
}


def _fee_account_refund(changes: list[dict] | None, fee_src: dict) -> int:
    """Balance delta of the fee account across a LedgerEntryChanges list —
    the reference's getAccountBalanceFromLedgerEntryChanges applied to
    meta.txChangesAfter (transaction.go:173-175, :277-305): STATE gives
    the start, UPDATED the end; each missing side defaults to 0 and the
    delta is end-start unconditionally (a one-sided changeset — e.g.
    UPDATED with no STATE — therefore yields end, not 0).  Mirrors the
    reference's muxed quirk exactly: a muxed fee source's Address() is
    the M-form, which never equals the account entry's G-address, so the
    scan finds nothing and the refund is 0."""
    if not changes or fee_src.get("id") is not None:
        return 0
    ed = fee_src["ed25519"]
    start = end = 0
    for c in changes:
        entry = c.get("entry")
        if not entry or entry.get("type") != 0:
            continue
        if entry["data"]["account_id"] != ed:
            continue
        if c["change_type"] == 3:  # STATE
            start = entry["data"]["balance"]
        elif c["change_type"] == 1:  # UPDATED (transaction.go:283-291)
            end = entry["data"]["balance"]
    return end - start


def _inner_tx(env: dict) -> dict:
    """The transaction a fee bump wraps, or the envelope's own."""
    return env["inner"]["tx"] if env["type"] == "fee_bump" else env["tx"]


def _successful(proc: dict | None) -> bool:
    """The success rule of every tx-grain decode: the result's code, and
    True for an LCM that carries no results."""
    return _result_successful(proc["result"]["result"]) if proc else True


def _tx_row(
    seq: int,
    idx: int,
    env: dict,
    proc: dict | None,
    tx_hash: bytes,
    ledger_version: int,
) -> dict:
    is_bump = env["type"] == "fee_bump"
    inner = _inner_tx(env)
    pre = inner.get("preconditions") or {}
    tb = pre.get("time_bounds")
    lb = pre.get("ledger_bounds")
    memo = inner["memo"]
    g, m = _muxed(inner["source"])
    fee_g = _muxed(env["fee_source"])[0] if is_bump else None
    max_fee = env["fee"] if is_bump else inner["fee"]

    result = proc["result"]["result"] if proc else None
    soroban = inner.get("soroban_data")
    # reference: refund computed whenever soroban data exists and the meta
    # is V3+ (transaction.go:171-175), from the fee account's balance delta
    # in txChangesAfter; it stays 0 (not None) inside the pre-P21 fix below
    refund = (
        _fee_account_refund(
            proc["meta"].get("tx_changes_after"),
            env["fee_source"] if is_bump else inner["source"],
        )
        if proc is not None
        and soroban is not None
        and proc["meta"].get("version", 0) >= 3
        else None
    )
    # the inclusion-fee sweep (transaction.go:167-169): the fee account's
    # balance delta over the FEE meta, start − end (same matching rules and
    # muxed quirk as the refund scan) — transform_transaction subtracts the
    # resource fee from it for inclusion_fee_charged
    fee_initial_charged = (
        -_fee_account_refund(
            proc["fee_changes"],
            env["fee_source"] if is_bump else inner["source"],
        )
        if proc is not None and soroban is not None
        else None
    )
    fee_charged = result["fee_charged"] if result else max_fee
    # Protocol 20 miscalculated FeeCharged for Soroban fee-bump txs
    # (stellar-core#4188, fixed in P21); the reference overrides it with
    # resource_fee - refund on those ledgers (transaction.go:185-190)
    if (
        proc is not None
        and soroban is not None
        and is_bump
        and ledger_version < 21
    ):
        fee_charged = soroban["resource_fee"] - (refund or 0)
    blobs: dict = {}
    if proc is not None:
        from stellar_etl_spark.sources.xdr import write_transaction_envelope
        from stellar_etl_spark.sources.xdr_ledger import (
            write_ledger_entry_changes,
            write_transaction_meta,
            write_transaction_result_pair,
        )

        we, wr, wm, wf = Writer(), Writer(), Writer(), Writer()
        write_transaction_envelope(we, env)
        write_transaction_result_pair(wr, proc["result"])
        write_transaction_meta(wm, proc["meta"])
        write_ledger_entry_changes(wf, proc["fee_changes"])
        blobs = {
            "tx_envelope": base64.b64encode(we.bytes()).decode(),
            "tx_result": base64.b64encode(wr.bytes()).decode(),
            "tx_meta": base64.b64encode(wm.bytes()).decode(),
            "tx_fee_meta": base64.b64encode(wf.bytes()).decode(),
        }
    return dict(
        ledger_sequence=seq,
        tx_index=idx,
        transaction_hash=tx_hash.hex(),
        source_account=g,
        source_muxed=m,
        account_sequence=inner["seq_num"],
        max_fee=max_fee,
        fee_charged=fee_charged,
        successful=_successful(proc),
        operation_count=len(inner["operations"]),
        memo_type=_MEMO_TYPES[memo["type"]],
        memo=(
            memo.get("text")
            if memo["type"] == "text"
            else str(memo["id"])
            if memo["type"] == "id"
            # hash/return memos surface BASE64 (transaction.go:81-87)
            else base64.b64encode(memo["hash"]).decode()
            if memo["type"] in ("hash", "return")
            else None
        ),
        time_bounds_min=tb["min_time"] if tb else None,
        time_bounds_max=tb["max_time"] if tb else None,
        ledger_bounds_min=lb["min_ledger"] if lb else None,
        ledger_bounds_max=lb["max_ledger"] if lb else None,
        min_account_sequence=pre.get("min_seq_num"),
        min_sequence_age=pre.get("min_seq_age"),
        min_sequence_ledger_gap=pre.get("min_seq_ledger_gap"),
        # formatSigners: nil stays nil (pre-P19 txs have no preconditions
        # V2), present lists render as SignerKey strkeys
        extra_signers=(
            None
            if pre.get("extra_signers") is None
            else [_signer_str(s) for s in pre["extra_signers"]]
        ),
        is_fee_bump=is_bump,
        fee_account=fee_g,
        fee_account_muxed=(
            _muxed(env["fee_source"])[1] if is_bump else None
        ),
        inner_transaction_hash=None,
        new_max_fee=env["fee"] if is_bump else None,
        has_soroban=soroban is not None,
        resource_fee=(soroban or {}).get("resource_fee"),
        soroban_resources_instructions=(soroban or {}).get("instructions"),
        soroban_resources_read_bytes=(soroban or {}).get("read_bytes"),
        soroban_resources_write_bytes=(soroban or {}).get("write_bytes"),
        fee_refund=refund,
        fee_initial_charged=fee_initial_charged,
        fee_nonrefundable=(
            (proc["meta"].get("soroban") or {}).get("fees") or {}
        ).get("total_non_refundable_resource_fee_charged")
        if proc
        else None,
        fee_refundable=(
            (proc["meta"].get("soroban") or {}).get("fees") or {}
        ).get("total_refundable_resource_fee_charged")
        if proc
        else None,
        rent_fee=(
            (proc["meta"].get("soroban") or {}).get("fees") or {}
        ).get("rent_fee_charged")
        if proc
        else None,
        result_code=_TX_CODES.get(result["code"]) if result else None,
        # getTxSigners (transaction.go:320-331): the RAW 64-byte signature
        # G-strkey-encoded (the reference's own quirk — not the hint, not
        # the signer account)
        tx_signers=[
            encode_strkey(VERSION_ACCOUNT, s["signature"])
            for s in env["signatures"]
        ],
        tx_envelope=blobs.get("tx_envelope"),
        tx_result=blobs.get("tx_result"),
        tx_meta=blobs.get("tx_meta"),
        tx_fee_meta=blobs.get("tx_fee_meta"),
    )


def _asset_eq_key(a: dict) -> tuple:
    return (a.get("asset_type"), a.get("asset_code"), a.get("asset_issuer"))


def _enrich_body(
    body: dict, t: int, res: dict | None, atoms: list[dict], source_g: str
) -> dict:
    """Fill the result-derived body fields the effect/operation transforms
    read (the reference reaches into the OperationResult for these):

    - allow_trust (7): asset_issuer = op source (op.Asset.ToAsset(source))
    - account_merge (8): source_amount = result.sourceAccountBalance
    - strict receive (2): source_amount = result.SendAmount() — first-hop
      bought-asset total over the claims, Last.Amount when none
    - strict send (13): amount = result.DestAmount() = success.Last.Amount
    """
    if t == 7 and body.get("asset"):
        body["asset"]["asset_issuer"] = source_g
    if res is None or res.get("code") != 0 or res.get("inner_code") != 0:
        return body
    if t == 8 and "source_account_balance" in res:
        body["source_amount"] = res["source_account_balance"]
    elif t == 9 and res.get("payouts") is not None:
        # inflation payouts live only in the RESULT; the effect transform
        # reads body.payouts for per-payout account_credited rows
        # (effects.go:745-755)
        body["payouts"] = [
            {"destination": _acct(p["destination"]), "amount": p["amount"]}
            for p in res["payouts"]
        ]
    elif t in (2, 13) and res.get("success"):
        last_amount = res["success"]["last"]["amount"]
        if t == 13:
            body["amount"] = last_amount
        elif not atoms:
            body["source_amount"] = last_amount
        else:
            k = _asset_eq_key(atoms[0]["asset_bought"])
            body["source_amount"] = sum(
                a["amount_bought"]
                for a in atoms
                if _asset_eq_key(a["asset_bought"]) == k
            )
    return body


def _op_body(t: int, b: dict) -> dict:
    out: dict = {}
    if t == 0:
        out = {
            "account": _acct(b["destination"]),
            "starting_balance": b["starting_balance"],
        }
    elif t == 1:
        to_g, to_m = _muxed(b["destination"])
        out = {
            "to": to_g,
            "to_muxed": to_m,
            "asset": _asset(b["asset"]),
            "amount": b["amount"],
        }
    elif t in (2, 13):
        to_g, to_m = _muxed(b["destination"])
        out = {
            "send_asset": _asset(b["send_asset"]),
            "to": to_g,
            "to_muxed": to_m,
            "dest_asset": _asset(b["dest_asset"]),
            "dest_amount": b["dest_amount"],
            "path": [_asset(a) for a in b["path"]],
        }
        if t == 2:  # strict receive bids a send MAXIMUM
            out["send_max"] = b["send_amount"]
        else:  # strict send fixes the source amount, floors the dest
            out["source_amount"] = b["send_amount"]
            out["dest_min"] = b["dest_amount"]
    elif t in (3, 4, 12):
        out = {
            "selling": _asset(b["selling"]),
            "buying": _asset(b["buying"]),
            "amount": b["amount"],
            "price_n": b["price"][0],
            "price_d": b["price"][1],
        }
        if t != 4:
            out["offer_id"] = b["offer_id"]
    elif t == 5:
        out = {
            "inflation_dest": (
                _acct(b["inflation_dest"]) if b["inflation_dest"] else None
            ),
            "set_flags": _bits(b["set_flags"]),
            "clear_flags": _bits(b["clear_flags"]),
            "master_weight": b["master_weight"],
            "low_threshold": b["low_threshold"],
            "med_threshold": b["med_threshold"],
            "high_threshold": b["high_threshold"],
            "home_domain": b["home_domain"],
        }
        if b["signer"]:
            out["signer_key"] = _signer_key_address(b["signer"]["key"])
            out["signer_weight"] = b["signer"]["weight"]
    elif t == 6:
        out = {"line": _asset(b["line"]), "limit": b["limit"]}
    elif t == 8:
        out = {"account": _muxed(b["destination"])[0]}
    elif t == 7:
        # AllowTrustOp carries a bare AssetCode; the asset resolves against
        # the op SOURCE as issuer (op.Asset.ToAsset(source), effects.go:700)
        # — the caller patches asset_issuer in once the source is known.
        out = {
            "trustor": _acct(b["trustor"]),
            "authorize": b["authorize"] != 0,
            "authorize_flags": b["authorize"],
            "asset": {
                "asset_type": (
                    "credit_alphanum4"
                    if len(b["asset_code"]) <= 4
                    else "credit_alphanum12"
                ),
                "asset_code": b["asset_code"],
                "asset_issuer": None,
            },
        }
    elif t == 10:
        out = {
            "data_name": b["data_name"],
            "data_value": (
                base64.b64encode(b["data_value"]).decode()
                if b["data_value"] is not None
                else None
            ),
        }
    elif t == 11:
        out = {"bump_to": b["bump_to"]}
    elif t == 14:
        out = {
            "asset": _asset(b["asset"]),
            "amount": b["amount"],
            "claimants": [
                {
                    "destination": _acct(c["destination"]),
                    # SAME JSON shape as the entry-side claimants
                    # (silver.py predicate_ref_json): consumers joining op
                    # claimants against claimable-balance entry claimants
                    # must see one encoding, the reference's Go MarshalJSON
                    "predicate": _json_dumps_compact(
                        predicate_ref_json(c["predicate"])
                    ),
                }
                for c in b["claimants"]
            ],
        }
    elif t in (15, 20):
        out = {"balance_id": "00000000" + b["balance_id"].hex()}
    elif t == 16:
        out = {"sponsored_id": _acct(b["sponsored_id"])}
    elif t == 18:
        if "ledger_key" in b:
            k = b["ledger_key"]
            revoke = {"entry_type": {0: "account", 1: "trustline", 2: "offer",
                                     3: "data", 4: "claimable_balance",
                                     5: "liquidity_pool"}.get(k["type"])}
            if k["type"] == 0:
                revoke["account_id"] = _acct(k["account_id"])
            elif k["type"] == 1:
                revoke["trustline_account_id"] = _acct(k["account_id"])
                if k["asset"].get("type") == "pool_share":
                    revoke["trustline_pool_id"] = k["asset"]["pool_id"].hex()
                else:
                    revoke["trustline_asset"] = _asset(k["asset"])
            elif k["type"] == 2:
                revoke["offer_id"] = k["offer_id"]
            elif k["type"] == 3:
                revoke["data_account_id"] = _acct(k["account_id"])
                revoke["data_name"] = k["data_name"]
            elif k["type"] == 4:
                revoke["claimable_balance_id"] = (
                    "00000000" + k["balance_id"].hex()
                )
            elif k["type"] == 5:
                revoke["pool_id"] = k["pool_id"].hex()
        else:
            revoke = {
                "signer_account_id": _acct(b["signer_account_id"]),
                "signer_key": _signer_key_address(b["signer_key"]),
            }
        out = {"revoke": revoke}
    elif t == 19:
        out = {
            "from": _muxed(b["from"])[0],
            "asset": _asset(b["asset"]),
            "amount": b["amount"],
        }
    elif t == 21:
        out = {
            "trustor": _acct(b["trustor"]),
            "asset": _asset(b["asset"]),
            "set_flags": _bits(b["set_flags"]),
            "clear_flags": _bits(b["clear_flags"]),
        }
    elif t == 22:
        out = {
            "pool_id": b["pool_id"].hex(),
            "max_amount_a": b["max_amount_a"],
            "max_amount_b": b["max_amount_b"],
            "min_price_n": b["min_price"][0],
            "min_price_d": b["min_price"][1],
            "max_price_n": b["max_price"][0],
            "max_price_d": b["max_price"][1],
        }
    elif t == 23:
        out = {
            "pool_id": b["pool_id"].hex(),
            "shares": b["amount"],
            "min_amount_a": b["min_amount_a"],
            "min_amount_b": b["min_amount_b"],
        }
    elif t == 24:
        # function name only; the rest of the soroban surface (sub-type,
        # 4-way parameters, preimage, footprint hashes, balance changes)
        # is filled by _soroban_op_extras, which needs the tx envelope +
        # processing alongside the op body
        out = {"fn_type": _HOST_FN_TYPE_NAMES[next(iter(b["host_function"]))]}
    elif t == 25:
        out = {"extend_to": b["extend_to"]}
    return out


def _json_dumps_compact(v) -> str:
    import json as _json

    return _json.dumps(v, separators=(",", ":"))


def predicate_ref_json(p: dict) -> dict:
    """Decoded ClaimPredicate → the reference's JSON shape (Go xdr
    MarshalJSON as seen in testdata/changes/claimable_balances.golden):
    ``{"unconditional":true}``, ``{"and":[...]}``, ``{"not":{...}}``,
    ``{"abs_before":"<RFC3339>","abs_before_epoch":"<unix-string>"}``."""
    from datetime import datetime, timezone

    t = p["type"]
    if t == "unconditional":
        return {"unconditional": True}
    if t in ("and", "or"):
        return {t: [predicate_ref_json(q) for q in p["preds"]]}
    if t == "not":
        return {"not": predicate_ref_json(p["pred"]) if p["pred"] else None}
    if t == "before_absolute_time":
        ts = p["abs_before"]
        iso = datetime.fromtimestamp(ts, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        return {"abs_before": iso, "abs_before_epoch": str(ts)}
    if t == "before_relative_time":
        return {"rel_before": str(p["rel_before"])}
    raise ValueError(f"bad predicate type {t}")


def _match_processing(meta: dict, passphrase: str) -> list[tuple]:
    """Pair each envelope with its TransactionResultMeta by NETWORK TX HASH
    (txProcessing is in apply order, the tx set in its own order — the
    reference's LedgerTransactionReader also pairs by hash)."""
    from stellar_etl_spark.sources.xdr import transaction_hash

    by_hash = {}
    for proc in meta["tx_processing"] or []:
        by_hash[proc["result"]["transaction_hash"]] = proc
    have_processing = bool(meta["tx_processing"])
    out = []
    for env in meta["envelopes"]:
        th = transaction_hash(env, passphrase)
        proc = by_hash.get(th)
        if have_processing and proc is None:
            # a silent None here would flow into _tx_row's no-results
            # defaults (successful=True, fee_charged=max_fee) — recording
            # an unmatched tx as a successful one.  Results-bearing LCMs
            # must pair every envelope; anything else is corrupt input or
            # a wrong passphrase, and the job should say so.
            raise ValueError(
                f"no TransactionResultMeta matches envelope hash "
                f"{th.hex()} in ledger {meta['header'].ledger_seq} — "
                "corrupt LCM or wrong network passphrase?"
            )
        out.append((env, th, proc))
    return out


def _header_history_b64(meta: dict) -> str:
    """The ledger's LedgerHeaderHistoryEntry (hash + header + ext) as
    base64: the ledger row's ledger_header_history and every one of its
    transaction rows' tx_ledger_history (ledger_transaction.go:37-40)."""
    w = Writer()
    _write_header_entry(w, meta["entry_hash"], meta["header"])
    return base64.b64encode(w.bytes()).decode()


def _op_results(proc: dict | None) -> list:
    """The operation results of a tx's result; a fee bump's are its inner
    transaction's."""
    result = proc["result"]["result"] if proc else None
    if result is not None and result["code"] in (1, -13):
        result = result["inner_result"]
    return (result or {}).get("op_results") or []


def _ledger_counts(meta: dict) -> tuple[int, int, int, int]:
    """extractCounts (ledger.go:120-153): successful txs, failed txs, the
    operation results of the successful txs and the operations of the tx
    set, under decode_transactions' success rule, no-results default
    included.  Each is a sum, so results need no pairing with envelopes."""
    all_ops = sum(len(_inner_tx(env)["operations"]) for env in meta["envelopes"])
    procs = meta["tx_processing"]
    if not procs:
        return len(meta["envelopes"]), 0, all_ops, all_ops
    ok = [proc for proc in procs if _successful(proc)]
    return (
        len(ok),
        len(procs) - len(ok),
        sum(len(_op_results(proc)) for proc in ok),
        all_ops,
    )


def decode_transactions(
    bronze: DataFrame, passphrase: str = "Public Global Stellar Network ; September 2015"
) -> DataFrame:
    """One TRANSACTIONS_DDL row per envelope (GetTransactions surface,
    input/transactions.go) from raw LCM bytes — results, fees, soroban fee
    ext, and the four canonical base64 blobs filled from txProcessing — with
    its ledger's header entry blob, close time and protocol version."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["lcm_xdr"]:
                meta = parse_ledger_close_meta(bytes(raw))
                h = meta["header"]
                ledger = {
                    "tx_ledger_history": _header_history_b64(meta),
                    "closed_at": pd.Timestamp(h.close_time, unit="s"),
                    "protocol_version": h.ledger_version,
                }
                for i, (env, th, proc) in enumerate(
                    _match_processing(meta, passphrase), start=1
                ):
                    rows.append(
                        {
                            **_tx_row(
                                h.ledger_seq, i, env, proc, th, h.ledger_version
                            ),
                            **ledger,
                        }
                    )
            # a batch without transactions yields no frame at all
            if rows:
                yield _exact_int64_frame(rows, _TX_INT64_COLS)

    return bronze.mapInPandas(gen, schema=TRANSACTIONS_DDL)


# Go union arm names for ScVal (stellar/go xdr ArmForSwitch) — the "type"
# string serializeParameters emits (operation.go:2260-2262; pinned by the
# reference's own operation_test.go:1863-1869 "Address"/"Sym"/"B" vectors).
# Void and the ledger-key-contract-instance discriminant have no arm: "".
_SC_ARM_NAMES = {
    "bool": "B", "void": "", "error": "Error", "u32": "U32", "i32": "I32",
    "u64": "U64", "i64": "I64", "timepoint": "Timepoint",
    "duration": "Duration", "u128": "U128", "i128": "I128", "u256": "U256",
    "i256": "I256", "bytes": "Bytes", "string": "Str", "symbol": "Sym",
    "vec": "Vec", "map": "Map", "address": "Address", "instance": "Instance",
    "ledger_key_contract_instance": "", "ledger_key_nonce": "NonceKey",
}


def _limbs_to_int(limbs: list[int], signed: bool) -> int:
    v = 0
    for x in limbs:
        v = (v << 64) | x
    if signed and limbs[0] >= 1 << 63:
        v -= 1 << (64 * len(limbs))
    return v


def _sc_val_go_string(v: dict) -> str:
    """ScVal.String() twin for parameters_decoded (operation.go:2265).

    Exact per the reference's pinned vectors (operation_test.go:1871-1880,
    2014-2019): Address → strkey, Sym → raw text, B → "true"/"false".
    Scalars render as their natural decimal/text; composites fall back to
    the compact xdrjson form (the stellar/go SDK source is not vendored in
    the reference, so only the pinned arms are certain)."""
    k, x = next(iter(v.items()))
    if k == "bool":
        return "true" if x else "false"
    if k == "void":
        return ""
    if k in ("u32", "i32", "u64", "i64", "timepoint", "duration"):
        return str(x)
    if k in ("u128", "i128"):
        return str((x["hi"] << 64) | x["lo"])
    if k in ("u256", "i256"):
        return str(_limbs_to_int(x, k == "i256"))
    if k == "bytes":
        return base64.b64encode(x).decode()
    if k == "string":
        return x.decode() if isinstance(x, bytes) else x
    if k == "symbol":
        return x
    if k == "address":
        return _addr_str(x) or ""
    return sc_val_json(v)


def _param_entry(v: dict) -> dict:
    """One serialized host-function parameter: Go arm name, base64 XDR,
    String() twin, and the xdrjson form (serializeParameters +
    serializeScValArray, operation.go:2247-2273 / contract_events.go:154)."""
    from stellar_etl_spark.sources.xdr_ledger import write_sc_val

    w = Writer()
    write_sc_val(w, v)
    return {
        "type": _SC_ARM_NAMES.get(next(iter(v)), ""),
        "value": base64.b64encode(w.bytes()).decode(),
        "decoded": _sc_val_go_string(v),
        "json": sc_val_json(v),
    }


def _footprint_details(tx: dict) -> tuple:
    """(ledger_key_hash, contract_id, contract_code_hash) from the tx's
    soroban footprint, mirroring the reference's scan orders exactly:
    hashes = read_only then read_write (operation.go:1859-1874); contract
    id = first contract-data key, READ-WRITE first (operation.go:1808-1824);
    code hash = first contract-code key, READ-ONLY first
    (operation.go:1841-1857).  Missing values are EMPTY STRINGS, not nulls
    (operation_test.go:1947-1948), and an empty footprint yields a null
    hash list (Go nil slice)."""
    import hashlib

    from stellar_etl_spark.sources.xdr_ledger import (
        ENTRY_CONTRACT_CODE,
        ENTRY_CONTRACT_DATA,
        write_ledger_key,
    )

    sd = tx.get("soroban_data")
    if sd is None:
        return None, "", ""
    ro = list(sd["footprint"]["read_only"])
    rw = list(sd["footprint"]["read_write"])
    hashes = []
    for k in ro + rw:
        w = Writer()
        write_ledger_key(w, k)
        hashes.append(hashlib.sha256(w.bytes()).hexdigest())
    contract_id = ""
    for k in rw + ro:
        if (
            k["type"] == ENTRY_CONTRACT_DATA
            and k["contract"]["type"] == "contract"
        ):
            contract_id = encode_strkey(
                VERSION_CONTRACT, k["contract"]["contract_id"]
            )
            break
    code_hash = ""
    for k in ro + rw:
        if k["type"] == ENTRY_CONTRACT_CODE:
            code_hash = k["hash"].hex()
            break
    return (hashes or None), contract_id, code_hash


def _sep11_asset(raw) -> dict | None:
    """Parse a SEP-11 asset string ("native" or CODE:G...) into the
    read_asset dict shape; None when it is not a valid asset string."""
    from stellar_etl_spark.functions.strkey import decode_strkey

    s = raw.decode() if isinstance(raw, bytes) else raw
    if not isinstance(s, str):
        return None
    if s == "native":
        return {"type": "native"}
    code, sep, issuer = s.partition(":")
    if not sep or not (1 <= len(code) <= 12):
        return None
    try:
        ver, payload = decode_strkey(issuer)
    except (ValueError, KeyError):
        return None
    if ver != VERSION_ACCOUNT or len(payload) != 32:
        return None
    t = "credit_alphanum4" if len(code) <= 4 else "credit_alphanum12"
    return {"type": t, "code": code, "issuer": payload}


def _sac_contract_id_py(asset: dict, passphrase: str) -> bytes:
    """HashIDPreimage ENVELOPE_TYPE_CONTRACT_ID(16) || network id ||
    CONTRACT_ID_PREIMAGE_FROM_ASSET(1) || asset XDR — the pure-Python twin
    of transforms/changes._asset_contract_id (asset.ContractID in the
    reference's SAC verification)."""
    import hashlib

    nid = hashlib.sha256(passphrase.encode()).digest()
    if asset["type"] == "native":
        axdr = bytes(4)
    else:
        n = 4 if asset["type"] == "credit_alphanum4" else 12
        tag = b"\x00\x00\x00\x01" if n == 4 else b"\x00\x00\x00\x02"
        axdr = (
            tag
            + asset["code"].encode().ljust(n, b"\x00")
            + bytes(4)  # PUBLIC_KEY_TYPE_ED25519
            + asset["issuer"]
        )
    pre = b"\x00\x00\x00\x10" + nid + b"\x00\x00\x00\x01" + axdr
    return hashlib.sha256(pre).digest()


def _string128(v: int) -> str:
    """amount.String128: the i128 value scaled by 1e-7 with 7 decimals."""
    sign = "-" if v < 0 else ""
    v = abs(v)
    return f"{sign}{v // 10**7}.{v % 10**7:07d}"


# required topic counts per SAC event kind (stellar/go contractevents:
# transfer [t, from, to, asset]; mint/clawback carry an admin topic;
# burn [b, from, asset])
_SAC_TOPIC_COUNTS = {"transfer": 4, "mint": 4, "clawback": 4, "burn": 3}


def _sac_balance_change(ev: dict, passphrase: str) -> dict | None:
    """One asset_balance_changes entry from a verified SAC event, or None
    (parseAssetBalanceChangesFromContractEvents +
    createSACBalanceChangeEntry, operation.go:1942-1998).  Verification
    mirrors contractevents.NewStellarAssetContractEvent: kind symbol, exact
    topic count, SEP-11 asset in the last topic, the event's contract id
    re-derived from that asset, and an i128 amount."""
    topics = ev["topics"]
    if not topics:
        return None
    kind = topics[0].get("symbol")
    want = _SAC_TOPIC_COUNTS.get(kind)
    if want is None or len(topics) != want:
        return None
    asset = _sep11_asset(topics[-1].get("string"))
    if asset is None:
        return None
    if ev["contract_id"] != _sac_contract_id_py(asset, passphrase):
        return None
    amt = ev["data"].get("i128")
    if amt is None:
        return None
    addrs = [t.get("address") for t in topics[1:-1]]
    if any(a is None for a in addrs):
        return None
    out = {
        "type": kind,
        "amount": _string128((amt["hi"] << 64) | amt["lo"]),
        "asset_type": asset["type"],
    }
    if asset["type"] != "native":
        out["asset_code"] = asset["code"]
        out["asset_issuer"] = _acct(asset["issuer"])
    # transfer: [from, to]; mint: [admin, to] -> to only; clawback:
    # [admin, from] -> from only; burn: [from] (operation.go:1958-1970
    # leaves the absent side out of the entry)
    if kind == "transfer":
        out["from"] = _addr_str(addrs[0])
        out["to"] = _addr_str(addrs[1])
    elif kind == "mint":
        out["to"] = _addr_str(addrs[-1])
    else:  # clawback / burn debit `from`
        out["from"] = _addr_str(addrs[-1])
    return out


def _asset_balance_changes_json(proc: dict | None, passphrase: str) -> str:
    """The invoke-host-function asset_balance_changes list as canonical
    JSON (Go json.Marshal sorts map keys).  Diagnostic events filter:
    in-successful-call AND contract type only (filterEvents,
    operation.go:1886-1895); when the meta carries no diagnostics the bare
    contract events stand in, wrapped with the tx's success flag — the
    GetDiagnosticEvents shape decode_contract_events also mirrors."""
    import json as _json

    soroban = (
        proc["meta"].get("soroban")
        if proc is not None and proc["meta"].get("version", 0) >= 3
        else None
    )
    entries = []
    if soroban:
        ok = _result_successful(proc["result"]["result"])
        diags = soroban["diagnostic_events"] or [
            {"in_successful_contract_call": ok, "event": e}
            for e in soroban["events"]
        ]
        for d in diags:
            if not d["in_successful_contract_call"]:
                continue
            if d["event"]["type"] != 1:  # contract events only
                continue
            entry = _sac_balance_change(d["event"], passphrase)
            if entry is not None:
                entries.append(entry)
    return _json.dumps(entries, separators=(",", ":"), sort_keys=True)


_HOST_FN_TYPE_NAMES = {
    "invoke_contract": "HostFunctionTypeHostFunctionTypeInvokeContract",
    "create_contract": "HostFunctionTypeHostFunctionTypeCreateContract",
    "create_contract_v2": "HostFunctionTypeHostFunctionTypeCreateContractV2",
    "upload_wasm": "HostFunctionTypeHostFunctionTypeUploadContractWasm",
}


def _soroban_op_extras(
    t: int, b: dict, tx: dict, proc: dict | None, passphrase: str
) -> dict:
    """The soroban detail surface of operation.go:1063-1159 for op types
    24/25/26: sub-type, 4-way serialized parameters (invoke args PREPEND
    the contract address + function symbol ScVals, operation.go:1070-1073),
    create-contract preimage fields, footprint-derived hashes/ids, and the
    SAC balance-change list."""
    hashes, fp_contract, fp_code = _footprint_details(tx)
    out: dict = {
        "ledger_key_hash": hashes,
        "contract_code_hash": fp_code,
        "footprint_contract_id": fp_contract,
    }
    if t == 25:
        out["soroban_type"] = "extend_footprint_ttl"
        return out
    if t == 26:
        out["soroban_type"] = "restore_footprint"
        return out
    fn = b["host_function"]
    kind = next(iter(fn))
    out["soroban_type"] = kind
    if kind == "invoke_contract":
        inv = fn[kind]
        args = [
            {"address": inv["contract_address"]},
            {"symbol": inv["function_name"]},
            *inv["args"],
        ]
        out["params"] = [_param_entry(a) for a in args]
        # invokeArgs.ContractAddress.String() — any ScAddress arm, not
        # just contracts (operation.go:1077)
        out["contract_id"] = _addr_str(inv["contract_address"])
        out["asset_balance_changes"] = _asset_balance_changes_json(
            proc, passphrase
        )
    elif kind in ("create_contract", "create_contract_v2"):
        pre = fn[kind]["preimage"]
        if "asset" in pre:
            a = pre["asset"]
            out["preimage_from"] = "asset"
            out["preimage_asset"] = (
                "native"
                if a["type"] == "native"
                else f"{a['code']}:{_acct(a['issuer'])}"
            )
        else:
            out["preimage_from"] = "address"
            out["preimage_address"] = _addr_str(pre["address"])
        if kind == "create_contract_v2":
            out["params"] = [
                _param_entry(a) for a in fn[kind]["constructor_args"]
            ]
    return out


def decode_operations(
    bronze: DataFrame, passphrase: str = "Public Global Stellar Network ; September 2015"
) -> DataFrame:
    """One OPERATIONS_DDL row per operation from raw LCM bytes
    (GetOperations surface, input/operations.go) — with per-op result codes,
    claim atoms from offer/path-payment results (the trades input), the op's
    paired ledger-entry changes (the sponsor/effects/trade price scan input)
    from the apply meta, and its transaction's hash and source and its
    ledger's close time."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["lcm_xdr"]:
                meta = parse_ledger_close_meta(bytes(raw))
                h = meta["header"]
                closed_at = pd.Timestamp(h.close_time, unit="s")
                for ti, (env, th, proc) in enumerate(
                    _match_processing(meta, passphrase), start=1
                ):
                    tx = _inner_tx(env)
                    tx_source = _muxed(tx["source"])[0]
                    op_results = _op_results(proc)
                    op_metas = proc["meta"]["operations"] if proc else []
                    successful = _successful(proc)
                    for oi, op in enumerate(tx["operations"]):
                        g, m = (
                            _muxed(op["source"]) if op["source"] else (None, None)
                        )
                        soroban_extras = (
                            _soroban_op_extras(
                                op["type"], op["body"], tx, proc, passphrase
                            )
                            if op["type"] in (24, 25, 26)
                            else {}
                        )
                        res = op_results[oi] if oi < len(op_results) else None
                        atoms = []
                        result_offer_id = None
                        if res is not None and res.get("inner_code") == 0:
                            succ = res.get("success") or {}
                            atoms = [
                                _atom_dict(a)
                                for a in (
                                    succ.get("offers")
                                    or succ.get("offers_claimed")
                                    or []
                                )
                            ]
                            # the resting offer of a manage-offer success —
                            # its id is the REAL buying_offer_id for trades
                            # (trade.go:116-118); absent for path payments
                            # and fully-consumed offers (→ synthetic id)
                            if isinstance(succ, dict) and succ.get("offer"):
                                result_offer_id = succ["offer"]["offer_id"]
                        changes = (
                            [
                                op_change_struct(pc)
                                for pc in pair_changes(op_metas[oi]["changes"])
                            ]
                            if oi < len(op_metas)
                            else []
                        )
                        rows.append(
                            dict(
                                ledger_sequence=h.ledger_seq,
                                tx_index=ti,
                                op_index=oi,
                                type=op["type"],
                                source_account=g,
                                source_muxed=m,
                                tx_successful=successful,
                                transaction_hash=th.hex(),
                                tx_source_account=tx_source,
                                closed_at=closed_at,
                                result_code=(
                                    _OP_RESULT_CODE_NAMES.get(res["code"])
                                    if res
                                    else None
                                ),
                                trace_code=(
                                    trace_code_name(
                                        op["type"], res.get("inner_code")
                                    )
                                    if res and res["code"] == 0
                                    else None
                                ),
                                result_offer_id=result_offer_id,
                                body={
                                    **_enrich_body(
                                        _op_body(op["type"], op["body"]),
                                        op["type"],
                                        res,
                                        atoms,
                                        g or tx_source,
                                    ),
                                    **soroban_extras,
                                },
                                claim_atoms=atoms,
                                changes=changes,
                            )
                        )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=[
                    "ledger_sequence", "tx_index", "op_index", "type",
                    "source_account", "source_muxed", "tx_successful",
                    "transaction_hash", "tx_source_account", "closed_at",
                    "result_code", "trace_code", "result_offer_id", "body",
                    "claim_atoms", "changes",
                ]
            )

    return bronze.mapInPandas(gen, schema=OPERATIONS_DDL)


# ---------------------------------------------------------------------------
# Full-decode silver: results, claim atoms, per-op changes, change rows
# ---------------------------------------------------------------------------

from stellar_etl_spark.functions.strkey import (  # noqa: E402
    VERSION_CONTRACT,
    VERSION_LIQUIDITY_POOL,
)
from stellar_etl_spark.sources import xdr_ledger as XL  # noqa: E402
from stellar_etl_spark.sources.xdr import (  # noqa: E402
    Writer,
    transaction_hash,
)

PUBLIC_PASSPHRASE = "Public Global Stellar Network ; September 2015"

_ASSET_TYPE_NAMES = {
    "native": "native",
    "credit_alphanum4": "credit_alphanum4",
    "credit_alphanum12": "credit_alphanum12",
}

_SCVAL_TYPE_NAMES = {
    "bool": "ScValTypeScvBool",
    "void": "ScValTypeScvVoid",
    "error": "ScValTypeScvError",
    "u32": "ScValTypeScvU32",
    "i32": "ScValTypeScvI32",
    "u64": "ScValTypeScvU64",
    "i64": "ScValTypeScvI64",
    "timepoint": "ScValTypeScvTimepoint",
    "duration": "ScValTypeScvDuration",
    "u128": "ScValTypeScvU128",
    "i128": "ScValTypeScvI128",
    "u256": "ScValTypeScvU256",
    "i256": "ScValTypeScvI256",
    "bytes": "ScValTypeScvBytes",
    "string": "ScValTypeScvString",
    "symbol": "ScValTypeScvSymbol",
    "vec": "ScValTypeScvVec",
    "map": "ScValTypeScvMap",
    "address": "ScValTypeScvAddress",
    "instance": "ScValTypeScvContractInstance",
    "ledger_key_contract_instance": "ScValTypeScvLedgerKeyContractInstance",
    "ledger_key_nonce": "ScValTypeScvLedgerKeyNonce",
}

_OP_RESULT_CODE_NAMES = {
    0: "OperationResultCodeOpInner",
    -1: "OperationResultCodeOpBadAuth",
    -2: "OperationResultCodeOpNoAccount",
    -3: "OperationResultCodeOpNotSupported",
    -4: "OperationResultCodeOpTooManySubentries",
    -5: "OperationResultCodeOpExceededWorkLimit",
    -6: "OperationResultCodeOpTooManySponsoring",
}


# ScError type/code ordinals → the snake_case names stellar-xdr's serde
# emits (Stellar-contract.x SCErrorType / SCErrorCode, in declaration order)
_SC_ERROR_TYPES = (
    "contract", "wasm_vm", "context", "storage", "object",
    "crypto", "events", "budget", "value", "auth",
)
_SC_ERROR_CODES = (
    "arith_domain", "index_bounds", "invalid_input", "missing_value",
    "existing_value", "exceeded_limit", "invalid_action", "internal_error",
    "unexpected_type", "unexpected_size",
)


def sc_val_json(v) -> object:
    """JSON-able rendering of a decoded SCVal, matching the reference's
    xdrjson shape (bytes as hex, recursive vec/map, SCAddress as its
    strkey string — testdata/changes/contract_data.golden key_decoded /
    val_decoded).  The wire dicts (read_sc_val) keep faithful XDR field
    names and raw integers; the JSON-shape adaptations live HERE:

    - ScString renders as a UTF-8 JSON string, not hex (golden storage
      keys: ``{"key":{"string":"admin"}}``);
    - ScContractInstance renders as ``contract_instance`` with executable
      ``{"wasm": <hex>}`` / ``"stellar_asset"`` (golden val_decoded);
    - U/Int256Parts render as the four named u64 limbs (hi_hi signed for
      i256), per the public stellar-xdr serde shape;
    - ScError renders as ``{"<type>": <contract_code|code_name>}``.
    """
    import json as _json

    def conv(x):
        if isinstance(x, bytes):
            return x.hex()
        if isinstance(x, dict):
            if set(x) == {"address"} and isinstance(x["address"], dict):
                s = _addr_str(x["address"])
                if s is not None:
                    return {"address": s}
            if set(x) == {"string"} and isinstance(x["string"], (bytes, bytearray)):
                return {"string": x["string"].decode("utf-8", errors="replace")}
            if set(x) == {"u256"} and isinstance(x["u256"], list):
                a, b, c, d = x["u256"]
                return {"u256": {"hi_hi": a, "hi_lo": b, "lo_hi": c, "lo_lo": d}}
            if set(x) == {"i256"} and isinstance(x["i256"], list):
                a, b, c, d = x["i256"]
                if a >= 1 << 63:  # hi_hi is the signed limb
                    a -= 1 << 64
                return {"i256": {"hi_hi": a, "hi_lo": b, "lo_hi": c, "lo_lo": d}}
            if (
                set(x) == {"error"}
                and isinstance(x["error"], dict)
                and "type" in x["error"]
            ):
                e = x["error"]
                tname = _SC_ERROR_TYPES[e["type"]]
                if e["type"] == 0:
                    return {"error": {tname: e["contract_code"]}}
                return {"error": {tname: _SC_ERROR_CODES[e["code"]]}}
            if set(x) == {"instance"} and isinstance(x["instance"], dict):
                inst = x["instance"]
                ex = inst["executable"]
                ex_out = (
                    {"wasm": ex["wasm_hash"].hex()}
                    if "wasm_hash" in ex
                    else "stellar_asset"
                )
                return {
                    "contract_instance": {
                        "executable": ex_out,
                        "storage": conv(inst["storage"]),
                    }
                }
            # void union arms render as the bare arm name (Go xdr JSON:
            # key_decoded "ledger_key_contract_instance" in the goldens)
            if len(x) == 1 and next(iter(x.values())) is None:
                return next(iter(x))
            return {k: conv(val) for k, val in x.items()}
        if isinstance(x, list):
            return [conv(e) for e in x]
        return x

    return _json.dumps(conv(v), separators=(",", ":"), sort_keys=False)


def _asset_dict(a: dict | None) -> dict | None:
    """Decoded asset → CHANGES asset struct (type/code/issuer strkey)."""
    if a is None:
        return None
    if a.get("type") == "pool_share":
        return None
    if a["type"] == "native":
        return {"asset_type": "native", "asset_code": None, "asset_issuer": None}
    return {
        "asset_type": a["type"],
        "asset_code": a["code"],
        "asset_issuer": _acct(a["issuer"]),
    }


def pair_changes(changes: list[dict]) -> list[dict]:
    """LedgerEntryChanges → (pre, post) pairs — stellar/go ingest.Change
    semantics: CREATED stands alone (post only); UPDATED / REMOVED consume
    the immediately preceding STATE as their pre; RESTORED acts as created.
    Output change_type codes follow the engine's CHANGES_DDL convention:
    0 created, 1 updated, 2 removed."""
    out = []
    state = None
    for c in changes:
        t = c["change_type"]
        if t == XL.CHANGE_STATE:
            state = c["entry"]
        elif t in (XL.CHANGE_CREATED, XL.CHANGE_RESTORED):
            out.append({"change_type": 0, "pre": None, "post": c["entry"]})
            state = None
        elif t == XL.CHANGE_UPDATED:
            out.append({"change_type": 1, "pre": state, "post": c["entry"]})
            state = None
        elif t == XL.CHANGE_REMOVED:
            out.append(
                {"change_type": 2, "pre": state, "post": None, "key": c["key"]}
            )
            state = None
    return out


def _entry_to_key(e: dict) -> dict:
    t, d = e["type"], e["data"]
    if t == XL.ENTRY_ACCOUNT:
        return {"type": t, "account_id": d["account_id"]}
    if t == XL.ENTRY_TRUSTLINE:
        return {"type": t, "account_id": d["account_id"], "asset": d["asset"]}
    if t == XL.ENTRY_OFFER:
        return {"type": t, "seller_id": d["seller_id"], "offer_id": d["offer_id"]}
    if t == XL.ENTRY_DATA:
        return {"type": t, "account_id": d["account_id"], "data_name": d["data_name"]}
    if t == XL.ENTRY_CLAIMABLE:
        return {"type": t, "balance_id": d["balance_id"]}
    if t == XL.ENTRY_POOL:
        return {"type": t, "pool_id": d["pool_id"]}
    if t == XL.ENTRY_CONTRACT_DATA:
        return {
            "type": t,
            "contract": d["contract"],
            "key": d["key"],
            "durability": d["durability"],
        }
    if t == XL.ENTRY_CONTRACT_CODE:
        return {"type": t, "hash": d["hash"]}
    if t == XL.ENTRY_CONFIG:
        return {"type": t, "config_setting_id": d["config_setting_id"]}
    if t == XL.ENTRY_TTL:
        return {"type": t, "key_hash": d["key_hash"]}
    raise ValueError(f"bad entry type {t}")


def _signer_key_address(key: dict) -> str:
    """SignerKey.Address() strkey rendering (the reference renders every
    signer-key arm as its canonical strkey, not hex): ed25519 -> G,
    preAuthTx -> T, hashX -> X, ed25519SignedPayload -> P (key + u32 len +
    payload padded to 4)."""
    t = key["type"]
    if t == 0:
        return _acct(key["key"])
    if t == 1:  # PRE_AUTH_TX -> 'T'
        return encode_strkey(19 << 3, key["key"])
    if t == 2:  # HASH_X -> 'X'
        return encode_strkey(23 << 3, key["key"])
    if t == 3:  # ED25519_SIGNED_PAYLOAD -> 'P'
        payload = key["payload"]
        padded = payload + b"\x00" * (-len(payload) % 4)
        return encode_strkey(
            15 << 3, key["key"] + struct.pack(">I", len(payload)) + padded
        )
    return key["key"].hex()


def _signer_str(key: dict) -> str:
    return _signer_key_address(key)


def _sac_instance_asset(val: dict) -> dict | None:
    """AssetInfo extraction (contract_data.go:191-250): instance storage
    under the vec[Symbol("AssetInfo")] key → {sym, code, issuer_key}."""
    inst = val.get("instance")
    if not inst or inst.get("storage") is None:
        return None
    for me in inst["storage"]:
        k = me["key"]
        vec = k.get("vec")
        if vec and len(vec) == 1 and vec[0].get("symbol") == "AssetInfo":
            info = me["val"]
            ivec = info.get("vec")
            if not ivec or len(ivec) != 2:
                return None
            sym = ivec[0].get("symbol")
            if sym == "Native":
                return {"sym": "Native", "code": None, "issuer_key": None}
            if sym not in ("AlphaNum4", "AlphaNum12"):
                return None
            amap = ivec[1].get("map")
            if not amap or len(amap) != 2:
                return None
            if amap[0]["key"].get("symbol") != "asset_code":
                return None
            code = amap[0]["val"].get("string")
            if amap[1]["key"].get("symbol") != "issuer":
                return None
            issuer = amap[1]["val"].get("bytes")
            if code is None or issuer is None:
                return None
            code_s = code.decode() if isinstance(code, bytes) else code
            return {"sym": sym, "code": code_s.rstrip("\x00"), "issuer_key": issuer}
    return None


def _sac_balance_parts(key: dict, val: dict) -> tuple[dict | None, dict | None]:
    """Balance-holder key + amount map (contract_data.go:306-379)."""
    vec = key.get("vec")
    balance_key = None
    if vec and len(vec) == 2 and vec[0].get("symbol") == "Balance":
        addr = vec[1].get("address")
        if addr and addr.get("type") == "contract":
            balance_key = {"is_balance": True, "holder": addr["contract_id"]}
    m = val.get("map")
    val_map = None
    if m is not None:
        entry = {"n_entries": len(m), "amount_hi": None, "amount_lo": None,
                 "authorized": None, "clawback": None}
        if len(m) == 3 and m[0]["key"].get("symbol") == "amount":
            amt = m[0]["val"].get("i128")
            if amt is not None:
                entry["amount_hi"], entry["amount_lo"] = amt["hi"], amt["lo"]
            if m[1]["key"].get("symbol") == "authorized":
                entry["authorized"] = m[1]["val"].get("bool")
            if m[2]["key"].get("symbol") == "clawback":
                entry["clawback"] = m[2]["val"].get("bool")
        val_map = entry
    return balance_key, val_map


def entry_struct(e: dict | None) -> dict | None:
    """Decoded LedgerEntry → the CHANGES_DDL entry struct (the exact input
    surface transforms/changes.py consumes)."""
    if e is None:
        return None
    t, d = e["type"], e["data"]
    out: dict = {}
    if t == XL.ENTRY_ACCOUNT:
        sponsors = d.get("signer_sponsoring_ids") or []
        out = {
            "account_id": _acct(d["account_id"]),
            "balance": d["balance"],
            "seq_num": d["seq_num"],
            "num_subentries": d["num_subentries"],
            "flags": d["flags"],
            "home_domain": d["home_domain"],
            "thresholds": d["thresholds"],
            "signers": [
                {
                    "key": _signer_str(s["key"]),
                    "weight": s["weight"],
                    "sponsor": (
                        _acct(sponsors[i])
                        if i < len(sponsors) and sponsors[i] is not None
                        else None
                    ),
                }
                for i, s in enumerate(d["signers"])
            ],
            "liabilities": d["liabilities"],
            "num_sponsored": d["num_sponsored"],
            "num_sponsoring": d["num_sponsoring"],
            "inflation_destination": (
                _acct(d["inflation_dest"]) if d["inflation_dest"] else None
            ),
            "seq_ledger": d["seq_ledger"],
            "seq_time": d["seq_time"],
        }
    elif t == XL.ENTRY_TRUSTLINE:
        pool = d["asset"].get("type") == "pool_share"
        out = {
            "account_id": _acct(d["account_id"]),
            "asset": None if pool else _asset_dict(d["asset"]),
            "pool_id": d["asset"]["pool_id"].hex() if pool else None,
            "balance": d["balance"],
            "limit": d["limit"],
            "flags": d["flags"],
            "liabilities": d["liabilities"],
        }
    elif t == XL.ENTRY_OFFER:
        out = {
            "seller_id": _acct(d["seller_id"]),
            "offer_id": d["offer_id"],
            "selling": _asset_dict(d["selling"]),
            "buying": _asset_dict(d["buying"]),
            "amount": d["amount"],
            "price_n": d["price"][0],
            "price_d": d["price"][1],
            "flags": d["flags"],
        }
    elif t == XL.ENTRY_DATA:
        out = {"account_id": _acct(d["account_id"])}
    elif t == XL.ENTRY_CLAIMABLE:
        out = {
            "balance_id": "00000000" + d["balance_id"].hex(),
            "claimants": [
                {
                    "destination": _acct(c["destination"]),
                    # reference-shape predicate JSON (Go xdr MarshalJSON)
                    "predicate": _json_dumps_compact(
                        predicate_ref_json(c["predicate"])
                    ),
                }
                for c in d["claimants"]
            ],
            "asset": _asset_dict(d["asset"]),
            "amount": d["amount"],
            "flags": d["flags"] or 0,
        }
    elif t == XL.ENTRY_POOL:
        out = {
            "pool_id": d["pool_id"].hex(),
            "asset_a": _asset_dict(d["asset_a"]),
            "asset_b": _asset_dict(d["asset_b"]),
            "fee": d["fee"],
            "reserve_a": d["reserve_a"],
            "reserve_b": d["reserve_b"],
            "total_shares": d["total_pool_shares"],
            "trustline_count": d["pool_shares_trust_line_count"],
        }
    elif t == XL.ENTRY_CONTRACT_DATA:
        from stellar_etl_spark.sources.xdr_ledger import (
            _write_contract_data_entry,
            write_sc_val,
        )

        contract = d["contract"]
        cid_bytes = (
            contract["contract_id"] if contract["type"] == "contract" else None
        )
        wk, wv, wall = Writer(), Writer(), Writer()
        write_sc_val(wk, d["key"])
        write_sc_val(wv, d["val"])
        _write_contract_data_entry(wall, d)
        balance_key, val_map = _sac_balance_parts(d["key"], d["val"])
        out = {
            "contract_id": (
                encode_strkey(VERSION_CONTRACT, cid_bytes) if cid_bytes else None
            ),
            "contract_id_bytes": cid_bytes,
            "key_type": _SCVAL_TYPE_NAMES[next(iter(d["key"]))],
            # Go xdr.ContractDataDurability.String() spelling
            # (contract_data.go:112)
            "durability": (
                "ContractDataDurabilityPersistent"
                if d["durability"] == 1
                else "ContractDataDurabilityTemporary"
            ),
            "key_xdr": base64.b64encode(wk.bytes()).decode(),
            "val_xdr": base64.b64encode(wv.bytes()).decode(),
            "key_decoded": sc_val_json(d["key"]),
            "val_decoded": sc_val_json(d["val"]),
            "contract_data_xdr": base64.b64encode(wall.bytes()).decode(),
            "instance_asset": _sac_instance_asset(d["val"]),
            "balance_key": balance_key,
            "val_map": val_map,
        }
    elif t == XL.ENTRY_CONTRACT_CODE:
        cost = d["cost_inputs"] or {}
        out = {
            "code_hash": d["hash"].hex(),
            "ext_v": 1 if d["cost_inputs"] else 0,
            "wasm_b64": base64.b64encode(d["code"]).decode(),
            **{f: cost.get(f) for f in (
                "n_instructions", "n_functions", "n_globals",
                "n_table_entries", "n_types", "n_data_segments",
                "n_elem_segments", "n_imports", "n_exports",
                "n_data_segment_bytes",
            )},
        }
    elif t == XL.ENTRY_CONFIG:
        import json as _json

        out = dict(d)
        for k in ("contract_cost_params_cpu_insns",
                  "contract_cost_params_mem_bytes"):
            if k in out:
                out[k] = [
                    _json.dumps(p, separators=(",", ":")) for p in out[k]
                ]
    elif t == XL.ENTRY_TTL:
        out = {
            "key_hash": d["key_hash"].hex(),
            "live_until_seq": d["live_until_ledger_seq"],
        }
    return out


def decode_changes(bronze: DataFrame) -> DataFrame:
    """One CHANGES_DDL row per paired ledger-entry change across fee
    processing, every operation's apply meta, the tx-level before/after
    changes, and ledger-upgrade metas — the StreamChanges input surface
    (export_ledger_entry_changes.go) decoded from raw LCM bytes.

    ``change_index`` follows stellar-core's APPLY order, which is what the
    reference's LedgerChangeReader streams: ALL transactions' fee changes
    first (fees for the whole ledger are charged before any tx applies),
    then each tx's apply meta, then upgrade changes.  Interleaving fees
    per-tx instead would let compaction pick a fee-phase state as an
    entry's final state even though a later-indexed-tx's op had already
    superseded it."""
    import pandas as pd

    from stellar_etl_spark.schemas import CHANGES_DDL
    from stellar_etl_spark.sources.xdr import parse_ledger_close_meta
    from stellar_etl_spark.sources.xdr_ledger import write_ledger_key

    def gen(batches):
        for pdf in batches:
            rows = []
            for raw in pdf["lcm_xdr"]:
                meta = parse_ledger_close_meta(bytes(raw))
                h = meta["header"]
                closed = pd.Timestamp(h.close_time, unit="s")
                if not meta["tx_processing"] and not meta.get(
                    "upgrades_processing"
                ):
                    continue
                idx = 0
                groups = [
                    proc["fee_changes"]
                    for proc in meta["tx_processing"] or []
                ]
                for proc in meta["tx_processing"] or []:
                    m = proc["meta"]
                    groups.append(m["tx_changes_before"])
                    groups.extend(op["changes"] for op in m["operations"])
                    groups.append(m["tx_changes_after"])
                groups.extend(
                    u["changes"]
                    for u in meta.get("upgrades_processing") or []
                )
                for group in groups:
                    for pc in pair_changes(group):
                        entry = pc["post"] or pc["pre"]
                        key = pc.get("key") or _entry_to_key(entry)
                        wk = Writer()
                        write_ledger_key(wk, key)
                        rows.append(
                            dict(
                                ledger_sequence=h.ledger_seq,
                                closed_at=closed,
                                entry_type=XL.ENTRY_TYPE_NAMES[entry["type"]],
                                change_type=pc["change_type"],
                                change_index=idx,
                                ledger_key=base64.b64encode(
                                    wk.bytes()
                                ).decode(),
                                last_modified_ledger=entry[
                                    "last_modified_ledger"
                                ],
                                sponsor=(
                                    _acct(entry["sponsoring_id"])
                                    if entry["sponsoring_id"]
                                    else None
                                ),
                                pre=entry_struct(pc["pre"]),
                                post=entry_struct(pc["post"]),
                            )
                        )
                        idx += 1
            yield (
                pd.DataFrame(rows)
                if rows
                else pd.DataFrame(
                    columns="ledger_sequence closed_at entry_type change_type "
                    "change_index ledger_key last_modified_ledger sponsor "
                    "pre post".split()
                )
            )

    return bronze.mapInPandas(gen, schema=CHANGES_DDL)


def _atom_dict(a: dict) -> dict:
    if a["atom_type"] == "lp":
        return {
            "atom_type": "lp",
            "seller_id": None,
            "offer_id": None,
            "pool_id": a["pool_id"].hex(),
            "asset_sold": _asset_dict(a["asset_sold"]),
            "amount_sold": a["amount_sold"],
            "asset_bought": _asset_dict(a["asset_bought"]),
            "amount_bought": a["amount_bought"],
        }
    seller = (
        _acct(a["seller_ed25519"]) if a["atom_type"] == "v0" else _acct(a["seller_id"])
    )
    return {
        "atom_type": "ob",
        "seller_id": seller,
        "offer_id": a["offer_id"],
        "pool_id": None,
        "asset_sold": _asset_dict(a["asset_sold"]),
        "amount_sold": a["amount_sold"],
        "asset_bought": _asset_dict(a["asset_bought"]),
        "amount_bought": a["amount_bought"],
    }


def op_change_struct(pc: dict) -> dict:
    """Paired change → the sparse per-op change entry the trade/effects
    builders scan (schemas._OP_CHANGE_ENTRY_DDL)."""

    def side(e):
        if e is None:
            return None
        s = entry_struct(e)
        if s is None:
            return None
        return {
            "offer_id": s.get("offer_id"),
            "price_n": s.get("price_n"),
            "price_d": s.get("price_d"),
            "pool_fee": s.get("fee"),
            "sponsor": _acct(e["sponsoring_id"]) if e["sponsoring_id"] else None,
            "account_id": s.get("account_id"),
            "asset": s.get("asset"),
            "amount": s.get("amount") or s.get("balance"),
            "data_name": None,
            "balance_id": s.get("balance_id"),
            "pool_id": s.get("pool_id"),
            "asset_a": s.get("asset_a"),
            "asset_b": s.get("asset_b"),
            "reserve_a": s.get("reserve_a"),
            "reserve_b": s.get("reserve_b"),
            "total_shares": s.get("total_shares"),
            "trustline_count": s.get("trustline_count"),
            "key_hash": s.get("key_hash"),
            "claimants": s.get("claimants"),
            "signers": s.get("signers"),
        }

    entry = pc["post"] or pc["pre"]
    return {
        "change_type": pc["change_type"],
        "entry_type": XL.ENTRY_TYPE_NAMES[entry["type"]],
        "pre": side(pc["pre"]),
        "post": side(pc["post"]),
    }


# ---------------------------------------------------------------------------
# Contract events from Soroban apply meta
# ---------------------------------------------------------------------------

_SAC_KINDS = ("transfer", "mint", "burn", "clawback", "fee")


def _addr_str(a: dict | None) -> str | None:
    if not a:
        return None
    if a["type"] == "account":
        return _acct(a["account_id"])
    if a["type"] == "contract":
        return encode_strkey(VERSION_CONTRACT, a["contract_id"])
    if a["type"] == "muxed_account":
        payload = a["ed25519"] + struct.pack(">Q", a["id"])
        return encode_strkey(VERSION_MUXED, payload)
    return None


def _classify_sac_event(topics: list[dict], data: dict) -> dict:
    """Best-effort SEP-41/CAP-46-6 token-event classification (the shape
    stellar/go's EventsProcessor consumes): topics[0] is the kind symbol,
    the LAST topic the sep-11 asset string, addresses in between — transfer
    [t, from, to, asset], mint [m, (admin,) to, asset], burn [b, from,
    asset], clawback [c, (admin,) from, asset]; data carries the i128
    amount."""
    out = {
        "sac_kind": None, "sac_from": None, "sac_to": None,
        "sac_amount": None, "sac_asset": None,
        "sac_to_muxed": None, "sac_to_muxed_id": None,
        "sac_amount_clamped": None,
    }
    if not topics:
        return out
    kind = topics[0].get("symbol")
    if kind not in _SAC_KINDS:
        return out
    asset = None
    if len(topics) >= 2:
        last = topics[-1]
        raw = last.get("string")
        if raw is not None:
            asset = raw.decode() if isinstance(raw, bytes) else raw
    def _addr_parts(a: dict) -> tuple[str | None, str | None, int | None]:
        # (g_or_c_address, muxed_strkey, muxed_id): the reference's
        # EventsProcessor splits a muxed destination into the base
        # G-address plus to_muxed/to_muxed_id — joins key on the G form
        if a["type"] == "muxed_account":
            return (
                _acct(a["ed25519"]),
                _addr_str(a),
                a["id"],
            )
        return _addr_str(a), None, None

    addrs = [
        _addr_parts(t["address"])
        for t in topics[1:-1]
        if t.get("address") is not None
    ]
    amount = data.get("i128")
    if amount is not None:
        # full i128 (hi signed); the long-typed schema clamps overflow the
        # same way _exact_int64_frame does for u64 protocol fields — an
        # unclamped Python int >= 2^63 would crash the Arrow conversion
        # mid-job on one oversized SEP-41 amount.  sac_amount_clamped
        # flags the saturation so consumers can detect lossy rows (the
        # exact value survives in data/data_decoded).
        full = (amount["hi"] << 64) | amount["lo"]
        sac_amount = max(-_I64_MAX - 1, min(full, _I64_MAX))
        sac_clamped = sac_amount != full
    else:
        sac_amount = None
        sac_clamped = None
    out.update(
        sac_kind=kind,
        sac_asset=asset,
        sac_amount=sac_amount,
        sac_amount_clamped=sac_clamped,
    )
    if kind == "transfer" and len(addrs) >= 2:
        out["sac_from"] = addrs[0][0]
        out["sac_to"], out["sac_to_muxed"], out["sac_to_muxed_id"] = addrs[1]
    elif kind == "mint" and addrs:
        out["sac_to"], out["sac_to_muxed"], out["sac_to_muxed_id"] = addrs[-1]
    elif kind in ("burn", "clawback", "fee") and addrs:
        out["sac_from"] = addrs[-1][0]
    return out


def decode_contract_events(
    bronze: DataFrame, passphrase: str = "Public Global Stellar Network ; September 2015"
) -> DataFrame:
    """One CONTRACT_EVENTS_DDL row per Soroban contract/diagnostic event
    from the apply meta (the TransformContractEvent / token-transfer input
    surface, contract_events.go:20-104)."""
    import pandas as pd

    from stellar_etl_spark.schemas import CONTRACT_EVENTS_DDL
    from stellar_etl_spark.sources.xdr_ledger import (
        _write_contract_event,
        write_sc_val,
    )

    def _b64_scval(v: dict) -> str:
        w = Writer()
        write_sc_val(w, v)
        return base64.b64encode(w.bytes()).decode()

    def _row(h, ti, th, successful, ev, event_type_name, in_call, op_index):
        import pandas as pd  # noqa: F811

        # the XDR blob is the DIAGNOSTIC event (bool + event) — the
        # reference marshals GetDiagnosticEvents() elements
        # (contract_events.go:75), which are always diagnostic-wrapped
        we = Writer()
        we.bool(in_call)
        _write_contract_event(we, ev)
        sac = _classify_sac_event(ev["topics"], ev["data"])
        return dict(
            ledger_sequence=h.ledger_seq,
            closed_at=pd.Timestamp(h.close_time, unit="s"),
            tx_index=ti,
            transaction_hash=th.hex() if th else None,
            tx_successful=successful,
            in_successful_contract_call=in_call,
            contract_id=(
                encode_strkey(VERSION_CONTRACT, ev["contract_id"])
                if ev["contract_id"]
                else None
            ),
            event_type=event_type_name,
            topics=[_b64_scval(t) for t in ev["topics"]],
            topics_decoded=[sc_val_json(t) for t in ev["topics"]],
            data=_b64_scval(ev["data"]),
            data_decoded=sc_val_json(ev["data"]),
            contract_event_xdr=base64.b64encode(we.bytes()).decode(),
            sac_op_index=op_index,
            **sac,
        )

    type_names = {0: "system", 1: "contract", 2: "diagnostic"}

    def gen(batches):
        for pdf in batches:
            rows = []
            for raw in pdf["lcm_xdr"]:
                meta = parse_ledger_close_meta(bytes(raw))
                h = meta["header"]
                for ti, (_env2, th, proc) in enumerate(
                    _match_processing(meta, passphrase), start=1
                ):
                    if proc is None:
                        continue
                    soroban = proc["meta"].get("soroban")
                    if not soroban:
                        continue
                    ok = _result_successful(proc["result"]["result"])
                    # stellar/go GetDiagnosticEvents(): when diagnostic
                    # events exist they ALREADY include the contract
                    # events — emit only those; otherwise wrap the bare
                    # contract events as diagnostic-successful
                    if soroban["diagnostic_events"]:
                        diags = soroban["diagnostic_events"]
                    else:
                        diags = [
                            {
                                "in_successful_contract_call": ok,
                                "event": ev,
                            }
                            for ev in soroban["events"]
                        ]
                    for d in diags:
                        rows.append(
                            _row(h, ti, th, ok, d["event"],
                                 type_names.get(d["event"]["type"], "diagnostic"),
                                 d["in_successful_contract_call"], 0)
                        )
            yield (
                pd.DataFrame(rows)
                if rows
                else pd.DataFrame(
                    columns="ledger_sequence closed_at tx_index "
                    "transaction_hash tx_successful "
                    "in_successful_contract_call contract_id event_type "
                    "topics topics_decoded data data_decoded "
                    "contract_event_xdr sac_kind sac_from sac_to "
                    "sac_to_muxed sac_to_muxed_id sac_amount sac_asset "
                    "sac_op_index sac_amount_clamped".split()
                )
            )

    return bronze.mapInPandas(gen, schema=CONTRACT_EVENTS_DDL)


def decode_ledgers(bronze: DataFrame) -> DataFrame:
    """One LEDGERS_DDL header row per ledger from raw LCM bytes — the
    GetLedgers surface (input/ledgers.go:14-83) feeding transform_ledger:
    hex hashes, the re-encoded base64 LedgerHeader XDR, close/fee/reserve
    scalars, the STELLAR_VALUE_SIGNED node id (G strkey) + signature
    (ledger.go:17-107, 192-205), and the ledger's tx and op counts
    (extractCounts, ledger.go:120-153), summed from the tx set and its
    results."""
    import pandas as pd

    from stellar_etl_spark.schemas import LEDGERS_DDL
    from stellar_etl_spark.sources.xdr import write_ledger_header

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "sequence", "ledger_hash", "previous_ledger_hash",
            "ledger_header", "closed_at", "total_coins", "fee_pool",
            "base_fee", "base_reserve", "max_tx_set_size",
            "protocol_version", "soroban_fee_write_1kb",
            "total_byte_size_of_bucket_list", "node_id", "signature",
            "ledger_header_history", "successful_transaction_count",
            "failed_transaction_count", "operation_count",
            "tx_set_operation_count",
        ]
        for pdf in batches:
            rows = []
            for raw in pdf["lcm_xdr"]:
                meta = parse_ledger_close_meta(bytes(raw))
                h = meta["header"]
                w = Writer()
                write_ledger_header(w, h)
                node_id = signature = None
                if h.close_value_signature is not None:
                    nid, sig = h.close_value_signature
                    node_id = encode_strkey(VERSION_ACCOUNT, nid)
                    signature = base64.b64encode(sig).decode()
                rows.append(
                    (
                        h.ledger_seq,
                        meta["entry_hash"].hex(),
                        h.previous_ledger_hash.hex(),
                        base64.b64encode(w.bytes()).decode(),
                        pd.Timestamp(h.close_time, unit="s"),
                        h.total_coins,
                        h.fee_pool,
                        h.base_fee,
                        h.base_reserve,
                        h.max_tx_set_size,
                        h.ledger_version,
                        None,
                        None,
                        node_id,
                        signature,
                        _header_history_b64(meta),
                        *_ledger_counts(meta),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return bronze.mapInPandas(gen, schema=LEDGERS_DDL)
