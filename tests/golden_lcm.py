"""Assemble REAL LedgerCloseMeta blobs from the reference's golden files.

The transactions goldens (`testdata/transactions/*.golden`,
cmd/test_utils.go:39-163) embed every per-transaction XDR blob mainnet
produced — ``tx_envelope``, ``tx_result``, ``tx_meta``, ``tx_fee_meta`` —
for the same ledgers the effects / operations / token_transfers goldens
cover.  Re-assembling those rows into LedgerCloseMeta V0 wire bytes gives
the FULL ingestion pipeline (bronze binary files → silver decode →
transforms) a real-mainnet end-to-end fixture with zero hand-built
expectations: every byte of tx content is mainnet's own.

Headers come from the ledgers goldens' ``ledger_header`` blobs where the
range overlaps (30822015-25); for 30820015 (the one-ledger golden range)
only seq/close_time are known, so a header carrying exactly those is
synthesized — no downstream transform reads other header fields.

``build_ledgers`` writes small synthetic ledgers with the repo's own
encoder, for tests that need ledger files without the goldens.
"""

from __future__ import annotations

import base64
import glob
import json
import os
from datetime import datetime, timezone

GOLDEN_DIR = "/root/reference/testdata"
PUBLIC = "Public Global Stellar Network ; September 2015"


def have_goldens() -> bool:
    return os.path.isdir(GOLDEN_DIR)


def golden_rows(entity: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(f"{GOLDEN_DIR}/{entity}/*.golden")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rows.append(json.loads(line))
    return rows


def _closed_at_unix(s: str) -> int:
    return int(
        datetime.fromisoformat(s.replace("Z", "+00:00"))
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def assemble_golden_lcms() -> dict[int, bytes]:
    """ledger_sequence → LedgerCloseMeta V0 bytes, rebuilt from goldens."""
    from stellar_etl_spark.sources.xdr import (
        LedgerHeader,
        Reader,
        encode_ledger_close_meta_v0,
        read_ledger_header,
        read_transaction_envelope,
        transaction_hash,
    )
    from stellar_etl_spark.sources.xdr_ledger import (
        read_ledger_entry_changes,
        read_transaction_meta,
        read_transaction_result,
    )

    from stellar_etl_spark.sources.xdr import _read_header_entry

    headers: dict[int, tuple[LedgerHeader, bytes]] = {}
    for row in golden_rows("ledgers"):
        h = read_ledger_header(
            Reader(base64.b64decode(row["ledger_header"]))
        )
        headers[h.ledger_seq] = (h, bytes.fromhex(row["ledger_hash"]))
    # the ledger_transactions goldens embed the FULL LedgerHeaderHistoryEntry
    # (hash + header) — a second real-header source covering ledgers the
    # ledgers goldens miss (30820015)
    for row in golden_rows("ledger_transactions"):
        if row["ledger_sequence"] in headers:
            continue
        entry_hash, h = _read_header_entry(
            Reader(base64.b64decode(row["tx_ledger_history"]))
        )
        headers[h.ledger_seq] = (h, entry_hash)

    by_ledger: dict[int, list[dict]] = {}
    for row in golden_rows("transactions"):
        seq = int(row["ledger_sequence"])
        by_ledger.setdefault(seq, [])
        if not any(r["id"] == row["id"] for r in by_ledger[seq]):
            by_ledger[seq].append(row)

    out: dict[int, bytes] = {}
    for seq, tx_rows in sorted(by_ledger.items()):
        # golden id is the TOID (ledger << 32 | tx_index << 12): sorting by
        # id reproduces the reference's tx_index assignment exactly
        tx_rows.sort(key=lambda r: int(r["id"]))
        envelopes, processing = [], []
        for row in tx_rows:
            env = read_transaction_envelope(
                Reader(base64.b64decode(row["tx_envelope"]))
            )
            envelopes.append(env)
            processing.append(
                {
                    "result": {
                        "transaction_hash": transaction_hash(env, PUBLIC),
                        "result": read_transaction_result(
                            Reader(base64.b64decode(row["tx_result"]))
                        ),
                    },
                    "fee_changes": read_ledger_entry_changes(
                        Reader(base64.b64decode(row["tx_fee_meta"]))
                    ),
                    "meta": read_transaction_meta(
                        Reader(base64.b64decode(row["tx_meta"]))
                    ),
                }
            )
        header_hash = headers.get(seq)
        if header_hash is None:
            header_hash = (
                LedgerHeader(
                    ledger_seq=seq,
                    close_time=_closed_at_unix(tx_rows[0]["closed_at"]),
                ),
                b"\x11" * 32,
            )
        header, entry_hash = header_hash
        out[seq] = encode_ledger_close_meta_v0(
            header, envelopes, entry_hash=entry_hash, tx_processing=processing
        )
    return out


def write_golden_ledger_dir(path: str) -> dict[int, bytes]:
    """Materialize the assembled LCMs as one-file-per-ledger bronze input."""
    os.makedirs(path, exist_ok=True)
    lcms = assemble_golden_lcms()
    for seq, raw in lcms.items():
        with open(os.path.join(path, f"{seq}.xdr"), "wb") as f:
            f.write(raw)
    return lcms


def build_ledgers(out_dir: str, n: int) -> None:
    """Write ``n`` encoder-built busy ledgers (sequences 2..n+1, 5 tx x 3 ops
    of payments and an offer, V0/V1 alternating) as ``<seq>.xdr`` files."""
    from stellar_etl_spark.sources.xdr import (
        LedgerHeader,
        encode_ledger_close_meta_v0,
        encode_ledger_close_meta_v1,
    )

    a, b = b"\x01" * 32, b"\x02" * 32
    usd = {"type": "credit_alphanum4", "code": "USD", "issuer": b}
    payment = {
        "source": None,
        "type": 1,
        "body": {
            "destination": {"ed25519": b, "id": None},
            "asset": usd,
            "amount": 150_000_000,
        },
    }
    offer = {
        "source": {"ed25519": b, "id": None},
        "type": 3,
        "body": {
            "selling": usd,
            "buying": {"type": "native"},
            "amount": 80_000_000,
            "price": (1, 4),
            "offer_id": 42,
        },
    }
    sig = [{"hint": b"\x01\x02\x03\x04", "signature": b"\xaa" * 64}]

    def env(seq_num: int) -> dict:
        return {
            "type": "v1",
            "tx": {
                "source": {"ed25519": a, "id": None},
                "fee": 100,
                "seq_num": seq_num,
                "preconditions": {"time_bounds": {"min_time": 5, "max_time": 50}},
                "memo": {"type": "text", "text": "bench"},
                "operations": [payment, offer, payment],
                "soroban_data": None,
            },
            "signatures": sig,
        }

    # 5 tx x 3 ops per ledger — a busy-ledger shape
    for seq in range(2, 2 + n):
        h = LedgerHeader(
            ledger_version=20 + seq % 2,
            close_time=1_704_067_200 + seq * 5,
            ledger_seq=seq,
            total_coins=10**12,
        )
        envs = [env(100 + i) for i in range(5)]
        raw = (
            encode_ledger_close_meta_v0(h, envs)
            if seq % 2 == 0
            else encode_ledger_close_meta_v1(h, [envs])
        )
        with open(os.path.join(out_dir, f"{seq}.xdr"), "wb") as fh:
            fh.write(raw)
