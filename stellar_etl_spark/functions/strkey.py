"""Stellar strkey encode/decode (G/M/C/L prefixes) — pure Python + pandas UDFs.

Semantics match the public SEP-23 strkey spec used throughout the reference
(e.g. internal/transform/ledger.go:192-205 node strkey, contract_data.go:99,110
contract/pool keys, trustline.go:45): payload = version_byte || data || CRC16
(XModem, little-endian), base32 uppercase no padding.
"""

from __future__ import annotations

import base64
import binascii

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

VERSION_ACCOUNT = 6 << 3  # 'G' — ed25519 public key
VERSION_MUXED = 12 << 3  # 'M' — muxed account
VERSION_CONTRACT = 2 << 3  # 'C'
VERSION_LIQUIDITY_POOL = 11 << 3  # 'L'
VERSION_CLAIMABLE_BALANCE = 1 << 3  # 'B'


def _crc16_xmodem(data: bytes) -> int:
    # CRC-CCITT (XModem): poly 0x1021, init 0 — what binascii.crc_hqx computes
    return binascii.crc_hqx(data, 0)


def encode_strkey(version: int, data: bytes) -> str:
    payload = bytes([version]) + data
    crc = _crc16_xmodem(payload)
    payload += bytes([crc & 0xFF, crc >> 8])
    return base64.b32encode(payload).decode("ascii").rstrip("=")


def decode_strkey(key: str) -> tuple[int, bytes]:
    pad = "=" * (-len(key) % 8)
    raw = base64.b32decode(key + pad)
    version, data, crc = raw[0], raw[1:-2], raw[-2:]
    expect = _crc16_xmodem(raw[:-2])
    if crc != bytes([expect & 0xFF, expect >> 8]):
        raise ValueError(f"strkey checksum mismatch: {key}")
    return version, data


def _encode_series(s: pd.Series, version: int) -> pd.Series:
    return s.map(lambda b: encode_strkey(version, b) if b is not None else None)


@pandas_udf(StringType())
def strkey_account_udf(raw: pd.Series) -> pd.Series:
    return _encode_series(raw, VERSION_ACCOUNT)


@pandas_udf(StringType())
def strkey_contract_udf(raw: pd.Series) -> pd.Series:
    return _encode_series(raw, VERSION_CONTRACT)


@pandas_udf(StringType())
def strkey_pool_udf(raw: pd.Series) -> pd.Series:
    return _encode_series(raw, VERSION_LIQUIDITY_POOL)


@pandas_udf(StringType())
def strkey_claimable_udf(raw: pd.Series) -> pd.Series:
    """'B'-prefixed strkey over the serialized 36-byte ClaimableBalanceId
    (type discriminant + 32-byte hash) — claimable_balance.go:36-43."""
    return _encode_series(raw, VERSION_CLAIMABLE_BALANCE)


@pandas_udf(BinaryType())
def strkey_payload_udf(key: pd.Series) -> pd.Series:
    """Decode a strkey to its raw payload bytes (checksum-verified); null
    for null/invalid input."""

    def _dec(k):
        if k is None:
            return None
        try:
            return decode_strkey(k)[1]
        except Exception:
            return None

    return key.map(_dec)
