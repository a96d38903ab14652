"""Unit tests for the scalar function library (SURVEY.md §2.7).

Reference parity vectors:
  - native asset id constant (internal/transform/operation.go:377-379)
  - TOID bit layout (internal/toid/main.go:60-171)
  - synthetic offer id type bit (internal/toid/synt_offer_id.go:28-42)
  - FNV-1a 64 published vectors (offer_normalized.go:108-113)
  - SEP-23 strkey round trips (ledger.go:192-205 et al.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stellar_etl_spark.functions.hashes import (
    NATIVE_ASSET_ID,
    farmhash_fingerprint64,
    fnv64a,
)
from stellar_etl_spark.functions.scalars import (
    hash_to_hex,
    interval_string,
    price_to_float,
    stroops_to_real,
    timepoint_to_utc,
)
from stellar_etl_spark.functions.strkey import (
    VERSION_ACCOUNT,
    VERSION_CONTRACT,
    VERSION_LIQUIDITY_POOL,
    VERSION_MUXED,
    decode_strkey,
    encode_strkey,
)
from stellar_etl_spark.functions.toid import (
    decode_offer_id,
    decode_offer_id_type,
    encode_offer_id,
    toid,
    toid_ledger,
    toid_op,
    toid_tx,
)


class TestFarmhash:
    def test_native_asset_constant(self):
        # operation.go:377-379 hard-codes farmhash64("native") as the XLM id
        assert farmhash_fingerprint64("native") == NATIVE_ASSET_ID

    def test_all_length_branches(self):
        # exercise 0-16 / 17-32 / 33-64 / long paths; values must be stable
        for length in (0, 1, 3, 4, 7, 8, 15, 16, 17, 32, 33, 64, 65, 128, 200):
            data = bytes(range(256))[:length]
            h1 = farmhash_fingerprint64(data)
            h2 = farmhash_fingerprint64(data)
            assert h1 == h2
            assert -(1 << 63) <= h1 < (1 << 63)

    def test_distinct_inputs_distinct_hashes(self):
        seen = {farmhash_fingerprint64(f"asset{i}GISSUER{i}credit_alphanum4") for i in range(200)}
        assert len(seen) == 200


class TestFnv:
    def test_published_vectors(self):
        # FNV-1a 64: offset basis for "", 0xaf63dc4c8601ec8c for "a"
        assert fnv64a(b"") == 0xCBF29CE484222325 - (1 << 64)
        assert fnv64a("a") == 0xAF63DC4C8601EC8C - (1 << 64)

    def test_bytes_str_equiv(self):
        assert fnv64a("XLM/USD") == fnv64a(b"XLM/USD")


class TestStrkey:
    def test_roundtrip_all_versions(self):
        raw = bytes(range(32))
        for version, prefix in [
            (VERSION_ACCOUNT, "G"),
            (VERSION_CONTRACT, "C"),
            (VERSION_LIQUIDITY_POOL, "L"),
        ]:
            key = encode_strkey(version, raw)
            assert key[0] == prefix
            v, data = decode_strkey(key)
            assert (v, data) == (version, raw)

    def test_muxed_roundtrip(self):
        raw = bytes(range(32)) + (1234).to_bytes(8, "big")  # ed25519 + memo id
        key = encode_strkey(VERSION_MUXED, raw)
        assert key[0] == "M"
        assert decode_strkey(key) == (VERSION_MUXED, raw)

    def test_checksum_rejects_corruption(self):
        key = encode_strkey(VERSION_ACCOUNT, bytes(32))
        bad = key[:-1] + ("A" if key[-1] != "A" else "B")
        with pytest.raises(ValueError):
            decode_strkey(bad)

    def test_known_sdk_vector(self):
        assert encode_strkey(VERSION_ACCOUNT, bytes(32)) == (
            "GAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAWHF"
        )

    @pytest.mark.parametrize("size", [0, 1, 33, 35, 69])
    def test_crc_matches_bit_loop(self, size):
        """The checksum equals the SEP-23 CRC16-XModem bit loop, kept here
        as the reference."""
        import random

        from stellar_etl_spark.functions.strkey import _crc16_xmodem

        def bit_loop(data: bytes) -> int:
            crc = 0
            for b in data:
                crc ^= b << 8
                for _ in range(8):
                    crc = ((crc << 1) ^ 0x1021) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            return crc

        rng = random.Random(size)
        for _ in range(50):
            data = rng.randbytes(size)
            assert _crc16_xmodem(data) == bit_loop(data)


class TestToid:
    CASES = [
        (0, 0, 0),
        (1, 0, 0),
        (12345, 67, 3),
        # max domain: ledger is int32 in the reference (toid/main.go New()),
        # tx/op at full 20/12-bit width
        (2147483647, 1048575, 4095),
    ]

    def test_pack_unpack(self, spark):
        df = spark.createDataFrame(self.CASES, "ledger long, tx long, op long")
        out = df.select(
            "ledger",
            "tx",
            "op",
            toid(F.col("ledger"), F.col("tx"), F.col("op")).alias("id"),
        ).select(
            "ledger",
            "tx",
            "op",
            "id",
            toid_ledger(F.col("id")).alias("dl"),
            toid_tx(F.col("id")).alias("dt"),
            toid_op(F.col("id")).alias("dop"),
        )
        for row in out.collect():
            assert row.id == (row.ledger << 32) | (row.tx << 12) | row.op
            assert (row.dl, row.dt, row.dop) == (row.ledger, row.tx, row.op)

    def test_out_of_domain_ledger_fails_loudly(self, spark):
        """A ledger outside the reference's int32 domain must RAISE, never
        wrap: Spark's shiftleft silently discards overflow bits (measured
        shiftleft(2^61, 20) = 0), so a garbage upstream id would pack into
        a corrupt TOID colliding with or mis-sorting against real ones.
        The guard mirrors the reference's Go type-level int32 guarantee
        (toid/main.go New())."""
        import pytest

        for bad in (1 << 31, 1 << 61, -1):
            df = spark.createDataFrame([(bad, 0, 0)], "ledger long, tx long, op long")
            with pytest.raises(Exception, match="int32 domain"):
                df.select(
                    toid(F.col("ledger"), F.col("tx"), F.col("op")).alias("id")
                ).collect()
        # the int32 max still packs, positive
        df = spark.createDataFrame(
            [((1 << 31) - 1, 0, 0)], "ledger long, tx long, op long"
        )
        row = df.select(toid(F.col("ledger")).alias("id")).collect()[0]
        assert row.id == ((1 << 31) - 1) << 32 and row.id > 0
        # NULL ledger PROPAGATES (unknown, not out-of-domain) — matching
        # the DuckDB oracle's NULL << 32 = NULL; the guard must not fire
        df = spark.createDataFrame(
            [(None, 1, 1)], "ledger long, tx long, op long"
        )
        row = df.select(
            toid(F.col("ledger"), F.col("tx"), F.col("op")).alias("id")
        ).collect()[0]
        assert row.id is None

    def test_synthetic_offer_id(self, spark):
        df = spark.createDataFrame([(12345, 67, 3)], "ledger long, tx long, op long")
        base = toid(F.col("ledger"), F.col("tx"), F.col("op"))
        row = df.select(
            base.alias("raw"),
            encode_offer_id(base, toid_type=True).alias("enc"),
            decode_offer_id(encode_offer_id(base, toid_type=True)).alias("dec"),
            decode_offer_id_type(encode_offer_id(base, toid_type=True)).alias("typ"),
            decode_offer_id_type(encode_offer_id(base, toid_type=False)).alias("typ0"),
        ).collect()[0]
        assert row.enc == row.raw | (1 << 62)
        assert row.dec == row.raw
        assert row.typ == 1
        assert row.typ0 == 0


class TestScalars:
    def test_stroops_to_real(self, spark):
        df = spark.createDataFrame([(10_000_000,), (1,), (123_456_789,)], "v long")
        vals = [r.x for r in df.select(stroops_to_real("v").alias("x")).collect()]
        assert vals == [1.0, 1e-7, 12.3456789]

    def test_timepoint_to_utc(self, spark):
        df = spark.createDataFrame([(0,), (1609459200,)], "t long")
        vals = [r.x for r in df.select(timepoint_to_utc("t").alias("x")).collect()]
        assert vals[0].year == 1970
        assert (vals[1].year, vals[1].month, vals[1].day) == (2021, 1, 1)

    def test_hash_to_hex(self, spark):
        df = spark.createDataFrame([(bytes([0xDE, 0xAD, 0xBE, 0xEF]),)], "b binary")
        assert df.select(hash_to_hex("b").alias("x")).collect()[0].x == "deadbeef"

    def test_interval_string(self, spark):
        df = spark.createDataFrame([(5, 10), (5, 0), (5, None)], "lo long, hi long")
        vals = [r.x for r in df.select(interval_string("lo", "hi").alias("x")).collect()]
        assert vals == ["[5,10)", "[5,)", "[5,)"]

    def test_price_to_float(self, spark):
        df = spark.createDataFrame([(1, 4)], "n long, d long")
        assert df.select(price_to_float("n", "d").alias("x")).collect()[0].x == 0.25


class TestI128:
    CASES = [
        (0, 0, "0"),
        (0, 1, "1"),
        (0, -1, str((1 << 64) - 1)),          # lo reinterpreted unsigned
        (1, 0, str(1 << 64)),
        (-1, -1, "-1"),                        # all-ones pattern = -1
        (-1, 0, str(-(1 << 64))),
        (5, 123, str(5 * (1 << 64) + 123)),
    ]

    def test_i128_assembly(self, spark):
        from stellar_etl_spark.functions.scalars import i128_to_string

        df = spark.createDataFrame(
            [(h, l) for h, l, _ in self.CASES], "hi long, lo long"
        )
        got = [
            r.v
            for r in df.select(i128_to_string("hi", "lo").alias("v")).collect()
        ]
        assert got == [e for _, _, e in self.CASES]


class TestStrkeyProperty:
    def test_roundtrip_any_payload(self):
        """Property: encode→decode is the identity for any 32-byte payload
        and any version byte, and corrupting the checksum always raises."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from stellar_etl_spark.functions.strkey import (
            decode_strkey,
            encode_strkey,
        )

        @settings(max_examples=200, deadline=None)
        @given(
            st.binary(min_size=32, max_size=32),
            st.integers(min_value=0, max_value=255),
        )
        def roundtrip(data, version):
            key = encode_strkey(version, data)
            v, d = decode_strkey(key)
            assert (v, d) == (version, data)

        roundtrip()

    def test_corruption_detected(self):
        import pytest

        from stellar_etl_spark.functions.strkey import (
            decode_strkey,
            encode_strkey,
        )

        key = encode_strkey(48, bytes(range(32)))
        # flip one base32 character (avoid padding-insensitive tail)
        bad = ("A" if key[10] != "A" else "B").join([key[:10], key[11:]])
        with pytest.raises(ValueError):
            decode_strkey(bad)
