"""Bronze layer: ledger-file ingestion (reference: the GCS datastore
BufferedStorageBackend, internal/utils/main.go:990-1019, layout 1 ledger/file
and 64 000 files/partition, utils/main.go:981-984).

Spark shape: ``binaryFile`` scan over the object-store listing (the ledger
sequence comes from the file name) → optional Arrow-batched header decode in
``mapInPandas`` → partitioned bronze parquet.  The reference's prefetch
workers / ring buffer (utils/main.go:239-240) are replaced by Spark task
parallelism; its retry loop by task retries.

The silver decoders (sources/silver.py) parse the raw LedgerCloseMeta bytes
themselves, so an export needs only :func:`read_ledger_files`; the CLI hands
silver the scan directly.  :func:`decode_ledger_files` adds header columns
(close time, protocol version, tx count) for bronze tables.  Its default
decoder is the in-repo RFC 4506 parser (sources/xdr.py); the decoder is a
plain ``bytes -> dict`` callable, and ``fake_lcm_decoder`` derives stable
values from arbitrary bytes for plumbing tests.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference datastore layout constant (utils/main.go:981-984).
FILES_PER_PARTITION = 64_000

BRONZE_SCHEMA = (
    "sequence long, closed_at timestamp, protocol_version long, "
    "tx_count long, lcm_xdr binary"
)


def read_ledger_files(spark: SparkSession, path: str) -> DataFrame:
    """List + read one-ledger-per-file objects; the sequence is parsed from
    the file name (the datastore names files by ledger sequence).  A pure
    metadata/scan stage — no decode yet, so column pruning can drop
    ``content`` for listing-only queries."""
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.[a-z.]+$", 1)
            .cast("long")
            .alias("sequence"),
            F.col("length"),
            F.col("content"),
        )
    )


def real_lcm_decoder(raw: bytes) -> dict:
    """Default decoder: the pure-Python RFC 4506 parser over the real
    LedgerCloseMeta wire format (sources/xdr.py) — header + tx-envelope
    subset, no SDK needed."""
    from stellar_etl_spark.sources.xdr import real_lcm_decoder as _decode

    return _decode(raw)


def fake_lcm_decoder(raw: bytes) -> dict:
    """Deterministic stand-in decoder: derives header fields from the raw
    bytes so tests exercise real plumbing with stable values."""
    seq = int.from_bytes(raw[:4], "big") if len(raw) >= 4 else 0
    return {
        "sequence": seq,
        "closed_at_unix": 1704067200 + 5 * max(seq - 2, 0),
        "protocol_version": 20,
        "tx_count": len(raw) % 16,
    }


def decode_ledger_files(
    files: DataFrame, decoder: Callable[[bytes], dict] = real_lcm_decoder
) -> DataFrame:
    """Arrow-batched decode: one pandas iterator pass per partition
    (mapInPandas) — the only Python hot path in ingestion."""
    import pandas as pd

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decoder(c) for c in pdf["content"]]
            out = pd.DataFrame(
                {
                    "sequence": [d["sequence"] for d in decoded],
                    "closed_at": pd.to_datetime(
                        [d["closed_at_unix"] for d in decoded], unit="s"
                    ),
                    "protocol_version": [d["protocol_version"] for d in decoded],
                    "tx_count": [d["tx_count"] for d in decoded],
                    "lcm_xdr": pdf["content"],
                }
            )
            yield out

    return files.mapInPandas(decode, schema=BRONZE_SCHEMA)


def write_bronze(df: DataFrame, path: str) -> None:
    """Bronze parquet partitioned by ledger range — the same 64 000-ledger
    granularity as the reference datastore, so a `[start,end]` scan prunes
    to ⌈range/64 000⌉ partitions at any corpus size."""
    (
        df.withColumn(
            "ledger_partition", (F.col("sequence") / FILES_PER_PARTITION).cast("long")
        )
        .write.mode("overwrite")
        .partitionBy("ledger_partition")
        .parquet(os.path.join(path, "ledgers"))
    )


def read_bronze(spark: SparkSession, path: str, start: int, end: int) -> DataFrame:
    """Range read with both partition pruning (ledger_partition) and row-group
    pruning (sequence min/max stats)."""
    lo, hi = start // FILES_PER_PARTITION, end // FILES_PER_PARTITION
    return (
        spark.read.parquet(os.path.join(path, "ledgers"))
        .where(F.col("ledger_partition").between(lo, hi))
        .where(F.col("sequence").between(start, end))
    )
