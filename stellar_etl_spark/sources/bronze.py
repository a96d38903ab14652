"""Bronze layer: ledger-file ingestion (reference: the GCS datastore
BufferedStorageBackend, internal/utils/main.go:990-1019, layout 1 ledger/file
and 64 000 files/partition, utils/main.go:981-984).

Spark shape: ``binaryFile`` scan over the object-store listing (the ledger
sequence comes from the file name) → optional Arrow-batched header decode in
``mapInPandas`` → partitioned bronze parquet.  The reference's prefetch
workers / ring buffer (utils/main.go:239-240) are replaced by Spark task
parallelism; its retry loop by task retries.

:func:`read_ledger_files` is the one ledger reader: a bounded batch scan, or
with ``stream=True`` the same listing tailed by Spark's file stream source
(the reference's unbounded ``end=0`` mode), which tracks files by path in
its checkpoint.  The silver decoders (sources/silver.py) parse the raw
LedgerCloseMeta bytes themselves, so an export needs only this scan; the
CLI hands it to silver directly.  :func:`decode_ledger_files` adds header
columns (close time, protocol version, tx count) for bronze tables, parsed
by the in-repo RFC 4506 decoder (sources/xdr.py).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference datastore layout constant (utils/main.go:981-984).
FILES_PER_PARTITION = 64_000

BRONZE_SCHEMA = (
    "sequence long, closed_at timestamp, protocol_version long, "
    "tx_count long, lcm_xdr binary"
)


# Spark's fixed ``binaryFile`` schema; a streaming file source must be told it
BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

# How far a landed file's modification time may lie behind the newest file
# the stream has already seen and still be delivered.  Spark's default, 7
# days, silently skips a backfill copied with its original times; a century
# skips none.
MAX_FILE_AGE = "36500d"


def read_ledger_files(
    spark: SparkSession, path: str | list[str], stream: bool = False
) -> DataFrame:
    """List + read one-ledger-per-file objects (a directory or a list of
    files); the sequence is parsed from the file name (the datastore names
    files by ledger sequence).  A pure metadata/scan stage — no decode yet,
    so a query that selects no ``content`` lists the files without reading
    their bodies.  ``stream=True`` tails the same directory as a streaming
    source instead of scanning it once.  A missing ``path`` fails in both
    modes."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFileAge", MAX_FILE_AGE)
        if stream
        else spark.read.format("binaryFile")
    )
    return reader.load(path).select(
        F.col("path"),
        F.regexp_extract(F.col("path"), r"(\d+)\.[a-z.]+$", 1)
        .cast("long")
        .alias("sequence"),
        F.col("length"),
        F.col("content"),
    )


def decode_ledger_files(files: DataFrame) -> DataFrame:
    """Arrow-batched header decode: one pandas iterator pass per partition
    (mapInPandas) — the only Python hot path in ingestion."""
    import pandas as pd

    from stellar_etl_spark.sources.xdr import real_lcm_decoder

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [real_lcm_decoder(c) for c in pdf["content"]]
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
