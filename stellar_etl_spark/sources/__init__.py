"""Sources & sinks: bronze ledger-file ingestion and the reference's export
surface (JSONL / Parquet, optionally one directory per partition value)."""

from stellar_etl_spark.sources.bronze import (
    decode_ledger_files,
    read_ledger_files,
    write_bronze,
)
from stellar_etl_spark.sources.sinks import export

__all__ = [
    "decode_ledger_files",
    "export",
    "read_ledger_files",
    "write_bronze",
]
