"""Sources & sinks: bronze ledger-file ingestion and the reference's export
surface (JSONL / Parquet / batch-partitioned files)."""

from stellar_etl_spark.sources.bronze import (
    decode_ledger_files,
    read_ledger_files,
    write_bronze,
)
from stellar_etl_spark.sources.sinks import (
    batch_dir_name,
    export,
    export_batches,
)

__all__ = [
    "batch_dir_name",
    "decode_ledger_files",
    "export",
    "export_batches",
    "read_ledger_files",
    "write_bronze",
]
