"""Export sinks (reference: cmd/command_utils.go).

Every export goes through ONE observed sink, :func:`export`: a single
``DataFrameWriter`` call (JSONL or parquet) with ``df.observe`` wrapped
around it, so the write job itself yields the row count.  This is the
reference's ``ExportEntry`` + ``PrintTransformStats`` pairing
(command_utils.go:55-103): rows are counted while they are written, never
by reading the output a second time.

- JSONL (``ExportEntry``, command_utils.go:55-87): explicit nulls and the
  ``--extra-fields`` literals
- Parquet (``WriteParquet``, command_utils.go:162-180): the widening
  conversions live in the transforms' schemas, not here
- batch naming ``{start}-{end}-{type}`` (command_utils.go:105-111) as
  partitioned output directories (:func:`export_batches`, the streaming
  change sink)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def export(
    df: DataFrame,
    path: str,
    fmt: str,
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
) -> int:
    """Write ``df`` to ``path`` as ``fmt`` ("json" or "parquet") and return
    the rows written, observed on the write job itself.

    JSON is newline-delimited, one object per row, with
    ignoreNullFields=False to match the reference's explicit nulls
    (command_utils.go:56-66 keeps int64-safe values; Spark writes longs as
    JSON numbers losslessly).  ``extra_fields`` become literal columns on
    every row.  ``mode="append"`` is the streaming micro-batch contract."""
    if fmt not in ("json", "parquet"):
        raise ValueError(f"export fmt must be 'json' or 'parquet', got {fmt!r}")
    obs = Observation()
    for k, v in (extra_fields or {}).items():
        df = df.withColumn(k, F.lit(v))
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode)
    if fmt == "json":
        writer.option("ignoreNullFields", "false").json(path)
    else:
        writer.parquet(path)
    return obs.get["rows"]


def batch_dir_name(start: int, end: int, entity: str) -> str:
    """"{start}-{end}-{type}" batch naming (command_utils.go:105-111 uses
    the closed range end = last ledger in batch)."""
    return f"{start}-{end}-{entity}"


def export_batches(
    df: DataFrame,
    out_dir: str,
    entity: str,
    batch_col: str = "batch_id",
    fmt: str = "json",
) -> None:
    """One output directory per batch id, all written in ONE distributed job
    via ``partitionBy`` (no driver-side loop over batches).

    DYNAMIC partition overwrite: only the batch ids present in ``df`` are
    replaced — static overwrite would wipe every previously written batch
    dir, which silently destroys prior epochs when this is the
    ``foreachBatch`` sink of ``stream_compacted_changes``.  Per-window
    overwrite is also exactly the idempotency the streaming path's
    fingerprint guard assumes: a whole-window re-delivery after crash
    recovery rewrites that window's dir with identical deterministic
    content instead of duplicating it."""
    writer = (
        df.withColumn("_batch", F.col(batch_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
    )
    path = os.path.join(out_dir, entity)
    writer.json(path) if fmt == "json" else writer.parquet(path)

