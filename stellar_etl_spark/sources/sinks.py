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
- the reference's one output per change batch, ``{start}-{end}-{type}``
  (command_utils.go:105-111), as one ``<col>=<value>`` directory per
  partition value (``partition_by``), each replaced on its own
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def export(
    df: DataFrame,
    path: str,
    fmt: str,
    extra_fields: dict[str, object] | None = None,
    mode: str = "overwrite",
    partition_by: str | None = None,
) -> int:
    """Write ``df`` to ``path`` as ``fmt`` ("json" or "parquet") and return
    the rows written, observed on the write job itself.

    JSON is newline-delimited, one object per row, with
    ignoreNullFields=False to match the reference's explicit nulls
    (command_utils.go:56-66 keeps int64-safe values; Spark writes longs as
    JSON numbers losslessly).  ``extra_fields`` become literal columns on
    every row.  ``mode="append"`` is the streaming micro-batch contract.

    ``partition_by`` writes one ``<path>/<col>=<value>`` directory per
    value of that column and leaves the column out of the rows.  An
    overwrite then replaces only the directories of the values ``df``
    holds (dynamic partition overwrite) and keeps every other one, so
    re-running one partition is idempotent."""
    if fmt not in ("json", "parquet"):
        raise ValueError(f"export fmt must be 'json' or 'parquet', got {fmt!r}")
    obs = Observation()
    for k, v in (extra_fields or {}).items():
        df = df.withColumn(k, F.lit(v))
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode)
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_by
        )
    if fmt == "json":
        writer.option("ignoreNullFields", "false").json(path)
    else:
        writer.parquet(path)
    return obs.get["rows"]
