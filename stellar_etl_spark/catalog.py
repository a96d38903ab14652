"""Table catalog over the parquet datasets.

The driver's synthetic tables (TESTDATA.md) are the generic relational
workload; stellar entity tables (FIXTURES.md) are produced by
``transforms/``.  All reads go through here so partition pruning / predicate
pushdown behavior is uniform and testable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

SYNTHETIC_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins against facts.
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain parquet scan — Catalyst will push filters and
    prune columns into this scan; callers must not cache-and-mutate.

    Timestamp contract: every timestamp column is normalized to **epoch-nanos
    longs** (tz-free), so ``ts div 1000`` equals DuckDB's ``epoch_us`` exactly
    regardless of whether the file stores INT64 TIMESTAMP(NANOS) (read via
    ``nanosAsLong``) or TIMESTAMP(MICROS)/(MILLIS) (read as timestamp and
    converted with ``unix_micros`` under the UTC session zone).  The
    conversion is a monotone per-row projection — column pruning and filters
    on non-time columns still reach the scan; time-range predicates evaluate
    post-scan, which AQE-sized parquet splits absorb at 100 TB."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    repl = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            repl.append(
                (F.unix_micros(F.col(f.name).cast("timestamp")) * F.lit(1000))
                .cast("long")
                .alias(f.name)
            )
        else:
            repl.append(F.col(f.name))
    if any(isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)) for f in df.schema.fields):
        df = df.select(*repl)
    if name == "events" and "value" in df.columns:
        # FINITE-VALUE contract (round 9): NaN/±Inf in the measure column
        # behave as NULL (unmeasurable) on BOTH engine sides.  Spark's
        # ANSI decimal cast silently turns NaN into NULL while DuckDB's
        # hard-errors — a 23-query divergence under a NaN-hostile corpus;
        # long-typed paths even overflow (peak_concurrency).  The oracle
        # twin is the FROM-events rewrite in oracles.py (isfinite CASE).
        # A scan-level codegen projection — no shuffle, no-op on driver
        # data, and column pruning still reaches the scan.
        c = F.col("value")
        df = df.withColumn(
            "value",
            F.when(
                F.isnan(c) | (F.abs(c) == F.lit(float("inf"))),
                F.lit(None).cast("double"),
            ).otherwise(c),
        )
    return df


def ns(ts: str) -> int:
    """Naive-UTC timestamp string → epoch nanoseconds (for filter literals
    against nanos-as-long columns)."""
    import datetime as _dt

    dt = _dt.datetime.fromisoformat(ts).replace(tzinfo=_dt.timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql use."""
    for name in SYNTHETIC_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
