"""SparkSession factory tuned for this engine.

Scale stance: these settings are chosen so the same logical plans survive a
1000-executor / 100 TB deployment — AQE handles runtime coalescing and skew
joins, broadcast threshold keeps dimension joins shuffle-free, and Arrow makes
the few pandas-UDF paths batch-vectorized.  Locally we run on ``local[N]``.

JIT profile: this factory's JVM keeps HotSpot's tiered C2 compiler, which
pays back in the long-lived sessions the library, tests and analytics run
(forcing C1-only here slowed a warm ten-query analytics pass by about 23%,
12.1 s to 14.9 s on 4 vCPUs).  The CLI (``__main__``) passes
``-XX:TieredStopAtLevel=1`` through ``extra_conf`` instead: an export JVM
lives 25-35 s, and in it the JIT compiler threads took about 60% of the JVM's
CPU (31 of 51 s for ``export_effects``, 39 of 63 s for
``export_ledger_entry_changes``, 64 busy ledgers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults mirror the driver environment (local[32], 128 GiB single JVM).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "stellar-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, so a plan
      sized for sf0.1 locally re-sizes itself on a real cluster.
    - Broadcast threshold 64 MB: TPC-H-style dims (region/nation/supplier/
      part/customer) broadcast instead of shuffling the fact table.
    - Arrow on: pandas-UDF paths (XDR decode, embedding kernels) move data in
      columnar batches, not pickled rows.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the entity transforms are single giant projections (52-kind
        # effects array, 27-type details switch) whose operators carry
        # >100 fields — the default codegen.maxFields=100 silently drops
        # them to interpreted evaluation (measured 2x slower on
        # effects_fanout); Janino still guards the 64KB method limit with
        # a per-stage fallback, so raising the field cap is safe
        .config("spark.sql.codegen.maxFields", "800")
        # ...and those generated classes are big: a long session (the
        # 137-query bench) fills the default 240 MB JVM code cache, the
        # JIT disables itself, and late queries run interpreted (measured
        # 2.2x on effects_fanout after 40 heavy queries).  Applies when
        # this factory launches the JVM; inert on an existing session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        # the generated-CLASS cache (Janino output) defaults to 100 entries;
        # a 147-query session churns it and a re-run of an evicted giant
        # plan re-pays its multi-second Janino compile (observed: the same
        # effects_fanout plan at 3.5 s steady vs 13-16 s when recompiled).
        # Static conf — applies when this factory launches the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # reliable checkpoint files (lineage_cut's cluster mode) of GC'd
        # frames are deleted instead of accumulating on the cluster FS, and
        # the periodic GC bounds how long dead localCheckpoint blocks from
        # long foreachBatch streams can occupy executor storage
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.cleaner.periodicGC.interval", "10min")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep catalog-table artifacts (bucketed tables) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/stellar-etl-warehouse"),
        )
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
