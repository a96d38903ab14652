"""Run the package CLI (``python -m stellar_etl_spark ...``) in this process,
recording when its Spark session is ready.

    python3 perfbench/cli.py REPORT_FILE [--spans] -- <cli arguments>

The CLI runs unchanged through ``runpy``, so the code path is the one
``python -m`` takes.  REPORT_FILE receives a JSON object with ``ready``
(epoch seconds when ``session.get_spark`` returned) and ``end``.  With
``--spans`` every layer call the CLI makes is also timed from outside, in
the CLI's own order, and ``sc.setJobDescription(<layer>)`` is set around it
so each Spark job carries the layer that triggered it:

    bronze      sources.bronze.read_ledger_files / decode_ledger_files
    silver      sources.silver.decode_*
    pipeline    plans.pipelines.EXPORT_PIPELINES[cmd]
    transforms  the transform_* / compaction / routing calls of a pipeline
    sink        DataFrameWriter.json / parquet / save
    cli.count   the CLI's row-count pass (DataFrame.count outside any span)
    stop        SparkSession.stop

The report then also holds ``spans`` ([name, start, end, depth]) and the
JVM's codegen compile totals, read just before the session stops.
"""

from __future__ import annotations

import functools
import json
import runpy
import sys
import time


def codegen_totals(spark) -> dict:
    """Janino compilations so far in this JVM and their summed time."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {"codegen_count": hist.getCount(),
            "codegen_ms": hist.getSnapshot().getMean() * hist.getCount()}


class Tracer:
    """Nested layer spans, each also set as the Spark job description."""

    def __init__(self, report: dict):
        self.report = report
        report["spans"] = []
        self.stack: list[str] = []

    def _describe(self, name: str | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobDescription(name)

    def wrap(self, name: str, fn, only_outside: bool = False):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if only_outside and self.stack:
                return fn(*args, **kwargs)
            self._describe(name)
            self.stack.append(name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.report["spans"].append([name, t0, time.time(), len(self.stack) - 1])
                self.stack.pop()
                self._describe(self.stack[-1] if self.stack else None)

        return wrapped

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        from stellar_etl_spark.plans import pipelines
        from stellar_etl_spark.sources import bronze, silver

        for name in ("read_ledger_files", "decode_ledger_files"):
            setattr(bronze, name, self.wrap("bronze", getattr(bronze, name)))
        for name in dir(silver):
            if name.startswith("decode_"):
                setattr(silver, name, self.wrap("silver", getattr(silver, name)))
        for name in dir(pipelines):
            if name.startswith("transform_") or name in (
                "compact_changes", "route_changes", "ledger_range_for_times"
            ):
                setattr(pipelines, name, self.wrap("transforms", getattr(pipelines, name)))
        for cmd, fn in list(pipelines.EXPORT_PIPELINES.items()):
            pipelines.EXPORT_PIPELINES[cmd] = self.wrap("pipeline", fn)
        for name in ("json", "parquet", "save"):
            setattr(DataFrameWriter, name, self.wrap("sink", getattr(DataFrameWriter, name)))
        DataFrame.count = self.wrap("cli.count", DataFrame.count, only_outside=True)

        stop = SparkSession.stop

        def stop_with_codegen(session):
            self.report.update(codegen_totals(session))
            return stop(session)

        SparkSession.stop = self.wrap("stop", stop_with_codegen)


def main() -> None:
    report_path, rest = sys.argv[1], sys.argv[2:]
    spans = "--spans" in rest[: rest.index("--")]
    cli_args = rest[rest.index("--") + 1:]
    report: dict = {}

    from stellar_etl_spark import session

    get_spark = session.get_spark

    def ready_spark(*args, **kwargs):
        spark = get_spark(*args, **kwargs)
        report["ready"] = time.time()
        return spark

    session.get_spark = ready_spark
    if spans:
        Tracer(report).install()
    sys.argv = ["stellar_etl_spark", *cli_args]
    try:
        runpy.run_module("stellar_etl_spark", run_name="__main__", alter_sys=True)
    finally:
        report["end"] = time.time()
        with open(report_path, "w") as fh:
            json.dump(report, fh)


if __name__ == "__main__":
    main()
