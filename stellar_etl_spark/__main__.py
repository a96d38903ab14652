"""CLI parity with the reference's Cobra subcommands (cmd/*.go).

    python -m stellar_etl_spark <command> --ledgers-dir DIR --output DIR \\
        [--start-ledger N] [--end-ledger N] [--parquet | --both] \\
        [--strict-export] [--extra-fields k=v ...] [--batch-size N] \\
        [--export-types a,b,...]

``--ledgers-dir`` points at raw LedgerCloseMeta XDR files (one file per
ledger — the reference's datastore layout, utils/main.go:981-984); the CLI
scans them, runs the real silver decode and the same export pipelines the
library exposes (plans/pipelines.py), and prints the row count the write
job observed.  ``get_ledger_range_from_times``
takes ``--start-time/--end-time`` (RFC3339 or unix seconds) instead of a
ledger range, mirroring cmd/get_ledger_range_from_times.go.

Flag names follow internal/utils/main.go:231-288 where a Spark engine has
an equivalent; captive-core/GCS-credential flags are intentionally absent
(SURVEY.md §2.1 — out of scope / direct gs:// URIs instead).

A command overlaps the parts of its run that do not depend on each other,
as the reference runs its ledger prefetch and its change stream beside the
consumer (utils/main.go:239-240, export_ledger_entry_changes.go:93-101).
Right after the session starts, a background job starts one Python worker
per core and imports the silver decoders into it
(:func:`_warm_python_workers`), while the driver builds the export's plan;
Spark reuses idle Python workers, so the first decode task finds one
ready instead of waiting seconds for the worker daemon and its imports.
A multi-table export writes its tables as concurrent jobs
(plans/pipelines.py).  The warm-up thread is joined before the session
stops, and its error is raised if the export itself succeeded.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


# the commands whose pipeline takes no --start-ledger/--end-ledger range
UNRANGED = ("export_orderbooks", "get_ledger_range_from_times")
# the job description of the Python worker warm-up
WARM_UP_JOB = "warm up Python workers"


def _parse_extra_fields(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"--extra-fields wants k=v, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def _time_arg(v: str) -> int:
    try:
        return int(v)
    except ValueError:
        from datetime import datetime

        return int(datetime.fromisoformat(v.replace("Z", "+00:00")).timestamp())


def _warm_python_workers(spark):
    """Start a background job of one no-op ``mapInPandas`` task per core
    (``silver.warm_up``) and return its thread; ``thread.error`` holds what
    the job raised, if anything.  The thread inherits the caller's job
    group; its job carries the description ``WARM_UP_JOB``."""
    from pyspark import InheritableThread

    from stellar_etl_spark.sources.silver import warm_up

    sc = spark.sparkContext
    n = sc.defaultParallelism

    def run():
        sc.setJobDescription(WARM_UP_JOB)
        try:
            job = spark.range(n, numPartitions=n).mapInPandas(warm_up, "id long")
            job.collect()  # bounded-driver-action: warm_up yields no rows
        except Exception as exc:  # main raises it once the export is done
            thread.error = exc

    thread = InheritableThread(target=run, daemon=True)
    thread.error = None
    thread.start()
    return thread


def main(argv: list[str] | None = None) -> None:
    from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES

    ap = argparse.ArgumentParser(
        prog="stellar_etl_spark",
        description="PySpark-native stellar-etl: export commands",
    )
    ap.add_argument("command", choices=sorted(EXPORT_PIPELINES))
    ap.add_argument("--ledgers-dir", required=True,
                    help="directory of LedgerCloseMeta XDR files (1/ledger)")
    ap.add_argument("--output", "-o", default="exported",
                    help="output directory (reference: --output)")
    ap.add_argument("--start-ledger", "-s", type=int, default=0)
    ap.add_argument("--end-ledger", "-e", type=int, default=0,
                    help="0 = unbounded (README.md:294-296)")
    ap.add_argument("--parquet", action="store_true",
                    help="write parquet instead of JSONL")
    ap.add_argument("--both", action="store_true",
                    help="write JSONL and parquet")
    ap.add_argument("--strict-export", action="store_true",
                    help="transform errors fatal (utils/main.go:233)")
    ap.add_argument("--extra-fields", nargs="*", default=[],
                    help="k=v literals appended to every JSONL row")
    ap.add_argument("--batch-size", type=int, default=64,
                    help="ledgers per changes batch (utils/main.go:269)")
    ap.add_argument("--export-types", default=None,
                    help="comma list of change entities (default all 10)")
    ap.add_argument("--stream", action="store_true",
                    help="run the export as Structured Streaming over the "
                         "ledger directory (the same file scan as batch, "
                         "tailed; --start-ledger/--end-ledger still apply): "
                         "drains every file landed since the last run's "
                         "checkpoint, then stops (availableNow); works for "
                         "every export_* subcommand. "
                         "export_ledger_entry_changes re-exports every "
                         "--batch-size window a micro-batch touches from "
                         "all of that window's landed files, so a window "
                         "whose files land across runs is compacted whole, "
                         "as in batch")
    ap.add_argument("--start-time", default=None,
                    help="get_ledger_range_from_times lower bound")
    ap.add_argument("--end-time", default=None,
                    help="get_ledger_range_from_times upper bound")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args(argv)
    if args.both and args.command == "export_ledger_entry_changes":
        raise SystemExit(
            "--both is not supported by export_ledger_entry_changes: JSONL "
            "and parquet would share each <output>/<entity> directory"
        )
    if args.stream and args.command == "get_ledger_range_from_times":
        raise SystemExit("--stream does not apply to range lookup")

    fmt = "both" if args.both else ("parquet" if args.parquet else "json")
    extra = _parse_extra_fields(args.extra_fields) or None

    from stellar_etl_spark.session import get_spark

    # A CLI process lives seconds, so tiered C2's server-grade compiles
    # never pay back: the JIT compiler threads, mostly C2, took ~60% of the
    # JVM's CPU in an export.  C1 alone compiles cheaply; the library
    # session, long-lived enough to profit from C2, keeps it (session.py).
    spark = get_spark("stellar-etl-cli", cpus=args.cpus, extra_conf={
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=1g -XX:TieredStopAtLevel=1",
        # Spark's default, pinned: the warm-up job's Python workers serve
        # the export's decode tasks only because idle workers are reused
        "spark.python.worker.reuse": "true",
    })
    spark.sparkContext.setLogLevel("WARN")
    warm_up = _warm_python_workers(spark)
    try:
        report = _run(spark, args, fmt, extra)
    finally:
        warm_up.join()
    if warm_up.error is not None:
        raise warm_up.error
    if report:
        print(json.dumps(report))
    spark.stop()


def _run(spark, args, fmt, extra) -> dict | None:
    """Run the command; returns the report to print, if any."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.sources.bronze import read_ledger_files

    # silver parses the raw LedgerCloseMeta bytes itself (a superset of the
    # bronze header parse, so corrupt files still fail the job): hand it the
    # scan directly, with no Python decode in between; --stream tails the
    # same scan
    def scan(path, stream=False):
        return read_ledger_files(spark, path, stream=stream).select(
            "sequence", F.col("content").alias("lcm_xdr")
        )

    bronze = scan(args.ledgers_dir, stream=args.stream)

    cmd, out = args.command, args.output
    s, e = args.start_ledger, args.end_ledger

    def _dispatch(bronze, mode="overwrite"):
        """One export pass over a bronze frame — the SAME code path serves
        the batch run and every streaming micro-batch (mode="append")."""
        return _dispatch_cmd(
            cmd, bronze, spark, args, out, s, e, fmt, extra, mode
        )

    if args.stream:
        def process(batch_df, epoch_id):
            if cmd == "export_ledger_entry_changes":
                # a window is compacted whole: re-export every window the
                # micro-batch touches, replacing its earlier output
                batch_df = scan(_window_paths(spark, args, batch_df))
            _dispatch(batch_df, mode="append")

        q = (
            bronze.writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(out, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {"streamed": True, "command": cmd, "output": out}

    rows = _dispatch(bronze)
    if rows is None:
        return None
    # PrintTransformStats parity (cmd/command_utils.go:90-103), counted by
    # the write job
    return {"command": cmd, "rows": rows, "output": out, "fmt": fmt}


def _window_paths(spark, args, micro_batch) -> list[str]:
    """The path of every landed ledger file of the ``--batch-size`` windows
    that ``micro_batch``'s in-range files fall in.  Neither step selects
    ``content``, so no file body is read: the micro-batch gives its
    windows, a listing of ``--ledgers-dir`` their files."""
    from stellar_etl_spark.plans.pipelines import _range, batch_id_col
    from stellar_etl_spark.sources.bronze import read_ledger_files

    window = batch_id_col("sequence", args.batch_size)
    in_range = _range(micro_batch, args.start_ledger, args.end_ledger, "sequence")
    windows = in_range.select(window).distinct()
    touched = [r[0] for r in windows.collect()]  # bounded-driver-action: windows/batch
    files = read_ledger_files(spark, args.ledgers_dir).where(window.isin(touched))
    return [r.path for r in files.select("path").collect()]  # bounded-driver-action: ≤ batch_size paths/window


def _dispatch_cmd(cmd, bronze, spark, args, out, s, e, fmt, extra, mode):
    """One export pass over ``bronze``.  ``mode="append"`` marks a stream
    micro-batch: every export appends it, except the changes export, which
    always replaces the windows it writes."""
    import json

    from pyspark.sql import functions as F

    from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES, _range
    from stellar_etl_spark.sources import silver
    from stellar_etl_spark.sources.bronze import decode_ledger_files

    if cmd not in UNRANGED:
        # the pipeline keeps only [s, e]: drop the other ledgers on the
        # file-name sequence before silver parses them in Python
        bronze = _range(bronze, s, e, "sequence")
    types = args.export_types.split(",") if args.export_types else None
    extra_kw = {"mode": mode}
    if cmd == "export_ledgers":
        return EXPORT_PIPELINES[cmd](
            silver.decode_ledgers(bronze), out, s, e, fmt, args.strict_export,
            extra, **extra_kw,
        )
    elif cmd == "export_transactions":
        return EXPORT_PIPELINES[cmd](
            silver.decode_transactions(bronze), out, s, e, fmt,
            args.strict_export, extra, **extra_kw,
        )
    elif cmd == "export_ledger_transactions":
        return EXPORT_PIPELINES[cmd](
            silver.decode_transactions(bronze), out, s, e, fmt, extra,
            **extra_kw,
        )
    elif cmd in ("export_operations", "export_effects", "export_trades",
                 "export_assets"):
        return EXPORT_PIPELINES[cmd](
            silver.decode_operations(bronze), out, s, e, fmt, extra, **extra_kw
        )
    elif cmd == "export_contract_events":
        return EXPORT_PIPELINES[cmd](
            silver.decode_contract_events(bronze), out, s, e, fmt, extra,
            **extra_kw,
        )
    elif cmd == "export_token_transfers":
        from stellar_etl_spark.transforms.token_events import (
            derive_token_transfer_events,
        )

        events = derive_token_transfer_events(
            silver.decode_operations(bronze),
            silver.decode_transactions(bronze),
        )
        return EXPORT_PIPELINES[cmd](events, out, s, e, fmt, extra, mode=mode)
    elif cmd == "export_orderbooks":
        from stellar_etl_spark.transforms.changes import (
            extract_entry_from_change,
        )

        ch = silver.decode_changes(bronze).where(
            F.col("entry_type") == "offer"
        )
        entry = F.col("entry")
        offers = extract_entry_from_change(ch).select(
            entry["seller_id"].alias("seller_id"),
            entry["offer_id"].alias("offer_id"),
            entry["selling"].alias("selling"),
            entry["buying"].alias("buying"),
            entry["amount"].alias("amount"),
            entry["price_n"].alias("price_n"),
            entry["price_d"].alias("price_d"),
            "ledger_sequence",
        )
        star = EXPORT_PIPELINES[cmd](
            offers, out, fmt if fmt != "json" else "parquet", mode=mode
        )
        if mode != "append":
            print(json.dumps({"tables": sorted(star)}))
        return None
    elif cmd == "export_ledger_entry_changes":
        routed = EXPORT_PIPELINES[cmd](
            silver.decode_changes(bronze), out, s, e,
            batch_size=args.batch_size, export_types=types, fmt=fmt,
        )
        if mode != "append":
            print(json.dumps({"entities": sorted(routed)}))
        return None
    elif cmd == "get_ledger_range_from_times":
        if not (args.start_time and args.end_time):
            raise SystemExit("--start-time/--end-time required")
        # the lookup reads only sequence and closed_at: a header-only parse
        ledgers = decode_ledger_files(
            bronze.withColumnRenamed("lcm_xdr", "content")
        )
        rng = EXPORT_PIPELINES[cmd](
            ledgers,
            F.timestamp_seconds(F.lit(_time_arg(args.start_time))),
            F.timestamp_seconds(F.lit(_time_arg(args.end_time))),
        ).first()
        print(json.dumps({"start": rng[0], "end": rng[1]}))
        return None
    else:  # pragma: no cover
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main(sys.argv[1:])
