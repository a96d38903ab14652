"""End-to-end pipeline tests: fixture silver tables → transform → sinks on a
tmp dir (the reference's golden-file CLI test model, cmd/*_test.go)."""

from __future__ import annotations

import glob
import json
import os

import fixtures as fx
import pytest

from stellar_etl_spark.plans import (
    EXPORT_PIPELINES,
    export_effects,
    export_ledger_entry_changes,
    export_ledgers,
    export_trades,
    get_ledger_range_from_times,
)


def _read_jsonl(path_glob: str) -> list[dict]:
    rows = []
    for f in glob.glob(path_glob):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


class TestPipelines:
    def test_registry_covers_reference_commands(self):
        # the 11 export subcommands + the range lookup (SURVEY.md §2.1/§3)
        assert len(EXPORT_PIPELINES) == 12

    def test_export_ledgers_jsonl(self, spark, tmp_path):
        export_ledgers(
            fx.ledgers_df(spark),
            str(tmp_path),
            start=2,
            end=3,
            extra_fields={"network": "testnet"},
        )
        rows = _read_jsonl(str(tmp_path / "ledgers.jsonl" / "part-*"))
        assert {r["sequence"] for r in rows} == {2, 3}
        by_seq = {r["sequence"]: r for r in rows}
        assert by_seq[2]["tx_set_operation_count"] == "4"
        assert by_seq[2]["network"] == "testnet"
        # explicit nulls present (ExportEntry parity)
        assert "node_id" in by_seq[2]

    def test_export_trades_range_filter(self, spark, tmp_path):
        written = export_trades(
            fx.operations_df(spark), str(tmp_path), start=3, end=3
        )
        rows = _read_jsonl(str(tmp_path / "trades.jsonl" / "part-*"))
        # the returned count is the one the write job observed
        assert len(rows) == written == 2

    def test_export_runs_no_job_after_write(self, spark, tmp_path, monkeypatch):
        """The row count rides on the write job: once the write returns, the
        export finishes without starting another Spark job."""
        from pyspark.sql import DataFrameWriter

        sc = spark.sparkContext
        group = "sink-contract"

        def jobs() -> set[int]:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return set(sc.statusTracker().getJobIdsForGroup(group))

        seen = {}
        write_json = DataFrameWriter.json

        def recording_json(self, *args, **kwargs):
            write_json(self, *args, **kwargs)
            seen["after_write"] = jobs()

        monkeypatch.setattr(DataFrameWriter, "json", recording_json)
        sc.setJobGroup(group, "export_trades")
        try:
            written = export_trades(
                fx.operations_df(spark), str(tmp_path), start=3, end=3
            )
            after_export = jobs()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert written == 2
        assert seen["after_write"]
        assert after_export == seen["after_write"]

    def test_export_changes_batched_entities(self, spark, tmp_path):
        out = export_ledger_entry_changes(
            fx.changes_df(spark), str(tmp_path), batch_size=64
        )
        assert set(out) == set(
            "accounts account_signers trustlines offers liquidity_pools "
            "claimable_balances contract_code contract_data config_settings "
            "ttls".split()
        )
        accounts = _read_jsonl(str(tmp_path / "accounts" / "batch_id=*" / "part-*"))
        assert {a["account_id"] for a in accounts} == {fx.ACCOUNT_A, fx.ACCOUNT_B}
        assert out["accounts"] == len(accounts)
        # nonce contract-data entry dropped by the transform
        cd = _read_jsonl(str(tmp_path / "contract_data" / "batch_id=*" / "part-*"))
        assert len(cd) == 1

    def test_changes_overwrite_is_per_window(self, spark, tmp_path):
        """Exporting one window's range again replaces that window's
        directory of every entity and leaves every other window's files
        byte for byte: a re-exported window rewrites its rows, never adds
        to them, and no other window is lost."""
        def files() -> dict[str, bytes]:
            return {
                os.path.relpath(f, tmp_path): open(f, "rb").read()
                for f in glob.glob(str(tmp_path / "*" / "*" / "part-*"))
            }

        def window(rel: str) -> str:
            return rel.split(os.sep)[1]

        def rows_of(fs: dict[str, bytes], w: str) -> list[str]:
            return sorted(line for rel, body in fs.items() if window(rel) == w
                          for line in body.decode().splitlines())

        # one ledger per window: the fixture's changes fill windows 2, 3, 4
        export_ledger_entry_changes(fx.changes_df(spark), str(tmp_path),
                                    batch_size=1)
        before = files()
        assert {window(rel) for rel in before} == {
            "batch_id=2", "batch_id=3", "batch_id=4"}
        stale = tmp_path / "accounts" / "batch_id=3" / "part-stale.json"
        stale.write_text('{"account_id": "stale"}\n')
        export_ledger_entry_changes(fx.changes_df(spark), str(tmp_path),
                                    start=3, end=3, batch_size=1)
        after = files()
        assert not stale.exists()
        for w in ("batch_id=2", "batch_id=4"):
            kept = {rel: body for rel, body in before.items() if window(rel) == w}
            assert kept == {rel: body for rel, body in after.items()
                            if window(rel) == w}
        assert rows_of(after, "batch_id=3") == rows_of(before, "batch_id=3")
        assert rows_of(before, "batch_id=3")

    def test_stream_hands_over_only_touched_windows(self, spark, tmp_path,
                                                    monkeypatch):
        """A ``--stream`` micro-batch of the changes export hands
        ``_dispatch_cmd`` every landed file of the windows it touches and
        no other file."""
        import argparse

        from stellar_etl_spark import __main__ as cli

        store = tmp_path / "ledgers"
        store.mkdir()

        def land(seqs):
            for seq in seqs:
                (store / f"{seq}.xdr").write_bytes(b"lcm")

        handed = []

        def capture(cmd, bronze, *args):
            handed.append(sorted(os.path.basename(f) for f in bronze.inputFiles()))

        monkeypatch.setattr(cli, "_dispatch_cmd", capture)
        args = argparse.Namespace(
            command="export_ledger_entry_changes", ledgers_dir=str(store),
            output=str(tmp_path / "out"), start_ledger=0, end_ledger=0,
            batch_size=4, stream=True,
        )
        land(range(6))  # windows 0 (ledgers 0-3) and 1 (ledgers 4, 5)
        cli._run(spark, args, "json", None)
        land([6])  # window 1 again
        cli._run(spark, args, "json", None)
        assert handed == [
            [f"{seq}.xdr" for seq in range(6)],
            ["4.xdr", "5.xdr", "6.xdr"],
        ]

    def test_changes_decode_each_ledger_once(self, spark, tmp_path):
        """One silver decode serves every entity of a changes export: each
        ledger reaches Python once, not once per entity written."""
        from golden_lcm import build_ledgers
        from pyspark.sql import functions as F

        from stellar_etl_spark.sources.bronze import read_ledger_files
        from stellar_etl_spark.sources.silver import decode_changes

        ledgers_dir = tmp_path / "xdr"
        ledgers_dir.mkdir()
        build_ledgers(str(ledgers_dir), 4)
        log = str(tmp_path / "decoded.log")

        def tap(batches):
            for pdf in batches:
                with open(log, "a") as fh:
                    fh.writelines(f"{seq}\n" for seq in pdf["sequence"])
                yield pdf

        bronze = read_ledger_files(spark, str(ledgers_dir)).select(
            "sequence", F.col("content").alias("lcm_xdr")
        )
        export_ledger_entry_changes(
            decode_changes(bronze.mapInPandas(tap, schema=bronze.schema)),
            str(tmp_path / "out"),
            export_types=["accounts", "offers", "trustlines"],
        )
        with open(log) as fh:
            assert sorted(int(line) for line in fh) == [2, 3, 4, 5]

    def test_orderbooks_decode_each_ledger_once(self, spark, tmp_path):
        """The four star tables of an orderbooks export share one silver
        decode: each ledger reaches Python once, not once per table."""
        import argparse

        from golden_lcm import build_ledgers
        from pyspark.sql import functions as F

        from stellar_etl_spark.__main__ import _dispatch_cmd
        from stellar_etl_spark.sources.bronze import read_ledger_files

        ledgers_dir = tmp_path / "xdr"
        ledgers_dir.mkdir()
        build_ledgers(str(ledgers_dir), 4)
        log = str(tmp_path / "decoded.log")

        def tap(batches):
            for pdf in batches:
                with open(log, "a") as fh:
                    fh.writelines(f"{seq}\n" for seq in pdf["sequence"])
                yield pdf

        bronze = read_ledger_files(spark, str(ledgers_dir)).select(
            "sequence", F.col("content").alias("lcm_xdr")
        )
        _dispatch_cmd(
            "export_orderbooks", bronze.mapInPandas(tap, schema=bronze.schema),
            spark, argparse.Namespace(export_types=None),
            str(tmp_path / "out"), 0, 0, "parquet", None, "overwrite",
        )
        assert sorted(glob.glob(str(tmp_path / "out" / "*"))) == [
            str(tmp_path / "out" / f"{t}.parquet")
            for t in ("dim_accounts", "dim_markets", "dim_offers",
                      "fact_offer_events")
        ]
        with open(log) as fh:
            assert sorted(int(line) for line in fh) == [2, 3, 4, 5]

    def test_effects_decode_operations_once(self, spark, tmp_path):
        """export_effects builds its expression without a pass over the
        input: the operations decode runs once per ledger, in the write."""
        from golden_lcm import build_ledgers
        from pyspark.sql import functions as F

        from stellar_etl_spark.sources.bronze import read_ledger_files
        from stellar_etl_spark.sources.silver import decode_operations

        ledgers_dir = tmp_path / "xdr"
        ledgers_dir.mkdir()
        build_ledgers(str(ledgers_dir), 4)
        log = str(tmp_path / "decoded.log")

        def tap(batches):
            for pdf in batches:
                with open(log, "a") as fh:
                    fh.writelines(f"{seq}\n" for seq in pdf["sequence"])
                yield pdf

        bronze = read_ledger_files(spark, str(ledgers_dir)).select(
            "sequence", F.col("content").alias("lcm_xdr")
        )
        export_effects(
            decode_operations(bronze.mapInPandas(tap, schema=bronze.schema)),
            str(tmp_path / "out"),
        )
        with open(log) as fh:
            assert sorted(int(line) for line in fh) == [2, 3, 4, 5]

    def test_ledger_range_lookup(self, spark):
        import datetime as dt

        r = get_ledger_range_from_times(
            fx.ledgers_df(spark),
            fx.EPOCH,
            fx.EPOCH + dt.timedelta(seconds=7),
        ).collect()[0]
        assert (r.start_seq, r.end_seq) == (2, 3)


class TestConcurrentWrites:
    """A multi-table export writes its tables as concurrent jobs that act
    as the caller's own: same job group, errors raised, order kept."""

    TYPES = ["trustlines", "accounts", "offers", "liquidity_pools"]

    def test_entity_jobs_keep_the_callers_job_group(self, spark, tmp_path):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = "changes-export"

        def ungrouped() -> set[int]:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return set(tracker.getJobIdsForGroup(None))

        before = ungrouped()
        sc.setJobGroup(group, "export_ledger_entry_changes")
        try:
            export_ledger_entry_changes(
                fx.changes_df(spark), str(tmp_path), export_types=self.TYPES
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert ungrouped() - before == set()
        assert len(tracker.getJobIdsForGroup(group)) >= len(self.TYPES)

    def test_failed_entity_write_raises_and_unpersists(self, spark, tmp_path,
                                                       monkeypatch):
        from pyspark import StorageLevel

        from stellar_etl_spark.plans import pipelines

        persisted = []
        compact, export = pipelines.compact_changes, pipelines.export

        def capture(ranged):
            persisted.append(ranged)
            return compact(ranged)

        def failing(df, path, *args, **kwargs):
            if path.endswith("offers"):
                raise RuntimeError("offers write failed")
            return export(df, path, *args, **kwargs)

        monkeypatch.setattr(pipelines, "compact_changes", capture)
        monkeypatch.setattr(pipelines, "export", failing)
        with pytest.raises(RuntimeError, match="offers write failed"):
            export_ledger_entry_changes(
                fx.changes_df(spark), str(tmp_path), export_types=self.TYPES
            )
        [ranged] = persisted
        assert ranged.storageLevel == StorageLevel.NONE

    def test_counts_keep_the_requested_order(self, spark, tmp_path):
        out = export_ledger_entry_changes(
            fx.changes_df(spark), str(tmp_path), export_types=self.TYPES
        )
        assert list(out.items()) == [
            ("trustlines", 2), ("accounts", 2), ("offers", 1),
            ("liquidity_pools", 1),
        ]
        for name, rows in out.items():
            assert len(_read_jsonl(str(tmp_path / name / "*" / "part-*"))) == rows
