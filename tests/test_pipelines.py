"""End-to-end pipeline tests: fixture silver tables → transform → sinks on a
tmp dir (the reference's golden-file CLI test model, cmd/*_test.go)."""

from __future__ import annotations

import glob
import json

import fixtures as fx
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
        accounts = _read_jsonl(str(tmp_path / "accounts" / "part-*"))
        assert {a["account_id"] for a in accounts} == {fx.ACCOUNT_A, fx.ACCOUNT_B}
        assert out["accounts"] == len(accounts)
        # nonce contract-data entry dropped by the transform
        cd = _read_jsonl(str(tmp_path / "contract_data" / "part-*"))
        assert len(cd) == 1

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
