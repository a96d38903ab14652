"""CLI end-to-end: raw LedgerCloseMeta XDR files -> subcommand -> JSONL,
mirroring the reference's golden CLI integration tests (cmd/*_test.go:
build the binary, run a subcommand over a ledger range, inspect output)."""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from golden_lcm import build_ledgers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def xdr_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_xdr")
    build_ledgers(str(d), 6)
    return str(d)


def _cli(args: list[str]) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    return subprocess.run(
        [sys.executable, "-m", "stellar_etl_spark", *args],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=300,
    )


def _run(args: list[str]) -> str:
    res = _cli(args)
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout


# the six change entities the perfbench corpus fills
CHANGE_ENTITIES = ("accounts", "account_signers", "trustlines", "offers",
                   "liquidity_pools", "claimable_balances")


def _entity_rows(base: str, entity: str) -> list[dict]:
    """Every row under ``<base>/<entity>``, in a canonical order."""
    rows = []
    for f in glob.glob(os.path.join(base, entity, "**", "part-*"),
                       recursive=True):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return sorted(rows, key=lambda r: json.dumps(r, sort_keys=True))


class TestCli:
    def test_export_ledgers_range_and_extra_fields(self, xdr_dir, tmp_path):
        out = _run([
            "export_ledgers", "--ledgers-dir", xdr_dir,
            "--output", str(tmp_path), "-s", "3", "-e", "5",
            "--extra-fields", "network=testnet",
        ])
        stats = json.loads(out.strip().splitlines()[-1])
        assert stats["rows"] == 3
        rows = []
        for f in glob.glob(str(tmp_path / "ledgers.jsonl" / "part-*")):
            with open(f) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
        assert {r["sequence"] for r in rows} == {3, 4, 5}
        assert all(r["network"] == "testnet" for r in rows)
        # per-ledger counts computed from the decoded tx set (5 tx x 3 ops)
        assert all(r["tx_set_operation_count"] == "15" for r in rows)

    def test_empty_range_prints_zero_rows(self, xdr_dir, tmp_path):
        """The row count comes from the write job; a range that selects no
        ledger still runs that job and reports 0."""
        out = _run([
            "export_transactions", "--ledgers-dir", xdr_dir,
            "--output", str(tmp_path), "-s", "100", "-e", "200",
        ])
        assert json.loads(out.strip().splitlines()[-1])["rows"] == 0

    def test_truncated_ledger_file_fails_loudly(self, xdr_dir, tmp_path):
        """A truncated ledger file fails the export with the XDR error and
        no row count, now that silver parses the raw scan directly."""
        d = str(tmp_path / "ledgers")
        shutil.copytree(xdr_dir, d)
        victim = os.path.join(d, sorted(os.listdir(d))[0])
        raw = open(victim, "rb").read()
        with open(victim, "wb") as fh:
            fh.write(raw[: len(raw) // 2])
        res = _cli([
            "export_ledgers", "--ledgers-dir", d,
            "--output", str(tmp_path / "out"),
        ])
        assert res.returncode != 0
        assert "XdrError" in res.stderr or "truncated" in res.stderr
        assert '"rows"' not in res.stdout

    def test_changes_reject_both(self, tmp_path):
        """Both formats would collide on <output>/<entity>: --both must be
        refused up front, not silently reduced to one format."""
        from stellar_etl_spark.__main__ import main

        with pytest.raises(SystemExit, match="--both"):
            main(["export_ledger_entry_changes", "--both", "--ledgers-dir",
                  str(tmp_path), "--output", str(tmp_path / "out")])

    def test_stream_rejects_range_lookup(self, monkeypatch, tmp_path):
        """A range lookup has no stream form: refused before a session
        starts."""
        from stellar_etl_spark import session
        from stellar_etl_spark.__main__ import main

        def no_session(*args, **kwargs):
            raise AssertionError("session started before the check")

        monkeypatch.setattr(session, "get_spark", no_session)
        with pytest.raises(SystemExit, match="--stream"):
            main(["get_ledger_range_from_times", "--stream", "--ledgers-dir",
                  str(tmp_path), "--start-time", "0", "--end-time", "1"])

    def test_streamed_range_matches_batch_range(self, xdr_dir, tmp_path):
        """--stream reads the same file-name sequence as batch, so the
        ledger range keeps exactly the ledgers the batch export keeps."""
        _run([
            "export_transactions", "--stream", "--ledgers-dir", xdr_dir,
            "--output", str(tmp_path), "-s", "3", "-e", "5",
        ])
        rows = []
        for f in glob.glob(str(tmp_path / "transactions.jsonl" / "part-*")):
            with open(f) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
        assert len(rows) == 15
        assert {r["ledger_sequence"] for r in rows} == {3, 4, 5}

    def test_stream_missing_ledgers_dir_fails_loudly(self, tmp_path):
        missing = str(tmp_path / "nowhere")
        res = _cli([
            "export_transactions", "--stream", "--ledgers-dir", missing,
            "--output", str(tmp_path / "out"),
        ])
        assert res.returncode != 0
        assert missing in res.stderr
        assert "streamed" not in res.stdout

    @pytest.mark.slow
    def test_streamed_changes_equal_batch(self, tmp_path):
        """--stream (unbounded end=0 mode) over the same XDR dir must
        produce the same per-entity rows as the batch subcommand — one
        code path per micro-batch (input/changes.go:162-180 parity)."""
        from perfbench.corpus import build

        ledgers = str(tmp_path / "ledgers")
        build(ledgers, 3, 8)
        entities = ("accounts", "account_signers", "trustlines", "offers",
                    "liquidity_pools", "claimable_balances")
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        _run([
            "export_ledger_entry_changes", "--ledgers-dir", ledgers,
            "--output", batch_out, "--export-types", ",".join(entities),
        ])
        _run([
            "export_ledger_entry_changes", "--stream", "--ledgers-dir",
            ledgers, "--output", stream_out,
            "--export-types", ",".join(entities),
        ])

        def rows(base, entity):
            out = []
            for f in glob.glob(os.path.join(base, entity, "**", "part-*"),
                               recursive=True):
                with open(f) as fh:
                    out += [json.loads(l) for l in fh if l.strip()]
            return sorted(out, key=lambda r: json.dumps(r, sort_keys=True))

        for entity in entities:
            batch = rows(batch_out, entity)
            assert batch, entity
            assert batch == rows(stream_out, entity), entity

    def test_split_window_landing_streams_batch_rows(self, tmp_path):
        """A 64-ledger window whose files land across two ``--stream`` runs
        is re-exported whole by the second run, from all of its landed
        files, and replaces the first run's output: every entity equals
        the batch export row for row.  Compacting each run's files on its
        own would write the window's keys twice (accounts 51 rows against
        batch's 36 on this corpus)."""
        from perfbench.corpus import build

        corpus, ledgers = tmp_path / "corpus", tmp_path / "ledgers"
        build(str(corpus), 3, 8)
        ledgers.mkdir()
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        types = ",".join(CHANGE_ENTITIES)
        _run([
            "export_ledger_entry_changes", "--ledgers-dir", str(corpus),
            "--output", batch_out, "--export-types", types,
        ])
        names = sorted(os.listdir(corpus))
        for landing in (names[:4], names[4:]):
            for name in landing:
                shutil.copy(corpus / name, ledgers / name)
            out = _run([
                "export_ledger_entry_changes", "--stream", "--ledgers-dir",
                str(ledgers), "--output", stream_out, "--export-types", types,
            ])
            assert '"entities"' not in out
        for entity in CHANGE_ENTITIES:
            batch = _entity_rows(batch_out, entity)
            assert batch, entity
            assert _entity_rows(stream_out, entity) == batch, entity

    @pytest.mark.slow
    def test_get_ledger_range_from_times(self, xdr_dir):
        out = _run([
            "get_ledger_range_from_times", "--ledgers-dir", xdr_dir,
            "--start-time", "1704067215", "--end-time", "1704067225",
        ])
        rng = json.loads(out.strip().splitlines()[-1])
        assert (rng["start"], rng["end"]) == (3, 5)

    @pytest.mark.slow
    def test_streamed_transactions_equal_batch(self, xdr_dir, tmp_path):
        """--stream now generalizes to every export subcommand: the
        streaming tail feeds the identical transactions pipeline per
        micro-batch (append mode), so the union of streamed batches must
        equal the batch export row-for-row."""
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        _run([
            "export_transactions", "--ledgers-dir", xdr_dir,
            "--output", batch_out,
        ])
        _run([
            "export_transactions", "--stream", "--ledgers-dir", xdr_dir,
            "--output", stream_out,
        ])

        def rows(base):
            out = []
            for f in glob.glob(
                os.path.join(base, "transactions.jsonl", "part-*")
            ):
                with open(f) as fh:
                    out += [json.loads(l) for l in fh if l.strip()]
            return sorted(out, key=lambda r: r["id"])

        b, s = rows(batch_out), rows(stream_out)
        assert len(b) > 0
        assert b == s


def _cli_bronze(spark, ledgers_dir):
    from pyspark.sql import functions as F

    from stellar_etl_spark.sources.bronze import read_ledger_files

    return read_ledger_files(spark, ledgers_dir).select(
        "sequence", F.col("content").alias("lcm_xdr")
    )


def _cli_args():
    """The parsed CLI defaults ``_dispatch_cmd`` reads."""
    return argparse.Namespace(export_types=None, strict_export=False,
                              batch_size=64, start_time=None, end_time=None)


def _ranged_commands():
    from stellar_etl_spark.__main__ import UNRANGED
    from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES

    return sorted(set(EXPORT_PIPELINES) - set(UNRANGED))


def _subtrees(plan: str, node: str) -> list[list[str]]:
    """The lines below each ``node`` line of a plan's tree string."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith(node):
            sub = []
            for below in lines[i + 1:]:
                if depth(below) <= depth(line):
                    break
                sub.append(below.lstrip(" :+-"))
            out.append(sub)
    return out


class TestCliSession:
    def test_cli_jvm_is_c1_only(self, monkeypatch, tmp_path):
        """The short-lived CLI JVM stops at the C1 tier and keeps the
        large code cache."""
        from stellar_etl_spark import session
        from stellar_etl_spark.__main__ import main

        class SessionRequested(Exception):
            pass

        seen = {}

        def capture(*args, **kwargs):
            seen.update(kwargs)
            raise SessionRequested

        monkeypatch.setattr(session, "get_spark", capture)
        with pytest.raises(SessionRequested):
            main(["export_effects", "--ledgers-dir", str(tmp_path),
                  "--output", str(tmp_path / "out")])
        opts = seen["extra_conf"]["spark.driver.extraJavaOptions"].split()
        assert "-XX:TieredStopAtLevel=1" in opts
        assert "-XX:ReservedCodeCacheSize=1g" in opts
        # the warm-up job's Python workers serve the export only if reused
        assert seen["extra_conf"]["spark.python.worker.reuse"] == "true"

    def test_warm_up_job_ends_before_main_returns(self, spark, xdr_dir,
                                                  tmp_path, monkeypatch):
        """main runs the Python worker warm-up job beside the export and
        joins it: the job completes, and none is left running."""
        from stellar_etl_spark import session
        from stellar_etl_spark.__main__ import WARM_UP_JOB, main

        sc = spark.sparkContext
        monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        try:
            main(["export_ledgers", "--ledgers-dir", xdr_dir,
                  "--output", str(tmp_path)])
        finally:
            sc.setLogLevel("ERROR")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getActiveJobsIds()) == []
        jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            sc._jsc.sc().statusStore().jobsList(None)
        )
        warm = [
            j.status().toString() for j in jobs
            if j.description().isDefined()
            and j.description().get() == WARM_UP_JOB
        ]
        assert warm and set(warm) == {"SUCCEEDED"}

    def test_library_session_keeps_tiered_c2(self, spark):
        conf = spark.sparkContext.getConf()
        assert "TieredStopAtLevel" not in conf.get(
            "spark.driver.extraJavaOptions", ""
        )


class TestCliRange:
    @pytest.mark.parametrize("cmd", _ranged_commands())
    def test_range_filter_below_python_decode(self, spark, xdr_dir, cmd,
                                              monkeypatch):
        """Ledgers outside [start, end] are dropped on the file name before
        any silver decode parses them in Python."""
        from pyspark.sql import DataFrame

        from stellar_etl_spark.__main__ import _dispatch_cmd
        from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES

        frames = []

        def capture(*args, **kwargs):
            frames.extend(a for a in args if isinstance(a, DataFrame))
            return {} if cmd == "export_ledger_entry_changes" else 0

        monkeypatch.setitem(EXPORT_PIPELINES, cmd, capture)
        _dispatch_cmd(cmd, _cli_bronze(spark, xdr_dir), spark, _cli_args(),
                      "unused", 3, 5, "json", None, "overwrite")
        assert frames
        for df in frames:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            decodes = _subtrees(plan, "MapInPandas")
            assert decodes, plan
            for below in decodes:
                assert any(
                    line.startswith("Filter") and ">= 3" in line and "<= 5" in line
                    for line in below
                ), plan

    @pytest.mark.parametrize("cmd", _ranged_commands())
    def test_sub_range_export_matches_pipeline_range(self, spark, xdr_dir,
                                                     cmd, tmp_path):
        """Filtering bronze first changes no output: a sub-range export
        equals the one the pipeline's own range filter gives when every
        ledger reaches silver."""
        from pyspark.sql import functions as F

        from stellar_etl_spark.__main__ import _dispatch_cmd

        def export(bronze, out):
            _dispatch_cmd(cmd, bronze, spark, _cli_args(), str(out), 3, 5,
                          "json", None, "overwrite")
            rows = {}
            for f in glob.glob(str(out / "**" / "part-*"), recursive=True):
                with open(f) as fh:
                    rows.setdefault(os.path.relpath(os.path.dirname(f), out), []).extend(
                        json.dumps(json.loads(line), sort_keys=True)
                        for line in fh if line.strip()
                    )
            return {k: sorted(v) for k, v in rows.items()}

        bronze = _cli_bronze(spark, xdr_dir)
        got = export(bronze, tmp_path / "cli")
        # a file-name sequence inside the range lets every ledger through
        want = export(bronze.withColumn("sequence", F.lit(3).cast("long")),
                      tmp_path / "all")
        assert got == want
        # the fixture's ledgers carry no Soroban events, entry changes or
        # claim atoms; every other export has rows in the range
        empty = ("export_contract_events", "export_ledger_entry_changes",
                 "export_trades")
        assert (sum(map(len, got.values())) == 0) == (cmd in empty)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    from perfbench.corpus import build

    d = str(tmp_path_factory.mktemp("cli_corpus"))
    build(d, 3, 8)
    return d


class TestCliOpContext:
    def _export(self, spark, ledgers_dir, cmd, out):
        from stellar_etl_spark.__main__ import _dispatch_cmd

        _dispatch_cmd(cmd, _cli_bronze(spark, ledgers_dir), spark, _cli_args(),
                      str(out), 0, 0, "json", None, "overwrite")
        name = cmd.removeprefix("export_")
        rows = []
        for f in glob.glob(str(out / f"{name}.jsonl" / "part-*")):
            with open(f) as fh:
                rows += [json.loads(line) for line in fh if line.strip()]
        assert rows, cmd
        return rows

    def test_op_rows_carry_close_time_and_tx_source(self, spark, corpus_dir,
                                                    tmp_path):
        """Operations, effects and assets rows carry their ledger's close
        time, and each trade's buyer is its tx source (no op in this corpus
        sets its own source, trade.go:122-129)."""
        closed = {
            r["sequence"]: r["closed_at"]
            for r in self._export(spark, corpus_dir, "export_ledgers",
                                  tmp_path / "l")
        }
        tx_source = {
            int(r["id"]): r["account"]
            for r in self._export(spark, corpus_dir, "export_transactions",
                                  tmp_path / "t")
        }
        ops = self._export(spark, corpus_dir, "export_operations",
                           tmp_path / "o")
        assert all(o["closed_at"] == closed[o["ledger_sequence"]] for o in ops)
        effects = self._export(spark, corpus_dir, "export_effects",
                               tmp_path / "e")
        assert all(
            e["closed_at"] == closed[int(e["operation_id"]) >> 32]
            for e in effects
        )
        assets = self._export(spark, corpus_dir, "export_assets",
                              tmp_path / "a")
        assert all(a["closed_at"] == closed[a["ledger_sequence"]] for a in assets)
        trades = self._export(spark, corpus_dir, "export_trades",
                              tmp_path / "tr")
        for t in trades:
            op_id = int(t["history_operation_id"])
            assert t["buying_account_address"] == tx_source[op_id >> 12 << 12]
            assert t["ledger_closed_at"] == closed[op_id >> 32]

    def test_tx_rows_carry_ledger_context(self, spark, corpus_dir, tmp_path):
        """Transactions and ledger_transactions rows carry their ledger's
        close time, and ledger_transactions rows its header entry blob
        (ledger_transaction.go:37-40)."""
        from stellar_etl_spark.sources.silver import decode_ledgers

        closed = {
            r["sequence"]: r["closed_at"]
            for r in self._export(spark, corpus_dir, "export_ledgers",
                                  tmp_path / "l")
        }
        history = {
            r.sequence: r.ledger_header_history
            for r in decode_ledgers(_cli_bronze(spark, corpus_dir)).collect()
        }
        txs = self._export(spark, corpus_dir, "export_transactions",
                           tmp_path / "t")
        assert all(t["closed_at"] == closed[t["ledger_sequence"]] for t in txs)
        ltxs = self._export(spark, corpus_dir, "export_ledger_transactions",
                            tmp_path / "lt")
        assert len(ltxs) == len(txs)
        for t in ltxs:
            assert t["closed_at"] == closed[t["ledger_sequence"]]
            assert t["tx_ledger_history"] == history[t["ledger_sequence"]]

    @pytest.mark.parametrize("cmd, decodes", [
        pytest.param(c, 2 if c == "export_token_transfers" else 1, id=c)
        for c in _ranged_commands()
    ])
    def test_op_grain_export_decodes_once(self, spark, xdr_dir, cmd, decodes,
                                          monkeypatch):
        """Every ranged export hands its pipeline one Python decode of the
        ledgers; token transfers two (operations and transactions)."""
        from pyspark.sql import DataFrame

        from stellar_etl_spark.__main__ import _dispatch_cmd
        from stellar_etl_spark.plans.pipelines import EXPORT_PIPELINES

        frames = []

        def capture(*args, **kwargs):
            frames.extend(a for a in args if isinstance(a, DataFrame))
            return {} if cmd == "export_ledger_entry_changes" else 0

        monkeypatch.setitem(EXPORT_PIPELINES, cmd, capture)
        _dispatch_cmd(cmd, _cli_bronze(spark, xdr_dir), spark, _cli_args(),
                      "unused", 0, 0, "json", None, "overwrite")
        plans = [df._jdf.queryExecution().optimizedPlan().toString()
                 for df in frames]
        assert sum(len(_subtrees(p, "MapInPandas")) for p in plans) == decodes
