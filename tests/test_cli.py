"""CLI end-to-end: raw LedgerCloseMeta XDR files -> subcommand -> JSONL,
mirroring the reference's golden CLI integration tests (cmd/*_test.go:
build the binary, run a subcommand over a ledger range, inspect output)."""

from __future__ import annotations

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

    @pytest.mark.slow
    def test_streamed_changes_equal_batch(self, xdr_dir, tmp_path):
        """--stream (unbounded end=0 mode) over the same XDR dir must
        produce the same per-entity rows as the batch subcommand — one
        code path per micro-batch (input/changes.go:162-180 parity)."""
        batch_out, stream_out = str(tmp_path / "b"), str(tmp_path / "s")
        _run([
            "export_ledger_entry_changes", "--ledgers-dir", xdr_dir,
            "--output", batch_out, "--export-types", "accounts,offers",
        ])
        _run([
            "export_ledger_entry_changes", "--stream", "--ledgers-dir",
            xdr_dir, "--output", stream_out,
            "--export-types", "accounts,offers",
        ])

        def rows(base, entity):
            out = []
            for f in glob.glob(os.path.join(base, entity, "part-*")):
                with open(f) as fh:
                    out += [json.loads(l) for l in fh if l.strip()]
            return sorted(
                out, key=lambda r: (r.get("ledger_sequence"),
                                    str(r.get("ledger_entry_key")))
            )

        for entity in ("accounts", "offers"):
            assert rows(batch_out, entity) == rows(stream_out, entity)

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
