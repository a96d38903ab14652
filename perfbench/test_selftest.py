"""Self-test of the benchmark on a tiny corpus.

    python3 perfbench/test_selftest.py        (or: python3 -m pytest perfbench)

Run from the root of a source checkout.  Every workload runs once untraced
and once traced, over 8 ledgers (analytics: scale factor 0.001); each
result line must be correct and carry exactly the metrics BENCHMARK.json
declares for that mode, with their units.  A copy of
the benchmark without the package beside it must fail without a result.
Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY_LEDGERS = "8"
TINY_SF = "0.001"


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--ledgers", TINY_LEDGERS, "--sf", TINY_SF],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _check(workload: str, trace: int) -> None:
    res = _run(workload, trace)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, res.stderr[-2000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_workloads() -> None:
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            _check(w["name"], trace)


def test_fails_without_the_package() -> None:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        res = _run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        assert res.returncode != 0
        assert '"correct"' not in res.stdout
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    test_fails_without_the_package()
    test_workloads()
    print("selftest ok", file=sys.stderr)
