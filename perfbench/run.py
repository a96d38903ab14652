"""Benchmark of the stellar-etl rebuild: CLI exports and warm analytics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  Workloads (single client, one run
starts after the previous one ends, ``local[nproc]``):

    etl_exports      passes of two CLI exports over a seeded busy-ledger
                     corpus (64 ledgers): ``export_effects`` (JSONL), then
                     ``export_ledger_entry_changes`` (the six entities the
                     corpus changes; keys recur inside each 64-ledger
                     batch, so compaction has work to do).  Each is one
                     fresh ``python -m stellar_etl_spark`` process, JVM
                     start included; a run's wall is that of a whole pass.
    analytics_warm   ten registry queries over a seeded star schema
                     (perfbench/analytics.py, scale factor 0.02) in one
                     long-lived session, timed after two warm-up passes.

With ``--trace 0`` the last stdout line holds the end-to-end metrics
(setup_s, run_wall_s, run_cpu_s); with ``--trace 1`` it holds the
per-layer split, taken from Spark's event log (enabled through
``PYSPARK_SUBMIT_ARGS``) and from timing the layer calls the CLI makes
(perfbench/cli.py).  The line before it carries the raw samples, the
corpus figures and the interference probe.  Everything a run writes goes
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import probe  # noqa: E402

# The change entities the corpus has changes for.  The four Soroban ones
# (contract code and data, config settings, TTLs) would each add a decode
# and an empty write to a workload that must fit the benchmark's time
# budget.
CHANGE_ENTITIES = (
    "accounts account_signers trustlines offers liquidity_pools claimable_balances"
).split()
WORKLOADS = {
    "etl_exports": {
        "cmds": (["export_effects"],
                 ["export_ledger_entry_changes", "--export-types", ",".join(CHANGE_ENTITIES)]),
        "ledgers": 64,
    },
    "analytics_warm": {"cmds": None},
}
DEADLINE_S = 170


class Run:
    """One benchmark run: its scratch directory, child environment and
    the pinned-digest state shared by every run in the checkout.  Digests
    are pinned per input set (``inputs``: seed and size), so runs of one
    seed at another size do not collide."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root, self.workload, self.seed = root, workload, seed
        self.work = os.path.join(root, ".perfbench_work")
        self.dir = os.path.join(self.work, "runs", f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.pinned = check.Pinned(os.path.join(self.work, "state", "digests.json"))
        self.deadline = time.time() + DEADLINE_S
        self.inputs = str(seed)
        self.problems: list[str] = []

    def env(self, event_dir: str | None = None) -> dict:
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, env.get("PYTHONPATH")) if p
        )
        env.update(
            TMPDIR=self.tmp,
            SPARK_LOCAL_DIRS=self.tmp,
            SPARK_WAREHOUSE_DIR=os.path.join(self.tmp, "warehouse"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp}",
        )
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            env["PYSPARK_SUBMIT_ARGS"] = " ".join(
                f"--conf {k}={v}" for k, v in (
                    ("spark.eventLog.enabled", "true"),
                    ("spark.eventLog.dir", "file://" + event_dir),
                    ("spark.eventLog.compress", "false"),
                    ("spark.eventLog.rolling.enabled", "false"),
                )
            ) + " pyspark-shell"
        return env

    def invoke(self, argv: list[str], tag: str, event_dir: str | None = None) -> dict:
        """Run one child process in its own process group to completion:
        wall time, exit code, stdout, and the CPU seconds and peak resident
        memory of the group (the child, its JVM and Python workers)."""
        err = open(os.path.join(self.dir, f"{tag}.stderr"), "w")
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, *argv], cwd=self.tmp, env=self.env(event_dir),
            stdout=subprocess.PIPE, stderr=err, text=True, start_new_session=True,
        )
        sampler = probe.GroupSampler(proc.pid)
        sampler.start()
        try:
            out, _ = proc.communicate(timeout=max(1.0, self.deadline - time.time()))
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            out, rc = "", "timeout"
        wall = time.time() - t0
        sampler.stop()
        _kill_group(proc.pid)
        proc.wait()
        err.close()
        if rc != 0:
            self.problems.append(f"{tag}: exit {rc}, see {err.name}")
        return {"t0": t0, "wall": wall, "cpu": sampler.cpu, "rc": rc,
                "stdout": out, "peak_rss": sampler.peak_rss}

    def pin(self, name: str, value) -> bool:
        ok = self.pinned.check(f"{self.workload}/{self.inputs}/{name}", value)
        if not ok:
            self.problems.append(f"{name}: digest differs from this seed's first run")
        return ok

    def expect(self, what: str, got, want) -> bool:
        if got != want:
            self.problems.append(f"{what}: got {got}, want {want}")
        return got == want


def _kill_group(pgid: int) -> None:
    """Stop whatever the child left in its process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def _last_json(stdout: str) -> dict:
    for line in reversed(stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    return {}


# --------------------------------------------------------------------------
# ETL workloads
# --------------------------------------------------------------------------


def corpus(run: Run, n_ledgers: int) -> tuple[str, dict]:
    """The seed's ledger directory, built once per checkout."""
    import corpus as gen

    run.inputs = f"{run.seed}-{n_ledgers}"
    path = os.path.join(run.work, "corpus", run.inputs)
    marker = os.path.join(path, "figures.json")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        t = time.time()
        figures = gen.build(os.path.join(path, "ledgers"), run.seed, n_ledgers)
        figures["gen_s"] = time.time() - t
        with open(marker, "w") as fh:
            json.dump(figures, fh)
    with open(marker) as fh:
        return os.path.join(path, "ledgers"), json.load(fh)


def check_etl(run: Run, cmd: str, out_dir: str, stdout: str, figures: dict) -> bool:
    printed = _last_json(stdout)
    if cmd == "export_effects":
        path = os.path.join(out_dir, "effects.jsonl")
        rows, digest = check.jsonl_digest(path)
        kinds: dict[str, int] = {}
        for row in check.jsonl_rows(path):
            kinds[row["type_string"]] = kinds.get(row["type_string"], 0) + 1
        ok_types = figures["ok_ops_by_type"]
        return all([
            run.expect("printed rows vs rows on disk", printed.get("rows"), rows),
            run.expect("trade effects (2 per claim atom)", kinds.get("trade", 0),
                       2 * figures["claim_atoms"]),
            run.expect("account_created effects", kinds.get("account_created", 0),
                       ok_types.get("0", 0)),
            run.expect("claimable_balance_created effects",
                       kinds.get("claimable_balance_created", 0), ok_types.get("14", 0)),
            run.pin("effects", [rows, digest]),
        ])
    ok = run.expect("entities printed", printed.get("entities"), sorted(CHANGE_ENTITIES))
    for entity in CHANGE_ENTITIES:
        rows, digest = check.jsonl_digest(os.path.join(out_dir, entity))
        ok &= run.expect(f"compacted {entity} keys", rows,
                         figures["compacted_keys"].get(entity, 0))
        ok &= run.pin(entity, [rows, digest])
    return ok


def etl_invocation(run: Run, cmd: list[str], ledgers: str, figures: dict, tag: str,
                   event_dir: str | None = None) -> dict:
    out_dir = os.path.join(run.dir, f"out-{tag}")
    report_path = os.path.join(run.dir, f"{tag}.json")
    argv = [os.path.join(HERE, "cli.py"), report_path]
    argv += ["--spans"] if event_dir else []
    argv += ["--", *cmd, "--ledgers-dir", ledgers, "--output", out_dir,
             "--cpus", str(probe.cpus())]
    res = run.invoke(argv, tag, event_dir)
    res["event_dir"] = event_dir
    try:
        with open(report_path) as fh:
            res["report"] = json.load(fh)
        res["setup"] = res["report"]["ready"] - res["t0"]
    except (OSError, ValueError, KeyError):
        res["report"], res["setup"] = {}, None
    res["ok"] = (
        res["rc"] == 0 and res["setup"] is not None
        and check_etl(run, cmd[0], out_dir, res["stdout"], figures)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def _read_log(event_dir: str) -> eventlog.Log:
    [log_file] = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    return eventlog.read(log_file)


def etl_layers(traced: dict, figures: dict) -> tuple[dict, eventlog.Log]:
    """Per-layer split of one traced CLI run, and its event log."""
    log = _read_log(traced["event_dir"])
    rep = traced["report"]
    spans = rep["spans"]
    session_s = rep["ready"] - traced["t0"]

    def self_time(name: str) -> float:
        total = 0.0
        for n, s, e, d in spans:
            if n != name:
                continue
            kids = sum(ke - ks for _, ks, ke, kd in spans if kd == d + 1 and ks >= s and ke <= e)
            total += (e - s) - kids
        return total

    plan_build = sum(
        max(0.0, self_time(n) - log.job_wall(n))
        for n in ("bronze", "silver", "transforms", "pipeline")
    )
    metrics = shared_layers(log, figures["ledgers"], figures["bytes"])
    metrics.update({
        "transforms.plan_build_s": plan_build,
        "transforms.codegen_compile_s": rep.get("codegen_ms", 0.0) / 1e3,
        "cli.count_pass_s": sum(e - s for n, s, e, _ in spans if n == "cli.count"),
        "cli.session_s": session_s,
        "trace.wall_s": traced["wall"],
        "trace.attributed_frac": (session_s + attributed(spans, log)) / traced["wall"],
    })
    return metrics, log


LEAF_LAYERS = ("bronze", "silver", "transforms", "sink", "cli.count", "stop")


def attributed(spans: list, log: eventlog.Log) -> float:
    """Seconds after session start that a named layer accounts for: the
    union of the leaf layer spans and of the jobs the ``pipeline`` layer ran
    outside them.  Driver time inside ``pipeline`` with no job running, and
    everything outside the spans, stays unattributed."""
    intervals = [(s, e) for n, s, e, _ in spans if n in LEAF_LAYERS]
    intervals += [(s, e) for s, e, d in log.jobs.values() if d == "pipeline"]
    return eventlog.union_length(intervals)


def cores_busy(logs: list[eventlog.Log]) -> float:
    """Task seconds over app wall seconds times cores, over ``logs``."""
    app_wall = sum(max(log.app_end - log.app_start, 1e-9) for log in logs)
    return sum(log.task_run_s for log in logs) / (app_wall * probe.cpus())


def shared_layers(log: eventlog.Log, n_ledgers: int, in_bytes: int) -> dict:
    """Per-layer figures every workload reads the same way from its log."""
    app_wall = max(log.app_end - log.app_start, 1e-9)
    scan_rows = log.op("Scan binaryFile", "number of output rows")
    write = "Execute InsertIntoHadoopFsRelationCommand"
    return {
        "bronze.scan_passes_per_ledger": scan_rows / n_ledgers if n_ledgers else 0.0,
        "bronze.listing_s": log.op("Scan binaryFile", "metadata time"),
        "silver.python_s": log.op("MapInPandas", "time to run Python workers"),
        "silver.python_init_s": log.op("MapInPandas", "time to initialize Python workers"),
        "silver.bytes_to_python_per_input_byte": (
            log.op("MapInPandas", "data sent to Python workers") / in_bytes if in_bytes else 0.0
        ),
        "silver.rows_out": log.op("MapInPandas", "number of output rows"),
        "silver.bytes_from_python": log.op("MapInPandas", "data returned from Python workers"),
        "transforms.shuffle_bytes": log.shuffle_bytes,
        "sink.rows_written": log.op(write, "number of output rows"),
        "sink.bytes_written": log.op(write, "written output"),
        "sink.files_written": log.op(write, "number of written files"),
        "sink.commit_s": log.op(write, "task commit time") + log.op(write, "job commit time"),
        "sink.write_passes": log.writes(),
        "cli.jobs": len(log.jobs),
        "cli.driver_gap_s": app_wall - log.job_wall(),
        "cli.task_s": log.task_run_s,
        "cli.task_cpu_s": log.task_cpu_s,
        "cli.gc_s": log.task_gc_s,
        "cli.cores_busy_frac": cores_busy([log]),
    }


def etl_trace(run: Run, cmds: tuple, ledgers: str, figures: dict) -> tuple[list, dict]:
    """Per-layer split of one pass over the exports: each command run once
    traced, the figures of both added up (per-ledger and per-byte ratios
    too, so they read as the pass's total)."""
    done, parts, logs = [], [], []
    for cmd in cmds:
        traced = etl_invocation(run, cmd, ledgers, figures, f"traced-{cmd[0]}",
                                os.path.join(run.dir, f"eventlog-{cmd[0]}"))
        done.append(traced)
        if not traced["ok"]:
            return done, {}
        part, log = etl_layers(traced, figures)
        parts.append(part)
        logs.append(log)
    metrics = {k: sum(p[k] for p in parts) for k in parts[0]}
    metrics.update({
        "cli.cores_busy_frac": cores_busy(logs),
        "trace.attributed_frac": min(p["trace.attributed_frac"] for p in parts),
        "ledgers_per_s": figures["ledgers"] / metrics["trace.wall_s"],
        "peak_rss_mb": max(r["peak_rss"] for r in done) / 1e6,
        "corpus.gen_s": figures["gen_s"],
    })
    for name in ("queries.exec_s", "queries.jobs_per_query", "queries.first_pass_s"):
        metrics[name] = 0.0
    if metrics["trace.attributed_frac"] < 0.9:
        run.problems.append("named layers cover under 90% of a traced wall")
        done[-1]["ok"] = False
    return done, metrics


def run_etl(run: Run, spec: dict, seconds: float, trace: bool) -> tuple[list, dict, dict]:
    """Passes over the exports, one fresh CLI process per command, until
    ``seconds`` have passed (at least one pass)."""
    ledgers, figures = corpus(run, spec["ledgers"])
    detail = {"corpus": figures}
    if trace:
        done, metrics = etl_trace(run, spec["cmds"], ledgers, figures)
        return done, metrics, detail
    passes = []
    start = time.time()
    while not passes or time.time() - start < seconds:
        passes.append([etl_invocation(run, cmd, ledgers, figures, f"cli{len(passes)}-{i}")
                       for i, cmd in enumerate(spec["cmds"])])
    done = [r for p in passes for r in p]
    good = [p for p in passes if all(r["ok"] for r in p)]
    if not good:
        return done, {}, detail
    metrics = {
        "setup_s": _median(r["setup"] for p in good for r in p),
        "run_wall_s": _median(sum(r["wall"] for r in p) for p in good),
        "run_cpu_s": _median(sum(r["cpu"] for r in p) for p in good),
    }
    detail["peak_rss_mb"] = max(r["peak_rss"] for r in done) / 1e6
    detail["ledgers_per_s"] = figures["ledgers"] / metrics["run_wall_s"]
    return done, metrics, detail


# --------------------------------------------------------------------------
# Analytics workload
# --------------------------------------------------------------------------


def analytics_invocation(run: Run, data: str, figures: dict, seconds: float, tag: str,
                         event_dir: str | None = None) -> dict:
    import analytics

    report_path = os.path.join(run.dir, f"{tag}.json")
    argv = [os.path.join(HERE, "analytics.py"), data, str(seconds), report_path]
    res = run.invoke(argv + (["--spans"] if event_dir else []), tag, event_dir)
    res["ok"] = False
    try:
        with open(report_path) as fh:
            rep = res["report"] = json.load(fh)
    except (OSError, ValueError):
        return res
    res["setup"] = rep["warm"] - res["t0"]
    res["pass_walls"] = [p["wall_s"] for p in rep["passes"]]
    first = rep["first_pass"]["queries"]
    ok = run.expect("queries run", sorted(first), sorted(analytics.QUERIES))
    for q, (rows, _digest) in first.items():
        ok &= run.expect(f"{q} returns rows", rows > 0, True)
        if q in figures["implied_rows"]:
            ok &= run.expect(f"{q} rows", rows, figures["implied_rows"][q])
        ok &= run.pin(q, first[q])
    res["ok"] = res["rc"] == 0 and ok
    return res


def run_analytics(run: Run, seconds: float, trace: bool, sf: float) -> tuple[list, dict, dict]:
    import analytics

    run.inputs = f"{run.seed}-sf{sf}"
    data = os.path.join(run.work, "parquet", run.inputs)
    marker = os.path.join(data, "figures.json")
    if not os.path.exists(marker):
        shutil.rmtree(data, ignore_errors=True)
        t = time.time()
        figures = analytics.build(data, run.seed, sf)
        figures["gen_s"] = time.time() - t
        with open(marker, "w") as fh:
            json.dump(figures, fh)
    with open(marker) as fh:
        figures = json.load(fh)
    detail = {"data": figures}
    event_dir = os.path.join(run.dir, "eventlog") if trace else None
    res = analytics_invocation(run, data, figures, 0 if trace else seconds,
                               "traced" if trace else "client", event_dir)
    if not res["ok"]:
        return [res], {}, detail
    rep = res["report"]
    walls = res["pass_walls"]
    detail.update(pass_walls=walls, peak_rss_mb=res["peak_rss"] / 1e6)
    if not trace:
        return [res], {
            "setup_s": res["setup"],
            "run_wall_s": _median(walls),
            "run_cpu_s": _median(p["cpu_s"] for p in rep["passes"]),
        }, detail
    log = _read_log(event_dir)
    timed = [j for j in log.jobs.values() if j[0] >= rep["warm"]]
    session_s = rep["ready"] - res["t0"]
    passes = [rep["first_pass"], rep["warm_pass"]] + rep["passes"]
    metrics = shared_layers(log, 0, 0)
    metrics.update({
        "corpus.gen_s": figures["gen_s"],
        "transforms.plan_build_s": _median(p["plan_s"] for p in rep["passes"]),
        "transforms.codegen_compile_s": rep.get("codegen_ms", 0.0) / 1e3,
        "cli.count_pass_s": 0.0,
        "cli.session_s": session_s,
        "queries.exec_s": _median(walls),
        "queries.jobs_per_query": len(timed) / (len(rep["passes"]) * len(analytics.QUERIES)),
        "queries.first_pass_s": rep["first_pass"]["wall_s"],
        "trace.wall_s": res["wall"],
        "trace.attributed_frac": (session_s + sum(p["wall_s"] for p in passes)) / res["wall"],
        "ledgers_per_s": 0.0,
        "peak_rss_mb": res["peak_rss"] / 1e6,
    })
    return [res], metrics, detail


# --------------------------------------------------------------------------


def _median(values) -> float:
    return statistics.median(list(values))


def declared(root: str, trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description="stellar-etl benchmark (see module doc)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledgers", type=int, default=None,
                    help="corpus size override (the self-test uses a tiny one)")
    ap.add_argument("--sf", type=float, default=None,
                    help="analytics scale factor override (the self-test uses a tiny one)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "stellar_etl_spark", "__main__.py")):
        print(f"no stellar_etl_spark package under {root}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    units = declared(root, bool(args.trace))
    run = Run(root, args.workload, args.seed)
    calib = [probe.calib()]
    spec = dict(WORKLOADS[args.workload])
    if args.ledgers:
        spec["ledgers"] = args.ledgers
    if spec["cmds"]:
        done, metrics, detail = run_etl(run, spec, args.seconds, bool(args.trace))
    else:
        import analytics

        done, metrics, detail = run_analytics(run, args.seconds, bool(args.trace),
                                              args.sf or analytics.SF)
    calib.append(probe.calib())
    calib_m = {f"calib.{k}": _median(c[k] for c in calib) for k in calib[0]}
    if args.trace:
        metrics.update(calib_m)
    if metrics and set(metrics) != set(units):
        run.problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
        done[-1]["ok"] = False
    failed = sum(not r["ok"] for r in done)
    detail.update(
        workload=args.workload, seed=args.seed, cpus=probe.cpus(), calib=calib,
        walls=[r["wall"] for r in done], setups=[r.get("setup") for r in done],
        failed_frac=failed / len(done), problems=run.problems,
    )
    shutil.rmtree(run.dir, ignore_errors=True)
    for p in run.problems:
        print(p, file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": len(done),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "?")} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
