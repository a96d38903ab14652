"""Analytics workload: registry queries over parquet in one warm session.

``build(out_dir, seed, sf)`` writes the synthetic star schema the repo's
query tests and ``bench.py`` read (TESTDATA.md: region, nation, customer,
supplier, part, orders, lineitem, events, documents), at scale factor
``sf`` and from ``seed``.  It follows that data's shape: the same tables,
column names and types, row counts per scale factor, key ranges, value
domains and distributions (uniform keys and line numbers, exponential
event values, 10 to 99-word documents with 5% near duplicates made by
appending " dup").  The client half runs in its own process:

    python3 perfbench/analytics.py DATA_DIR SECONDS REPORT_FILE [--spans]

It starts a session with ``session.get_spark`` and runs two warm-up
passes over QUERIES, then timed passes, one query after another, until
SECONDS have passed (at least one).  The first warm-up pass runs on
``nproc`` threads, since it only has to compile and load; it observes
every query's row count and an order-independent row digest, which the
benchmark checks.  Every later pass runs the bare queries to the ``noop``
sink.  The second warm-up pass runs them one after another, as the timed
passes do: on four vCPUs the first such pass still takes 1.2 to 1.5 times
as long as the next.  With ``--spans`` each
query runs under ``setJobDescription(<query>)`` and the driver time spent
building its DataFrame is recorded.
"""

from __future__ import annotations

import json
import os
import sys
import time

QUERIES = (
    "effects_fanout op_details_switch changes_accounts trade_atoms "
    "token_transfer_classify tpch_q9_product_profit sessionize_events "
    "minhash_near_dup supplier_part_pagerank exact_dedup"
).split()

# Scale factor of a run.  At 0.1 one run takes about 80 s on 4 vCPUs
# (50 s of it session start and warm-up), too long for the benchmark's
# time budget; at 0.02 data work is still most of a timed pass.
SF = 0.02
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJECTIVES = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()


def build(out_dir: str, seed: int, sf: float = SF) -> dict:
    """Write the tables under ``out_dir``; return their row counts and the
    query row counts the data implies."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = round(1_500_000 * sf)
    n_cust, n_part, n_supp = n_orders // 10, round(200_000 * sf), round(10_000 * sf)
    n_line, n_events = 4 * n_orders, round(1_000_000 * sf)
    n_users, n_docs = round(15_000 * sf), max(500, round(50_000 * sf))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, n: int):
        return pa.array(np.array(values)[rng.integers(0, len(values), n)])

    def days(first: str, span: int, n: int):
        return np.datetime64(first, "us") + rng.integers(0, span, n).astype("timedelta64[D]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    i32 = pa.int32()
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {"c_custkey": np.arange(n_cust),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                             "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {"s_suppkey": np.arange(n_supp),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)})
    write("part", {"p_partkey": np.arange(n_part),
                   "p_name": pick([f"{a} {n}" for a in ADJECTIVES for n in NOUNS], n_part),
                   "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
                   "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                  n_part),
                   "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
                   "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10})
    write("orders", {"o_orderkey": np.arange(n_orders),
                     "o_custkey": rng.integers(0, n_cust, n_orders),
                     "o_orderstatus": pick(["F", "O", "P"], n_orders),
                     "o_totalprice": money(1000, 500000, n_orders),
                     "o_orderdate": days("1995-01-01", 2404, n_orders),
                     "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {"l_orderkey": rng.integers(0, n_orders, n_line),
                       "l_partkey": rng.integers(0, n_part, n_line),
                       "l_suppkey": rng.integers(0, n_supp, n_line),
                       "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
                       "l_quantity": quantity,
                       "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_line), 2),
                       "l_discount": rng.integers(0, 11, n_line) / 100,
                       "l_tax": rng.integers(0, 9, n_line) / 100,
                       "l_returnflag": pick(["A", "N", "R"], n_line),
                       "l_linestatus": pick(["F", "O"], n_line),
                       "l_shipdate": days("1995-01-02", 2499, n_line)})
    month_us = 30 * 86_400 * 10**6
    write("events", {"event_id": np.arange(n_events),
                     "ts": np.datetime64("2024-01-01", "us")
                     + np.sort(rng.integers(0, month_us, n_events)).astype("timedelta64[us]"),
                     "user_id": rng.integers(0, n_users, n_events),
                     "event_type": pick(["click", "error", "purchase", "signup", "view"],
                                        n_events),
                     "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    write("documents", {"doc_id": np.arange(n_docs), "text": texts,
                        "lang": pick(["de", "en", "en", "en", "es", "fr", "zh"], n_docs),
                        "source": [f"src{i % 20}" for i in range(n_docs)],
                        "n_chars": np.array([len(t) for t in texts])})
    return {"sf": sf, "orders": n_orders, "lineitem": n_line, "events": n_events,
            "documents": n_docs,
            "implied_rows": {"op_details_switch": n_line,
                             "changes_accounts": (n_events + 3) // 4,
                             "exact_dedup": len(set(texts))}}


def _observed(df):
    """``df`` with its row count and row digest observed; doubles are
    rounded so summation order cannot change the digest."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f"`{f.name}`"), 6) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    obs = Observation()
    digest = F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), digest.alias("digest")), obs


def _query(spark, data_dir: str, name: str, spans: bool, check: bool) -> tuple[list, float]:
    """([rows, digest] when ``check``, plan-build s) of one query to the
    noop sink."""
    from stellar_etl_spark.queries import QUERIES as REGISTRY

    if spans:
        spark.sparkContext.setJobDescription(name)
    t = time.time()
    df = REGISTRY[name](spark, data_dir)
    if check:
        df, obs = _observed(df)
    plan_s = time.time() - t
    df.write.format("noop").mode("overwrite").save()
    if not check:
        return [], plan_s
    got = obs.get
    return [got["rows"], got["digest"] or 0], plan_s


def _pass(spark, data_dir: str, spans: bool, threads: int = 1, check: bool = False) -> dict:
    """Every query once, on ``threads`` threads (one: one after another)."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    with ThreadPoolExecutor(threads) as pool:
        futures = {q: pool.submit(_query, spark, data_dir, q, spans, check) for q in QUERIES}
        results = {q: f.result() for q, f in futures.items()}
    return {
        "queries": {q: r[0] for q, r in results.items()},
        "plan_s": sum(r[1] for r in results.values()),
        "wall_s": time.time() - t0,
    }


def main() -> None:
    data_dir, seconds, report_path = sys.argv[1], float(sys.argv[2]), sys.argv[3]
    spans = "--spans" in sys.argv[4:]
    from stellar_etl_spark.session import get_spark

    from probe import cpus, group_usage

    report: dict = {}
    spark = get_spark("perfbench-analytics", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    report["ready"] = time.time()
    report["first_pass"] = _pass(spark, data_dir, spans, threads=cpus(), check=True)
    report["warm_pass"] = _pass(spark, data_dir, spans)
    report["warm"] = time.time()
    report["passes"] = []
    while not report["passes"] or time.time() - report["warm"] < seconds:
        cpu = group_usage(os.getpgid(0))[0]
        report["passes"].append(_pass(spark, data_dir, spans))
        report["passes"][-1]["cpu_s"] = group_usage(os.getpgid(0))[0] - cpu
    if spans:
        from cli import codegen_totals

        report.update(codegen_totals(spark))
    spark.stop()
    report["end"] = time.time()
    with open(report_path, "w") as fh:
        json.dump(report, fh)


if __name__ == "__main__":
    main()
