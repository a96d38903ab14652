"""Stage attribution for token_transfer_classify (round-9 target).

Times nested prefixes of the pipeline against the bench shape
(SPARK_GRAFT_CACHE_DERIVED=1): raw cached-ops scan, derived event stream,
full transform — each forced with the noop sink, best of N interleaved.

Usage: python tools/profile_ttc.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CACHE_DERIVED", "1")


def _noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from stellar_etl_spark.catalog import table
    from stellar_etl_spark.entity_queries import _cached_input, _wide
    from stellar_etl_spark.queries import QUERIES
    from stellar_etl_spark.session import get_spark
    from stellar_etl_spark.transforms.derive import (
        derived_token_ops,
        derived_transactions,
    )
    from stellar_etl_spark.transforms.token_events import (
        derive_token_transfer_events,
    )
    from stellar_etl_spark.transforms.token_transfer import (
        transform_token_transfer,
    )

    spark = get_spark("profile-ttc")
    spark.sparkContext.setLogLevel("ERROR")

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ops = _cached_input(
        spark, sf_dir, "ops_token", lambda: derived_token_ops(_wide(li))
    )
    txs = derived_transactions(orders)

    stages = {
        "scan_ops": lambda: ops,
        "scan_txs": lambda: txs,
        "events": lambda: derive_token_transfer_events(ops, txs),
        "full": lambda: QUERIES["token_transfer_classify"](spark, sf_dir),
    }

    # warm each shape once, then interleave reps
    results: dict[str, list[float]] = {k: [] for k in stages}
    for name, build in stages.items():
        spark.sparkContext.setJobDescription(f"warm {name}")
        _noop(build())
    for _ in range(reps):
        for name, build in stages.items():
            spark.sparkContext.setJobDescription(f"time {name}")
            results[name].append(_noop(build()))

    for name, runs in results.items():
        print(f"{name:10s} min={min(runs):6.2f}  runs={runs}")

    ev = derive_token_transfer_events(ops, txs)
    n = ev.groupBy("sac_kind").count().collect()
    print("event counts:", sorted((r["sac_kind"], r["count"]) for r in n))
    spark.stop()


if __name__ == "__main__":
    main()
