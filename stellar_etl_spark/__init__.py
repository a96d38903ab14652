"""stellar_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the `stellar-etl` reference (see SURVEY.md).

Architecture (Spark-first, not a port):
  - ``session``    : tuned SparkSession factory (AQE, Arrow, shuffle sizing)
  - ``catalog``    : table registry over parquet datasets
  - ``schemas``    : explicit StructType registry (no inference)
  - ``functions``  : scalar column library (toid, hashes, strkey, stroops)
  - ``operators``  : reusable DataFrame operators (compaction, dedup,
                     similarity, text analysis, range lookup, multimodal)
  - ``transforms`` : stellar entity transforms (ledger, tx, op, trade, ...)
  - ``sources``    : readers/sinks (parquet, jsonl, binary ledger files,
                     bucketed layouts)
  - ``plans``      : the reference's export commands as end-to-end pipelines
                     (the CLI's ``--stream`` runs the same ones per
                     micro-batch)
  - ``queries``    : the query registry exported through __spark_entry__
  - ``oracles``    : DuckDB ANSI-SQL twins for the correctness gate
"""

__version__ = "0.1.0"
