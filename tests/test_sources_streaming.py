"""Tests for bronze ingestion (batch and streamed ledger-file reads), the
export sink, and the bucketed and z-ordered layouts."""

from __future__ import annotations

import glob
import json
import os
import time

from golden_lcm import build_ledgers
from pyspark.sql import functions as F

from stellar_etl_spark.sources import (
    decode_ledger_files,
    export,
    read_ledger_files,
    write_bronze,
)
from stellar_etl_spark.sources.bronze import read_bronze


class TestBronze:
    def test_binaryfile_roundtrip(self, spark, tmp_path):
        src = tmp_path / "files"
        src.mkdir()
        build_ledgers(str(src), 3)  # ledgers 2, 3, 4
        files = read_ledger_files(spark, str(src))
        assert {r.sequence for r in files.select("sequence").collect()} == {2, 3, 4}

        bronze = decode_ledger_files(files)
        rows = {r.sequence: r for r in bronze.collect()}
        assert rows[3].protocol_version == 21
        assert rows[3].tx_count == 5
        assert rows[3].lcm_xdr == (src / "3.xdr").read_bytes()
        # the builder closes a ledger every 5 s
        assert (rows[4].closed_at - rows[2].closed_at).total_seconds() == 10

        write_bronze(bronze, str(tmp_path / "bronze"))
        back = read_bronze(spark, str(tmp_path / "bronze"), 3, 4)
        assert {r.sequence for r in back.select("sequence").collect()} == {3, 4}

    def test_partition_pruning_in_plan(self, spark, tmp_path):
        files = read_ledger_files(spark, "/root/testdata")  # any dir; plan only
        plan = files.where(F.col("sequence") == 1)._jdf.queryExecution().toString()
        assert "binaryFile" in plan


class TestSinks:
    def test_export_jsonl_extra_fields(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
        out = str(tmp_path / "out")
        written = export(df, out, "json", extra_fields={"network": "testnet"})
        lines = []
        for f in glob.glob(out + "/part-*"):
            with open(f) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
        assert len(lines) == written == 2
        assert all(line["network"] == "testnet" for line in lines)
        # explicit nulls preserved (ExportEntry parity)
        assert any("v" in line and line["v"] is None for line in lines)



class TestBucketedLayout:
    def test_bucketed_join_has_no_shuffle(self, spark, sf_dir):
        import contextlib
        import io

        from stellar_etl_spark.sources.bucketed import (
            co_located_join,
            write_bucketed,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        ).withColumnRenamed("l_orderkey", "orderkey")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        ).withColumnRenamed("o_orderkey", "orderkey")

        write_bucketed(li, "t_lineitem_b", "orderkey", n_buckets=8)
        write_bucketed(orders, "t_orders_b", "orderkey", n_buckets=8)
        # disable auto-broadcast so the bucketed SMJ path is what's planned
        # (at real fact×fact scale neither side would broadcast anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = co_located_join(spark, "t_lineitem_b", "t_orders_b", "orderkey")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            # co-located: SMJ over bucket files, zero shuffles
            assert "SortMergeJoin" in plan
            assert "Exchange (" not in plan
            # and the join is actually correct
            assert joined.count() == li.join(orders, "orderkey").count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
            spark.sql("DROP TABLE IF EXISTS t_orders_b")



class TestSessionWindowParity:
    """Spark's native session_window (streaming-capable) must agree with the
    batch gap-based sessionize (operators/sessionize.py) on session bounds —
    two independent implementations of the same semantics."""

    def test_session_window_equals_gap_sessionize(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        from stellar_etl_spark.operators.sessionize import session_stats

        base = dt.datetime(2024, 1, 1, 9, 0, 0)
        rows = []
        eid = 0
        # user 1: two sessions (gap > 30 min); user 2: one session
        for mins in [0, 10, 20, 70, 75]:
            rows.append((eid, base + dt.timedelta(minutes=mins), 1)); eid += 1
        for mins in [5, 25]:
            rows.append((eid, base + dt.timedelta(minutes=mins), 2)); eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

        native = {
            (r.user_id, r.start, r.end): r.n
            for r in df.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("w.start").alias("start"),
                F.col("w.end").alias("end"),
                "n",
            )
            .collect()
        }

        ours = session_stats(
            df.select(
                "user_id",
                "event_id",
                (F.unix_micros("ts")).alias("ts_us"),
            )
        ).collect()
        # session_window's end = last event + gap; ours is last event time
        gap_us = 30 * 60 * 1_000_000
        import datetime as dt2

        def us_to_dt(us):
            return dt2.datetime.utcfromtimestamp(us / 1_000_000)

        ours_set = {
            (r.user_id, us_to_dt(r.session_start_us),
             us_to_dt(r.session_end_us + gap_us)): r.n_events
            for r in ours
        }
        assert native == ours_set
        assert len(native) == 3



class TestZorderLayout:
    def test_morton_interleave_matches_reference(self, spark):
        from stellar_etl_spark.sources.layout import morton_interleave

        def py_morton(a, b, bits=8):
            z = 0
            for i in range(bits):
                z |= ((a >> i) & 1) << (2 * i + 1)
                z |= ((b >> i) & 1) << (2 * i)
            return z

        rows = [(a, b) for a in [0, 1, 5, 170, 255] for b in [0, 3, 128, 255]]
        df = spark.createDataFrame(rows, "a long, b long")
        got = df.select(
            "a", "b", morton_interleave(F.col("a"), F.col("b"), 8).alias("z")
        ).collect()
        for r in got:
            assert r.z == py_morton(r.a, r.b), (r.a, r.b)

    def test_zorder_prunes_both_dimensions(self, spark, tmp_path):
        """A 2-D box probe must touch fewer files in the z-ordered layout
        than in a layout sorted by only one of the columns."""
        import pyarrow.parquet as pq
        import glob as _glob

        from stellar_etl_spark.sources.layout import write_zordered

        n = 1 << 14
        df = spark.range(n).select(
            (F.col("id") % 128).alias("x"),
            (F.col("id") / F.lit(128)).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
        write_zordered(df, zpath, "x", "y", bits=7, target_files=16)
        (
            df.repartitionByRange(16, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(lpath)
        )

        def files_touched(path, xlo, xhi, ylo, yhi):
            touched, total = 0, 0
            for f in sorted(_glob.glob(path + "/part-*.parquet")):
                md = pq.ParquetFile(f).metadata
                overlaps = False
                for rg in range(md.num_row_groups):
                    cols = {
                        md.row_group(rg).column(i).path_in_schema: md.row_group(
                            rg
                        ).column(i).statistics
                        for i in range(md.row_group(rg).num_columns)
                    }
                    sx, sy = cols["x"], cols["y"]
                    if (
                        sx.min <= xhi
                        and sx.max >= xlo
                        and sy.min <= yhi
                        and sy.max >= ylo
                    ):
                        overlaps = True
                touched += overlaps
                total += 1
            return touched, total

        FULL = (0, 127)
        # y-range probe: the x-sorted layout cannot prune AT ALL (every
        # file spans all y); the z-order prunes roughly half the files
        zy, ztot = files_touched(zpath, *FULL, 16, 31)
        ly, ltot = files_touched(lpath, *FULL, 16, 31)
        assert ly == ltot  # linear layout: zero y pruning
        assert zy <= ztot * 0.7, (zy, ztot)
        # x-range probe: z-order still prunes a meaningful share
        zx, _ = files_touched(zpath, 16, 31, *FULL)
        assert zx <= ztot * 0.7, (zx, ztot)
        # 2-D box: z-order is not meaningfully worse than the single-column
        # sort.  repartitionByRange SAMPLES boundaries (nondeterministic
        # splits, wider variance under a loaded box — flaked once in a
        # full-suite run concurrent with a 240-query sweep), so allow two
        # boundary files of slack; the y/x pruning asserts above carry the
        # real claim.
        zb, _ = files_touched(zpath, 16, 31, 16, 31)
        lb, _ = files_touched(lpath, 16, 31, 16, 31)
        assert zb <= lb + 2, (zb, lb)
        # row counts identical
        zc = spark.read.parquet(zpath).count()
        assert zc == n


class TestStreamCrashRecovery:
    """Checkpointed restart of the ledger-file stream
    (sources/bronze.py ``read_ledger_files(stream=True)``): a stopped query
    resumed with the same checkpoint must deliver every ledger EXACTLY once
    across runs.  The file source tracks files by path, so a ledger that
    lands late with a lower sequence is delivered too."""

    def _mk_files(self, tmp_path, seqs):
        src = tmp_path / "store"
        src.mkdir(exist_ok=True)
        for seq in seqs:
            (src / f"{seq:08d}.xdr.zst").write_bytes(
                seq.to_bytes(4, "big") + b"payload" * seq
            )
        return str(src)

    def test_restart_is_exactly_once(self, spark, tmp_path):
        path = self._mk_files(tmp_path, [2, 3, 4])
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def run_until_drained():
            q = (
                read_ledger_files(spark, path, stream=True)
                .select("sequence", "length")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        def delivered():
            return sorted(r.sequence for r in spark.read.parquet(out).collect())

        run_until_drained()
        assert delivered() == [2, 3, 4]

        # the query is stopped ("crash"); new ledgers land in the store,
        # one of them below the sequences already delivered
        self._mk_files(tmp_path, [1, 5, 6])
        run_until_drained()
        # exactly once: old batches not reprocessed, new delta appended
        assert delivered() == [1, 2, 3, 4, 5, 6]

        # a third restart with no new data must deliver nothing new
        run_until_drained()
        assert delivered() == [1, 2, 3, 4, 5, 6]

    def test_backfill_with_old_mtime_is_delivered(self, spark, tmp_path):
        """A ledger copied with its original modification time, a month
        behind the newest file already delivered, is still delivered:
        Spark's default ``maxFileAge`` of 7 days would skip it silently."""
        path = self._mk_files(tmp_path, [2, 3, 4])
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

        def drain():
            (
                read_ledger_files(spark, path, stream=True)
                .select("sequence")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination(120)
            )

        drain()
        # a ledger of the next 64-ledger window lands 30 days old
        self._mk_files(tmp_path, [70])
        month_ago = time.time() - 30 * 86400
        os.utime(os.path.join(path, "00000070.xdr.zst"), (month_ago, month_ago))
        drain()
        got = sorted(r.sequence for r in spark.read.parquet(out).collect())
        assert got == [2, 3, 4, 70]
