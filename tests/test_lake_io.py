"""Lake writer/reader: layout, idempotent upsert keep-last, half-open read
contract, empty-lake behavior, schema enforcement
(ref writer.py:126-233, api.py:12-72, tests/test_read_api.py)."""

import os
import pathlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from backtest_crew_datalake_spark.operators.qc import validate_layout
from backtest_crew_datalake_spark.schemas import CANONICAL_ORDER, enforce_schema
from backtest_crew_datalake_spark.sources.lake import read_range
from backtest_crew_datalake_spark.sources.synth import make_m1
from backtest_crew_datalake_spark.sources.writer import upsert_candles


def test_roundtrip_layout_and_contract(spark, tmp_path):
    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-31", "2024-02-01", seed=42)
    upsert_candles(spark, m1, root)

    # Hive layout with per-row month routing (the frame spans two months)
    paths = list(pathlib.Path(root).glob("data/*/*/*/*/*/*/*.parquet"))
    assert paths, "no files written"
    parts = {p.parent.parent.name + "/" + p.parent.name for p in paths}
    assert parts == {"year=2024/month=01", "year=2024/month=02"}
    assert validate_layout(spark, root) == []

    got = read_range(
        spark, root, symbol="BTC-USD",
        date_from="2024-01-31 00:00:00", date_to="2024-02-01 00:00:00",
    )
    assert got.count() == 1440  # half-open: second day excluded
    ts = got.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert ts[0] == pd.Timestamp("2024-01-31 00:00:00")
    assert ts[1] == pd.Timestamp("2024-01-31 23:59:00")


def test_upsert_idempotent_and_keep_last(spark, tmp_path):
    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=42)
    upsert_candles(spark, m1, root)
    n1 = read_range(spark, root, symbol="BTC-USD").count()
    # idempotent re-ingest (ref README.md:176)
    upsert_candles(spark, m1, root)
    assert read_range(spark, root, symbol="BTC-USD").count() == n1 == 1440

    # changed rows win (keep-last, new over existing; ref writer.py:193-199)
    patch = m1.where(F.col("ts") < "2024-01-01 00:10:00") \
              .withColumn("close", F.lit(123456.0))
    upsert_candles(spark, patch, root)
    got = read_range(spark, root, symbol="BTC-USD")
    assert got.count() == 1440
    assert got.where(F.col("close") == 123456.0).count() == 10


def test_multi_symbol_column_pruned_read(spark, tmp_path):
    """Column pruning must not drop the per-series dedupe key."""
    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD", "ETH-USD"], "2024-01-01", "2024-01-01",
                 seed=7)
    upsert_candles(spark, m1, root)
    got = read_range(spark, root, symbol=["BTC-USD", "ETH-USD"],
                     columns=["close"])
    assert got.count() == 2880
    assert set(got.columns) == {"ts", "close", "symbol"}


def test_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from backtest_crew_datalake_spark.operators.skew import salted_join

    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    with _pytest.raises(ValueError, match="inner.*left"):
        salted_join(df, df, on=["k"], how="outer")


def test_multi_symbol_read(spark, tmp_path):
    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD", "ETH-USD", "SOL-USD"],
                 "2024-01-01", "2024-01-01", seed=42)
    upsert_candles(spark, m1, root)
    got = read_range(spark, root, symbol=["BTC-USD", "ETH-USD"])
    assert got.count() == 2880  # both series, per-series dedupe
    assert got.select("symbol").distinct().count() == 2


def test_write_levels_idempotent_keep_last(spark, tmp_path):
    """Levels upsert keyed (session_date, symbol), new rows win
    (ref or_levels.py:67-83)."""
    from backtest_crew_datalake_spark.operators.levels import build_or_levels
    from backtest_crew_datalake_spark.sources.writer import write_levels

    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-02", seed=42)
    lv = build_or_levels(m1, or_window="00:00-01:00", tz="UTC", by=["symbol"])
    write_levels(spark, lv, root)
    got1 = spark.read.parquet(f"{root}/levels")
    n1 = got1.count()
    assert n1 == 2  # one row per session day

    # re-write the same levels: idempotent
    write_levels(spark, lv, root)
    assert spark.read.parquet(f"{root}/levels").count() == n1

    # overwrite one session with a changed row: keep-last wins
    patched = lv.withColumn("or_high", F.lit(999999.0))
    write_levels(spark, patched, root)
    got = spark.read.parquet(f"{root}/levels")
    assert got.count() == n1
    assert got.where(F.col("or_high") == 999999.0).count() == n1


def test_empty_lake_returns_empty_typed(spark, tmp_path):
    got = read_range(spark, str(tmp_path / "nolake"), symbol="BTC-USD")
    assert got.count() == 0
    assert "ts" in got.columns and "close" in got.columns


def test_enforce_schema_defaults(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:01:00", "41000.5", "BTC-USD")],
        ["ts", "close", "symbol"],
    )
    out = enforce_schema(df, timeframe="M1")
    assert out.columns[: len(CANONICAL_ORDER)] == CANONICAL_ORDER
    row = out.collect()[0]
    assert row["close"] == 41000.5       # numeric coercion from string
    assert row["open"] == 0.0            # missing numeric -> 0.0
    assert row["source"] == "ibkr"       # defaults
    assert row["exchange"] == "PAXOS"
    assert row["timeframe"] == "M1"
    assert row["ts"] == pd.Timestamp("2024-01-01 00:01:00")


def test_column_pruned_read(spark, tmp_path):
    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=1)
    upsert_candles(spark, m1, root)
    got = read_range(spark, root, symbol="BTC-USD", columns=["close"])
    assert set(got.columns) == {"ts", "close"}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "open" not in plan.split("ReadSchema")[-1][:200]


def test_compact_partitions(spark, tmp_path):
    """Many small upserts leave many files per leaf; compaction collapses
    them, preserves every row and the partition tree, and is a no-op when
    re-run."""
    import glob

    from backtest_crew_datalake_spark.sources.writer import (
        compact_partitions, upsert_candles,
    )

    lake = str(tmp_path / "lake")
    m1 = enforce_schema(
        make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=9),
        timeframe="M1",
    )
    # the merge-upsert writer keeps one file per leaf by construction, so
    # build the small-files condition the way it actually arises: APPEND
    # ingests (landing-style) into the same partition tree
    upsert_candles(spark, m1.where(F.hour("ts") < 4), lake)
    for h in range(4, 24, 4):
        chunk = m1.where((F.hour("ts") >= h) & (F.hour("ts") < h + 4))
        from backtest_crew_datalake_spark.sources.writer import (
            _with_partitions,
        )
        (_with_partitions(enforce_schema(chunk)).coalesce(1)
         .write.mode("append")
         .partitionBy("source", "market", "timeframe", "symbol",
                      "year", "month")
         .parquet(f"{lake}/data"))

    leaf_glob = f"{lake}/data/**/*.parquet"
    before = len(glob.glob(leaf_glob, recursive=True))
    rows_before = read_range(spark, lake, symbol="BTC-USD").toPandas()
    assert len(rows_before) == 1440

    stats = compact_partitions(spark, lake, target_mb=128)
    assert stats, "nothing compacted"
    after = len(glob.glob(leaf_glob, recursive=True))
    assert after < before
    for _leaf, (fb, fa) in stats.items():
        assert fa < fb

    rows_after = read_range(spark, lake, symbol="BTC-USD").toPandas()
    assert len(rows_after) == 1440
    assert (rows_before.sort_values("ts").reset_index(drop=True)["close"]
            == rows_after.sort_values("ts").reset_index(drop=True)["close"]).all()

    assert compact_partitions(spark, lake, target_mb=128) == {}  # idempotent


def test_zorder_key_and_rowgroup_skipping(spark, tmp_path):
    """zorder_key matches a python Morton reference; a Z-ordered layout
    gives strictly tighter row-group statistics on the SECOND column than a
    first-column sort (the skipping win it exists for)."""
    import pyarrow.parquet as pq_

    from backtest_crew_datalake_spark.sources.layout import (
        write_zordered, zorder_key,
    )

    # bit-exact morton check vs python
    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 7, 1024)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {(r.a, r.b): r.z for r in
           df.withColumn("z", zorder_key("a", "b")).collect()}

    def morton(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b)

    # layout comparison: 64k rows over a 256x256 (x, y) grid
    grid = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y"),
    )
    xs_path = str(tmp_path / "xsorted")
    zo_path = str(tmp_path / "zordered")
    (grid.repartitionByRange(4, "x").sortWithinPartitions("x")
         .write.option("parquet.block.size", 64 * 1024).parquet(xs_path))
    write_zordered(grid, zo_path, "x", "y", bits=8, files=4,
                   **{"parquet.block.size": str(64 * 1024)})

    def candidate_rowgroups(path, col, lo, hi):
        import glob
        total = cand = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq_.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                total += 1
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        if st.min <= hi and st.max >= lo:
                            cand += 1
        return cand, total

    # predicate on y (the column the x-sort ignores)
    c_x, t_x = candidate_rowgroups(xs_path, "y", 100, 110)
    c_z, t_z = candidate_rowgroups(zo_path, "y", 100, 110)
    assert t_x > 4 and t_z > 4  # multiple row groups exist in both layouts
    # x-sorted: nearly every row group spans the full y range (only small
    # tail row groups may occasionally skip — row-group sizing varies with
    # the runtime's write batching)
    assert c_x / t_x >= 0.8, (c_x, t_x)
    # z-ordered: a thin y-slice must skip a solid majority of row groups,
    # and strictly beat the single-column sort
    assert c_z / t_z <= 0.5, (c_z, t_z)
    assert c_z / t_z < c_x / t_x


def test_compact_crash_recovery(spark, tmp_path):
    """A crash between the swap's two renames leaves the leaf as a hidden
    bak dir (invisible to Spark); the next compaction run restores it."""
    import os

    from backtest_crew_datalake_spark.sources.writer import (
        compact_partitions, upsert_candles,
    )

    lake = str(tmp_path / "lake")
    m1 = enforce_schema(
        make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=2),
        timeframe="M1",
    )
    upsert_candles(spark, m1, lake)
    leaf = None
    for d, _s, fs in os.walk(f"{lake}/data"):
        if any(f.endswith(".parquet") for f in fs):
            leaf = d
    parent, base = os.path.split(leaf)
    bak = os.path.join(parent, f".__compact_bak_{base}")
    os.rename(leaf, bak)  # simulated crash mid-swap
    # hidden-path rule: the bak is invisible, so the data is "gone"
    assert read_range(spark, lake, symbol="BTC-USD").count() == 0

    compact_partitions(spark, lake)
    assert read_range(spark, lake, symbol="BTC-USD").count() == 1440
    assert not os.path.exists(bak)


def test_upsert_dynamic_overwrite_forced_per_write(spark, tmp_path):
    """An upsert must replace only the partitions present in its output even
    when the caller's session is configured for STATIC partition overwrite
    (the per-write .option overrides the session conf; without it a static
    overwrite deletes every existing partition — whole-lake data loss)."""
    root = str(tmp_path / "lake")
    jan = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=3)
    feb = make_m1(spark, ["BTC-USD"], "2024-02-01", "2024-02-01", seed=3)
    upsert_candles(spark, jan, root)

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        upsert_candles(spark, feb, root)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    got = read_range(spark, root, symbol="BTC-USD")
    assert got.count() == 2880  # January survived the February upsert
    months = {r[0] for r in got.select(F.month("ts")).distinct().collect()}
    assert months == {1, 2}


def test_concurrent_upserts_same_partition_no_lost_rows(spark, tmp_path):
    """Two writers upserting disjoint row sets into the SAME partition
    serialize on the partition lock; the read-modify-write interleave that
    would drop the first writer's rows cannot happen."""
    import threading

    root = str(tmp_path / "lake")
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=5)
    first = m1.where(F.hour("ts") < 12)
    second = m1.where(F.hour("ts") >= 12)

    errs = []

    def run(df):
        try:
            upsert_candles(spark, df, root)
        except Exception as e:  # surface thread failures in the assert below
            errs.append(e)

    threads = [threading.Thread(target=run, args=(df,))
               for df in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert read_range(spark, root, symbol="BTC-USD").count() == 1440
    # locks released
    import glob
    assert glob.glob(f"{root}/.locks/data/*.lock") == []


def test_read_day_closed_second_contract(spark, tmp_path):
    """read_day keeps the reference's CLOSED [00:00, 23:59:59] bound at
    second precision: a bar stamped 23:59:59 is included, a sub-second bar
    at 23:59:59.5 is excluded (ref reader.py:35-37)."""
    import datetime as dt

    from backtest_crew_datalake_spark.sources.lake import read_day

    root = str(tmp_path / "lake")
    rows = [
        (dt.datetime(2024, 1, 1, 23, 59, 59), 101.0),
        (dt.datetime(2024, 1, 1, 23, 59, 59, 500000), 102.0),
        (dt.datetime(2024, 1, 2, 0, 0, 0), 103.0),
    ]
    df = spark.createDataFrame(
        [(t, c, "BTC-USD") for t, c in rows], ["ts", "close", "symbol"]
    )
    upsert_candles(spark, enforce_schema(df, timeframe="M1"), root)
    got = read_day(spark, root, symbol="BTC-USD", day="2024-01-01")
    closes = {r["close"] for r in got.select("close").collect()}
    assert closes == {101.0}


def test_empty_lake_respects_column_projection(spark, tmp_path):
    """An empty LAKE and an empty FILTER RESULT must expose the same schema
    to unionByName/select consumers."""
    got = read_range(spark, str(tmp_path / "nolake"), symbol="BTC-USD",
                     columns=["close"])
    assert got.columns == ["ts", "close"]
    multi = read_range(spark, str(tmp_path / "nolake"),
                       symbol=["BTC-USD", "ETH-USD"], columns=["close"])
    assert set(multi.columns) == {"ts", "close", "symbol"}

def test_wide_exclusive_vs_narrow_shared_no_lost_update(
        spark, tmp_path, monkeypatch):
    """A wide backfill (touched partitions > _PRED_LIMIT -> exclusive
    dataset sentinel) racing a narrow upsert (shared per-partition locks)
    must serialize: the narrow writer's partition is one the wide writer
    also rewrites, so an unserialized interleave loses one side's rows."""
    import threading

    from backtest_crew_datalake_spark.sources import writer

    monkeypatch.setattr(writer, "_PRED_LIMIT", 2)

    root = str(tmp_path / "lake")
    # seed the lake so both writers take the read-modify-write path
    upsert_candles(
        spark, make_m1(spark, ["BTC-USD"], "2023-12-01", "2023-12-01",
                       seed=11), root)
    # 3 month-partitions > patched limit of 2 -> exclusive mode
    wide = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=11) \
        .unionByName(make_m1(spark, ["BTC-USD"], "2024-02-01", "2024-02-01",
                             seed=11)) \
        .unionByName(make_m1(spark, ["BTC-USD"], "2024-03-01", "2024-03-01",
                             seed=11))
    # narrow writer hits one of the SAME partitions (2024-01), disjoint rows
    narrow = make_m1(spark, ["BTC-USD"], "2024-01-02", "2024-01-02", seed=11)

    errs = []

    def run(df):
        try:
            upsert_candles(spark, df, root)
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=run, args=(df,))
               for df in (wide, narrow)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # every row from the seed, the wide backfill, and the narrow upsert
    assert read_range(spark, root, symbol="BTC-USD").count() == 5 * 1440
    import glob
    assert glob.glob(f"{root}/.locks/data/*.lock") == []


def _lock_fs(spark, lock_dir):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    fs = jpath(lock_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(jpath(lock_dir))
    return fs, jpath


def test_steal_verifies_tombstone_freshness(spark, tmp_path, monkeypatch):
    """The ADVICE race: stealer B stats the lock stale; before B's rename,
    stealer A steals it AND re-creates a fresh lock at the same path. B's
    rename then succeeds -- against A's LIVE lock. B must detect the fresh
    tombstone, restore the lock, and report failure, never deleting a live
    lock."""
    import time as _t

    from backtest_crew_datalake_spark.sources import writer

    lock_dir = str(tmp_path / "locks")
    fs, jpath = _lock_fs(spark, lock_dir)
    p_os = os.path.join(lock_dir, "part.lock")
    p = jpath(p_os)

    open(p_os, "w").close()
    stale = _t.time() - 3600
    os.utime(p_os, (stale, stale))

    def faster_stealer_wins():
        # simulate A: steal the stale lock and immediately re-create it
        os.remove(p_os)
        open(p_os, "w").close()  # fresh mtime -> live lock

    monkeypatch.setattr(writer, "_STEAL_STAT_HOOK", faster_stealer_wins)
    assert writer._try_steal(fs, jpath, p, writer._LOCK_LEASE_MS) is False
    # A's live lock survived (restored from the tombstone)
    assert os.path.exists(p_os)
    assert not [f for f in os.listdir(lock_dir) if ".steal." in f]


def test_steal_race_exactly_one_acquirer(spark, tmp_path):
    """Two waiters polling a forced-stale lock: exactly one acquires it (the
    rename tombstone arbitrates the steal; createNewFile arbitrates the
    re-create); the other times out against the winner's fresh lock."""
    import threading
    import time as _t

    from backtest_crew_datalake_spark.sources import writer

    lock_dir = str(tmp_path / "locks")
    fs, jpath = _lock_fs(spark, lock_dir)
    p_os = os.path.join(lock_dir, "part.lock")
    p = jpath(p_os)
    open(p_os, "w").close()
    stale = _t.time() - 3600
    os.utime(p_os, (stale, stale))

    results = []

    def waiter():
        try:
            writer._acquire(fs, jpath, p, _t.monotonic() + 2.0,
                            writer._LOCK_LEASE_MS)
            results.append("acquired")
        except writer.PartitionLockTimeout:
            results.append("timeout")

    threads = [threading.Thread(target=waiter) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == ["acquired", "timeout"], results
    assert os.path.exists(p_os)  # the winner's lock is in place


def test_heartbeat_prevents_midwrite_steal(spark, tmp_path):
    """A write that outlives the lock lease must NOT lose its lock: the
    holder's heartbeat renews the mtime every lease/3, so a competitor
    waiting with steal-on-stale times out instead of stealing mid-write."""
    import threading
    import time as _t

    from backtest_crew_datalake_spark.sources.writer import (
        PartitionLockTimeout, _partition_locks)

    lock_dir = str(tmp_path / "locks")
    release = threading.Event()
    held = threading.Event()
    errs = []

    def holder():
        try:
            with _partition_locks(spark, lock_dir, ["p1"], timeout_s=5.0,
                                  lease_ms=600):
                held.set()
                release.wait(10.0)  # hold well past the 600 ms lease
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(10.0)
    _t.sleep(0.9)  # lock is now older than the lease unless renewed
    try:
        with pytest.raises(PartitionLockTimeout):
            with _partition_locks(spark, lock_dir, ["p1"], timeout_s=1.2,
                                  lease_ms=600):
                pass
    finally:
        release.set()
        t.join(10.0)
    assert not errs, errs
    # after release, the lock is gone and a new writer proceeds immediately
    with _partition_locks(spark, lock_dir, ["p1"], timeout_s=2.0,
                          lease_ms=600):
        pass

def test_exclusive_drains_preexisting_shared_locks(spark, tmp_path):
    """An exclusive writer must take the dataset sentinel, then WAIT until
    pre-existing shared (per-partition) locks drain before proceeding."""
    import threading
    import time as _t

    from backtest_crew_datalake_spark.sources.writer import _partition_locks

    lock_dir = str(tmp_path / "locks")
    shared_held = threading.Event()
    release_shared = threading.Event()
    excl_entered = threading.Event()
    errs = []

    def shared():
        try:
            with _partition_locks(spark, lock_dir, ["p1"], timeout_s=10.0):
                shared_held.set()
                release_shared.wait(10.0)
        except Exception as e:
            errs.append(e)

    def exclusive():
        try:
            with _partition_locks(spark, lock_dir, [], timeout_s=10.0,
                                  exclusive=True):
                excl_entered.set()
        except Exception as e:
            errs.append(e)

    ts = threading.Thread(target=shared)
    ts.start()
    assert shared_held.wait(10.0)
    te = threading.Thread(target=exclusive)
    te.start()
    _t.sleep(0.5)
    # exclusive holds the sentinel but must NOT have entered yet
    assert os.path.exists(os.path.join(lock_dir, "__dataset.lock"))
    assert not excl_entered.is_set()
    release_shared.set()
    assert excl_entered.wait(10.0)  # drains as soon as the shared lock goes
    ts.join(10.0)
    te.join(10.0)
    assert not errs, errs
    assert [f for f in os.listdir(lock_dir) if f.endswith(".lock")] == []


def test_shared_blocks_on_sentinel_until_released(spark, tmp_path):
    """A shared writer arriving while the dataset sentinel exists must wait;
    it proceeds as soon as the sentinel is removed."""
    import threading
    import time as _t

    from backtest_crew_datalake_spark.sources.writer import _partition_locks

    lock_dir = str(tmp_path / "locks")
    os.makedirs(lock_dir, exist_ok=True)
    sentinel = os.path.join(lock_dir, "__dataset.lock")
    open(sentinel, "w").close()  # fresh sentinel: an exclusive writer "runs"

    entered = threading.Event()
    errs = []

    def shared():
        try:
            with _partition_locks(spark, lock_dir, ["p1"], timeout_s=10.0):
                entered.set()
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=shared)
    t.start()
    _t.sleep(0.5)
    assert not entered.is_set()  # blocked on the live sentinel
    os.remove(sentinel)          # exclusive writer "finishes"
    assert entered.wait(10.0)
    t.join(10.0)
    assert not errs, errs


def test_compact_partitions_zorder_clusters(spark, tmp_path):
    """compact_partitions(zorder_cols=...) composes compaction with
    Z-order clustering (the OPTIMIZE ZORDER BY shape): files shrink to
    the target, rows are preserved, and the rewritten leaf's row groups
    skip on the SECOND cluster column where a plain sorted compaction
    cannot."""
    import glob
    import os

    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.writer import (
        compact_partitions,
    )

    lake = str(tmp_path / "lake")
    leaf = os.path.join(lake, "data", "part=0")
    os.makedirs(leaf)
    grid = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
    )
    # many small unclustered files in one leaf
    for i in range(8):
        grid.where(F.col("x") % 8 == i).coalesce(1).write.mode(
            "append").parquet(leaf)
    n_files = len(glob.glob(f"{leaf}/*.parquet"))
    assert n_files >= 8

    out = compact_partitions(
        spark, lake, target_mb=1, zorder_cols=("x", "y"),
        write_options={"parquet.block.size": str(64 * 1024)},
    )
    assert leaf in out and out[leaf][0] == n_files
    assert spark.read.parquet(leaf).count() == 65536

    cand = total = 0
    for f in glob.glob(f"{leaf}/*.parquet"):
        md = pq_.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            total += 1
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == "y":
                    st = c.statistics
                    if st.min <= 110 and st.max >= 100:
                        cand += 1
    assert total >= 2
    # a thin y-slice must skip at least half the row groups
    assert cand / total <= 0.5, (cand, total)


def test_read_range_by_symbol_same_rows_and_schema(spark, tmp_path):
    """read_range_by_symbol returns read_range's rows and schema (names,
    types, order) for a hit, for a symbol the non-empty lake lacks, and
    for an empty lake, which keeps the candle schema."""
    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.schemas import CANDLE_SCHEMA
    from backtest_crew_datalake_spark.sources.lake import read_range_by_symbol

    def schema(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    root = str(tmp_path / "lake")
    upsert_candles(spark, enforce_schema(make_m1(
        spark, ["BTC-USD", "ETH-USD"], "2024-01-31", "2024-02-01",
        seed=2), timeframe="M1"), root)
    want = schema(spark.read.option("basePath", f"{root}/data")
                  .parquet(f"{root}/data"))
    assert dict(want)["year"] == dict(want)["month"] == T.IntegerType()
    empty_root = str(tmp_path / "nolake")
    for lake, sym, n, cols in ((root, "BTC-USD", 1440, want),
                               (root, "XRP-USD", 0, want),
                               (empty_root, "BTC-USD", 0, [
                                   (f.name, f.dataType)
                                   for f in CANDLE_SCHEMA])):
        kw = dict(symbol=sym, date_from="2024-02-01", date_to="2024-02-02")
        plain = read_range(spark, lake, **kw)
        by_sym = read_range_by_symbol(spark, lake, **kw)
        assert schema(plain) == schema(by_sym) == cols
        assert sorted(by_sym.collect()) == sorted(plain.collect())
        assert len(plain.collect()) == n
