"""Gap detection / run-length ranges / synth fill (ref gaps.py:18-68,
ingest_cli.py:229-267) and keyed dedup keep-first/keep-last semantics."""

import pandas as pd
from pyspark.sql import functions as F

from backtest_crew_datalake_spark.operators.dedup import dedupe_keep
from backtest_crew_datalake_spark.operators.gaps import (
    gap_ranges, missing_minutes, synth_fill_gaps,
)
from backtest_crew_datalake_spark.sources.synth import make_m1


def _gappy(spark):
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=42)
    return m1.where(
        ~F.col("ts").between("2024-01-01 00:07:00", "2024-01-01 00:09:00")
        & ~F.col("ts").between("2024-01-01 20:00:00", "2024-01-01 23:59:00")
    )


def test_missing_minutes_and_ranges(spark):
    gappy = _gappy(spark)
    miss = missing_minutes(
        gappy, by=["symbol"],
        start="2024-01-01 00:00:00", end="2024-01-01 23:59:00",
    )
    assert miss.count() == 3 + 240
    ranges = gap_ranges(miss, by=["symbol"]).orderBy("gap_start").toPandas()
    assert len(ranges) == 2
    assert ranges.iloc[0].gap_start == pd.Timestamp("2024-01-01 00:07:00")
    assert ranges.iloc[0].gap_end == pd.Timestamp("2024-01-01 00:09:00")
    assert ranges.iloc[0].n_missing == 3
    assert ranges.iloc[1].gap_start == pd.Timestamp("2024-01-01 20:00:00")
    assert ranges.iloc[1].gap_end == pd.Timestamp("2024-01-01 23:59:00")
    assert ranges.iloc[1].n_missing == 240


def test_no_gaps_empty(spark):
    full = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=2)
    assert missing_minutes(full, by=["symbol"]).count() == 0


def test_synth_fill(spark):
    gappy = _gappy(spark)
    filled = synth_fill_gaps(
        gappy, by=["symbol"],
        start="2024-01-01 00:00:00", end="2024-01-01 23:59:00",
    )
    assert filled.count() == 1440
    pdf = filled.orderBy("ts").toPandas()
    # interior gap: flat bar at last close before 00:07
    prev_close = pdf[pdf.ts == pd.Timestamp("2024-01-01 00:06:00")].iloc[0].close
    g = pdf[pdf.ts == pd.Timestamp("2024-01-01 00:08:00")].iloc[0]
    assert g.is_synth
    assert g.open == g.high == g.low == g.close == prev_close
    assert g.volume == 0.0
    # tail gap: last close carries forward
    t = pdf[pdf.ts == pd.Timestamp("2024-01-01 23:00:00")].iloc[0]
    last_real_close = pdf[pdf.ts == pd.Timestamp("2024-01-01 19:59:00")].iloc[0].close
    assert t.is_synth and t.close == last_real_close


def test_synth_fill_leading_gap_uses_next_open(spark):
    m1 = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=11)
    headless = m1.where(F.col("ts") >= "2024-01-01 00:05:00")
    filled = synth_fill_gaps(
        headless, by=["symbol"],
        start="2024-01-01 00:00:00", end="2024-01-01 23:59:00",
    ).orderBy("ts").toPandas()
    next_open = filled[filled.ts == pd.Timestamp("2024-01-01 00:05:00")].iloc[0].open
    head = filled[filled.ts == pd.Timestamp("2024-01-01 00:02:00")].iloc[0]
    assert head.is_synth and head.close == next_open


def test_dedupe_keep_first_last(spark):
    rows = [
        ("BTC", "2024-01-01 00:01:00", 1.0, 0),
        ("BTC", "2024-01-01 00:01:00", 2.0, 1),
        ("BTC", "2024-01-01 00:02:00", 3.0, 0),
    ]
    df = spark.createDataFrame(rows, ["symbol", "ts", "close", "prio"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    last = dedupe_keep(df, key=["symbol", "ts"], order=["prio"], keep="last") \
        .orderBy("ts").toPandas()
    assert list(last.close) == [2.0, 3.0]
    first = dedupe_keep(df, key=["symbol", "ts"], order=["prio"], keep="first") \
        .orderBy("ts").toPandas()
    assert list(first.close) == [1.0, 3.0]


def test_dedupe_keep_deterministic_without_order(spark):
    """order=None must still pick a deterministic winner (row-wise min for
    keep='first', max for keep='last') — not whichever row a task saw first."""
    from backtest_crew_datalake_spark.operators.dedup import dedupe_keep

    rows = [("k", 1.0, "b"), ("k", 2.0, "a"), ("k", 1.0, "a")]
    df = spark.createDataFrame(rows, ["key", "v", "tag"]).repartition(8)
    first = dedupe_keep(df, key=["key"], order=None, keep="first").collect()[0]
    last = dedupe_keep(df, key=["key"], order=None, keep="last").collect()[0]
    assert (first["v"], first["tag"]) == (1.0, "a")  # struct-lexicographic min
    assert (last["v"], last["tag"]) == (2.0, "a")    # struct-lexicographic max

def test_dedupe_keep_maptype_deterministic(spark):
    """order=None with a MapType column: maps cannot enter a comparison
    struct directly (no ordering), so they participate via to_json — rows
    identical in every orderable column but differing in the map still pick
    the SAME winner on every run, under any partitioning."""
    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.operators.dedup import dedupe_keep

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ])
    rows = [("k", 1.0, {"x": "2"}), ("k", 1.0, {"x": "1"}),
            ("k", 1.0, {"x": "3"})]
    for nparts in (1, 8):
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        first = dedupe_keep(df, key=["key"], order=None, keep="first") \
            .collect()[0]
        last = dedupe_keep(df, key=["key"], order=None, keep="last") \
            .collect()[0]
        # to_json('{"x":"1"}') < '{"x":"2"}' < '{"x":"3"}'
        assert first["meta"] == {"x": "1"}
        assert last["meta"] == {"x": "3"}


def test_dedupe_keep_all_unorderable_non_key(spark):
    """Every non-key column unorderable: the ordering is the JSON
    serialization alone — still a deterministic pick, no crash."""
    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.operators.dedup import dedupe_keep

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.LongType())),
    ])
    rows = [("k", {"b": 2}), ("k", {"a": 1})]
    df = spark.createDataFrame(rows, schema).repartition(4)
    first = dedupe_keep(df, key=["key"], order=None, keep="first").collect()
    assert len(first) == 1 and first[0]["meta"] == {"a": 1}


def test_dedupe_keep_order_ties_break_on_map_json(spark):
    """With ``order`` given, rows tying on it fall back to the full row,
    map columns by their to_json form."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("prio", T.IntegerType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ])
    rows = [("k", 1, {"x": "2"}), ("k", 1, {"x": "3"}), ("k", 0, {"x": "9"}),
            ("k", 1, {"x": "1"})]
    df = spark.createDataFrame(rows, schema).repartition(4)
    last = dedupe_keep(df, key=["key"], order=["prio"], keep="last").collect()
    first = dedupe_keep(df, key=["key"], order=["prio"], keep="first").collect()
    assert [tuple(r) for r in last] == [("k", 1, {"x": "3"})]
    assert [tuple(r) for r in first] == [("k", 0, {"x": "9"})]


def test_dedupe_keep_column_typed_order(spark):
    """``order`` may hold Column expressions; the full-row tiebreak still
    applies after them, and the caller's column order is kept."""
    df = spark.createDataFrame(
        [(3, "k", "b"), (1, "k", "z"), (3, "k", "a"), (2, "j", "q")],
        "prio int, key string, tag string").repartition(3)
    neg = -F.col("prio")
    last = dedupe_keep(df, key=["key"], order=[neg], keep="last")
    assert last.columns == ["prio", "key", "tag"]
    assert sorted(map(tuple, last.collect())) == [(1, "k", "z"), (2, "j", "q")]
    first = dedupe_keep(df, key=["key"], order=[neg, "tag"], keep="first")
    assert sorted(map(tuple, first.collect())) == [(2, "j", "q"), (3, "k", "a")]
