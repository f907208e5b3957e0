"""Resample invariants from the reference test strategy (SURVEY §5):
exact per-day counts 1440→288/96/48/24/1, first-bucket left label,
idempotence, and a differential check vs the pandas resample oracle
(ref tests/test_resample_offline.py:6-38)."""

from datetime import datetime, timedelta

import pandas as pd
import pytest

from backtest_crew_datalake_spark.operators.resample import resample_ohlcv
from backtest_crew_datalake_spark.sources.synth import make_m1

EXPECT = {"M5": 288, "M15": 96, "M30": 48, "H1": 24, "D1": 1}


@pytest.fixture(scope="module")
def m1(spark):
    df = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=42)
    df.cache()
    assert df.count() == 1440
    return df


@pytest.mark.parametrize("tf,n", list(EXPECT.items()))
def test_exact_counts(m1, tf, n):
    out = resample_ohlcv(m1, tf)
    assert out.count() == n


def test_left_label_first_bucket(m1):
    out = resample_ohlcv(m1, "M5").orderBy("ts").limit(1).collect()[0]
    assert out["ts"] == pd.Timestamp("2024-01-01 00:00:00")


def test_idempotent(m1):
    once = resample_ohlcv(m1, "M5")
    twice = resample_ohlcv(once, "M5")
    a = once.orderBy("ts").toPandas()
    b = twice.orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_matches_pandas_oracle(m1):
    pdf = m1.toPandas().sort_values("ts")
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    oracle = (
        pdf.set_index("ts")
        .resample("5min", label="left", closed="left")
        .agg({"open": "first", "high": "max", "low": "min",
              "close": "last", "volume": "sum"})
    )
    oracle[["open", "high", "low", "close"]] = (
        oracle[["open", "high", "low", "close"]].ffill()
    )
    oracle = oracle.dropna(subset=["open", "high", "low", "close"]).reset_index()
    got = resample_ohlcv(m1, "M5").orderBy("ts").toPandas()
    got["ts"] = pd.to_datetime(got["ts"], utc=True)
    pd.testing.assert_frame_equal(
        got[["ts", "open", "high", "low", "close", "volume"]].reset_index(drop=True),
        oracle[["ts", "open", "high", "low", "close", "volume"]],
        check_exact=False, rtol=1e-12,
    )


def test_gappy_day_ffill(spark):
    """Remove interior minutes; empty buckets must be ffilled with volume 0."""
    from pyspark.sql import functions as F

    m1 = make_m1(spark, ["ETH-USD"], "2024-02-01", "2024-02-01", seed=7)
    # drop minutes 00:10..00:19 → M5 buckets 00:10 and 00:15 are empty
    gappy = m1.where(
        ~F.col("ts").between("2024-02-01 00:10:00", "2024-02-01 00:19:00")
    )
    out = resample_ohlcv(gappy, "M5").orderBy("ts").toPandas()
    assert len(out) == 288  # grid is materialized
    b10 = out[out.ts == pd.Timestamp("2024-02-01 00:10:00")].iloc[0]
    b05 = out[out.ts == pd.Timestamp("2024-02-01 00:05:00")].iloc[0]
    assert b10.volume == 0.0
    assert b10.close == b05.close  # ffilled


def test_null_ohlc_in_nonempty_bucket_ffilled_per_column(spark):
    """A bucket whose bars hold a null open (on its first bar) and null
    highs takes those columns from the bucket before it, each column on its
    own; an empty bucket after it carries every column with volume 0."""
    t0 = datetime(2024, 1, 1)
    rows = [
        (t0, 1.0, 5.0, 0.5, 2.0, 10.0),
        (t0 + timedelta(minutes=5), None, None, 0.2, 3.0, 1.0),
        (t0 + timedelta(minutes=6), 4.0, None, 0.3, 3.5, None),
        (t0 + timedelta(minutes=15), 6.0, 7.0, 5.5, 6.5, 2.0),
    ]
    df = spark.createDataFrame(
        [("X", *r) for r in rows],
        "symbol string, ts timestamp, open double, high double, low double, "
        "close double, volume double")
    got = resample_ohlcv(df, "M5").orderBy("ts").toPandas()
    assert list(got.columns) == ["symbol", "ts", "open", "high", "low",
                                 "close", "volume"]
    assert got["ts"].tolist() == [t0 + timedelta(minutes=m)
                                  for m in (0, 5, 10, 15)]
    assert got[["open", "high", "low", "close", "volume"]].values.tolist() == [
        [1.0, 5.0, 0.5, 2.0, 10.0],
        [1.0, 5.0, 0.2, 3.5, 1.0],   # open, high ffilled; own low/close
        [1.0, 5.0, 0.2, 3.5, 0.0],   # empty bucket
        [6.0, 7.0, 5.5, 6.5, 2.0],
    ]
