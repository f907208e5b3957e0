"""As-of join vs pandas merge_asof oracle (the reference's flagship join,
ref api.py:87 / mtf.py:24-26; shape invariant ref test_join_mtf_shapes.py)."""

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from backtest_crew_datalake_spark.operators.asof import asof_join, join_mtf
from backtest_crew_datalake_spark.operators.resample import resample_ohlcv
from backtest_crew_datalake_spark.sources.synth import make_m1


def test_backward_matches_merge_asof(spark):
    exec_df = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=42)
    ctx = resample_ohlcv(exec_df, "M5").select("symbol", "ts", "close")

    got = (
        asof_join(exec_df, ctx, on="ts", by=["symbol"],
                  right_cols=["close"], suffix="_M5")
        .orderBy("ts").toPandas()
    )
    assert len(got) == 1440  # row preservation

    e = exec_df.orderBy("ts").toPandas()
    c = ctx.orderBy("ts").toPandas().rename(columns={"close": "close_M5"})
    oracle = pd.merge_asof(
        e, c[["ts", "close_M5"]], on="ts", direction="backward"
    )
    pd.testing.assert_series_equal(
        got["close_M5"].reset_index(drop=True), oracle["close_M5"],
        check_names=False,
    )
    # tie: a ctx row at exactly ts IS a backward match
    tie = got[got.ts == pd.Timestamp("2024-01-01 00:05:00")].iloc[0]
    c5 = c[c.ts == pd.Timestamp("2024-01-01 00:05:00")].iloc[0]
    assert tie["close_M5"] == c5["close_M5"]


def test_forward_direction(spark):
    exec_df = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=1)
    ctx = resample_ohlcv(exec_df, "M15").select("symbol", "ts", "open")
    got = (
        asof_join(exec_df, ctx, on="ts", by=["symbol"],
                  right_cols=["open"], suffix="_nx", direction="forward")
        .orderBy("ts").toPandas()
    )
    e = exec_df.orderBy("ts").toPandas()
    c = ctx.orderBy("ts").toPandas().rename(columns={"open": "open_nx"})
    oracle = pd.merge_asof(e, c[["ts", "open_nx"]], on="ts", direction="forward")
    pd.testing.assert_series_equal(
        got["open_nx"].reset_index(drop=True), oracle["open_nx"],
        check_names=False,
    )


def test_multi_symbol_partitioning(spark):
    exec_df = make_m1(spark, ["BTC-USD", "ETH-USD"], "2024-01-01",
                      "2024-01-01", seed=3)
    ctx = resample_ohlcv(exec_df, "H1").select("symbol", "ts", "close")
    got = asof_join(exec_df, ctx, on="ts", by=["symbol"],
                    right_cols=["close"], suffix="_H1")
    assert got.count() == 2880
    # per-symbol independence: each symbol's 00:30 row joins its own H1 close
    pdf = got.where(F.col("ts") == "2024-01-01 01:30:00").toPandas()
    cp = ctx.where(F.col("ts") == "2024-01-01 01:00:00").toPandas()
    for _, r in pdf.iterrows():
        expect = cp[cp.symbol == r.symbol].iloc[0].close
        assert r.close_H1 == expect


def test_join_mtf_cascade_shapes(spark):
    """Ref tests/test_join_mtf_shapes.py:14-24: output len == exec len and
    each ctx contributes its suffixed column(s)."""
    exec_df = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=9)
    ctxs = {tf: resample_ohlcv(exec_df, tf).select("symbol", "ts", "open",
                                                   "high", "low", "close",
                                                   "volume")
            for tf in ("M5", "M15")}
    out = join_mtf(exec_df, ctxs, by=["symbol"], close_only=False)
    assert out.count() == 1440
    for tf in ("M5", "M15"):
        for c in ("open", "high", "low", "close", "volume"):
            assert f"{c}_{tf}" in out.columns

    out_close = join_mtf(exec_df, ctxs, by=["symbol"], close_only=True)
    assert "close_M5" in out_close.columns
    assert "open_M5" not in out_close.columns


def test_tolerance(spark):
    exec_df = make_m1(spark, ["BTC-USD"], "2024-01-01", "2024-01-01", seed=5)
    ctx = resample_ohlcv(exec_df, "H1").select("symbol", "ts", "close")
    got = (
        asof_join(exec_df, ctx, on="ts", by=["symbol"], right_cols=["close"],
                  suffix="_t", tolerance_seconds=300)
        .orderBy("ts").toPandas()
    )
    # minutes more than 5min past the hour bucket get NULL
    row = got[got.ts == pd.Timestamp("2024-01-01 02:30:00")].iloc[0]
    assert pd.isna(row["close_t"])
    row2 = got[got.ts == pd.Timestamp("2024-01-01 02:04:00")].iloc[0]
    assert not pd.isna(row2["close_t"])


# join_mtf applies every context in one union + one window; these pin it to
# the per-context cascade of backward asof_joins it replaces.

def _cascade(exec_df, ctxs, by, close_only=True):
    """join_mtf's contract spelled as one backward asof_join per context,
    fine→coarse."""
    from backtest_crew_datalake_spark.functions.timeframes import TF_ORDER

    want = ["close"] if close_only else ["open", "high", "low", "close",
                                         "volume"]
    out = exec_df
    for tf in sorted(ctxs, key=lambda t: TF_ORDER.get(t, 999)):
        cols = [c for c in want if c in ctxs[tf].columns]
        if cols:
            out = asof_join(out, ctxs[tf], on="ts", by=by, right_cols=cols,
                            suffix=f"_{tf}")
    return out


def _mtf_frames(spark):
    """Two symbols of 12 M1 exec bars; an M5 context with a bar at an exec
    ts, a null close and a symbol-specific value; an empty H1 context; an
    M15 context without a close column."""
    t0 = datetime(2024, 1, 1)
    exec_df = spark.createDataFrame(
        [(s, t0 + timedelta(minutes=i), float(i), 1.0)
         for s in ("A", "B") for i in range(12)],
        "symbol string, ts timestamp, close double, volume double")
    m5 = spark.createDataFrame(
        [("A", t0, 9.0, 10.0, 1.0),
         ("A", t0 + timedelta(minutes=5), 19.0, None, 2.0),
         ("A", t0 + timedelta(minutes=10), 29.0, 30.0, 3.0),
         ("B", t0 + timedelta(minutes=5), 49.0, 50.0, 4.0)],
        "symbol string, ts timestamp, open double, close double, "
        "volume double")
    h1 = spark.createDataFrame([], "symbol string, ts timestamp, close double")
    m15 = spark.createDataFrame([("A", t0, 7.0)],
                                "symbol string, ts timestamp, open double")
    return exec_df, {"H1": h1, "M15": m15, "M5": m5}


def _rows(df):
    return df.orderBy("symbol", "ts").toPandas()


def test_join_mtf_fused_matches_cascade(spark):
    exec_df, ctxs = _mtf_frames(spark)
    for close_only in (True, False):
        got = join_mtf(exec_df, ctxs, by=["symbol"], close_only=close_only)
        want = _cascade(exec_df, ctxs, ["symbol"], close_only=close_only)
        assert got.columns == want.columns
        pd.testing.assert_frame_equal(_rows(got), _rows(want))

    got = _rows(join_mtf(exec_df, ctxs, by=["symbol"])).set_index(
        ["symbol", "ts"])
    # the M15 context has no close: skipped; the empty H1 context: all null
    assert list(got.columns) == ["close", "volume", "close_M5", "close_H1"]
    assert got["close_H1"].isna().all()
    a, b = got.loc["A", "close_M5"], got.loc["B", "close_M5"]
    assert a.iloc[0] == 10.0                 # context bar at the exec ts
    assert (a.iloc[5:10] == 10.0).all()      # a null close carries the last
    assert (a.iloc[10:] == 30.0).all()
    assert b.iloc[:5].isna().all() and (b.iloc[5:] == 50.0).all()

    wide = join_mtf(exec_df, ctxs, by=["symbol"], close_only=False)
    assert wide.columns[4:] == ["open_M5", "close_M5", "volume_M5",
                                "open_M15", "close_H1"]


def test_join_mtf_fused_no_by_and_no_contexts(spark):
    """Without ``by`` the window is global; with no usable context the exec
    frame comes back as is."""
    exec_df, ctxs = _mtf_frames(spark)
    a_exec = exec_df.where(F.col("symbol") == "A").drop("symbol")
    a_ctx = {tf: c.where(F.col("symbol") == "A").drop("symbol")
             for tf, c in ctxs.items()}
    got = join_mtf(a_exec, a_ctx).orderBy("ts").toPandas()
    want = _cascade(a_exec, a_ctx, None).orderBy("ts").toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert join_mtf(a_exec, {"M15": a_ctx["M15"]}) is a_exec
