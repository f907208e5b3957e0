"""``backtest`` workload: the request a backtester makes.

One request loads 5 days of M1 bars for a seeded random symbol through
``provider.load_exec_and_filter`` (M1 exec series + M5 context), resamples an
H1 context, as-of joins both onto the exec series with ``join_mtf``, builds
the opening-range levels and collects both results with ``toPandas()``.
The lake (16 symbols x January-March 2024, 48 month partitions) is built in
setup with ``make_m1`` + ``upsert_candles``.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

DAYS = 5
OR_END = "01:00"  # build_or_levels' default window is 00:00-01:00 UTC


def files_read(df) -> int:
    """Files the parquet scans of ``df``'s last execution read: the scan
    node's ``numFiles`` metric, after partition pruning. (``inputFiles()``
    would give the whole listing of the lake.)"""
    def walk(node) -> int:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        n = 0
        if kind.startswith("FileSourceScan"):
            n += node.metrics().get("numFiles").get().value()
        it = node.children().iterator()
        while it.hasNext():
            n += walk(it.next())
        return n

    return walk(df._jdf.queryExecution().executedPlan())


class Backtest:
    name = "backtest"
    items_per_op = 1   # requests
    warmup_ops = 2   # the first request runs cold (about twice a warm one)

    def __init__(self, spark, tmp, seed, tiny=False, inject_fault=False):
        self.spark, self.seed, self.inject = spark, seed, inject_fault
        self.root = f"{tmp}/lake"
        n_sym, self.first, self.last = ((2, "2024-01-25", "2024-02-06") if tiny
                                        else (16, "2024-01-01", "2024-03-31"))
        self.symbols = [f"SYM{i:02d}" for i in range(n_sym)]

    def env(self) -> dict:
        return {"symbols": len(self.symbols), "days": [self.first, self.last]}

    def build(self, tr) -> float:
        """Backfill the lake with ``make_m1`` + ``upsert_candles``; returns
        the seconds it took."""
        from backtest_crew_datalake_spark.sources import make_m1, upsert_candles

        t0 = time.perf_counter()
        # checkpointed, so the reference reads the very bars the lake holds
        self.m1 = make_m1(self.spark, self.symbols, self.first, self.last,
                          seed=self.seed).localCheckpoint()
        upsert_candles(self.spark, self.m1, self.root)
        return time.perf_counter() - t0

    def _bars(self, symbol) -> pd.DataFrame:
        """The generated bars of one symbol, indexed by ts (untimed)."""
        from pyspark.sql import functions as F

        bars = self.m1.where(F.col("symbol") == symbol).toPandas()
        return bars.drop(columns="symbol").sort_values("ts").set_index("ts")

    def ops(self):
        rng = np.random.default_rng(self.seed)
        first = pd.Timestamp(self.first)
        n_start = (pd.Timestamp(self.last) - first).days + 2 - DAYS  # window ends by last
        i = 0
        while True:
            sym = self.symbols[rng.integers(len(self.symbols))]
            start = first + pd.Timedelta(days=int(rng.integers(n_start)))
            end = start + pd.Timedelta(days=DAYS)
            yield {"key": f"{sym}:{start.date()}", "symbol": sym,
                   "start": str(start), "end": str(end), "exact": i % 10 == 0}
            i += 1

    def prepare(self, op):
        return None

    def execute(self, op, inp, tr, idx):
        from backtest_crew_datalake_spark import provider
        from backtest_crew_datalake_spark.operators import (
            build_or_levels, join_mtf, resample_ohlcv)
        from backtest_crew_datalake_spark.sources import read_range

        args = (self.spark, self.root, op["symbol"], op["start"], op["end"])
        if tr is None:
            ex, m5 = provider.load_exec_and_filter(*args)
            h1 = resample_ohlcv(ex, "H1")
            j = join_mtf(ex, {"M5": m5, "H1": h1}, by=["symbol"])
            lv = build_or_levels(ex)
            return {"joined": j.toPandas(), "levels": lv.toPandas(),
                    "exec": ex, "m5": m5}

        # Traced: each layer runs on its inputs already materialized with
        # localCheckpoint, so a span's duration is that layer's own work.
        with tr.span("op.traced", idx):
            with tr.span("provider.plan", idx):
                ex, m5 = provider.load_exec_and_filter(*args)
            with tr.span("lake.plan", idx):
                read_range(self.spark, self.root, symbol=op["symbol"],
                           date_from=op["start"], date_to=op["end"])
            with tr.span("lake.scan", idx) as rec:
                exc = ex.localCheckpoint()
            rec["files"] = files_read(ex)
            with tr.span("resample", idx):
                m5c = resample_ohlcv(exc, "M5").localCheckpoint()
                h1c = resample_ohlcv(exc, "H1").localCheckpoint()
            with tr.span("asof", idx):
                jc = join_mtf(exc, {"M5": m5c, "H1": h1c},
                              by=["symbol"]).localCheckpoint()
            with tr.span("levels", idx):
                lvc = build_or_levels(exc).localCheckpoint()
            with tr.span("collect", idx):
                out = {"joined": jc.toPandas(), "levels": lvc.toPandas()}
        return {**out, "exec": ex, "m5": m5}

    def check(self, op, out) -> list[str]:
        joined, levels = out["joined"], out["levels"]
        if self.inject:
            joined = joined.iloc[1:]
        n = 1440 * DAYS
        errs = []
        if len(joined) != n or joined["ts"].nunique() != n:
            errs.append(f"joined rows {len(joined)} (unique ts "
                        f"{joined['ts'].nunique()}), want {n}")
        if joined[["close_M5", "close_H1"]].isna().any().any():
            errs.append("null context close in joined rows")
        if len(levels) != DAYS:
            errs.append(f"levels rows {len(levels)}, want {DAYS}")
        if errs or not op["exact"]:
            return errs
        if out["exec"].count() != n:
            errs.append(f"exec rows {out['exec'].count()}, want {n}")
        if out["m5"].count() != 288 * DAYS:
            errs.append(f"M5 rows {out['m5'].count()}, want {288 * DAYS}")
        return errs + self._exact(op, joined, levels)

    def _exact(self, op, joined, levels) -> list[str]:
        """Compare both results with a pandas reference computed from the
        generated bars."""
        bars = self._bars(op["symbol"]).loc[op["start"]:op["end"]]
        bars = bars[bars.index < pd.Timestamp(op["end"])]
        want = bars[["open", "high", "low", "close", "volume"]].copy()
        for tf, rule in (("M5", "5min"), ("H1", "1h")):
            want[f"close_{tf}"] = (bars["close"].resample(rule).last()
                                   .reindex(bars.index.floor(rule)).to_numpy())
        got = joined.set_index("ts").sort_index()[want.columns]
        errs = []
        if not got.index.equals(want.index) or not np.array_equal(
                got.to_numpy(), want.to_numpy()):
            errs.append("joined values differ from the pandas reference")

        day = bars.index.normalize()
        hm = bars.index.strftime("%H:%M")
        in_or, after = hm < OR_END, hm >= OR_END
        rows = []
        for d in day.unique():
            b = bars[(day == d) & in_or]
            a = bars[(day == d) & after]
            hi, lo = b["high"].max(), b["low"].min()
            up = a.index[a["close"] > hi].min()
            dn = a.index[a["close"] < lo].min()
            if pd.notna(up) and (pd.isna(dn) or up <= dn):
                kind, bts, rt = "UP", up, a[a["low"] <= hi]
            elif pd.notna(dn):
                kind, bts, rt = "DOWN", dn, a[a["high"] >= lo]
            else:
                kind, bts, rt = "NONE", pd.NaT, a.iloc[:0]
            rows.append((d.date(), hi, lo, kind, bts,
                         rt.index[0] if len(rt) else pd.NaT,
                         rt["close"].iloc[0] if len(rt) else np.nan))
        lv = levels.sort_values("session_date")
        got_lv = list(zip(lv["session_date"], lv["or_high"], lv["or_low"],
                          lv["break_dir"], lv["break_ts"], lv["retest_ts"],
                          lv["retest_price"]))
        if [_norm(r) for r in got_lv] != [_norm(r) for r in rows]:
            errs.append("levels differ from the pandas reference")
        return errs

    def final_check(self) -> list[str]:
        return []

    def report(self) -> dict:
        return {}

    def layer_metrics(self, tr) -> dict:
        return {
            "provider.plan_s": tr.median("provider.plan", "dur"),
            "lake.plan_s": tr.median("lake.plan", "dur"),
            "lake.scan_s": tr.median("lake.scan", "dur"),
            "lake.files_scanned": tr.first("lake.scan", "files"),
            "resample.self_s": tr.median("resample", "dur"),
            "resample.jobs": tr.first("resample", "jobs"),
            "asof.self_s": tr.median("asof", "dur"),
            "asof.jobs": tr.first("asof", "jobs"),
            "asof.shuffle_bytes": tr.median("asof", "shuffle_bytes"),
            "levels.self_s": tr.median("levels", "dur"),
            "levels.jobs": tr.first("levels", "jobs"),
            "collect.to_pandas_s": tr.median("collect", "dur"),
            "backtest.jobs_per_op": tr.first("op.untraced", "jobs"),
        }


def _norm(row):
    """Comparable form of one levels row: NaT/NaN -> None, timestamps naive."""
    out = []
    for v in row:
        if v is None or (not isinstance(v, str) and pd.isna(v)):
            out.append(None)
        elif isinstance(v, pd.Timestamp):
            out.append(v.tz_localize(None) if v.tzinfo else v)
        else:
            out.append(v)
    return tuple(out)
