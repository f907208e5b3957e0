"""``ingest`` workload: the day-batch loop that keeps the lake fresh.

One op takes a vendor-shaped pandas batch of one symbol-day (1440 M1 bars),
made before the timer starts, converts it with ``createDataFrame``, writes it
with ``upsert_candles`` (which rewrites the symbol's whole month partition),
then reads the symbol's month-to-date back through ``read_range`` +
``bars_per_day``. One op in four re-ingests a day already in the lake with
revised closes, so keep-last applies; the others append the symbol's next
day. The lake is backfilled in setup with ``make_m1`` + ``upsert_candles``.
"""

from __future__ import annotations

import glob
import time

import numpy as np
import pandas as pd

BARS = 1440
COLS = ["open", "high", "low", "close", "volume"]


class Ingest:
    name = "ingest"
    items_per_op = BARS   # bars
    warmup_ops = 8   # the write path keeps speeding up over its first ~10 ops

    def __init__(self, spark, tmp, seed, tiny=False, inject_fault=False):
        self.spark, self.seed, self.inject = spark, seed, inject_fault
        self.root = f"{tmp}/lake"
        n_sym, self.first, self.last = ((2, "2024-01-01", "2024-01-03") if tiny
                                        else (8, "2024-01-01", "2024-01-14"))
        self.symbols = [f"ING{i:02d}" for i in range(n_sym)]
        self.month_end = pd.Timestamp("2024-01-31")

    def env(self) -> dict:
        return {"symbols": len(self.symbols), "backfill": [self.first, self.last]}

    def build(self, tr) -> float:
        """Backfill every symbol's first days. Returns the timed seconds;
        the expected lake contents are collected untimed."""
        from backtest_crew_datalake_spark.sources import make_m1, upsert_candles

        t0 = time.perf_counter()
        # checkpointed, so the reference reads the very bars the lake holds
        m1 = make_m1(self.spark, self.symbols, self.first, self.last,
                     seed=self.seed).localCheckpoint()
        upsert_candles(self.spark, m1, self.root)
        build_s = time.perf_counter() - t0
        bars = m1.toPandas()
        # expected lake: {(symbol, day): bars indexed by ts}
        self.want = {(s, d): g.set_index("ts").sort_index()[COLS]
                     for (s, d), g in bars.groupby(["symbol", bars["ts"].dt.normalize()])}
        self.next_day = {s: pd.Timestamp(self.last) + pd.Timedelta(days=1)
                         for s in self.symbols}
        return build_s

    def ops(self):
        """Seeded op sequence. Every fourth op revises a day already in the
        lake; the others append a symbol's next January day (a revision
        instead once the month is full)."""
        rng = np.random.default_rng(self.seed)
        i = 0
        while True:
            sym = self.symbols[rng.integers(len(self.symbols))]
            day = self.next_day[sym]
            revise = i % 4 == 3 or day > self.month_end
            if revise:
                day = pd.Timestamp(self.first) + pd.Timedelta(
                    days=int(rng.integers((day - pd.Timestamp(self.first)).days)))
            else:
                self.next_day[sym] = day + pd.Timedelta(days=1)
            yield {"key": f"{sym}:{day.date()}:{'rev' if revise else 'new'}",
                   "symbol": sym, "day": day, "revise": revise,
                   "seed": [self.seed, i]}
            i += 1

    def prepare(self, op):
        """The vendor batch for ``op``: revised closes of the day in the
        lake, or a fresh random-walk day."""
        rng = np.random.default_rng(op["seed"])
        key = (op["symbol"], op["day"])
        if op["revise"]:
            bars = self.want[key].copy()
            bars["close"] = bars["close"] + rng.normal(0.0, 2.0, BARS)
        else:
            open_ = 100_000.0 + np.cumsum(rng.normal(0.0, 10.0, BARS))
            bars = pd.DataFrame({
                "open": open_,
                "high": open_ + rng.uniform(0.0, 5.0, BARS),
                "low": open_ - rng.uniform(0.0, 5.0, BARS),
                "close": open_ + rng.normal(0.0, 2.0, BARS),
                "volume": np.floor(rng.uniform(0.0, 100.0, BARS)),
            }, index=pd.date_range(op["day"], periods=BARS, freq="1min", name="ts"))
        self.want[key] = bars
        return bars.reset_index().assign(symbol=op["symbol"])

    def execute(self, op, batch, tr, idx):
        from backtest_crew_datalake_spark.operators import bars_per_day
        from backtest_crew_datalake_spark.sources import read_range, upsert_candles

        day = op["day"]
        read = dict(symbol=op["symbol"], date_from=str(day.replace(day=1)),
                    date_to=str(day + pd.Timedelta(days=1)))
        if tr is None:
            sdf = self.spark.createDataFrame(batch)
            upsert_candles(self.spark, sdf, self.root)
            return bars_per_day(read_range(self.spark, self.root, **read)).collect()

        with tr.span("op.traced", idx):
            with tr.span("ingest.to_spark", idx):
                sdf = self.spark.createDataFrame(batch)
            with tr.span("writer.upsert", idx) as rec:
                upsert_candles(self.spark, sdf, self.root)
            rec["files"] = len(glob.glob(
                f"{self.root}/data/*/*/*/symbol={op['symbol']}/"
                f"year={day.year:04d}/month={day.month:02d}/*.parquet"))
            with tr.span("lake.plan", idx):
                df = read_range(self.spark, self.root, **read)
            with tr.span("lake.scan", idx):
                dfc = df.localCheckpoint()
            with tr.span("qc", idx):
                return bars_per_day(dfc).collect()

    def check(self, op, out) -> list[str]:
        """The month-to-date reads back as 1440 bars for each expected day.
        A revised day, read without the reader's dedupe, must hold exactly
        the batch's bars: revised closes win in the files themselves."""
        sym, day = op["symbol"], op["day"]
        counts = {r["day"]: r["n_bars"] for r in out}
        if self.inject:
            counts.pop(max(counts), None)
        want_days = {d.date() for s, d in self.want
                     if s == sym and d.month == day.month and d <= day}
        errs = []
        if set(counts) != want_days or set(counts.values()) != {BARS}:
            errs.append(f"month-to-date: {len(counts)} days (want "
                        f"{len(want_days)}), bar counts {sorted(set(counts.values()))}")
        if op["revise"]:
            errs += self._compare([sym], str(day), str(day + pd.Timedelta(days=1)))
        return errs

    def _compare(self, symbols, date_from=None, date_to=None) -> list[str]:
        """Lake rows of ``symbols`` in [date_from, date_to), read without
        dedupe, against the expected bars: same keys, no duplicates, same
        values."""
        from backtest_crew_datalake_spark.sources import read_range

        got = read_range(self.spark, self.root, symbol=symbols,
                         date_from=date_from, date_to=date_to,
                         dedupe=False).toPandas()
        got = got.set_index(["symbol", "ts"]).sort_index()[COLS]
        want = pd.concat([
            b.assign(symbol=s) for (s, d), b in self.want.items() if s in symbols
            and (date_from is None or pd.Timestamp(date_from) <= d < pd.Timestamp(date_to))])
        want = want.reset_index().set_index(["symbol", "ts"]).sort_index()[COLS]
        if not got.index.equals(want.index) or not np.array_equal(
                got.to_numpy(), want.to_numpy()):
            return [f"{','.join(symbols)} {date_from or ''}: {len(got)} rows "
                    f"({got.index.nunique()} unique keys), want {len(want)} "
                    f"rows equal to the batches"]
        return []

    def final_check(self) -> list[str]:
        """End state: the whole lake equals every batch and backfill, one
        row per symbol-minute."""
        return self._compare(self.symbols)

    def report(self) -> dict:
        return {"days_in_lake": len(self.want)}

    def layer_metrics(self, tr) -> dict:
        return {
            "ingest.to_spark_s": tr.median("ingest.to_spark", "dur"),
            "writer.upsert_s": tr.median("writer.upsert", "dur"),
            "writer.jobs": tr.first("writer.upsert", "jobs"),
            "writer.files_written": tr.first("writer.upsert", "files"),
            "writer.bytes_written": tr.median("writer.upsert", "output_bytes"),
            "writer.rows_rewritten_per_row":
                tr.first("writer.upsert", "output_records") / BARS,
            "lake.plan_s": tr.median("lake.plan", "dur"),
            "lake.scan_s": tr.median("lake.scan", "dur"),
            "qc.self_s": tr.median("qc", "dur"),
        }
