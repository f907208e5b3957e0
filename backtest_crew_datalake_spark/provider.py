"""Backtest provider facade — the consumer-facing bridge (SURVEY §3.3).

ref src/bridge/backtest_crew/provider.py:52-87 ``load_exec_and_filter``:
normalize timeframe tokens, load the exec series, and for each requested TF
route to the pre-aggregated tree if it exists, else resample on the fly —
materialized-view routing made explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions.timeframes import normalize_tf
from .operators.resample import resample_ohlcv
from .sources.lake import read_range, read_range_by_symbol


def load_exec_and_filter(
    spark: SparkSession,
    lake_root: str,
    symbol: str,
    start: str,
    end: str,
    exec_tf: str = "1 min",
    filter_tf: str = "5 mins",
    source: str = "ibkr",
    market: str = "crypto",
) -> tuple[DataFrame, DataFrame]:
    """Return (df_exec, df_filter) for a backtest: exec series at exec_tf and
    context series at filter_tf, both sorted, UTC, half-open [start, end).

    Routing per ref provider.py:70-78: filter_tf == exec base → reuse;
    pre-aggregated tree under <root>/aggregates if present → read it;
    otherwise resample the M1 base on the fly (A1).
    """
    etf, ftf = normalize_tf(exec_tf), normalize_tf(filter_tf)
    base = read_range_by_symbol(
        spark, lake_root, symbol=symbol, timeframe=etf,
        date_from=start, date_to=end, source=source, market=market,
    )
    if ftf == etf:
        return base, base
    agg = _read_aggregate(spark, lake_root, symbol, ftf, start, end,
                          source=source, market=market)
    if agg is not None:
        return base, agg
    return base, resample_ohlcv(base, ftf, by=["symbol"])


def _read_aggregate(
    spark: SparkSession, lake_root: str, symbol: str, tf: str,
    start: str, end: str, source: str, market: str,
) -> DataFrame | None:
    """Materialized-aggregate routing: return the pre-computed series if the
    aggregates tree has it, else None (ref provider.py:74-76, loader at
    aggregates/loader.py:6-28)."""
    import glob
    import os

    pat = os.path.join(
        lake_root, "aggregates",
        f"source={source}", f"market={market}", f"timeframe={tf}",
        f"symbol={symbol}", "year=*", "month=*", "*.parquet",
    )
    if not glob.glob(pat):
        return None
    return read_range_by_symbol(
        spark, lake_root, symbol=symbol, timeframe=tf,
        date_from=start, date_to=end, source=source, market=market,
        dataset="aggregates",
    )


def build_aggregates(
    spark: SparkSession,
    lake_root: str,
    symbol: str,
    start: str,
    end: str,
    timeframes: list[str],
    source: str = "ibkr",
    market: str = "crypto",
) -> None:
    """Materialize pre-aggregated trees for the given TFs from the M1 base
    (ref aggregate.py:69-84 aggregate_symbol) with the same upsert contract
    as the main lake."""
    from .schemas import enforce_schema
    from .sources.writer import upsert_candles

    base = read_range(
        spark, lake_root, symbol=symbol, timeframe="M1",
        date_from=start, date_to=end, source=source, market=market,
    )
    for tf in timeframes:
        tfn = normalize_tf(tf)
        agg = resample_ohlcv(base, tfn, by=["symbol"])
        out = enforce_schema(agg, timeframe=tfn, symbol=symbol)
        upsert_candles(spark, out, lake_root, dataset="aggregates")
