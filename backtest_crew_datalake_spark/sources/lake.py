"""Lake reader — partition-pruned parquet scans with the global read contract.

ref src/datalake/read/api.py:12-72: the reference manually globs
``data/source=…/market=…/timeframe=…/symbol=…/year=*/month=*/part-*.parquet``
(api.py:6-10) and filters in pandas. Here the directory tree is Spark's native
Hive layout: ``spark.read.parquet(root/data)`` discovers the partition columns
and Catalyst prunes partitions + pushes the ts range into the parquet scan
(row-group min/max skipping — the writer sorts files by ts to make that bite).

Spark shape: ``read_range``'s keep-first dedupe is a hash aggregate on its
key, so a long single-series read spreads its raw rows over every shuffle
partition. ``read_range_by_symbol``, which the backtest provider uses, instead
hash-partitions on ``symbol`` once, the exchange every per-symbol window
downstream would need anyway.

Global contract preserved (api.py:62-72): half-open [from, to) range, ts UTC,
sorted, duplicates dropped keep-first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedupe_keep

LAYOUT_PARTITIONS = ["source", "market", "timeframe", "symbol", "year", "month"]


def _scan(spark: SparkSession, lake_root: str, dataset: str = "data") -> DataFrame:
    return spark.read.option("basePath", f"{lake_root}/{dataset}").parquet(
        f"{lake_root}/{dataset}"
    )


def read_range(
    spark: SparkSession,
    lake_root: str,
    *,
    market: str = "crypto",
    timeframe: str = "M1",
    symbol: str | Sequence[str],
    date_from=None,
    date_to=None,
    source: str = "ibkr",
    columns: Sequence[str] | None = None,
    dataset: str = "data",
    dedupe: bool = True,
) -> DataFrame:
    """Half-open [date_from, date_to) read of one (source, market, tf, symbol)
    series; ts sorted and deduped keep-first (ref api.py:62-72).

    Either bound may be None (no filter on that side, api.py:64-65).
    ``columns`` projects early so parquet only materializes what's needed
    (ref reader.py:30 half-done column pruning — here it's complete).
    Empty lake -> empty typed DataFrame, not an error (ref tests/test_read_api.py).
    """
    df = _select(spark, lake_root, market=market, timeframe=timeframe,
                 symbol=symbol, date_from=date_from, date_to=date_to,
                 source=source, columns=columns, dataset=dataset)
    # single-series reads keep the reference contract (dedupe on ts,
    # api.py:70); multi-symbol reads dedupe per series
    if dedupe:
        key = ["symbol", "ts"] if isinstance(symbol, (list, tuple)) else ["ts"]
        df = dedupe_keep(df, key=key, order=None, keep="first")
    # Sort within partitions only — a global orderBy is a full-range shuffle
    # that the consumer (window ops partitioned by symbol) doesn't need.
    return df.sortWithinPartitions("ts")


def read_range_by_symbol(spark: SparkSession, lake_root: str,
                         **kw) -> DataFrame:
    """``read_range`` (same keywords but ``columns`` and ``dedupe``),
    hash-partitioned on ``symbol`` ahead of its keep-first dedupe on
    (symbol, ts) — for one symbol, the read contract's dedupe on ts.

    Spark shape: that one exchange satisfies every per-symbol operator
    downstream — resample's aggregate and window, the as-of window, the
    opening-range window — so a backtest request on the result shuffles
    once. Those windows need each symbol's rows together at any scale, so
    the exchange moves nothing they would not. The price is that a
    series' raw rows dedupe in one task; a long read that only aggregates
    is better served by ``read_range``, whose dedupe spreads over every
    shuffle partition."""
    df = _select(spark, lake_root, columns=None, **kw)
    return dedupe_keep(df.repartition("symbol"), key=["symbol", "ts"],
                       order=None, keep="first").sortWithinPartitions("ts")


def _select(spark, lake_root, *, market="crypto", timeframe="M1", symbol,
            date_from=None, date_to=None, source="ibkr", columns=None,
            dataset="data") -> DataFrame:
    """``read_range`` before its dedupe and sort: the pruned, filtered and
    projected scan."""
    multi = isinstance(symbol, (list, tuple))
    try:
        df = _scan(spark, lake_root, dataset)
    except Exception:  # empty / nonexistent lake dir
        from ..schemas import CANDLE_SCHEMA

        # Same schema contract as the non-empty path: apply the identical
        # column projection so an empty LAKE and an empty FILTER RESULT are
        # indistinguishable to unionByName/select consumers.
        empty = spark.createDataFrame([], CANDLE_SCHEMA)
        if columns is not None:
            keep = ["ts", *[c for c in columns if c != "ts"]]
            if multi and "symbol" not in keep:
                keep.append("symbol")
            empty = empty.select(*keep)
        return empty

    sym_pred = (
        F.col("symbol").isin(list(symbol))
        if isinstance(symbol, (list, tuple))
        else (F.col("symbol") == symbol)
    )
    df = df.where(
        (F.col("source") == source)
        & (F.col("market") == market)
        & (F.col("timeframe") == timeframe)
        & sym_pred
    )
    # Partition pruning: year/month are zero-padded strings, so
    # concat(year, month) compares chronologically — Catalyst evaluates these
    # predicates against the partition index and skips whole directories
    # (replaces the reference's manual month enumeration, reader.py:8-15).
    # (lpad-normalized: partition type inference may surface month=01 as int 1)
    ym = F.concat(
        F.lpad(F.col("year").cast("string"), 4, "0"),
        F.lpad(F.col("month").cast("string"), 2, "0"),
    )
    if date_from is not None:
        df = df.where(F.col("ts") >= F.lit(date_from).cast("timestamp"))
        df = df.where(ym >= F.date_format(F.lit(date_from).cast("timestamp"), "yyyyMM"))
    if date_to is not None:
        df = df.where(F.col("ts") < F.lit(date_to).cast("timestamp"))
        df = df.where(ym <= F.date_format(F.lit(date_to).cast("timestamp"), "yyyyMM"))
    if columns is not None:
        keep = ["ts", *[c for c in columns if c != "ts"]]
        if multi and "symbol" not in keep:
            keep.append("symbol")  # dedupe/grouping key must survive pruning
        df = df.select(*keep)
    return df


def read_day(
    spark: SparkSession, lake_root: str, *, symbol: str, day: str, **kw
) -> DataFrame:
    """Inclusive-day sugar for the legacy closed contract
    [day 00:00, day 23:59:59] (ref reader.py:35-37, aggregates/loader.py:27).
    The engine standard is half-open `read_range`; this is the documented
    compatibility helper (SURVEY §1.3 contract 2).

    The reference bound is CLOSED at second precision: a bar stamped
    23:59:59 is included, a sub-second bar at 23:59:59.5 is NOT (it exceeds
    the 23:59:59 end bound). The half-open equivalent is
    ``ts < day 23:59:59.000001`` — one microsecond past the last included
    whole second."""
    return read_range(
        spark, lake_root, symbol=symbol,
        date_from=f"{day} 00:00:00",
        date_to=f"{day} 23:59:59.000001",  # closed [.., 23:59:59] as half-open
        **kw,
    )
