"""Time-bucket OHLCV rollup ("resample") — the reference's flagship aggregation.

Semantics of ref src/datalake/aggregates/aggregate.py:28-45 (pandas
``resample(rule, label='left', closed='left')``):

- dedupe input on ``ts`` keep-last (aggregate.py:40);
- bucket bars into tumbling windows labeled by the bucket START
  (``label='left', closed='left'`` — note the provider docstring at
  provider.py:56 claims bar_end labeling; the CODE always uses label='left';
  we replicate the code, SURVEY §2.4 A1);
- agg open=first, high=max, low=min, close=last, volume=sum;
- generate the complete bucket grid between min and max bucket, forward-fill
  OHLC across empty buckets (volume of an empty bucket is 0.0, pandas
  sum-of-empty), drop rows whose OHLC is still null (aggregate.py:43-44).

Spark shape: keep-last dedupe, then groupBy(by, bucket) with min_by/max_by
(JVM-side, no Python), then ONE window over the aggregated buckets, keyed
(by) and ordered by bucket, that forward-fills each OHLC column with
last(ignorenulls) and finds the next bucket with lead. Each bucket explodes
into itself plus the empty buckets before the next one, so the grid needs
no second aggregate and no join back. The dedupe (by, ts), the aggregate
(by, bucket) and the window (by) each need their rows clustered; an input
hash-partitioned on ``by`` alone, as the backtest provider returns it,
satisfies all three, so the resample adds no exchange. At 100 TB the key is
the symbol, roughly uniform, so the partitions stay skew-free; no global
sort anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeframes import tf_seconds
from .dedup import dedupe_keep, quote_ident

OHLC = ["open", "high", "low", "close"]


def resample_ohlcv(
    df: DataFrame,
    tf: str,
    by: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    fill_gaps: bool = True,
) -> DataFrame:
    """Roll M1 (or finer) bars up to ``tf``; returns ts (bucket start, left
    label) + OHLCV + the ``by`` columns, sorted within partitions.

    ``fill_gaps=True`` reproduces the pandas resample contract where empty
    interior buckets exist (ffilled OHLC, volume 0.0).
    """
    secs = tf_seconds(tf)
    by = list(by)
    dur = f"{secs} seconds"

    base = dedupe_keep(df, key=[*by, ts_col], order=None, keep="last")
    bucket = F.window(F.col(ts_col), dur).start.alias("__bucket")
    agged = (
        base.select(*by, bucket, *OHLC, "volume", F.col(ts_col).alias("__ts"))
        .groupBy(*by, "__bucket")
        .agg(
            F.min_by("open", "__ts").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "__ts").alias("close"),
            F.sum("volume").alias("volume"),
        )
    )
    if not fill_gaps:
        return agged.withColumnRenamed("__bucket", ts_col)

    # Complete per-group bucket grid [min_bucket, max_bucket] (pandas resample
    # materializes every bucket in between; ref aggregate.py:41-44): each
    # bucket explodes into itself plus the empty buckets before the next
    # one, which carry its forward-filled OHLC.
    keys, ts = [quote_ident(c) for c in by], quote_ident(ts_col)
    w = f"PARTITION BY {', '.join(keys)} " if by else ""
    w += "ORDER BY __bucket"
    step = f"INTERVAL {secs} SECOND"
    filled = agged.selectExpr(
        *keys, "__bucket", "volume",
        *[f"last({c}, true) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING "
          f"AND CURRENT ROW) AS {c}" for c in OHLC],
        f"lead(__bucket) OVER ({w}) AS __next",
    )
    return filled.selectExpr(
        *keys, *OHLC, "volume", "__bucket",
        f"explode(sequence(__bucket, coalesce(__next - {step}, __bucket), "
        f"{step})) AS {ts}",
    ).selectExpr(
        *keys, ts, *OHLC,
        f"IF({ts} = __bucket, coalesce(volume, 0D), 0D) AS volume",
    ).na.drop(subset=OHLC)
