"""As-of join — the reference's flagship join (pandas ``merge_asof``).

Semantics of ref src/datalake/read/api.py:87 and src/datalake/read/mtf.py:24-26:
for each left ("exec") row attach the most recent right ("context") row with
``right.ts <= left.ts`` (direction='backward'; equal ts IS a match). Output has
exactly len(left) rows (ref tests/test_join_mtf_shapes.py:20-24).

Spark-first implementation (SURVEY §2.3 J1, option 1): tag both sides, UNION,
then ``last(value, ignorenulls=True)`` over a window partitioned by the ``by``
keys ordered by (ts, side) — right rows sort before left rows at equal ts so
backward ties match. ``join_mtf`` puts every context into the same union and
fills all their columns in that one window. At most one shuffle, on ``by``,
and none when every input is already hash-partitioned on ``by`` alike (a
union keeps its children's common partitioning): a backtest request's exec
and context series all descend from the provider's symbol exchange. No
range-explosion, no broadcast of the big side; scales to arbitrarily many
rows per key because the window is a running LOCF, not a self-join.

Why not a range join: ``left.ts BETWEEN right.ts AND right.next_ts`` needs an
extra window for next_ts AND a range-join that Catalyst executes as
BroadcastNestedLoop without bucketing — strictly worse at 100 TB.
"""

from __future__ import annotations

import functools
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame

from .dedup import quote_ident as q

_SIDE = "__asof_side"
_PREF = "__asof_r__"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
    suffix: str = "",
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Attach to each left row the nearest right row at-or-before (backward)
    or at-or-after (forward) its ``on`` timestamp, per ``by`` group.

    right_cols: right value columns to carry (default: all non-key columns).
    suffix: appended to carried right column names (ref mtf.py:8-12 suffixing).
    tolerance_seconds: like merge_asof's tolerance — matches further away are
    nulled out.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = list(by or [])
    rcols = list(right_cols or [c for c in right.columns if c not in (*by, on)])
    cols = [(c, c + suffix) for c in rcols]
    if tolerance_seconds is None:
        return _locf(left, [(right, cols)], on, by, direction)
    rts = _PREF + on  # the matched right row's own timestamp
    out = _locf(left, [(right, [*cols, (on, rts)])], on, by, direction)
    near = (f"abs(CAST({q(on)} AS BIGINT) - CAST({q(rts)} AS BIGINT)) "
            f"<= {int(tolerance_seconds)}")
    return out.selectExpr(
        *map(q, left.columns),
        *[f"CASE WHEN {near} THEN {q(n)} END AS {q(n)}" for _, n in cols],
    )


def join_mtf(
    exec_df: DataFrame,
    ctx_dfs: Mapping[str, DataFrame],
    on: str = "ts",
    by: Sequence[str] | None = None,
    close_only: bool = True,
) -> DataFrame:
    """Multi-timeframe cascade as-of join (ref api.py:76-88, mtf.py:15-27).

    Contexts are applied fine→coarse per TF_ORDER; each contributes columns
    suffixed ``_{TF}`` (close-only by default, ref api.py:85). Contexts
    carrying none of those columns are skipped (ref api.py:82-83). Same
    rows and values as one backward ``asof_join`` per context, chained,
    but every context shares one union and one window.
    """
    from ..functions.timeframes import TF_ORDER

    want = ["close"] if close_only else ["open", "high", "low", "close", "volume"]
    rights = []
    for tf in sorted(ctx_dfs, key=lambda t: TF_ORDER.get(t, 999)):
        ctx = ctx_dfs[tf]
        cols = [(c, f"{c}_{tf}") for c in want if c in ctx.columns]
        if cols:
            rights.append((ctx, cols))
    if not rights:
        return exec_df
    return _locf(exec_df, rights, on, list(by or []), "backward")


def _locf(
    left: DataFrame,
    rights: Sequence[tuple[DataFrame, Sequence[tuple[str, str]]]],
    on: str,
    by: Sequence[str],
    direction: str,
) -> DataFrame:
    """``left`` plus, for each (right, [(column, output name)…]) in
    ``rights``, the named columns of that right's nearest row, in ONE union
    of all sides and ONE window. Right rows sort before left rows at an
    equal ``on``, so a tie matches. Each carried column is non-null only on
    its own right's rows, so ``last(…, ignorenulls)`` never mixes rights."""
    lcols = left.columns
    carried = []  # (right index, right column, internal name, output name)
    for i, (_, cols) in enumerate(rights):
        for src, out in cols:
            carried.append((i, src, f"{_PREF}{len(carried)}", out))
    # left rows: side 1, every carried column null (typed by the union)
    parts = [left.selectExpr(
        *map(q, lcols), f"1 AS {_SIDE}", *[f"NULL AS {t}" for _, _, t, _ in carried])]
    for i, (right, _) in enumerate(rights):
        # right rows: side 0, left columns null except the keys, only this
        # right's carried columns set
        parts.append(right.selectExpr(
            *[q(c) if c in (*by, on) else f"NULL AS {q(c)}" for c in lcols],
            f"0 AS {_SIDE}",
            *[f"{q(src)} AS {t}" if k == i else f"NULL AS {t}"
              for k, src, t, _ in carried],
        ))
    w = f"PARTITION BY {', '.join(map(q, by))} " if by else ""
    w += (f"ORDER BY {q(on)} {'ASC' if direction == 'backward' else 'DESC'}, "
          f"{_SIDE} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    return (
        functools.reduce(DataFrame.union, parts)
        .selectExpr(*map(q, lcols), _SIDE, *[
            f"last({t}, true) OVER ({w}) AS {q(out)}" for _, _, t, out in carried])
        .where(f"{_SIDE} = 1")
        .drop(_SIDE)
    )
