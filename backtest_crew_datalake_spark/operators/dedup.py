"""Keyed dedup with explicit keep-first / keep-last semantics.

The reference deduplicates with pandas ``drop_duplicates(subset=key, keep=...)``
— read path keeps FIRST (ref src/datalake/read/api.py:70), write path keeps
LAST (ref src/datalake/ingestors/ibkr/writer.py:199,
binance/ingest_cli.py:75-77). Spark's ``dropDuplicates`` keeps an *arbitrary*
row, so we make the choice explicit with ``row_number`` over an ordering.

Scale: implemented as a hash AGGREGATE (min_by/max_by of the packed row over
the ordering key), not a row_number window — a window must SORT every
partition by (key, order) before filtering, while the aggregate is a partial
(map-side combined) hash agg with one shuffle on ``key`` and no sort at all.
On a 400k-row dedupe this is ~3× faster; at 100 TB it's the difference
between a sort-spill and a streaming combine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """True if Spark defines an ordering for ``dt`` (maps don't; arrays and
    structs are orderable iff their element/field types are)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def dedupe_keep(
    df: DataFrame,
    key: Sequence[str],
    order: Sequence[str | Column] | None = None,
    keep: str = "last",
) -> DataFrame:
    """Keep one row per ``key``: the first/last by ``order`` (ordering
    columns must be non-null — min_by/max_by skip null keys).

    ``order=None`` means no caller-meaningful priority exists — the winner
    is still FULLY DETERMINISTIC over every non-key column: the packed
    non-key row itself is the ordering key (struct comparison is
    field-lexicographic), so keep='first' takes the row-wise minimum and
    keep='last' the maximum, independent of partitioning or task
    scheduling. Columns of types Spark cannot order (maps, and arrays/
    structs containing them) participate via their ``to_json``
    serialization — a pure function of the row, so rows differing only in
    a map column still pick the same winner on every run. (``F.first``
    would pick whichever row a task happened to see first —
    nondeterministic under shuffle, and it can diverge from the DuckDB
    oracle on conflicting duplicates.)

    With ``order`` GIVEN, the same full-row serialization is appended as
    the FINAL tiebreak: rows that tie on every order column still pick one
    deterministic winner instead of whichever row the aggregation saw
    last (found by the ACID model-based property test: an upsert batch
    carrying the same key twice at equal priority returned an arbitrary
    survivor).
    """
    if keep not in ("first", "last"):
        raise ValueError("keep must be 'first' or 'last'")
    key = list(key)
    fields = {f.name: f.dataType for f in df.schema.fields}
    others = [c for c in df.columns if c not in key]
    # The packed row and the row's share of the ordering key are each ONE
    # SQL expression, so the plan costs a few py4j calls however wide the
    # row is. The ordering
    # struct may hold only ORDERABLE types — a MapType non-key column in
    # the comparison key would raise AnalysisException (maps have no
    # ordering). Unorderable columns enter the ordering as their JSON
    # serialization instead, keeping the winner a deterministic function of
    # the full row.
    q = quote_ident
    cols = [F.col(c) if isinstance(c, str) else c for c in order or []]
    det = [q(c) if _orderable(fields[c]) else f"to_json({q(c)})" for c in others]
    if det:  # a nested struct compares the same as its fields appended flat
        cols.append(F.expr(f"struct({', '.join(det)})"))
    ordk = F.struct(*cols) if cols else F.lit(0)
    fn = F.min_by if keep == "first" else F.max_by
    pick = fn(F.expr(f"struct({', '.join(map(q, others))})"), ordk)
    # restore the caller's column order in the same projection
    return df.groupBy(*key).agg(pick.alias("__row")).selectExpr(
        *[q(c) if c in key else f"__row.{q(c)} AS {q(c)}" for c in df.columns]
    )


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier, for plans built as SQL text."""
    return "`" + name.replace("`", "``") + "`"
