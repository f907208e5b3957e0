"""ACID table layer — snapshot-isolated, atomically-committed parquet tables.

The reference's upsert (ref src/datalake/ingestors/ibkr/writer.py:126-233)
read-modify-writes whole parquet files with a tmp→rename per file: there is no
atomic MULTI-partition commit and no snapshot isolation for concurrent
readers — a reader scanning while a two-partition upsert lands can see one
partition new and the other old. sources/writer.py upgraded the merge to
dynamic-partition overwrite, which is atomic per partition but still not
across partitions. This module closes that gap with the manifest-snapshot
design that Iceberg/Delta publish (spec-level, reimplemented from scratch):

- Data files are IMMUTABLE and uniquely named; a write never mutates a file.
- A SNAPSHOT is a JSON manifest listing exactly the data files (with their
  partition values and per-file stats) that make up one table version.
- A COMMIT is the atomic creation of manifest v(N+1). Readers resolve the
  file list from one manifest, so every read — any number of partitions —
  observes exactly one version: multi-partition upserts are all-or-nothing
  and concurrent readers keep their snapshot for the life of the DataFrame.
- A crash before manifest creation leaves ORPHAN data files that no reader
  ever sees (vacuum reclaims them); a crash after is a completed commit.
- Writers race on the manifest name: os.link(tmp, final) is atomic and fails
  with EEXIST when the version was taken — the loser re-reads the new latest
  snapshot, re-runs its merge against it, and retries (optimistic
  concurrency; keyed keep-last upserts are re-runnable by construction).

Layout (everything under an underscore dir, so plain recursive parquet reads
skip the table entirely instead of double-counting live + dead files)::

    <table_root>/_acid/
        manifests/v000000000001.json     # one per committed version
        data/<p>=<v>/.../<commit>-part-*.parquet

Scale shape: commits are METADATA-scale — the manifest lists files, not rows,
and the only driver-side collect is one row per written file (bounded like
writer.py's capped planning collect; stats are computed by a distributed
per-file aggregation, not by footer reads on the driver). Reads prune twice
before Spark ever opens a footer: partition values and min/max column stats
stored in the manifest filter the FILE LIST, then parquet row-group stats
prune within files. On an object store the per-file rename in the commit
path would be replaced by writing to final unique names directly (rename is
the local-POSIX analogue of "upload then commit"); the manifest protocol is
unchanged.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "manifests"
_DATA = "data"
_V_DIGITS = 12

# Partition-value encoding. The manifest's canonical form is Spark's
# cast-to-string of the partition value (null stays None / JSON null);
# leaf DIRECTORY names additionally hive-escape path metacharacters and
# spell null as __HIVE_DEFAULT_PARTITION__ — the same convention Spark's
# own partitionBy writer uses, so acid_read's basePath partition discovery
# round-trips every value (including '/', '=', '%' and nulls) instead of
# producing corrupt paths or 'p=None' literals.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_PATH_ESCAPE = (
    {chr(c) for c in range(0x20)}
    | set('"#%\'*/:=?\\{[]^')
    | {chr(0x7F)}
)


def _escape_part(value: str | None) -> str:
    """Canonical partition-value string → hive-escaped path segment.
    '' takes the null dir like Spark's own writer (it can't round-trip:
    'c=' parses back as null anyway)."""
    if value is None or value == "":
        return _HIVE_NULL
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE else ch for ch in value
    )


def _part_str(v) -> str | None:
    """Python filter value → the string Spark's cast-to-string produces
    for it (the manifest's canonical encoding): str(True) is 'True' but
    Spark stores 'true'; ints / dates / strings agree with str(). An
    EMPTY string canonicalizes to null — Spark's partitionBy writes '' as
    __HIVE_DEFAULT_PARTITION__ and partition discovery reads it back as
    null, so '' and null are the same partition value by construction."""
    if v is None or v == "":
        return None
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


class CommitConflict(RuntimeError):
    """Raised when optimistic commit retries are exhausted."""


class ConstraintViolation(ValueError):
    """Raised when a write would land rows that fail a table CHECK
    constraint — nothing is committed, no data files are written."""


def _acid_root(table_root: str) -> str:
    return os.path.join(table_root, "_acid")


MAIN_BRANCH = "main"


def _check_branch_name(name: str) -> str:
    if not name or any(c in name for c in "/\\. \t\n"):
        raise ValueError(f"invalid branch name {name!r}")
    return name


def _manifest_dir(table_root: str, branch: str = MAIN_BRANCH) -> str:
    """One manifest CHAIN per branch (Iceberg writable refs, re-derived
    for the manifest-snapshot layout): main keeps the original location,
    a branch gets its own chain under branches/<name>/ — all chains share
    ONE data root, so branch commits add immutable files beside main's
    and fork manifests can reference main's files verbatim."""
    if branch == MAIN_BRANCH:
        return os.path.join(_acid_root(table_root), _MANIFESTS)
    return os.path.join(
        _acid_root(table_root), "branches", _check_branch_name(branch),
        _MANIFESTS,
    )


def _data_root(table_root: str) -> str:
    return os.path.join(_acid_root(table_root), _DATA)


def _manifest_path(table_root: str, version: int,
                   branch: str = MAIN_BRANCH) -> str:
    return os.path.join(
        _manifest_dir(table_root, branch), f"v{version:0{_V_DIGITS}d}.json"
    )


def list_versions(table_root: str, branch: str = MAIN_BRANCH) -> list[int]:
    mdir = _manifest_dir(table_root, branch)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def latest_version(table_root: str, branch: str = MAIN_BRANCH) -> int:
    """0 when the table (or branch) doesn't exist yet."""
    vs = list_versions(table_root, branch)
    return vs[-1] if vs else 0


def _load_manifest(table_root: str, version: int,
                   branch: str = MAIN_BRANCH) -> dict:
    with open(_manifest_path(table_root, version, branch)) as fh:
        m = json.load(fh)
    if not m.get("committed"):
        # torn read of an in-flight manifest is impossible (commit is an
        # atomic link of fully-written content) — this trips only on
        # corruption, which must be loud
        raise RuntimeError(
            f"manifest v{version} of {table_root} lacks the committed marker"
        )
    return m


def _commit_manifest(table_root: str, version: int, manifest: dict,
                     branch: str = MAIN_BRANCH) -> bool:
    """Atomically publish ``manifest`` as version ``version``.

    Content is fully written to a hidden tmp file first; os.link then makes
    it appear under the versioned name atomically, failing with EEXIST if a
    racing writer took the version — O_EXCL semantics with no window where
    a reader can observe partial content.
    """
    mdir = _manifest_dir(table_root, branch)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _manifest_path(table_root, version, branch))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _write_data_files(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    partition_by: tuple[str, ...],
    stats_cols: tuple[str, ...],
    bloom_cols: tuple[str, ...] = (),
    bloom_bits: int = 4096,
    bloom_k: int = 5,
) -> list[dict]:
    """Write ``df`` as immutable files in the shared hive tree and return one
    manifest entry per file: relative path, partition values, row count and
    min/max of ``stats_cols``.

    Files land in a private staging dir first (invisible: readers resolve
    files only through manifests, and the staging dir is never listed), get their per-file stats from ONE distributed aggregation
    keyed by input_file_name (the collect is one row per file — metadata-
    scale), then move into the shared tree under a commit-unique filename.
    """
    commit_id = uuid.uuid4().hex[:16]
    data_root = _data_root(table_root)
    stage = os.path.join(_acid_root(table_root), f"stage-{commit_id}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)

    # pin the incoming schema on the read-back: partition-column TYPE
    # inference would otherwise re-type e.g. a string '03' directory as
    # int 3, and its cast-to-string would record '3' in the manifest —
    # a value the data's own cast-to-string ('03') never matches
    back = (
        spark.read.option("basePath", stage).schema(df.schema).parquet(stage)
    )
    aggs = [F.count("*").alias("rows")]
    for c in stats_cols:
        if c in back.columns:
            aggs.append(F.min(c).cast("string").alias(f"min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"max_{c}"))
    stats_rows = (
        back.groupBy(
            F.input_file_name().alias("__path"),
            *[F.col(c).cast("string").alias(c) for c in partition_by],
        )
        .agg(*aggs)
        .collect()  # bounded: one row per written FILE
    )

    # per-file BLOOM bitmaps for point-lookup data skipping (the
    # Parquet-bloom / Iceberg-puffin shape): item x sets bit
    # pmod(xxhash64(cast(x AS STRING), seed), m) for seeds 0..k-1 — the
    # SAME formula pipeline/sketch.bloom_build uses, over the STRING
    # rendering so additive type widening can never desync build and
    # probe (the schema-pin lesson of the delete-file key columns).
    # Collect is bounded: <= files x min(rows*k, m) distinct bit indexes
    # per column — register state, never data (the HLL-grid class).
    blooms: dict[str, dict[str, str]] = {}
    for c in bloom_cols:
        if c not in back.columns:
            continue
        pos = F.array(*[
            F.pmod(F.xxhash64(F.col(c).cast("string"), F.lit(i)),
                   F.lit(bloom_bits))
            for i in range(bloom_k)
        ])
        bit_rows = (
            back.where(F.col(c).isNotNull())
            .select(F.input_file_name().alias("__path"),
                    F.explode(pos).alias("b"))
            .distinct()
            .groupBy("__path")
            .agg(F.collect_set("b").alias("bits"))
            .collect()
        )
        per_file = {r["__path"]: r["bits"] for r in bit_rows}
        for r in stats_rows:
            bm = bytearray(bloom_bits // 8)
            for b in per_file.get(r["__path"], ()):  # all-null file: 0s
                bm[b // 8] |= 1 << (b % 8)
            blooms.setdefault(r["__path"], {})[c] = \
                base64.b64encode(bytes(bm)).decode()

    entries = []
    for r in stats_rows:
        # input_file_name() is a URI: strip the scheme AND percent-decode —
        # hive-escaped partition dirs (e.g. '%' → '%25') are re-encoded by
        # the URI layer ('%2525'), so the raw string is not the disk path
        src = urllib.parse.unquote(r["__path"])
        if src.startswith("file:"):
            src = src[len("file:"):]
            while src.startswith("//"):
                src = src[1:]
        parts = {c: r[c] for c in partition_by}
        leaf = os.path.join(
            data_root,
            *[f"{c}={_escape_part(parts[c])}" for c in partition_by],
        )
        os.makedirs(leaf, exist_ok=True)
        final = os.path.join(leaf, f"{commit_id}-{os.path.basename(src)}")
        os.rename(src, final)
        entry = {
            "path": os.path.relpath(final, data_root),
            "partition": parts,
            "rows": r.rows,
            "bytes": os.path.getsize(final),
        }
        for c in stats_cols:
            if f"min_{c}" in stats_rows[0].asDict():
                entry[f"min_{c}"] = r[f"min_{c}"]
                entry[f"max_{c}"] = r[f"max_{c}"]
        for c, b64 in blooms.get(r["__path"], {}).items():
            entry[f"bloom_{c}"] = {
                "m": bloom_bits, "k": bloom_k, "b64": b64,
            }
        entries.append(entry)
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def _matches(entry: dict, partition_filter: dict | None) -> bool:
    if not partition_filter:
        return True
    part = entry.get("partition", {})
    for col, want in partition_filter.items():
        if col not in part:
            continue
        allowed = want if isinstance(want, (list, tuple, set)) else (want,)
        if part[col] not in {_part_str(v) for v in allowed}:
            return False
    return True


def _stats_prune(entry: dict, stats_filter: dict | None) -> bool:
    """True if the file MAY contain rows in the given ranges. ``stats_filter``
    is {col: (lo, hi)} (either bound None for open); compares against the
    min_/max_ column stats the writer recorded (string compare for string
    stats, numeric when both sides parse). Files without stats for the
    column are kept — skipping is an optimization, never a filter."""
    if not stats_filter:
        return True
    for col, (lo, hi) in stats_filter.items():
        fmin, fmax = entry.get(f"min_{col}"), entry.get(f"max_{col}")
        if fmin is None or fmax is None:
            continue
        # convert ALL FOUR before rebinding any: a partial conversion
        # (stats parse, bound doesn't) would leave fmin/fmax float while
        # lo/hi stay str and the range compare below raises TypeError
        try:
            cand = (
                float(fmin), float(fmax),
                None if lo is None else float(lo),
                None if hi is None else float(hi),
            )
        except (TypeError, ValueError):
            # all-string comparison: same-type, total order — never mixed
            cand = (
                str(fmin), str(fmax),
                None if lo is None else _part_str(lo),
                None if hi is None else _part_str(hi),
            )
        fmin, fmax, lo, hi = cand
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def _constraints_path(table_root: str) -> str:
    return os.path.join(_acid_root(table_root), "constraints.json")


def _write_constraints(table_root: str, cons: dict[str, str]) -> None:
    """Atomically publish the constraint config (tmp + fsync + replace —
    the same durability pattern the manifest link uses)."""
    os.makedirs(_acid_root(table_root), exist_ok=True)
    tmp = _constraints_path(table_root) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(cons, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _constraints_path(table_root))


def acid_constraints(table_root: str) -> dict[str, str]:
    """The table's CHECK constraints ({name: sql_expr}). Table-level
    config, not snapshot state: like Delta table properties, constraint
    changes apply from the moment they're set and are NOT versioned with
    time travel (documented trade — the alternative threads a config
    blob through every manifest writer)."""
    try:
        with open(_constraints_path(table_root)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def acid_set_constraint(spark: SparkSession, table_root: str,
                        name: str, expr: str) -> None:
    """ADD CONSTRAINT name CHECK (expr) — Delta-style write-path data
    quality. If the table already has data, the CURRENT snapshot is
    scanned first and the add fails loudly on existing violations (the
    `ALTER TABLE ADD CONSTRAINT` contract: a constraint that holds is
    the only kind worth trusting). SQL NULL semantics: a row violates
    only when the expression evaluates to FALSE — UNKNOWN (null)
    passes, matching standard CHECK.

    Single-maintainer boundary (same contract as vacuum/compact):
    constraint DDL is validate-then-publish with no coordination with
    the commit protocol — a writer that loaded constraints before the
    add can commit violating rows after the snapshot scan, and
    concurrent set/drop calls read-modify-write constraints.json and
    can lose one update. Run DDL from a maintenance job with writers
    quiesced; re-run the add (it re-scans) after any doubt."""
    if not name.isidentifier():
        raise ValueError(f"constraint name must be an identifier: {name!r}")
    if latest_version(table_root) > 0:
        snap = acid_read(spark, table_root)
        n_bad = snap.where(F.expr(f"NOT ({expr})")).count()
        if n_bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r} to {table_root}: "
                f"{n_bad} existing rows violate ({expr})"
            )
    cons = acid_constraints(table_root)
    cons[name] = expr
    _write_constraints(table_root, cons)


def acid_drop_constraint(table_root: str, name: str) -> None:
    cons = acid_constraints(table_root)
    if name not in cons:
        raise KeyError(f"no constraint {name!r} on {table_root}")
    del cons[name]
    _write_constraints(table_root, cons)


def _quarantine_root(table_root: str) -> str:
    return os.path.join(_acid_root(table_root), "quarantine")


def acid_quarantine(spark: SparkSession, table_root: str) -> DataFrame:
    """The table's quarantine — rows diverted by
    ``on_violation="quarantine"`` writes, each carrying ``__violated``
    (comma-joined names of the constraints it failed). Its own ACID
    table (time travel, CDF and vacuum all apply); raises like acid_read
    if nothing was ever quarantined."""
    return acid_read(spark, _quarantine_root(table_root))


def _validate_constraints(spark: SparkSession, df: DataFrame,
                          table_root: str,
                          on_violation: str = "reject") -> DataFrame:
    """Gate incoming rows against every table constraint in ONE
    aggregation job (a per-constraint conditional sum — no per-constraint
    pass, no row-at-a-time anything). ``on_violation="reject"`` raises
    ConstraintViolation naming each failed constraint and its count
    BEFORE any data file is written; ``"quarantine"`` diverts the
    violating rows (tagged with ``__violated``) into the table's own
    quarantine ACID table and returns the clean remainder — the
    dead-letter pattern for landing streams that must not stall on one
    bad record. Returns the rows the caller should commit.

    Quarantine is AT-LEAST-ONCE: the diverted rows commit to the
    quarantine table BEFORE the main write's manifest links, so a main
    commit that then fails (CommitConflict after max_retries, crash)
    leaves the violators quarantined while the clean remainder never
    landed — a naive full-batch replay re-quarantines them. Replay
    the CLEAN remainder only, or dedupe the quarantine downstream on
    its natural key (the standard dead-letter-queue contract)."""
    if on_violation not in ("reject", "quarantine"):
        raise ValueError(
            f"on_violation must be reject|quarantine, got {on_violation!r}"
        )
    cons = acid_constraints(table_root)
    if not cons:
        return df
    aggs = [
        F.sum(F.when(F.expr(f"NOT ({e})"), 1).otherwise(0))
        .alias(f"__c_{n}")
        for n, e in cons.items()
    ]
    row = df.agg(*aggs).first()
    bad = {n: row[f"__c_{n}"] for n in cons if row[f"__c_{n}"]}
    if not bad:
        return df
    if on_violation == "reject":
        detail = ", ".join(
            f"{n} CHECK ({cons[n]}): {c} rows" for n, c in bad.items()
        )
        raise ConstraintViolation(
            f"write to {table_root} rejected — {detail}"
        )
    # quarantine: null CHECK results pass (SQL semantics), so a row is
    # bad only where an expression is definitely FALSE
    is_bad = None
    for e in cons.values():
        b = F.coalesce(F.expr(f"NOT ({e})"), F.lit(False))
        is_bad = b if is_bad is None else (is_bad | b)
    names = F.concat_ws(",", *[
        F.when(F.coalesce(F.expr(f"NOT ({e})"), F.lit(False)), F.lit(n))
        for n, e in sorted(cons.items())
    ])
    acid_write(
        spark,
        df.where(is_bad).withColumn("__violated", names),
        _quarantine_root(table_root),
        operation="quarantine",
    )
    return df.where(~is_bad)


def _bloom_cols_of(entries: list[dict]) -> tuple[str, ...]:
    """Bloom-indexed columns recorded anywhere in ``entries`` — rewrite
    paths (upsert / compact / CoW delete) re-derive these so a rewritten
    file keeps its point-lookup index without the caller re-stating it
    (same forward-carry rule as the min_/max_ stats columns)."""
    return tuple(sorted(
        {k[len("bloom_"):] for e in entries for k in e
         if k.startswith("bloom_")}
    ))


def _bloom_value_strs(spark, pairs: list[tuple],
                      col_types: dict[str, str]) -> dict:
    """(col, probe value) → the EXACT string the writer's
    ``CAST(col AS STRING)`` hashed into that column's bloom. Rendered
    BY SPARK through the column's COMMITTED type — ``F.lit(v)
    .cast(col_type).cast('string')``, one local 1-row job for all
    probes together, never data-sized — because Python's rendering
    disagrees exactly where it silently loses rows: str(1e-07) is
    '1e-07' but Spark casts the double to '1.0E-7'; a Python Decimal
    infers as decimal(38,18) ('7.250000000000000000') while a
    decimal(10,2) column stores '7.25'; microsecond timestamps and
    dates differ too. A Python-rendered probe hashes a string the
    writer never indexed and the bloom "proves" absence of a value the
    file contains — a false NEGATIVE, lost rows, not just missed
    pruning. The cast through col_types also fixes cross-type probes
    (int 5 against a decimal(10,2) column must hash '5.00')."""
    out: dict = {}
    keys, exprs, seen = [], [], set()
    for col, v in pairs:
        if (col, v) in seen:
            continue
        seen.add((col, v))
        if v is None or (isinstance(v, str) and v == ""):
            # NULL domain — the writer indexes non-null values only
            out[(col, v)] = None
            continue
        e = F.lit(v)
        t = col_types.get(col)
        if t:
            e = e.cast(t)
        exprs.append(e.cast("string").alias(f"c{len(keys)}"))
        keys.append((col, v))
    if exprs:
        row = spark.range(1).select(*exprs).first()
        for i, k in enumerate(keys):
            out[k] = row[f"c{i}"]
    return out


def _bloom_probe_bits(spark, probes: list[tuple]) -> dict[tuple, list]:
    """Bit positions for every (col, m, k, value-string) probe, computed
    with THE SAME Spark expression the writer used — one tiny local job
    over |probes| rows (never data-sized), so build and probe can't
    drift on hash semantics."""
    if not probes:
        return {}
    df = spark.createDataFrame(probes, "col string, m long, k int, v string")
    rows = df.select(
        "col", "m", "k", "v",
        F.expr(
            "transform(sequence(0, k - 1),"
            " i -> pmod(xxhash64(v, CAST(i AS INT)), m))"
        ).alias("bits"),
    ).collect()
    return {(r["col"], r["m"], r["k"], r["v"]): list(r["bits"])
            for r in rows}


def _bloom_prune(spark, entries: list[dict],
                 point_filter: dict | None,
                 schema_ddl: str | None = None) -> list[dict]:
    """Drop files whose bloom bitmap PROVES none of the probed values is
    present. ``point_filter`` is {col: value-or-list}; a file survives a
    column's probe if ANY listed value may be present; columns combine
    with AND. Files without a bloom for the column are kept — like
    stats_filter, this is data SKIPPING (no false negatives by
    construction: the writer hashes every non-null value of the file),
    not filtering: apply the predicate to the result too."""
    if not point_filter:
        return entries
    col_types = dict(
        spark.createDataFrame([], schema_ddl).dtypes
    ) if schema_ddl else {}
    all_pairs = []
    for col, want in point_filter.items():
        for v in (want if isinstance(want, (list, tuple, set)) else (want,)):
            all_pairs.append((col, v))
    vstr = _bloom_value_strs(spark, all_pairs, col_types)
    probes = set()
    for e in entries:
        for col, want in point_filter.items():
            meta = e.get(f"bloom_{col}")
            if not meta:
                continue
            vals = want if isinstance(want, (list, tuple, set)) else (want,)
            for v in vals:
                s = vstr[(col, v)]
                if s is not None:
                    probes.add((col, int(meta["m"]), int(meta["k"]), s))
    bits = _bloom_probe_bits(spark, sorted(probes))
    kept = []
    for e in entries:
        ok = True
        for col, want in point_filter.items():
            meta = e.get(f"bloom_{col}")
            if not meta:
                continue
            bm = base64.b64decode(meta["b64"])
            vals = want if isinstance(want, (list, tuple, set)) else (want,)
            hit = False
            for v in vals:
                s = vstr[(col, v)]
                if s is None:
                    # NULL probes are outside the bloom's domain (the
                    # writer indexes non-null values only) — keep
                    hit = True
                    break
                pos = bits.get((col, int(meta["m"]), int(meta["k"]), s))
                if pos is None:
                    hit = True  # unknown probe: conservative keep
                    break
                if all(bm[b // 8] & (1 << (b % 8)) for b in pos):
                    hit = True
                    break
            if not hit:
                ok = False
                break
        if ok:
            kept.append(e)
    return kept


def acid_read(
    spark: SparkSession,
    table_root: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter: dict | None = None,
    point_filter: dict | None = None,
    tag: str | None = None,
    as_of_ts: float | None = None,
    branch: str = MAIN_BRANCH,
) -> DataFrame:
    """Read one snapshot of the table (latest by default; ``version`` for
    time travel, ``tag`` for a named ref, ``as_of_ts`` for the Delta
    `timestampAsOf` / Iceberg `FOR SYSTEM_TIME AS OF` form — the newest
    snapshot whose commit time is <= the given unix timestamp). The file
    list binds at CALL time, so the returned DataFrame keeps observing
    this snapshot however many commits land afterwards — snapshot
    isolation without locks.

    ``partition_filter`` ({col: value-or-list}, path-encoded string compare)
    and ``stats_filter`` ({col: (lo, hi)} against the per-file min/max the
    writer recorded via ``stats_cols``) prune the FILE LIST before Spark
    opens anything; ``point_filter`` ({col: value-or-list}) prunes it
    further through the per-file BLOOM bitmaps the writer recorded via
    ``bloom_cols`` — the point-lookup complement to min/max ranges (a
    needle user_id in a table Z-ORDERED by time has useless ranges but a
    decisive bloom). Spark's own row-group pruning applies within the
    surviving files. stats_filter/point_filter are data SKIPPING, not
    filtering — apply the predicate to the result too. An empty table
    (version 0) has never been written; callers that need a schema should
    create the table first.
    """
    if sum(x is not None for x in (version, tag, as_of_ts)) > 1:
        raise ValueError("version, tag and as_of_ts are mutually exclusive")
    if branch != MAIN_BRANCH and (tag is not None or as_of_ts is not None):
        raise ValueError("tag/as_of_ts resolve on the main chain only")
    if tag is not None:
        version = resolve_tag(table_root, tag)
    elif as_of_ts is not None:
        version = version_as_of(table_root, as_of_ts)
    v = latest_version(table_root, branch) if version is None else version
    if v == 0:
        raise FileNotFoundError(
            f"ACID table {table_root} (branch {branch!r}) has no commits"
        )
    m = _load_manifest(table_root, v, branch)
    data_root = _data_root(table_root)
    # filters arrive in LOGICAL names; entries/stats/blooms store PHYSICAL
    mapping = _mapping_of(m)
    partition_filter = _phys_filter(mapping, partition_filter)
    stats_filter = _phys_filter(mapping, stats_filter)
    point_filter = _phys_filter(mapping, point_filter)
    entries = [
        e for e in _data_entries(m["files"])
        if _matches(e, partition_filter) and _stats_prune(e, stats_filter)
    ]
    entries = _bloom_prune(spark, entries, point_filter, m["schema_ddl"])
    if not entries:
        return _project_logical(
            spark.createDataFrame([], m["schema_ddl"]), m)
    # pruning applies to DATA files; merge-on-read delete files (if any)
    # always load — they only remove rows, so skipping data files stays
    # sound and skipping delete files never is
    return _project_logical(_snapshot_df(spark, data_root, m,
                                         entries=entries), m)


def _read_entries(spark, data_root, entries, schema_ddl, with_meta=False):
    """Read manifest entries, grouped by PARTITION SPEC: spec evolution
    (Iceberg-style — e.g. (event_type) -> (event_type, bucket)) legally
    mixes hive layouts in one data root, and Spark refuses conflicting
    directory structures under a single basePath scan. Each spec group is
    internally consistent, so read one scan per LIVE SPEC (bounded by the
    number of specs ever used, not by files) and unionByName; the pinned
    schema resolves every column per group — from file content where the
    spec didn't pull it into the path, from the directory name where it
    did, null where the file predates additive evolution."""
    by_spec: dict[tuple, list] = {}
    for e in entries:
        p = e["path"]
        if os.path.isabs(p):
            # INHERITED file (shallow clone): it lives under the SOURCE
            # table's hive tree — its basePath is the abs path minus the
            # partition dirs + filename, recoverable from the entry's own
            # partition spec
            base = p
            for _ in range(len(e.get("partition", {})) + 1):
                base = os.path.dirname(base)
            full = p
        else:
            base, full = data_root, os.path.join(data_root, p)
        by_spec.setdefault(
            (tuple(e.get("partition", {}).keys()), base), []
        ).append(full)
    out = None
    for (_spec, base), paths in by_spec.items():
        reader = spark.read.option("basePath", base)
        if schema_ddl:
            # pin the committed schema: uncompacted historic files stay
            # readable after additive evolution (missing columns -> null)
            reader = reader.schema(schema_ddl)
        part = reader.parquet(*sorted(paths))
        if with_meta:
            # positional-delete coordinates: the hidden _metadata struct
            # must be projected on the SCAN df (it is not resolvable after
            # a union), file path decoded to the local filesystem form.
            # The path is a URI: percent-escapes decode, but a literal '+'
            # must stay a '+' (url_decode would read it as a space)
            part = part.select(
                "*",
                F.expr(
                    "concat('/', regexp_replace(url_decode(replace("
                    "_metadata.file_path, '+', '%2B')), '^file:/+', ''))"
                ).alias("__abs"),
                F.col("_metadata.row_index").alias("__pos"),
            )
        out = part if out is None else out.unionByName(part)
    return out


def _data_entries(files: list[dict]) -> list[dict]:
    return [e for e in files if e.get("kind", "data") == "data"]


def _delete_entries(files: list[dict]) -> list[dict]:
    return [e for e in files if e.get("kind") == "eq_delete"]


def _live_deletes(kept_data: list[dict], dels: list[dict]) -> list[dict]:
    """Delete entries still REACHING something: an equality delete
    suppresses keys only in data files committed at-or-before it
    (seq <= delete seq); once every such file has been rewritten (new
    seq) or removed, the delete entry is spent and drops from the
    manifest."""
    return [
        d for d in dels
        if any(int(e.get("seq", 0)) <= int(d["seq"]) for e in kept_data)
    ]


def _pos_entries(files: list[dict]) -> list[dict]:
    return [e for e in files if e.get("kind") == "pos_delete"]


def _live_pos_deletes(kept_data: list[dict],
                      pdels: list[dict]) -> list[dict]:
    """Positional deletes address rows by (data file path, row ordinal) —
    immutable coordinates: a data file is never modified in place, so a
    pos-delete entry stays live exactly while ANY of its target files is
    still in the manifest, and is spent the moment every target has been
    rewritten (new path) or removed. The target path list is recorded on
    the entry at write time (bounded: distinct files touched)."""
    kept = {e["path"] for e in kept_data}
    return [
        d for d in pdels if any(t in kept for t in d.get("targets", ()))
    ]


def _snapshot_df(spark, data_root, manifest, entries=None, keep_pos=False):
    """Assemble one snapshot's rows: data entries (optionally a pruned
    subset) read per (spec, seq) group, MINUS merge-on-read POSITIONAL
    deletes (path-addressed: a (file, row ordinal) pair suppresses that
    exact row while the file is still in the manifest — file paths are
    immutable coordinates, so no seq test is needed) and MINUS equality
    deletes with SEQUENCE semantics — a delete file written at seq S
    suppresses its keys only in data files with seq <= S, so a later
    upsert legitimately re-inserts a deleted key (the Iceberg v2 rule).
    With no delete entries this is exactly _read_entries (the fast path —
    no extra joins). ``keep_pos=True`` retains the (__mpath, __pos) row
    coordinates on the output (acid_delete_pos's hit scan)."""
    files = manifest["files"]
    data = _data_entries(files if entries is None else entries)
    dels = _delete_entries(files)
    pdels = _live_pos_deletes(data, _pos_entries(files))
    if not data:
        return spark.createDataFrame([], manifest["schema_ddl"])
    need_pos = keep_pos or bool(pdels)
    if not dels and not need_pos:
        return _read_entries(spark, data_root, data, manifest["schema_ddl"])
    if dels:
        key = list(dels[0]["key"])
        for d in dels:
            if list(d["key"]) != key:
                raise ValueError(
                    "mixed equality-delete keys in one table are "
                    f"unsupported: {d['key']} vs {key}"
                )
    # ONE scan for ALL data entries (r12, guide §1.2/§6): the previous
    # shape unioned one _read_entries scan PER COMMIT SEQ when equality
    # deletes were live, so a fragmented table paid a file-listing +
    # scan-planning job per historic commit (measured: acid_compact over
    # a 26-commit table ran ~30 jobs per partition, ~10 s of pure
    # scheduling floor). The per-file seq now rides the SAME bounded
    # broadcast path LUT that already mapped scan paths back to manifest
    # paths — one row per manifest file, never data-scale.
    out = _read_entries(spark, data_root, data, manifest["schema_ddl"],
                        with_meta=True)
    # map the scan's decoded absolute path back to the MANIFEST path
    # (relative for own files, absolute for clone-inherited entries) and
    # its commit seq — a bounded broadcast lookup, one row per file
    pairs = [
        (e["path"] if os.path.isabs(e["path"])
         else os.path.abspath(os.path.join(data_root, e["path"])),
         e["path"], int(e.get("seq", 0)))
        for e in data
    ]
    lut = spark.createDataFrame(
        pairs, "__abs string, __mpath string, __seq long")
    # a LUT miss (path-form drift) would leave __mpath and __seq null,
    # which match no delete: the row would be kept with its deletes
    # silently skipped. Fail the read instead (raise_error inside the
    # filter, so the plan stays lazy)
    miss = F.raise_error(F.lit(
        "acid_read: a scanned file is missing from the manifest path "
        "lookup, so its deletes cannot be applied"))
    out = (
        out.join(F.broadcast(lut), "__abs", "left").drop("__abs")
        .where(F.when(F.col("__seq").isNull(), miss).otherwise(F.lit(True)))
    )
    if pdels:
        # one read for ALL pos-delete files (identical (__file, __pos)
        # schema by construction) — not one schema-inferring read each
        pd_df = spark.read.parquet(
            *sorted(os.path.join(data_root, d["path"]) for d in pdels)
        )
        pd_df = pd_df.select(
            F.col("__file").alias("__mpath"), F.col("__pos")
        ).distinct()
        out = out.join(pd_df, ["__mpath", "__pos"], "left_anti")
    if not keep_pos:
        out = out.drop("__mpath", "__pos")
    if not dels:
        return out.drop("__seq")
    # pin the key columns to the COMMITTED schema's types: a delete file
    # written before an additive type widening would otherwise anti-join
    # under its historic type and silently fail to suppress (or error)
    key_types = dict(
        spark.createDataFrame([], manifest["schema_ddl"]).dtypes
    ) if manifest.get("schema_ddl") else {}
    # one read per delete COMMIT seq (not per file): historic fragmented
    # deletes may hold many files per commit, and each bare
    # spark.read.parquet was a schema-inference job on the driver
    by_dseq: dict[int, list[str]] = {}
    for d in dels:
        by_dseq.setdefault(int(d["seq"]), []).append(
            os.path.join(data_root, d["path"]))
    ddf = None
    for seq in sorted(by_dseq):
        one = (
            spark.read.parquet(*sorted(by_dseq[seq]))
            .select(*[
                F.col(k).cast(key_types[k]).alias(k)
                if k in key_types else F.col(k)
                for k in key
            ])
            .withColumn("__dseq", F.lit(seq))
        )
        ddf = one if ddf is None else ddf.unionByName(one)
    dmax = ddf.groupBy(*key).agg(F.max("__dseq").alias("__dseq"))
    return (
        out.join(dmax, key, "left")
        .where(F.col("__dseq").isNull() | (F.col("__dseq") < F.col("__seq")))
        .drop("__dseq", "__seq")
    )


def _stamp_seq(entries: list[dict], version: int) -> None:
    """Record the commit version on new entries (re-stamped per optimistic
    retry — the seq that matters is the one that actually commits)."""
    for e in entries:
        e["seq"] = version


def _next_seq(base_v: int, base_files: list[dict]) -> int:
    """Sequence number for a commit on top of ``base_v``. Normally
    ``base_v + 1``, but shallow clones (acid_clone) and branch forks
    (acid_branch) inherit entries stamped with the SOURCE chain's seq
    numbers, which can exceed the new chain's own version counter — a
    new commit's seq must DOMINATE every inherited seq or the MoR
    equality-delete sequence rule breaks both ways: a clone-side
    delete-mor stamped below an inherited data seq silently fails to
    suppress it, and an inherited pending eq_delete stamped above a
    clone-side write wrongly suppresses the new rows (and is never
    spent by _live_deletes). Taking the max over the base manifest's
    files keeps relative order AMONG inherited entries intact while
    placing every new commit strictly after all of them."""
    top = max((int(e.get("seq", 0)) for e in base_files), default=0)
    return max(base_v, top) + 1


def acid_write(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    max_retries: int = 10,
    operation: str | None = None,
    branch: str = MAIN_BRANCH,
    on_violation: str = "reject",
) -> int:
    """Append or overwrite as ONE atomic commit; returns the new version.

    ``operation`` overrides the manifest's operation label (defaults to
    ``mode``) — incremental consumers ride their cursor on it so "apply"
    and "advance" are one atomic link (pipeline/incremental.py).

    ``append`` keeps every live file and adds the new ones; ``overwrite``
    replaces the whole table (old files stay on disk for time travel until
    vacuum). Blind writes never conflict semantically, so on a version race
    the commit simply rebases onto the new latest manifest and retries —
    data files are never rewritten.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    # constraints are authored against LOGICAL names — gate before the
    # physical translation below
    df = _validate_constraints(spark, df, table_root, on_violation)
    # COLUMN MAPPING: translate the incoming frame and column params to
    # physical space (identity on never-renamed tables). Overwrite RESETS
    # the mapping — the new frame's names become the physical truth.
    # Mapping reads the pre-loop latest manifest: rename DDL racing a
    # write follows the single-maintainer boundary (docs/acid.md).
    mapping: dict[str, str] = {}
    if mode != "overwrite":
        _mv = latest_version(table_root, branch)
        if _mv:
            from pyspark.sql.types import StructType

            _mbase = _load_manifest(table_root, _mv, branch)
            mapping = _assign_physical(
                df.columns, _mapping_of(_mbase), _retired_of(_mbase),
                [f.name for f in
                 StructType.fromDDL(_mbase["schema_ddl"]).fields],
            )
            df = _to_physical_frame(df, mapping)
            partition_by = _phys_cols(mapping, partition_by)
            stats_cols = _phys_cols(mapping, stats_cols)
            bloom_cols = _phys_cols(mapping, bloom_cols)
    new_entries = _write_data_files(
        spark, df, table_root, tuple(partition_by), tuple(stats_cols),
        bloom_cols=tuple(bloom_cols),
    )
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if mode == "overwrite" or base_v == 0:
            base_files: list[dict] = []
            schema_ddl = _schema_ddl(df)
            base = None
        else:
            base = _load_manifest(table_root, base_v, branch)
            base_files = base["files"]
            # append evolves the schema ADDITIVELY (mirrors acid_upsert's
            # unionByName rules): base columns the frame lacks stay
            # readable (null in the new files), type conflicts fail loudly
            schema_ddl = _merge_schema_ddl(base["schema_ddl"], df)
        _stamp_seq(new_entries, _next_seq(base_v, base_files))
        manifest = _new_manifest(
            base_v, operation or mode, base_files + new_entries,
            tuple(partition_by), schema_ddl, base=base,
        )
        if base is not None and mapping:
            manifest["column_mapping"] = mapping
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
    raise CommitConflict(
        f"{mode} on {table_root}: lost the manifest race {max_retries} times"
    )


def acid_upsert(
    spark: SparkSession,
    df_new: DataFrame,
    table_root: str,
    key: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
    on_violation: str = "reject",
) -> int:
    """MERGE: upsert ``df_new`` by ``key`` (new rows win over existing, last
    new row wins within a duplicate key) as ONE atomic commit spanning every
    touched partition. Returns the new version.

    Only the partitions present in ``df_new`` are read or rewritten — the
    merge unions the touched partitions' live files with the new rows and
    keep-last dedupes, exactly writer.py's shape, but the swap is a single
    manifest commit instead of per-partition directory overwrites: readers
    can never observe a half-applied multi-partition upsert.

    Concurrency: optimistic. If another commit lands between our snapshot
    read and our manifest link, the merge re-runs against the new latest
    snapshot (keyed keep-last is re-runnable), so concurrent upserts to the
    SAME partition serialize correctly instead of silently losing updates.
    """
    from ..operators.dedup import dedupe_keep

    partition_by = tuple(partition_by)
    key = tuple(key)
    prio = "__acid_upsert_priority"
    # the NEW rows are gated (Delta's contract — existing rows were
    # gated by their own writes); merged rewrites of old rows can't
    # introduce violations
    df_new = _validate_constraints(spark, df_new, table_root, on_violation)
    # COLUMN MAPPING: the merge runs entirely in PHYSICAL space (the
    # snapshot read is physical; the frame and column params translate
    # here; acid_read projects back to logical)
    mapping: dict[str, str] = {}
    _mv = latest_version(table_root, branch)
    if _mv:
        from pyspark.sql.types import StructType

        _mbase = _load_manifest(table_root, _mv, branch)
        mapping = _assign_physical(
            df_new.columns, _mapping_of(_mbase), _retired_of(_mbase),
            [f.name for f in
             StructType.fromDDL(_mbase["schema_ddl"]).fields],
        )
        df_new = _to_physical_frame(df_new, mapping)
        key = _phys_cols(mapping, key)
        partition_by = _phys_cols(mapping, partition_by)
        stats_cols = _phys_cols(mapping, stats_cols)
        bloom_cols = _phys_cols(mapping, bloom_cols)
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if partition_by:
            # Spark cast-to-string — the SAME encoding the manifest stores
            # (Python str() disagrees on booleans: 'True' vs 'true') —
            # with null kept as None, the manifest's JSON-null form;
            # '' folds to None because Spark's partition writer does
            # (see _part_str)
            touched = {
                tuple(None if r[c] == "" else r[c] for c in partition_by)
                for r in df_new.select(
                    *[F.col(c).cast("string").alias(c) for c in partition_by]
                ).distinct().collect()
            }  # bounded: one row per touched PARTITION
        else:
            touched = None

        if base_v == 0:
            merged = dedupe_keep(df_new, list(key), order=None, keep="last")
            keep_files: list[dict] = []
        else:
            base = _load_manifest(table_root, base_v, branch)
            base_data = _data_entries(base["files"])
            base_dels = _delete_entries(base["files"])
            base_pdels = _pos_entries(base["files"])
            if touched is None:
                replaced = base_data
                keep_files = []
            else:
                replaced = [
                    e for e in base_data
                    # a file from an OLDER partition spec (missing any of
                    # the upsert's partition columns) can't be proven
                    # untouched by partition values — include it (it gets
                    # merged and rewritten under the current spec, which
                    # is also how old-spec files migrate forward)
                    if any(c not in e["partition"] for c in partition_by)
                    or tuple(
                        e["partition"].get(c) for c in partition_by
                    ) in touched
                ]
                replaced_paths = {e["path"] for e in replaced}
                keep_files = [
                    e for e in base_data
                    if e["path"] not in replaced_paths
                ]
            if replaced:
                data_root = _data_root(table_root)
                # snapshot read (not raw): merge-on-read-deleted keys in
                # the replaced files must not resurrect through the
                # rewrite at the new seq
                existing = _snapshot_df(
                    spark, data_root, base, entries=replaced
                )
                # additive schema evolution: columns only one side has are
                # null-filled on the other (same-name type conflicts fail
                # loudly in the union); the commit records the WIDENED
                # schema, and acid_read pins it so untouched partitions'
                # old files read the new columns as null
                merged = (
                    existing.withColumn(prio, F.lit(0))
                    .unionByName(
                        df_new.withColumn(prio, F.lit(1)),
                        allowMissingColumns=True,
                    )
                )
                merged = dedupe_keep(
                    merged, list(key), order=[prio], keep="last"
                ).drop(prio)
            else:
                merged = dedupe_keep(
                    df_new, list(key), order=None, keep="last"
                )

        # forward-carry: rewritten files keep the bloom index the base
        # manifest recorded even when the caller doesn't re-state it
        bloom_eff = tuple(sorted(
            set(bloom_cols)
            | set(_bloom_cols_of(base["files"]) if base_v else ())
        ))
        new_entries = _write_data_files(
            spark, merged, table_root, partition_by, tuple(stats_cols),
            bloom_cols=bloom_eff,
        )
        _stamp_seq(new_entries, _next_seq(
            base_v, base["files"] if base_v else []))
        dels = (_live_deletes(keep_files, base_dels)
                + _live_pos_deletes(keep_files, base_pdels)) \
            if base_v else []
        manifest = _new_manifest(
            base_v, "upsert", keep_files + dels + new_entries, partition_by,
            _schema_ddl(merged), base=base if base_v else None,
        )
        if base_v and mapping:
            manifest["column_mapping"] = mapping
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
        # lost the race: drop our just-written files (they were never
        # visible) and re-merge against the new latest snapshot
        _remove_entries(table_root, new_entries)
    raise CommitConflict(
        f"upsert on {table_root}: lost the manifest race {max_retries} times"
    )


def acid_compact(
    spark: SparkSession,
    table_root: str,
    target_mb: int = 128,
    max_retries: int = 10,
    zorder_cols: tuple[str, str] | None = None,
    sort_col: str | None = None,
    purge_deletes: bool = False,
) -> int | None:
    """OPTIMIZE: rewrite over-fragmented partitions to ~``target_mb`` files
    and commit the rewrite as one snapshot. Returns the new version, or
    None when nothing needed compacting.

    ``purge_deletes=True`` additionally rewrites every partition holding a
    file still reachable by a live equality-delete entry (seq <= delete
    seq), even when its file sizes wouldn't trigger compaction — the mode
    an erasure pipeline needs: suppressed rows are PHYSICALLY gone from
    the new snapshot's data files, and the spent delete entries drop from
    the manifest. Historic snapshots still reach the rows until
    ``acid_vacuum`` removes their files.

    ``zorder_cols=(a, b)`` additionally CLUSTERS each rewritten partition
    on the Morton key of the two columns (OPTIMIZE ZORDER BY — range-
    partition + sort, same kernel as writer.compact_partitions), and
    ``sort_col`` single-column clusters; both record min/max stats for
    every previously-stats'd column PLUS the clustering columns on the new
    entries, so the rewrite that fixes the file-count problem also buys
    manifest-level stats skipping on the clustered columns. Clustering
    applies only to partitions the fragmentation trigger rewrites.

    Unlike writer.compact_partitions (which renames directories under live
    readers and therefore demands exclusive ownership of the lake), this
    compaction is INVISIBLE to concurrent readers and writers: old files
    stay until vacuum, readers keep their snapshot, and a concurrent
    upsert that wins the version race simply makes this compaction retry
    against the new snapshot. Data content is unchanged — row counts are
    verified per partition before the manifest commits. A compaction
    rewrite also MIGRATES old-partition-spec files to the current spec
    (per-spec read groups make the mixed input readable).
    """
    cluster = tuple(zorder_cols or ((sort_col,) if sort_col else ()))
    for _ in range(max_retries):
        base_v = latest_version(table_root)
        if base_v == 0:
            return None
        base = _load_manifest(table_root, base_v)
        base_dels = _delete_entries(base["files"])
        base_pdels = _pos_entries(base["files"])
        live_pdels = _live_pos_deletes(_data_entries(base["files"]),
                                       base_pdels)
        by_part: dict[tuple, list[dict]] = {}
        for e in _data_entries(base["files"]):
            pkey = tuple(sorted(e.get("partition", {}).items()))
            by_part.setdefault(pkey, []).append(e)
        target = target_mb * 1024 * 1024
        todo = {
            pkey: es for pkey, es in by_part.items()
            if len(es) > 1 and len(es) > max(
                1, -(-sum(e.get("bytes", 0) for e in es) // target)
            )
        }
        if purge_deletes and base_dels:
            pby = tuple(base.get("partition_by", ()))
            dkey = list(base_dels[0]["key"])
            hit_parts = None
            if pby and all(c in dkey for c in pby):
                # delete files are O(|requests|)-small by contract: read
                # their key tuples once and target only the partitions
                # that can hold a suppressed row (same string encoding as
                # acid_upsert's touched-partition set)
                droot = _data_root(table_root)
                # one read for all delete files (one shared key tuple is
                # enforced, so the schemas agree)
                ddf = spark.read.parquet(*sorted(
                    os.path.join(droot, d["path"]) for d in base_dels
                ))
                hit_parts = {
                    tuple(None if r[c] == "" else r[c] for c in pby)
                    for r in ddf.select(
                        *[F.col(c).cast("string").alias(c) for c in pby]
                    ).distinct().collect()
                }
            reach = max(int(d["seq"]) for d in base_dels)
            for pkey, es in by_part.items():
                if pkey in todo:
                    continue
                if hit_parts is not None:
                    pdict = dict(pkey)
                    if tuple(pdict.get(c) for c in pby) not in hit_parts:
                        continue
                if any(int(e.get("seq", 0)) <= reach for e in es):
                    todo[pkey] = es
        if purge_deletes and live_pdels:
            # positional deletes are path-addressed: rewrite exactly the
            # partitions holding a TARGETED file (no seq reach needed)
            targeted = {t for d in live_pdels for t in d.get("targets", ())}
            for pkey, es in by_part.items():
                if pkey in todo:
                    continue
                if any(e["path"] in targeted for e in es):
                    todo[pkey] = es
        if not todo:
            if purge_deletes and (base_dels or base_pdels):
                # nothing to rewrite, but the delete entries reach no
                # file (all superseded by later re-inserts): they're
                # spent — commit a manifest that drops them so readers
                # stop paying the anti-join
                manifest = _new_manifest(
                    base_v, "compact", _data_entries(base["files"]),
                    tuple(base.get("partition_by", ())),
                    base["schema_ddl"], base=base,
                )
                if _commit_manifest(table_root, base_v + 1, manifest):
                    return base_v + 1
                continue
            return None
        data_root = _data_root(table_root)
        keep = [e for pkey, es in by_part.items() if pkey not in todo
                for e in es]
        new_entries: list[dict] = []
        partition_by = tuple(base.get("partition_by", ()))
        stats_cols = tuple(sorted(
            {k[4:] for e in base["files"] for k in e if k.startswith("min_")}
            | set(cluster)
        ))
        def _rewrite_partition(item):
            pkey, es = item
            want = max(1, -(-sum(e.get("bytes", 0) for e in es) // target))
            # snapshot read: a compaction rewrite PURGES merge-on-read
            # deletes for the rows it rewrites (they re-land at the new
            # seq, above every delete) — so the read must apply them
            part_df = _snapshot_df(spark, data_root, base, entries=es)
            expected = (part_df.count() if (base_dels or live_pdels)
                        else sum(e["rows"] for e in es))
            if cluster and all(c in part_df.columns for c in cluster):
                if zorder_cols:
                    from .layout import zorder_key

                    key = zorder_key(*zorder_cols)
                else:
                    key = F.col(sort_col)
                part_df = (
                    part_df.withColumn("__cluster", key)
                    .repartitionByRange(want, "__cluster")
                    .sortWithinPartitions("__cluster")
                    .drop("__cluster")
                )
            else:
                part_df = part_df.coalesce(want)
            wrote = _write_data_files(
                spark, part_df, table_root, partition_by, stats_cols,
                bloom_cols=_bloom_cols_of(base["files"]),
            )
            return pkey, wrote, expected

        # per-partition rewrites are INDEPENDENT until the single manifest
        # commit, and each is a short chain of small driver-blocking jobs
        # (snapshot read, count, write, stats collect) — overlap a few so
        # the next partition's jobs back-fill the tail of the current
        # one's (guide §2.6); staging dirs/filenames are commit-unique per
        # _write_data_files call, so the rewrites never collide
        from concurrent.futures import ThreadPoolExecutor

        workers = min(4, max(1, len(todo)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(_rewrite_partition, todo.items()))
        for pkey, wrote, expected in results:
            if sum(w["rows"] for w in wrote) != expected:
                _remove_entries(
                    table_root,
                    [w for _, ws, _ in results for w in ws],
                )
                raise RuntimeError(
                    f"compaction row-count mismatch in {dict(pkey)} of "
                    f"{table_root} — aborted, nothing committed"
                )
            new_entries.extend(wrote)
        _stamp_seq(new_entries, _next_seq(base_v, base["files"]))
        # purge mode spends EVERY delete entry by construction: each
        # partition a delete could still suppress rows in was rewritten
        # above (key-targeted when the partition columns are part of the
        # delete key; seq-reachable otherwise), so kept files are either
        # newer than every delete or provably key-disjoint from them —
        # the seq-only _live_deletes test can't see the second case
        dels_after = [] if (purge_deletes and (base_dels or base_pdels)) \
            else (_live_deletes(keep, base_dels)
                  + _live_pos_deletes(keep, base_pdels))
        manifest = _new_manifest(
            base_v, "compact",
            keep + dels_after + new_entries,
            partition_by, base["schema_ddl"], base=base,
        )
        if _commit_manifest(table_root, base_v + 1, manifest):
            return base_v + 1
        _remove_entries(table_root, new_entries)
    raise CommitConflict(
        f"compact on {table_root}: lost the manifest race {max_retries} times"
    )


def acid_changes(
    spark: SparkSession,
    table_root: str,
    from_version: int,
    to_version: int | None = None,
    key: tuple[str, ...] = (),
) -> DataFrame:
    """Change data feed between two snapshots: every row that was inserted,
    updated, or deleted going from ``from_version`` to ``to_version``
    (latest by default), tagged with a ``_change_type`` column
    ('insert' | 'update_preimage' | 'update_postimage' | 'delete' — the
    Delta CDF vocabulary; updates emit BOTH images, which is what lets an
    incremental aggregate subtract the old contribution and add the new
    one even when the grouping value itself changed). ``key``
    distinguishes updates from insert+delete pairs and assumes snapshots
    are key-unique (what acid_upsert maintains); with no key, changes are
    row-level (any differing row shows as delete + insert).

    Scale shape — the reason this lives at the manifest layer instead of
    `new EXCEPT old`: data files are immutable, so any file listed in BOTH
    manifests contributed identical rows to both snapshots and cancels out
    of the diff BEFORE Spark reads anything. Only files added or removed
    between the versions are scanned — an incremental pipeline consuming
    the feed pays for the churn, not the table. The remaining diff is one
    full-outer keyed join (or a two-sided EXCEPT ALL without a key).
    """
    to_version = (
        latest_version(table_root) if to_version is None else to_version
    )
    m_old = _load_manifest(table_root, from_version)
    m_new = _load_manifest(table_root, to_version)
    # COLUMN MAPPING: diff in physical space; key arrives logical, and
    # the feed projects to the END version's logical view at the end
    key = _phys_cols(_mapping_of(m_new), key)
    old_paths = {e["path"] for e in m_old["files"]}
    new_paths = {e["path"] for e in m_new["files"]}
    data_root = _data_root(table_root)

    def _read(m, paths):
        if not paths:
            return spark.createDataFrame([], m["schema_ddl"])
        entries = [e for e in m["files"] if e["path"] in paths]
        # per-spec grouping: the churn may straddle a partition-spec
        # evolution boundary (same reason as acid_read)
        return _read_entries(spark, data_root, entries, m["schema_ddl"])

    if (_delete_entries(m_old["files"]) or _delete_entries(m_new["files"])
            or _pos_entries(m_old["files"])
            or _pos_entries(m_new["files"])):
        # merge-on-read deletes change ROW SETS without touching data
        # files, so file-level cancellation is unsound while any are
        # pending: diff the full snapshots instead (MoR trades CDF
        # incrementality until a compaction purges the delete files —
        # the same trade Iceberg v2 makes)
        removed = _snapshot_df(spark, data_root, m_old)
        added = _snapshot_df(spark, data_root, m_new)
    else:
        removed = _read(m_old, old_paths - new_paths)
        added = _read(m_new, new_paths - old_paths)
    # schema evolution: align on the NEW schema; columns the old snapshot
    # lacked read as null on the removed side
    for c in [c for c in added.columns if c not in removed.columns]:
        removed = removed.withColumn(
            c, F.lit(None).cast(dict(added.dtypes)[c])
        )
    removed = removed.select(*added.columns)

    if not key:
        ins = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        dele = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        return _project_logical(ins.unionByName(dele), m_new)

    key = list(key)
    vals = [c for c in added.columns if c not in key]
    o = removed.select(
        *key, F.struct(*vals).alias("__old") if vals else F.lit(0).alias("__old")
    )
    n = added.select(
        *key, F.struct(*vals).alias("__new") if vals else F.lit(0).alias("__new")
    )
    j = o.join(n, key, "full_outer")
    pair = lambda row, typ: F.struct(  # noqa: E731
        F.col(row).alias("r"), F.lit(typ).alias("t")
    )
    # one pass: each joined key explodes to 0 rows (carried along
    # unchanged by a partition rewrite), 1 row (insert/delete), or 2 rows
    # (both update images)
    arr = (
        F.when(F.col("__old").isNull(), F.array(pair("__new", "insert")))
        .when(F.col("__new").isNull(), F.array(pair("__old", "delete")))
        .when(
            F.col("__old") != F.col("__new"),
            F.array(pair("__old", "update_preimage"),
                    pair("__new", "update_postimage")),
        )
        # typed empty array: slice a 1-element array to length 0
        .otherwise(F.slice(F.array(pair("__old", "carried")), 1, 0))
    )
    out = j.select(*key, F.explode(arr).alias("__c"))
    if vals:
        out = out.select(
            *key, *[F.col("__c.r")[c].alias(c) for c in vals],
            F.col("__c.t").alias("_change_type"),
        )
    else:
        out = out.select(*key, F.col("__c.t").alias("_change_type"))
    return _project_logical(out, m_new)


def acid_history(table_root: str, branch: str = MAIN_BRANCH) -> list[dict]:
    """Commit log, oldest first: version, parent, operation, wall time,
    file and row counts."""
    out = []
    for v in list_versions(table_root, branch):
        m = _load_manifest(table_root, v, branch)
        out.append({
            "version": v,
            "parent": m["parent"],
            "operation": m["operation"],
            "ts": m["ts"],
            "n_files": len(m["files"]),
            "n_rows": sum(e["rows"] for e in m["files"]),
        })
    return out


def acid_snapshots(
    spark: SparkSession, table_root: str, branch: str = MAIN_BRANCH,
) -> DataFrame:
    """The commit log as a queryable DataFrame — the Iceberg
    `table$snapshots` / Delta `DESCRIBE HISTORY` metadata-table analogue,
    so lineage questions (which commit added the rows? how fast is the
    table growing?) are answered with the same query surface as data.
    Columns: version, parent, operation, ts (unix seconds), n_files,
    n_rows. Manifest-only: no data file is opened; the frame is
    |versions| rows."""
    rows = acid_history(table_root, branch)
    schema = ("version int, parent int, operation string, ts double, "
              "n_files int, n_rows bigint")
    return spark.createDataFrame(
        [(r["version"], r["parent"], r["operation"], float(r["ts"]),
          r["n_files"], r["n_rows"]) for r in rows],
        schema,
    )


def acid_file_metadata(
    spark: SparkSession,
    table_root: str,
    version: int | None = None,
    branch: str = MAIN_BRANCH,
) -> DataFrame:
    """One snapshot's manifest entries as a DataFrame — the `table$files`
    analogue: per data file its relative path, partition values (as a
    map), row count, byte size, and recorded column stats (min_/max_ as
    a map of strings). Manifest-only; |files| rows. The inspection
    surface for OPTIMIZE policy (small-file histograms), skew analysis,
    and skipping-efficiency audits."""
    v = latest_version(table_root, branch) if version is None else version
    m = _load_manifest(table_root, v, branch)
    rows = []
    for e in m["files"]:
        stats = {k: v2 for k, v2 in e.items()
                 if k.startswith(("min_", "max_")) and v2 is not None}
        rows.append((
            e["path"],
            {k: v2 for k, v2 in e.get("partition", {}).items()},
            e["rows"], e.get("bytes", 0), stats,
            e.get("kind", "data"),
        ))
    schema = ("path string, partition map<string,string>, rows bigint, "
              "bytes bigint, stats map<string,string>, kind string")
    return spark.createDataFrame(rows, schema)



def acid_rollback(table_root: str, version: int) -> int:
    """Restore the table to ``version`` by committing a NEW manifest with
    that version's file list — history is append-only, the bad commits stay
    inspectable, and readers of intermediate versions are unaffected."""
    target = _load_manifest(table_root, version)
    for _ in range(10):
        base_v = latest_version(table_root)
        manifest = _new_manifest(
            base_v, f"rollback({version})", target["files"],
            tuple(target.get("partition_by", ())), target["schema_ddl"],
            base=target,
        )
        if _commit_manifest(table_root, base_v + 1, manifest):
            return base_v + 1
    raise CommitConflict(f"rollback on {table_root}: lost the manifest race")


def _refs_dir(table_root: str) -> str:
    return os.path.join(_acid_root(table_root), "refs")


def _ref_path(table_root: str, name: str) -> str:
    if not name or any(c in name for c in "/\\. \t\n"):
        raise ValueError(f"invalid ref name {name!r}")
    return os.path.join(_refs_dir(table_root), f"{name}.json")


def acid_tag(
    table_root: str, name: str, version: int | None = None,
    replace: bool = False,
) -> int:
    """Create a named immutable ref to a snapshot (Iceberg tag / Delta
    named-version semantics). Defaults to the latest version. Tags are
    published with the manifest's own atomic-link pattern: a second
    ``acid_tag`` of the same name fails loudly unless ``replace=True``
    (which swaps the ref via os.replace — atomic, never torn).
    ``acid_vacuum`` keeps every tagged snapshot's manifest and files
    regardless of its retention window, so a tag is a retention pin."""
    v = latest_version(table_root) if version is None else version
    if not os.path.exists(_manifest_path(table_root, v)):
        raise FileNotFoundError(f"no manifest v{v} in {table_root}")
    rdir = _refs_dir(table_root)
    os.makedirs(rdir, exist_ok=True)
    tmp = os.path.join(rdir, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump({"name": name, "version": v, "ts": time.time()}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        if replace:
            os.replace(tmp, _ref_path(table_root, name))
            return v
        try:
            os.link(tmp, _ref_path(table_root, name))
        except FileExistsError:
            raise FileExistsError(
                f"tag {name!r} already exists on {table_root} "
                "(pass replace=True to move it)"
            ) from None
        return v
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def acid_tags(table_root: str) -> dict[str, int]:
    """All named refs as {name: version}."""
    rdir = _refs_dir(table_root)
    if not os.path.isdir(rdir):
        return {}
    out = {}
    for f in sorted(os.listdir(rdir)):
        if f.endswith(".json") and not f.startswith("."):
            with open(os.path.join(rdir, f)) as fh:
                r = json.load(fh)
            out[r["name"]] = r["version"]
    return out


def resolve_tag(table_root: str, name: str) -> int:
    p = _ref_path(table_root, name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no tag {name!r} on {table_root}")
    with open(p) as fh:
        return json.load(fh)["version"]


def acid_untag(table_root: str, name: str) -> None:
    os.unlink(_ref_path(table_root, name))


def version_as_of(table_root: str, ts: float) -> int:
    """The newest version whose manifest commit time is <= ``ts`` (the
    Delta `timestampAsOf` resolution rule). Raises if the table's first
    commit is later than ``ts``. Commit times are the writer's clock at
    manifest build — monotone per table under the linear version chain."""
    best = None
    for v in list_versions(table_root):
        if _load_manifest(table_root, v)["ts"] <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"{table_root} has no snapshot at or before ts={ts}"
        )
    return best


def acid_branch(
    table_root: str, name: str, version: int | None = None,
) -> int:
    """Create WRITABLE branch ``name`` forked from main at ``version``
    (latest by default) — Iceberg branch semantics re-derived for the
    manifest-snapshot layout. The fork commits the forked snapshot's file
    list as the branch chain's v1 (op ``fork(main@v)``): data files are
    immutable and shared across chains, so creation is metadata-only
    (zero data copied), and subsequent ``acid_write/upsert/delete(...,
    branch=name)`` extend the branch without main ever observing them.
    Creation is atomic (the v1 manifest link) and fails loudly if the
    branch already exists. Returns the branch's first version (1)."""
    _check_branch_name(name)
    if name == MAIN_BRANCH:
        raise ValueError("'main' is the implicit trunk — fork another name")
    v = latest_version(table_root) if version is None else version
    src = _load_manifest(table_root, v)  # raises if main@v doesn't exist
    if latest_version(table_root, name) > 0:
        raise FileExistsError(f"branch {name!r} already exists on {table_root}")
    manifest = _new_manifest(
        0, f"fork(main@{v})", src["files"],
        tuple(src.get("partition_by", ())), src["schema_ddl"], base=src,
    )
    manifest["forked_from"] = v
    if not _commit_manifest(table_root, 1, manifest, branch=name):
        raise FileExistsError(f"branch {name!r} already exists on {table_root}")
    return 1


def acid_branches(table_root: str) -> list[str]:
    """All branch names with at least one committed manifest."""
    bdir = os.path.join(_acid_root(table_root), "branches")
    if not os.path.isdir(bdir):
        return []
    return sorted(
        d for d in os.listdir(bdir)
        if not d.startswith(".") and latest_version(table_root, d) > 0
    )


def acid_drop_branch(table_root: str, name: str) -> None:
    """Delete a branch's manifest chain (its exclusive data files become
    unreachable and the next vacuum reclaims them; shared files stay live
    through main's manifests)."""
    _check_branch_name(name)
    if name == MAIN_BRANCH:
        raise ValueError("cannot drop the main trunk")
    chain = os.path.dirname(_manifest_dir(table_root, name))
    if not os.path.isdir(chain):
        raise FileNotFoundError(f"no branch {name!r} on {table_root}")
    shutil.rmtree(chain)


def acid_merge_branch(
    table_root: str, name: str, max_retries: int = 10,
) -> int:
    """Fast-forward main to the branch head: commit the branch's latest
    file list + schema as a new MAIN manifest (op ``merge(<name>)``) —
    the same publish-a-file-list shape as acid_rollback, so the merge is
    one atomic link and every main reader flips from old to new in one
    step. The branch itself is untouched (drop it separately once
    merged). Returns the new main version.

    This is snapshot-level fast-forward (Iceberg's fastForwardBranch),
    not a row-level three-way merge: if main advanced past the fork
    point, its interim commits are superseded by the branch's snapshot —
    callers that need conflict detection compare acid_history first."""
    head = latest_version(table_root, name)
    if head == 0:
        raise FileNotFoundError(f"no branch {name!r} on {table_root}")
    m = _load_manifest(table_root, head, name)
    for _ in range(max_retries):
        base_v = latest_version(table_root)
        manifest = _new_manifest(
            base_v, f"merge({name})", m["files"],
            tuple(m.get("partition_by", ())), m["schema_ddl"], base=m,
        )
        if _commit_manifest(table_root, base_v + 1, manifest):
            return base_v + 1
    raise CommitConflict(
        f"merge of {name!r} on {table_root}: lost the manifest race"
    )


def acid_vacuum(table_root: str, keep_versions: int = 1) -> list[str]:
    """Delete data files unreachable from the ``keep_versions`` most recent
    snapshots, plus crashed-commit staging dirs; expire the manifests older
    than the kept window. Returns the deleted file paths.

    Time travel reaches only the kept window afterwards. Run it like
    compact_partitions: from a maintenance job, with no concurrent writer
    mid-commit older than the window (a writer's files become reachable
    only at manifest link time — vacuum between a loser's write and its
    retry is safe because the retry rewrites).

    Tag pins are re-checked AFTER the delete set is computed (the same
    optimistic pattern the commit paths use): a tag created concurrently
    while the live set was being built would otherwise end up dangling —
    resolve_tag pointing at a deleted manifest. The recompute loop retries
    until two consecutive tag listings agree; taggers that race past the
    final listing are outside any local-FS vacuum's atomicity and are the
    documented single-maintainer boundary."""
    keep_versions = max(1, keep_versions)
    versions = list_versions(table_root)
    if not versions:
        return []
    base = set(versions[-keep_versions:])
    # tagged snapshots are retention pins (Iceberg expire_snapshots keeps
    # refs): their manifests and files survive any window
    pinned = {v for v in acid_tags(table_root).values() if v in versions}
    for _ in range(10):
        window = base | pinned
        # optimistic re-list: if a NEW pin appeared on a version we were
        # about to expire, fold it in and recompute rather than delete
        now_pinned = {
            v for v in acid_tags(table_root).values() if v in versions
        }
        if now_pinned <= window:
            pinned |= now_pinned
            window = base | pinned
            break
        pinned |= now_pinned
    else:
        raise CommitConflict(
            f"vacuum on {table_root}: tag listings kept changing"
        )
    kept = sorted(window)
    live = set()
    for v in kept:
        for e in _load_manifest(table_root, v)["files"]:
            live.add(e["path"])
    # every BRANCH chain is a retention pin too: all of a live branch's
    # manifests stay resolvable (branch time travel), so all their files
    # are live — dropping the branch is what releases them
    for b in acid_branches(table_root):
        for bv in list_versions(table_root, b):
            for e in _load_manifest(table_root, bv, b)["files"]:
                live.add(e["path"])
    data_root = _data_root(table_root)
    removed = []
    for dirpath, _subdirs, files in os.walk(data_root):
        for f in files:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, data_root)
            if rel not in live:
                os.unlink(full)
                removed.append(rel)
    # prune now-empty partition dirs and crashed staging dirs
    for dirpath, subdirs, files in list(os.walk(data_root, topdown=False)):
        if not subdirs and not files and dirpath != data_root:
            os.rmdir(dirpath)
    acid = _acid_root(table_root)
    for d in os.listdir(acid):
        if d.startswith("stage-"):
            shutil.rmtree(os.path.join(acid, d), ignore_errors=True)
    for v in versions:
        if v not in window:
            os.unlink(_manifest_path(table_root, v))
    return removed


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _merge_schema_ddl(base_ddl: str, df: DataFrame) -> str:
    """Base-manifest schema ∪ incoming schema, additive-only — the SAME
    evolution rule acid_upsert's unionByName enforces. Columns only the
    base has stay (the new files simply lack them → read as null under
    the pinned schema); columns only the incoming frame has are appended;
    a same-name TYPE conflict fails loudly instead of silently retyping
    every historic file's column."""
    from pyspark.sql.types import StructType

    base_fields = StructType.fromDDL(base_ddl).fields
    base_types = {f.name: f.dataType.simpleString() for f in base_fields}
    parts = [f"{f.name} {base_types[f.name]}" for f in base_fields]
    for f in df.schema.fields:
        new_t = f.dataType.simpleString()
        have = base_types.get(f.name)
        if have is None:
            parts.append(f"{f.name} {new_t}")
        elif have != new_t:
            raise TypeError(
                f"append schema conflict on column {f.name!r}: table has "
                f"{have}, incoming frame has {new_t} — retyping an ACID "
                f"table's column requires an explicit overwrite"
            )
    return ", ".join(parts)


def _new_manifest(parent: int, operation: str, files: list[dict],
                  partition_by: tuple[str, ...], schema_ddl: str,
                  base: dict | None = None) -> dict:
    m = {
        "parent": parent,
        "operation": operation,
        "ts": time.time(),
        "partition_by": list(partition_by),
        "schema_ddl": schema_ddl,
        "files": files,
        "committed": True,
    }
    # COLUMN-MAPPING metadata is chain state, not commit state: every
    # commit built on a base manifest must carry it forward or a single
    # append would silently undo a rename (lost logical names) — the
    # same forward-carry rule bloom columns follow
    if base:
        if base.get("column_mapping"):
            m["column_mapping"] = dict(base["column_mapping"])
        if base.get("retired_columns"):
            m["retired_columns"] = list(base["retired_columns"])
    return m


# ---------------------------------------------------------------------------
# Column mapping: rename / drop WITHOUT rewriting data files (the Delta
# `columnMapping` / Iceberg field-id feature, name-based variant).
#
# Invariant: everything INSIDE the ACID layer — data files, delete files,
# partition directories, manifest schema_ddl, stats/bloom keys — lives in
# PHYSICAL column names, which never change once assigned. Logical names
# exist only at the public API boundary:
#   - readers get a final projection physical→logical (renames applied,
#     retired columns hidden);
#   - writers' frames and column parameters translate logical→physical
#     before anything is staged.
# A re-added column after a drop gets a FRESH physical name, so the old
# (retired) column's bytes can never resurrect under the new name — the
# correctness property name-based mappings classically get wrong.
#
# DDL concurrency: rename/drop are read-modify-write on chain metadata and
# follow the same single-maintainer boundary as constraint DDL and vacuum
# (docs/acid.md) — writers racing a rename retry on version conflict as
# usual, but two concurrent renames may lose one update.
# ---------------------------------------------------------------------------


def _mapping_of(m: dict) -> dict[str, str]:
    """logical -> physical (sparse: identity entries are omitted)."""
    return dict(m.get("column_mapping") or {})


def _retired_of(m: dict) -> list[str]:
    return list(m.get("retired_columns") or [])


def _phys_cols(mapping: dict[str, str], cols) -> tuple[str, ...]:
    return tuple(mapping.get(c, c) for c in cols)


def _phys_filter(mapping: dict[str, str], flt: dict | None) -> dict | None:
    return {mapping.get(k, k): v for k, v in flt.items()} if flt else flt


def _to_physical_frame(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    if not mapping or not any(c in mapping for c in df.columns):
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def _project_logical(df: DataFrame, m: dict) -> DataFrame:
    """Final reader projection: physical names -> logical, retired columns
    dropped. A no-op (same DataFrame) on tables that never renamed."""
    mapping, retired = _mapping_of(m), set(_retired_of(m))
    if not mapping and not retired:
        return df
    inv = {p: l for l, p in mapping.items()}
    keep = [c for c in df.columns if c not in retired]
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in keep])


def _logical_columns(m: dict) -> list[str]:
    from pyspark.sql.types import StructType

    mapping, retired = _mapping_of(m), set(_retired_of(m))
    inv = {p: l for l, p in mapping.items()}
    return [
        inv.get(f.name, f.name)
        for f in StructType.fromDDL(m["schema_ddl"]).fields
        if f.name not in retired
    ]


def _assign_physical(df_cols, mapping: dict[str, str], retired,
                     schema_cols) -> dict[str, str]:
    """Extend ``mapping`` with fresh physical names for NEW logical columns
    whose natural name is already taken in physical space — by a retired
    column (re-add after drop must NOT resurrect old bytes) or by the
    physical of a renamed column (the old logical name reused as a new
    column). Existing identity columns keep their name."""
    mapped_physicals = set(mapping.values())
    used = set(schema_cols) | set(retired) | mapped_physicals
    out = dict(mapping)
    for c in df_cols:
        if c in out:
            continue
        if c in retired or c in mapped_physicals:
            i = 2
            cand = f"{c}__p{i}"
            while cand in used:
                i += 1
                cand = f"{c}__p{i}"
            out[c] = cand
            used.add(cand)
    return out


def _require_identity_mapping(m: dict, op: str) -> None:
    if _mapping_of(m) or _retired_of(m):
        raise NotImplementedError(
            f"{op} on a table with renamed/dropped columns is not "
            "supported yet — compact/rewrite the table to materialize "
            "the logical schema first (write/upsert/read/changes/delete_mor "
            "do support column mapping)"
        )


def acid_column_mapping(table_root: str,
                        branch: str = MAIN_BRANCH) -> dict[str, str]:
    """Current logical->physical column mapping (empty = identity)."""
    v = latest_version(table_root, branch)
    return _mapping_of(_load_manifest(table_root, v, branch)) if v else {}


def acid_rename_column(spark: SparkSession, table_root: str,
                       old: str, new: str, branch: str = MAIN_BRANCH,
                       max_retries: int = 10) -> int:
    """Rename a column as ONE metadata-only commit — no data file is read
    or rewritten (verify: the manifest's file list is byte-identical).
    Readers of the new version see ``new``; time travel to older versions
    still sees ``old``. Works on partition columns too (directories keep
    the physical name; only the API surface changes)."""
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            raise FileNotFoundError(
                f"ACID table {table_root} has no commits")
        base = _load_manifest(table_root, base_v, branch)
        logical = _logical_columns(base)
        if old not in logical:
            raise KeyError(f"no such column: {old!r} (have {logical})")
        if new in logical:
            raise ValueError(f"column {new!r} already exists")
        mapping = _mapping_of(base)
        phys = mapping.pop(old, old)
        if phys != new:
            mapping[new] = phys
        manifest = _new_manifest(
            base_v, f"rename_column({old}->{new})", base["files"],
            tuple(base.get("partition_by", ())), base["schema_ddl"],
            base=base,
        )
        manifest["column_mapping"] = mapping
        if not mapping:
            manifest.pop("column_mapping")
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
    raise CommitConflict(
        f"rename_column on {table_root}: lost the manifest race "
        f"{max_retries} times"
    )


def acid_drop_column(spark: SparkSession, table_root: str, name: str,
                     branch: str = MAIN_BRANCH,
                     max_retries: int = 10) -> int:
    """Drop a column as ONE metadata-only commit: the physical column is
    RETIRED — hidden from reads, its name never reassigned (a later
    re-add gets a fresh physical name, so the old bytes cannot
    resurrect). Data files are untouched; time travel still sees the
    column. Partition columns cannot be dropped (their physical identity
    routes upserts and pruning)."""
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            raise FileNotFoundError(
                f"ACID table {table_root} has no commits")
        base = _load_manifest(table_root, base_v, branch)
        logical = _logical_columns(base)
        if name not in logical:
            raise KeyError(f"no such column: {name!r} (have {logical})")
        mapping = _mapping_of(base)
        phys = mapping.pop(name, name)
        if phys in base.get("partition_by", ()):
            raise ValueError(
                f"cannot drop partition column {name!r} — rewrite the "
                "table under a new partition spec first"
            )
        retired = _retired_of(base)
        retired.append(phys)
        manifest = _new_manifest(
            base_v, f"drop_column({name})", base["files"],
            tuple(base.get("partition_by", ())), base["schema_ddl"],
            base=base,
        )
        manifest["retired_columns"] = retired
        manifest["column_mapping"] = mapping
        if not mapping:
            manifest.pop("column_mapping")
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
    raise CommitConflict(
        f"drop_column on {table_root}: lost the manifest race "
        f"{max_retries} times"
    )


def _remove_entries(table_root: str, entries: list[dict]) -> None:
    data_root = _data_root(table_root)
    for e in entries:
        try:
            os.unlink(os.path.join(data_root, e["path"]))
        except FileNotFoundError:
            pass


def _uri_to_local(uri: str) -> str:
    """input_file_name() URI → absolute local path (strip scheme,
    percent-decode — hive-escaped dirs are re-encoded by the URI layer)."""
    src = urllib.parse.unquote(uri)
    if src.startswith("file:"):
        src = src[len("file:"):]
        while src.startswith("//"):
            src = src[1:]
    return src


def _uri_to_rel(uri: str, data_root: str) -> str:
    """input_file_name() URI → manifest-relative path."""
    return os.path.relpath(_uri_to_local(uri), data_root)


def acid_clone(spark: SparkSession, src_root: str, dst_root: str,
               version: int | None = None, tag: str | None = None) -> int:
    """ZERO-COPY SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` /
    Iceberg snapshot-ref export): the clone's v1 manifest references the
    SOURCE snapshot's data files IN PLACE (inherited entries carry
    absolute paths into the source's hive tree — no bytes move, cloning
    a 100 TB table is one metadata write); every commit on the clone
    after that (upsert, delete, compact) writes its OWN files under the
    clone's data root and simply drops inherited entries it replaces.
    Constraints are copied as of clone time (table-level config).

    Ownership contract (the documented Delta-shallow-clone trade):
    - the clone's vacuum walks only ITS data root, so inherited files
      are never deleted by the clone (sources/acid.acid_vacuum);
    - the SOURCE's vacuum does not know about clones — vacuuming the
      source past the cloned snapshot severs the clone's inherited
      files. Pin the source snapshot with a tag (retention pin) for as
      long as clones reference it.
    """
    if sum(x is not None for x in (version, tag)) > 1:
        raise ValueError("version and tag are mutually exclusive")
    if tag is not None:
        version = resolve_tag(src_root, tag)
    v = latest_version(src_root) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"ACID table {src_root} has no commits")
    if latest_version(dst_root) > 0:
        raise FileExistsError(f"ACID table {dst_root} already exists")
    m = _load_manifest(src_root, v)
    if _pos_entries(m["files"]):
        # a pos-delete entry's target strings are the SOURCE manifest's
        # path forms; the clone rewrites inherited paths to absolute, so
        # the coordinates would silently stop matching (resurrected rows)
        raise ValueError(
            f"cannot shallow-clone {src_root}@v{v}: snapshot carries "
            "pending positional-delete entries — run "
            "acid_compact(purge_deletes=True) on the source first"
        )
    src_data = os.path.abspath(_data_root(src_root))
    files = []
    for e in m["files"]:
        e2 = dict(e)
        if not os.path.isabs(e2["path"]):
            e2["path"] = os.path.join(src_data, e2["path"])
        files.append(e2)
    manifest = _new_manifest(
        0, "clone", files, tuple(m.get("partition_by", ())),
        m["schema_ddl"], base=m,
    )
    manifest["cloned_from"] = {"table": os.path.abspath(src_root),
                               "version": v}
    if not _commit_manifest(dst_root, 1, manifest):
        raise FileExistsError(f"ACID table {dst_root} already exists")
    cons = acid_constraints(src_root)
    if cons:
        _write_constraints(dst_root, cons)
    return 1


def acid_delete(
    spark: SparkSession,
    table_root: str,
    predicate: str,
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
) -> int | None:
    """Row-level DELETE as one snapshot commit (Delta `DELETE FROM`
    semantics, copy-on-write): remove every row where ``predicate``
    evaluates TRUE; rows where it is FALSE **or NULL** survive. Returns
    the new version, or None when nothing matched (no empty commits).

    Only files that actually CONTAIN matching rows are rewritten — one
    scan with the predicate pushed to the parquet reader finds them
    (footer min/max prunes row groups; at lake scale the manifest's own
    stats_filter pruning applies the same way before the scan), every
    other file carries over into the new manifest untouched. Old files
    stay until vacuum, so time travel to the pre-delete snapshot and the
    CDF (`acid_changes` emits the removed rows as 'delete') keep working.
    Concurrency follows the standard optimistic protocol: a lost version
    race re-resolves the latest snapshot and re-runs the delete against
    it; nothing is visible until the manifest link lands.
    """
    _v_map = latest_version(table_root, branch)
    if _v_map:
        _require_identity_mapping(
            _load_manifest(table_root, _v_map, branch), "acid_delete")

    pred = F.coalesce(F.expr(predicate), F.lit(False))
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            return None
        base = _load_manifest(table_root, base_v, branch)
        files = base["files"]
        if not files:
            return None
        data_root = _data_root(table_root)
        partition_by = tuple(base.get("partition_by", ()))
        data = _data_entries(files)
        dels = _delete_entries(files)
        # hit detection on the RAW data read (input_file_name must bind to
        # the data scan, not a join): rows already merge-on-read-deleted
        # can over-select a file for rewrite — harmless, the rewrite's
        # CONTENT comes from the snapshot read below
        full = _read_entries(spark, data_root, data, base["schema_ddl"])
        hit_rows = (
            full.where(pred)
            .groupBy(F.input_file_name().alias("__p"))
            .agg(F.count("*").alias("__n"))
            .collect()  # bounded: one row per file containing matches
        )
        if not hit_rows:
            return None
        # match by rel path for own files, abs path for clone-inherited
        # entries (relpath against OUR data root would mangle those)
        hit = {_uri_to_rel(r["__p"], data_root) for r in hit_rows} \
            | {_uri_to_local(r["__p"]) for r in hit_rows}
        rewrite = [e for e in data if e["path"] in hit]
        if len(rewrite) != len(hit_rows):
            raise RuntimeError(
                f"delete on {table_root}: matched files not in manifest "
                f"v{base_v} — reader/manifest drift, nothing committed"
            )
        keep = [e for e in data if e["path"] not in hit]
        if len(keep) + len(rewrite) != len(data):
            raise RuntimeError(
                f"delete on {table_root}: hit set split mismatch — "
                "nothing committed"
            )
        stats_cols = tuple(sorted({
            k[4:] for e in data for k in e if k.startswith("min_")
        }))
        # snapshot read: pending merge-on-read deletes in the rewritten
        # files purge here (they must not resurrect at the new seq)
        kept_df = _snapshot_df(
            spark, data_root, base, entries=rewrite
        ).where(~pred)
        wrote = _write_data_files(
            spark, kept_df, table_root, partition_by, stats_cols,
            bloom_cols=_bloom_cols_of(data),
        )
        # with pending MoR deletes this also counts their purged rows —
        # committing such a "delete" is semantically a no-op plus purge
        n_deleted = (sum(e["rows"] for e in rewrite)
                     - sum(w["rows"] for w in wrote))
        if n_deleted <= 0:
            _remove_entries(table_root, wrote)
            return None
        _stamp_seq(wrote, _next_seq(base_v, base["files"]))
        manifest = _new_manifest(
            base_v, "delete",
            keep + _live_deletes(keep, dels)
            + _live_pos_deletes(keep, _pos_entries(files)) + wrote,
            partition_by, base["schema_ddl"], base=base,
        )
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
        _remove_entries(table_root, wrote)
    raise CommitConflict(
        f"delete on {table_root}: lost the manifest race {max_retries} times"
    )


def acid_delete_mor(
    spark: SparkSession,
    table_root: str,
    keys_df: DataFrame,
    key: tuple[str, ...],
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
) -> int | None:
    """Row-level DELETE as MERGE-ON-READ (Iceberg v2 equality-delete
    semantics): instead of rewriting the files that hold matching rows
    (acid_delete's copy-on-write), commit a small EQUALITY-DELETE file of
    the key tuples to remove; readers subtract it at scan time. The
    trade: deletes become O(|keys|) writes regardless of how many
    terabytes the keys live in, reads pay one small anti-join until a
    compaction or upsert rewrite PURGES the deleted rows physically (at
    which point the spent delete entry drops from the manifest).

    SEQUENCE semantics: the delete suppresses its keys only in data files
    committed at-or-before it — a later upsert re-inserts a deleted key
    and it stays visible. All delete files on one table must share one
    key tuple (enforced). Returns the new version, or None on an empty
    key set or an uncommitted table.

    The CDF (`acid_changes`) stays CORRECT across MoR deletes but loses
    file-level cancellation while any delete entry is pending (full
    snapshot diff — documented inside acid_changes).
    """
    # COLUMN MAPPING: keys arrive structured (no SQL to rewrite), so the
    # translation the predicate-based deletes still refuse is sound here:
    # the delete file and manifest key record PHYSICAL names, which is
    # the space the snapshot anti-join runs in. Keys must name LIVE
    # logical columns — a dropped column's physical bytes still exist in
    # old files and deleting by them would silently "work" on data the
    # logical schema no longer exposes.
    _v_map = latest_version(table_root, branch)
    if _v_map:
        _m = _load_manifest(table_root, _v_map, branch)
        _logical = set(_logical_columns(_m))
        bad = [k for k in key if k not in _logical]
        if bad:
            raise KeyError(
                f"acid_delete_mor key columns {bad} are not in the "
                f"logical schema {sorted(_logical)}")
        _mapping = _mapping_of(_m)
        key = tuple(_phys_cols(_mapping, key))
        keys_df = _to_physical_frame(keys_df, _mapping)

    key = list(key)
    # ONE delete file per commit (r12, guide §6): delete files are
    # O(|requests|)-small by contract, but the distinct's shuffle
    # partitioning wrote one near-empty parquet file per task (measured:
    # a 21-key delete landed as 21 single-row files, and every later
    # snapshot read paid 21 separate schema-inferring reads)
    kdf = keys_df.select(*key).distinct().coalesce(1)
    new_entries = _write_data_files(spark, kdf, table_root, (), ())
    if not new_entries or sum(e["rows"] for e in new_entries) == 0:
        _remove_entries(table_root, new_entries)
        return None
    for e in new_entries:
        e["kind"] = "eq_delete"
        e["key"] = key
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            _remove_entries(table_root, new_entries)
            return None
        base = _load_manifest(table_root, base_v, branch)
        for d in _delete_entries(base["files"]):
            if list(d["key"]) != key:
                _remove_entries(table_root, new_entries)
                raise ValueError(
                    f"equality-delete key {key} conflicts with existing "
                    f"delete files keyed {d['key']}"
                )
        _stamp_seq(new_entries, _next_seq(base_v, base["files"]))
        manifest = _new_manifest(
            base_v, "delete-mor", base["files"] + new_entries,
            tuple(base.get("partition_by", ())), base["schema_ddl"],
            base=base,
        )
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
    _remove_entries(table_root, new_entries)
    raise CommitConflict(
        f"delete-mor on {table_root}: lost the manifest race "
        f"{max_retries} times"
    )


def acid_delete_pos(
    spark: SparkSession,
    table_root: str,
    predicate: str,
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
) -> int | None:
    """Row-level DELETE as MERGE-ON-READ **POSITIONAL** deletes (the
    Iceberg v2 position-delete file): commit a small file of
    (data file path, row ordinal) pairs for every CURRENTLY VISIBLE row
    matching ``predicate``; readers anti-join on the coordinates at scan
    time. Complements acid_delete_mor: equality deletes need a key and
    suppress FUTURE duplicates of it in older files; positional deletes
    need no key at all (any predicate over any columns), pin exactly the
    rows that matched at delete time, and never touch rows written later
    — the file path is an immutable coordinate, so re-inserted data in
    new files is naturally unaffected, with no sequence bookkeeping.

    The trade vs copy-on-write acid_delete: O(|matches|) delete-file
    write instead of rewriting every hit file, at the cost of one
    broadcast path-lookup + anti-join per read until
    ``acid_compact(purge_deletes=True)`` rewrites the targeted
    partitions and drops the spent entry. Row coordinates come from the
    parquet scan's ``_metadata.row_index`` (position in file), matching
    at read time by (manifest path, ordinal).

    Returns the new version, or None on an empty match or uncommitted
    table. Rows where the predicate is FALSE **or NULL** survive
    (DELETE semantics). Concurrency: optimistic — a lost race recomputes
    coordinates against the new snapshot (a concurrent rewrite changes
    file paths, so stale coordinates are never committed)."""
    _v_map = latest_version(table_root, branch)
    if _v_map:
        _require_identity_mapping(
            _load_manifest(table_root, _v_map, branch), "acid_delete_pos")

    pred = F.coalesce(F.expr(predicate), F.lit(False))
    data_root = _data_root(table_root)
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            return None
        base = _load_manifest(table_root, base_v, branch)
        if not _data_entries(base["files"]):
            return None
        snap = _snapshot_df(spark, data_root, base, keep_pos=True)
        hits = snap.where(pred).select(
            F.col("__mpath").alias("__file"), F.col("__pos"),
        ).where(F.col("__file").isNotNull())
        new_entries = _write_data_files(spark, hits, table_root, (), ())
        if not new_entries or sum(e["rows"] for e in new_entries) == 0:
            _remove_entries(table_root, new_entries)
            return None
        targets = sorted({
            r["__file"] for e in new_entries
            for r in spark.read.parquet(
                os.path.join(data_root, e["path"])
            ).select("__file").distinct().collect()
        })  # bounded: distinct FILES touched, metadata-scale
        for e in new_entries:
            e["kind"] = "pos_delete"
            e["targets"] = targets
        _stamp_seq(new_entries, _next_seq(base_v, base["files"]))
        manifest = _new_manifest(
            base_v, "delete-pos", base["files"] + new_entries,
            tuple(base.get("partition_by", ())), base["schema_ddl"],
            base=base,
        )
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
        # lost the race: coordinates may be stale against the winner's
        # snapshot — drop our files and recompute from scratch
        _remove_entries(table_root, new_entries)
    raise CommitConflict(
        f"delete-pos on {table_root}: lost the manifest race "
        f"{max_retries} times"
    )


def acid_merge(
    spark: SparkSession,
    source_df: DataFrame,
    table_root: str,
    key: tuple[str, ...],
    when_matched_update: str | bool = True,
    when_matched_delete: str | None = None,
    when_not_matched_insert: str | bool = True,
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
    on_violation: str = "reject",
) -> int:
    """Conditional MERGE INTO (Delta `MERGE INTO t USING s ON t.k = s.k`
    with WHEN MATCHED [AND cond] THEN UPDATE / DELETE and WHEN NOT
    MATCHED [AND cond] THEN INSERT) as ONE atomic commit. Returns the
    new version.

    Clause semantics (Delta's evaluation order):
    - a matched (target, source) pair DELETES the target row when
      ``when_matched_delete`` evaluates true, else UPDATES it (the
      source row replaces it wholesale) when ``when_matched_update``
      is true / its condition holds, else keeps the target row;
    - an unmatched source row INSERTS when ``when_not_matched_insert``
      is true / its condition holds, else is ignored;
    - unmatched target rows always survive.
    Conditions are SQL strings over the aliases ``t`` (target) and
    ``s`` (source), e.g. ``"s.value > t.value"``; pass True for an
    unconditional clause, None/False to disable it. Source rows with
    duplicate keys that match a target row raise (Delta's
    multiple-source-rows-matched error) — dedupe the source first if
    last-wins is intended (that is ``acid_upsert``).

    Like acid_upsert, only the partitions PRESENT in the source are
    read or rewritten (same partition-scoped contract: a key living in
    a partition the source never names is out of the merge's view), the
    rewrite reads through the MoR snapshot (no resurrections), additive
    schema evolution null-fills either side, constraints gate the
    UPDATE+INSERT rows (the rows this commit writes), and concurrency
    is the standard optimistic rebase."""
    _v_map = latest_version(table_root, branch)
    if _v_map:
        _require_identity_mapping(
            _load_manifest(table_root, _v_map, branch), "acid_merge")

    from pyspark import StorageLevel

    partition_by = tuple(partition_by)
    key = tuple(key)

    # Delta's multiple-match guard: >1 source rows per key is an error
    # as soon as that key matches anything (we check unconditionally —
    # cheaper and stricter; an agg over the source, never the table)
    dup = (
        source_df.groupBy(*key).agg(F.count("*").alias("__n"))
        .where(F.col("__n") > 1).limit(1).collect()
    )
    if dup:
        k = {c: dup[0][c] for c in key}
        raise ValueError(
            f"MERGE source has multiple rows for key {k} — dedupe the "
            "source (or use acid_upsert for last-wins semantics)"
        )

    def _cond(clause, default):
        if clause is True:
            return F.lit(default)
        if clause in (None, False):
            return F.lit(False)
        return F.coalesce(F.expr(clause), F.lit(False))

    upd_c, del_c, ins_c = (
        _cond(when_matched_update, True),
        _cond(when_matched_delete, False),
        _cond(when_not_matched_insert, True),
    )

    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if partition_by:
            touched = {
                tuple(None if r[c] == "" else r[c] for c in partition_by)
                for r in source_df.select(
                    *[F.col(c).cast("string").alias(c)
                      for c in partition_by]
                ).distinct().collect()
            }
        else:
            touched = None

        base = _load_manifest(table_root, base_v, branch) if base_v else None
        base_data = _data_entries(base["files"]) if base_v else []
        base_dels = _delete_entries(base["files"]) if base_v else []
        if not base_v or touched is None:
            replaced = base_data
            keep_files: list[dict] = []
        else:
            replaced = [
                e for e in base_data
                if any(c not in e["partition"] for c in partition_by)
                or tuple(e["partition"].get(c) for c in partition_by)
                in touched
            ]
            rp = {e["path"] for e in replaced}
            keep_files = [e for e in base_data if e["path"] not in rp]

        if replaced:
            existing = _snapshot_df(
                spark, _data_root(table_root), base, entries=replaced
            )
        else:
            src_schema = _schema_ddl(source_df)
            existing = spark.createDataFrame([], src_schema)

        t = existing.withColumn("__t", F.lit(1)).alias("t")
        s = source_df.withColumn("__s", F.lit(1)).alias("s")
        j = (
            t.join(s, list(key), "full_outer")
            .withColumn(
                "__tag",
                F.when(
                    F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull(),
                    F.when(del_c, F.lit("D"))
                    .when(upd_c, F.lit("U"))
                    .otherwise(F.lit("K")),
                )
                .when(F.col("t.__t").isNotNull(), F.lit("K"))
                .otherwise(F.when(ins_c, F.lit("I")).otherwise(F.lit("D"))),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            kept = j.where(
                (F.col("__tag") == "K") & F.col("t.__t").isNotNull()
            ).select(
                *key,
                *[F.col(f"t.{c}") for c in existing.columns if c not in key],
            )
            written = j.where(F.col("__tag").isin("U", "I")).select(
                *key,
                *[F.col(f"s.{c}") for c in source_df.columns
                  if c not in key],
            )
            # gate exactly the rows this commit writes (Delta's contract)
            written = _validate_constraints(
                spark, written, table_root, on_violation
            )
            merged = kept.unionByName(written, allowMissingColumns=True)

            bloom_eff = _bloom_cols_of(base["files"]) if base_v else ()
            new_entries = _write_data_files(
                spark, merged, table_root, partition_by, tuple(stats_cols),
                bloom_cols=bloom_eff,
            )
        finally:
            j.unpersist()
        _stamp_seq(new_entries, _next_seq(
            base_v, base["files"] if base_v else []))
        dels = (_live_deletes(keep_files, base_dels)
                + _live_pos_deletes(
                    keep_files, _pos_entries(base["files"]))) \
            if base_v else []
        manifest = _new_manifest(
            base_v, "merge", keep_files + dels + new_entries, partition_by,
            _schema_ddl(merged), base=base if base_v else None,
        )
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
        _remove_entries(table_root, new_entries)
    raise CommitConflict(
        f"merge on {table_root}: lost the manifest race {max_retries} times"
    )


def acid_replace_where(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    predicate: str,
    max_retries: int = 10,
    branch: str = MAIN_BRANCH,
    on_violation: str = "reject",
) -> int:
    """Targeted overwrite (Delta ``.option("replaceWhere", pred)`` with
    mode=overwrite): ONE atomic commit that removes every existing row
    where ``predicate`` is TRUE and lands ``df`` in their place. Returns
    the new version.

    Delta's constraint applies: every incoming row must itself satisfy
    ``predicate`` (checked in one aggregate BEFORE anything is written —
    otherwise the "overwrite this slice" contract would silently write
    outside the slice). Only files that CONTAIN matching rows are
    rewritten (predicate pushed to the scan, same targeting as
    acid_delete); untouched files carry over, old files stay for time
    travel/CDF until vacuum, and the rewrite reads through the MoR
    snapshot so pending equality-deletes purge instead of resurrecting.
    The classic use is idempotent partition/date-range re-landing:
    replace_where("day = '2024-01-02'", todays_recompute)."""
    _v_map = latest_version(table_root, branch)
    if _v_map:
        _require_identity_mapping(
            _load_manifest(table_root, _v_map, branch), "acid_replace_where")

    pred = F.coalesce(F.expr(predicate), F.lit(False))
    df = _validate_constraints(spark, df, table_root, on_violation)
    n_outside = df.where(~pred).count()
    if n_outside:
        raise ValueError(
            f"replaceWhere({predicate!r}) on {table_root}: {n_outside} "
            "incoming rows do not satisfy the predicate — refusing to "
            "write outside the replaced slice"
        )
    for _ in range(max_retries):
        base_v = latest_version(table_root, branch)
        if base_v == 0:
            return acid_write(spark, df, table_root, branch=branch)
        base = _load_manifest(table_root, base_v, branch)
        data = _data_entries(base["files"])
        dels = _delete_entries(base["files"])
        data_root = _data_root(table_root)
        partition_by = tuple(base.get("partition_by", ()))
        if data:
            full = _read_entries(spark, data_root, data,
                                 base["schema_ddl"])
            hit_rows = (
                full.where(pred)
                .groupBy(F.input_file_name().alias("__p"))
                .agg(F.count("*").alias("__n"))
                .collect()  # bounded: one row per file with matches
            )
        else:
            hit_rows = []
        hit = {_uri_to_rel(r["__p"], data_root) for r in hit_rows} \
            | {_uri_to_local(r["__p"]) for r in hit_rows}
        rewrite = [e for e in data if e["path"] in hit]
        keep = [e for e in data if e["path"] not in hit]
        stats_cols = tuple(sorted({
            k[4:] for e in data for k in e if k.startswith("min_")
        }))
        if rewrite:
            survivors = _snapshot_df(
                spark, data_root, base, entries=rewrite
            ).where(~pred)
            out = survivors.unionByName(df, allowMissingColumns=True)
        else:
            out = df
        wrote = _write_data_files(
            spark, out, table_root, partition_by, stats_cols,
            bloom_cols=_bloom_cols_of(data),
        )
        _stamp_seq(wrote, _next_seq(base_v, base["files"]))
        manifest = _new_manifest(
            base_v, "replace_where",
            keep + _live_deletes(keep, dels)
            + _live_pos_deletes(keep, _pos_entries(base["files"]))
            + wrote,
            partition_by, _schema_ddl(out), base=base,
        )
        if _commit_manifest(table_root, base_v + 1, manifest, branch):
            return base_v + 1
        _remove_entries(table_root, wrote)
    raise CommitConflict(
        f"replace_where on {table_root}: lost the manifest race "
        f"{max_retries} times"
    )
