"""ACID table layer: atomic multi-partition commits, snapshot isolation,
optimistic concurrency, time travel, rollback, vacuum.

The properties under test are exactly the ones the reference's
read-modify-write upsert (ref src/datalake/ingestors/ibkr/writer.py:126-233)
and the dynamic-partition-overwrite writer CANNOT give: a reader never
observes a half-applied multi-partition upsert, concurrent upserts to the
same partition serialize instead of losing updates, and a crash between
data-file write and manifest commit changes nothing a reader can see.
"""

import json
import os
import threading

import pytest

from backtest_crew_datalake_spark.sources.acid import (
    CommitConflict,
    acid_history,
    acid_read,
    acid_rollback,
    acid_upsert,
    acid_vacuum,
    acid_write,
    latest_version,
    list_versions,
)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "sym string, day string, ts bigint, px double"
    )


KEY = ("sym", "day", "ts")
PARTS = ("sym", "day")


def _snapshot(df):
    return sorted(
        (r.sym, r.day, r.ts, r.px)
        for r in df.select("sym", "day", "ts", "px").collect()
    )


def test_write_read_roundtrip_and_append(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
                    partition_by=PARTS)
    assert v1 == 1
    v2 = acid_write(spark, _mk(spark, [("B", "d1", 1, 2.0)]), root,
                    partition_by=PARTS)
    assert v2 == 2
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("B", "d1", 1, 2.0)]
    # partition column types survive the path round-trip (schema pinned)
    assert dict(acid_read(spark, root).dtypes)["ts"] == "bigint"


def test_upsert_keep_last_multi_partition_atomic(spark, tmp_path):
    root = str(tmp_path / "t")
    base = [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0), ("B", "d2", 1, 5.0)]
    acid_upsert(spark, _mk(spark, base), root, KEY, PARTS)
    # one upsert touching BOTH partitions: update A/d1/2, insert B/d2/9
    acid_upsert(
        spark, _mk(spark, [("A", "d1", 2, 20.0), ("B", "d2", 9, 9.0)]),
        root, KEY, PARTS,
    )
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 20.0),
        ("B", "d2", 1, 5.0), ("B", "d2", 9, 9.0)]
    # untouched partition's files were carried, not rewritten: the v2
    # manifest reuses v1's file for a partition the upsert didn't touch
    m1 = _manifest(root, 1)
    m2 = _manifest(root, 2)
    untouched = {e["path"] for e in m1["files"]
                 if e["partition"]["sym"] == "B"}
    assert untouched  # B/d2 existed in v1
    # B/d2 WAS touched here; use a third commit against only A/d1 instead
    acid_upsert(spark, _mk(spark, [("A", "d1", 3, 3.0)]), root, KEY, PARTS)
    m3 = _manifest(root, 3)
    b_files_v2 = {e["path"] for e in m2["files"]
                  if e["partition"]["sym"] == "B"}
    b_files_v3 = {e["path"] for e in m3["files"]
                  if e["partition"]["sym"] == "B"}
    assert b_files_v2 == b_files_v3


def test_upsert_idempotent(spark, tmp_path):
    root = str(tmp_path / "t")
    rows = [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0)]
    acid_upsert(spark, _mk(spark, rows), root, KEY, PARTS)
    before = _snapshot(acid_read(spark, root))
    acid_upsert(spark, _mk(spark, rows), root, KEY, PARTS)
    assert _snapshot(acid_read(spark, root)) == before


def test_snapshot_isolation(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    held = acid_read(spark, root)          # binds the v1 file list NOW
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 99.0)]), root, KEY, PARTS)
    # the held reader still sees v1 after the commit
    assert _snapshot(held) == [("A", "d1", 1, 1.0)]
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 99.0)]
    # explicit time travel agrees
    assert _snapshot(acid_read(spark, root, version=1)) == [
        ("A", "d1", 1, 1.0)]


def test_crash_before_manifest_is_invisible(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    # crash the second upsert after its data files are written but before
    # the manifest links in
    import backtest_crew_datalake_spark.sources.acid as acid

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(acid, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="crash before commit"):
        acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0),
                                       ("B", "d2", 1, 3.0)]),
                    root, KEY, PARTS)
    monkeypatch.undo()
    # nothing changed for readers
    assert latest_version(root) == 1
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 1.0)]
    # vacuum reclaims the orphans; the live file survives
    removed = acid_vacuum(root)
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 1.0)]


def test_concurrent_upserts_serialize(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 0, 0.0)]), root, KEY, PARTS)
    errs = []

    def work(ts):
        try:
            acid_upsert(
                spark, _mk(spark, [("A", "d1", ts, float(ts))]),
                root, KEY, PARTS,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in (1, 2, 3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # all three updates landed (no lost update), versions are a chain
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 0, 0.0), ("A", "d1", 1, 1.0),
        ("A", "d1", 2, 2.0), ("A", "d1", 3, 3.0)]
    hist = acid_history(root)
    assert [h["version"] for h in hist] == [1, 2, 3, 4]
    assert [h["parent"] for h in hist] == [0, 1, 2, 3]


def test_rollback_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root, KEY, PARTS)
    v3 = acid_rollback(root, 1)
    assert v3 == 3
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 1.0)]
    # history is append-only: the rolled-back version stays inspectable
    assert _snapshot(acid_read(spark, root, version=2)) == [
        ("A", "d1", 1, 2.0)]
    ops = [h["operation"] for h in acid_history(root)]
    assert ops == ["upsert", "upsert", "rollback(1)"]


def test_vacuum_expires_history(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 3.0)]), root, KEY, PARTS)
    removed = acid_vacuum(root, keep_versions=1)
    assert removed  # v1/v2-only files got reclaimed
    assert list_versions(root) == [3]
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 3.0)]
    with pytest.raises(FileNotFoundError):
        acid_read(spark, root, version=1)


def test_partition_filter_prunes_file_list(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(
        spark,
        _mk(spark, [("A", "d1", 1, 1.0), ("B", "d1", 1, 2.0),
                    ("B", "d2", 1, 3.0)]),
        root, KEY, PARTS,
    )
    got = acid_read(spark, root, partition_filter={"sym": "B"})
    assert _snapshot(got) == [("B", "d1", 1, 2.0), ("B", "d2", 1, 3.0)]
    got2 = acid_read(spark, root,
                     partition_filter={"sym": "B", "day": ["d2"]})
    assert _snapshot(got2) == [("B", "d2", 1, 3.0)]
    # the pruning happened before Spark: the plan reads 1 file, not 3
    n_files = got2.rdd.getNumPartitions()
    assert n_files >= 1  # smoke; the real assertion is the row content


def test_stats_recorded_per_file(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_write(
        spark,
        _mk(spark, [("A", "d1", 5, 1.0), ("A", "d1", 9, 2.0)]),
        root, partition_by=PARTS, stats_cols=("ts",),
    )
    m = _manifest(root, 1)
    assert sum(e["rows"] for e in m["files"]) == 2
    assert min(e["min_ts"] for e in m["files"]) == "5"
    assert max(e["max_ts"] for e in m["files"]) == "9"
    assert all(e["partition"] == {"sym": "A", "day": "d1"}
               for e in m["files"])


def test_write_overwrite_mode(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    acid_write(spark, _mk(spark, [("Z", "d9", 1, 9.0)]), root,
               partition_by=PARTS, mode="overwrite")
    assert _snapshot(acid_read(spark, root)) == [("Z", "d9", 1, 9.0)]
    # time travel to before the overwrite still works
    assert _snapshot(acid_read(spark, root, version=1)) == [
        ("A", "d1", 1, 1.0)]


def _manifest(root, v):
    path = os.path.join(root, "_acid", "manifests", f"v{v:012d}.json")
    with open(path) as fh:
        return json.load(fh)


def test_schema_evolution_additive(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d2", 1, 2.0)]),
                root, KEY, PARTS)
    # new column arrives; only partition A/d1 is touched
    wide = spark.createDataFrame(
        [("A", "d1", 2, 3.0, "x")],
        "sym string, day string, ts bigint, px double, tag string",
    )
    acid_upsert(spark, wide, root, KEY, PARTS)
    got = acid_read(spark, root)
    assert "tag" in got.columns
    rows = {(r.sym, r.ts): r.tag for r in got.collect()}
    # untouched partition's OLD file reads the new column as null
    assert rows[("B", 1)] is None
    assert rows[("A", 1)] is None and rows[("A", 2)] == "x"


def test_compact_under_snapshot_isolation(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_compact

    root = str(tmp_path / "t")
    # many tiny APPEND commits -> many files in one partition (upserts
    # rewrite the touched partition, so appends are what fragments)
    for ts in range(6):
        acid_write(spark, _mk(spark, [("A", "d1", ts, float(ts))]),
                   root, partition_by=PARTS)
    v_before = latest_version(root)
    n_files_before = len(_manifest(root, v_before)["files"])
    assert n_files_before > 1
    held = acid_read(spark, root)  # reader holds the pre-compaction snapshot
    v = acid_compact(spark, root, target_mb=128)
    assert v == v_before + 1
    m = _manifest(root, v)
    assert len(m["files"]) == 1          # one partition -> one file
    same = [(r.ts, r.px) for r in acid_read(spark, root)
            .orderBy("ts").collect()]
    assert same == [(t, float(t)) for t in range(6)]
    # the held reader still works and sees identical rows (old files live)
    assert sorted((r.ts, r.px) for r in held.collect()) == same
    # compacting again is a no-op
    assert acid_compact(spark, root, target_mb=128) is None


def test_streaming_acid_upsert_exactly_once(spark, tmp_path):
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_acid_upsert,
    )

    src = str(tmp_path / "land")
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    schema = "sym string, day string, ts bigint, px double"

    b1 = [("A", "d1", 1, 1.0), ("B", "d2", 1, 2.0)]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    streaming_acid_upsert(spark, src, root, ckpt, schema, KEY, PARTS)
    b2 = [("A", "d1", 1, 10.0), ("A", "d1", 2, 20.0)]
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    streaming_acid_upsert(spark, src, root, ckpt, schema, KEY, PARTS)
    want = [("A", "d1", 1, 10.0), ("A", "d1", 2, 20.0), ("B", "d2", 1, 2.0)]
    assert _snapshot(acid_read(spark, root)) == sorted(want)
    # at-least-once replay: re-delivering the LAST micro-batch (what a
    # crash between upsert-commit and checkpoint-commit causes — batch
    # boundaries are preserved by the checkpoint) leaves the table
    # CONTENT unchanged: exactly-once effect
    from backtest_crew_datalake_spark.sources.acid import acid_upsert as au
    au(spark, spark.createDataFrame(b2, schema), root, KEY, PARTS)
    assert _snapshot(acid_read(spark, root)) == sorted(want)
    # rerunning the stream on the SAME checkpoint is a no-op (all committed)
    streaming_acid_upsert(spark, src, root, ckpt, schema, KEY, PARTS)
    assert _snapshot(acid_read(spark, root)) == sorted(want)


def test_changes_feed_keyed(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_changes

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
                                   ("B", "d2", 1, 5.0)]),
                root, KEY, PARTS)
    # v2: update A/d1/2, insert A/d1/3; B untouched
    acid_upsert(spark, _mk(spark, [("A", "d1", 2, 20.0),
                                   ("A", "d1", 3, 3.0)]),
                root, KEY, PARTS)
    ch = acid_changes(spark, root, 1, 2, key=KEY)
    got = sorted((r.sym, r.ts, r.px, r._change_type) for r in ch.collect())
    assert got == [
        ("A", 2, 2.0, "update_preimage"),
        ("A", 2, 20.0, "update_postimage"),
        ("A", 3, 3.0, "insert"),
    ]
    # carried-along rows (A/d1/1 rewritten into the new file unchanged)
    # and untouched partitions (B) are NOT changes
    # rowlevel (no key): delete-old + insert-new for the changed row
    ch2 = acid_changes(spark, root, 1, 2)
    got2 = sorted((r.sym, r.ts, r.px, r._change_type) for r in ch2.collect())
    assert got2 == [
        ("A", 2, 2.0, "delete"),
        ("A", 2, 20.0, "insert"),
        ("A", 3, 3.0, "insert"),
    ]


def test_changes_skips_shared_files(spark, tmp_path, monkeypatch):
    """File-level pruning: files present in both manifests are never read."""
    from backtest_crew_datalake_spark.sources import acid

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("B", "d2", 1, 2.0)]), root, KEY, PARTS)
    m1 = _manifest(root, 1)
    m2 = _manifest(root, 2)
    shared = {e["path"] for e in m1["files"]} & {
        e["path"] for e in m2["files"]}
    assert shared  # A/d1's file is carried into v2
    seen = []
    orig = acid.acid_changes.__globals__["os"].path.join

    real_parquet = spark.read.__class__.parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(spark.read.__class__, "parquet", spy)
    acid.acid_changes(spark, root, 1, 2, key=KEY).collect()
    monkeypatch.undo()
    for p in seen:
        for s in shared:
            assert not p.endswith(s), f"shared file {s} was read"


def test_stats_filter_skips_files(spark, tmp_path):
    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", t, float(t))
                                  for t in range(0, 10)]),
               root, partition_by=PARTS, stats_cols=("ts",))
    acid_write(spark, _mk(spark, [("A", "d1", t, float(t))
                                  for t in range(100, 110)]),
               root, partition_by=PARTS, stats_cols=("ts",))
    m = _manifest(root, 2)
    full = acid_read(spark, root)
    pruned = acid_read(spark, root, stats_filter={"ts": (100, None)})
    # skipping reduced the file list; the predicate still applies on read
    got = sorted(r.ts for r in pruned.where("ts >= 100").collect())
    assert got == list(range(100, 110))
    n_full = len(full.inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_pruned < n_full


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),          # sym (partition)
        st.sampled_from(["d1", "d2"]),        # day (partition)
        st.integers(min_value=0, max_value=5),  # ts (key)
        st.floats(min_value=-10, max_value=10,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1, max_size=6,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=st.lists(_batch, min_size=1, max_size=4))
def test_upsert_sequence_matches_dict_model(spark, tmp_path_factory, batches):
    """Model-based check: an arbitrary sequence of keyed upsert batches
    must leave the table equal to a dict replay (last write per key wins;
    within one batch, the LAST occurrence of a key in the batch wins —
    dedupe_keep order=None ties resolve by row struct, so the model
    constrains batches to unique keys per batch by pre-deduping the same
    way the merge does: max over the packed row). Every intermediate
    version must equal the model state at that point (time travel)."""
    root = str(tmp_path_factory.mktemp("acidprop") / "t")
    model: dict[tuple, float] = {}
    states = []
    for batch in batches:
        # model the batch-internal dedupe: order=None keep-last takes the
        # row-wise MAX of the packed non-key columns per key
        bykey: dict[tuple, float] = {}
        for sym, day, ts, px in batch:
            k = (sym, day, ts)
            bykey[k] = max(bykey.get(k, float("-inf")), px)
        model.update(bykey)
        acid_upsert(spark, _mk(spark, batch), root, KEY, PARTS)
        states.append(dict(model))
    # final state
    got = {(r.sym, r.day, r.ts): r.px for r in acid_read(spark, root).collect()}
    assert got == model
    # time travel to every intermediate version
    for v, want in enumerate(states, start=1):
        got_v = {(r.sym, r.day, r.ts): r.px
                 for r in acid_read(spark, root, version=v).collect()}
        assert got_v == want, f"version {v}"


def test_compact_retries_after_losing_commit_race(spark, tmp_path,
                                                  monkeypatch):
    """A commit that lands between compaction's snapshot read and its
    manifest link makes the compaction lose the version race, drop its
    files, and retry against the new snapshot — no data from the
    interleaved upsert may be lost."""
    from backtest_crew_datalake_spark.sources import acid

    root = str(tmp_path / "t")
    for ts in range(4):
        acid_write(spark, _mk(spark, [("A", "d1", ts, float(ts))]),
                   root, partition_by=PARTS)

    real_commit = acid._commit_manifest
    fired = {"n": 0}

    def race_once(table_root, version, manifest, branch=acid.MAIN_BRANCH):
        if fired["n"] == 0 and manifest["operation"] == "compact":
            fired["n"] += 1
            # interleave a real upsert that takes this version first
            acid.acid_upsert(spark, _mk(spark, [("A", "d1", 99, 99.0)]),
                             root, KEY, PARTS)
        return real_commit(table_root, version, manifest, branch)

    monkeypatch.setattr(acid, "_commit_manifest", race_once)
    v = acid.acid_compact(spark, root, target_mb=128)
    monkeypatch.undo()
    assert fired["n"] == 1                       # the race actually fired
    # the retry found the upsert's rewrite had already consolidated the
    # partition, so there was nothing left to compact — None is the
    # correct outcome; the interleaved commit must be fully intact
    assert v is None
    got = _snapshot(acid_read(spark, root))
    assert ("A", "d1", 99, 99.0) in got          # interleaved upsert kept
    assert [r for r in got if r[2] < 4] == [
        ("A", "d1", t, float(t)) for t in range(4)]
    assert acid_history(root)[-1]["operation"] == "upsert"
    # the loser's orphaned compaction files are unreachable; vacuum
    # reclaims them without touching live data
    acid_vacuum(root, keep_versions=1)
    assert _snapshot(acid_read(spark, root)) == got


def test_cli_acid_maintenance(spark, tmp_path, capsys):
    from backtest_crew_datalake_spark.cli import main

    root = str(tmp_path / "t")
    for ts in range(3):
        acid_write(spark, _mk(spark, [("A", "d1", ts, float(ts))]),
                   root, partition_by=PARTS)
    main(["acid", "history", "--table-root", root])
    out = capsys.readouterr().out
    assert out.count("append") == 3
    main(["acid", "compact", "--table-root", root])
    assert "compacted -> v4" in capsys.readouterr().out
    main(["acid", "vacuum", "--table-root", root, "--keep-versions", "1"])
    assert "removed" in capsys.readouterr().out
    main(["acid", "rollback", "--table-root", root, "--version", "4"])
    assert "restored as v5" in capsys.readouterr().out
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", t, float(t)) for t in range(3)]


def test_changes_update_emits_both_images(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_changes

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root, KEY, PARTS)
    ch = acid_changes(spark, root, 1, 2, key=KEY)
    got = sorted((r.px, r._change_type) for r in ch.collect())
    assert got == [(1.0, "update_preimage"), (2.0, "update_postimage")]


def test_incremental_agg_matches_full_recompute(spark, tmp_path):
    from backtest_crew_datalake_spark.pipeline.incremental import (
        incremental_agg_refresh,
    )

    src = str(tmp_path / "src")
    mat = str(tmp_path / "mat")

    def refresh():
        return incremental_agg_refresh(
            spark, src, mat, key=KEY, group_by=("sym",), sum_cols=("px",),
        )

    def full():
        return sorted(
            (r.sym, r.n_rows, round(r.sum_px, 6))
            for r in acid_read(spark, src)
            .groupBy("sym")
            .agg(__import__("pyspark").sql.functions.count("*")
                 .alias("n_rows"),
                 __import__("pyspark").sql.functions.sum("px")
                 .alias("sum_px"))
            .collect()
        )

    def mat_rows():
        return sorted(
            (r.sym, r.n_rows, round(r.sum_px, 6))
            for r in acid_read(spark, mat).collect()
        )

    # first refresh: full materialization
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
                                   ("B", "d2", 1, 5.0)]), src, KEY, PARTS)
    v = refresh()
    assert v == 1 and mat_rows() == full()

    # inserts + an update that changes the VALUE
    acid_upsert(spark, _mk(spark, [("A", "d1", 2, 20.0),
                                   ("B", "d2", 9, 9.0)]), src, KEY, PARTS)
    assert refresh() == 2 and mat_rows() == full()

    # an update that moves a row BETWEEN GROUPS (sym B -> partition move is
    # a delete+insert at key level: new key) — and a group emptying out
    acid_upsert(spark, _mk(spark, [("C", "d1", 1, 7.0)]), src, KEY, PARTS)
    assert refresh() == 3 and mat_rows() == full()

    # refresh with no new source commits is a no-op (cursor already there)
    before = acid_history(mat)
    assert refresh() == 3
    assert acid_history(mat) == before

    # crash-safety by construction: cursor and aggregate land in ONE
    # commit — verify the cursor is readable from the mat history
    ops = [h["operation"] for h in acid_history(mat)]
    assert ops == ["incremental(1)", "incremental(2)", "incremental(3)"]


def test_upsert_boolean_partition_replaces(spark, tmp_path):
    """Touched-partition matching uses Spark's cast-to-string (manifest
    encoding: 'true'), not Python str() ('True') — pre-fix a boolean
    partition column never matched its own files, so the upsert KEPT the
    old rows alongside the new ones (silent duplicate keys)."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(True, 1, 1.0), (False, 1, 5.0)], "live boolean, ts bigint, px double"
    )
    acid_upsert(spark, df, root, key=("live", "ts"), partition_by=("live",))
    upd = spark.createDataFrame(
        [(True, 1, 10.0)], "live boolean, ts bigint, px double"
    )
    acid_upsert(spark, upd, root, key=("live", "ts"), partition_by=("live",))
    got = sorted((r.live, r.ts, r.px) for r in acid_read(spark, root).collect())
    assert got == [(False, 1, 5.0), (True, 1, 10.0)]
    # and the partition filter speaks Python booleans
    only_true = acid_read(spark, root, partition_filter={"live": True})
    assert [(r.live, r.px) for r in only_true.collect()] == [(True, 10.0)]


def test_partition_special_chars_and_null_roundtrip(spark, tmp_path):
    """Partition values containing '/', '=', '%' are hive-escaped in leaf
    dirs (pre-fix they produced corrupt paths Spark re-parsed as extra
    partition levels) and null becomes __HIVE_DEFAULT_PARTITION__
    (pre-fix: a literal 'sym=None' dir read back as the STRING 'None')."""
    root = str(tmp_path / "t")
    rows = [("a/b=c", 1, 1.0), ("100%", 2, 2.0), (None, 3, 3.0)]
    df = spark.createDataFrame(rows, "sym string, ts bigint, px double")
    acid_write(spark, df, root, partition_by=("sym",))
    got = sorted(
        ((r.sym, r.ts, r.px) for r in acid_read(spark, root).collect()),
        key=lambda t: t[1],
    )
    assert got == rows
    # upsert replaces the weird partition, not duplicates it
    acid_upsert(
        spark,
        spark.createDataFrame([("a/b=c", 1, 9.0)],
                              "sym string, ts bigint, px double"),
        root, key=("sym", "ts"), partition_by=("sym",),
    )
    got = sorted((r.sym or "", r.ts, r.px)
                 for r in acid_read(spark, root).collect())
    assert ("a/b=c", 1, 9.0) in got and ("a/b=c", 1, 1.0) not in got
    assert ("", 3, 3.0) in got  # null partition row survived
    # no 'None' directory, nulls use the hive convention
    data_root = os.path.join(root, "_acid", "data")
    dirs = set(os.listdir(data_root))
    assert "sym=None" not in dirs
    assert "sym=__HIVE_DEFAULT_PARTITION__" in dirs


def test_append_schema_merges_additively(spark, tmp_path):
    """append records base ∪ incoming schema (pre-fix: the INCOMING frame's
    schema alone became the pinned manifest schema, silently hiding every
    column it lacked); a same-name type conflict fails loudly."""
    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 1.0, "x")], "ts bigint, px double, note string"), root)
    # append a frame MISSING 'note' and ADDING 'vol'
    acid_write(spark, spark.createDataFrame(
        [(2, 2.0, 7.0)], "ts bigint, px double, vol double"), root)
    df = acid_read(spark, root)
    assert set(df.columns) == {"ts", "px", "note", "vol"}
    got = {r.ts: (r.px, r.note, r.vol) for r in df.collect()}
    assert got == {1: (1.0, "x", None), 2: (2.0, None, 7.0)}
    # retyping fails loudly instead of silently corrupting readers
    with pytest.raises(TypeError, match="schema conflict"):
        acid_write(spark, spark.createDataFrame(
            [(3, "oops")], "ts bigint, px string"), root)


def test_stats_prune_partial_parse_no_crash():
    """_stats_prune converts all four values before rebinding any — a
    numeric file stat with a non-numeric bound (or vice versa) falls back
    to an all-string compare instead of raising TypeError mid-prune."""
    from backtest_crew_datalake_spark.sources.acid import _stats_prune

    entry = {"min_px": "1.5", "max_px": "9.5"}
    # bound doesn't parse as float -> string compare, no crash
    assert _stats_prune(entry, {"px": (None, "zzz")}) is True
    assert _stats_prune(entry, {"px": ("zzz", None)}) is False  # '9.5'<'zzz'
    # numeric bounds still prune numerically
    assert _stats_prune(entry, {"px": (10, None)}) is False
    assert _stats_prune(entry, {"px": (None, 1.0)}) is False
    assert _stats_prune(entry, {"px": (2, 3)}) is True


def test_upsert_awkward_partition_values_match_dict_model(spark, tmp_path):
    """Differential check over the partition-value edge cases as one
    upsert sequence: boolean-ish strings, hive metacharacters, unicode,
    empty string (which Spark's partition writer folds to null — '' and
    null are ONE partition value by construction), and null. Every key
    must end at its LAST written value — any encoding mismatch between
    the touched-set, the manifest, and the leaf dirs shows up as a
    duplicate or lost key."""
    root = str(tmp_path / "t")
    schema = "sym string, ts bigint, px double"
    batches = [
        [("true", 1, 1.0), ("a/b=c%d", 1, 2.0), ("", 1, 3.0),
         (None, 1, 4.0), ("naïve 100%", 1, 5.0)],
        [("true", 1, 10.0), ("", 2, 6.0), (None, 1, 40.0)],
        [("a/b=c%d", 1, 20.0), ("naïve 100%", 2, 7.0)],
    ]
    model = {}
    for rows in batches:
        acid_upsert(spark, spark.createDataFrame(rows, schema), root,
                    key=("sym", "ts"), partition_by=("sym",))
        for sym, ts, px in rows:
            model[(sym or None) if sym != "" else None, ts] = px
    got = {((r.sym if r.sym != "" else None), r.ts): r.px
           for r in acid_read(spark, root).collect()}
    # fold '' keys in the model the same way (Spark stores '' as null)
    want = {}
    for (sym, ts), px in model.items():
        want[(sym, ts)] = px
    assert got == want


def test_delete_rows_copy_on_write(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest,
        acid_changes,
        acid_delete,
    )

    root = str(tmp_path / "t")
    rows = [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
            ("A", "d2", 1, 3.0), ("B", "d1", 1, 10.0),
            ("B", "d2", 5, 50.0)]
    acid_write(spark, _mk(spark, rows), root, partition_by=PARTS)

    # delete every A row with px >= 2 (touches A/d1 and A/d2, not B)
    v = acid_delete(spark, root, "sym = 'A' AND px >= 2.0")
    assert v == 2
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("B", "d1", 1, 10.0), ("B", "d2", 5, 50.0)]

    # copy-on-write: files of untouched partitions carry over VERBATIM
    before = {e["path"] for e in _load_manifest(root, 1)["files"]}
    after = {e["path"] for e in _load_manifest(root, 2)["files"]}
    b_files = {p for p in before if "sym=B" in p}
    assert b_files and b_files <= after          # B files not rewritten
    # every file that contained a matching row is GONE from the new
    # manifest; carried-over A files (if any) are exactly the ones the
    # hit scan cleared — verified by the read-back above. At least one
    # v1 file must have been dropped (the deleted rows lived somewhere).
    assert before - after

    # time travel: pre-delete snapshot intact
    assert len(_snapshot(acid_read(spark, root, version=1))) == 5
    # CDF: exactly the removed rows, tagged delete
    ch = acid_changes(spark, root, 1, 2, key=KEY)
    got = sorted((r.sym, r.day, r.ts, r._change_type) for r in ch.collect())
    assert got == [("A", "d1", 2, "delete"), ("A", "d2", 1, "delete")]

    # no-match predicate: no commit, version unchanged
    assert acid_delete(spark, root, "px > 999") is None
    assert latest_version(root) == 2

    # NULL predicate semantics: rows where the predicate is NULL survive
    root2 = str(tmp_path / "t2")
    acid_write(
        spark,
        spark.createDataFrame(
            [("A", "d1", 1, None), ("A", "d1", 2, 2.0)],
            "sym string, day string, ts bigint, px double",
        ),
        root2, partition_by=PARTS,
    )
    assert acid_delete(spark, root2, "px < 10") == 2
    left = acid_read(spark, root2).collect()
    assert [(r.ts, r.px) for r in left] == [(1, None)]


def test_delete_whole_file_and_stats_preserved(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest,
        acid_delete,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0),
                                  ("A", "d1", 2, 2.0)]),
               root, partition_by=PARTS, stats_cols=("ts",))
    # everything in the only file matches -> file drops, no replacement
    v = acid_delete(spark, root, "sym = 'A'")
    assert v == 2
    m = _load_manifest(root, 2)
    assert m["files"] == []
    assert acid_read(spark, root).count() == 0

    # partial delete preserves the recorded stats columns on rewrite
    root3 = str(tmp_path / "t3")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0),
                                  ("A", "d1", 9, 9.0)]),
               root3, partition_by=PARTS, stats_cols=("ts",))
    acid_delete(spark, root3, "ts = 9")
    m3 = _load_manifest(root3, 2)
    assert [ (e["min_ts"], e["max_ts"]) for e in m3["files"] ] == [("1", "1")]


def test_tags_and_timestamp_time_travel(spark, tmp_path):
    """Named refs resolve to their pinned snapshot; as_of_ts resolves the
    Delta timestampAsOf rule; tags are immutable unless replaced."""
    import pytest as _pytest

    from backtest_crew_datalake_spark.sources.acid import (
        acid_read, acid_tag, acid_tags, acid_untag, acid_upsert,
        version_as_of, _load_manifest,
    )

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    v1_ts = _load_manifest(root, 1)["ts"]
    acid_tag(root, "baseline")                 # pins v1
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root, KEY, PARTS)

    assert acid_tags(root) == {"baseline": 1}
    assert _snapshot(acid_read(spark, root, tag="baseline")) == \
        [("A", "d1", 1, 1.0)]
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 2.0)]

    # timestampAsOf: at v1's commit time -> v1; far future -> latest;
    # before the first commit -> loud error
    assert version_as_of(root, v1_ts) == 1
    assert _snapshot(acid_read(spark, root, as_of_ts=v1_ts)) == \
        [("A", "d1", 1, 1.0)]
    assert version_as_of(root, v1_ts + 1e9) == 2
    with _pytest.raises(FileNotFoundError):
        version_as_of(root, v1_ts - 10)

    # tags are immutable; replace moves them; mutually-exclusive args
    with _pytest.raises(FileExistsError):
        acid_tag(root, "baseline")
    assert acid_tag(root, "baseline", replace=True) == 2
    with _pytest.raises(ValueError):
        acid_read(spark, root, version=1, tag="baseline")
    acid_untag(root, "baseline")
    assert acid_tags(root) == {}


def test_vacuum_keeps_tagged_snapshots(spark, tmp_path):
    """A tag is a retention pin: vacuum to the latest snapshot must keep a
    tagged older snapshot's manifest AND data files; untagging releases
    them to the next vacuum."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_read, acid_tag, acid_untag, acid_upsert, acid_vacuum,
        list_versions,
    )

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_tag(root, "keepme")                   # pins v1
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("B", "d1", 2, 3.0)]), root, KEY, PARTS)

    removed = acid_vacuum(root, keep_versions=1)
    # v1 survives via the tag; v2's exclusive files are reclaimable
    assert list_versions(root) == [1, 3]
    assert _snapshot(acid_read(spark, root, tag="keepme")) == \
        [("A", "d1", 1, 1.0)]
    assert _snapshot(acid_read(spark, root)) == \
        [("A", "d1", 1, 2.0), ("B", "d1", 2, 3.0)]

    acid_untag(root, "keepme")
    removed2 = acid_vacuum(root, keep_versions=1)
    assert list_versions(root) == [3]
    assert removed2                             # v1's files now reclaimed
    assert _snapshot(acid_read(spark, root)) == \
        [("A", "d1", 1, 2.0), ("B", "d1", 2, 3.0)]


def test_vacuum_sees_tag_created_during_delete_set_build(spark, tmp_path,
                                                         monkeypatch):
    """The concurrent-tagger race: a tag created AFTER vacuum's first tag
    listing (while the live set is being built) must still pin its
    snapshot — the re-list before deletion folds the new pin in instead of
    leaving a dangling ref. Simulated by making the first acid_tags call
    return the pre-tag state."""
    import backtest_crew_datalake_spark.sources.acid as acid

    root = str(tmp_path / "t")
    acid.acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
                     KEY, PARTS)
    acid.acid_upsert(spark, _mk(spark, [("A", "d1", 1, 2.0)]), root,
                     KEY, PARTS)
    # the "concurrent" tagger pins v1 — but vacuum's FIRST listing is
    # patched to miss it, as if the tag landed mid-build
    acid.acid_tag(root, "latecomer", version=1)
    real_tags = acid.acid_tags
    calls = {"n": 0}

    def flaky_tags(table_root):
        calls["n"] += 1
        if calls["n"] == 1:
            return {}          # pre-tag snapshot of the refs dir
        return real_tags(table_root)

    monkeypatch.setattr(acid, "acid_tags", flaky_tags)
    acid.acid_vacuum(root, keep_versions=1)
    monkeypatch.undo()
    assert calls["n"] >= 2      # the re-list actually ran
    # v1 survived: the tag resolves and reads the pre-update state
    assert acid.list_versions(root) == [1, 2]
    assert _snapshot(acid.acid_read(spark, root, tag="latecomer")) == \
        [("A", "d1", 1, 1.0)]


def test_branch_fork_write_isolation_and_merge(spark, tmp_path):
    """Writable branches: fork is metadata-only, branch commits are
    invisible to main, branch reads see fork-point data plus branch
    commits, and merge fast-forwards main to the branch head in one
    atomic commit."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_branch, acid_branches, acid_merge_branch,
    )

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("B", "d1", 2, 2.0)]), root, KEY, PARTS)

    assert acid_branch(root, "exp") == 1
    assert acid_branches(root) == ["exp"]
    # fork sees main@2; no data was copied (fork manifest lists main's files)
    assert _snapshot(acid_read(spark, root, branch="exp")) == \
        [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]

    # branch commit: update A, add C — main must not observe it
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0),
                                   ("C", "d2", 3, 3.0)]),
                root, KEY, PARTS, branch="exp")
    assert _snapshot(acid_read(spark, root, branch="exp")) == \
        [("A", "d1", 1, 9.0), ("B", "d1", 2, 2.0), ("C", "d2", 3, 3.0)]
    assert _snapshot(acid_read(spark, root)) == \
        [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]
    assert latest_version(root) == 2
    # branch time travel: v1 is the fork snapshot
    assert _snapshot(acid_read(spark, root, version=1, branch="exp")) == \
        [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]

    # fast-forward merge: main flips to the branch head atomically
    v = acid_merge_branch(root, "exp")
    assert v == 3
    assert _snapshot(acid_read(spark, root)) == \
        [("A", "d1", 1, 9.0), ("B", "d1", 2, 2.0), ("C", "d2", 3, 3.0)]
    ops = [h["operation"] for h in acid_history(root)]
    assert ops[-1] == "merge(exp)"
    bops = [h["operation"]
            for h in acid_history(root, branch="exp")]
    assert bops[0] == "fork(main@2)"


def test_branch_errors_and_drop(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_branch, acid_branches, acid_drop_branch,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    acid_branch(root, "b1")
    with pytest.raises(FileExistsError):
        acid_branch(root, "b1")
    with pytest.raises(ValueError):
        acid_branch(root, "main")
    with pytest.raises(ValueError):
        acid_branch(root, "../evil")
    with pytest.raises(FileNotFoundError):
        acid_read(spark, root, branch="nope")
    with pytest.raises(ValueError):
        acid_read(spark, root, branch="b1", tag="x")
    acid_drop_branch(root, "b1")
    assert acid_branches(root) == []
    with pytest.raises(FileNotFoundError):
        acid_drop_branch(root, "b1")


def test_vacuum_keeps_branch_files_until_drop(spark, tmp_path):
    """A branch pins every file its chain references — vacuum of main to
    the latest snapshot must not break branch reads (including the fork
    point, whose main version may be expired); dropping the branch
    releases its exclusive files to the next vacuum."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_branch, acid_drop_branch, acid_merge_branch,
    )

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root, KEY, PARTS)
    acid_branch(root, "exp")                      # forks at main@1
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 5.0)]), root, KEY, PARTS,
                branch="exp")                     # branch-exclusive file
    # main advances twice so vacuum can expire the fork-point version
    acid_upsert(spark, _mk(spark, [("B", "d2", 2, 2.0)]), root, KEY, PARTS)
    acid_upsert(spark, _mk(spark, [("B", "d2", 2, 2.5)]), root, KEY, PARTS)

    acid_vacuum(root, keep_versions=1)
    assert list_versions(root) == [3]             # main history expired
    # branch still fully readable: fork snapshot AND branch head
    assert _snapshot(acid_read(spark, root, version=1, branch="exp")) == \
        [("A", "d1", 1, 1.0)]
    assert _snapshot(acid_read(spark, root, branch="exp")) == \
        [("A", "d1", 1, 5.0)]

    acid_drop_branch(root, "exp")
    removed = acid_vacuum(root, keep_versions=1)
    assert removed                                # branch files reclaimed
    assert _snapshot(acid_read(spark, root)) == \
        [("A", "d1", 1, 1.0), ("B", "d2", 2, 2.5)]


def test_incremental_mv_matches_full_recompute(spark, tmp_path):
    """CDF-driven MV maintenance: MV@v1 + fold(acid_changes(1, latest))
    == full re-aggregation of the latest snapshot, including a DELETE in
    the history (the query-catalog gate only sees insert/update; the
    delete arm is proven here)."""
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import (
        acid_changes, acid_delete,
    )

    root = str(tmp_path / "mv")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
        ("B", "d1", 1, 5.0), ("B", "d2", 1, 7.0),
    ]), root, partition_by=PARTS)
    acid_upsert(spark, _mk(spark, [
        ("A", "d1", 2, 4.0),          # update
        ("C", "d1", 1, 9.0),          # insert
    ]), root, key=KEY, partition_by=PARTS)
    acid_delete(spark, root, "sym = 'B' AND day = 'd2'")  # delete

    px6 = F.round(F.col("px") * 1000000).cast("bigint")

    def mv(df):
        return df.groupBy("sym").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(px6).alias("px6"),
        )

    mv1 = mv(acid_read(spark, root, version=1))
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), 1
    ).otherwise(-1).cast("bigint")
    kd = (F.when(F.col("_change_type") == "insert", 1)
          .when(F.col("_change_type") == "delete", -1)
          .otherwise(0).cast("bigint"))
    delta = (
        acid_changes(spark, root, from_version=1, key=KEY)
        .groupBy("sym")
        .agg(F.sum(kd).alias("dn"), F.sum(sign * px6).alias("dpx6"))
    )
    z = F.lit(0).cast("bigint")
    inc = (
        mv1.join(delta, "sym", "full_outer")
        .select(
            "sym",
            (F.coalesce("n_rows", z) + F.coalesce("dn", z)).alias("n_rows"),
            (F.coalesce("px6", z) + F.coalesce("dpx6", z)).alias("px6"),
        )
        .where(F.col("n_rows") > 0)
    )
    full = mv(acid_read(spark, root))
    got = sorted((r.sym, r.n_rows, r.px6) for r in inc.collect())
    want = sorted((r.sym, r.n_rows, r.px6) for r in full.collect())
    assert got == want
    assert ("B", 1, 5000000) in got            # d2 delete netted out
    assert ("C", 1, 9000000) in got


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg-style partition-spec evolution: commits under different
    partition_by specs coexist in one data root; reads group per spec
    (Spark refuses mixed hive layouts under one basePath), partition
    pruning still skips old-spec files by manifest values and keeps
    files whose spec lacks the key (skipping may never drop data)."""
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import acid_changes

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0),
    ]), root, partition_by=("sym",))
    acid_write(spark, _mk(spark, [
        ("A", "d2", 3, 3.0), ("C", "d2", 4, 4.0),
    ]), root, partition_by=())                      # spec drops partitioning
    acid_write(spark, _mk(spark, [
        ("B", "d3", 5, 5.0),
    ]), root, partition_by=("sym", "day"))          # spec adds a dimension

    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("A", "d2", 3, 3.0), ("B", "d1", 2, 2.0),
        ("B", "d3", 5, 5.0), ("C", "d2", 4, 4.0),
    ]
    # pruning on sym: v1/v3 files skip by manifest value, v2 flat files
    # are KEPT (missing key — skipping, not filtering) so the post-read
    # predicate still sees every A row
    pruned = acid_read(spark, root, partition_filter={"sym": "A"})
    assert _snapshot(pruned.where(F.col("sym") == "A")) == [
        ("A", "d1", 1, 1.0), ("A", "d2", 3, 3.0),
    ]
    # the skipped file list must exclude the B/d* old-spec files
    from backtest_crew_datalake_spark.sources.acid import _load_manifest
    m = _load_manifest(root, 3)
    kept = [e["path"] for e in m["files"]
            if not (e["partition"].get("sym") not in (None, "A"))]
    assert not any("sym=B" in p for p in kept)
    # CDF across the spec boundary: v2 -> v3 added exactly the B/d3 row
    ch = acid_changes(spark, root, from_version=2, to_version=3,
                      key=("sym", "day", "ts"))
    assert [(r.sym, r.day, r.ts, r.px, r._change_type)
            for r in ch.collect()] == [("B", "d3", 5, 5.0, "insert")]
    # upsert still merges across specs (old-spec files rewritten under
    # the spec the upsert declares)
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0)]), root,
                key=KEY, partition_by=("day",))
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 9.0), ("A", "d2", 3, 3.0), ("B", "d1", 2, 2.0),
        ("B", "d3", 5, 5.0), ("C", "d2", 4, 4.0),
    ]


def test_metadata_tables(spark, tmp_path):
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources.acid import (
        acid_file_metadata, acid_snapshots,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d2", 2, 2.0)]),
               root, partition_by=PARTS, stats_cols=("ts",))
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0)]), root,
                key=KEY, partition_by=PARTS)
    snaps = {r.version: (r.operation, r.n_rows)
             for r in acid_snapshots(spark, root).collect()}
    assert snaps == {1: ("append", 2), 2: ("upsert", 2)}
    files = acid_file_metadata(spark, root).collect()
    assert sum(r.rows for r in files) == 2
    assert all(r.bytes > 0 for r in files)
    parts = {tuple(sorted(r.partition.items())) for r in files}
    assert (("day", "d1"), ("sym", "A")) in parts
    # v1's files carry the recorded ts stats
    f1 = acid_file_metadata(spark, root, version=1).collect()
    assert any("min_ts" in r.stats for r in f1)
    # snapshots frame is queryable like any data
    growth = (
        acid_snapshots(spark, root)
        .agg(F.max("version").alias("v"), F.sum("n_files").alias("nf"))
        .collect()[0]
    )
    assert growth.v == 2 and growth.nf >= 2


def test_compact_zorder_clusters_and_records_stats(spark, tmp_path):
    """OPTIMIZE ZORDER on the ACID table: fragmented appends rewrite into
    Z-clustered files whose manifest entries carry min/max stats on BOTH
    clustering columns, so stats_filter skips files on either column;
    content is unchanged."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_compact,
    )

    root = str(tmp_path / "t")
    rows = [("A", "d1", t, float(t % 7)) for t in range(64)]
    for k in range(4):  # 4 small files in one partition
        acid_write(spark, _mk(spark, rows[k::4]), root,
                   partition_by=("sym",), stats_cols=("ts",))
    before = _snapshot(acid_read(spark, root))
    v = acid_compact(spark, root, target_mb=128,
                     zorder_cols=("ts", "px"))
    assert v is not None
    assert _snapshot(acid_read(spark, root)) == before
    m = _load_manifest(root, v)
    assert all("min_ts" in e and "min_px" in e for e in m["files"])
    # stats skipping works on the SECOND column now: a px range touching
    # nothing prunes every file
    assert acid_read(spark, root, stats_filter={"px": (99.0, 100.0)}) \
        .count() == 0


def test_mor_delete_read_time_travel_and_no_rewrite(spark, tmp_path):
    """Equality-delete basics: no data file rewritten, reads subtract at
    scan time, pre-delete time travel intact, pruned reads stay sound."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_delete_mor,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
        ("B", "d1", 1, 5.0), ("B", "d2", 1, 7.0),
    ]), root, partition_by=PARTS)
    files_before = sorted(
        e["path"] for e in _load_manifest(root, 1)["files"])
    keys = spark.createDataFrame(
        [("A", "d1", 2), ("B", "d2", 1)], "sym string, day string, ts bigint"
    )
    v = acid_delete_mor(spark, root, keys, key=KEY)
    assert v == 2
    m = _load_manifest(root, 2)
    data_paths = sorted(e["path"] for e in m["files"]
                        if e.get("kind", "data") == "data")
    assert data_paths == files_before          # zero data rewrite
    assert [e for e in m["files"] if e.get("kind") == "eq_delete"]
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("B", "d1", 1, 5.0)]
    assert len(_snapshot(acid_read(spark, root, version=1))) == 4
    # pruned read: delete files still apply inside the surviving files
    pr = acid_read(spark, root, partition_filter={"sym": "A"})
    assert _snapshot(pr) == [("A", "d1", 1, 1.0)]


def test_mor_deletes_apply_under_plus_paths(spark, tmp_path):
    """A '+' in the table root or in a partition value stays a '+' when
    scan paths are mapped back to manifest paths: equality and positional
    deletes both apply to such files."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_mor, acid_delete_pos,
    )

    root = str(tmp_path / "a+b" / "t")
    acid_write(spark, _mk(spark, [("A+", "d1", 1, 1.0), ("A+", "d1", 2, 2.0),
                                  ("A+", "d1", 3, 3.0), ("B", "d1", 1, 5.0)]),
               root, partition_by=PARTS)
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A+", "d1", 2)], "sym string, day string, ts bigint"), key=KEY)
    assert acid_delete_pos(spark, root, "ts = 3") is not None
    assert _snapshot(acid_read(spark, root)) == [
        ("A+", "d1", 1, 1.0), ("B", "d1", 1, 5.0)]


@pytest.mark.parametrize("deletes", ["equality", "positional"])
def test_mor_delete_path_lut_miss_fails_loudly(spark, tmp_path, monkeypatch,
                                               deletes):
    """A scanned file the manifest path lookup cannot map back must fail
    the read while deletes are live, not keep its rows with the delete
    silently skipped. The drift is injected into the scan's decoded path
    of one partition's files."""
    from pyspark.sql import functions as F

    from backtest_crew_datalake_spark.sources import acid

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
                                  ("B", "d1", 1, 5.0)]),
               root, partition_by=PARTS)
    if deletes == "equality":
        acid.acid_delete_mor(spark, root, spark.createDataFrame(
            [("A", "d1", 2)], "sym string, day string, ts bigint"), key=KEY)
    else:
        acid.acid_delete_pos(spark, root, "ts = 2")
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 1.0), ("B", "d1", 1, 5.0)]

    read_entries = acid._read_entries

    def drifted(*args, **kwargs):
        out = read_entries(*args, **kwargs)
        if kwargs.get("with_meta"):
            out = out.withColumn("__abs", F.when(
                F.col("sym") == "A", F.concat("__abs", F.lit("~"))
            ).otherwise(F.col("__abs")))
        return out

    monkeypatch.setattr(acid, "_read_entries", drifted)
    with pytest.raises(Exception, match="missing from the manifest path"):
        acid_read(spark, root).collect()


def test_mor_delete_sequence_semantics_reinsert(spark, tmp_path):
    """A key deleted at seq S and upserted at seq > S is VISIBLE (the
    delete applies only to files at-or-before it)."""
    from backtest_crew_datalake_spark.sources.acid import acid_delete_mor

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d1", 1, 2.0)]),
               root, partition_by=PARTS)
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 1)], "sym string, day string, ts bigint"), key=KEY)
    assert _snapshot(acid_read(spark, root)) == [("B", "d1", 1, 2.0)]
    # re-insert the deleted key at a later seq
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0)]), root,
                key=KEY, partition_by=PARTS)
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 9.0), ("B", "d1", 1, 2.0)]


def test_mor_delete_purged_by_compact_and_upsert(spark, tmp_path):
    """Rewrites PURGE merge-on-read deletes: compaction (and upserts of
    the touched partitions) re-land surviving rows at a new seq and the
    spent delete entry drops from the manifest."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_compact, acid_delete_mor, latest_version,
    )

    root = str(tmp_path / "t")
    rows = [("A", "d1", t, float(t)) for t in range(8)]
    for k in range(3):   # fragment so compaction has work
        acid_write(spark, _mk(spark, rows[k::3]), root,
                   partition_by=("sym",))
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 0), ("A", "d1", 7)],
        "sym string, day string, ts bigint"), key=KEY)
    want = sorted(r for r in rows if r[2] not in (0, 7))
    assert _snapshot(acid_read(spark, root)) == want
    v = acid_compact(spark, root, target_mb=128)
    assert v is not None
    m = _load_manifest(root, v)
    assert not [e for e in m["files"] if e.get("kind") == "eq_delete"]
    assert _snapshot(acid_read(spark, root)) == want
    # CDF across the delete version: full-snapshot fallback emits exactly
    # the two deletions
    from backtest_crew_datalake_spark.sources.acid import acid_changes
    ch = acid_changes(spark, root, from_version=3, to_version=4, key=KEY)
    got = sorted((r.sym, r.day, r.ts, r._change_type) for r in ch.collect())
    assert got == [("A", "d1", 0, "delete"), ("A", "d1", 7, "delete")]
    assert latest_version(root) == v


def test_mor_delete_then_cow_delete_no_resurrection(spark, tmp_path):
    """A copy-on-write delete rewriting a file with PENDING MoR deletes
    must not resurrect the MoR-deleted rows."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete, acid_delete_mor,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0), ("A", "d1", 3, 3.0),
    ]), root, partition_by=PARTS)
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 1)], "sym string, day string, ts bigint"), key=KEY)
    acid_delete(spark, root, "ts = 3")
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 2, 2.0)]


def test_mor_delete_guards(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_delete_mor

    root = str(tmp_path / "t")
    keys = spark.createDataFrame([("A", "d1", 1)],
                                 "sym string, day string, ts bigint")
    assert acid_delete_mor(spark, root, keys, key=KEY) is None  # no table
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    assert acid_delete_mor(
        spark, root, keys.where("ts > 99"), key=KEY) is None   # empty keys
    acid_delete_mor(spark, root, keys, key=KEY)
    import pytest as _pt
    with _pt.raises(ValueError):   # mixed delete keys
        acid_delete_mor(spark, root, keys.select("sym", "day"),
                        key=("sym", "day"))


def test_mor_delete_across_spec_evolution(spark, tmp_path):
    """MoR deletes and partition-spec evolution compose: the delete
    applies across files written under DIFFERENT specs (per-seq groups
    each split per spec internally), and a later upsert under a third
    spec re-inserts one deleted key."""
    from backtest_crew_datalake_spark.sources.acid import acid_delete_mor

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]),
               root, partition_by=("sym",))
    acid_write(spark, _mk(spark, [("A", "d2", 3, 3.0), ("C", "d2", 4, 4.0)]),
               root, partition_by=())
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 1), ("C", "d2", 4)],
        "sym string, day string, ts bigint"), key=KEY)
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d2", 3, 3.0), ("B", "d1", 2, 2.0)]
    acid_upsert(spark, _mk(spark, [("C", "d2", 4, 9.0)]), root,
                key=KEY, partition_by=("sym", "day"))
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d2", 3, 3.0), ("B", "d1", 2, 2.0), ("C", "d2", 4, 9.0)]
    # pruned read under mixed specs still subtracts the pending delete
    pr = acid_read(spark, root, partition_filter={"sym": "A"})
    assert _snapshot(pr.where("sym = 'A'")) == [("A", "d2", 3, 3.0)]


def test_streaming_delete_feed_exactly_once(spark, tmp_path):
    """MoR delete stream: batches of erasure requests apply as equality
    deletes; full replay on a fresh checkpoint is a content no-op; a key
    re-inserted after its erasure stays (sequence semantics)."""
    from backtest_crew_datalake_spark.streaming.ingest import (
        streaming_delete_feed,
    )

    src = str(tmp_path / "req")
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    kschema = "sym string, day string, ts bigint"
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0), ("B", "d1", 3, 3.0),
    ]), root, partition_by=PARTS)

    spark.createDataFrame([("A", "d1", 1)], kschema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    streaming_delete_feed(spark, src, root, ckpt, kschema, KEY)
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 2, 2.0), ("B", "d1", 3, 3.0)]

    spark.createDataFrame([("B", "d1", 3)], kschema).coalesce(1) \
        .write.mode("append").parquet(src)
    streaming_delete_feed(spark, src, root, ckpt, kschema, KEY)
    want = [("A", "d1", 2, 2.0)]
    assert _snapshot(acid_read(spark, root)) == want

    # full replay, fresh checkpoint: content no-op
    streaming_delete_feed(spark, src, root, str(tmp_path / "ck2"),
                          kschema, KEY)
    assert _snapshot(acid_read(spark, root)) == want

    # re-insert after erasure: the newer seq wins
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0)]), root,
                key=KEY, partition_by=PARTS)
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 9.0), ("A", "d1", 2, 2.0)]


def test_compact_purge_deletes_forces_erasure(spark, tmp_path):
    """purge_deletes=True: a partition whose files are well-sized (so the
    fragmentation trigger never fires) but still reachable by a live
    equality-delete entry is force-rewritten — suppressed rows leave the
    data files physically, the spent delete entry drops, and partitions
    no delete reaches are left alone (their file entries are untouched)."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_compact, acid_delete_mor,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
        ("B", "d1", 1, 5.0),
    ]).coalesce(1), root, partition_by=PARTS)  # ONE file per partition
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 1)], "sym string, day string, ts bigint"), key=KEY)
    untouched_before = {
        e["path"] for e in _load_manifest(root, latest_version(root))["files"]
        if e.get("kind", "data") == "data" and e["partition"]["sym"] == "B"
    }
    # fragmentation-triggered compaction finds nothing to do
    assert acid_compact(spark, root, target_mb=128) is None
    # ... so the delete entry (and the row, in the files) lives forever
    m = _load_manifest(root, latest_version(root))
    assert [e for e in m["files"] if e.get("kind") == "eq_delete"]

    v = acid_compact(spark, root, target_mb=128, purge_deletes=True)
    assert v is not None
    m = _load_manifest(root, v)
    assert not [e for e in m["files"] if e.get("kind") == "eq_delete"]
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 2, 2.0), ("B", "d1", 1, 5.0),
    ]
    # the unreachable partition's files were NOT rewritten
    untouched_after = {
        e["path"] for e in m["files"]
        if e.get("kind", "data") == "data" and e["partition"]["sym"] == "B"
    }
    assert untouched_after == untouched_before
    # physical erasure: no surviving DATA file content contains ts=1 for A
    # (historic snapshots still do until vacuum — documented contract)
    from backtest_crew_datalake_spark.sources.acid import _data_root
    data_root = _data_root(root)
    live = [os.path.join(data_root, e["path"]) for e in m["files"]
            if e.get("kind", "data") == "data"]
    got = spark.read.option("basePath", data_root).parquet(*live)
    assert got.where("sym = 'A' and ts = 1").count() == 0


def test_concurrent_mixed_ops_stress(spark, tmp_path):
    """r9 verdict #6: N concurrent writer threads doing mixed
    upsert / merge-on-read delete / tag traffic against ONE table must
    serialize to the state a sequential execution of each thread's
    program produces (threads own disjoint keys, so thread programs
    commute — any interleaving has one serial-equivalent answer), with a
    contiguous version chain, no dangling manifest file refs, and tags
    that survive compaction + vacuum.

    Invariants pinned:
    1. no lost updates or resurrections: final content == per-thread
       expectation (ts 0 MoR-deleted mid-program stays dead through the
       thread's LATER upsert rewrite of its own partition);
    2. linear history: versions 1..N with parent v-1 (optimistic retries
       re-based, never forked);
    3. every file entry in every surviving manifest exists on disk
       (loser cleanup never removed a winner's file);
    4. each thread's tag still resolves after purge-compact + vacuum,
       and reads as the content at tag time."""
    from backtest_crew_datalake_spark.sources.acid import (
        _data_root, _load_manifest, acid_compact, acid_delete_mor,
        acid_history, acid_tag, list_versions, resolve_tag,
    )

    root = str(tmp_path / "t")
    acid_upsert(spark, _mk(spark, [("SEED", "d1", 0, 0.0)]), root,
                KEY, PARTS)
    errs = []

    def program(t):
        sym = f"T{t}"
        try:
            acid_upsert(spark, _mk(
                spark, [(sym, "d1", ts, float(10 * t + ts))
                        for ts in range(5)]), root, KEY, PARTS)
            acid_delete_mor(spark, root, spark.createDataFrame(
                [(sym, "d1", 0)], "sym string, day string, ts bigint"),
                key=KEY)
            acid_upsert(spark, _mk(
                spark, [(sym, "d1", ts, float(10 * t + ts))
                        for ts in (5, 6)]), root, KEY, PARTS)
            acid_tag(root, f"done-{sym}")
        except Exception as e:  # pragma: no cover
            errs.append((t, e))

    threads = [threading.Thread(target=program, args=(t,))
               for t in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    want = sorted(
        [("SEED", "d1", 0, 0.0)]
        + [(f"T{t}", "d1", ts, float(10 * t + ts))
           for t in range(1, 5) for ts in range(1, 7)]
    )
    assert _snapshot(acid_read(spark, root)) == want

    # 2. linear, contiguous history
    hist = acid_history(root)
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))
    assert [h["parent"] for h in hist] == list(range(len(hist)))

    # 3. no dangling refs in ANY surviving manifest
    droot = _data_root(root)
    for v in list_versions(root):
        for entry in _load_manifest(root, v)["files"]:
            assert os.path.exists(os.path.join(droot, entry["path"])), (
                v, entry["path"])

    # 4. tags survive purge-compact + vacuum and read as tag-time content
    tag_want = {
        f"done-T{t}": resolve_tag(root, f"done-T{t}") for t in range(1, 5)
    }
    tag_rows = {
        name: _snapshot(acid_read(spark, root, version=v))
        for name, v in tag_want.items()
    }
    acid_compact(spark, root, purge_deletes=True)
    acid_vacuum(root, keep_versions=1)
    assert _snapshot(acid_read(spark, root)) == want   # content unchanged
    for name, v in tag_want.items():
        assert resolve_tag(root, name) == v
        assert _snapshot(acid_read(spark, root, tag=name)) == tag_rows[name]
    for v in list_versions(root):
        for entry in _load_manifest(root, v)["files"]:
            assert os.path.exists(os.path.join(droot, entry["path"])), (
                "post-vacuum dangling ref", v, entry["path"])


# ---------------------------------------------------------------- bloom skip

def _bloom_table(spark, tmp_path, n_users=200, parts=4):
    """4-partition table, 50 distinct user_ids per partition — bounded
    fill (~6% of a 4096-bit bitmap) so an absent-value probe skipping
    EVERY file is the overwhelmingly-expected deterministic outcome."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "bloomtab")
    df = (
        spark.range(n_users * 10)
        .select(
            (F.col("id") % n_users).alias("user_id"),
            (F.col("id") % parts).cast("string").alias("p"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
    )
    acid_write(spark, df, root, partition_by=("p",),
               bloom_cols=("user_id",))
    return root, df


def test_bloom_point_skip_no_false_negatives(spark, tmp_path):
    """The writer hashes EVERY non-null value of a file, so a point read
    through the bloom can never lose rows — for any present value the
    filtered result equals the unpruned filtered result."""
    from pyspark.sql import functions as F

    root, df = _bloom_table(spark, tmp_path)
    for uid in (0, 7, 63, 123, 199):
        want = df.where(F.col("user_id") == uid).count()
        got = (
            acid_read(spark, root, point_filter={"user_id": uid})
            .where(F.col("user_id") == uid).count()
        )
        assert got == want and want > 0


def test_bloom_point_skip_prunes_files(spark, tmp_path):
    """An absent value's probe positions miss every file's bitmap (fill
    ~6%, k=5 → false-positive odds ~1e-6 per file; the hash is fixed, so
    this is deterministic, not flaky) — the file LIST shrinks to zero
    where min/max stats (user_id spans every file) could never prune."""
    from backtest_crew_datalake_spark.sources.acid import (
        _bloom_prune, _data_entries, _load_manifest,
    )

    root, _ = _bloom_table(spark, tmp_path)
    m = _load_manifest(root, latest_version(root))
    entries = _data_entries(m["files"])
    assert all("bloom_user_id" in e for e in entries)
    kept = _bloom_prune(spark, entries, {"user_id": 987654})
    assert kept == []
    # ...and the public read returns an EMPTY frame with the right schema
    got = acid_read(spark, root, point_filter={"user_id": 987654})
    assert got.count() == 0
    assert "user_id" in got.columns
    # a needle WITHIN every file's [min, max] range — where min/max
    # stats are useless by construction — still keeps only via bloom:
    kept_in_range = _bloom_prune(spark, entries, {"user_id": 150})
    assert kept_in_range  # present value keeps its files


def test_bloom_forward_carry_through_upsert_and_compact(spark, tmp_path):
    """Rewrite paths re-derive bloom columns from the base manifest: an
    upsert that doesn't re-state bloom_cols still records bitmaps on the
    files it writes, and a new key becomes point-findable; compaction
    keeps the index too."""
    from pyspark.sql import functions as F
    from backtest_crew_datalake_spark.sources.acid import (
        _data_entries, _load_manifest, acid_compact,
    )

    root, _ = _bloom_table(spark, tmp_path)
    upd = spark.createDataFrame(
        [(5000, "2", 1)], "user_id bigint, p string, v bigint"
    )
    acid_upsert(spark, upd, root, key=("user_id", "p", "v"),
                partition_by=("p",))
    m = _load_manifest(root, latest_version(root))
    assert all("bloom_user_id" in e for e in _data_entries(m["files"]))
    got = (
        acid_read(spark, root, point_filter={"user_id": 5000})
        .where(F.col("user_id") == 5000).count()
    )
    assert got == 1
    # force fragmentation so the compaction rewrite actually runs
    extra = spark.createDataFrame(
        [(6000, str(p), 2) for p in range(4)],
        "user_id bigint, p string, v bigint",
    )
    acid_write(spark, extra, root, partition_by=("p",))
    assert acid_compact(spark, root) is not None
    m2 = _load_manifest(root, latest_version(root))
    assert all("bloom_user_id" in e for e in _data_entries(m2["files"]))
    assert (
        acid_read(spark, root, point_filter={"user_id": 6000})
        .where(F.col("user_id") == 6000).count() == 4
    )


def test_bloom_null_handling(spark, tmp_path):
    """All-null files record an all-zero bitmap (prunable by any value
    probe); a NULL probe value is outside the bloom's domain and keeps
    files."""
    from backtest_crew_datalake_spark.sources.acid import (
        _bloom_prune, _data_entries, _load_manifest,
    )

    root = str(tmp_path / "nulltab")
    df = spark.createDataFrame(
        [(None, "a"), (None, "a"), (7, "b")],
        "user_id bigint, p string",
    )
    acid_write(spark, df, root, partition_by=("p",),
               bloom_cols=("user_id",))
    m = _load_manifest(root, latest_version(root))
    entries = _data_entries(m["files"])
    kept = _bloom_prune(spark, entries, {"user_id": 7})
    assert {e["partition"]["p"] for e in kept} == {"b"}
    assert len(_bloom_prune(spark, entries, {"user_id": None})) \
        == len(entries)


# ----------------------------------------------------------- constraints

def test_constraint_rejects_bad_write_atomically(spark, tmp_path):
    """A violating write raises BEFORE any file lands: version unchanged,
    snapshot unchanged, error names the constraint and counts rows."""
    from backtest_crew_datalake_spark.sources.acid import (
        ConstraintViolation, acid_set_constraint,
    )

    root = str(tmp_path / "c1")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 10.0)]), root,
               partition_by=PARTS)
    acid_set_constraint(spark, root, "px_positive", "px > 0")
    v1 = latest_version(root)
    with pytest.raises(ConstraintViolation, match="px_positive.*2 rows"):
        acid_write(
            spark,
            _mk(spark, [("A", "d1", 2, -1.0), ("A", "d1", 3, -2.0),
                        ("A", "d1", 4, 5.0)]),
            root, partition_by=PARTS,
        )
    assert latest_version(root) == v1
    assert acid_read(spark, root).count() == 1
    # the upsert path gates too
    with pytest.raises(ConstraintViolation):
        acid_upsert(spark, _mk(spark, [("A", "d1", 1, -9.0)]), root,
                    key=KEY, partition_by=PARTS)
    # good writes still pass
    acid_upsert(spark, _mk(spark, [("A", "d1", 2, 7.0)]), root,
                key=KEY, partition_by=PARTS)
    assert acid_read(spark, root).count() == 2


def test_constraint_add_scans_existing_and_drop_releases(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        ConstraintViolation, acid_drop_constraint, acid_set_constraint,
    )

    root = str(tmp_path / "c2")
    acid_write(spark, _mk(spark, [("A", "d1", 1, -5.0)]), root,
               partition_by=PARTS)
    # existing violation -> the ADD itself fails (ALTER TABLE contract)
    with pytest.raises(ConstraintViolation, match="existing rows"):
        acid_set_constraint(spark, root, "px_positive", "px > 0")
    acid_set_constraint(spark, root, "px_floor", "px > -100")
    with pytest.raises(ConstraintViolation):
        acid_write(spark, _mk(spark, [("A", "d1", 2, -200.0)]), root,
                   partition_by=PARTS)
    acid_drop_constraint(root, "px_floor")
    acid_write(spark, _mk(spark, [("A", "d1", 2, -200.0)]), root,
               partition_by=PARTS)
    assert acid_read(spark, root).count() == 2
    with pytest.raises(KeyError):
        acid_drop_constraint(root, "px_floor")


def test_constraint_null_semantics_standard_check(spark, tmp_path):
    """UNKNOWN (null) passes CHECK — only FALSE violates (SQL standard,
    Delta's behavior). NOT NULL is expressed as an explicit constraint."""
    from backtest_crew_datalake_spark.sources.acid import (
        ConstraintViolation, acid_set_constraint,
    )

    root = str(tmp_path / "c3")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    acid_set_constraint(spark, root, "px_positive", "px > 0")
    # null px -> CHECK is UNKNOWN -> passes
    acid_write(spark, _mk(spark, [("A", "d1", 2, None)]), root,
               partition_by=PARTS)
    assert acid_read(spark, root).count() == 2
    acid_set_constraint(spark, root, "ts_not_null", "ts IS NOT NULL")
    with pytest.raises(ConstraintViolation, match="ts_not_null"):
        acid_write(spark, _mk(spark, [("A", "d1", None, 3.0)]), root,
                   partition_by=PARTS)


# ----------------------------------------------------------------- clone

def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """Clone reads the source snapshot without copying a byte; writes on
    the clone diverge (source unchanged); writes on the source after the
    clone are invisible to the clone (snapshot semantics)."""
    import os

    from backtest_crew_datalake_spark.sources.acid import acid_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d2", 2, 2.0)]),
               src, partition_by=PARTS)
    acid_clone(spark, src, dst)
    # zero copy: the clone's data root holds no files yet
    n_files = sum(len(fs) for _, _, fs in os.walk(f"{dst}/_acid/data"))
    assert n_files == 0
    assert sorted(r["sym"] for r in acid_read(spark, dst).collect()) \
        == ["A", "B"]
    # clone diverges without touching the source
    acid_upsert(spark, _mk(spark, [("A", "d1", 1, 9.0), ("C", "d3", 3, 3.0)]),
                dst, key=KEY, partition_by=PARTS)
    assert acid_read(spark, dst).count() == 3
    assert {r["px"] for r in acid_read(spark, dst)
            .where("sym = 'A'").collect()} == {9.0}
    assert acid_read(spark, src).count() == 2
    assert {r["px"] for r in acid_read(spark, src)
            .where("sym = 'A'").collect()} == {1.0}
    # source writes after the clone are invisible to the clone
    acid_write(spark, _mk(spark, [("D", "d4", 4, 4.0)]), src,
               partition_by=PARTS)
    assert acid_read(spark, dst).count() == 3


def test_clone_vacuum_never_touches_source_files(spark, tmp_path):
    """The clone's vacuum deletes only clone-owned files: after the clone
    fully rewrites its table and vacuums, every source file still exists
    and the source still reads."""
    import os

    from backtest_crew_datalake_spark.sources.acid import acid_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d2", 2, 2.0)]),
               src, partition_by=PARTS)
    src_files = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(f"{src}/_acid/data") for f in fs
    }
    acid_clone(spark, src, dst)
    acid_write(spark, _mk(spark, [("E", "d5", 5, 5.0)]), dst,
               mode="overwrite", partition_by=PARTS)
    acid_vacuum(dst, keep_versions=1)
    for f in src_files:
        assert os.path.exists(f)
    assert acid_read(spark, src).count() == 2
    assert acid_read(spark, dst).count() == 1


def test_clone_of_version_tag_and_constraints(spark, tmp_path):
    """Cloning a pinned version/tag reproduces THAT snapshot; constraints
    copy as of clone time; double-clone to the same dst fails."""
    from backtest_crew_datalake_spark.sources.acid import (
        ConstraintViolation, acid_clone, acid_set_constraint, acid_tag,
    )

    src = str(tmp_path / "src")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), src,
               partition_by=PARTS)
    acid_tag(src, "v1")
    acid_set_constraint(spark, src, "px_positive", "px > 0")
    acid_write(spark, _mk(spark, [("B", "d2", 2, 2.0)]), src,
               partition_by=PARTS)

    d1 = str(tmp_path / "d1")
    acid_clone(spark, src, d1, tag="v1")
    assert acid_read(spark, d1).count() == 1
    with pytest.raises(ConstraintViolation):
        acid_write(spark, _mk(spark, [("X", "d9", 9, -1.0)]), d1,
                   partition_by=PARTS)
    d2 = str(tmp_path / "d2")
    acid_clone(spark, src, d2)
    assert acid_read(spark, d2).count() == 2
    with pytest.raises(FileExistsError):
        acid_clone(spark, src, d2)


def test_clone_cow_delete_and_compact_on_inherited_files(spark, tmp_path):
    """Rewrite paths work over inherited absolute entries: a CoW delete
    on the clone rewrites the hit source files into clone-owned files
    (source untouched); compaction of mixed inherited+own partitions
    preserves content."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_clone, acid_compact, acid_delete,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    rows = [("A", "d1", i, float(i)) for i in range(1, 5)] + \
           [("B", "d2", i, float(i)) for i in range(1, 5)]
    acid_write(spark, _mk(spark, rows), src, partition_by=PARTS)
    acid_clone(spark, src, dst)
    acid_delete(spark, dst, "px >= 3.0")
    assert acid_read(spark, dst).count() == 4
    assert acid_read(spark, src).count() == 8
    # fragment the clone, then compact: content invariant
    acid_write(spark, _mk(spark, [("A", "d1", 9, 9.0)]), dst,
               partition_by=PARTS)
    before = sorted(
        (r["sym"], r["ts"]) for r in acid_read(spark, dst).collect()
    )
    acid_compact(spark, dst)
    after = sorted(
        (r["sym"], r["ts"]) for r in acid_read(spark, dst).collect()
    )
    assert before == after


def test_constraint_quarantine_diverts_and_commits_clean(spark, tmp_path):
    """on_violation='quarantine': the commit proceeds with the clean
    rows; violators land in the table's quarantine ACID table tagged
    with the constraint names they failed; repeat writes append; the
    reject default is unchanged."""
    from pyspark.sql import functions as F
    from backtest_crew_datalake_spark.sources.acid import (
        acid_quarantine, acid_set_constraint,
    )

    root = str(tmp_path / "q1")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    acid_set_constraint(spark, root, "px_positive", "px > 0")
    acid_set_constraint(spark, root, "ts_small", "ts < 100")
    acid_write(
        spark,
        _mk(spark, [("A", "d1", 2, -1.0),      # fails px_positive
                    ("A", "d1", 999, -2.0),    # fails both
                    ("A", "d1", 3, 5.0)]),     # clean
        root, partition_by=PARTS, on_violation="quarantine",
    )
    assert acid_read(spark, root).count() == 2  # 1 seed + 1 clean
    q = acid_quarantine(spark, root)
    got = sorted((r["ts"], r["__violated"]) for r in q.collect())
    assert got == [(2, "px_positive"), (999, "px_positive,ts_small")]
    # upsert path quarantines too, appending
    acid_upsert(spark, _mk(spark, [("A", "d1", 4, -9.0)]), root,
                key=KEY, partition_by=PARTS, on_violation="quarantine")
    assert acid_quarantine(spark, root).count() == 3
    assert acid_read(spark, root).where(F.col("px") < 0).count() == 0
    # clean batches don't touch the quarantine
    acid_write(spark, _mk(spark, [("B", "d2", 5, 5.0)]), root,
               partition_by=PARTS, on_violation="quarantine")
    assert acid_quarantine(spark, root).count() == 3


def test_clone_mor_delete_suppresses_inherited_high_seq(spark, tmp_path):
    """ADVICE r10 (high): a clone of a source at version N > 2 inherits
    data entries stamped with SOURCE seqs up to N; a delete-mor on the
    clone must be stamped ABOVE every inherited seq or it silently fails
    to suppress the files committed at source seqs 3..N."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_clone, acid_delete_mor,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # source versions 1..4: inherited entries carry seqs 1..4
    for i in range(1, 5):
        acid_write(spark, _mk(spark, [(f"S{i}", "d1", i, float(i))]),
                   src, partition_by=PARTS)
    acid_clone(spark, src, dst)
    # delete a key that lives in the seq-4 file (the worst case)
    v = acid_delete_mor(spark, dst, spark.createDataFrame(
        [("S4", "d1", 4)], "sym string, day string, ts bigint"), key=KEY)
    assert v == 2
    m = _load_manifest(dst, v)
    dels = [e for e in m["files"] if e.get("kind") == "eq_delete"]
    assert dels and all(
        int(d["seq"]) > max(int(e.get("seq", 0)) for e in m["files"]
                            if e.get("kind", "data") == "data")
        for d in dels
    )
    assert _snapshot(acid_read(spark, dst)) == [
        ("S1", "d1", 1, 1.0), ("S2", "d1", 2, 2.0), ("S3", "d1", 3, 3.0)]
    # the source is untouched
    assert acid_read(spark, src).count() == 4


def test_clone_inherited_pending_eq_delete(spark, tmp_path):
    """A clone of a snapshot carrying a PENDING eq_delete entry (source
    seq S) must (a) keep suppressing the inherited rows it reached and
    (b) never suppress rows the clone itself writes afterwards — the
    clone's new seqs must dominate the inherited delete's seq."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_clone, acid_delete_mor,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]),
               src, partition_by=PARTS)
    acid_write(spark, _mk(spark, [("C", "d2", 3, 3.0)]), src,
               partition_by=PARTS)
    # pending MoR delete at source seq 3 reaches the seq-1/2 data files
    acid_delete_mor(spark, src, spark.createDataFrame(
        [("A", "d1", 1)], "sym string, day string, ts bigint"), key=KEY)
    acid_clone(spark, src, dst)
    assert _snapshot(acid_read(spark, dst)) == [
        ("B", "d1", 2, 2.0), ("C", "d2", 3, 3.0)]
    # re-insert the deleted key ON THE CLONE: its write seq must sit
    # above the inherited delete (seq 3), so the row is visible
    acid_write(spark, _mk(spark, [("A", "d1", 1, 9.0)]), dst,
               partition_by=PARTS)
    assert _snapshot(acid_read(spark, dst)) == [
        ("A", "d1", 1, 9.0), ("B", "d1", 2, 2.0), ("C", "d2", 3, 3.0)]
    # and an upsert rewrite on the clone must not resurrect nor lose rows
    acid_upsert(spark, _mk(spark, [("B", "d1", 2, 8.0)]), dst,
                key=KEY, partition_by=PARTS)
    assert _snapshot(acid_read(spark, dst)) == [
        ("A", "d1", 1, 9.0), ("B", "d1", 2, 8.0), ("C", "d2", 3, 3.0)]


def test_branch_mor_delete_after_fork(spark, tmp_path):
    """Branches fork with inherited source seqs too (acid_branch commits
    the fork as the branch's v1): a delete-mor on a branch forked from
    main@3 must suppress rows in files stamped at main seqs 2..3."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_branch, acid_delete_mor,
    )

    root = str(tmp_path / "t")
    for i in range(1, 4):
        acid_write(spark, _mk(spark, [(f"S{i}", "d1", i, float(i))]),
                   root, partition_by=PARTS)
    acid_branch(root, "dev")
    v = acid_delete_mor(spark, root, spark.createDataFrame(
        [("S3", "d1", 3)], "sym string, day string, ts bigint"),
        key=KEY, branch="dev")
    assert v == 2
    assert _snapshot(acid_read(spark, root, branch="dev")) == [
        ("S1", "d1", 1, 1.0), ("S2", "d1", 2, 2.0)]
    assert acid_read(spark, root).count() == 3  # main untouched


def test_bloom_probe_spark_rendering_no_false_negative(spark, tmp_path):
    """ADVICE r10 (medium): the writer indexes Spark's CAST(x AS STRING)
    rendering; the probe must render the SAME way. Python str(1e-07) is
    '1e-07' but Spark renders '1.0E-7' — a Python-rendered probe would
    bloom-prune the file that contains the value (lost rows)."""
    import datetime
    from decimal import Decimal

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1e-07, Decimal("1.50"), datetime.datetime(2024, 1, 2, 3, 4, 5,
                                                       microsecond=123456)),
         (2, 2.5, Decimal("7.25"), datetime.datetime(2025, 6, 7, 8, 9, 10))],
        "id bigint, px double, amt decimal(10,2), ts timestamp",
    )
    acid_write(spark, df, root, bloom_cols=("px", "amt", "ts"))
    # float: Spark renders 1e-07 as '1.0E-7'
    got = acid_read(spark, root, point_filter={"px": 1e-07}) \
        .where("px = 1e-07")
    assert [r["id"] for r in got.collect()] == [1]
    # Decimal and microsecond timestamps render differently too
    got = acid_read(spark, root, point_filter={"amt": Decimal("7.25")}) \
        .where("amt = 7.25")
    assert [r["id"] for r in got.collect()] == [2]
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, microsecond=123456)
    got = acid_read(spark, root, point_filter={"ts": ts})
    assert 1 in {r["id"] for r in got.collect()}
    # and a truly absent value still prunes (no conservative give-up)
    assert acid_read(spark, root, point_filter={"px": 3.75}) \
        .where("px = 3.75").count() == 0


def test_concurrent_clone_constraint_compact_stress(spark, tmp_path):
    """r10 verdict #5: concurrency stress over the round-10 surfaces —
    quarantine-mode writers (some rows violating a CHECK constraint)
    racing a compaction loop and a cloning thread.

    Invariants pinned:
    1. clone isolation: the clone reads exactly the source content at
       the cloned (tag-pinned) version plus the clone's OWN divergence,
       no matter how many source rewrites/compactions happen after;
    2. quarantine-table consistency: exactly the violating rows land in
       the quarantine (tagged with the constraint name), exactly the
       clean rows land in the main table — no row lost, duplicated, or
       misrouted under contention;
    3. the source's purge-compact + vacuum never sever the tag-pinned
       clone, and no manifest in either table dangles."""
    import time

    from backtest_crew_datalake_spark.sources.acid import (
        _data_root, _load_manifest, acid_clone, acid_compact,
        acid_quarantine, acid_set_constraint, acid_tag, list_versions,
        resolve_tag,
    )

    root = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    acid_upsert(spark, _mk(spark, [("SEED", "d1", 0, 0.0)]), root,
                KEY, PARTS)
    # DDL before the writers start — constraint DDL is documented
    # single-maintainer (validate-then-publish)
    acid_set_constraint(spark, root, "px_nonneg", "px >= 0")
    errs = []
    first_batch = threading.Event()
    clone_info = {}

    def writer(t):
        sym = f"W{t}"
        try:
            for b in range(3):
                rows = [(sym, "d1", 10 * b + i, float(10 * b + i))
                        for i in range(3)]
                rows.append((sym, "d1", 10 * b + 9, -1.0))  # violator
                acid_write(spark, _mk(spark, rows), root,
                           partition_by=PARTS, on_violation="quarantine")
                first_batch.set()
        except Exception as e:  # pragma: no cover
            errs.append(("writer", t, e))

    def compactor():
        try:
            for _ in range(3):
                acid_compact(spark, root, target_mb=1)
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover
            errs.append(("compact", e))

    def cloner():
        try:
            first_batch.wait(timeout=60)
            acid_tag(root, "clone-pin")
            v = resolve_tag(root, "clone-pin")
            expected = _snapshot(acid_read(spark, root, version=v))
            acid_clone(spark, root, dst, tag="clone-pin")
            acid_upsert(spark, _mk(spark, [("CLONE", "d9", 1, 42.0)]),
                        dst, KEY, PARTS)
            clone_info["v"] = v
            clone_info["expected"] = expected
        except Exception as e:  # pragma: no cover
            errs.append(("clone", e))

    threads = (
        [threading.Thread(target=writer, args=(t,)) for t in range(1, 4)]
        + [threading.Thread(target=compactor),
           threading.Thread(target=cloner)]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    # 2. routing: main == seed + all clean rows, quarantine == violators
    want_main = sorted(
        [("SEED", "d1", 0, 0.0)]
        + [(f"W{t}", "d1", 10 * b + i, float(10 * b + i))
           for t in range(1, 4) for b in range(3) for i in range(3)]
    )
    assert _snapshot(acid_read(spark, root)) == want_main
    q = acid_quarantine(spark, root)
    got_q = sorted((r["sym"], r["ts"], r["px"], r["__violated"])
                   for r in q.collect())
    assert got_q == sorted(
        (f"W{t}", 10 * b + 9, -1.0, "px_nonneg")
        for t in range(1, 4) for b in range(3)
    )

    # 1. clone isolation under source churn
    want_clone = sorted(clone_info["expected"]
                        + [("CLONE", "d9", 1, 42.0)])
    assert _snapshot(acid_read(spark, dst)) == want_clone

    # 3. source purge-compact + vacuum: tag pin keeps the cloned files
    acid_compact(spark, root, purge_deletes=True, target_mb=1)
    acid_vacuum(root, keep_versions=1)
    assert _snapshot(acid_read(spark, root)) == want_main
    assert _snapshot(acid_read(spark, dst)) == want_clone
    for troot in (root, dst):
        droot = _data_root(troot)
        for v in list_versions(troot):
            for entry in _load_manifest(troot, v)["files"]:
                p = entry["path"]
                full = p if os.path.isabs(p) else os.path.join(droot, p)
                assert os.path.exists(full), (troot, v, p)


def test_merge_conditional_clauses(spark, tmp_path):
    """Conditional MERGE INTO: WHEN MATCHED AND cond UPDATE / DELETE,
    WHEN NOT MATCHED AND cond INSERT — Delta clause-order semantics."""
    from backtest_crew_datalake_spark.sources.acid import acid_merge

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 10.0),   # matched, delete-cond true -> deleted
        ("B", "d1", 2, 10.0),   # matched, update-cond true -> updated
        ("C", "d1", 3, 99.0),   # matched, no cond true -> kept as-is
        ("D", "d2", 4, 4.0),    # unmatched target -> survives
    ]), root, partition_by=PARTS)
    src = _mk(spark, [
        ("A", "d1", 1, -1.0),
        ("B", "d1", 2, 20.0),
        ("C", "d1", 3, 5.0),    # update cond s.px > t.px is FALSE (5<99)
        ("E", "d1", 5, 50.0),   # insert cond true
        ("F", "d1", 6, 0.5),    # insert cond false (px < 1)
    ])
    v = acid_merge(
        spark, src, root, key=KEY,
        when_matched_delete="s.px < 0",
        when_matched_update="s.px > t.px",
        when_not_matched_insert="s.px >= 1",
        partition_by=PARTS,
    )
    assert v == 2
    assert _snapshot(acid_read(spark, root)) == [
        ("B", "d1", 2, 20.0), ("C", "d1", 3, 99.0),
        ("D", "d2", 4, 4.0), ("E", "d1", 5, 50.0)]
    # time travel to pre-merge intact
    assert len(_snapshot(acid_read(spark, root, version=1))) == 4


def test_merge_unconditional_and_partition_scope(spark, tmp_path):
    """Default clauses (update all matched, insert all unmatched) ==
    upsert; untouched partitions' files carry over unrewritten."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_merge,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("Z", "d9", 9, 9.0),
    ]), root, partition_by=PARTS)
    before = {
        e["path"] for e in _load_manifest(root, 1)["files"]
        if e["partition"].get("sym") == "Z"
    }
    acid_merge(spark, _mk(spark, [
        ("A", "d1", 1, 2.0), ("B", "d1", 2, 3.0),
    ]), root, key=KEY, partition_by=PARTS)
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 1, 2.0), ("B", "d1", 2, 3.0), ("Z", "d9", 9, 9.0)]
    after = {
        e["path"] for e in _load_manifest(root, 2)["files"]
        if e["partition"].get("sym") == "Z"
    }
    assert before == after  # Z's file carried over, not rewritten


def test_merge_multiple_source_rows_error(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_merge

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    src = _mk(spark, [("A", "d1", 1, 2.0), ("A", "d1", 1, 3.0)])
    with pytest.raises(ValueError, match="multiple rows"):
        acid_merge(spark, src, root, key=KEY, partition_by=PARTS)


def test_merge_respects_constraints_and_mor(spark, tmp_path):
    """Merge gates exactly the rows it writes; matched keys deleted via
    MoR before the merge do not resurrect through the rewrite."""
    from backtest_crew_datalake_spark.sources.acid import (
        ConstraintViolation, acid_delete_mor, acid_merge,
        acid_set_constraint,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("B", "d1", 2, 2.0)]),
               root, partition_by=PARTS)
    acid_set_constraint(spark, root, "px_pos", "px > 0")
    # MoR-delete B, then merge-touch its partition: B must stay dead
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("B", "d1", 2)], "sym string, day string, ts bigint"), key=KEY)
    acid_merge(spark, _mk(spark, [("A", "d1", 1, 5.0)]), root, key=KEY,
               partition_by=PARTS)
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 5.0)]
    # a violating UPDATE rejects before anything commits
    with pytest.raises(ConstraintViolation):
        acid_merge(spark, _mk(spark, [("A", "d1", 1, -5.0)]), root,
                   key=KEY, partition_by=PARTS)
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 5.0)]


def test_replace_where_slice_overwrite(spark, tmp_path):
    """replaceWhere: one commit deletes the slice and lands the new
    rows; untouched files carry over; out-of-slice incoming rows are
    refused before anything is written."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_replace_where,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [
        ("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0),
        ("B", "d2", 3, 3.0), ("C", "d3", 4, 4.0),
    ]), root, partition_by=PARTS)
    before_c = {
        e["path"] for e in _load_manifest(root, 1)["files"]
        if e["partition"].get("sym") == "C"
    }
    v = acid_replace_where(
        spark, _mk(spark, [("A", "d1", 9, 9.0), ("B", "d2", 8, 8.0)]),
        root, "sym IN ('A', 'B')",
    )
    assert v == 2
    assert _snapshot(acid_read(spark, root)) == [
        ("A", "d1", 9, 9.0), ("B", "d2", 8, 8.0), ("C", "d3", 4, 4.0)]
    after_c = {
        e["path"] for e in _load_manifest(root, 2)["files"]
        if e["partition"].get("sym") == "C"
    }
    assert before_c == after_c        # untouched partition carried over
    assert len(_snapshot(acid_read(spark, root, version=1))) == 4
    # out-of-slice incoming rows refuse loudly, nothing committed
    with pytest.raises(ValueError, match="outside the replaced slice"):
        acid_replace_where(
            spark, _mk(spark, [("Z", "d9", 1, 1.0)]), root, "sym = 'A'")
    assert latest_version(root) == 2


def test_replace_where_empty_slice_and_mor(spark, tmp_path):
    """A predicate matching nothing still lands the new rows (pure
    insert); a MoR-deleted key inside a rewritten file stays dead."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_mor, acid_replace_where,
    )

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0), ("A", "d1", 2, 2.0)]),
               root, partition_by=PARTS)
    acid_delete_mor(spark, root, spark.createDataFrame(
        [("A", "d1", 2)], "sym string, day string, ts bigint"), key=KEY)
    # replace ts=1 slice: the rewrite touches A's file; ts=2 must not
    # resurrect through the new seq
    acid_replace_where(
        spark, _mk(spark, [("A", "d1", 1, 7.0)]), root, "ts = 1")
    assert _snapshot(acid_read(spark, root)) == [("A", "d1", 1, 7.0)]
    # nothing matches: behaves as append of the slice
    acid_replace_where(
        spark, _mk(spark, [("D", "d4", 40, 4.0)]), root, "sym = 'D'")
    assert ("D", "d4", 40, 4.0) in _snapshot(acid_read(spark, root))


# ---------------------------------------------------------------------------
# positional deletes (Iceberg v2 position-delete files)


def _pos_table(spark, tmp_path):
    from pyspark.sql import functions as F

    root = str(tmp_path / "pos")
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
        (F.col("id") * 10.0).alias("v"))
    acid_write(spark, df, root, partition_by=("g",))
    return root


def test_delete_pos_predicate_no_rewrite(spark, tmp_path):
    """A positional delete commits only a coordinates file: data file
    paths are byte-identical before/after, and any predicate works —
    no key columns required."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_pos, acid_file_metadata)

    root = _pos_table(spark, tmp_path)
    before = {r["path"] for r in acid_file_metadata(spark, root).collect()}
    v = acid_delete_pos(spark, root, "v >= 100 AND k % 2 = 0")
    assert v == 2
    after = {
        r["path"]
        for r in acid_file_metadata(spark, root, version=v).collect()
        if r["kind"] == "data"
    }
    assert before == after  # zero data files rewritten
    got = {r.k for r in acid_read(spark, root).collect()}
    want = {k for k in range(60) if not (k * 10.0 >= 100 and k % 2 == 0)}
    assert got == want
    # time travel still sees the pre-delete rows
    assert acid_read(spark, root, version=1).count() == 60


def test_delete_pos_null_predicate_rows_survive(spark, tmp_path):
    from pyspark.sql import functions as F
    from backtest_crew_datalake_spark.sources.acid import acid_delete_pos

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], "k long, v double")
    acid_write(spark, df, root)
    acid_delete_pos(spark, root, "v > 10")
    assert {r.k for r in acid_read(spark, root).collect()} == {1, 2}


def test_delete_pos_no_match_returns_none(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_delete_pos

    root = _pos_table(spark, tmp_path)
    assert acid_delete_pos(spark, root, "k > 1000") is None
    assert latest_version(root) == 1


def test_delete_pos_never_reaches_new_files(spark, tmp_path):
    """Path-addressed coordinates: an upsert that re-inserts a deleted
    row writes a NEW file, which no existing pos-delete entry targets."""
    from backtest_crew_datalake_spark.sources.acid import acid_delete_pos

    root = _pos_table(spark, tmp_path)
    acid_delete_pos(spark, root, "k IN (0, 3, 6)")
    gone = {r.k for r in acid_read(spark, root).collect()}
    assert not gone & {0, 3, 6}
    up = spark.createDataFrame([(0, 0, 999.0)], "k long, g long, v double")
    acid_upsert(spark, up, root, key=("k",), partition_by=("g",))
    got = {r.k: r.v for r in acid_read(spark, root).collect()}
    assert got[0] == 999.0   # re-insert visible
    assert 3 not in got and 6 not in got  # untouched partitions stay gone


def test_delete_pos_stacks_and_purges(spark, tmp_path):
    """Stacked pos deletes all apply; purge compaction physically
    rewrites targeted partitions, drops the spent entries, and the
    row set is unchanged."""
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, _pos_entries, acid_compact, acid_delete_pos)

    root = _pos_table(spark, tmp_path)
    acid_delete_pos(spark, root, "k % 5 = 0")
    acid_delete_pos(spark, root, "k % 7 = 1")
    before = sorted((r.k, r.v) for r in acid_read(spark, root).collect())
    v = acid_compact(spark, root, purge_deletes=True)
    assert v is not None
    after = sorted((r.k, r.v) for r in acid_read(spark, root).collect())
    assert before == after
    m = _load_manifest(root, latest_version(root))
    assert not _pos_entries(m["files"])  # spent entries dropped
    # and the fast path is back: no delete entries at all
    assert all(e.get("kind", "data") == "data" for e in m["files"])


def test_delete_pos_mixes_with_eq_deletes(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_mor, acid_delete_pos)

    root = _pos_table(spark, tmp_path)
    acid_delete_mor(spark, root,
                    spark.createDataFrame([(2,), (4,)], "k long"),
                    key=("k",))
    acid_delete_pos(spark, root, "k IN (1, 3)")
    got = {r.k for r in acid_read(spark, root).collect()}
    assert not got & {1, 2, 3, 4}
    assert 5 in got and len(got) == 56


def test_clone_refuses_pending_pos_deletes(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_clone, acid_compact, acid_delete_pos)

    root = _pos_table(spark, tmp_path)
    acid_delete_pos(spark, root, "k = 1")
    with pytest.raises(ValueError, match="positional-delete"):
        acid_clone(spark, root, str(tmp_path / "c1"))
    acid_compact(spark, root, purge_deletes=True)
    assert acid_clone(spark, root, str(tmp_path / "c2")) == 1
    assert acid_read(spark, str(tmp_path / "c2")).count() == 59


def test_changes_feed_correct_across_pos_delete(spark, tmp_path):
    """CDF across a pos-delete commit: the full-snapshot-diff fallback
    must emit exactly the deleted rows as 'delete'."""
    from backtest_crew_datalake_spark.sources.acid import (
        acid_changes, acid_delete_pos)

    root = _pos_table(spark, tmp_path)
    acid_delete_pos(spark, root, "k IN (10, 20)")
    ch = acid_changes(spark, root, 1, 2)
    rows = [(r["_change_type"], r.k) for r in ch.collect()]
    assert sorted(rows) == [("delete", 10), ("delete", 20)]


# --------------------------------------------------------------------------
# Column mapping: rename / drop without rewrite (Delta columnMapping /
# Iceberg field-id shape, name-based). Internal state stays PHYSICAL;
# logical names exist only at the API boundary (acid.py column-mapping
# section).
# --------------------------------------------------------------------------


def test_rename_column_is_metadata_only_and_time_travels(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        _load_manifest, acid_rename_column)

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")],
        "id bigint, val double, cat string")
    v1 = acid_write(spark, df, root, stats_cols=("id",))
    files_v1 = [e["path"] for e in _load_manifest(root, v1)["files"]]
    v2 = acid_rename_column(spark, root, "val", "amount")
    # metadata-only: the file list is identical — nothing rewritten
    assert [e["path"] for e in _load_manifest(root, v2)["files"]] \
        == files_v1
    got = acid_read(spark, root)
    assert set(got.columns) == {"id", "amount", "cat"}
    assert {(r.id, r.amount) for r in got.collect()} \
        == {(1, 10.0), (2, 20.0)}
    # time travel to the pre-rename version still sees the old name
    assert set(acid_read(spark, root, version=v1).columns) \
        == {"id", "val", "cat"}


def test_write_and_upsert_after_rename_use_logical_name(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_rename_column)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 10.0)], "id bigint, val double"), root)
    acid_rename_column(spark, root, "val", "amount")
    acid_write(spark, spark.createDataFrame(
        [(2, 20.0)], "id bigint, amount double"), root)
    acid_upsert(spark, spark.createDataFrame(
        [(1, 99.0), (3, 30.0)], "id bigint, amount double"),
        root, key=("id",))
    got = {(r.id, r.amount) for r in acid_read(spark, root).collect()}
    assert got == {(1, 99.0), (2, 20.0), (3, 30.0)}


def test_drop_column_then_readd_does_not_resurrect(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_column_mapping, acid_drop_column)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, "OLD")], "id bigint, cat string"), root)
    acid_drop_column(spark, root, "cat")
    assert set(acid_read(spark, root).columns) == {"id"}
    # re-add a column with the SAME logical name: fresh physical —
    # the retired column's bytes must stay invisible
    acid_write(spark, spark.createDataFrame(
        [(2, "NEW")], "id bigint, cat string"), root)
    got = {(r.id, r.cat) for r in acid_read(spark, root).collect()}
    assert got == {(1, None), (2, "NEW")}
    assert acid_column_mapping(root)["cat"] != "cat"


def test_rename_partition_column_and_filters_translate(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_rename_column)

    root = str(tmp_path / "t")
    df = _mk(spark, [("A", "d1", 1, 1.0), ("B", "d2", 2, 2.0)])
    acid_write(spark, df, root, partition_by=PARTS, stats_cols=("ts",))
    acid_rename_column(spark, root, "sym", "symbol")
    # logical-name partition filter routes to the physical directory
    got = acid_read(spark, root, partition_filter={"symbol": "A"})
    assert {r.symbol for r in got.collect()} == {"A"}
    # upsert keyed/partitioned by the NEW logical name
    df2 = spark.createDataFrame(
        [("A", "d1", 1, 9.0)], "symbol string, day string, ts bigint, "
        "px double")
    acid_upsert(spark, df2, root, key=("symbol", "day", "ts"),
                partition_by=("symbol", "day"))
    got = {(r.symbol, r.px) for r in acid_read(spark, root).collect()}
    assert got == {("A", 9.0), ("B", 2.0)}


def test_drop_partition_column_refused(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import acid_drop_column

    root = str(tmp_path / "t")
    acid_write(spark, _mk(spark, [("A", "d1", 1, 1.0)]), root,
               partition_by=PARTS)
    with pytest.raises(ValueError, match="partition column"):
        acid_drop_column(spark, root, "sym")


def test_rename_collision_and_missing_column_errors(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_rename_column)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 2.0)], "id bigint, val double"), root)
    with pytest.raises(ValueError, match="already exists"):
        acid_rename_column(spark, root, "val", "id")
    with pytest.raises(KeyError):
        acid_rename_column(spark, root, "nope", "x")


def test_mapped_table_refuses_unported_ops_loudly(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete, acid_merge, acid_rename_column, acid_replace_where)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 2.0)], "id bigint, val double"), root)
    acid_rename_column(spark, root, "val", "amount")
    src = spark.createDataFrame([(1, 3.0)], "id bigint, amount double")
    # predicate/condition-SQL ops can't translate identifiers safely —
    # they refuse instead of corrupting
    with pytest.raises(NotImplementedError):
        acid_delete(spark, root, "id = 1")
    with pytest.raises(NotImplementedError):
        acid_merge(spark, src, root, key=("id",))
    with pytest.raises(NotImplementedError):
        acid_replace_where(spark, src, root, "id = 1")


def test_delete_mor_translates_renamed_key(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_delete_mor, acid_rename_column)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "uid bigint, val double"), root)
    acid_rename_column(spark, root, "uid", "user_id")
    # equality delete keyed by the NEW logical name (structured keys —
    # translatable, unlike predicate SQL)
    keys = spark.createDataFrame([(1,)], "user_id bigint")
    v = acid_delete_mor(spark, root, keys, key=("user_id",))
    assert v is not None
    got = acid_read(spark, root)
    assert set(got.columns) == {"user_id", "val"}
    assert {(r.user_id, r.val) for r in got.collect()} == {(2, 20.0)}
    # a dropped/unknown key column is refused loudly
    from backtest_crew_datalake_spark.sources.acid import acid_drop_column
    acid_drop_column(spark, root, "val")
    with pytest.raises(KeyError):
        acid_delete_mor(spark, root,
                        spark.createDataFrame([(9.0,)], "val double"),
                        key=("val",))


def test_changes_feed_projects_to_end_version_logical_view(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_changes, acid_rename_column)

    root = str(tmp_path / "t")
    acid_write(spark, spark.createDataFrame(
        [(1, 10.0)], "id bigint, val double"), root)
    acid_rename_column(spark, root, "val", "amount")
    v_mid = acid_write(spark, spark.createDataFrame(
        [(2, 20.0)], "id bigint, amount double"), root)
    ch = acid_changes(spark, root, from_version=1, to_version=v_mid,
                      key=("id",))
    assert set(ch.columns) == {"id", "amount", "_change_type"}
    assert {(r.id, r._change_type) for r in ch.collect()} \
        == {(2, "insert")}


def test_clone_and_branch_carry_column_mapping(spark, tmp_path):
    from backtest_crew_datalake_spark.sources.acid import (
        acid_branch, acid_clone, acid_rename_column)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    acid_write(spark, spark.createDataFrame(
        [(1, 10.0)], "id bigint, val double"), src)
    acid_rename_column(spark, src, "val", "amount")
    acid_clone(spark, src, dst)
    assert set(acid_read(spark, dst).columns) == {"id", "amount"}
    acid_branch(src, "dev")
    assert set(acid_read(spark, src, branch="dev").columns) \
        == {"id", "amount"}
