"""Fast-append mode of the keyed-upsert sink (round 13).

The r13 streaming soak measured the one per-batch cost that grows
with table size — the rewrite — even though append-mode
batches only insert new keys.  `monotone_col=` turns those merges
into leaf APPENDS guarded by a high-water mark; these tests
pin (a) result equivalence with the classic path on every sequence,
(b) that appends really do not rewrite or supersede old leaves,
(c) the STACK_MAX fold, (d) replay/overlap falling back to the
rewrite path, (e) time travel over stacked leaves, (f) that a table's
mode is fixed when it is created and a manifest of an older format is
refused, (g) that marks order timestamps the way Spark does, (h) that
a held snapshot outlives the fold that supersedes it by RETAIN_S
seconds, not by a count of merges, and a version stops being listed
when its leaves go, (i) that reads use the schema the manifest
records, (j) that an append, a rewrite and an empty batch are each
one Spark job and a merge leaves no staging directory behind, (k) that
a rewrite folds in Arrow, so adaptive execution finds no job to add,
and keeps every row whose key has a null part, (l) that a leaf path
adds no partition column, and (m) that `MergeStats` counts the bytes a merge published.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "w int, k int, v int")


def _batch(spark, w, keys):
    # key = (w, k); w is the monotone component
    return _df(spark, [(w, k, w * 100 + k) for k in keys])


def _snapshot(table):
    rows = [(r.w, r.k, r.v) for r in table.read().collect()]
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def _manifest(path):
    with open(os.path.join(path, "_CURRENT")) as f:
        return json.load(f)


def _stack(m):
    """The current leaf stack the manifest `m` lists."""
    return m["versions"][str(m["version"])]


def _leaf_mtimes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


def test_fast_append_matches_classic_results(spark, tmp_path):
    """Any monotone batch sequence: fast-append table == classic
    table, row for row."""
    fast = UpsertTable(
        spark, str(tmp_path / "fast"), ["w", "k"], monotone_col="w"
    )
    classic = UpsertTable(spark, str(tmp_path / "classic"), ["w", "k"])
    for w, keys in [(1, range(6)), (2, range(4)), (3, range(8)), (5, [0])]:
        fast.merge(_batch(spark, w, keys))
        classic.merge(_batch(spark, w, keys))
    assert _snapshot(fast) == _snapshot(classic)


def test_fast_append_stacks_leaves_without_superseding(spark, tmp_path):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(8)))
    m1 = _manifest(path)
    files_before = _leaf_mtimes(path)
    t.merge(_batch(spark, 2, range(8)))
    m2 = _manifest(path)
    # the stack grew to 2 leaves; nothing pending
    assert _stack(m2) == [1, 2], m2["versions"]
    assert m2["pending"] == []
    # the v1 leaf files were not rewritten (same paths, same mtimes)
    files_after = _leaf_mtimes(path)
    for p, mt in files_before.items():
        if f"v={m1['version']}" in p and "_CURRENT" not in p:
            assert files_after.get(p) == mt, p
    assert len(t.read().collect()) == 16


def test_overlap_falls_back_to_rewrite_and_upserts(spark, tmp_path):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(4)))
    # same w=2 again with different values: keys collide -> rewrite
    t.merge(_df(spark, [(2, k, 999) for k in range(4)]))
    m = _manifest(path)
    assert _stack(m) == [3], m["versions"]
    got = {(r.w, r.k): r.v for r in t.read().collect()}
    assert all(got[(2, k)] == 999 for k in range(4))
    assert len(got) == 8  # no duplicate keys after the fold


def _table_entries(path):
    """What a table directory holds besides its manifest and leaves."""
    return [
        e for e in os.listdir(path) if e != "_CURRENT" and not e.startswith("v=")
    ]


def test_append_merge_is_one_job(spark, tmp_path, spark_jobs):
    """An append collects the batch once, as Arrow, which gives the
    count and the monotone min/max, and the staged leaf moves into
    place."""
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    stats, jobs = spark_jobs(lambda: t.merge(_batch(spark, 2, range(3))))
    assert jobs == 1
    assert (stats.version, stats.kind, stats.rows, stats.leaves) == (
        2, "append", 3, 2,
    )
    assert stats.ms > 0
    assert _stack(_manifest(path)) == [1, 2]
    assert _table_entries(path) == []
    assert len(_snapshot(t)) == 7


def test_empty_batch_is_one_job_and_publishes_nothing(
    spark, tmp_path, spark_jobs
):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    empty = _df(spark, [])
    stats, jobs = spark_jobs(lambda: t.merge(empty))
    assert jobs == 1
    assert (stats.version, stats.kind, stats.rows, stats.leaves) == (
        0, "empty", 0, 0,
    )
    assert t.read() is None and t.versions() == []
    t.merge(_batch(spark, 1, range(4)))
    stats, jobs = spark_jobs(lambda: t.merge(empty))
    assert jobs == 1
    assert (stats.version, stats.kind, stats.rows, stats.leaves) == (
        1, "empty", 0, 1,
    )
    assert t.versions() == [1]
    assert not os.path.exists(os.path.join(path, "v=2"))
    assert _table_entries(path) == []


def test_rewrite_leaves_no_staging_and_contiguous_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(4)))
    stats = t.merge(_df(spark, [(2, k, 999) for k in range(2)]))
    assert (stats.version, stats.kind, stats.rows, stats.leaves) == (
        3, "rewrite", 2, 1,
    )
    assert _table_entries(path) == []
    assert t.versions() == [1, 2, 3]
    got = {(r.w, r.k): r.v for r in t.read().collect()}
    assert len(got) == 8 and got[(2, 0)] == got[(2, 1)] == 999
    assert got[(2, 2)] == 202


def test_merge_stats_count_the_bytes_published(spark, tmp_path):
    """`MergeStats.bytes` is the parquet bytes a merge published: the
    appended or folded leaf's one file, and 0 for an empty batch."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"], monotone_col="w")

    def parquet_bytes(version):
        leaf = t._leaf(version)
        return sum(
            os.path.getsize(os.path.join(leaf, f))
            for f in os.listdir(leaf)
            if f.endswith(".parquet")
        )

    t.merge(_batch(spark, 1, range(4)))
    appended = t.merge(_batch(spark, 2, range(4)))
    assert appended.kind == "append"
    assert appended.bytes == parquet_bytes(2) > 0
    folded = t.merge(_df(spark, [(2, 0, 999)]))
    assert folded.kind == "rewrite"
    assert folded.bytes == parquet_bytes(3) > 0
    assert t.merge(_df(spark, [])).bytes == 0


def test_rewrite_merge_is_one_job(spark, tmp_path, spark_jobs):
    """A rewrite collects the batch once, as Arrow, and folds it with
    the stored rows in Arrow, so even adaptive execution, which runs
    each shuffle stage as a job of its own, has no stage to add: the
    fold is the batch's collection, like an append."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(2)))
    stats, jobs = spark_jobs(
        lambda: t.merge(_df(spark, [(1, k, 999) for k in range(2)]))
    )
    assert jobs == 1
    assert (stats.version, stats.kind, stats.rows, stats.leaves) == (
        3, "rewrite", 2, 1,
    )
    assert _table_entries(path) == []
    assert _snapshot(t) == [
        (1, 0, 999), (1, 1, 999), (1, 2, 102), (1, 3, 103),
        (2, 0, 200), (2, 1, 201),
    ]


def test_rewrite_keeps_every_null_key_row(spark, tmp_path):
    """Under SQL null-equality a key with a null part matches no stored
    key, so a rewrite replaces none of its rows."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"])
    t.merge(_df(spark, [(None, 9, 1), (1, 1, 1)]))
    stats = t.merge(_df(spark, [(None, 9, 77), (1, 1, 2)]))
    assert stats.kind == "rewrite"
    assert _snapshot(t) == [(1, 1, 2), (None, 9, 1), (None, 9, 77)]


def test_replay_of_appended_batch_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(4)))
    before = _snapshot(t)
    t.merge(_batch(spark, 2, range(4)))  # checkpoint replay
    assert _snapshot(t) == before


def test_stack_max_forces_fold(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sinks, "STACK_MAX", 3)
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")

    def parts_per_leaf():
        leaves = [os.path.join(path, f"v={v}") for v in _stack(_manifest(path))]
        return [
            sum(
                f.startswith("part-") and f.endswith(".parquet")
                for f in os.listdir(leaf)
            )
            for leaf in leaves
        ]

    for w in range(1, 4):
        t.merge(_batch(spark, w, range(3)))
    # three appends, one parquet file each, whatever the batch's tasks
    assert parts_per_leaf() == [1, 1, 1]
    t.merge(_batch(spark, 4, range(3)))  # 4 merges, STACK_MAX=3
    # merge 4 found a 3-leaf stack -> fold: single leaf again, one file
    assert parts_per_leaf() == [1]
    assert len(t.read().collect()) == 12


def test_time_travel_across_appended_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    seen = []
    for w in (1, 2, 3):
        t.merge(_batch(spark, w, range(4)))
        seen.append(_snapshot(t))
    for i, v in enumerate(t.versions()):
        got = sorted(
            (r.w, r.k, r.v) for r in t.read(version=v).collect()
        )
        assert got == seen[i], v


def test_held_snapshot_survives_merges(spark, tmp_path, monkeypatch):
    """A dashboard reads the table while the stream keeps merging: the
    frame `read()` returned must stay readable after a fold supersedes
    its leaves and after further merges, for RETAIN_S seconds."""
    monkeypatch.setattr(sinks, "STACK_MAX", 2)
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(4)))
    held = t.read()
    t.merge(_batch(spark, 3, range(4)))  # fold: supersedes held's leaves
    assert held.count() == 8
    t.merge(_batch(spark, 4, range(4)))
    assert held.count() == 8


def test_superseded_leaves_go_once_retain_s_has_passed(
    spark, tmp_path, monkeypatch
):
    """The first commit RETAIN_S seconds after a fold unlinks the leaves
    the fold superseded (and their emptied version roots), never the
    leaves it supersedes itself, and keeps every leaf `_CURRENT`
    names."""
    monkeypatch.setattr(sinks, "STACK_MAX", 2)
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    for w in (1, 2, 3, 4):  # w=3 folds the stack [1, 2]
        t.merge(_batch(spark, w, range(4)))
    folded = [os.path.join(path, f"v={v}") for v in (1, 2)]
    assert all(os.path.isdir(p) for p in folded)
    later = time.time() + sinks.RETAIN_S
    with monkeypatch.context() as mp:
        mp.setattr(time, "time", lambda: later)
        t.merge(_batch(spark, 5, range(4)))  # folds the stack [3, 4]
    assert not any(os.path.exists(p) for p in folded)
    m = _manifest(path)
    assert _stack(m) == [5]
    for v in (3, 4, 5):
        assert os.path.isdir(os.path.join(path, f"v={v}")), v
    assert sorted(p[0] for p in m["pending"]) == [3, 4]
    # the versions that named leaf 1 or 2 expired with them
    assert t.versions() == [3, 4, 5]
    with pytest.raises(ValueError, match="retention window"):
        t.read(version=2)
    assert len(t.read().collect()) == 20


def test_null_monotone_values_match_classic_semantics(spark, tmp_path):
    """An all-null monotone batch takes the rewrite path (its min is
    null, so fast eligibility cannot be proven); whatever SQL
    null-equality does to such keys, the fast table must do exactly
    what the classic table does."""
    fast = UpsertTable(
        spark, str(tmp_path / "fast"), ["w", "k"], monotone_col="w"
    )
    classic = UpsertTable(spark, str(tmp_path / "classic"), ["w", "k"])
    seq = [
        _batch(spark, 1, range(3)),
        spark.createDataFrame(
            [(None, 9, 1), (None, 8, 2)], "w int, k int, v int"
        ),
        _batch(spark, 2, range(3)),
        spark.createDataFrame([(None, 9, 77)], "w int, k int, v int"),
    ]
    for b in seq:
        fast.merge(b)
        classic.merge(b)
    assert _snapshot(fast) == _snapshot(classic)


def test_monotone_col_must_be_a_key_col(spark, tmp_path):
    with pytest.raises(ValueError, match="must be one of the key"):
        UpsertTable(
            spark, str(tmp_path / "t"), ["k"], monotone_col="w"
        )


def test_timestamp_monotone_marks_roundtrip_manifest(spark, tmp_path):
    """window_start is a timestamp — the mark must survive the JSON
    manifest and keep ordering (the production shape)."""
    import datetime as dt

    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["ws", "k"], monotone_col="ws")

    def b(day, keys):
        return spark.createDataFrame(
            [(dt.datetime(2024, 3, day), k, k) for k in keys],
            "ws timestamp, k int, v int",
        )

    t.merge(b(1, range(3)))
    t.merge(b(2, range(3)))  # strictly later -> append
    assert len(_stack(_manifest(path))) == 2
    t.merge(b(2, range(3)))  # replay -> fold
    assert len(t.read().collect()) == 6


@pytest.mark.parametrize(
    "written, reopened",
    [(None, "w"), ("w", None), ("t", "k")],
    ids=["classic-to-w", "w-to-classic", "t-to-k"],
)
def test_reopen_with_different_monotone_col_raises(
    spark, tmp_path, written, reopened
):
    """A table's mode is fixed when it is created: the manifest records
    `monotone_col`, and a reopen in another mode is refused before it
    can read or write anything.  A classic merge could insert rows
    above the stored marks, a monotone reopen of a classic table has
    no marks, and marks on one column do not bound another — each
    would let a fast append skip the anti-join on a real key
    collision, so none of them is allowed."""
    path = str(tmp_path / "t")
    keys = ["w", "k", "t"]
    rows = "w int, k int, t int, v int"
    t = UpsertTable(spark, path, keys, monotone_col=written)
    t.merge(spark.createDataFrame([(1, 200, 50, 1)], rows))
    assert _manifest(path)["monotone_col"] == written
    other = UpsertTable(spark, path, keys, monotone_col=reopened)
    with pytest.raises(ValueError, match="monotone_col"):
        other.merge(spark.createDataFrame([(1, 200, 50, 2)], rows))
    with pytest.raises(ValueError, match="monotone_col"):
        other.read()
    assert [r.v for r in t.read().collect()] == [1]


def test_manifest_of_an_older_format_is_refused(spark, tmp_path):
    """A manifest without `versions`, as the sink wrote before `_CURRENT`
    listed every readable version (a one-bucket form with `n_buckets`,
    marks and ledger entries keyed by bucket "0", leaves under
    `__bucket=0`, and one `manifest.v<N>.json` per version), is refused
    on open: merge, read and time travel raise, and nothing in the
    directory is written."""
    path = tmp_path / "t"
    batch = _batch(spark, 1, range(4))
    batch.coalesce(1).write.parquet(str(path / "v=1" / "__bucket=0"))
    manifest = json.dumps({
        "version": 1,
        "buckets": {"0": [1]},
        "n_buckets": 1,
        "monotone_col": "w",
        "table_id": "0" * 32,
        "schema": batch.schema.jsonValue(),
        "pending": [],
        "marks": {"0": 1},
    })
    for name in ("_CURRENT", "manifest.v1.json"):
        (path / name).write_text(manifest)
    before = sorted(os.listdir(path))
    t = UpsertTable(spark, str(path), ["w", "k"], monotone_col="w")
    with pytest.raises(ValueError, match="older version of this sink"):
        t.merge(_batch(spark, 2, range(4)))
    with pytest.raises(ValueError, match="older version of this sink"):
        t.read()
    with pytest.raises(ValueError, match="older version of this sink"):
        t.read(version=1)
    assert (path / "_CURRENT").read_text() == manifest
    assert sorted(os.listdir(path)) == before


def test_read_uses_the_manifest_schema(spark, tmp_path, spark_jobs):
    """Every commit records the leaves' schema, as a parquet read
    returns it, in the manifest.  `read()` reads with it, so it starts
    no schema-inference job, and its schema is the inferred one."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    t.merge(_batch(spark, 2, range(4)))
    snap, jobs = spark_jobs(t.read)
    assert jobs == 0
    assert isinstance(snap, sinks.Snapshot) and snap.versions == (1, 2)
    leaves = [t._leaf(v) for v in snap.versions]
    assert snap.schema == spark.read.parquet(*leaves).schema
    assert isinstance(t.read(version=1), sinks.Snapshot)
    assert _snapshot(t) == [(w, k, w * 100 + k) for w in (1, 2) for k in range(4)]


def test_leaf_paths_add_no_partition_column(spark, tmp_path):
    """A leaf is the directory `v=<N>` itself; an inferring read of
    several leaves finds no partition column `v` in their paths."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"], monotone_col="w")
    for w in (1, 2):
        t.merge(_df(spark, [(w, 0, 0)]).select("w", "k"))
    leaves = [t._leaf(v) for v in t.read().versions]
    assert leaves[-1].endswith("v=2")
    assert spark.read.parquet(*leaves).columns == ["w", "k"]


@pytest.mark.parametrize("field", ["schema", "table_id"])
def test_manifest_without_schema_or_creation_id_raises(spark, tmp_path, field):
    """A manifest from before the schema and the creation id were
    recorded is refused on open, like one without `versions`."""
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(4)))
    m = _manifest(path)
    del m[field]
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match=field):
        t.read()
    with pytest.raises(ValueError, match=field):
        t.merge(_batch(spark, 2, range(4)))


def test_timestamp_marks_follow_spark_order_across_dst(
    spark, tmp_path, monkeypatch
):
    """Marks compare timestamps in Spark's instant order.  A TIMESTAMP
    collected to Python is a naive local-time datetime; around a DST
    fall-back, 05:55Z reads as 01:55 and the later 06:05Z as 01:05, so
    comparing those would treat a replayed 05:55Z key as newer than a
    mark of 06:05Z, fast-append it and store the key twice."""
    import time

    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["ws", "k"], monotone_col="ws")

    def b(rows):
        # (epoch seconds, k, v); the instant does not depend on any TZ
        return spark.createDataFrame(rows, "s long, k int, v int").select(
            F.timestamp_seconds("s").alias("ws"), "k", "v"
        )

    t0 = 1730613300  # 2024-11-03 05:55Z, 01:55 EDT
    t1 = t0 + 600  # 06:05Z, 01:05 EST
    try:
        with monkeypatch.context() as mp:
            mp.setenv("TZ", "America/New_York")
            time.tzset()
            t.merge(b([(t0, 1, 1), (t1, 2, 1)]))
            t.merge(b([(t0, 1, 2)]))  # replay of a stored key
            got = sorted(
                t.read()
                .select(F.unix_seconds("ws").alias("s"), "k", "v")
                .collect()
            )
    finally:
        time.tzset()
    assert got == [(t0, 1, 2), (t1, 2, 1)]


def test_monotone_col_of_another_type_raises(spark, tmp_path):
    t = UpsertTable(
        spark, str(tmp_path / "t"), ["s", "k"], monotone_col="s"
    )
    with pytest.raises(ValueError, match="TIMESTAMP or integer"):
        t.merge(spark.createDataFrame([("a", 1)], "s string, k int"))


def test_corrupt_manifest_raises_instead_of_resetting(spark, tmp_path):
    """An unreadable _CURRENT is not "no table": treating it as one
    would restart the table at version 1 and flip over the old
    manifest, silently dropping every stored row."""
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    t.merge(_batch(spark, 1, range(40)))
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="unreadable manifest"):
        t.merge(_batch(spark, 2, [0]))
    with pytest.raises(ValueError, match="unreadable manifest"):
        t.read()
    with pytest.raises(ValueError, match="unreadable manifest"):
        t.read(version=1)
    # nothing was overwritten: the version-1 leaf is still whole
    assert spark.read.parquet(t._leaf(1)).count() == 40
    assert open(os.path.join(path, "_CURRENT")).read() == "{not json"


def test_registry_windowed_twins_engage_fast_path(spark):
    """Round-14 adoption pin: the driver-hashed append-mode windowed
    twins run their replay through the fast-append sink
    (monotone_col="window_start") and the fast path actually ENGAGES —
    the final manifest records the window_start mode and carries a
    multi-leaf stack and its mark, proving the second emission batch
    appended instead of silently falling back to the rewrite path.  (Result parity with the classic sink is covered by the
    oracle suites; this pins the mechanism.)"""
    import json

    from realtime_data_pipeline_spark.plans import REGISTRY

    df = REGISTRY["streaming_dedup_user_counts"].fn(
        spark, "/root/testdata/sf0.001"
    )
    assert df.count() > 0
    root = df.inputFiles()[0].split("/v=")[0].replace("file:", "")
    m = _manifest(root)
    assert len(_stack(m)) > 1, m["versions"]  # a leaf APPEND
    assert m["monotone_col"] == "window_start"
    assert m["mark"]
