"""Fast-append mode of the keyed-upsert sink (round 13).

The r13 streaming soak measured the one per-batch cost that grows
with table size — the rewrite — even though append-mode
batches only insert new keys.  `monotone_col=` turns those merges
into leaf APPENDS guarded by a high-water mark; these tests
pin (a) result equivalence with the classic path on every sequence,
(b) that appends really do not rewrite or supersede old leaves,
(c) the STACK_MAX fold, (d) replay/overlap falling back to the
rewrite path, (e) time travel over stacked leaves, (f) that a table's
mode and layout are fixed when it is created, (g) that marks
order timestamps the way Spark does, and (h) that a held snapshot
outlives the fold that supersedes it by RETAIN_S seconds, not by a
count of merges.
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
    assert len(m2["buckets"]["0"]) == 2, m2["buckets"]
    assert m2.get("pending", []) == []
    # the v1 leaf files were not rewritten (same paths, same mtimes)
    files_after = _leaf_mtimes(path)
    for p, mt in files_before.items():
        if f"v={m1['version']}" in p and "manifest" not in p:
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
    assert len(m["buckets"]["0"]) == 1, m["buckets"]
    got = {(r.w, r.k): r.v for r in t.read().collect()}
    assert all(got[(2, k)] == 999 for k in range(4))
    assert len(got) == 8  # no duplicate keys after the fold


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
        m = _manifest(path)
        leaves = [
            os.path.join(path, f"v={v}", "__bucket=0")
            for v in m["buckets"]["0"]
        ]
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
    assert m["buckets"]["0"] == [5]
    for v in (3, 4, 5):
        assert os.path.isdir(os.path.join(path, f"v={v}", "__bucket=0")), v
    assert sorted(p[0] for p in m["pending"]) == [3, 4]
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
    assert len(_manifest(path)["buckets"]["0"]) == 2
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


def test_reopen_with_different_bucket_count_raises(spark, tmp_path):
    """A table is one leaf stack, recorded as `n_buckets: 1`.  A table
    written in the older 16-bucket layout keeps most of its rows in
    buckets 1-15, which this sink never reads, so opening one must
    raise instead of reading bucket 0 as the whole table."""
    path = tmp_path / "t"
    (path / "v=1" / "__bucket=3").mkdir(parents=True)
    manifest = {
        "version": 1,
        "buckets": {"3": [1]},
        "n_buckets": 16,
        "monotone_col": "w",
        "marks": {"3": 1},
        "pending": [],
    }
    for name in ("_CURRENT", "manifest.v1.json"):
        (path / name).write_text(json.dumps(manifest))
    t = UpsertTable(spark, str(path), ["w", "k"], monotone_col="w")
    with pytest.raises(ValueError, match="n_buckets"):
        t.merge(_batch(spark, 2, range(4)))
    with pytest.raises(ValueError, match="n_buckets"):
        t.read()
    with pytest.raises(ValueError, match="n_buckets"):
        t.read(version=1)
    assert json.loads((path / "_CURRENT").read_text()) == manifest


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
    # nothing was overwritten: the version-1 snapshot is still whole
    assert t.read(version=1).count() == 40


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
    assert len(m["buckets"]["0"]) > 1, m["buckets"]  # a leaf APPEND
    assert m["monotone_col"] == "window_start"
    assert m["marks"]["0"]
