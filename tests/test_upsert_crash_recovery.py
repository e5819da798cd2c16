"""Crash recovery of the keyed-upsert sink's commit.

A merge builds its leaf, the batch (an append) or the batch folded
with the stored rows (a rewrite), stages it, moves it into place,
unlinks ripe superseded leaves and flips `_CURRENT`, the table's one
metadata file.  A crash at any of those steps, followed by a replay of
the same batch through a fresh `UpsertTable` (what a restart from the
streaming checkpoint does), must leave the table equal to a
last-write-wins model, every leaf `_CURRENT` names on disk, exactly
the versions whose leaves are all on disk listed, and nothing leaked
once RETAIN_S has passed.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable


class Crash(Exception):
    pass


def _after_staged_write(mp):
    """Crash once the leaf is staged: the sink's Arrow write of the
    leaf to `_staging` has run, and the staged file has not moved into
    place."""
    write_table = sinks.pq.write_table

    def write_then_crash(*args, **kwargs):
        write_table(*args, **kwargs)
        raise Crash

    mp.setattr(sinks.pq, "write_table", write_then_crash)


def _torn_staged_write(mp):
    """Crash inside the staged write: the staged file holds the first
    half of its bytes, as a kill during `write_table` leaves it."""
    write_table = sinks.pq.write_table

    def write_half_then_crash(table, where, *args, **kwargs):
        write_table(table, where, *args, **kwargs)
        with open(where, "r+b") as f:
            f.truncate(os.path.getsize(where) // 2)
        raise Crash

    mp.setattr(sinks.pq, "write_table", write_half_then_crash)


def _after_leaf_write(mp):
    def commit(self, *args):
        raise Crash

    mp.setattr(UpsertTable, "_commit", commit)


def _mid_vacuum(mp):
    """Crash in the commit's vacuum, after it unlinked one ripe leaf and
    before the next; the merge's own clearing of `_staging` does not
    count."""
    rmtree, leaves = shutil.rmtree, []

    def first_leaf_then_crash(path, *args, **kwargs):
        if os.path.basename(path).startswith("v="):
            if leaves:
                raise Crash
            leaves.append(path)
        rmtree(path, *args, **kwargs)

    mp.setattr(shutil, "rmtree", first_leaf_then_crash)


def _at_flip(after):
    """Crash at the os.replace of `_CURRENT`: before it, or after it
    with nothing of the commit run past it."""

    def patch(mp):
        replace = os.replace

        def crash_at_current(src, dst):
            if dst.endswith("_CURRENT") and not after:
                raise Crash
            replace(src, dst)
            if dst.endswith("_CURRENT"):
                raise Crash

        mp.setattr(os, "replace", crash_at_current)

    return patch


def _manifest(path):
    with open(os.path.join(path, "_CURRENT")) as f:
        return json.load(f)


def _merge(spark, table, model, published, w, batch):
    """Merge `batch` into window `w`, and record in `published` the leaf
    stack of the version current afterwards, also when the merge
    crashes (a crash after the flip has published it).  Returns the
    merge's `MergeStats`."""
    model.update({(w, k): v for k, v in batch.items()})
    rows = [(w, k, v) for k, v in batch.items()]
    try:
        return table.merge(spark.createDataFrame(rows, "w int, k int, v int"))
    finally:
        m = _manifest(table.path)
        published[m["version"]] = m["versions"][str(m["version"])]


def _on_disk_leaves(path):
    """The leaves on disk: `v=<N>` directories holding a part file."""
    return {
        os.path.join(path, v)
        for v in os.listdir(path)
        if v.startswith("v=")
        and any(f.startswith("part-") for f in os.listdir(os.path.join(path, v)))
    }


def _check(table, model, published):
    """The table equals the model, and the listed versions are exactly
    the published ones whose leaves are all on disk, the current one
    included."""
    assert {(r.w, r.k): r.v for r in table.read().collect()} == model
    m = _manifest(table.path)
    on_disk = _on_disk_leaves(table.path)
    readable = [
        n
        for n, stack in sorted(published.items())
        if {table._leaf(v) for v in stack} <= on_disk
    ]
    assert m["version"] in readable
    assert table.versions() == readable
    return m


@pytest.mark.parametrize(
    "crash",
    [
        _after_staged_write,
        _after_leaf_write,
        _mid_vacuum,
        _at_flip(after=False),
        _at_flip(after=True),
    ],
    ids=[
        "after-staged-write",
        "after-leaf-write",
        "mid-vacuum",
        "before-flip",
        "after-flip",
    ],
)
def test_replay_after_crash_restores_table(spark, tmp_path, monkeypatch, crash):
    monkeypatch.setattr(sinks, "RETAIN_S", 0)
    path = str(tmp_path / "t")
    model: dict[tuple[int, int], int] = {}
    published: dict[int, list[int]] = {}
    keys = range(8)

    def open_table():
        return UpsertTable(spark, path, ["w", "k"], monotone_col="w")

    table = open_table()
    _merge(spark, table, model, published, 1, {k: 1 for k in keys})
    # an append: [1, 2]
    _merge(spark, table, model, published, 2, {k: 2 for k in keys})
    # window 2 again collides: the rewrite folds the stack, so its 2
    # leaves are pending and ripe at the crashed commit
    _merge(spark, table, model, published, 2, {k: 3 for k in keys})

    crashed = {k: 4 for k in keys}
    with monkeypatch.context() as mp:
        crash(mp)
        with pytest.raises(Crash):
            _merge(spark, table, {}, published, 2, crashed)
    table = open_table()  # the restart
    _merge(spark, table, model, published, 2, crashed)  # the checkpoint replay
    _check(table, model, published)

    # RETAIN_S = 0 has passed by the next commit: the only leaves left
    # on disk are the ones `_CURRENT` names and the one that commit
    # superseded itself, and no version root is left without a leaf.
    _merge(spark, table, model, published, 2, {k: 5 for k in keys})
    m = _check(table, model, published)
    pending = {table._leaf(v) for v, _t in m["pending"]}
    assert len(m["pending"]) == 1
    stack = {table._leaf(v) for v in m["versions"][str(m["version"])]}
    assert _on_disk_leaves(path) == stack | pending
    assert _on_disk_leaves(path) == {
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("v=")
    }
    # the listed versions are the current one and the one that named
    # the pending leaf; no other metadata is left in the directory
    assert len(table.versions()) == 2
    assert sorted(os.listdir(path)) == sorted(
        ["_CURRENT"] + [os.path.basename(p) for p in stack | pending]
    )


@pytest.mark.parametrize(
    "crash",
    [_after_staged_write, _after_leaf_write, _at_flip(after=False), _at_flip(after=True)],
    ids=["after-staged-write", "after-leaf-move", "before-flip", "after-flip"],
)
def test_replay_after_crash_in_append_restores_table(
    spark, tmp_path, monkeypatch, crash
):
    """The append path moves the staged leaf into place.  A crash before
    the move, after it, or on either side of the flip, then the replay,
    leaves the table equal to the model, and neither the staged batch
    nor an unpublished leaf behind."""
    path = str(tmp_path / "t")
    model: dict[tuple[int, int], int] = {}
    published: dict[int, list[int]] = {}
    keys = range(8)

    def open_table():
        return UpsertTable(spark, path, ["w", "k"], monotone_col="w")

    table = open_table()
    _merge(spark, table, model, published, 1, {k: 1 for k in keys})
    _merge(spark, table, model, published, 2, {k: 2 for k in keys})
    crashed = {k: 3 for k in keys}
    with monkeypatch.context() as mp:
        crash(mp)
        with pytest.raises(Crash):
            # an append: w=3 > mark
            _merge(spark, table, {}, published, 3, crashed)
    table = open_table()  # the restart
    _merge(spark, table, model, published, 3, crashed)  # the checkpoint replay
    m = _check(table, model, published)
    names = {f"v={v}" for v in m["versions"][str(m["version"])]} | {
        f"v={v}" for v, _t in m["pending"]
    }
    assert set(os.listdir(path)) == names | {"_CURRENT"}


@pytest.mark.parametrize("w, kind", [(3, "append"), (2, "rewrite")])
def test_replay_over_a_torn_staged_file(spark, tmp_path, monkeypatch, w, kind):
    """A kill inside the staged write leaves a truncated parquet file in
    `_staging`.  The replay through a fresh `UpsertTable` stages the
    batch again over it, whether it appends (w=3 is above the mark) or
    folds (w=2 collides), and leaves the table equal to the model and
    no staging directory behind."""
    path = str(tmp_path / "t")
    staging = os.path.join(path, "_staging")
    model: dict[tuple[int, int], int] = {}
    published: dict[int, list[int]] = {}
    keys = range(8)

    def open_table():
        return UpsertTable(spark, path, ["w", "k"], monotone_col="w")

    table = open_table()
    _merge(spark, table, model, published, 1, {k: 1 for k in keys})
    _merge(spark, table, model, published, 2, {k: 2 for k in keys})
    crashed = {k: 3 for k in keys}
    with monkeypatch.context() as mp:
        _torn_staged_write(mp)
        with pytest.raises(Crash):
            _merge(spark, table, {}, published, w, crashed)
    (torn,) = os.listdir(staging)
    with pytest.raises(pa.ArrowInvalid):
        pq.read_metadata(os.path.join(staging, torn))
    table = open_table()  # the restart
    stats = _merge(spark, table, model, published, w, crashed)  # the replay
    assert stats.kind == kind
    _check(table, model, published)
    assert not os.path.exists(staging)
