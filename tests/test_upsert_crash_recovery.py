"""Crash recovery of the keyed-upsert sink's commit.

A merge writes its leaves, unlinks ripe superseded leaves, writes the
version's snapshot manifest and flips `_CURRENT`.  A crash at any of
those steps, followed by a replay of the same batch through a fresh
`UpsertTable` (what a restart from the streaming checkpoint does), must
leave the table equal to a last-write-wins model, every leaf
`_CURRENT` names on disk, every published version listed, and nothing
leaked once RETAIN_S has passed.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable


class Crash(Exception):
    pass


def _after_leaf_write(mp):
    def commit(self, *args):
        raise Crash

    mp.setattr(UpsertTable, "_commit", commit)


def _mid_vacuum(mp):
    rmtree, calls = shutil.rmtree, []

    def first_then_crash(*args, **kwargs):
        if calls:
            raise Crash
        calls.append(args)
        rmtree(*args, **kwargs)

    mp.setattr(shutil, "rmtree", first_then_crash)


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


def _merge(spark, table, model, batch):
    model.update(batch)
    table.merge(spark.createDataFrame(list(batch.items()), "k int, v int"))


def _on_disk_leaves(path):
    return {
        os.path.join(path, v, b)
        for v in os.listdir(path)
        if v.startswith("v=")
        for b in os.listdir(os.path.join(path, v))
        if b.startswith("__bucket=")
    }


def _check(table, model):
    assert {r.k: r.v for r in table.read().collect()} == model
    with open(os.path.join(table.path, "_CURRENT")) as f:
        m = json.load(f)
    named = set(table._leaves(m, m["buckets"]))
    assert named <= _on_disk_leaves(table.path)
    assert table.versions() == list(range(1, m["version"] + 1))
    return m


@pytest.mark.parametrize(
    "crash",
    [_after_leaf_write, _mid_vacuum, _at_flip(after=False), _at_flip(after=True)],
    ids=["after-leaf-write", "mid-vacuum", "before-flip", "after-flip"],
)
def test_replay_after_crash_restores_table(spark, tmp_path, monkeypatch, crash):
    monkeypatch.setattr(sinks, "N_BUCKETS", 2)
    monkeypatch.setattr(sinks, "RETAIN_S", 0)
    path = str(tmp_path / "t")
    model: dict[int, int] = {}
    keys = range(8)  # touches both buckets, so every merge rewrites both
    table = UpsertTable(spark, path, ["k"])
    _merge(spark, table, model, {k: 1 for k in keys})
    _merge(spark, table, model, {k: 2 for k in keys})  # 2 leaves pending

    crashed = {k: 3 for k in keys}
    with monkeypatch.context() as mp:
        crash(mp)
        with pytest.raises(Crash):
            table.merge(
                spark.createDataFrame(list(crashed.items()), "k int, v int")
            )
    table = UpsertTable(spark, path, ["k"])  # the restart
    _merge(spark, table, model, crashed)  # the checkpoint replay
    _check(table, model)

    # RETAIN_S = 0 has passed by the next commit: the only leaves left
    # on disk are the ones `_CURRENT` names and the ones that commit
    # superseded itself, and no version root is left without a leaf.
    _merge(spark, table, model, {k: 4 for k in keys})
    m = _check(table, model)
    pending = {table._leaf(v, b) for v, b, _t in m["pending"]}
    assert len({t for _v, _b, t in m["pending"]}) == 1
    assert _on_disk_leaves(path) == set(table._leaves(m, m["buckets"])) | pending
    roots = {os.path.dirname(p) for p in _on_disk_leaves(path)}
    assert roots == {
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("v=")
    }
