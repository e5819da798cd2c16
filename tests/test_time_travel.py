"""UpsertTable time travel: `_CURRENT` lists every readable version,
and historical reads are bounded by the sink's retention in seconds
(`sinks.RETAIN_S`): version N reads back while its leaves are on disk,
and raises once they are gone."""

from __future__ import annotations

import pytest

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable


def _merge(table, spark, rows):
    table.merge(spark.createDataFrame(rows, "k string, v int"))


def _snap(table, version=None):
    return sorted(
        (r["k"], r["v"]) for r in table.read(version=version).collect()
    )


def test_time_travel_reads_each_retained_version(spark, tmp_path):
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"])
    _merge(t, spark, [("a", 1), ("b", 1)])            # v1
    _merge(t, spark, [("b", 2), ("c", 2)])            # v2
    _merge(t, spark, [("a", 3)])                      # v3
    assert t.versions() == [1, 2, 3]
    assert _snap(t, 1) == [("a", 1), ("b", 1)]
    assert _snap(t, 2) == [("a", 1), ("b", 2), ("c", 2)]
    assert _snap(t, 3) == [("a", 3), ("b", 2), ("c", 2)]
    assert _snap(t) == _snap(t, 3)  # current == newest snapshot


def test_vacuumed_version_raises_not_wrong_data(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sinks, "RETAIN_S", 0)
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"])
    # same key every merge -> each merge supersedes the previous leaf,
    # so v1's leaf is vacuumed two merges later under RETAIN_S=0
    _merge(t, spark, [("a", 1)])
    _merge(t, spark, [("a", 2)])
    _merge(t, spark, [("a", 3)])
    with pytest.raises(ValueError, match="retention window"):
        t.read(version=1)
    assert t.versions() == [2, 3]
    assert _snap(t, 2) == [("a", 2)]
    assert _snap(t) == [("a", 3)]


def test_unknown_version_lists_available(spark, tmp_path):
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"])
    _merge(t, spark, [("a", 1)])
    with pytest.raises(ValueError, match="available: \\[1\\]"):
        t.read(version=99)
