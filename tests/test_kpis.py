"""Dashboard panels (operators/kpis.py) against reference formulations,
and the snapshot path (panels over an UpsertTable snapshot, answered
from the snapshot memo) against the Spark path."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import threading
from collections import OrderedDict

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.operators import kpis
from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable


def _latest_window_top_by_join(agg, key_name, n):
    """T2 as the reference dashboard states it: max(window_end) as a
    1-row aggregate, joined back, then top-N of that window."""
    latest = agg.agg(F.max("window_end").alias("latest_window_end"))
    return (
        agg.join(
            F.broadcast(latest),
            agg["window_end"] == latest["latest_window_end"],
        )
        .drop("latest_window_end")
        .orderBy(F.desc("total_interactions"), F.asc(key_name))
        .limit(n)
    )


@pytest.mark.parametrize("latest_rows", [1, 3, 25, 60])
def test_latest_window_top_matches_join_formulation(spark, latest_rows):
    """Same rows in the same order as the self-join formulation, with
    ties on total_interactions, for n below, at and above the latest
    window's row count."""
    rng = random.Random(latest_rows)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for w in range(5):
        n_keys = latest_rows if w == 4 else rng.randint(1, 40)
        start = base + dt.timedelta(minutes=5 * w)
        end = start + dt.timedelta(minutes=10)
        for k in rng.sample(range(200), n_keys):
            rows.append((start, end, f"item_{k:03d}", rng.randint(1, 4)))
    rng.shuffle(rows)
    agg = spark.createDataFrame(
        rows,
        "window_start timestamp_ntz, window_end timestamp_ntz, "
        "item_id string, total_interactions long",
    ).repartition(5)
    for n in (1, 5, 20, 900):
        got = [tuple(r) for r in kpis.latest_window_top(agg, "item_id", n).collect()]
        want = [
            tuple(r)
            for r in _latest_window_top_by_join(agg, "item_id", n).collect()
        ]
        assert got == want, (n, got[:3], want[:3])
        assert len(got) == min(n, latest_rows)


# -- the snapshot path --------------------------------------------------

_BASE = dt.datetime(2024, 1, 1)
_KEYS = ["window_start", "window_end", "user_id"]


def _panels(n):
    return (
        ("A3", kpis.avg_interactions),
        ("A4/A5", kpis.interaction_extrema),
        ("T1", lambda df: kpis.top_rows(df, "user_id", n)),
        ("A6/T2", lambda df: kpis.latest_window_top(df, "user_id", n)),
        ("T3", lambda df: kpis.recent_rows(df, "user_id", n)),
    )


def _answers(df, n):
    """Each panel's rows, as (field names, values) pairs."""
    return {
        name: [(r.__fields__, tuple(r)) for r in panel(df).collect()]
        for name, panel in _panels(n)
    }


def _windows(spark, start, rows):
    """A window-count batch at window_start `start` (in 5-minute
    steps).  `rows` maps (length, key) to a total; a window of length
    2 ends where the next start's length-1 window ends, so the latest
    window_end can span two leaves.  The key names carry the length,
    which keeps every panel order total."""
    return spark.createDataFrame(
        [
            (
                _BASE + dt.timedelta(minutes=5 * start),
                _BASE + dt.timedelta(minutes=5 * (start + length)),
                f"{'ab'[length - 1]}{k}",
                total,
            )
            for (length, k), total in rows.items()
        ],
        "window_start timestamp, window_end timestamp, user_id string, "
        "total_interactions long",
    )


# (length, key) -> total; small totals so ties are common
_rows = st.dictionaries(
    st.tuples(st.integers(1, 2), st.integers(0, 3)),
    st.integers(1, 3),
    min_size=1,
    max_size=5,
)
# (window starts to advance, or a negative count to go back, rows)
_merges = st.lists(st.tuples(st.integers(-2, 2), _rows), min_size=1, max_size=7)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(merges=_merges, n=st.sampled_from([1, 2, 5, 1000]))
# the latest window_end spans two leaves
@example(merges=[(0, {(2, 0): 2}), (1, {(1, 1): 3})], n=5)
# ties in total_interactions across leaves, n = 1
@example(
    merges=[(0, {(1, 0): 2, (1, 1): 2}), (1, {(1, 0): 2}), (1, {(1, 2): 2})],
    n=1,
)
def test_snapshot_path_matches_spark_path(
    spark, tmp_path_factory, monkeypatch, merges, n
):
    """Window-count batches merged into a monotone table with a
    3-leaf stack, so appends, late rewrites and folds all occur.  After
    every merge two refreshes, a memo miss and a hit, must each give
    the Spark path's rows, field names and order."""
    monkeypatch.setattr(sinks, "STACK_MAX", 3)
    path = str(tmp_path_factory.mktemp("kpis_model"))
    table = UpsertTable(spark, path, _KEYS, monotone_col="window_start")
    start = 0
    for step, rows in merges:
        start = max(0, start + step)
        table.merge(_windows(spark, start, rows))
        want = _answers(table.read().select("*"), n)
        assert _answers(table.read(), n) == want
        assert _answers(table.read(), n) == want


def test_avg_rounds_half_up_like_spark(spark, tmp_path):
    """A3 is Spark's round(avg, 2): HALF_UP on the double's decimal
    string.  An average of exactly 2.005 is 2.01 on both paths, where
    Python's round of the same double gives 2.0."""
    assert round(401 / 200, 2) == 2.0
    table = UpsertTable(spark, str(tmp_path / "t"), _KEYS, monotone_col="window_start")
    # 200 rows summing to 401, over two leaves
    table.merge(_windows(spark, 0, {(1, k): 3 if k == 0 else 2 for k in range(100)}))
    table.merge(_windows(spark, 1, {(1, k): 2 for k in range(100)}))
    snap = table.read()
    assert snap.count() == 200
    assert kpis.avg_interactions(snap).collect()[0].avg_interactions == 2.01
    assert kpis.avg_interactions(snap.select("*")).collect()[0][0] == 2.01


def test_refresh_reuses_snapshot_answers(spark, tmp_path, spark_jobs):
    """A refresh of an unchanged snapshot starts no Spark job; one
    after a merge reruns the panels and gives the new snapshot's rows;
    a time-travel read of the old version is still answered from the
    memo; a table deleted and recreated at the same path, which reuses
    version numbers, is answered from its own rows, not the old table's."""
    path = str(tmp_path / "t")
    table = UpsertTable(spark, path, _KEYS, monotone_col="window_start")
    table.merge(_windows(spark, 0, {(1, 0): 1, (1, 1): 2}))
    table.merge(_windows(spark, 1, {(1, 0): 3}))
    first, jobs = spark_jobs(lambda: _answers(table.read(), 20))
    assert jobs > 0
    again, jobs = spark_jobs(lambda: _answers(table.read(), 20))
    assert again == first and jobs == 0

    table.merge(_windows(spark, 2, {(1, 2): 5}))
    snap = table.read()
    assert snap.versions == (1, 2, 3)
    got, jobs = spark_jobs(lambda: _answers(snap, 20))
    assert jobs > 0 and got == _answers(snap.select("*"), 20)
    assert got["A4/A5"][0][1] == (5, 1, 4)
    old, jobs = spark_jobs(lambda: _answers(table.read(version=2), 20))
    assert old == first and jobs == 0

    shutil.rmtree(path)
    table.merge(_windows(spark, 0, {(1, 7): 9}))
    table.merge(_windows(spark, 1, {(1, 8): 4}))
    snap = table.read()
    assert snap.versions == (1, 2)
    got = _answers(snap, 20)
    assert got == _answers(snap.select("*"), 20)
    assert got["A4/A5"] == [(["max_interactions", "min_interactions", "n_rows"], (9, 4, 2))]


def test_memo_under_concurrent_refreshes(spark, tmp_path, monkeypatch):
    """More threads than cores hit and miss the memo at once while a
    4-entry bound evicts: every call gets its own key's rows, and the
    memo stays within its bound."""
    table = UpsertTable(spark, str(tmp_path / "t"), _KEYS, monotone_col="window_start")
    table.merge(_windows(spark, 0, {(1, 0): 1}))
    snaps = [table.read() for _ in range(6)]
    for i, snap in enumerate(snaps):
        snap.versions = (i,)
    monkeypatch.setattr(kpis, "_MEMO", OrderedDict())
    monkeypatch.setattr(kpis, "_MEMO_MAX", 4)

    class Rows:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    panel = kpis._memoized(lambda agg, n: Rows([(agg.versions, n)]))
    errors = []

    def refresh(seed):
        rng = random.Random(seed)
        try:
            for _ in range(2000):
                snap, n = rng.choice(snaps), rng.randrange(3)
                got = panel(snap, n).collect()
                if got != [(snap.versions, n)]:
                    errors.append((snap.versions, n, got))
        except Exception as e:  # a lost update raises; report it here
            errors.append(e)

    threads = [
        threading.Thread(target=refresh, args=(i,)) for i in range(2 * os.cpu_count())
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(kpis._MEMO) <= 4
