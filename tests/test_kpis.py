"""Dashboard panels (operators/kpis.py) against reference formulations."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.operators import kpis


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
