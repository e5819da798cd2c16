"""Serving-layer analytics — the reference dashboard's pandas queries
re-expressed as Spark DataFrame queries over the aggregate tables.

Parity targets (reporting/reporting.py):
  A3  avg interactions per (user, window) row   — :101-104
  A4  max interactions over (item, window) rows — :105-108
  A5  min interactions over (item, window) rows — :109-112
  A6  latest window via max(window_end)         — :175-178
  T1  top-N users: sort desc + head(N)          — :150-154
  T2  top-N items in latest window              — :175-181
  T3  recent rows: sort by window_end desc, 100 — :124,130

Semantic fine print preserved (SURVEY §1.4): the KPIs are means/extrema
over *aggregate rows* (key × window), not per-distinct-key — exactly
what the dashboard computes.

Scale notes: top-N compiles to TakeOrderedAndProject (true distributed
top-k: per-partition heap then driver merge of N rows, no global sort).
T2 is one such ordered scan with window_end leading the order, so the
latest window is found among its N rows, with no aggregate joined
back.  All queries take deterministic tie-breakers so results are
stable across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def avg_interactions(agg: DataFrame, ndigits: int = 2) -> DataFrame:
    """A3: global mean of total_interactions over aggregate rows."""
    return agg.agg(
        F.round(F.avg("total_interactions"), ndigits).alias("avg_interactions")
    )


def interaction_extrema(agg: DataFrame) -> DataFrame:
    """A4+A5: global max/min of total_interactions over aggregate rows."""
    return agg.agg(
        F.max("total_interactions").alias("max_interactions"),
        F.min("total_interactions").alias("min_interactions"),
        F.count("*").alias("n_rows"),
    )


def top_rows(agg: DataFrame, key_name: str, n: int = 20) -> DataFrame:
    """T1: top-N aggregate rows by total_interactions (desc), with
    deterministic tie-breakers (key asc, window_start asc)."""
    return agg.orderBy(
        F.desc("total_interactions"), F.asc(key_name), F.asc("window_start")
    ).limit(n)


def latest_window_top(agg: DataFrame, key_name: str, n: int = 20) -> DataFrame:
    """A6+T2: top-N rows of the latest window (max window_end) by
    total_interactions desc, key asc.

    One ordered scan: the first n rows by (window_end desc, total desc,
    key asc) open with the latest window's top n — all of that window
    when it has fewer rows, then rows of earlier windows, which the
    filter on the largest window_end among the n drops.
    """
    top = agg.orderBy(
        F.desc("window_end"), F.desc("total_interactions"), F.asc(key_name)
    ).limit(n)
    latest = F.max("window_end").over(Window.partitionBy())
    return (
        top.withColumn("_latest", latest)
        .where(F.col("window_end") == F.col("_latest"))
        .drop("_latest")
        .orderBy(F.desc("total_interactions"), F.asc(key_name))
    )


def recent_rows(agg: DataFrame, key_name: str, n: int = 100) -> DataFrame:
    """T3: most recent N aggregate rows by window_end desc."""
    return agg.orderBy(
        F.desc("window_end"), F.asc(key_name), F.asc("window_start")
    ).limit(n)
