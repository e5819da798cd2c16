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

Two paths, one answer.  Over any DataFrame a panel returns its Spark
query, the reference the tests, the query registry and the benchmark's
gate compare against.  Over a `Snapshot` of an UpsertTable (what
`UpsertTable.read()` returns) it collects a Spark query over the
snapshot once and answers later calls from the collected rows.  Leaves
are immutable, so a snapshot's rows — named by the table's creation id
and its leaf versions — never change: a dashboard refresh over an
unchanged snapshot starts no Spark job, and one over a snapshot with a
new leaf reruns the panels over the whole snapshot.  T1, A6/T2 and T3
collect their own Spark query.  A3 and A4/A5 share one aggregate over
the snapshot, with A3's rounding done by that query (Spark's HALF_UP
`round` to 2 digits), so a refresh's first call of either answers
both.

The memo keeps the `_MEMO_MAX` most recently used entries, keyed by
(table id, leaf versions, panel, arguments), in this process's memory.
A refresh of the two sink tables makes eight, so a few time-travel
reads in between do not evict the current snapshot's answers.

Over a Snapshot a panel returns `PanelRows`, not a DataFrame: the
collected Rows, returned by `.collect()`.  Every way measured (on a
shared 4-core host) of turning driver rows back into a DataFrame costs
about as much as the panel's own Spark job: `createDataFrame(list)`
plans a LogicalRDD (one job, 260-420 ms), an inline VALUES table bound
from parameters takes 35 ms for 1 row and 260 ms for 100, and the
JVM's `createDataFrame(List[Row])` 48-385 ms.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.streaming.sinks import Snapshot

# (table id, leaf versions, panel, args, kwargs) -> collected rows,
# least recently used first
_MEMO: OrderedDict = OrderedDict()
_MEMO_MAX = 64
_MEMO_LOCK = threading.Lock()


class PanelRows:
    """A panel's result over a Snapshot: the Spark query's collected
    Rows."""

    def __init__(self, rows: list[Row]):
        self._rows = rows

    def collect(self) -> list[Row]:
        return list(self._rows)


def _memoized(panel):
    """`panel` over a Snapshot answers from the memo as PanelRows,
    collecting the panel's Spark query on a miss; over any other frame
    it is `panel`."""

    @functools.wraps(panel)
    def run(agg: DataFrame, *args, **kwargs):
        if not isinstance(agg, Snapshot):
            return panel(agg, *args, **kwargs)
        key = (agg.table_id, agg.versions, panel.__name__, args,
               tuple(sorted(kwargs.items())))
        with _MEMO_LOCK:
            rows = _MEMO.get(key)
            if rows is not None:
                _MEMO.move_to_end(key)
        if rows is None:
            # two threads missing the same key both collect; either
            # result is the snapshot's answer
            rows = panel(agg, *args, **kwargs).collect()
            with _MEMO_LOCK:
                _MEMO[key] = rows
                while len(_MEMO) > _MEMO_MAX:
                    _MEMO.popitem(last=False)
        return PanelRows(rows)

    return run


def _avg():
    return F.round(F.avg("total_interactions"), 2).alias("avg_interactions")


def _extrema():
    return (
        F.max("total_interactions").alias("max_interactions"),
        F.min("total_interactions").alias("min_interactions"),
        F.count("*").alias("n_rows"),
    )


@_memoized
def _aggregates(agg: DataFrame) -> DataFrame:
    """A3's and A4/A5's aggregates in one query, so that over a
    Snapshot one miss answers both panels.  One partition: one job, with
    no exchange before the final aggregate."""
    return agg.coalesce(1).agg(_avg(), *_extrema())


def avg_interactions(agg: DataFrame) -> DataFrame | PanelRows:
    """A3: global mean of total_interactions over aggregate rows, to 2
    digits."""
    if isinstance(agg, Snapshot):
        (row,) = _aggregates(agg).collect()
        return PanelRows([Row(avg_interactions=row.avg_interactions)])
    return agg.agg(_avg())


def interaction_extrema(agg: DataFrame) -> DataFrame | PanelRows:
    """A4+A5: global max/min of total_interactions over aggregate rows."""
    if isinstance(agg, Snapshot):
        (row,) = _aggregates(agg).collect()
        return PanelRows([Row(
            max_interactions=row.max_interactions,
            min_interactions=row.min_interactions,
            n_rows=row.n_rows,
        )])
    return agg.agg(*_extrema())


@_memoized
def top_rows(agg: DataFrame, key_name: str, n: int = 20) -> DataFrame:
    """T1: top-N aggregate rows by total_interactions (desc), with
    deterministic tie-breakers (key asc, window_start asc)."""
    return agg.orderBy(
        F.desc("total_interactions"), F.asc(key_name), F.asc("window_start")
    ).limit(n)


@_memoized
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


@_memoized
def recent_rows(agg: DataFrame, key_name: str, n: int = 100) -> DataFrame:
    """T3: most recent N aggregate rows by window_end desc."""
    return agg.orderBy(
        F.desc("window_end"), F.asc(key_name), F.asc("window_start")
    ).limit(n)
