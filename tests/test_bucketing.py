"""Bucketed-table join co-location (operators/bucketing.py): the
written-once bucketing must eliminate the join-time exchange on BOTH
sides, and the exchange-free plan must produce byte-identical results
to the plain shuffled join.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.operators import bucketing
from realtime_data_pipeline_spark.tables import load_table

from conftest import SF_DIR_MID

BUCKET_COUNT = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    """orders + lineitem bucketed on the join key, unique names so
    reruns never collide in the session warehouse."""
    suffix = uuid.uuid4().hex[:8]
    to, tl = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    bucketing.write_bucketed(
        load_table(spark, SF_DIR_MID, "orders"), to, "o_orderkey", BUCKET_COUNT
    )
    bucketing.write_bucketed(
        load_table(spark, SF_DIR_MID, "lineitem"), tl, "l_orderkey", BUCKET_COUNT
    )
    yield to, tl
    bucketing.drop_table(spark, to)
    bucketing.drop_table(spark, tl)


def _join(o, li):
    return o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey", "o_totalprice", "l_linenumber", "l_extendedprice"
    )


class _no_broadcast:
    """At sf0.01 the orders side fits the auto-broadcast threshold and
    the planner rightly picks BroadcastHashJoin (disabling the bucketed
    scan).  The scenario bucketing exists for is two FACT tables where
    neither side broadcasts — model it by turning the threshold off."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    to, tl = bucketed_tables
    with _no_broadcast(spark):
        joined = _join(spark.table(to), spark.table(tl))
        assert bucketing.n_exchanges(joined) == 0, (
            joined._jdf.queryExecution().executedPlan().toString()
        )


def test_plain_parquet_join_pays_exchanges(spark):
    """Contrast case: the same join over unbucketed scans shuffles at
    least one side — the cost bucketing amortizes away."""
    with _no_broadcast(spark):
        joined = _join(
            load_table(spark, SF_DIR_MID, "orders"),
            load_table(spark, SF_DIR_MID, "lineitem"),
        )
        assert bucketing.n_exchanges(joined) >= 1


def test_bucketed_join_results_match_plain_join(spark, bucketed_tables):
    to, tl = bucketed_tables
    got = sorted(map(tuple, _join(spark.table(to), spark.table(tl)).collect()))
    want = sorted(
        map(
            tuple,
            _join(
                load_table(spark, SF_DIR_MID, "orders"),
                load_table(spark, SF_DIR_MID, "lineitem"),
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_bucket_key_aggregation_skips_exchange(spark, bucketed_tables):
    """groupBy on the bucket key is satisfied by the scan's hash
    distribution — no exchange before the aggregate."""
    _, tl = bucketed_tables
    agg = (
        spark.table(tl)
        .groupBy("l_orderkey")
        .agg(F.sum("l_extendedprice").alias("total"))
    )
    assert bucketing.n_exchanges(agg) == 0


def test_mismatched_bucket_counts_reintroduce_exchange(spark, bucketed_tables):
    """Write one side with a DIFFERENT bucket count: the planner must
    re-shuffle it — pinning why n_buckets is part of the key contract."""
    to, _ = bucketed_tables
    suffix = uuid.uuid4().hex[:8]
    tl4 = f"lineitem_b4_{suffix}"
    bucketing.write_bucketed(
        load_table(spark, SF_DIR_MID, "lineitem"), tl4, "l_orderkey", 4
    )
    try:
        with _no_broadcast(spark):
            joined = _join(spark.table(to), spark.table(tl4))
            assert bucketing.n_exchanges(joined) >= 1
    finally:
        bucketing.drop_table(spark, tl4)
