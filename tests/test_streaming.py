"""Streaming-layer tests (SURVEY §5): batch–stream parity, upsert
idempotence, watermark late-data semantics — all deterministic via
file-replay sources and availableNow triggers.
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.monitor import attach_monitor
from realtime_data_pipeline_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    file_replay_stream,
    windowed_stream_counts,
)
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable, start_upsert_query

from conftest import SF_DIR

KEYS = ["window_start", "window_end", "user_id"]
SENTINEL = "__sentinel__"


def _ref_shaped_events(spark):
    """sf0.001 events in the reference's wire shape."""
    from realtime_data_pipeline_spark.tables import load_events

    return load_events(spark, SF_DIR).select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("user_id"),
        F.concat(F.lit("item_"), F.get_json_object("props", "$.k")).alias("item_id"),
        F.col("event_type").alias("interaction_type"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    )


def _write_replay_fixture(spark, events, dirpath):
    """Two files: the real events, then a far-future sentinel whose only
    job is to advance the watermark past every real window."""
    events.coalesce(1).write.mode("overwrite").parquet(dirpath)
    max_ts = events.agg(F.max("timestamp")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(SENTINEL, SENTINEL, "flush", max_ts + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("append").parquet(dirpath)


def _run_replay(spark, replay_dir, table_path, ckpt, key="user_id"):
    stream = file_replay_stream(spark, replay_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    agg = windowed_stream_counts(stream, key)
    table = UpsertTable(spark, table_path, KEYS)
    q = start_upsert_query(agg, table, ckpt, "parity", trigger_available_now=True)
    q.awaitTermination(120)
    return table


@pytest.fixture(scope="module")
def parity_setup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_parity")
    events = _ref_shaped_events(spark)
    replay = str(base / "replay")
    _write_replay_fixture(spark, events, replay)
    mon = attach_monitor(spark)
    try:
        table = _run_replay(spark, replay, str(base / "table"), str(base / "ckpt"))
        yield events, table, mon, base
    finally:
        spark.streams.removeListener(mon)


def test_batch_stream_parity(spark, parity_setup):
    events, table, _, _ = parity_setup
    streamed = {
        tuple(r) for r in table.read().where(F.col("user_id") != SENTINEL).collect()
    }
    batch = {
        tuple(r) for r in windowed_stream_counts(events, "user_id").collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_upsert_idempotent_replay(spark, parity_setup, tmp_path):
    """Re-running the whole stream with a fresh checkpoint re-merges every
    row under the same keys — the table must not grow or duplicate."""
    events, table, _, base = parity_setup
    before = table.read().count()
    _run_replay(spark, str(base / "replay"), str(base / "table"), str(tmp_path / "ckpt2"))
    after_df = table.read()
    assert after_df.count() == before
    assert after_df.groupBy(KEYS).count().where(F.col("count") > 1).count() == 0


class Crash(Exception):
    pass


@pytest.mark.parametrize("after", [False, True], ids=["before", "after"])
def test_restart_after_crash_at_flip_matches_batch(
    spark, tmp_path, monkeypatch, after
):
    """A crash inside the sink's commit, on either side of the
    `_CURRENT` replace, fails the query; restarting it from the same
    checkpoint re-runs the uncommitted micro-batch through the sink,
    and the table ends equal to the batch reference with no duplicate
    keys — exactly-once from the checkpoint's WAL plus an idempotent
    sink."""
    events = _ref_shaped_events(spark)
    replay = str(tmp_path / "replay")
    # three event files in event-time order, so the watermark drops
    # nothing and windows finalize across batches, then the sentinel
    us = F.unix_micros("timestamp")
    lo, hi = events.agg(F.min(us), F.max(us)).first()
    third = F.floor((us - lo) * 3 / (hi - lo + 1))
    for i in range(3):
        events.where(third == i).coalesce(1).write.mode("append").parquet(
            replay
        )
        time.sleep(1.1)  # distinct mtimes → stable file→batch order
    max_ts = events.agg(F.max("timestamp")).first()[0]
    spark.createDataFrame(
        [(SENTINEL, SENTINEL, "flush", max_ts + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(replay)

    def run():
        stream = file_replay_stream(
            spark, replay, EVENT_SCHEMA, max_files_per_trigger=1
        )
        table = UpsertTable(
            spark, str(tmp_path / "table"), KEYS, monotone_col="window_start"
        )
        q = start_upsert_query(
            windowed_stream_counts(stream, "user_id"),
            table,
            str(tmp_path / "ckpt"),
            "crash_restart",
            trigger_available_now=True,
        )
        q.awaitTermination(120)
        return table

    flip, flips = UpsertTable._flip, []

    def crash_on_second_flip(self, manifest):
        flips.append(manifest["version"])
        if len(flips) == 2 and not after:
            raise Crash
        flip(self, manifest)
        if len(flips) == 2:
            raise Crash

    with monkeypatch.context() as mp:
        mp.setattr(UpsertTable, "_flip", crash_on_second_flip)
        with pytest.raises(StreamingQueryException, match="Crash"):
            run()
    assert len(flips) == 2
    table = run()  # the restart

    got = table.read().where(F.col("user_id") != SENTINEL)
    assert got.groupBy(KEYS).count().where(F.col("count") > 1).count() == 0
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in windowed_stream_counts(events, "user_id").collect()
    }


def test_monitor_collects_progress(parity_setup):
    _, _, mon, _ = parity_setup
    assert mon.total_rows > 0
    # a file source reports no backlog metric, so every batch's lag is 0
    assert mon.history and all(b.lag == 0 for b in mon.history)


def _progress_event(batch_id, source, dropped, commit_ms=None, **fields):
    """A QueryProgressEvent as Spark serializes one: `source` is one
    SourceProgress dict, `dropped` the late drops per state operator,
    `commit_ms` their state commit times (1 ms each by default),
    `fields` further top-level progress fields."""
    from pyspark.sql.streaming.listener import (
        QueryProgressEvent,
        StreamingQueryProgress,
    )

    op = {
        "operatorName": "stateStoreSave", "numRowsTotal": 5,
        "numRowsUpdated": 1, "numRowsRemoved": 0, "allUpdatesTimeMs": 1,
        "allRemovalsTimeMs": 0, "memoryUsedBytes": 100,
        "numShufflePartitions": 4, "numStateStoreInstances": 4,
    }
    return QueryProgressEvent(StreamingQueryProgress.fromJson({
        "id": "00000000-0000-0000-0000-000000000001",
        "runId": "00000000-0000-0000-0000-000000000002",
        "name": "lag", "timestamp": "2024-06-01T00:00:00.000Z",
        "batchId": batch_id, "batchDuration": 10,
        "numInputRows": source["numInputRows"],
        "inputRowsPerSecond": 1.0, "processedRowsPerSecond": 2.0,
        "stateOperators": [
            {**op, "numRowsDroppedByWatermark": d, "commitTimeMs": c}
            for d, c in zip(dropped, commit_ms or [1] * len(dropped))
        ],
        "sources": [source],
        "sink": {"description": "ForeachBatchSink", "numOutputRows": -1},
        **fields,
    }))


def test_monitor_reads_lag_from_source_metrics():
    """Lag is what each source reports of itself: Kafka's
    maxOffsetsBehindLatest, and 0 for the file source, which reports
    no lag metric (its offsets are a log position, not a backlog)."""
    from realtime_data_pipeline_spark.streaming.monitor import ProgressMonitor

    kafka = {
        "description": "KafkaV2[Subscribe[interactions]]",
        "startOffset": {"interactions": {"0": 100, "1": 90}},
        "endOffset": {"interactions": {"0": 110, "1": 95}},
        "latestOffset": {"interactions": {"0": 150, "1": 120}},
        "numInputRows": 15, "inputRowsPerSecond": 1.0,
        "processedRowsPerSecond": 2.0,
        "metrics": {
            "avgOffsetsBehindLatest": "32.5",
            "maxOffsetsBehindLatest": "40",
            "minOffsetsBehindLatest": "25",
        },
    }
    files = {
        "description": "FileStreamSource[file:/replay]",
        "startOffset": {"logOffset": 2}, "endOffset": {"logOffset": 3},
        "latestOffset": None, "numInputRows": 7,
        "inputRowsPerSecond": 1.0, "processedRowsPerSecond": 2.0,
    }
    mon = ProgressMonitor()
    mon.onQueryProgress(_progress_event(0, kafka, [2, 3]))
    mon.onQueryProgress(_progress_event(1, files, [1]))
    assert [(b.batch_id, b.lag) for b in mon.history] == [(0, 40), (1, 0)]
    assert sum(b.dropped_by_watermark for b in mon.history) == 6
    assert mon.total_rows == 22


def test_monitor_records_durations_watermark_and_state_partitions():
    """Each batch's record carries Spark's durationMs breakdown, the
    watermark it ran with and its state-store partitions; a batch
    without an event-time watermark records None."""
    from realtime_data_pipeline_spark.streaming.monitor import ProgressMonitor

    files = {
        "description": "FileStreamSource[file:/replay]",
        "startOffset": {"logOffset": 2}, "endOffset": {"logOffset": 3},
        "latestOffset": None, "numInputRows": 7,
        "inputRowsPerSecond": 1.0, "processedRowsPerSecond": 2.0,
    }
    durations = {
        "triggerExecution": 500, "queryPlanning": 20, "getBatch": 5,
        "walCommit": 30, "addBatch": 400, "commitOffsets": 30,
    }
    mon = ProgressMonitor()
    mon.onQueryProgress(_progress_event(
        0, files, [0, 0], durationMs=durations,
        eventTime={
            "max": "2024-06-01T00:30:00.000Z",
            "watermark": "2024-06-01T00:20:00.000Z",
        },
    ))
    mon.onQueryProgress(_progress_event(1, files, []))
    first, second = mon.history
    assert first.duration_ms == durations
    assert first.watermark == "2024-06-01T00:20:00.000Z"
    assert first.state_store_instances == 8  # two operators, 4 each
    assert (second.duration_ms, second.watermark) == ({}, None)
    assert second.state_store_instances == 0


def test_monitor_records_state_commit_time():
    """Each batch's record sums the stateful operators' commitTimeMs,
    the time spent committing state-store versions; a batch without a
    stateful operator records 0."""
    from realtime_data_pipeline_spark.streaming.monitor import ProgressMonitor

    files = {
        "description": "FileStreamSource[file:/replay]",
        "startOffset": {"logOffset": 2}, "endOffset": {"logOffset": 3},
        "latestOffset": None, "numInputRows": 7,
        "inputRowsPerSecond": 1.0, "processedRowsPerSecond": 2.0,
    }
    mon = ProgressMonitor()
    mon.onQueryProgress(_progress_event(0, files, [0, 0], commit_ms=[33, 2]))
    mon.onQueryProgress(_progress_event(1, files, []))
    assert [b.state_commit_ms for b in mon.history] == [35, 0]


def _offset_log_conf(ckpt, batch_id):
    """The SQL confs the checkpoint's offset log records for a batch."""
    import json
    import os

    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def _state_partitions(ckpt):
    import os

    return sorted(
        d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()
    )


def test_upsert_query_runs_one_state_partition(spark, tmp_path):
    """start_upsert_query starts its query with one shuffle partition,
    so the windowed aggregate keeps one state-store partition; Spark
    records the count in the offset log, and the session's own conf is
    left as it was."""
    events = _ref_shaped_events(spark).limit(2000)
    replay = str(tmp_path / "replay")
    _write_replay_fixture(spark, events, replay)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = str(tmp_path / "ckpt")
    table = _run_replay(spark, replay, str(tmp_path / "table"), ckpt)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before != "1"
    assert _offset_log_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == "1"
    assert _state_partitions(ckpt) == ["0"]
    streamed = {
        tuple(r) for r in table.read().where(F.col("user_id") != SENTINEL).collect()
    }
    assert streamed == {
        tuple(r) for r in windowed_stream_counts(events, "user_id").collect()
    }


def test_concurrent_starts_restore_the_session_conf(spark, tmp_path):
    """start_upsert_query sets the session's shuffle partitions around
    start() and restores them; starts from several threads at once must
    still leave the session's own value in place."""
    import sys
    import threading

    empty = tmp_path / "empty"
    empty.mkdir()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    queries, errors = [], []

    def start(i):
        try:
            for j in range(2):
                stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(empty))
                queries.append(start_upsert_query(
                    stream,
                    UpsertTable(spark, str(tmp_path / f"t{i}_{j}"), ["user_id"]),
                    str(tmp_path / f"ckpt{i}_{j}"),
                    f"concurrent_{i}_{j}",
                    trigger_available_now=True,
                ))
        except Exception as e:  # the thread's failure, asserted below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=start, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    for q in queries:
        q.awaitTermination(60)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert len(queries) == 12 and not any(q.isActive for q in queries)
    assert spark.conf.get(key) == before


def test_restart_keeps_the_checkpoints_partition_count(spark, tmp_path):
    """A checkpoint made with 4 shuffle partitions keeps 4 when
    start_upsert_query restarts it: Spark takes the count from the
    offset log, and state stays where its partitions put it."""
    events = _ref_shaped_events(spark)
    us = F.unix_micros("timestamp")
    cut = events.agg(F.percentile_approx(us, 0.5)).first()[0]
    replay = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    table = UpsertTable(
        spark, str(tmp_path / "table"), KEYS, monotone_col="window_start"
    )

    def agg():
        stream = file_replay_stream(
            spark, replay, EVENT_SCHEMA, max_files_per_trigger=1
        )
        return windowed_stream_counts(stream, "user_id")

    events.where(us < cut).coalesce(1).write.mode("append").parquet(replay)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        q = (
            agg().writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda batch, _id: table.merge(batch))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, saved)
    assert _state_partitions(ckpt) == ["0", "1", "2", "3"]

    time.sleep(1.1)  # distinct mtimes → stable file→batch order
    events.where(us >= cut).coalesce(1).write.mode("append").parquet(replay)
    time.sleep(1.1)
    max_ts = events.agg(F.max("timestamp")).first()[0]
    spark.createDataFrame(
        [(SENTINEL, SENTINEL, "flush", max_ts + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(replay)
    q = start_upsert_query(agg(), table, ckpt, "restart_4", trigger_available_now=True)
    q.awaitTermination(120)
    last = q.lastProgress["batchId"]
    assert _offset_log_conf(ckpt, last)[key] == "4"
    assert _state_partitions(ckpt) == ["0", "1", "2", "3"]
    got = table.read().where(F.col("user_id") != SENTINEL)
    assert got.groupBy(KEYS).count().where(F.col("count") > 1).count() == 0
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in windowed_stream_counts(events, "user_id").collect()
    }


def test_watermark_drops_late_data(spark, tmp_path):
    """Event later than the 10-min watermark is dropped and the progress
    monitor reports the drop; late-but-within event still counts
    (SURVEY §1.4.2, consumer/consumer.py:112)."""
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def ev(minute, user="user_1"):
        return (user, "item_1", "click", t0 + dt.timedelta(minutes=minute))

    replay = str(tmp_path / "replay")
    # Watermark timing (observed on the physical plan: StateStoreSave
    # carries TWO watermarks): the late-events filter of batch N uses the
    # watermark as of batch N-2's data, eviction uses batch N-1's.  So a
    # drop is only observable two batches after the advancing event.
    batches = [
        [ev(2)],                  # wm trails
        [ev(30)],                 # wm (data-derived): 00:20
        [ev(31)],                 # spacer: 00:20 becomes the late-filter wm
        [ev(7), ev(22)],          # 00:07 → both its windows end ≤ 00:20 → dropped
        [ev(60 * 48, SENTINEL)],  # flush: advance wm past every real window
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(replay)
        time.sleep(1.1)  # distinct mtimes → stable file→batch order

    mon = attach_monitor(spark)
    try:
        table = _run_replay(
            spark, replay, str(tmp_path / "table"), str(tmp_path / "ckpt")
        )
        # progress events reach the listener asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            b.query_name == "parity" and b.dropped_by_watermark
            for b in mon.history
        ):
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(mon)
    # the drop is reported, not silently lost
    assert sum(
        b.dropped_by_watermark for b in mon.history if b.query_name == "parity"
    ) >= 1
    got = {
        (r["window_start"].strftime("%H:%M"), r["total_interactions"])
        for r in table.read().where(F.col("user_id") != SENTINEL).collect()
    }
    expected = {
        ("23:55", 1), ("00:00", 1),  # ev(2); ev(7) dropped, else 00:00 would be 2
        ("00:15", 1), ("00:20", 1),  # ev(22) — late but within wm → counted
        ("00:25", 2), ("00:30", 2),  # ev(30) + ev(31)
    }
    # No ("00:05", …) row: ev(7)'s sole solo window — proof it was dropped.
    assert got == expected


def test_synthetic_source_shape(spark):
    from realtime_data_pipeline_spark.sources.synthetic import (
        INTERACTION_TYPES,
        synthetic_events_batch,
        to_kafka_payload,
    )

    df = synthetic_events_batch(spark, 1000, user_range=50, item_range=10)
    rows = df.collect()
    assert len(rows) == 1000
    assert all(r.user_id.startswith("user_") for r in rows)
    assert all(1 <= int(r.user_id[5:]) <= 50 for r in rows)
    assert {r.interaction_type for r in rows} <= set(INTERACTION_TYPES)
    payload = to_kafka_payload(df).collect()
    import json

    doc = json.loads(payload[0].value)
    assert set(doc) == {"user_id", "item_id", "interaction_type", "timestamp"}


def test_stateful_totals_survive_restart(spark, tmp_path):
    """applyInPandasWithState running totals: state persists across a
    query restart (checkpoint recovery) and keeps accumulating."""
    import time

    from realtime_data_pipeline_spark.streaming.stateful import running_user_totals

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    replay = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    table = UpsertTable(spark, str(tmp_path / "table"), ["user_id"])

    def run():
        stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
        totals = running_user_totals(stream)
        q = start_upsert_query(
            totals, table, ckpt, "totals",
            trigger_available_now=True, output_mode="update",
        )
        q.awaitTermination(120)

    rows1 = [("user_1", "i", "click", t0), ("user_1", "i", "view", t0),
             ("user_2", "i", "click", t0)]
    spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(replay)
    run()
    got1 = {r.user_id: r.total_interactions for r in table.read().collect()}
    assert got1 == {"user_1": 2, "user_2": 1}

    time.sleep(1.1)  # distinct mtime for the second file
    rows2 = [("user_1", "i", "purchase", t0), ("user_3", "i", "click", t0)]
    spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(replay)
    run()  # restart from the same checkpoint — state must carry over
    got2 = {r.user_id: r.total_interactions for r in table.read().collect()}
    assert got2 == {"user_1": 3, "user_2": 1, "user_3": 1}


def test_multi_query_fanout(spark, tmp_path):
    """W5: one replayed source powering TWO concurrent streaming queries
    (user + item aggregations) with separate checkpoints — the
    reference's consumer topology (consumer/consumer.py:143-174)."""
    events = _ref_shaped_events(spark)
    replay = str(tmp_path / "replay")
    _write_replay_fixture(spark, events, replay)

    tables, queries = [], []
    for key in ("user_id", "item_id"):
        stream = file_replay_stream(spark, replay, EVENT_SCHEMA, max_files_per_trigger=1)
        agg = windowed_stream_counts(stream, key)
        table = UpsertTable(
            spark, str(tmp_path / f"table_{key}"),
            ["window_start", "window_end", key],
        )
        q = start_upsert_query(
            agg, table, str(tmp_path / f"ckpt_{key}"), f"fanout_{key}",
            trigger_available_now=True,
        )
        tables.append((key, table))
        queries.append(q)
    for q in queries:  # both run CONCURRENTLY; wait for both
        q.awaitTermination(120)

    for key, table in tables:
        streamed = {
            tuple(r) for r in table.read().where(F.col(key) != SENTINEL).collect()
        }
        batch = {tuple(r) for r in windowed_stream_counts(events, key).collect()}
        assert streamed == batch and len(streamed) > 0, key


def test_windowed_agg_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state path: the same watermark+window+upsert pipeline
    must produce identical results on the RocksDB state store provider
    (bounded memory, spill-to-disk state) as on the default in-memory
    HDFS-backed provider.  PLANS.md names RocksDB as the high-key-
    cardinality posture — this pins that it actually works."""
    from realtime_data_pipeline_spark.streaming.stateful import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    default_provider = spark.conf.get(key)
    events = _ref_shaped_events(spark).limit(2000)
    replay = str(tmp_path / "replay")
    _write_replay_fixture(spark, events, replay)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        table = _run_replay(
            spark, replay, str(tmp_path / "table"), str(tmp_path / "ckpt")
        )
        streamed = {
            tuple(r)
            for r in table.read().where(F.col("user_id") != SENTINEL).collect()
        }
    finally:
        spark.conf.set(key, default_provider)
    batch = {tuple(r) for r in windowed_stream_counts(events, "user_id").collect()}
    assert streamed == batch and len(streamed) > 0


def test_serving_queries_over_streamed_sink_table(spark, parity_setup):
    """SURVEY §7 step 4: the dashboard queries (A3-A6, T1-T3) are
    library functions over the SINK tables — the end-to-end contract is
    stream → keyed-upsert table → serving query, and it must agree with
    the same serving query over the batch aggregation (whose own
    correctness the DuckDB oracles pin)."""
    from realtime_data_pipeline_spark.operators import kpis

    events, table, _, _ = parity_setup
    sink = table.read().where(F.col("user_id") != SENTINEL)
    batch = windowed_stream_counts(events, "user_id")

    for fn in (
        kpis.avg_interactions,
        kpis.interaction_extrema,
        lambda a: kpis.top_rows(a, "user_id", 20),
        lambda a: kpis.latest_window_top(a, "user_id", 20),
        lambda a: kpis.recent_rows(a, "user_id", 100),
    ):
        got = sorted(map(tuple, fn(sink).collect()))
        want = sorted(map(tuple, fn(batch).collect()))
        assert got == want and len(got) > 0, fn


def test_upsert_soak_bounded_versions_and_footprint(
    spark, tmp_path, monkeypatch
):
    """VERDICT r2 item 8: 20-micro-batch soak on the keyed-upsert sink.

    Under sustained churn the on-disk state must stay BOUNDED — vacuum
    has to reclaim superseded leaves as fast as merges create them,
    keeping only the current leaf plus the one its last merge
    superseded (ripe at the next commit with no retention time).
    Without vacuum the layout is O(batches) versions; this pins it at
    two, of one part file each, next to the one metadata file."""
    import os

    # no retention time: the bounds below count merges
    monkeypatch.setattr(sinks, "RETAIN_S", 0)
    path = str(tmp_path / "soak")
    table = UpsertTable(spark, path, ["k"])

    expect: dict[int, int] = {}
    n_batches = 20
    for i in range(n_batches):
        # churn: each batch upserts 6 keys from a sliding range, so
        # every merge rewrites stored keys
        rows = [(k, i) for k in range(i, i + 6)]
        for k, v in rows:
            expect[k] = v
        table.merge(spark.createDataFrame(rows, "k int, v int"))

    # correctness after churn: last write wins for every key
    got = {r.k: r.v for r in table.read().collect()}
    assert got == expect

    # bounded version roots: current + grace, not O(n_batches); and
    # bounded metadata: `_CURRENT` is the directory's only other entry
    versions = [d for d in os.listdir(path) if d.startswith("v=")]
    assert len(versions) <= 2, versions
    assert sorted(os.listdir(path)) == sorted(versions + ["_CURRENT"])
    assert len(table.versions()) == len(versions)

    # bounded data files: one part file per leaf, not O(n_batches)
    n_parts = sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert n_parts <= 2, n_parts


def test_streaming_topk_exact_across_multibatch_finalization(spark, tmp_path):
    """The leaderboard's correctness claim: windows finalize ATOMICALLY
    (every (window,item) row of a window lands in one micro-batch when
    the watermark passes window_end), so in-batch per-window ranking is
    exact even when DIFFERENT windows finalize in DIFFERENT batches.
    Replay chronologically split files (maxFilesPerTrigger=1) so the
    watermark advances mid-stream and early windows finalize before
    late ones; the materialized table must equal the batch twin."""
    from pyspark.sql import Window

    events = _ref_shaped_events(spark).where(
        F.col("item_id").isNotNull() & F.col("timestamp").isNotNull()
    )
    lo, hi = events.agg(
        F.min("timestamp"), F.max("timestamp")
    ).collect()[0]
    span = (hi - lo) / 3
    replay = str(tmp_path / "replay")
    # three chronological files, then the far-future sentinel
    for i in range(3):
        chunk = events.where(
            (F.col("timestamp") >= lo + i * span)
            & (
                F.col("timestamp") < lo + (i + 1) * span
                if i < 2
                else F.lit(True)
            )
        )
        chunk.coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(replay)
    sentinel = spark.createDataFrame(
        [(SENTINEL, SENTINEL, "flush", hi + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("append").parquet(replay)

    stream = file_replay_stream(
        spark, replay, EVENT_SCHEMA, max_files_per_trigger=1
    )
    agg = windowed_stream_counts(stream, "item_id")
    table = UpsertTable(
        spark, str(tmp_path / "table"), ["window_start", "rk"]
    )
    batches = []

    def rank_and_merge(batch_df, batch_id):
        w = Window.partitionBy("window_start").orderBy(
            F.desc("total_interactions"), F.asc("item_id")
        )
        top = batch_df.withColumn("rk", F.row_number().over(w)).where(
            F.col("rk") <= 3
        )
        n = top.count()
        batches.append(n)
        table.merge(top)

    q = (
        agg.writeStream.outputMode("append")
        .queryName("topk_multibatch")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(rank_and_merge)
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)

    # windows really finalized across MORE than one emitting batch
    assert sum(1 for n in batches if n > 0) >= 2, batches

    got = sorted(
        map(
            tuple,
            table.read()
            .where(F.col("item_id") != SENTINEL)
            .select(
                "window_start", "window_end", "item_id",
                "total_interactions", "rk",
            )
            .collect(),
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("total_interactions"), F.asc("item_id")
    )
    want = sorted(
        map(
            tuple,
            windowed_stream_counts(events, "item_id")
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select(
                "window_start", "window_end", "item_id",
                "total_interactions", "rk",
            )
            .collect(),
        )
    )
    assert got == want and len(want) > 0
