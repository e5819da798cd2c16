"""Streaming operators surfaced as registry queries.

`streaming_replay_user_counts` runs the REAL streaming pipeline —
file-replay source → declared schema → watermark → sliding-window agg
→ append-mode keyed-upsert sink (W1-W4) — over the sf events table,
then returns the sink table.  Because batch–stream parity holds (and a
far-future sentinel flushes every real window past the watermark), its
result equals the batch A1 aggregation, so it shares the same DuckDB
oracle: the streaming path itself is hash-checked against SQL.
"""

from __future__ import annotations

import datetime as dt
import os
from realtime_data_pipeline_spark.scratch import scratch_dir

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from realtime_data_pipeline_spark.plans.registry import (
    USER_AGG_CTE,
    _events,
    register,
)
from realtime_data_pipeline_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    file_replay_stream,
    windowed_stream_counts,
)
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable, start_upsert_query

SENTINEL = "__sentinel__"
KEYS = ["window_start", "window_end", "user_id"]


@register(
    "streaming_replay_user_counts",
    f"WITH {USER_AGG_CTE} SELECT * FROM user_agg",
    doc="W1-W4 end to end: availableNow replay through watermark + sliding "
    "window + append-mode upsert sink; equals batch A1 by parity",
    tags=("streaming",),
)
def q_streaming_replay_user_counts(spark, sf_dir):
    events = _events(spark, sf_dir).select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("user_id"),
        F.get_json_object("props", "$.k").alias("item_id"),
        F.col("event_type").alias("interaction_type"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).where(F.col("user_id").isNotNull() & F.col("timestamp").isNotNull())

    base, replay = _replay_dir(events, spark, EVENT_SCHEMA)
    stream = file_replay_stream(spark, replay, EVENT_SCHEMA, max_files_per_trigger=1)
    agg = windowed_stream_counts(stream, "user_id")
    # The classic rewrite sink: this twin keeps the rewrite path on a
    # windowed stream under the oracle, while the other windowed twins
    # take the fast-append path.
    table = UpsertTable(spark, os.path.join(base, "table"), KEYS)
    _drain(agg, table, base, "replay_user_counts")
    return table.read().where(F.col("user_id") != SENTINEL)


DEDUP_SCHEMA = StructType(
    [
        StructField("event_id", StringType(), True),
        StructField("user_id", StringType(), True),
        StructField("interaction_type", StringType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)

_WIN_US = 600_000_000  # 10 minutes


def _dedup_events(spark, sf_dir):
    """The events table in DEDUP_SCHEMA's shape, rows with a user and
    a timestamp only."""
    return _events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("event_id"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("user_id"),
        F.col("event_type").alias("interaction_type"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).where(F.col("user_id").isNotNull() & F.col("timestamp").isNotNull())


def _replay_dir(
    events, spark, schema, duplicate: bool = False, sentinel_types=("flush",)
):
    """Write events (optionally doubled — simulated at-least-once
    redelivery) as one file, then far-future sentinel rows, one per
    entry of `sentinel_types` (their `interaction_type`), as a second.

    Read with maxFilesPerTrigger=1, every real event lands in one
    micro-batch, so no intermediate watermark advance can drop
    out-of-order rows; the sentinels' own batch then advances the
    watermark past every real window.  A stream filtered on
    `interaction_type` (each side of a join) needs a sentinel of a kept
    type: Catalyst pushes filters below the watermark operator, so a
    filtered-out sentinel would advance nothing."""
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    payload = events.unionAll(events) if duplicate else events
    # max(timestamp) rides the write: no second pass over the input
    obs = Observation()
    payload.observe(obs, F.max("timestamp").alias("m")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(replay)
    fields = dict.fromkeys(("event_id", "user_id", "item_id"), SENTINEL)
    fields["timestamp"] = obs.get["m"] + dt.timedelta(days=2)
    rows = [
        tuple({**fields, "interaction_type": kind}.get(f.name) for f in schema.fields)
        for kind in sentinel_types
    ]
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(replay)
    return base, replay


def _drain(agg, table, base, name, output_mode="append"):
    """Run `agg` into `table` under an availableNow trigger,
    checkpointed below `base`, until the replay is drained."""
    q = start_upsert_query(
        agg,
        table,
        os.path.join(base, "ckpt"),
        name,
        trigger_available_now=True,
        output_mode=output_mode,
    )
    while q.isActive:
        q.awaitTermination(5)


@register(
    "streaming_dedup_user_counts",
    f"""
    SELECT make_timestamp((epoch_us(ts) // {_WIN_US}) * {_WIN_US}) AS window_start,
           make_timestamp(((epoch_us(ts) // {_WIN_US}) + 1) * {_WIN_US}) AS window_end,
           'user_' || CAST(user_id AS VARCHAR) AS user_id,
           count(*) AS total_interactions
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    doc="exactly-once under at-least-once delivery: every event replayed "
    "TWICE in one batch, dropDuplicatesWithinWatermark(event_id) chained "
    "into the tumbling-window agg (two stateful ops, one query) — counts "
    "must equal the clean single-copy batch aggregation",
    tags=("streaming",),
)
def q_streaming_dedup_user_counts(spark, sf_dir):
    events = _dedup_events(spark, sf_dir)

    base, replay = _replay_dir(events, spark, DEDUP_SCHEMA, duplicate=True)
    stream = file_replay_stream(spark, replay, DEDUP_SCHEMA, max_files_per_trigger=1)
    deduped = stream.withWatermark("timestamp", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = windowed_stream_counts(deduped, "user_id", slide=None, watermark=None)
    # append-mode finalized windows are non-decreasing in window_start
    # across merges -> fast-append sink (same results as the rewrite
    # path, without rewriting the table on every merge)
    table = UpsertTable(
        spark, os.path.join(base, "table"), KEYS, monotone_col="window_start"
    )
    _drain(agg, table, base, "dedup_user_counts")
    return table.read().where(F.col("user_id") != SENTINEL)


@register(
    "streaming_running_user_totals",
    """
    SELECT 'user_' || CAST(user_id AS VARCHAR) AS user_id,
           count(*) AS total_interactions
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
    """,
    doc="custom stateful operator: applyInPandasWithState lifetime "
    "per-user counter (state the built-in windowed aggs cannot express), "
    "update-mode emission into the keyed upsert sink; final state equals "
    "the batch groupBy count",
    tags=("streaming", "stateful"),
)
def q_streaming_running_user_totals(spark, sf_dir):
    from realtime_data_pipeline_spark.streaming.stateful import running_user_totals

    events = _dedup_events(spark, sf_dir)

    base, replay = _replay_dir(events, spark, DEDUP_SCHEMA)
    stream = file_replay_stream(spark, replay, DEDUP_SCHEMA, max_files_per_trigger=1)
    totals = running_user_totals(stream)
    table = UpsertTable(spark, os.path.join(base, "table"), ["user_id"])
    _drain(totals, table, base, "running_user_totals", output_mode="update")
    return table.read().where(F.col("user_id") != SENTINEL)


@register(
    "streaming_click_purchase_join",
    """
    SELECT CAST(c.event_id AS VARCHAR) AS click_id,
           CAST(p.event_id AS VARCHAR) AS purchase_id,
           'user_' || CAST(c.user_id AS VARCHAR) AS user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.user_id IS NOT NULL AND c.ts IS NOT NULL AND p.ts IS NOT NULL
    """,
    doc="stream-stream inner join (reference has none, SURVEY §2.5): "
    "clicks joined to same-user purchases within 30 minutes, watermarks "
    "on BOTH sides bound the join state; availableNow replay equals the "
    "batch interval join",
    tags=("streaming",),
)
def q_streaming_click_purchase_join(spark, sf_dir):
    events = _dedup_events(spark, sf_dir)

    # Sentinels pass both event-type filters, so both sides' watermarks
    # advance; they join only each other and are excluded on read-back.
    base, replay = _replay_dir(
        events, spark, DEDUP_SCHEMA, sentinel_types=("click", "purchase")
    )
    stream = file_replay_stream(spark, replay, DEDUP_SCHEMA, max_files_per_trigger=1)
    clicks = (
        stream.withWatermark("timestamp", "10 minutes")
        .where(F.col("interaction_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("timestamp").alias("click_ts"),
        )
    )
    purchases = (
        stream.withWatermark("timestamp", "10 minutes")
        .where(F.col("interaction_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("timestamp").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")

    table = UpsertTable(spark, os.path.join(base, "table"), ["click_id", "purchase_id"])
    _drain(joined, table, base, "click_purchase_join")
    return table.read().where(F.col("user_id") != SENTINEL)


@register(
    "streaming_session_counts",
    """
    WITH x AS (
        SELECT 'user_' || CAST(user_id AS VARCHAR) AS user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    y AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, new_sess DESC
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM x
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM y GROUP BY user_id, sess_id
    """,
    doc="STREAMING session windows: merging session state per key under a "
    "watermark (gap 30 min), append-mode emission of closed sessions — "
    "equals the batch sessionization (lag+cumsum oracle)",
    tags=("streaming",),
)
def q_streaming_session_counts(spark, sf_dir):
    events = _dedup_events(spark, sf_dir)

    base, replay = _replay_dir(events, spark, DEDUP_SCHEMA)
    stream = file_replay_stream(spark, replay, DEDUP_SCHEMA, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("timestamp", "10 minutes")
        .groupBy(
            F.session_window("timestamp", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    # Classic rewrite sink.  A session window's start is not tied to
    # its end, so unlike the fixed-width twins, later-finalized
    # sessions can START earlier than already-stored ones —
    # monotone_col would be sound but would rarely engage.
    table = UpsertTable(
        spark,
        os.path.join(base, "table"),
        ["session_start", "session_end", "user_id"],
    )
    _drain(agg, table, base, "session_counts")
    return table.read().where(F.col("user_id") != SENTINEL)


# The wire path's P4 null filter (parse_events) drops rows with a NULL
# item_id TOO — unlike the plain replay, whose oracle USER_AGG_CTE only
# requires (ts, user_id).  The oracle must carry the same predicate or
# NULL-props rows diverge (the NULL-injection parity tests catch it).
_WIRE_USER_AGG_CTE = USER_AGG_CTE.replace(
    "WHERE ts IS NOT NULL AND user_id IS NOT NULL",
    "WHERE ts IS NOT NULL AND user_id IS NOT NULL "
    "AND (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) IS NOT NULL",
)
assert _WIRE_USER_AGG_CTE != USER_AGG_CTE


@register(
    "streaming_json_wire_counts",
    f"WITH {_WIRE_USER_AGG_CTE} SELECT * FROM user_agg",
    doc="the reference's FULL wire path under streaming (P1-P4 + W1-W4): "
    "events serialized as JSON lines (the Kafka value payload), text "
    "stream source, CAST->from_json(declared schema)->flatten->null "
    "filter (pipeline.parse_events), then watermark + sliding windows + "
    "upsert sink — equals batch A1",
    tags=("streaming",),
)
def q_streaming_json_wire_counts(spark, sf_dir):
    from realtime_data_pipeline_spark.streaming.pipeline import parse_events

    events = _events(spark, sf_dir).select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("user_id"),
        F.get_json_object("props", "$.k").alias("item_id"),
        F.col("event_type").alias("interaction_type"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).where(
        F.col("user_id").isNotNull()
        & F.col("item_id").isNotNull()
        & F.col("timestamp").isNotNull()
    )

    def to_wire(df):
        return df.select(
            F.to_json(
                F.struct(
                    "user_id",
                    "item_id",
                    "interaction_type",
                    F.date_format(
                        "timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
                    ).alias("timestamp"),
                )
            ).alias("value")
        )

    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    obs = Observation()
    to_wire(
        events.observe(obs, F.max("timestamp").alias("m"))
    ).coalesce(1).write.mode("overwrite").text(replay)
    max_ts = obs.get["m"]
    sentinel = spark.createDataFrame(
        [(SENTINEL, SENTINEL, "flush", max_ts + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    )
    to_wire(sentinel).coalesce(1).write.mode("append").text(replay)

    raw = (
        spark.readStream.option("maxFilesPerTrigger", "1").text(replay)
    )
    agg = windowed_stream_counts(parse_events(raw), "user_id")
    # append-mode windowed twin -> fast-append sink (see
    # streaming_dedup_user_counts; identical-results contract)
    table = UpsertTable(
        spark, os.path.join(base, "table"), KEYS, monotone_col="window_start"
    )
    _drain(agg, table, base, "json_wire_counts")
    return table.read().where(F.col("user_id") != SENTINEL)


@register(
    "streaming_purchase_attribution_outer",
    """
    SELECT CAST(p.event_id AS VARCHAR) AS purchase_id,
           'user_' || CAST(p.user_id AS VARCHAR) AS user_id,
           p.ts AS purchase_ts,
           COALESCE(CAST(c.event_id AS VARCHAR), '__none__') AS click_id,
           COALESCE(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
            AND user_id IS NOT NULL AND ts IS NOT NULL) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click'
                 AND user_id IS NOT NULL AND ts IS NOT NULL) c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """,
    doc="stream-stream LEFT OUTER join: every purchase paired with each "
    "same-user click in the prior 30 min, or emitted with NULLs once the "
    "watermark proves no click can still arrive — the outer-emission "
    "semantics only streaming state can provide",
    tags=("streaming",),
)
def q_streaming_purchase_attribution_outer(spark, sf_dir):
    events = _dedup_events(spark, sf_dir)

    # Sentinels pass both side filters so both watermarks advance and
    # the unmatched-left rows flush; excluded on read-back.
    base, replay = _replay_dir(
        events, spark, DEDUP_SCHEMA, sentinel_types=("click", "purchase")
    )
    stream = file_replay_stream(spark, replay, DEDUP_SCHEMA, max_files_per_trigger=1)
    purchases = (
        stream.withWatermark("timestamp", "10 minutes")
        .where(F.col("interaction_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("timestamp").alias("purchase_ts"),
        )
    )
    clicks = (
        stream.withWatermark("timestamp", "10 minutes")
        .where(F.col("interaction_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("timestamp").alias("click_ts"),
        )
    )
    # COALESCE the null-match columns to sentinels: pandas/arrow round
    # trips render null timestamps as NaT, which order-insensitive
    # value-hash comparisons may normalize differently than SQL NULL.
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "leftOuter",
    ).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.coalesce("click_id", F.lit("__none__")).alias("click_id"),
        F.coalesce(
            "click_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("click_ts"),
    )

    table = UpsertTable(
        spark, os.path.join(base, "table"), ["purchase_id", "click_id"]
    )
    _drain(joined, table, base, "purchase_attribution_outer")
    return table.read().where(F.col("user_id") != SENTINEL)


# ---------------------------------------------------------------------------
# Streaming LLM-data curation: the text-analysis operators run unchanged
# under Structured Streaming (they are pure JVM expressions), so a
# document stream can be quality-filtered and rolled up incrementally.
# ---------------------------------------------------------------------------

from pyspark.sql.types import LongType  # noqa: E402

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("lang", StringType(), True),
        StructField("text", StringType(), True),
    ]
)


@register(
    "streaming_doc_quality_counts",
    # Oracle = the batch curation rollup (same quality formula the
    # northstar queries mirror); update-mode streaming state converges
    # to exactly this after the availableNow replay drains.
    None,  # set immediately below — needs northstar's SQL fragments
    doc="STREAMING curation: documents replayed as a stream, quality-"
    "scored with the same JVM expressions the batch path uses (no UDF, "
    "no watermark — an unwindowed update-mode agg keyed on lang), "
    "filtered at quality >= 0.5, counts+tokens upserted per language; "
    "equals the batch rollup",
    tags=("streaming",),
)
def q_streaming_doc_quality_counts(spark, sf_dir):
    from realtime_data_pipeline_spark.functions import text
    from realtime_data_pipeline_spark.plans.registry import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    # two files → two micro-batches, so the update-mode upsert provably
    # overwrites batch-1 partials with the converged totals
    half = docs.where(F.col("doc_id") % 2 == 0)
    half.coalesce(1).write.mode("overwrite").parquet(replay)
    docs.subtract(half).coalesce(1).write.mode("append").parquet(replay)

    stream = file_replay_stream(spark, replay, DOC_SCHEMA, max_files_per_trigger=1)
    agg = (
        stream.select(
            "lang",
            text.token_count().alias("n_tokens"),
            text.quality_score().alias("quality"),
        )
        .where(F.col("quality") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    table = UpsertTable(spark, os.path.join(base, "table"), ["lang"])
    _drain(agg, table, base, "doc_quality_counts", output_mode="update")
    return table.read()


def _attach_doc_quality_oracle() -> None:
    """The oracle reuses northstar's quality-formula SQL fragments;
    imported lazily here to keep module import order irrelevant."""
    from dataclasses import replace

    from realtime_data_pipeline_spark.plans import northstar
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    sql = f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens
    FROM (SELECT lang, {northstar.D_TOKS} AS toks FROM documents)
    WHERE {northstar._D_QUALITY} >= 0.5
    GROUP BY lang
    """
    REGISTRY["streaming_doc_quality_counts"] = replace(
        REGISTRY["streaming_doc_quality_counts"], oracle=sql
    )


_attach_doc_quality_oracle()


@register(
    "streaming_incremental_dedup",
    None,  # attached below — reuses northstar's MinHash SQL fragments
    doc="INCREMENTAL MinHash-LSH dedup as a stream: documents replayed in "
    "three id-ordered micro-batches through the persistent signature "
    "store (streaming/incremental_dedup.py — per-batch idempotent "
    "partition writes, store probe = bounded (band,bucket) equi-join); "
    "accepted set equals the online filter's contract: a doc survives "
    "iff no earlier (lower-id) doc agrees on >= 6 of 12 signature rows",
    tags=("streaming",),
)
def q_streaming_incremental_dedup(spark, sf_dir):
    from realtime_data_pipeline_spark.plans.registry import _t
    from realtime_data_pipeline_spark.streaming import incremental_dedup as inc

    docs = _t(spark, sf_dir, "documents")
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    # Three id-ordered micro-batches (one file each, maxFilesPerTrigger=1
    # processes them in write order): cross-batch drops then always point
    # at lower ids, so the streamed result matches the batch oracle's
    # "no earlier doc matches" predicate.
    n = docs.count()
    for lo, hi in ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)):
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(replay)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay)
    )
    q = inc.start_incremental_dedup(
        stream,
        os.path.join(base, "store"),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
    )
    while q.isActive:
        q.awaitTermination(5)
    return (
        spark.read.parquet(os.path.join(base, "out"))
        .select("doc_id", "lang", "n_chars")
    )


def _attach_incremental_dedup_oracle() -> None:
    """DuckDB mirror of the online first-writer-wins contract: a doc is
    accepted iff no lower-id doc agrees on >= DUP_MIN_AGREE of N_PERMS
    signature rows.  Reuses northstar's signature CTE fragments (same
    constants as functions/dedup.py) WITHOUT the batch skew cap — the
    incremental probe applies none."""
    from dataclasses import replace

    from realtime_data_pipeline_spark.functions import dedup as _d
    from realtime_data_pipeline_spark.plans import northstar as ns
    from realtime_data_pipeline_spark.plans.registry import REGISTRY
    from realtime_data_pipeline_spark.streaming.incremental_dedup import (
        DUP_MIN_AGREE,
    )

    sql = f"""
    WITH t AS (SELECT doc_id, {ns.D_TOKS} AS toks FROM documents),
    tk AS (SELECT doc_id,
                  list_transform(toks, t -> {ns.D_HASH32.format(t='t')}) AS th
           FROM t WHERE len(toks) >= 3),
    sh AS (SELECT doc_id,
                  list_transform(range(1, len(th) - 1),
                      i -> (((th[i] * {_d.SHINGLE_B} + th[i + 1])
                             % {_d.MINHASH_P}) * {_d.SHINGLE_B} + th[i + 2])
                           % {_d.MINHASH_P}) AS h
           FROM tk),
    sig AS (SELECT doc_id, {ns._SIG_COLS} FROM sh),
    bk AS (SELECT doc_id, j.band, {ns._B1_CASE} AS b1, {ns._B2_CASE} AS b2
           FROM sig, (VALUES {ns._BAND_VALUES}) j(band)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bk a JOIN bk b
             ON a.band = b.band AND a.b1 = b.b1 AND a.b2 = b.b2
             AND a.doc_id < b.doc_id),
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cand
                JOIN sig x ON x.doc_id = doc_a
                JOIN sig y ON y.doc_id = doc_b
                WHERE ({ns._AGREE}) >= {DUP_MIN_AGREE})
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    """
    REGISTRY["streaming_incremental_dedup"] = replace(
        REGISTRY["streaming_incremental_dedup"], oracle=sql
    )


_attach_incremental_dedup_oracle()


@register(
    "streaming_corpus_materialized_stats",
    # nullif(lang, ''): the sink partitions by lang, and Hive directory
    # layout collapses an empty-string partition value to NULL on
    # write — the same declared lossy edge as jsonl_roundtrip_stats
    # (found by review of the r6 hostile-value wave; this is a
    # driver-window query, so the unguarded oracle was a live hazard)
    """
    SELECT nullif(lang, '') AS lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
    doc="streaming corpus-append sink end to end: the documents table "
    "replayed in two micro-batches through foreachBatch into the "
    "partitioned+sharded lake layout (streaming/corpus_sink.py), read "
    "back from disk, rolled up per language.  Exactly-once "
    "materialization means the stats over the MATERIALIZED corpus "
    "equal the stats over the source table — which is what the oracle "
    "computes, modulo the one declared lossy edge shared with "
    "jsonl_roundtrip_stats: empty-string partition values collapse to "
    "NULL (Hive directory layout cannot encode them)",
    tags=("streaming",),
)
def q_streaming_corpus_materialized_stats(spark, sf_dir):
    import time

    from realtime_data_pipeline_spark.streaming.corpus_sink import (
        read_corpus_stream_output,
        start_corpus_append_query,
    )
    from realtime_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = scratch_dir(prefix="rdp_corpus_")
    replay = os.path.join(base, "replay")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(replay)
    time.sleep(1.1)  # distinct mtime → second file, second micro-batch
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(replay)

    doc_schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    out = os.path.join(base, "corpus")
    q = start_corpus_append_query(
        stream, out, os.path.join(base, "ckpt"), "corpus_materialize",
        n_shards=4, trigger_available_now=True,
    )
    while q.isActive:
        q.awaitTermination(5)

    return (
        read_corpus_stream_output(spark, out)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


ENRICH_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("value", DoubleType(), True),
        StructField("timestamp", TimestampType(), True),
    ]
)


@register(
    "streaming_enriched_segment_counts",
    f"""
    SELECT make_timestamp((epoch_us(ts) // {_WIN_US}) * {_WIN_US}) AS window_start,
           make_timestamp(((epoch_us(ts) // {_WIN_US}) + 1) * {_WIN_US}) AS window_end,
           c_mktsegment,
           count(*) AS n_events,
           CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                      / count(*), 4) AS DOUBLE) AS avg_value
    FROM events JOIN customer ON user_id = c_custkey
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    doc="stream-STATIC dimension enrichment (the most common production "
    "streaming join, distinct from the stream-stream interval join): "
    "replayed event stream -> watermark -> broadcast join against the "
    "static customer dimension -> tumbling windowed rollup per market "
    "segment -> upsert sink.  The static side is read once per "
    "micro-batch plan, rides as a broadcast, and adds NO streaming "
    "state; the inner join also drops the flush sentinel before the "
    "sink, exercising watermark advance through a join operator.  "
    "Equals the batch enrichment rollup by parity",
    tags=("streaming",),
)
def q_streaming_enriched_segment_counts(spark, sf_dir):
    from realtime_data_pipeline_spark.plans.registry import _t

    events = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.col("value").cast("double").alias("value"),
            F.col("ts").cast("timestamp").alias("timestamp"),
        )
        .where(F.col("timestamp").isNotNull())
    )
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    obs = Observation()
    events.observe(obs, F.max("timestamp").alias("m")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(replay)
    max_ts = obs.get["m"]
    # sentinel user -1 joins no customer: it advances the watermark at
    # the source, then the inner join drops it — nothing to filter out
    spark.createDataFrame(
        [(-1, 0.0, max_ts + dt.timedelta(days=2))], schema=ENRICH_SCHEMA
    ).coalesce(1).write.mode("append").parquet(replay)

    dim = F.broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    stream = file_replay_stream(
        spark, replay, ENRICH_SCHEMA, max_files_per_trigger=1
    )
    enriched = stream.withWatermark("timestamp", "10 minutes").join(
        dim, F.col("user_id") == F.col("c_custkey")
    )
    agg = (
        enriched.groupBy(
            F.window("timestamp", "10 minutes").alias("w"), "c_mktsegment"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "c_mktsegment",
            "n_events",
            "avg_value",
        )
    )
    table = UpsertTable(
        spark,
        os.path.join(base, "table"),
        ["window_start", "window_end", "c_mktsegment"],
        # append-mode windowed twin -> fast-append sink (see
        # streaming_dedup_user_counts; identical-results contract)
        monotone_col="window_start",
    )
    _drain(agg, table, base, "enriched_segment_counts")
    return table.read()


@register(
    "streaming_window_topk_items",
    None,  # oracle attached below (needs ITEM_AGG_CTE import)
    doc="streaming leaderboard: append-mode sliding-window item counts "
    "→ foreachBatch per-window top-3 rank → keyed-upsert "
    "materialization.  Windows finalize ATOMICALLY (the watermark is "
    "global, so every (window,item) row of a window lands in the same "
    "micro-batch when the watermark passes window_end) — ranking "
    "within the batch is therefore exact per window, never partial; "
    "the (window_start, rk) merge key makes redelivered batches "
    "idempotent (last-write-wins on the same ranks).  The batch twin "
    "is the same window agg + row_number, hash-checked via the shared "
    "DuckDB oracle — the streaming materialization itself is what the "
    "driver checks",
    tags=("streaming",),
)
def q_streaming_window_topk_items(spark, sf_dir):
    from pyspark.sql import Window

    events = (
        _events(spark, sf_dir)
        .select(
            F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias(
                "user_id"
            ),
            F.concat(
                F.lit("item_"), F.get_json_object("props", "$.k")
            ).alias("item_id"),
            F.col("event_type").alias("interaction_type"),
            F.col("ts").cast("timestamp").alias("timestamp"),
        )
        .where(F.col("item_id").isNotNull() & F.col("timestamp").isNotNull())
    )
    base, replay = _replay_dir(events, spark, EVENT_SCHEMA)
    stream = file_replay_stream(
        spark, replay, EVENT_SCHEMA, max_files_per_trigger=1
    )
    agg = windowed_stream_counts(stream, "item_id")
    # append-mode windowed twin -> fast-append sink.  The rank key
    # (window_start, rk) re-emits the SAME rk values every window, but
    # window_start still only moves forward, so fast eligibility holds
    # exactly when a merge carries strictly newer windows; a replayed
    # window fails lo > mark and takes the idempotent rewrite.
    table = UpsertTable(
        spark,
        os.path.join(base, "table"),
        ["window_start", "rk"],
        monotone_col="window_start",
    )

    def rank_and_merge(batch_df, batch_id):
        w = Window.partitionBy("window_start").orderBy(
            F.desc("total_interactions"), F.asc("item_id")
        )
        top = (
            batch_df.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
        )
        table.merge(top)

    q = (
        agg.writeStream.outputMode("append")
        .queryName("window_topk_items")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .foreachBatch(rank_and_merge)
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        q.awaitTermination(5)
    return table.read().where(F.col("item_id") != SENTINEL)


def _attach_window_topk_oracle() -> None:
    from realtime_data_pipeline_spark.plans.registry import (
        ITEM_AGG_CTE,
        REGISTRY,
        QuerySpec,
    )

    spec = REGISTRY["streaming_window_topk_items"]
    oracle = f"""
    WITH {ITEM_AGG_CTE},
    r AS (SELECT window_start, window_end, item_id, total_interactions,
                 CAST(row_number() OVER (PARTITION BY window_start
                      ORDER BY total_interactions DESC, item_id) AS INT)
                     AS rk
          FROM item_agg)
    SELECT window_start, window_end, item_id, total_interactions, rk
    FROM r WHERE rk <= 3
    """
    REGISTRY["streaming_window_topk_items"] = QuerySpec(
        spec.name, spec.fn, oracle, spec.doc, spec.bench, spec.tags
    )


_attach_window_topk_oracle()


@register(
    "streaming_model_scored_counts",
    """
    WITH f AS (
        SELECT doc_id, source, n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                   AS n_distinct
        FROM documents WHERE text IS NOT NULL),
    z AS (SELECT doc_id, source,
                 -1.0 + -0.002 * n_chars + 0.05 * n_tokens
                      + 0.08 * n_distinct AS zv
          FROM f),
    s AS (SELECT source, zv / (1 + abs(zv)) AS score FROM z)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score
    FROM s GROUP BY source
    """,
    doc="STREAMING model inference: documents replayed as a stream, "
    "scored mid-stream by the Arrow-batched classifier "
    "(functions/inference.batch_score — mapInPandas is stateless, so "
    "it composes with streaming with no extra state store), rolled up "
    "per source in an update-mode unwindowed agg.  Counts are exact; "
    "min/max of deterministic per-row scores are order-independent, "
    "so the streamed result hash-equals the batch formula in SQL — "
    "the shape of online quality-filtering on an ingest stream",
    tags=("streaming",),
)
def q_streaming_model_scored_counts(spark, sf_dir):
    from realtime_data_pipeline_spark.functions import inference
    from realtime_data_pipeline_spark.plans.registry import _t

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    half = docs.where(F.col("doc_id") % 2 == 0)
    half.coalesce(1).write.mode("overwrite").parquet(replay)
    docs.subtract(half).coalesce(1).write.mode("append").parquet(replay)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(replay)
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    feats = stream.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    scored = inference.batch_score(feats)
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("score") > 0).cast("int")).cast("bigint").alias("n_kept"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )
    table = UpsertTable(spark, os.path.join(base, "table"), ["source"])
    _drain(agg, table, base, "model_scored_counts", output_mode="update")
    return table.read()


@register(
    "streaming_frequent_terms",
    None,  # attached below — reuses frequent_terms_report's oracle verbatim
    doc="STREAMING heavy hitters: the document corpus replayed as two "
    "micro-batches, per-term counts held as update-mode streaming "
    "state and upserted per batch; the threshold (frequency >= 0.5% "
    "of all tokens) is applied at read time over the CONVERGED table, "
    "so the result equals the batch 2-pass MG operator exactly — "
    "counts are additive, which is what makes the sketch family "
    "streamable.  At 100 TB the update-mode state is bounded by the "
    "MG candidate prefilter (functions/sketches.mg_candidate_terms) "
    "run on each batch before the stateful agg; the fixture vocabulary "
    "is small enough to carry whole, keeping the query oracle-exact",
    tags=("streaming",),
)
def q_streaming_frequent_terms(spark, sf_dir):
    from realtime_data_pipeline_spark.functions.text import tokens
    from realtime_data_pipeline_spark.plans.registry import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch_dir(prefix="rdp_stream_")
    replay = os.path.join(base, "replay")
    # two files → two micro-batches: the update-mode upsert provably
    # overwrites batch-1 partial counts with converged totals
    half = docs.where(F.col("doc_id") % 2 == 0)
    half.coalesce(1).write.mode("overwrite").parquet(replay)
    docs.subtract(half).coalesce(1).write.mode("append").parquet(replay)

    doc_schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    stream = file_replay_stream(spark, replay, doc_schema, max_files_per_trigger=1)
    counts = (
        stream.where(F.col("text").isNotNull())
        .select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    table = UpsertTable(spark, os.path.join(base, "table"), ["term"])
    _drain(counts, table, base, "frequent_terms", output_mode="update")
    t = table.read()
    n_tok = t.agg(F.sum("cnt").alias("n_tok"))
    phi = 0.005  # mirrors northstar._FREQ_PHI (asserted in the attach below)
    return (
        t.crossJoin(F.broadcast(n_tok))
        .where(F.col("cnt").cast("double") >= F.lit(phi) * F.col("n_tok"))
        .select(
            "term",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("n_tok").cast("double"), 6
            ).alias("share"),
        )
    )


def _attach_frequent_terms_oracle() -> None:
    """Same converged result as the batch operator → same oracle string,
    copied verbatim so the two can never drift."""
    from dataclasses import replace

    from realtime_data_pipeline_spark.plans import northstar
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    assert northstar._FREQ_PHI == 0.005
    REGISTRY["streaming_frequent_terms"] = replace(
        REGISTRY["streaming_frequent_terms"],
        oracle=REGISTRY["frequent_terms_report"].oracle,
    )


_attach_frequent_terms_oracle()
