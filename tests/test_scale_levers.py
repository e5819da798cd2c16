"""Scale-lever evidence tests: bucketed co-located joins (no shuffle),
observe() metrics, single-query foreachBatch fan-out (W5 alternative).
These pin the plan/behavior properties PLANS.md claims.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_data_pipeline_spark.tables import load_table

from conftest import SF_DIR


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key co-locates them: the
    sort-merge join reads bucket files directly — ZERO Exchange in the
    joined plan.  At 100 TB this is the difference between shuffling
    two fact tables per join and shuffling never."""
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    n_buckets = 8
    for name, df, key in (
        ("b_orders", orders, "o_orderkey"),
        ("b_lineitem", lineitem, "l_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        # merge hint: at test size Spark would broadcast tiny orders;
        # the property under test is the big-big (SMJ) case.
        joined = bl.hint("merge").join(
            bo, bl.l_orderkey == bo.o_orderkey
        ).groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # The join itself must be exchange-free; the groupBy
        # aggregation after it is allowed its single exchange.
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, join_part[:2000]
        # Sanity: result matches the unbucketed join.
        expected = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_observe_metrics(spark):
    """df.observe(): accumulator-style metrics collected during a batch
    action — the engine-side observability hook (W6 family)."""
    from pyspark.sql import Observation

    ev = load_table(spark, SF_DIR, "events")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col("user_id")).alias("n_user_rows"),
    )
    n = observed.count()
    metrics = obs.get
    assert metrics["n_rows"] == n
    assert 0 < metrics["n_user_rows"] <= n


def test_foreachbatch_double_write(spark, tmp_path):
    """W5 alternative (SURVEY §2.5): ONE streaming query feeding BOTH
    aggregate tables via a double-writing foreachBatch — halves the
    source reads vs two independent queries."""
    import datetime as dt

    from realtime_data_pipeline_spark.streaming.pipeline import (
        EVENT_SCHEMA,
        file_replay_stream,
        windowed_stream_counts,
    )
    from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

    events = load_table(spark, SF_DIR, "events").select(
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("user_id"),
        F.get_json_object("props", "$.k").alias("item_id"),
        F.col("event_type").alias("interaction_type"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).where(F.col("user_id").isNotNull() & F.col("timestamp").isNotNull())
    replay = str(tmp_path / "replay")
    events.coalesce(1).write.mode("overwrite").parquet(replay)
    max_ts = events.agg(F.max("timestamp")).collect()[0][0]
    spark.createDataFrame(
        [("__sentinel__", "__sentinel__", "flush", max_ts + dt.timedelta(days=2))],
        schema=EVENT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(replay)

    user_table = UpsertTable(
        spark, str(tmp_path / "ut"), ["window_start", "window_end", "user_id"]
    )
    item_table = UpsertTable(
        spark, str(tmp_path / "it"), ["window_start", "window_end", "item_id"]
    )

    def double_write(batch_df, batch_id):
        batch_df.persist()
        user_table.merge(windowed_stream_counts(batch_df, "user_id", watermark=None))
        item_table.merge(windowed_stream_counts(batch_df, "item_id", watermark=None))
        batch_df.unpersist()

    stream = file_replay_stream(spark, replay, EVENT_SCHEMA)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(double_write)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    for table, key in ((user_table, "user_id"), (item_table, "item_id")):
        got = {
            tuple(r)
            for r in table.read().where(F.col(key) != "__sentinel__").collect()
        }
        want = {
            tuple(r)
            for r in windowed_stream_counts(events, key).collect()
        }
        assert got == want and len(got) > 0, key


def test_session_sets_reference_confs(spark):
    """S6/S9 (reference consumer/consumer.py:38-43,96): offset commit on
    stop and checkpoint/state retention live as session confs — the
    config-as-code replacement for the reference's cleanup scripts."""
    expected = {
        "spark.sql.streaming.kafka.commitOffsetsOnStop": "true",
        "spark.sql.streaming.minBatchesToRetain": "20",
        "spark.sql.streaming.maxBatchesToRetain": "100",
        "spark.sql.streaming.stateStore.compression.codec": "lz4",
    }
    for k, v in expected.items():
        assert spark.conf.get(k) == v, k


def test_unhinted_customer_join_broadcasts_at_test_scale(spark):
    """VERDICT r1: customer-sized tables carry NO F.broadcast hint (at
    real scale customer is a fact; an unconditional hint would OOM the
    driver).  This pins the flip side: at test scale Catalyst's parquet
    size stats / AQE still choose a broadcast join on their own, so
    dropping the hint costs nothing where it used to help."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    df = REGISTRY["revenue_by_nation"].fn(spark, SF_DIR)
    df.collect()  # let AQE finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_global_rank_two_pass_no_single_partition_sort(spark):
    """operators/ranks.py: the range-partitioned two-pass global row
    number must (a) equal the single-window ground truth, including
    NTILE's uneven-bucket distribution, and (b) plan WITHOUT an
    `Exchange SinglePartition` under the window — the whole point is
    that no task ever sorts the full input."""
    from pyspark.sql import Window

    from realtime_data_pipeline_spark.operators import ranks

    # 1003 rows (not divisible by 4), duplicate order values → the
    # unique id column is load-bearing as the tie-break.
    df = spark.range(1003).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v")
    )
    ranked, n = ranks.with_global_row_number(df, ["v", "id"], rn_col="rn")
    assert n == 1003
    got = ranked.select(
        "id",
        "rn",
        ranks.ntile_expr(F.col("rn"), n, 4).alias("q4"),
        F.round(ranks.percent_rank_expr(F.col("rn"), n), 9).alias("pr"),
        F.round(ranks.cume_dist_expr(F.col("rn"), n), 9).alias("cd"),
    )
    w = Window.orderBy("v", "id")
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("q4"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    ground_truth_plan = want._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" in ground_truth_plan  # the anti-pattern


def test_minhash_bucket_cap_bounds_boilerplate_blowup(spark):
    """functions/dedup.py skew guard: 200 copies of one boilerplate
    string put 200 docs in the same bucket in EVERY band — uncapped
    that's C(200,2) = 19,900 candidate pairs from junk.  With the width
    cap the boilerplate contributes zero pairs while a genuine near-dup
    pair (unique text, narrow buckets) is still found."""
    from realtime_data_pipeline_spark.functions import dedup

    boiler = [(i, "click here to accept all cookies and continue") for i in range(200)]
    near_a = (1000, "the quick brown fox jumps over the lazy dog tonight")
    near_b = (1001, "the quick brown fox jumps over the lazy dog today")
    distinct = [
        (2000 + i, f"totally unrelated document number {i} about topic {i * 7}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        boiler + [near_a, near_b] + distinct, "doc_id long, text string"
    )

    uncapped = dedup.minhash_candidates(
        docs, limit=None, max_bucket_width=None
    ).count()
    assert uncapped >= 19900  # the blowup is real

    capped = dedup.minhash_candidates(docs, limit=None, max_bucket_width=50)
    rows = capped.collect()
    # exactly the 200-wide boilerplate clique is removed; every pair
    # from narrow (≤cap) buckets survives
    assert len(rows) == uncapped - (200 * 199) // 2, len(rows)
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in rows}
    assert all(a >= 1000 for a, _ in pairs)  # no boilerplate id remains
    assert (1000, 1001) in pairs  # genuine near-dups survive the cap
    assert pairs[(1000, 1001)] >= 0.5


def test_upsert_untouched_buckets_not_rewritten(spark, tmp_path, monkeypatch):
    """streaming/sinks.UpsertTable: a merge must rewrite only the hash
    buckets containing the batch's keys.  Round 1 rewrote the whole
    table per micro-batch — quadratic-over-time I/O at sink volume."""
    import os

    from realtime_data_pipeline_spark.streaming import sinks
    from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

    monkeypatch.setattr(sinks, "N_BUCKETS", 8)
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"])
    base = spark.createDataFrame(
        [(i, f"val_{i}") for i in range(200)], "k long, payload string"
    )
    t.merge(base)

    def leaf_files():
        out = {}
        for root, _, files in os.walk(str(tmp_path / "t")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = leaf_files()
    # single-key batch → exactly one bucket touched
    t.merge(spark.createDataFrame([(7, "updated")], "k long, payload string"))
    after = leaf_files()

    surviving = set(before) & set(after)
    assert surviving, "merge must not rewrite every bucket"
    for p in surviving:
        assert before[p] == after[p], f"untouched file rewritten: {p}"
    # at most one of 8 buckets rewritten
    assert len(set(before) - set(after)) <= len(before) // 4

    got = {(r.k, r.payload) for r in t.read().collect()}
    want = {(i, f"val_{i}") for i in range(200) if i != 7} | {(7, "updated")}
    assert got == want

    # replaying the same batch is idempotent
    t.merge(spark.createDataFrame([(7, "updated")], "k long, payload string"))
    assert {(r.k, r.payload) for r in t.read().collect()} == want


def test_partition_pruning_reads_only_matching_partitions(spark, tmp_path):
    """Hive-style partitioned layout + a partition-key filter: the scan
    must prune at PLANNING time (PartitionFilters on the FileScan, one
    partition directory's files read) — at 100 TB this is the
    difference between scanning one day and scanning the lake."""
    ev = load_table(spark, SF_DIR, "events").where(F.col("event_type").isNotNull())
    path = str(tmp_path / "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    q = (
        spark.read.parquet(path)
        .where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1][:200], plan[:2000]

    got = q.agg(F.sum("n")).collect()[0][0]
    want = ev.where(F.col("event_type") == "click").count()
    assert got == want > 0


def test_sequence_packing_single_exchange_no_global_sort(spark):
    """The packing window partitions by lang and the rollup reuses that
    partitioning: exactly ONE hash exchange, zero single-partition
    exchanges (a global-sort formulation would need one)."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    df = REGISTRY["sequence_packing_stats"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_vocab_join_broadcasts_topk(spark):
    """The top-K vocabulary compiles to TakeOrderedAndProject (true
    top-k, no full sort) and joins the token stream as a broadcast —
    the exploded stream itself never shuffles for the join."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    df = REGISTRY["vocab_oov_rates"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hash_split_is_map_side_only(spark):
    """The train/val/test selector must add no exchange beyond the
    single rollup of group partials."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    df = REGISTRY["train_split_counts"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_results_invariant_under_join_strategy(spark):
    """At 100 TB the dimension that broadcasts today is a fact tomorrow
    — Catalyst switches BroadcastHashJoin to SortMergeJoin and the
    results must not move.  Force the switch (threshold off) and
    compare the multi-join headline query byte-for-byte."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    fn = REGISTRY["revenue_by_nation"].fn
    normal = sorted(map(tuple, fn(spark, SF_DIR).collect()))

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced_df = fn(spark, SF_DIR)
        plan = forced_df._jdf.queryExecution().executedPlan().toString()
        forced = sorted(map(tuple, forced_df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    # the switch actually happened (explicit F.broadcast hints on true
    # dimensions may keep some BHJs; the unhinted joins must SMJ)
    assert "SortMergeJoin" in plan, plan[:2000]
    assert forced == normal and len(normal) > 0


def test_fuzzy_prefix_dups_finds_planted_typos(spark):
    """The levenshtein kernel on nonzero distances (the parquet corpus
    only yields exact-prefix pairs): planted variants at distance 1-4
    surface, beyond-threshold and cross-bucket variants don't."""
    from realtime_data_pipeline_spark.functions.dedup import fuzzy_prefix_dups

    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base, "en"),
        (2, base.replace("beta", "bxtz"), "en"),        # 2 substitutions
        (3, base.replace("gamma", "gXmma"), "en"),      # 1 substitution
        (4, "alpha " + "Z" * 30, "en"),                 # same bucket, too far
        (5, base, "de"),                                # other lang bucket
        (6, "omega " + base, "en"),                     # shifted prefix, too far
        (7, base.replace("alpha", "aXpha"), "en"),      # FIRST-token typo:
        # invisible to the (lang, token1) family, caught via (lang, token2)
        (8, base, None),                                # NULL lang: never pairs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in fuzzy_prefix_dups(docs).collect()
    }
    assert got[(1, 2)] == 2 and got[(1, 3)] == 1
    assert (2, 3) in got  # the two variants also pair with each other
    assert got[(1, 7)] == 1 and (3, 7) in got  # first-token typo caught
    assert all(
        4 not in pair and 5 not in pair and 6 not in pair and 8 not in pair
        for pair in got
    )


def test_profile_frame_approx_mode(spark):
    """documents_profile's 100 TB posture (VERDICT r4 next-round #6):
    exact=False swaps countDistinct -> approx_count_distinct with the
    SAME output schema, estimates within HLL++ tolerance of exact, and
    a plan free of the Expand-based exact-distinct (which multiplies
    pre-shuffle rows by the number of profiled columns)."""
    from realtime_data_pipeline_spark.plans.extras import profile_frame

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = profile_frame(docs, exact=True)
    approx = profile_frame(docs, exact=False)
    assert exact.schema == approx.schema

    e = {r["column_name"]: r for r in exact.collect()}
    a = {r["column_name"]: r for r in approx.collect()}
    assert set(e) == set(a)
    for col, er in e.items():
        ar = a[col]
        assert ar["n_nulls"] == er["n_nulls"]
        assert ar["min_val"] == er["min_val"]
        assert ar["max_val"] == er["max_val"]
        # HLL++ default rsd is 5%; allow 10% slack on small counts
        assert abs(ar["n_distinct"] - er["n_distinct"]) <= max(
            2, 0.1 * er["n_distinct"]
        ), (col, ar["n_distinct"], er["n_distinct"])

    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    exact_plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the cost approx mode removes


def test_ann_recall_target(spark):
    """VERDICT r4 next-round #5: the best ANN method must reach
    recall@5 >= 0.9 while its candidate set stays far below the n^2
    brute-force pair count (the report's own n_candidates column is
    the evidence — measured in-engine at the driver's sf0.01 scale)."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    from conftest import SF_DIR_MID

    rows = {
        r["method"]: r
        for r in REGISTRY["ann_recall_report"].fn(spark, SF_DIR_MID).collect()
    }
    best = rows["lsh_multitable_multiprobe"]
    assert best["recall_at_5"] >= 0.9, best
    n = (
        spark.read.parquet(f"{SF_DIR_MID}/embeddings.parquet").count()
    )
    assert best["n_candidates"] < 0.05 * n * (n - 1), (best, n)
    # the recall ladder is monotone: each added lever buys recall
    assert (
        rows["lsh"]["recall_at_5"]
        <= rows["lsh_multiprobe"]["recall_at_5"]
        <= rows["lsh_multitable"]["recall_at_5"]
        <= best["recall_at_5"]
    )


def test_lsh_near_dups_are_subset_of_exact(spark):
    """LSH near-dup candidates can only MISS true pairs, never invent
    them: every (vec_a, vec_b) near_dup_pairs_lsh emits above the
    threshold must appear, with the identical rounded cosine, in the
    exact all-pairs baseline (near_dup_pairs — the recall denominator
    the r6 registry cleanup retired from the driver registry)."""
    from realtime_data_pipeline_spark.functions import similarity

    from conftest import SF_DIR_MID

    emb = spark.read.parquet(f"{SF_DIR_MID}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in similarity.near_dup_pairs(
            emb, min_cosine=0.45, limit=None
        ).collect()
    }
    lsh = similarity.near_dup_pairs_lsh(
        emb, min_cosine=0.45, limit=None
    ).collect()
    assert exact, "fixture must contain at least one true near-dup pair"
    assert lsh, "LSH variant found nothing — probe families regressed"
    for r in lsh:
        key = (r["vec_a"], r["vec_b"])
        assert key in exact, key
        assert r["cos_sim"] == exact[key], key


def test_runtime_bloom_filter_prunes_fact_join(spark):
    """100 TB lever: when a selective dim-side predicate feeds a
    sort-merge fact-fact join, Spark's runtime bloom filter (on by
    default in Spark 4) injects a bloom_filter_agg of the creation
    side's join keys into the application side's scan — rows that
    cannot join die at the scan instead of riding the shuffle.  Pinned
    here so a conf regression (or an edit that disables AQE/bloom)
    fails loudly; results must be identical with the filter off."""
    saved_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        # force SMJ (test-scale orders would broadcast) and drop the
        # application-side size floor so the test corpus qualifies
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        got = sorted(map(tuple, j.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        unfiltered = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, unfiltered.collect())) == got
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            saved_scan,
        )


def test_pii_detection_and_scrub(spark):
    """Planted-PII proof for the scrub operators (the synthetic corpus
    carries no organic PII, so the registry rollup's nonzero columns
    rest on these fixtures): each pattern catches its plant, the scrub
    masks ALL occurrences with the kind tag, and clean text passes
    through byte-identical."""
    from realtime_data_pipeline_spark.functions import text as T

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk for details"),
        (2, "call +1 555-123-4567 or 020 7946 0958 today"),
        (3, "server at 192.168.10.254 timed out"),
        (4, "plain text with no sensitive content at all"),
        (5, "mix: bob@site.org and 10.0.0.1 and +44 7700 900123"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.pii_count("email").alias("e"),
            T.pii_count("phone").alias("p"),
            T.pii_count("ipv4").alias("i"),
            T.scrub_pii().alias("s"),
        ).collect()
    }
    assert got[1]["e"] == 1 and got[1]["p"] == 0
    assert got[2]["p"] == 2 and got[2]["e"] == 0
    assert got[3]["i"] == 1
    assert (got[4]["e"], got[4]["p"], got[4]["i"]) == (0, 0, 0)
    assert got[4]["s"] == rows[3][1]  # clean text untouched
    assert got[5]["e"] == 1 and got[5]["i"] == 1 and got[5]["p"] >= 1
    assert got[6]["e"] == 0 and got[6]["s"] is None

    assert "[EMAIL]" in got[1]["s"] and "jane.doe" not in got[1]["s"]
    assert got[2]["s"].count("[PHONE]") == 2 and "4567" not in got[2]["s"]
    assert "[IPV4]" in got[3]["s"] and "192.168" not in got[3]["s"]
    for kind in ("EMAIL", "IPV4", "PHONE"):
        assert f"[{kind}]" in got[5]["s"]


def test_analytics_joins_invariant_under_join_strategy(spark):
    """Round-5 analytics queries with joins (LM-table joins in
    doc_lm_scores, per-source size joins in source_overlap_matrix,
    df/cf/head joins in term_postings_stats): the F.broadcast hints are
    a CHEAP-path choice, not a correctness dependency — force SMJ
    (threshold off) and the results must be byte-identical."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    names = ["doc_lm_scores", "source_overlap_matrix", "term_postings_stats"]
    normal = {}
    for n in names:
        normal[n] = sorted(map(tuple, REGISTRY[n].fn(spark, SF_DIR).collect()))
        spark.catalog.clearCache()

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for n in names:
            forced = sorted(
                map(tuple, REGISTRY[n].fn(spark, SF_DIR).collect())
            )
            assert forced == normal[n] and len(forced) > 0, n
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_aqe_splits_planted_skewed_join(spark):
    """AQE skew-join splitting — the runtime lever PLANS.md leans on for
    hot keys the salting operator doesn't cover: plant one key holding
    ~90% of the left side, lower the skew thresholds so the test-sized
    data trips them, and assert the executed plan actually split the
    skewed partition (AQEShuffleRead reports it).  Broadcast is
    disabled so the join is a sort-merge join (skew splitting only
    applies there)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 500)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 500).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        # collect() (not count(), which builds a separate aggregate
        # execution) so the FINAL adaptive plan lands on this
        # DataFrame's own QueryExecution
        n = len(j.collect())
        assert n == 60_000  # inner join, every key present on the right
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan.lower(), plan[:3000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
