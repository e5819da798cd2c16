"""Dataset-lifecycle, governance & model-evaluation operators
(round 5, wave 2).

North-star extensions past the reference's surface (the reference's
sink is a last-write-wins Mongo upsert with no history, versioning, or
evaluation surface at all — SURVEY §1.4.3): corpus snapshot diffing,
a bucketed big×big time-range join, fixed-point PageRank over the
item-transition graph, an exact AUC / calibration report for the
Arrow-batched quality classifier, SCD Type-2 dimension build +
streaming maintenance (operators/scd.py, streaming/scd_sink.py),
join-key skew and k-anonymity audits, and per-document
cross-duplication scoring.

Cross-engine determinism notes (on top of plans/relational.py's
contract):
  * PageRank runs in INTEGER fixed-point (pico-mass units, total mass
    10^12): every update is `div` on int64, every sum an int64 sum —
    order-independent and bit-identical across engines, where a
    double-valued power iteration would drift by summation order;
  * AUC comes from the rank-sum (Mann–Whitney) form with tie groups
    handled via min/max row-number per score group — all-integer until
    one final double division;
  * the snapshot selectors are md5-hex thresholds (plans/training.py
    convention), so both engines derive the identical snapshots.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from realtime_data_pipeline_spark.operators import ranks, scd, snapshot
from realtime_data_pipeline_spark.plans.registry import _events, _t, item_key, register

# ---------------------------------------------------------------------------
# Corpus snapshot diff (added / removed / changed / unchanged)
# ---------------------------------------------------------------------------

# Two deterministic snapshots derived from `documents` (the driver's
# fixtures are immutable, so version-pairs must be simulated — same
# md5-threshold selector style as plans/training.py): snapshot A keeps
# ~90% of docs by md5(doc_id||':a'), snapshot B keeps ~90% by
# md5(doc_id||':b') (so ~9% of A is "removed" and ~9% of B is "added"),
# and ~10% of docs (md5(doc_id||':rev') < '1a') carry a simulated
# revision in B (text || ' rev2') so their content fingerprint changes.
_SNAP_SQL = """
    a AS (SELECT doc_id, lang, md5(coalesce(text, '')) AS fp
          FROM documents
          WHERE md5(CAST(doc_id AS VARCHAR) || ':a') < 'e6'),
    b AS (SELECT doc_id, lang,
                 md5(coalesce(CASE
                     WHEN md5(CAST(doc_id AS VARCHAR) || ':rev') < '1a'
                     THEN text || ' rev2' ELSE text END, '')) AS fp
          FROM documents
          WHERE md5(CAST(doc_id AS VARCHAR) || ':b') < 'e6')
"""


@register(
    "corpus_snapshot_diff",
    f"""
    WITH {_SNAP_SQL},
    d AS (SELECT coalesce(b.lang, a.lang) AS lang,
                 CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.fp <> b.fp THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT lang, status, count(*) AS n_docs
    FROM d GROUP BY 1, 2
    """,
    doc="incremental-corpus refresh audit: full-outer diff of two "
    "snapshot versions classifying every doc_id as added / removed / "
    "changed / unchanged (operators/snapshot.py), rolled up per "
    "language.  The exchange payload is (key, md5 fingerprint, lang) "
    "— never the text — and with both snapshots written "
    "bucketed-by-doc_id (operators/writer.py) the join needs no "
    "exchange at all.  The reference's Mongo sink discards history "
    "(SURVEY §1.4.3); this is what replaces it in a lakehouse",
)
def q_corpus_snapshot_diff(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    key_a = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":a")))
    key_b = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":b")))
    rev = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rev")))
    snap_a = docs.where(key_a < "e6").select(
        "doc_id",
        "lang",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
    )
    text_b = F.when(
        rev < "1a", F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))
    snap_b = docs.where(key_b < "e6").select(
        "doc_id",
        "lang",
        F.md5(F.coalesce(text_b, F.lit(""))).alias("fp"),
    )
    diff = snapshot.snapshot_diff(
        snap_a, snap_b, key="doc_id", fingerprint="fp", carry=["lang"]
    )
    return diff.groupBy("lang", "status").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Bucketed big×big time-range join (views within 24h before a purchase)
# ---------------------------------------------------------------------------

_RANGE_US = 86_400_000_000  # 24 hours in microseconds


@register(
    "purchase_window_views",
    f"""
    WITH e AS (SELECT event_id, ts,
                      (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS item, event_type
               FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    v AS (SELECT * FROM e WHERE event_type = 'view')
    SELECT p.event_id, p.item, p.ts AS purchase_ts,
           count(v.event_id) AS n_prior_views
    FROM p LEFT JOIN v
      ON v.item = p.item
     AND epoch_us(v.ts) >= epoch_us(p.ts) - {_RANGE_US}
     AND epoch_us(v.ts) < epoch_us(p.ts)
    GROUP BY 1, 2, 3
    """,
    doc="big×big time-range COUNT in guaranteed-linear time: count "
    "same-item view events in the 24h before each purchase.  Three "
    "shapes were measured before this one (r7 scale probe, 1M→10M "
    "rows): a bare range predicate plans BroadcastNestedLoopJoin; the "
    "(item, 24h-bucket) equi-join with residual filter is never a "
    "nested loop but still materializes |P_cell|×|V_cell| pairs per "
    "cell — 53x cost across 10x data (cell density grows with volume "
    "over a fixed item vocabulary); and a sliding RANGE window frame "
    "[-24h, -1us) is no better (86x) because Spark re-aggregates the "
    "whole frame buffer per row — sliding aggregate frames have no "
    "inverse-function removal, so the cost is O(rows × frame "
    "density).  The linear form is PREFIX-COUNT DIFFERENCING: "
    "n_views[t-24h, t) = V(<t) − V(<t−24h), where V is a running "
    "views-seen count over each item's timeline — a GROWING frame "
    "(RANGE UNBOUNDED PRECEDING TO -1 us), which Spark maintains "
    "incrementally.  Each purchase contributes two probe rows (+1 at "
    "its own timestamp, −1 at timestamp−24h) into the per-item "
    "timeline; the signed per-probe running counts sum to the window "
    "count.  ONE exchange on item + sort + incremental window, then "
    "one purchase-keyed rollup of exactly 2 rows each — every stage "
    "linear, probe-verified ~2x across 10x data.  NULL-item purchases "
    "bypass the timeline (SQL's equi-join drops them; a Spark window "
    "would bucket NULLs together) and emit count 0 directly.  Skew "
    "follows item popularity — the hot-key posture is time-chunked "
    "partitioning (item, coarse-chunk) with boundary-tail "
    "replication.  The as-of variant is purchase_click_attribution; "
    "this is the count-in-window variant",
    bench=True,
)
def q_purchase_window_views(spark, sf_dir):
    e = _events(spark, sf_dir).select(
        "event_id",
        "ts",
        item_key().alias("item"),
        "event_type",
        # NTZ→timestamp cast is exact (session tz pinned UTC — the
        # plans/training.py:518 convention for epoch_us parity)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # r14: views and purchase probes fold into ONE pass over events
    # (the old two-branch union scanned the corpus twice — at 100 TB
    # that is a second full read for rows one explode can emit).  Each
    # event with a non-null item yields: view → its own timeline row;
    # purchase → the +1 probe at the purchase instant (counts views
    # strictly before it) and the −1 probe at instant−24h (cancels
    # views strictly before the window opens — a view AT exactly t−24h
    # is inclusive and stays).  Row set, types and nullability are
    # identical to the union, and downstream is a value-ordered RANGE
    # frame + rollup, so producer order is immaterial.
    view_row = F.struct(
        F.col("us").alias("us"),
        F.lit(1).cast("int").alias("is_view"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp_ntz").alias("purchase_ts"),
        F.lit(0).cast("long").alias("sign"),
    )

    def probe_row(us_col, sign: int):
        return F.struct(
            us_col.alias("us"),
            F.lit(None).cast("int").alias("is_view"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("purchase_ts"),
            F.lit(sign).cast("long").alias("sign"),
        )

    timeline = (
        e.where(
            F.col("item").isNotNull()
            & F.col("event_type").isin("view", "purchase")
        )
        .select(
            "item",
            F.explode(
                F.when(
                    F.col("event_type") == "view", F.array(view_row)
                ).otherwise(
                    F.array(
                        probe_row(F.col("us"), 1),
                        probe_row(F.col("us") - F.lit(_RANGE_US), -1),
                    )
                )
            ).alias("t"),
        )
        .select(
            "item", "t.us", "t.is_view", "t.p_id", "t.purchase_ts", "t.sign"
        )
    )
    # growing frame: incremental accumulation, never a frame re-scan;
    # RANGE upper bound -1 keeps same-instant rows out on BOTH probe
    # kinds (strict < at the close, inclusive >= at the open)
    w = (
        Window.partitionBy("item")
        .orderBy("us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    counted = (
        timeline.withColumn("v_lt", F.count("is_view").over(w))
        .where(F.col("p_id").isNotNull())
        .groupBy(F.col("p_id").alias("event_id"), "item", "purchase_ts")
        .agg(F.sum(F.col("sign") * F.col("v_lt")).alias("n_prior_views"))
    )
    # SQL's v.item = p.item never matches a NULL item, but the LEFT
    # join keeps the purchase row with count 0 — emit those directly
    null_item = (
        e.where(
            (F.col("event_type") == "purchase") & F.col("item").isNull()
        ).select(
            "event_id",
            "item",
            F.col("ts").alias("purchase_ts"),
            F.lit(0).cast("long").alias("n_prior_views"),
        )
    )
    return counted.unionByName(null_item)


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the item-transition graph
# ---------------------------------------------------------------------------

_PR_TOTAL = 1_000_000_000_000  # total mass in pico-units (10^12)
_PR_ITERS = 3
_PR_TOP = 20
# Scale guards (r15, VERDICT r14 #4).  The pr relation is
# item-vocabulary-sized — broadcastable at any plausible catalog size,
# but a corpus-shaped vocabulary would OOM the driver, so the broadcast
# is size-guarded: above this node count the iteration joins fall back
# to shuffle joins (pr rows ~50-100 B framed → 4M nodes ≈ 200-400 MB
# broadcast, the guide's "few hundred MB" ceiling).  The count is the
# driver scalar the teleport term already needs, so the guard is free.
_PR_BROADCAST_MAX_NODES = 4_000_000
# Unbarriered iteration chaining grows the plan linearly in _PR_ITERS
# (fine at 3); past this depth each superstep re-checkpoints so plan
# compile time stays O(1) per iteration (operators/graph.py barrier
# convention) — the guard that was previously only a comment.
_PR_BARRIER_MIN_ITERS = 10

_PR_EDGE_SQL = """
    seq AS (SELECT (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS item,
                   lead((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS nxt
            FROM events WHERE ts IS NOT NULL),
    edges AS (SELECT DISTINCT item AS src, nxt AS dst FROM seq
              WHERE item IS NOT NULL AND nxt IS NOT NULL AND item <> nxt),
    outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
    nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes)
"""


def _pr_iter_sql(i: int) -> str:
    prev = f"pr{i - 1}"
    return f"""
    it{i} AS (SELECT e.dst AS v,
                     sum(CAST(p.pr // o.od AS BIGINT)) AS s
              FROM {prev} p
              JOIN edges e ON e.src = p.v
              JOIN outdeg o ON o.src = e.src
              GROUP BY 1),
    pr{i} AS (SELECT nodes.v,
                     CAST({15 * _PR_TOTAL} // (100 * nn.n) AS BIGINT)
                     + CAST((85 * coalesce(it{i}.s, 0)) // 100 AS BIGINT)
                         AS pr
              FROM nodes CROSS JOIN nn
              LEFT JOIN it{i} ON it{i}.v = nodes.v)"""


@register(
    "pagerank_top_items",
    f"""
    WITH {_PR_EDGE_SQL},
    pr0 AS (SELECT v, CAST({_PR_TOTAL} // n AS BIGINT) AS pr
            FROM nodes CROSS JOIN nn),
    {",".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
    SELECT v AS item, pr AS pr_fp,
           round(CAST(pr AS DOUBLE) / {_PR_TOTAL}, 6) AS pr
    FROM pr{_PR_ITERS}
    ORDER BY pr_fp DESC, item LIMIT {_PR_TOP}
    """,
    doc=f"PageRank over the item-transition graph (edges = consecutive "
    "same-user events, distinct (src,dst), damping 0.85, "
    f"{_PR_ITERS} power iterations): the classic importance signal for "
    "catalog ranking and crawl prioritization.  Runs entirely in "
    "INTEGER fixed-point (pico-mass units, total 10^12; every update "
    "an int64 div, every sum an int64 sum) so the result is "
    "bit-identical regardless of partition summation order — a "
    "double-valued power iteration cannot be hash-checked across "
    "engines.  Scale shape: edge extraction is one user_id exchange "
    "(lead window) + one distinct rollup over the ITEM-VOCABULARY-"
    "sized edge relation; each iteration joins the node-sized pr "
    "relation (vocab-sized, broadcastable) to edges — corpus volume "
    "is touched exactly once.  Dangling-node mass leaks (standard "
    "simplified PR) identically in both engines",
    bench=True,
)
def q_pagerank_top_items(spark, sf_dir):
    # NULL-ts events have no position in the sequence — and a NULL in a
    # window ORDER BY diverges across engines (Spark NULLS FIRST,
    # DuckDB NULLS LAST): filter identically in both
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    item = item_key()
    seq = ev.select(
        item.alias("item"), F.lead(item).over(w).alias("nxt")
    )
    edges = (
        seq.where(
            F.col("item").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("item") != F.col("nxt"))
        )
        .select(F.col("item").alias("src"), F.col("nxt").alias("dst"))
        .distinct()
        .persist()  # consumed by outdeg, nodes, and 3 iteration joins
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    # nodes / esrc / pr are all ITEM-VOCABULARY-sized — persist the two
    # shared relations (consumed per iteration) and broadcast pr/contrib
    # into each iteration's joins, so the only per-iteration exchange is
    # the dst contribution rollup and the plan doesn't re-derive the
    # corpus-sized edge extraction once per iteration branch.
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select("dst"))
        .distinct()
        .persist()
    )
    # r14 optimization: the node count is a DRIVER-SIDE SCALAR (one
    # bounded O(1)-row collect — the codebook-seed convention), not a
    # broadcast relation: folding it into the teleport term as a
    # literal removes the crossJoin(broadcast(nn)) build from pr0 and
    # from every iteration (4 broadcast-exchange jobs at _PR_ITERS=3),
    # and this count job doubles as the materialization of the edges
    # and nodes caches.  Python's // equals Spark's bigint `div` for
    # the positive operands here, so every fixed-point value is
    # unchanged bit for bit.  max(n,1) only guards the degenerate
    # empty-graph case (expressions over an empty relation never
    # evaluate, but Python would raise on // 0 eagerly).
    n_nodes = max(nodes.count(), 1)
    pr = nodes.select("v", F.lit(_PR_TOTAL // n_nodes).alias("pr"))
    teleport = (15 * _PR_TOTAL) // (100 * n_nodes)
    # r14: cache esrc PARTITIONED BY dst — every iteration's
    # contribution rollup groups by dst, so the cached partitioning is
    # reused and the per-iteration exchange disappears (guide §2.4:
    # operations keyed the same way share one exchange).  One setup
    # shuffle of the edge relation replaces _PR_ITERS per-iteration
    # shuffles of the same bytes.
    esrc = edges.join(outdeg, "src").repartition(F.col("dst")).persist()
    # r15 guards: both are no-ops at current sizes (plan byte-identical,
    # shuffle pin stays 0) and exist so the 100 TB posture is code, not
    # a comment — pinned by tests/test_plan_regression.py's fallback
    # tests via monkeypatched thresholds.
    bcast_ok = n_nodes <= _PR_BROADCAST_MAX_NODES
    barrier = _PR_ITERS >= _PR_BARRIER_MIN_ITERS
    hint = F.broadcast if bcast_ok else (lambda df: df)
    for _ in range(_PR_ITERS):
        contrib = (
            esrc.join(hint(pr), pr["v"] == esrc["src"])
            .groupBy("dst")
            .agg(F.sum(F.expr("pr div od")).alias("s"))
        )
        # No per-iteration superstep barrier below _PR_BARRIER_MIN_ITERS
        # (r14): with _PR_ITERS=3 the unbarriered plan grows LINEARLY
        # (each pr appears exactly once, inside the next iteration's
        # broadcast), the vocab-sized inputs are cached, and every
        # broadcast subtree still executes exactly once — dropping the
        # localCheckpoint removes one materialization job per
        # iteration.  ONE final checkpoint after the loop keeps the
        # returned plan lineage-truncated (TakeOrdered over a
        # materialized vocab-sized relation — the shuffle-pin and
        # lineage tests' contract).
        pr = (
            nodes
            .join(hint(contrib), nodes["v"] == contrib["dst"], "left")
            .select(
                "v",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(s, 0)) div 100")
                ).alias("pr"),
            )
        )
        if barrier:
            pr = pr.localCheckpoint()
    if not barrier:
        pr = pr.localCheckpoint()
    return (
        pr.select(
            F.col("v").alias("item"),
            F.col("pr").alias("pr_fp"),
            F.round(F.col("pr").cast("double") / F.lit(_PR_TOTAL), 6).alias(
                "pr"
            ),
        )
        .orderBy(F.col("pr_fp").desc(), "item")
        .limit(_PR_TOP)
    )


# ---------------------------------------------------------------------------
# Model evaluation: exact AUC + decile calibration of the quality scorer
# ---------------------------------------------------------------------------


@register(
    "model_eval_report",
    """
    WITH f AS (
        SELECT doc_id, coalesce(lang = 'en', FALSE) AS label, n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                   AS n_distinct
        FROM documents WHERE text IS NOT NULL),
    -- CAST literals to DOUBLE: DuckDB parses bare decimal literals as
    -- DECIMAL and would evaluate the linear form in decimal arithmetic,
    -- 1 ulp off the Arrow/pandas float64 path (verified: with the casts
    -- the scores are bit-identical, so no rounding is needed before
    -- grouping/ranking on the raw score)
    s AS (SELECT doc_id, label,
                 zv / (1 + abs(zv)) AS score
          FROM (SELECT doc_id, label,
                       CAST(-1.0 AS DOUBLE)
                       + CAST(-0.002 AS DOUBLE) * n_chars
                       + CAST(0.05 AS DOUBLE) * n_tokens
                       + CAST(0.08 AS DOUBLE) * n_distinct AS zv
                FROM f)),
    r AS (SELECT score, label,
                 row_number() OVER (ORDER BY score, doc_id) AS rn
          FROM s),
    g AS (SELECT score, min(rn) AS mn, max(rn) AS mx, count(*) AS c,
                 count(*) FILTER (WHERE label) AS p
          FROM r GROUP BY 1),
    tot AS (SELECT sum(p * (mn + mx)) AS two_rank_sum,
                   sum(p) AS n_pos_tot, sum(c) - sum(p) AS n_neg_tot
            FROM g),
    auc AS (SELECT CASE WHEN n_pos_tot > 0 AND n_neg_tot > 0 THEN
                round(CAST(two_rank_sum - n_pos_tot * (n_pos_tot + 1)
                           AS DOUBLE)
                      / (2 * n_pos_tot * n_neg_tot), 6)
                END AS auc FROM tot),
    bins AS (SELECT CAST(least(floor((score + 1) * 5), 9) AS INTEGER)
                        AS bin,
                    count(*) AS n,
                    count(*) FILTER (WHERE label) AS n_pos,
                    round(min(score), 6) AS score_lo,
                    round(max(score), 6) AS score_hi
             FROM s GROUP BY 1)
    SELECT bin, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 4) AS pos_rate,
           score_lo, score_hi, auc.auc AS auc
    FROM bins CROSS JOIN auc
    """,
    doc="model-quality gate for the Arrow-batched classifier "
    "(functions/inference.py, same scores as doc_model_scores): exact "
    "ROC-AUC via the rank-sum (Mann–Whitney) identity with tie groups "
    "handled through min/max global row-number per score group — "
    "all-integer arithmetic until one final division — plus a "
    "10-bin calibration table (per-bin count, positive rate, score "
    "bounds).  Label = (lang = 'en').  The global rank uses the "
    "range-partitioned two-pass row number (operators/ranks.py), "
    "never a bare Window.orderBy, so the sort is distributed; the "
    "tie-group rollup keys on score (one hash exchange).  Degenerate "
    "label distributions emit NULL AUC in both engines "
    "(ab_test_report convention)",
    bench=True,
)
def q_model_eval_report(spark, sf_dir):
    from realtime_data_pipeline_spark.functions import inference

    # NO widen here (r14, measured): unlike text_metrics' BPE regex,
    # the tokenize+array_distinct features are cheap enough that the
    # widening exchange costs more than the parallelism returns
    # (1.42 s unwidened row-rank → 1.12 s unwidened tie-group vs
    # 1.5-1.6 s for either widened variant at sf0.1).
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    feats = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.coalesce(F.col("lang") == "en", F.lit(False)).alias("label"),
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    # persist: the Arrow scoring pass feeds BOTH the rank path and the
    # calibration bins — without the barrier the mapInPandas stage (and
    # the scan under it) executes twice.  Lazy return ⇒ no eager
    # unpersist; repeat callers rely on LRU (plans/northstar.py:1548
    # convention).
    scored = (
        inference.batch_score(feats)
        .select("doc_id", "label", "score")
        .persist()
    )
    # r14: rank the TIE GROUPS, not the rows.  min/max global rank per
    # score group are pure arithmetic on an inclusive running count
    # over score order (mn = cum − c + 1, mx = cum), so the two-pass
    # global-order machinery (ranks.py) runs over ONE ROW PER DISTINCT
    # SCORE: the groupBy ships map-side partials and the range
    # exchange + per-partition sort handle the grouped relation — at
    # corpus scale the heavy sort shrinks from N docs to the distinct
    # score count, and values are unchanged (the old per-row
    # row_number's min/max per group ARE these bounds).
    g0 = scored.groupBy("score").agg(
        F.count("*").alias("c"),
        F.sum(F.col("label").cast("long")).alias("p"),
    )
    gc, _total = ranks.with_global_running_sum(
        g0, ["score"], "c", out_col="cum"
    )
    g = gc.select(
        "score",
        (F.col("cum") - F.col("c") + 1).alias("mn"),
        F.col("cum").alias("mx"),
        "c",
        "p",
    )
    tot = g.agg(
        F.sum(F.col("p") * (F.col("mn") + F.col("mx"))).alias("two_rank_sum"),
        F.sum("p").alias("n_pos_tot"),
        (F.sum("c") - F.sum("p")).alias("n_neg_tot"),
    )
    auc = tot.select(
        F.when(
            (F.col("n_pos_tot") > 0) & (F.col("n_neg_tot") > 0),
            F.round(
                (
                    F.col("two_rank_sum")
                    - F.col("n_pos_tot") * (F.col("n_pos_tot") + 1)
                ).cast("double")
                / (2 * F.col("n_pos_tot") * F.col("n_neg_tot")),
                6,
            ),
        ).alias("auc")
    )
    bins = scored.groupBy(
        F.least(F.floor((F.col("score") + 1) * 5), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("label").cast("long")).alias("n_pos"),
        F.round(F.min("score"), 6).alias("score_lo"),
        F.round(F.max("score"), 6).alias("score_hi"),
    )
    return bins.crossJoin(F.broadcast(auc)).select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 4).alias(
            "pos_rate"
        ),
        "score_lo",
        "score_hi",
        "auc",
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build (operators/scd.py)
# ---------------------------------------------------------------------------


@register(
    "scd2_user_segment_history",
    """
    WITH o AS (SELECT user_id, event_type, ts, event_id,
                      lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
               FROM events WHERE ts IS NOT NULL),
    f AS (SELECT *, CASE WHEN prev IS NULL OR prev != event_type
                         THEN 1 ELSE 0 END AS flg FROM o),
    r AS (SELECT user_id, event_type, ts,
                 sum(flg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS ep
          FROM f),
    eps AS (SELECT user_id, ep, min(event_type) AS segment,
                   min(ts) AS effective_from
            FROM r GROUP BY 1, 2)
    SELECT user_id, segment, effective_from,
           lead(effective_from) OVER (PARTITION BY user_id
               ORDER BY effective_from, ep) AS effective_to,
           lead(effective_from) OVER (PARTITION BY user_id
               ORDER BY effective_from, ep) IS NULL AS is_current
    FROM eps
    """,
    doc="SCD Type-2 dimension build (operators/scd.py "
    "scd2_from_history): each user's behavioral state (latest event "
    "type) as one row per VALUE EPISODE with effective_from / "
    "effective_to validity bounds, the open episode flagged "
    "is_current — the Kimball history table the reference's "
    "last-write-wins Mongo upsert cannot express.  One user_id "
    "exchange end to end: change-flag lag, running-sum episode ids, "
    "episode rollup, and the next-start lead all share "
    "HashPartitioning(user_id).  The INCREMENTAL path (scd2_merge: "
    "closed episodes pass through untouched, only open episodes "
    "replay with the batch) is pinned by a slicing property test — "
    "merge(history<=T, changes(T,T2]) == rebuild(<=T2) "
    "(tests/test_lake.py)",
    bench=True,
)
def q_scd2_user_segment_history(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull()).select(
        "user_id", "event_type", "ts", "event_id"
    )
    dim = scd.scd2_from_history(
        ev, key="user_id", attr="event_type", ts_col="ts", tiebreak="event_id"
    )
    return dim.select(
        "user_id",
        F.col("event_type").alias("segment"),
        "effective_from",
        "effective_to",
        "is_current",
    )


# ---------------------------------------------------------------------------
# Join-key skew audit
# ---------------------------------------------------------------------------

def _skew_sql(fam: str, src: str) -> str:
    return f"""
    SELECT '{fam}' AS family,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           max(n) AS max_per_key,
           round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS avg_per_key,
           round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 4)
               AS skew_factor,
           max({{'n': n, 'k': k}})['k'] AS top_key
    FROM (SELECT k, count(*) AS n FROM ({src}) GROUP BY 1)
    """


_SKEW_FAMILIES_SQL = [
    (
        "events.user_id",
        "SELECT CAST(user_id AS VARCHAR) AS k FROM events "
        "WHERE user_id IS NOT NULL",
    ),
    (
        "events.item",
        "SELECT (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS k FROM events "
        "WHERE (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) IS NOT NULL",
    ),
    (
        "orders.o_custkey",
        "SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders "
        "WHERE o_custkey IS NOT NULL",
    ),
    (
        "lineitem.l_partkey",
        "SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem "
        "WHERE l_partkey IS NOT NULL",
    ),
]


@register(
    "join_skew_report",
    " UNION ALL ".join(_skew_sql(f, s) for f, s in _SKEW_FAMILIES_SQL),
    doc="join-key skew audit over the join/aggregation keys the "
    "engine's heavy plans shuffle on: per key family, row and key "
    "cardinalities, the heaviest key's row count, the mean, the skew "
    "factor max/avg (1.0 = perfectly balanced; the salting trigger "
    "operators/skew.py exists for exactly the keys this flags), and "
    "the offending key itself (deterministic via struct-max with a "
    "key tie-break).  Shape per family: one key rollup exchange, then "
    "a single-row reduce over the KEY-VOCABULARY-sized count relation "
    "— the report that decides salt factors and AQE skew thresholds "
    "before a 100 TB backfill, run on a sample or the full corpus",
)
def q_join_skew_report(spark, sf_dir):
    ev = _events(spark, sf_dir)
    families = [
        (
            "events.user_id",
            ev.select(F.col("user_id").cast("string").alias("k")),
        ),
        ("events.item", ev.select(item_key().alias("k"))),
        (
            "orders.o_custkey",
            _t(spark, sf_dir, "orders").select(
                F.col("o_custkey").cast("string").alias("k")
            ),
        ),
        (
            "lineitem.l_partkey",
            _t(spark, sf_dir, "lineitem").select(
                F.col("l_partkey").cast("string").alias("k")
            ),
        ),
    ]
    out = None
    for fam, df in families:
        counts = (
            df.where(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        row = counts.agg(
            # coalesce: empty input reports 0 rows, not NULL (the
            # ratio columns stay NULL — no rows means no average)
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("n").alias("max_per_key"),
            F.max(F.struct("n", "k")).alias("_top"),
        ).select(
            F.lit(fam).alias("family"),
            "n_rows",
            "n_keys",
            "max_per_key",
            # when-guard: ANSI mode turns the empty-input 0-divisor into
            # an error, not a NULL (ab_test_report convention)
            F.when(
                F.col("n_keys") > 0,
                F.round(
                    F.col("n_rows").cast("double") / F.col("n_keys"), 4
                ),
            ).alias("avg_per_key"),
            F.when(
                F.col("n_rows") > 0,
                F.round(
                    F.col("max_per_key").cast("double")
                    * F.col("n_keys")
                    / F.col("n_rows"),
                    4,
                ),
            ).alias("skew_factor"),
            F.col("_top")["k"].alias("top_key"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance (streaming/scd_sink.py)
# ---------------------------------------------------------------------------


def _register_streaming_scd2() -> None:
    """Registered AFTER the batch query so the streaming twin shares the
    batch oracle STRING verbatim (the streaming_frequent_terms pattern —
    convergence to the batch result is the contract, so the two oracles
    can never drift)."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    batch_oracle = REGISTRY["scd2_user_segment_history"].oracle

    @register(
        "streaming_scd2_user_segments",
        batch_oracle,
        doc="streaming SCD Type-2 maintenance end to end: the event log "
        "replayed as THREE time-ordered micro-batches, each folded into "
        "the dimension via foreachBatch + scd2_merge "
        "(streaming/scd_sink.py) with batch-keyed idempotent version "
        "dirs (a redelivered batch recomputes from the same predecessor "
        "version), then the final snapshot read back.  Because "
        "merge(history<=T, changes(T,T2]) == rebuild(<=T2) — the pinned "
        "slicing property — three sequential merges converge to the "
        "batch scd2_user_segment_history result, whose oracle this "
        "query shares verbatim",
        tags=("streaming",),
    )
    def q_streaming_scd2_user_segments(spark, sf_dir):
        import os
        from realtime_data_pipeline_spark.scratch import scratch_dir
        import time

        from realtime_data_pipeline_spark.streaming.scd_sink import (
            read_scd2_dim,
            start_scd2_merge_query,
        )

        ev = _events(spark, sf_dir).select(
            "user_id", "event_type", "ts", "event_id"
        )
        base = scratch_dir(prefix="rdp_scd2_")
        replay = os.path.join(base, "replay")
        tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        span = (tmax - tmin) / 3
        c1, c2 = tmin + span, tmin + 2 * span
        # three GLOBAL time cuts: scd2_merge's late-row guard requires
        # batches in non-decreasing event time; mtime gaps order the
        # files for maxFilesPerTrigger=1 (corpus_sink convention)
        ev.where(F.col("ts") <= F.lit(c1)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(replay)
        time.sleep(1.1)
        ev.where(
            (F.col("ts") > F.lit(c1)) & (F.col("ts") <= F.lit(c2))
        ).coalesce(1).write.mode("append").parquet(replay)
        time.sleep(1.1)
        ev.where(F.col("ts") > F.lit(c2)).coalesce(1).write.mode(
            "append"
        ).parquet(replay)

        schema = (
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        q = start_scd2_merge_query(
            stream,
            os.path.join(base, "dim"),
            os.path.join(base, "ckpt"),
            key="user_id",
            attr="event_type",
            ts_col="ts",
            tiebreak="event_id",
            query_name="scd2_stream",
            trigger_available_now=True,
        )
        while q.isActive:
            q.awaitTermination(5)
        dim = read_scd2_dim(spark, os.path.join(base, "dim"))
        return dim.select(
            "user_id",
            F.col("event_type").alias("segment"),
            "effective_from",
            "effective_to",
            "is_current",
        )


_register_streaming_scd2()


# ---------------------------------------------------------------------------
# Per-document cross-duplication score (subdocument leakage audit)
# ---------------------------------------------------------------------------


def _crossdup_sql() -> str:
    from realtime_data_pipeline_spark.functions import dedup as dd
    from realtime_data_pipeline_spark.plans.northstar import D_HASH32, D_TOKS

    return f"""
    WITH t AS (SELECT doc_id, {D_TOKS} AS toks FROM documents),
    tk AS (SELECT doc_id,
                  list_transform(toks, t -> {D_HASH32.format(t='t')}) AS th
           FROM t WHERE len(toks) >= 3),
    d AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(th) - 1),
                     i -> (((th[i] * {dd.SHINGLE_B} + th[i + 1])
                            % {dd.MINHASH_P}) * {dd.SHINGLE_B} + th[i + 2])
                          % {dd.MINHASH_P})) AS hs
          FROM tk),
    e AS (SELECT doc_id, unnest(hs) AS h FROM d),
    c AS (SELECT h FROM e GROUP BY h HAVING count(*) >= 2),
    per AS (SELECT e.doc_id, count(*) AS n_shared
            FROM e JOIN c USING (h) GROUP BY 1)
    SELECT d.doc_id,
           CAST(len(hs) AS BIGINT) AS n_shingles,
           coalesce(per.n_shared, 0) AS n_shared,
           round(CAST(coalesce(per.n_shared, 0) AS DOUBLE) / len(hs), 4)
               AS crossdup_frac
    FROM d LEFT JOIN per USING (doc_id)
    """


@register(
    "doc_crossdup_rates",
    _crossdup_sql(),
    doc="per-document cross-duplication score: the fraction of a doc's "
    "distinct 3-gram shingle hashes that appear in at least one OTHER "
    "document — the subdocument leakage signal that doc-level dedup "
    "misses and shared_chunk_report only sees at chunk granularity.  "
    "High-score docs are paste-heavy boilerplate even when no single "
    "near-dup pair exists.  Shape: shingle explode (over the persisted "
    "shingle_sets barrier) → one int64-hash rollup for the >=2-doc "
    "set → semi-join back → one doc_id rollup; every exchange carries "
    "8-byte hashes, never text.  Docs with <3 tokens (incl. NULL "
    "text) are excluded identically in both engines via the NULL-"
    "propagating len(toks) >= 3 filter",
)
def q_doc_crossdup_rates(spark, sf_dir):
    from realtime_data_pipeline_spark.functions import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    ss = dd.shingle_sets(docs)
    expl = ss.select("doc_id", F.explode("sh").alias("h"))
    shared = (
        expl.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    # MERGE hints (r7 broadcast audit): both the >=2-doc shingle set
    # and the per-doc rollup are CORPUS-scaled — the planner cannot be
    # allowed to broadcast either (the class of mis-estimate that
    # OOMed ngram_jaccard_pairs at probe scale); SMJ spills, never
    # builds an unbounded driver-side relation.
    per = (
        expl.join(shared.hint("merge"), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        ss.select("doc_id", F.col("n_sh").cast("long").alias("n_shingles"))
        .join(per.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                4,
            ).alias("crossdup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy governance)
# ---------------------------------------------------------------------------

_K_ANON = 5


def _kanon_sql(level: str, qi2: str, src: str) -> str:
    return f"""
    SELECT '{level}' AS level,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
           count(*) AS n_groups,
           min(n) AS min_group_size,
           CAST(count(*) FILTER (WHERE n < {_K_ANON}) AS BIGINT)
               AS n_risky_groups,
           CAST(coalesce(sum(n) FILTER (WHERE n < {_K_ANON}), 0) AS BIGINT)
               AS n_risky_rows,
           round(CAST(coalesce(sum(n) FILTER (WHERE n < {_K_ANON}), 0)
                      AS DOUBLE) / sum(n), 4) AS risky_row_pct
    FROM (SELECT c_mktsegment, {qi2}, count(*) AS n
          FROM {src} GROUP BY 1, 2)
    """


@register(
    "k_anonymity_audit",
    _kanon_sql(
        "segment_x_nation", "c_nationkey", "customer"
    )
    + " UNION ALL "
    + _kanon_sql(
        "segment_x_region",
        "n_regionkey",
        "(SELECT c_mktsegment, n_regionkey FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey)",
    ),
    doc=f"privacy governance: k-anonymity (k={_K_ANON}) of the customer "
    "table under the quasi-identifier (market segment, nation), and "
    "again after one generalization step up the lattice "
    "(nation→region, broadcast dimension join) — the standard "
    "re-identification risk readout: how many QI groups are smaller "
    "than k, how many rows they expose, and whether coarsening the "
    "geography fixes it.  Shape per level: one QI rollup + a "
    "single-row reduce over the GROUP relation (QI-cardinality-sized, "
    "orders below row count); the generalization join broadcasts the "
    "25-row nation dim",
)
def q_k_anonymity_audit(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    levels = [
        (
            "segment_x_nation",
            cust.select(
                F.col("c_mktsegment").alias("q1"),
                F.col("c_nationkey").alias("q2"),
            ),
        ),
        (
            "segment_x_region",
            cust.join(
                F.broadcast(nation),
                cust["c_nationkey"] == nation["n_nationkey"],
            ).select(
                F.col("c_mktsegment").alias("q1"),
                F.col("n_regionkey").alias("q2"),
            ),
        ),
    ]
    out = None
    for level, df in levels:
        groups = df.groupBy("q1", "q2").agg(F.count("*").alias("n"))
        risky_rows = F.coalesce(
            F.sum(F.when(F.col("n") < _K_ANON, F.col("n"))), F.lit(0)
        )
        row = groups.agg(
            # coalesce: empty input reports 0 counts, not NULL sums
            # (min_group_size / risky_row_pct stay NULL — no groups)
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
            F.count("*").alias("n_groups"),
            F.min("n").alias("min_group_size"),
            F.coalesce(
                F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0)),
                F.lit(0),
            ).alias("n_risky_groups"),
            risky_rows.alias("n_risky_rows"),
        ).select(
            F.lit(level).alias("level"),
            "n_rows",
            "n_groups",
            "min_group_size",
            "n_risky_groups",
            "n_risky_rows",
            F.when(
                F.col("n_rows") > 0,
                F.round(
                    F.col("n_risky_rows").cast("double") / F.col("n_rows"),
                    4,
                ),
            ).alias("risky_row_pct"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Data-contract validation (dbt-tests analogue: N rules, ONE scan/table)
# ---------------------------------------------------------------------------

_EVENT_ENUM = "'view','click','purchase','signup','error'"


@register(
    "data_contract_violations",
    f"""
    WITH ev AS (
        SELECT count(*) AS n,
               coalesce(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0)
                   AS ts_null,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2020-01-01'
                                   OR ts >= TIMESTAMP '2030-01-01'
                                 THEN 1 ELSE 0 END), 0) AS ts_range,
               coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0)
                   AS uid_null,
               coalesce(sum(CASE WHEN event_type IS NULL
                                   OR event_type NOT IN ({_EVENT_ENUM})
                                 THEN 1 ELSE 0 END), 0) AS etype_bad,
               coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0)
                   AS val_neg,
               coalesce(sum(CASE WHEN props IS NULL
                                   OR (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END)
                                      IS NULL
                                 THEN 1 ELSE 0 END), 0) AS props_bad
        FROM events),
    orr AS (
        SELECT count(*) AS n,
               coalesce(sum(CASE WHEN o_orderdate IS NULL
                                 THEN 1 ELSE 0 END), 0) AS od_null,
               coalesce(sum(CASE WHEN o_totalprice <= 0
                                 THEN 1 ELSE 0 END), 0) AS tp_bad
        FROM orders),
    u AS (
        SELECT 'events.ts_not_null' AS rule, n, ts_null AS v FROM ev
        UNION ALL SELECT 'events.ts_in_range', n, ts_range FROM ev
        UNION ALL SELECT 'events.user_id_not_null', n, uid_null FROM ev
        UNION ALL SELECT 'events.event_type_in_enum', n, etype_bad FROM ev
        UNION ALL SELECT 'events.value_non_negative', n, val_neg FROM ev
        UNION ALL SELECT 'events.props_has_item_key', n, props_bad FROM ev
        UNION ALL SELECT 'orders.orderdate_not_null', n, od_null FROM orr
        UNION ALL SELECT 'orders.totalprice_positive', n, tp_bad FROM orr)
    SELECT rule, CAST(n AS BIGINT) AS n_checked,
           CAST(v AS BIGINT) AS n_violations,
           CASE WHEN n > 0
                THEN round(CAST(v AS DOUBLE) / n, 4) END AS violation_pct
    FROM u
    """,
    doc="data-contract validation (the dbt-tests analogue): NULLability, "
    "range, enum-membership, sign, and JSON-shape rules over events + "
    "orders, reported one row per rule.  ALL of a table's rules ride "
    "ONE aggregation pass (conditional sums in a single agg, then a "
    "stack unpivot) — N rules never cost N scans, which is the whole "
    "game at 100 TB where a contract suite runs on every refresh.  "
    "The JSON rule flags NULL props, malformed JSON, and missing/NULL "
    "$.k uniformly as violations: Spark's get_json_object yields NULL "
    "for all three, and the oracle's json_valid guard makes DuckDB "
    "agree (exercised by the hostile-value harness's malformed-props "
    "injection, r6)",
)
def q_data_contract_violations(spark, sf_dir):
    ev = _events(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders")

    def c(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        )

    enum = ["view", "click", "purchase", "signup", "error"]
    ev_agg = ev.agg(
        F.count("*").alias("n"),
        c(F.col("ts").isNull()).alias("ts_null"),
        c(
            (F.col("ts") < F.expr("TIMESTAMP_NTZ '2020-01-01 00:00:00'"))
            | (F.col("ts") >= F.expr("TIMESTAMP_NTZ '2030-01-01 00:00:00'"))
        ).alias("ts_range"),
        c(F.col("user_id").isNull()).alias("uid_null"),
        c(
            F.col("event_type").isNull() | ~F.col("event_type").isin(enum)
        ).alias("etype_bad"),
        c(F.col("value") < 0).alias("val_neg"),
        c(
            F.col("props").isNull() | item_key().isNull()
        ).alias("props_bad"),
    )
    ev_rules = ev_agg.selectExpr(
        "stack(6, "
        "'events.ts_not_null', ts_null, "
        "'events.ts_in_range', ts_range, "
        "'events.user_id_not_null', uid_null, "
        "'events.event_type_in_enum', etype_bad, "
        "'events.value_non_negative', val_neg, "
        "'events.props_has_item_key', props_bad"
        ") AS (rule, n_violations)",
        "n AS n_checked",
    )
    or_agg = orders.agg(
        F.count("*").alias("n"),
        c(F.col("o_orderdate").isNull()).alias("od_null"),
        c(F.col("o_totalprice") <= 0).alias("tp_bad"),
    )
    or_rules = or_agg.selectExpr(
        "stack(2, "
        "'orders.orderdate_not_null', od_null, "
        "'orders.totalprice_positive', tp_bad"
        ") AS (rule, n_violations)",
        "n AS n_checked",
    )
    return ev_rules.unionByName(or_rules).select(
        "rule",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.when(
            F.col("n_checked") > 0,
            F.round(
                F.col("n_violations").cast("double") / F.col("n_checked"), 4
            ),
        ).alias("violation_pct"),
    )


# ---------------------------------------------------------------------------
# Daily volume anomaly report (median + MAD over the day relation)
# ---------------------------------------------------------------------------


@register(
    "daily_anomaly_report",
    """
    WITH daily AS (SELECT date_trunc('day', ts) AS day,
                          count(*) AS n_events
                   FROM events WHERE ts IS NOT NULL GROUP BY 1),
    m AS (SELECT quantile_cont(n_events, 0.5) AS med FROM daily),
    d AS (SELECT quantile_cont(abs(n_events - med), 0.5) AS mad
          FROM daily, m)
    SELECT day, n_events,
           round(med, 4) AS med, round(mad, 4) AS mad,
           abs(n_events - med) > 3 * mad AS is_anomaly
    FROM daily, m, d
    """,
    doc="event-volume anomaly detection: daily counts flagged when "
    "|count - median| > 3 x MAD (median absolute deviation) — the "
    "robust outlier rule that a mean/stddev z-score gets wrong when "
    "the outliers themselves inflate the baseline.  The ingest-health "
    "monitor for a streaming pipeline: a day that lost (or doubled) "
    "its feed trips the flag.  Shape: one (day) rollup exchange over "
    "the events scan, then both percentile passes and the flag join "
    "run on the O(days) DAY relation (persisted — tiny) with "
    "broadcast scalars; exact sort-based percentiles are safe here "
    "BECAUSE the relation is calendar-sized, the corpus-sized "
    "quantile path is approx_quantiles_report",
)
def q_daily_anomaly_report(spark, sf_dir):
    ev = _events(spark, sf_dir)
    daily = (
        ev.where(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("n_events"))
        .persist()  # O(days); consumed by med, mad, and the output
    )
    med = daily.agg(F.expr("percentile(n_events, 0.5)").alias("med"))
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.agg(
        F.expr("percentile(abs(n_events - med), 0.5)").alias("mad")
    )
    return (
        with_med.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n_events",
            F.round(F.col("med"), 4).alias("med"),
            F.round(F.col("mad"), 4).alias("mad"),
            (
                F.abs(F.col("n_events") - F.col("med"))
                > 3 * F.col("mad")
            ).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# JSONL export round-trip (interchange-format contract)
# ---------------------------------------------------------------------------


@register(
    "jsonl_roundtrip_stats",
    # nullif(lang, ''): Hive partition directory layout CANNOT
    # represent an empty-string partition value — Spark writes both ''
    # and NULL to __HIVE_DEFAULT_PARTITION__ and reads both back as
    # NULL.  The oracle mirrors that declared lossy edge of the layout
    # (hostile-value harness, r6) instead of pretending '' survives.
    """
    SELECT nullif(lang, '') AS lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
    doc="interchange-format contract, hash-checked: the documents table "
    "exported through operators/writer.write_corpus_jsonl (gzip JSON-"
    "lines, lang partition dirs, 4 md5 shards, key-sorted lines — the "
    "layout training loaders and annotation tools stream directly), "
    "read back with the DECLARED schema (never inference — a schema "
    "pass over 100 TB of gzip JSONL is a full extra epoch), and "
    "rolled up per language.  A lossless export means the stats over "
    "the round-tripped corpus equal the stats over the source table — "
    "which is what the oracle computes, modulo the ONE declared lossy "
    "edge: empty-string partition values collapse to NULL (Hive "
    "directory layout has no encoding for them).  The parquet twin is "
    "streaming_corpus_materialized_stats; this is the text-interchange "
    "path (JSON string escaping, gzip framing, partition-column "
    "re-derivation all in play)",
)
def q_jsonl_roundtrip_stats(spark, sf_dir):
    from realtime_data_pipeline_spark.scratch import scratch_dir

    from realtime_data_pipeline_spark.operators import writer

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir(prefix="rdp_jsonl_")
    writer.write_corpus_jsonl(docs, out, partition_cols=("lang",), n_shards=4)
    back = writer.read_corpus_jsonl(spark, out, schema=docs.schema)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


@register(
    "csv_roundtrip_stats",
    # no nullif here, deliberately: the CSV export partitions only on
    # the derived shard key (shard=N/ dirs), never on a data column,
    # so unlike the jsonl/parquet twins (which partition on lang) an
    # empty-string lang rides inside the CSV rows and survives the
    # round trip as '' — the oracle groups raw lang
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY lang
    """,
    doc="CSV interchange contract, hash-checked: the documents table "
    "exported as headered gzip CSV shards "
    "(operators/writer.write_corpus_csv — RFC-4180 quote escaping, a "
    "distinct \\\\N NULL marker so NULL and '' survive as different "
    "values, writer whitespace-trimming disabled, multiLine read for "
    "quoted embedded newlines), read back with the DECLARED schema "
    "(CSV carries no types), and rolled up per language equal to the "
    "source table.  Completes the interchange-format family: parquet "
    "(streaming_corpus_materialized_stats), gzip-JSONL "
    "(jsonl_roundtrip_stats), JSON wire (streaming_json_wire_counts; "
    "the batch counts-only face was retired r9 — see plans/extras.py), and "
    "CSV — this one is the only LOSSLESS one for empty-string lang "
    "values, because no DATA column is a Hive partition key (only the "
    "derived, never-empty shard key is, producing shard=N/ dirs)",
)
def q_csv_roundtrip_stats(spark, sf_dir):
    from realtime_data_pipeline_spark.scratch import scratch_dir

    from realtime_data_pipeline_spark.operators import writer

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir(prefix="rdp_csv_")
    writer.write_corpus_csv(docs, out, n_shards=4)
    back = writer.read_corpus_csv(spark, out, schema=docs.schema)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join against the SCD2 dimension
# ---------------------------------------------------------------------------

_PIT_BAND = "CASE WHEN value >= 50 THEN 'high' ELSE 'low' END"


@register(
    "scd2_pointintime_enrichment",
    f"""
    WITH log AS (SELECT user_id, {_PIT_BAND} AS band, ts, event_id
                 FROM events
                 WHERE user_id IS NOT NULL AND value IS NOT NULL
                   AND ts IS NOT NULL),
    o AS (SELECT user_id, band, ts, event_id,
                 lag(band) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS prev
          FROM log),
    f AS (SELECT *, CASE WHEN prev IS NULL OR prev != band
                         THEN 1 ELSE 0 END AS flg FROM o),
    r AS (SELECT user_id, band, ts,
                 sum(flg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS ep
          FROM f),
    eps AS (SELECT user_id, ep, min(band) AS band,
                   min(ts) AS effective_from
            FROM r GROUP BY 1, 2),
    dim AS (SELECT user_id, band, effective_from,
                   lead(effective_from) OVER (PARTITION BY user_id
                       ORDER BY effective_from, ep) AS effective_to
            FROM eps)
    SELECT coalesce(dim.band, 'none') AS band,
           e.event_type,
           count(*) AS n_events
    FROM events e
    LEFT JOIN dim
      ON dim.user_id = e.user_id
     AND e.ts >= dim.effective_from
     AND (dim.effective_to IS NULL OR e.ts < dim.effective_to)
    GROUP BY 1, 2
    """,
    doc="point-in-time (temporal) join — the consumption pattern every "
    "SCD2 dimension exists for: each event enriched with the value-"
    "band episode (high/low spend state, scd2_from_history over the "
    "band change log) whose validity interval contains the event's "
    "timestamp, rolled up per (band, event_type).  The Spark plan is "
    "NOT an interval-containment join (quadratic per key): because "
    "SCD2 intervals partition each key's timeline, interval "
    "containment == backward as-of on effective_from, so the "
    "operators/asof.py union-scan shape applies — ONE user_id "
    "exchange, linear in |events| + |dim|.  Events before a user's "
    "first episode (or with NULL user/value) land in the 'none' band "
    "in both engines (dim side filters NULL keys; the oracle's "
    "equi-join drops them identically)",
)
def q_scd2_pointintime_enrichment(spark, sf_dir):
    from realtime_data_pipeline_spark.operators import asof

    ev = _events(spark, sf_dir)
    band = F.when(F.col("value") >= 50, "high").otherwise("low")
    log = ev.where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select("user_id", band.alias("band"), "ts", "event_id")
    dim = scd.scd2_from_history(
        log, key="user_id", attr="band", ts_col="ts", tiebreak="event_id"
    )
    # Zero-length episodes (a band flapping within one timestamp makes
    # scd2_from_history emit effective_to == effective_from) can never
    # contain any event ts, and the oracle's interval-containment join
    # excludes them for free — but asof_join requires effective_from to
    # be unique per key (operators/asof.py contract), which only holds
    # after dropping them: of any episodes sharing a start, all but the
    # last are zero-length.
    dim = dim.where(
        F.col("effective_to").isNull()
        | (F.col("effective_to") > F.col("effective_from"))
    )
    enriched = asof.asof_join(
        ev.select("user_id", "ts", "event_type"),
        dim.select("user_id", "band", "effective_from"),
        keys=["user_id"],
        left_ts="ts",
        right_ts="effective_from",
        payload_cols=["band"],
    )
    return enriched.groupBy(
        F.coalesce(F.col("asof.band"), F.lit("none")).alias("band"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# Corpus quality funnel (per-stage attrition, ONE scan)
# ---------------------------------------------------------------------------

# Stage predicates are ALL integer comparisons (ratio thresholds
# rewritten as cross-multiplications), so the funnel is bit-exact
# cross-engine with zero float arithmetic.
_FUNNEL_STAGES = [
    ("s1_nonempty", "text IS NOT NULL AND n_chars > 0"),
    ("s2_min_length", "n_chars >= 100"),
    ("s3_min_tokens", "n_tokens >= 20"),
    # mean token length in [3, 12] without a division
    ("s4_word_shape", "n_chars >= 3 * n_tokens AND n_chars <= 12 * n_tokens"),
    # distinct-token ratio >= 0.3 without a division
    ("s5_diversity", "10 * n_distinct >= 3 * n_tokens"),
]


def _funnel_sql() -> str:
    from realtime_data_pipeline_spark.plans.northstar import D_TOKS

    conj, rows = [], []
    for name, pred in _FUNNEL_STAGES:
        conj.append(f"({pred})")
        rows.append(
            f"SELECT '{name}' AS stage, "
            f"coalesce(sum(CASE WHEN {' AND '.join(conj)} "
            f"THEN 1 ELSE 0 END), 0) AS n_surviving, "
            f"count(*) AS n_total FROM t"
        )
    union = " UNION ALL ".join(rows)
    return f"""
    WITH t AS (SELECT n_chars, text,
                      len({D_TOKS}) AS n_tokens,
                      len(list_distinct({D_TOKS})) AS n_distinct
               FROM documents)
    SELECT stage, CAST(n_surviving AS BIGINT) AS n_surviving,
           CAST(n_total AS BIGINT) AS n_total,
           CASE WHEN n_total > 0
                THEN round(CAST(n_surviving AS DOUBLE) / n_total, 4)
           END AS pct_of_total
    FROM ({union})
    """


@register(
    "quality_funnel_stats",
    _funnel_sql(),
    doc="corpus-curation funnel: cumulative survivor counts through the "
    "map-side quality stages (non-empty → min length → min tokens → "
    "mean-token-length band → distinct-token ratio), one row per "
    "stage.  The report every filter-pipeline tuning session starts "
    "from: WHICH stage eats the corpus.  All five cumulative "
    "conditional sums ride ONE scan and ONE aggregation (never N "
    "passes); every threshold is an integer cross-multiplication "
    "(no divisions inside predicates), so the funnel is bit-exact "
    "cross-engine.  The dedup/cluster stages live in "
    "corpus_curation_stats (they need joins); this is the map-side "
    "prefix of that pipeline",
)
def q_quality_funnel_stats(spark, sf_dir):
    # widen="cpu" (r14): tokenize + array_distinct per row before the
    # one-pass funnel aggregation — text_metrics serial-scan fix.
    docs = _t(spark, sf_dir, "documents", widen="cpu")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    feats = docs.select(
        "text",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    conj = None
    aggs = [F.count("*").alias("n_total")]
    for name, pred in _FUNNEL_STAGES:
        cond = F.expr(pred)
        conj = cond if conj is None else (conj & cond)
        aggs.append(
            F.coalesce(
                F.sum(F.when(conj, 1).otherwise(0)), F.lit(0)
            ).alias(name)
        )
    one = feats.agg(*aggs)
    stacked = one.selectExpr(
        "stack({n}, {pairs}) AS (stage, n_surviving)".format(
            n=len(_FUNNEL_STAGES),
            pairs=", ".join(f"'{s}', {s}" for s, _ in _FUNNEL_STAGES),
        ),
        "n_total",
    )
    return stacked.select(
        "stage",
        F.col("n_surviving").cast("long").alias("n_surviving"),
        F.col("n_total").cast("long").alias("n_total"),
        F.when(
            F.col("n_total") > 0,
            F.round(
                F.col("n_surviving").cast("double") / F.col("n_total"), 4
            ),
        ).alias("pct_of_total"),
    )


# ---------------------------------------------------------------------------
# Feature-store assembly: one-pass per-user feature vectors
# ---------------------------------------------------------------------------

_FV_TYPES = ["view", "click", "purchase", "signup", "error"]


@register(
    "user_feature_vectors",
    f"""
    SELECT user_id,
           {", ".join(
               f"CAST(coalesce(sum(CASE WHEN event_type = '{t}' "
               f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_{t}"
               for t in _FV_TYPES)},
           count(*) AS n_events,
           CAST(round(CAST(sum(CAST(coalesce(value, 0) AS DECIMAL(18, 2)))
                           AS DOUBLE), 2) AS DOUBLE) AS total_value,
           min(ts) AS first_seen,
           max(ts) AS last_seen,
           count(DISTINCT date_trunc('day', ts)) AS n_active_days
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    doc="feature-store assembly: the wide per-user feature vector a "
    "ranking/churn model trains on — per-type event counts "
    "(conditional sums, NOT a pivot join), exact decimal value total, "
    "first/last seen, and active-day cardinality — ALL from ONE "
    "user_id exchange with map-side partials.  The shape matters at "
    "100 TB: assembling k features as k self-joins (the naive feature "
    "store) costs k shuffles; conditional aggregation costs one.  "
    "NULL users excluded identically in both engines; value NULLs "
    "count 0 toward the total",
)
def q_user_feature_vectors(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    type_counts = [
        F.coalesce(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)),
            F.lit(0),
        ).alias(f"n_{t}")
        for t in _FV_TYPES
    ]
    return ev.groupBy("user_id").agg(
        *type_counts,
        F.count("*").alias("n_events"),
        F.round(
            F.sum(
                F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)")
            ).cast("double"),
            2,
        )
        .cast("double")
        .alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.countDistinct(F.date_trunc("day", F.col("ts"))).alias(
            "n_active_days"
        ),
    )


# ---------------------------------------------------------------------------
# Activity seasonality profile (hour × weekday matrix)
# ---------------------------------------------------------------------------


@register(
    "hourly_seasonality_profile",
    """
    WITH e AS (SELECT epoch_us(ts) // 86400000000 AS d,
                      (epoch_us(ts) % 86400000000) // 3600000000 AS hr
               FROM events WHERE ts IS NOT NULL)
    SELECT CAST((d + 4) % 7 AS INTEGER) AS dow,
           CAST(hr AS INTEGER) AS hour,
           count(*) AS n_events
    FROM e GROUP BY 1, 2
    """,
    doc="activity seasonality: the hour-of-day × day-of-week event "
    "matrix (0=Sunday; 1970-01-01 was a Thursday, hence the +4) — the "
    "baseline behind load forecasting and bot detection (organic "
    "traffic has diurnal structure; scripted traffic is flat).  "
    "Weekday and hour come from INTEGER epoch arithmetic on the NTZ "
    "timestamp, not engine calendar functions, because Spark "
    "dayofweek() and DuckDB dayofweek() disagree on week origin and "
    "both would reintroduce session-timezone sensitivity.  One "
    "168-group rollup exchange over the pruned (ts-only) scan",
)
def q_hourly_seasonality_profile(spark, sf_dir):
    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    # integer `div`/`%` only — a double division here could round
    # across a midnight boundary for timestamps microseconds from it
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        ev.select(us.alias("us"))
        .select(
            F.expr("CAST((us div 86400000000 + 4) % 7 AS INT)").alias(
                "dow"
            ),
            F.expr(
                "CAST((us % 86400000000) div 3600000000 AS INT)"
            ).alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Vector-store health report
# ---------------------------------------------------------------------------

_SQNORM_SPARK = (
    "aggregate(transform(embedding, x -> cast(x as double) * "
    "cast(x as double)), cast(0.0 as double), (a, x) -> a + x)"
)
# NULL guard (doc_fingerprints pattern): DuckDB's
# list_prepend(0.0, list_transform(NULL, ...)) yields [0.0], so an
# unguarded fold maps a NULL embedding to sq = 0.0 — silently counted
# as zero-norm and pulling min_sq_norm to 0 — while Spark's
# aggregate(transform(NULL, ...)) yields NULL.  CASE keeps both
# engines at sq = NULL for NULL embeddings.
_SQNORM_DUCK = (
    "CASE WHEN embedding IS NULL THEN NULL ELSE "
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y) END"
)


@register(
    "embedding_health_report",
    f"""
    WITH e AS (SELECT label,
                      embedding IS NULL AS is_null,
                      len(embedding) AS d,
                      (embedding IS NOT NULL AND len(list_filter(embedding,
                           x -> x IS NULL OR isnan(CAST(x AS DOUBLE))
                                OR isinf(CAST(x AS DOUBLE)))) > 0)
                          AS has_nonfinite,
                      {_SQNORM_DUCK} AS sq
               FROM embeddings)
    SELECT label, count(*) AS n_vecs,
           CAST(coalesce(sum(CASE WHEN is_null THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_null,
           CAST(coalesce(sum(CASE WHEN sq = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_zero_norm,
           CAST(coalesce(sum(CASE WHEN d IS NOT NULL AND d != 64
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_bad_dim,
           CAST(coalesce(sum(CASE WHEN has_nonfinite THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_nonfinite,
           round(min(sq), 6) AS min_sq_norm,
           round(max(sq), 6) AS max_sq_norm
    FROM e GROUP BY label
    """,
    doc="vector-store health gate, per label: NULL embeddings, "
    "zero-norm vectors (they poison cosine similarity — "
    "functions/kmeans.py silently drops them, this query makes the "
    "drop VISIBLE), wrong-dimension rows, non-finite rows "
    "(NULL/NaN/Inf elements — the class where the Arrow kernel "
    "deliberately scores NULL while the built-in fold would "
    "propagate NaN, see functions/similarity.py pandas_topk: this "
    "column makes that contract violation countable at ingest), and "
    "the squared-norm range "
    "— the checks every ANN index build should run first.  Squared "
    "norms only (no sqrt): computed by the same in-order "
    "aggregate-fold both engines execute bit-identically "
    "(embedding_quantization_report convention); min/max are "
    "order-independent.  One label rollup, zero joins, pure map "
    "under it",
)
def q_embedding_health_report(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.col("embedding").isNull().alias("is_null"),
        F.size("embedding").alias("d"),
        F.expr(
            "embedding is not null and exists(embedding, x -> "
            "isnull(x) or isnan(cast(x as double)) or "
            "abs(cast(x as double)) = double('infinity'))"
        ).alias("has_nonfinite"),
        F.expr(_SQNORM_SPARK).alias("sq"),
    )

    def c(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))

    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        c(F.col("is_null")).cast("long").alias("n_null"),
        c(F.col("sq") == 0).cast("long").alias("n_zero_norm"),
        c(F.col("d").isNotNull() & (F.col("d") != 64))
        .cast("long")
        .alias("n_bad_dim"),
        c(F.col("has_nonfinite")).cast("long").alias("n_nonfinite"),
        F.round(F.min("sq"), 6).alias("min_sq_norm"),
        F.round(F.max("sq"), 6).alias("max_sq_norm"),
    )


# ---------------------------------------------------------------------------
# Session co-visitation pairs (recommender co-occurrence)
# ---------------------------------------------------------------------------

_COVIS_MAX_SESSION_ITEMS = 64  # blowup guard: bot-like mega-sessions
_COVIS_TOP = 50


def _covis_sql() -> str:
    from realtime_data_pipeline_spark.plans.training import SESSION_GAP_MIN

    return f"""
    WITH o AS (SELECT user_id, (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS item,
                      ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
               FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND (CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) IS NOT NULL),
    f AS (SELECT *, CASE WHEN prev IS NULL
                           OR ts - prev > INTERVAL {SESSION_GAP_MIN} MINUTE
                         THEN 1 ELSE 0 END AS flg FROM o),
    s AS (SELECT user_id, item,
                 sum(flg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS sid
          FROM f),
    si AS (SELECT DISTINCT user_id, sid, item FROM s),
    ok AS (SELECT user_id, sid FROM si GROUP BY 1, 2
           HAVING count(*) BETWEEN 2 AND {_COVIS_MAX_SESSION_ITEMS}),
    p AS (SELECT a.item AS item_a, b.item AS item_b
          FROM si a
          JOIN si b ON a.user_id = b.user_id AND a.sid = b.sid
                   AND a.item < b.item
          JOIN ok ON ok.user_id = a.user_id AND ok.sid = a.sid)
    SELECT item_a, item_b, count(*) AS n_sessions
    FROM p GROUP BY 1, 2
    ORDER BY n_sessions DESC, item_a, item_b LIMIT {_COVIS_TOP}
    """


@register(
    "item_covisitation_pairs",
    _covis_sql(),
    doc="recommender co-occurrence ('customers also viewed'): item "
    "pairs co-visited within the same gap-based user session "
    "(plans/training.py SESSION_GAP_MIN), top-50 by session count "
    "with deterministic tie-breaks.  Scale shape is SESSION-LOCAL "
    "pair generation, the minhash bucket-local idiom: distinct items "
    "per session collect into a sorted array (bounded by the "
    f"{_COVIS_MAX_SESSION_ITEMS}-item cap — a free size() filter that "
    "drops bot-like mega-sessions, which are noise for co-visitation "
    "anyway), and i<j pairs expand inside the group — never a "
    "self-join of the (session, item) relation.  One user_id "
    "exchange feeds sessionization AND the session rollup; pair "
    "counts are one more exchange over the pair stream",
)
def q_item_covisitation_pairs(spark, sf_dir):
    from realtime_data_pipeline_spark.plans.training import SESSION_GAP_MIN

    ev = _events(spark, sf_dir)
    base = ev.where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & item_key().isNotNull()
    ).select(
        "user_id", item_key().alias("item"), "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flg = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    s = base.withColumn("flg", flg).withColumn(
        "sid",
        F.sum("flg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = (
        s.groupBy("user_id", "sid")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .where(
            (F.size("items") >= 2)
            & (F.size("items") <= _COVIS_MAX_SESSION_ITEMS)
        )
    )
    pair_expr = F.flatten(
        F.expr(
            "transform(items, (m, i) -> "
            "transform(slice(items, i + 2, size(items) - i - 1), "
            "n -> struct(m as item_a, n as item_b)))"
        )
    )
    return (
        sess.select(F.explode(pair_expr).alias("p"))
        .groupBy(
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "item_a", "item_b")
        .limit(_COVIS_TOP)
    )


# ---------------------------------------------------------------------------
# Persisted IVF index (build once, serve from disk)
# ---------------------------------------------------------------------------


def _register_stored_index() -> None:
    """Registered after northstar so the stored-index query shares
    ann_ivf_assigned_topk's oracle STRING verbatim — same math, now
    routed through the cell-partitioned on-disk index, so the
    persistence layer itself is hash-checked."""
    from realtime_data_pipeline_spark.plans.registry import REGISTRY

    oracle = REGISTRY["ann_ivf_assigned_topk"].oracle

    @register(
        "ann_stored_index_topk",
        oracle,
        doc="ANN SERVING path, hash-checked end to end: the IVF index "
        "(codebook rows 8-15 + argmax cell assignments) is BUILT to "
        "disk partitioned by cell (functions/ann_index.py), then "
        "top-5 is served from the stored index — broadcast query "
        "batch, cell equi-join against the partitioned store (dynamic "
        "partition pruning applies on the cell dirs), exact rerank.  "
        "Identical results to the inline ann_ivf_assigned_topk, whose "
        "oracle this query shares verbatim: what the hash proves is "
        "that materialization (parquet roundtrip, partition-column "
        "re-derivation, float array storage) loses nothing",
    )
    def q_ann_stored_index_topk(spark, sf_dir):
        from realtime_data_pipeline_spark.scratch import scratch_dir

        from realtime_data_pipeline_spark.functions import ann_index

        emb = _t(spark, sf_dir, "embeddings")
        idx = scratch_dir(prefix="rdp_ivfidx_")
        ann_index.build_ivf_index(
            emb, idx, (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
        )
        return ann_index.query_ivf_index(
            spark, idx, F.col("vec_id") < 8, k=5
        )


_register_stored_index()


# ---------------------------------------------------------------------------
# Z-order layout round-trip (2-D data-skipping materialization check)
# ---------------------------------------------------------------------------


@register(
    "zorder_roundtrip_stats",
    """
    SELECT count(*) AS n_rows,
           CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18, 2)))
                           AS DOUBLE), 2) AS DOUBLE) AS total_qty,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    WHERE l_partkey <= 50 AND l_suppkey <= 5
    """,
    doc="Z-order materialization, hash-checked: lineitem written along "
    "the Morton curve of (l_partkey, l_suppkey) (operators/zorder.py, "
    "the 2-D data-skipping layout whose pruning advantage "
    "tests/test_zorder.py measures), read back through a 2-D box "
    "predicate, aggregated.  A lossless layout means the box query "
    "over the z-ordered files equals the same query over the source "
    "table — the oracle.  Completes the materialization-check family "
    "(jsonl_roundtrip_stats, ann_stored_index_topk, "
    "streaming_corpus_materialized_stats): every storage layout the "
    "engine writes is hash-verified through a read-back",
)
def q_zorder_roundtrip_stats(spark, sf_dir):
    from realtime_data_pipeline_spark.scratch import scratch_dir

    from realtime_data_pipeline_spark.operators import zorder

    li = _t(spark, sf_dir, "lineitem")
    out = scratch_dir(prefix="rdp_zorder_")
    zorder.write_zordered(li, out, "l_partkey", "l_suppkey", n_files=16)
    back = spark.read.parquet(out).where(
        (F.col("l_partkey") <= 50) & (F.col("l_suppkey") <= 5)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
            2,
        )
        .cast("double")
        .alias("total_qty"),
        F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
    )


# ---------------------------------------------------------------------------
# Upsert time-travel read (versioned-sink materialization check)
# ---------------------------------------------------------------------------

_TT_CUT = "2024-01-16 00:00:00"


@register(
    "upsert_time_travel_stats",
    f"""
    SELECT 'v1' AS snapshot, user_id, count(*) AS n_events
    FROM events
    WHERE user_id IS NOT NULL AND ts < TIMESTAMP '{_TT_CUT}'
    GROUP BY user_id
    UNION ALL
    SELECT 'current', user_id, count(*)
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    doc="time travel through the keyed-upsert sink, hash-checked: "
    "per-user counts over the first half of the event log merge into "
    "an UpsertTable (version N), the full-log counts merge on top "
    "(version N+1, every key upserted), then BOTH the historical "
    "snapshot read(version=N) and the current read come back — a "
    "correct versioned sink returns exactly the first-half rollup for "
    "the old snapshot and the full rollup for the current one, which "
    "is what the oracle computes from the raw log.  The read of "
    "version N right after the merge that supersedes it falls inside "
    "the sink's RETAIN_S retention window "
    "(tests/test_time_travel.py pins expiry beyond it)",
)
def q_upsert_time_travel_stats(spark, sf_dir):
    from realtime_data_pipeline_spark.scratch import scratch_dir

    from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    half = ev.where(F.col("ts") < F.lit(_TT_CUT).cast("timestamp_ntz"))
    v1 = half.groupBy("user_id").agg(F.count("*").alias("n_events"))
    v2 = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))

    tbl = UpsertTable(spark, scratch_dir(prefix="rdp_tt_"), key_cols=["user_id"])
    s1 = tbl.merge(v1)  # kind "empty" iff v1 had zero rows (no snapshot)
    tbl.merge(v2)

    def _snap(df, label):
        return df.select(
            F.lit(label).alias("snapshot"), "user_id", "n_events"
        )

    def _empty(label):
        # an UpsertTable that never saw a row reads back as None — the
        # correct result is the 0-row frame with the READ-BACK schema
        # (parquet makes data columns nullable, unlike count())
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("snapshot", T.StringType(), False),
                    T.StructField(
                        "user_id", v1.schema["user_id"].dataType, True
                    ),
                    T.StructField("n_events", T.LongType(), True),
                ]
            ),
        )

    old_df = tbl.read(version=s1.version) if s1.kind != "empty" else None
    cur_df = tbl.read()
    old = _snap(old_df, "v1") if old_df is not None else _empty("v1")
    cur = _snap(cur_df, "current") if cur_df is not None else _empty("current")
    return old.unionByName(cur)


# ---------------------------------------------------------------------------
# Spark 4 custom Python DataSource (sources/pydatasource.py)
# ---------------------------------------------------------------------------

_PYDS_N = 1000


@register(
    "pyds_synthetic_sample",
    f"""
    WITH g AS (SELECT i AS event_id,
                      ('0x' || substr(md5(CAST(i AS VARCHAR) || ':t'), 1, 8))
                          ::BIGINT % 5 AS tix,
                      ('0x' || substr(md5(CAST(i AS VARCHAR) || ':v'), 1, 8))
                          ::BIGINT % 10000 AS vraw
               FROM range({_PYDS_N}) r(i)),
    e AS (SELECT event_id,
                 ['view', 'click', 'purchase', 'signup', 'error'][tix + 1]
                     AS event_type,
                 CAST(vraw AS DOUBLE) / 100.0 AS value
          FROM g)
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE), 2)
                AS DOUBLE) AS total_value,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM e GROUP BY event_type
    """,
    doc="Spark 4 custom Python DataSource end to end "
    "(sources/pydatasource.py — the reference producer as a "
    "spark.read.format() source): every field an md5-derived pure "
    "function of the event id, so the oracle recomputes the generator "
    "in SQL and the hash proves the DATA SOURCE CONTRACT itself — "
    "partition planning (8 range partitions), per-partition Python "
    "reads, Arrow type mapping, and completeness (no partition "
    "dropped or double-read).  Rolled up per event type with the "
    "exact-decimal value total",
)
def q_pyds_synthetic_sample(spark, sf_dir):
    from realtime_data_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("numRows", _PYDS_N)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        )
        .cast("double")
        .alias("total_value"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
