"""Streaming corpus-append sink (streaming/corpus_sink.py): exactly-
once materialization into the partitioned lake layout.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from realtime_data_pipeline_spark.streaming.corpus_sink import (
    corpus_append_sink,
    read_corpus_stream_output,
    start_corpus_append_query,
)
from realtime_data_pipeline_spark.tables import load_table

from conftest import SF_DIR

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture()
def replayed(spark, tmp_path):
    """documents replayed through the streaming sink in 2 micro-batches."""
    import time

    docs = load_table(spark, SF_DIR, "documents")
    replay = str(tmp_path / "replay")
    half = docs.where(F.col("doc_id") % 2 == 0)
    half.coalesce(1).write.mode("overwrite").parquet(replay)
    time.sleep(1.1)  # distinct mtime → second file, second batch
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(replay)

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    out = str(tmp_path / "corpus")
    q = start_corpus_append_query(
        stream, out, str(tmp_path / "ckpt"), "corpus_append",
        n_shards=4, trigger_available_now=True,
    )
    q.awaitTermination(180)
    return docs, out


def test_every_doc_lands_exactly_once(spark, replayed):
    docs, out = replayed
    got = read_corpus_stream_output(spark, out)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()
    # content round-trips
    want = {(r.doc_id, r.text) for r in docs.collect()}
    have = {(r.doc_id, r.text) for r in got.select("doc_id", "text").collect()}
    assert have == want


def test_partition_pruning_survives_batch_level(spark, replayed):
    _, out = replayed
    q = read_corpus_stream_output(spark, out).where(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:1500]


def test_batch_replay_is_idempotent(spark, replayed):
    """Re-delivering a batch id rewrites its subtree instead of
    duplicating documents (the crash-replay contract)."""
    docs, out = replayed
    sink = corpus_append_sink(out, n_shards=4)
    before = read_corpus_stream_output(spark, out).count()
    sink(load_table(spark, SF_DIR, "documents").where(F.col("doc_id") % 2 == 0), 0)
    after = read_corpus_stream_output(spark, out).count()
    assert after == before


def test_compaction_consolidates_without_loss(spark, replayed):
    import os

    from realtime_data_pipeline_spark.streaming.corpus_sink import compact_corpus

    docs, out = replayed
    compacted = out + "_compacted"
    compact_corpus(spark, out, compacted, n_shards=4)

    got = spark.read.parquet(compacted)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()

    def _parts(root):
        return sum(
            1
            for r, _, fs in os.walk(root)
            for f in fs
            if f.startswith("part-") and f.endswith(".parquet")
        )

    # O(batches x shards) fragments fold into O(shards) files
    assert _parts(compacted) < _parts(out)
    # pruning layout intact (no batch level anymore)
    q = got.where(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:1500]


def test_fold_batches_consolidates_in_place_exactly_once(spark, replayed):
    """Routine fold: committed batch subtrees collapse into one
    generation dir, sources deleted, every doc still present exactly
    once, partition pruning intact."""
    import os

    from realtime_data_pipeline_spark.streaming.corpus_sink import (
        fold_batches,
    )

    docs, out = replayed
    n = docs.count()
    folded = fold_batches(spark, out, upto_batch=10, n_shards=4)
    assert folded == 2  # both streaming batches
    entries = sorted(e for e in os.listdir(out) if e.startswith("batch="))
    assert entries == ["batch=-1"], entries
    got = read_corpus_stream_output(spark, out)
    assert got.count() == n
    assert got.select("doc_id").distinct().count() == n
    # pruning: a lang filter is still a PartitionFilter over the
    # folded layout (same assertion as the pre-fold pruning test)
    q = got.where(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:1500]


def test_fold_batches_tiers_generations(spark, tmp_path):
    """Generations accumulate one per fold until max_gens, then a full
    fold collapses them — the LSM amortization (sinks.py STACK_MAX
    mirrored on the append-only path).  Counts preserved throughout."""
    import os

    from realtime_data_pipeline_spark.operators import writer
    from realtime_data_pipeline_spark.streaming.corpus_sink import (
        _fold_manifest,
        fold_batches,
    )

    out = str(tmp_path / "corpus")
    total = 0

    def _write_batch(bid, lo, hi):
        nonlocal total
        df = spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("text"),
            (F.col("id") % 2).cast("string").alias("lang"),
        )
        writer.write_corpus(df, f"{out}/batch={bid}", n_shards=2)
        total += hi - lo

    bid = 0
    for fold_round in range(3):
        for _ in range(2):
            _write_batch(bid, bid * 10, bid * 10 + 10)
            bid += 1
        assert fold_batches(spark, out, upto_batch=bid, n_shards=2,
                            max_gens=2) == 2 + (2 if fold_round == 2 else 0)
    m = _fold_manifest(out)
    # fold 3 found max_gens=2 generations and collapsed them: one gen
    assert m["gens"] == [3], m
    assert sorted(
        e for e in os.listdir(out) if e.startswith("batch=")
    ) == ["batch=-3"]
    got = spark.read.parquet(out)
    assert got.count() == total
    assert got.select("doc_id").distinct().count() == total


def test_fold_batches_crash_heal_paths(spark, tmp_path):
    """Both crash windows heal on the next call: an orphan generation
    dir missing from the manifest is removed (its sources are still
    present — exactly-once preserved), and a committed manifest with
    pending deletions replays them."""
    import json
    import os
    import shutil

    from realtime_data_pipeline_spark.operators import writer
    from realtime_data_pipeline_spark.streaming.corpus_sink import (
        _FOLDS,
        fold_batches,
    )

    out = str(tmp_path / "corpus")
    for bid in (0, 1):
        df = spark.range(bid * 10, bid * 10 + 10).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("text"),
            F.lit("en").alias("lang"),
        )
        writer.write_corpus(df, f"{out}/batch={bid}", n_shards=2)
    # crash window 1: gen dir written, manifest never committed
    shutil.copytree(f"{out}/batch=0", f"{out}/batch=-1")
    assert fold_batches(spark, out, upto_batch=1, n_shards=2) == 2
    got = spark.read.parquet(out)
    assert got.count() == 20  # the orphan did NOT double batch 0
    assert got.select("doc_id").distinct().count() == 20
    # crash window 2: manifest committed, source deletion pending
    df = spark.range(100, 110).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
    )
    writer.write_corpus(df, f"{out}/batch=5", n_shards=2)
    m = json.load(open(os.path.join(out, _FOLDS)))
    m["pending_delete"] = ["batch=5"]  # pretend 5 was folded pre-crash
    json.dump(m, open(os.path.join(out, _FOLDS), "w"))
    fold_batches(spark, out, upto_batch=5, n_shards=2)
    got = spark.read.parquet(out)
    assert got.count() == 20  # pending deletion replayed before folding
