"""Streaming → corpus-layout materialization: append micro-batches of
curated documents into the partitioned + sharded + key-sorted lake
layout (`operators/writer.write_corpus`), idempotently.

Complements the keyed-upsert sink: `UpsertTable` maintains MUTABLE
aggregate state (last write wins per key); this sink materializes an
APPEND-ONLY corpus — each document lands exactly once, already laid
out for the 100 TB read side (partition pruning on lang/source, shard
dirs for bounded file counts, key-sorted row groups).

Idempotence: each micro-batch writes to its own `batch=<id>/` subtree
with overwrite semantics, so a checkpoint replay of batch N rewrites
`batch=N/` byte-for-byte instead of duplicating documents — the same
batch-keyed-overwrite contract as `streaming/incremental_dedup.py`.
The `batch` directory level is just another partition column to the
reader; filters on `lang`/`source` still prune directories underneath
it (asserted by tests/test_corpus_sink.py on PartitionFilters).

At scale the batch= level is ALSO what makes retention cheap: expiring
old data is `rm -r batch=<k>` for committed batch ranges — no rewrite.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from realtime_data_pipeline_spark.operators import writer

_FOLDS = "_FOLDS.json"  # underscore prefix: invisible to Spark's file index


def corpus_append_sink(
    out_dir: str,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = writer.DEFAULT_SHARDS,
):
    """foreachBatch hook: write each micro-batch into
    `<out_dir>/batch=<id>/` in the corpus layout (overwrite → replay-
    idempotent)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        writer.write_corpus(
            batch_df,
            f"{out_dir}/batch={batch_id}",
            partition_cols=partition_cols,
            key=key,
            n_shards=n_shards,
        )

    return _sink


def start_corpus_append_query(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = writer.DEFAULT_SHARDS,
    trigger_available_now: bool = False,
):
    wtr = (
        docs_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            corpus_append_sink(out_dir, partition_cols, key, n_shards)
        )
    )
    if trigger_available_now:
        wtr = wtr.trigger(availableNow=True)
    return wtr.start()


def read_corpus_stream_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the materialized corpus back; `batch` appears as one more
    partition column and lang/source filters still prune directories."""
    return spark.read.parquet(out_dir)


def compact_corpus(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = writer.DEFAULT_SHARDS,
) -> None:
    """Maintenance: fold the streaming output's `batch=<id>/` subtrees
    into one consolidated corpus layout (no batch level).

    Streaming appends optimize for ingest latency and replay safety;
    the read side wants few, large, key-sorted files.  Compaction is
    the standard background job that converts one into the other:
    read everything (the batch column is dropped), re-shard, rewrite —
    the same single-shuffle write as `write_corpus`, so file count
    drops from O(batches x shards) to O(shards) and row-group key
    sorting is restored across what were per-batch fragments.  At
    100 TB this runs per partition (e.g. per lang, or per day dir)
    rather than whole-corpus — the input path IS the unit of work.
    """
    docs = spark.read.parquet(in_dir).drop("batch", "shard")
    writer.write_corpus(
        docs,
        out_dir,
        partition_cols=partition_cols,
        key=key,
        n_shards=n_shards,
    )


def _fold_manifest(out_dir: str) -> dict:
    try:
        with open(os.path.join(out_dir, _FOLDS)) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return {"gen_counter": 0, "gens": [], "pending_delete": []}


def _write_fold_manifest(out_dir: str, m: dict) -> None:
    tmp = os.path.join(out_dir, _FOLDS + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, os.path.join(out_dir, _FOLDS))


def fold_batches(
    spark: SparkSession,
    out_dir: str,
    upto_batch: int,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = writer.DEFAULT_SHARDS,
    max_gens: int = 8,
) -> int:
    """In-place maintenance fold: consolidate COMMITTED streaming
    subtrees `batch=0..upto_batch` into one generation directory
    `batch=-<g>` (negative ids can never collide with streaming batch
    ids), deleting the folded sources — file count drops from
    O(batches x langs x shards) to O(langs x shards) per generation
    while the read path stays a plain parquet scan with the same
    partition pruning.

    Tiered like the upsert sink's leaf stacks (sinks.py STACK_MAX):
    a routine fold touches only the NEW batch dirs since the last fold
    — O(fold period) I/O regardless of table size — and once
    `max_gens` generations accumulate, ONE fold also folds the
    generations themselves.  Amortized per-batch maintenance cost is
    O(table / (period x max_gens)), the LSM bound, instead of the
    rewrite-everything-per-fold O(table).

    Only pass a COMMITTED `upto_batch` (inside foreachBatch for batch
    N, N-1 and older are committed): a checkpoint replay rewrites its
    own still-present `batch=<id>/` subtree and never touches folds.

    Crash safety mirrors the upsert sink's pending-delete ledger: the
    fold writes to an underscore-temp (invisible to readers), renames
    into place, commits the new generation list to `_FOLDS.json`, THEN
    deletes sources.  A crash before the manifest commit leaves an
    orphan generation dir that the next call removes (sources intact
    — exactly-once preserved); a crash after it leaves duplicates
    visible until the next call replays the pending deletions, so
    crash recovery should call fold_batches (any upto) before
    trusting reads — the VACUUM-grace contract.

    Returns the number of source directories folded (0 = no-op)."""
    m = _fold_manifest(out_dir)
    # heal: replay pending deletions, drop uncommitted fold leftovers
    for d in m["pending_delete"]:
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    if m["pending_delete"]:
        m["pending_delete"] = []
        _write_fold_manifest(out_dir, m)
    shutil.rmtree(os.path.join(out_dir, "_fold_tmp"), ignore_errors=True)
    try:
        entries = os.listdir(out_dir)
    except FileNotFoundError:
        return 0
    known_gens = {f"batch=-{g}" for g in m["gens"]}
    for e in entries:
        if e.startswith("batch=-") and e not in known_gens:
            # gen dir written but never committed to the manifest: the
            # fold crashed pre-commit, its sources are still present
            shutil.rmtree(os.path.join(out_dir, e), ignore_errors=True)

    sources = [
        e
        for e in entries
        if e.startswith("batch=")
        and not e.startswith("batch=-")
        and int(e.split("=", 1)[1]) <= upto_batch
    ]
    full = len(m["gens"]) >= max_gens
    if full:
        sources += sorted(known_gens)
    if not sources:
        return 0
    # basePath keeps partition discovery rooted at the table even
    # though only the fold's source subtrees are listed; batch/shard
    # are dropped (write_corpus re-derives shard, the fold IS the new
    # batch identity)
    docs = (
        spark.read.option("basePath", out_dir)
        .parquet(*[os.path.join(out_dir, s) for s in sources])
        .drop("batch", "shard")
    )
    g = m["gen_counter"] + 1
    tmp = os.path.join(out_dir, "_fold_tmp")
    writer.write_corpus(
        docs, tmp, partition_cols=partition_cols, key=key, n_shards=n_shards
    )
    os.rename(tmp, os.path.join(out_dir, f"batch=-{g}"))
    m = {
        "gen_counter": g,
        "gens": [g] if full else m["gens"] + [g],
        "pending_delete": sources,
    }
    _write_fold_manifest(out_dir, m)
    for s in sources:
        shutil.rmtree(os.path.join(out_dir, s), ignore_errors=True)
    m["pending_delete"] = []
    _write_fold_manifest(out_dir, m)
    return len(sources)
