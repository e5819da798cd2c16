"""Partitioned, shard-bucketed corpus writer — the materialization step
of the curation pipeline (write the curated dataset back out, laid out
for the next consumer).

The reference's only writers are Mongo upsert sinks
(/root/reference/consumer/consumer.py:147-174); a training-data
pipeline additionally needs a BATCH writer whose layout decisions are
what make the 100 TB read-side work:

  * directory partitioning on low-cardinality columns (`lang`,
    `source`) → partition PRUNING: a reader filtering on those columns
    never opens the other directories;
  * a deterministic hash shard as a SUB-PARTITION directory
    (`lang=en/shard=3/`) → bounded, uniform file count (`n_shards`
    leaf directories per partition, one writer task each — no
    tiny-file explosion, no straggler file) and a bucket-addressable
    layout (a keyed reader or merge touches only the shard dirs its
    keys hash to);
  * rows sorted by key within each file → parquet min/max row-group
    statistics are tight, so key-range predicates skip row groups
    (data skipping without any table format);
  * `maxRecordsPerFile` as the file-size backstop when a shard is
    still too big.

At 100 TB: `repartition(partition_cols…, shard)` is ONE shuffle that
simultaneously (a) co-locates each output file's rows on one task,
(b) bounds file count to partitions × n_shards, and (c) spreads write
work uniformly (md5-uniform shard).  The same layout is what a
bucketed reader joins against without re-shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SHARDS = 8
DEFAULT_MAX_RECORDS_PER_FILE = 5_000_000


def with_shard(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Deterministic uniform shard id from the md5 of the key (same
    selector family as plans/training.py — reproducible across runs,
    engines, and cluster sizes, unlike hash()/xxhash64 whose seeds are
    engine-private)."""
    h = F.md5(F.col(key).cast("string"))
    return df.withColumn(
        "shard", F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_shards
    )


def write_corpus(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = DEFAULT_SHARDS,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """Write `df` as a partitioned + sharded + key-sorted parquet layout.

    One shuffle: repartition on (partition_cols…, shard) puts each
    output file's rows on exactly one task; sortWithinPartitions orders
    rows by (partition_cols…, shard, key).  The partition columns MUST
    lead the sort: FileFormatWriter requires task rows ordered by the
    dynamic-partition columns and inserts its own (non-stable) sort if
    they aren't — which would destroy the key order inside each file.
    With the partition prefix already sorted, the planner's requirement
    is satisfied and the key sort survives into the row groups.
    """
    out = with_shard(df, key, n_shards)
    (
        out.repartition(*[F.col(c) for c in partition_cols], F.col("shard"))
        .sortWithinPartitions(*partition_cols, "shard", key)
        .write.partitionBy(*partition_cols, "shard")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(path)
    )


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read the layout back.  Filters on the partition columns become
    PartitionFilters (directory pruning — asserted by
    tests/test_writer.py on the explain output), filters on `key`
    reach the scan as PushedFilters and skip row groups via the
    within-file sort."""
    return spark.read.parquet(path)


def write_corpus_jsonl(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    key: str = "doc_id",
    n_shards: int = DEFAULT_SHARDS,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    compression: str | None = "gzip",
) -> None:
    """Same layout as write_corpus, materialized as JSON-lines — the
    interchange format training loaders and annotation tools consume
    directly.  Identical single-shuffle shape (partition dirs + shard
    dirs + key-sorted lines within each file); parquet stays the
    analytical format, this is the EXPORT path.  Compression is
    per-file (gzip default), so a shard file is still one atomic
    streamable unit."""
    out = with_shard(df, key, n_shards)
    wtr = (
        out.repartition(*[F.col(c) for c in partition_cols], F.col("shard"))
        .sortWithinPartitions(*partition_cols, "shard", key)
        .write.partitionBy(*partition_cols, "shard")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
    )
    if compression:
        wtr = wtr.option("compression", compression)
    wtr.json(path)


def read_corpus_jsonl(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Read a JSONL corpus back.  Pass the declared schema whenever it
    is known (FIXTURES.md discipline — schema inference is a full
    extra pass over 100 TB); partition-column filters still prune
    directories exactly as in the parquet layout."""
    rdr = spark.read
    if schema is not None:
        rdr = rdr.schema(schema)
    return rdr.json(path)


# CSV interchange contract: the exact option set (both directions)
# that makes the round trip LOSSLESS for arbitrary text payloads.
# Every entry is load-bearing:
#   * escape='"'            — RFC-4180 doubled-quote escaping (Spark's
#                             default escape is backslash, which
#                             external CSV readers misparse);
#   * nullValue='\\N'       — a distinct NULL marker, so NULL and ''
#                             survive as different values (the classic
#                             CSV lossy edge: by default both write as
#                             an empty field);
#   * emptyValue (write)='""' / (read)='' — quoted empty field reads
#                             back as '', unquoted as NULL;
#   * ignore*WhiteSpace=False (write) — Spark's CSV WRITER trims
#                             whitespace-only fields by default
#                             (reader does not), silently corrupting
#                             '   ' payloads;
#   * multiLine=True (read)  — quoted embedded newlines.
CSV_WRITE_OPTS = {
    "header": True,
    "escape": '"',
    "nullValue": "\\N",
    "emptyValue": '""',
    "ignoreLeadingWhiteSpace": False,
    "ignoreTrailingWhiteSpace": False,
}
CSV_READ_OPTS = {
    "header": True,
    "escape": '"',
    "nullValue": "\\N",
    "emptyValue": "",
    "multiLine": True,
}


def write_corpus_csv(
    df: DataFrame,
    path: str,
    key: str = "doc_id",
    n_shards: int = DEFAULT_SHARDS,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
    compression: str | None = "gzip",
) -> None:
    """The corpus as headered CSV shards — the interchange format for
    spreadsheet-adjacent consumers and legacy loaders.  Same
    single-shuffle shard layout as write_corpus_jsonl: partitionBy is
    applied ONLY to the derived, never-empty `shard` key (output lands
    in shard=N/ subdirectories), and no DATA column (lang, source, …)
    is ever a partition key — which is how the Hive layout's
    ''-collapses-to-NULL edge is sidestepped: every data value,
    including an empty-string lang, rides inside the CSV rows and
    round-trips losslessly (see CSV_WRITE_OPTS).  multiLine=True on the read side
    means a gzip shard is decompressed as one unit — which it is
    anyway (gzip is not splittable); for a splittable CSV export use
    compression=None and forbid embedded newlines upstream."""
    out = with_shard(df, key, n_shards)
    wtr = (
        out.repartition(F.col("shard"))
        .sortWithinPartitions("shard", key)
        .write.partitionBy("shard")
        .options(**CSV_WRITE_OPTS)
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
    )
    if compression:
        wtr = wtr.option("compression", compression)
    wtr.csv(path)


def read_corpus_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a CSV corpus back.  The declared schema is REQUIRED (CSV
    carries no types at all — inference would both cost a full pass
    and guess wrong on e.g. '\\N literal' strings)."""
    return spark.read.schema(schema).options(**CSV_READ_OPTS).csv(path)
