"""SparkSession factory and runtime tuning.

The reference pins a tiny fixed footprint (local[*], 4 shuffle
partitions, 2-core executor — /root/reference/consumer/consumer.py:32-44).
We keep its intent (explicit parallelism, bounded state) but default to
a scale-ready posture: AQE with runtime partition coalescing and skew
join handling, UTC session timezone, Arrow-accelerated pandas
interchange.  On a real cluster the same code runs unchanged — only
`master` and the partition count change.

Streaming checkpoints (every query's offset log, commit log, file-source
log and state-store files) are committed through Hadoop's FileSystem
API.  Spark's default goes through FileContext, which on an install
without Hadoop's native library forks helper processes for every file
it commits; a query commits four such files per trigger, so that cost
sat in every micro-batch.  The conf is in `RUNTIME_CONFS`, so the
builder sets it and `tune` applies it to a driver-owned session; the
comment there gives the figures and the one semantic difference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to apply to an existing session at runtime
# (SQLConf, not static). Applied by `tune` to driver-provided sessions.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark refuses by
    # default; read as long ns and convert explicitly (tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # ones — the main lever that keeps one plan valid from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp rendering (testdata is naive/NTZ anyway).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas interchange / pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # S6 (reference consumer/consumer.py:96): commit Kafka source offsets
    # back to the group on stop — a Kafka-connector-facing conf, inert
    # without a broker but part of the reference's contract.
    "spark.sql.streaming.kafka.commitOffsetsOnStop": "true",
    # S9 (reference consumer/consumer.py:39-43): checkpoint/state
    # retention as CONFIG, which is what makes the reference's
    # cleanup_checkpoints.py scripts unnecessary in this engine.
    "spark.sql.streaming.minBatchesToRetain": "20",
    "spark.sql.streaming.maxBatchesToRetain": "100",
    "spark.sql.streaming.stateStore.compression.codec": "lz4",
    # Commit streaming checkpoint files (offset log, commit log,
    # file-source log, HDFS-backed state-store files) through Hadoop's
    # FileSystem API.  Spark's default manager goes through FileContext,
    # which without Hadoop's native library (NativeCodeLoader not
    # loaded) forks helper processes (stat, readlink, chmod, bash) for
    # every file: about 8 per file, and 31 ms per tiny file against
    # 7 ms (about 2 processes) here.  A query commits four such files
    # per trigger.  The one semantic difference: this manager replaces
    # a file by `rename`.  On a local filesystem rename(2) replaces
    # atomically; on HDFS an overwriting rename fails and Spark keeps
    # the file already there.  Only state-store files are written with
    # overwrite allowed, and a retried version rewrites the same
    # content.  This engine checkpoints to local disk.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def _norm_jvm_mem(value: str) -> str:
    """Normalize a memory size for use as a JVM -Xms/-Xmx flag.

    `spark.driver.memory` accepts a bare number and reads it as MiB,
    but `-Xms1500` means 1500 BYTES — interpolating the env value
    verbatim into extraJavaOptions made such a value fail JVM launch
    (ADVICE r8).  Bare digits get an 'm' suffix; anything that is not
    digits-plus-one-of-k/m/g/t (JVM-legal units — 't' included per
    ADVICE r9: '1t' is a plausible 100 TB-cluster driver size) raises
    rather than producing a flag the JVM will reject at a distance.
    """
    v = value.strip().lower()
    if v.isdigit():
        return v + "m"
    if v and v[-1] in "kmgt" and v[:-1].isdigit():
        return v
    raise ValueError(
        f"SPARK_GRAFT_DRIVER_MEM={value!r} is not a JVM heap size "
        "(expected digits with an optional k/m/g/t suffix, e.g. '8g')"
    )


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing (possibly driver-owned) session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it instead
    return spark


def get_spark(
    app_name: str = "realtime_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    n = shuffle_partitions or default_parallelism()
    master = master or f"local[{default_parallelism()}]"
    driver_mem = _norm_jvm_mem(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", driver_mem)
        # Pin the heap floor to the ceiling — the standard posture for
        # long-running Spark executors: Java 17's G1 otherwise
        # uncommits idle heap back to the OS between query bursts and
        # re-faults (kernel-zeroes) it on the next allocation spike,
        # adding recurring sys-time to whatever query runs next.  (Not
        # a cure-all: a shared host's memory-reclaim storms — sys >>
        # user with steal blips — hit pinned heaps too.)
        # Only effective when THIS process launches the gateway JVM —
        # a silent no-op on an already-running session, by design.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
