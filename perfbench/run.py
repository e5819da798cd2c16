"""perfbench: the repository benchmark, as one command.

    python3 perfbench/run.py --workload replay_drain --seed 1 --seconds 10 --trace 0

Runs one workload on local[nproc] from this process, checks the
program's outputs against reference computations outside the timed
region, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end metrics (untraced run); with --trace 1 the
per-layer metrics, taken from spans recorded around calls into the
program's layers.  The line before it is a report with the run
metadata and every figure by its workload-specific name; the same
report and, for traced runs, the spans are written under
perfbench/results/.  README.md here maps every metric to its layer.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen, stats  # noqa: E402

KEYS = ("user_id", "item_id")
SETUP_REPEATS = 3
# A paced file whose freshness exceeds this is a failed operation.
FRESHNESS_LIMIT_MS = 15_000.0
# A file the pacer moved later than this after its due time is a
# failed operation: the offered load was not the one specified.
PACER_LATE_LIMIT_MS = 500.0
PACER_LEAD_S = 0.5  # pacer start -> first due time
# The dashboard refreshes at least this often in replay_drain, however
# long the drain took, so the refresh latency has a median of its own.
MIN_REFRESHES = 3
PACE_INTERVAL_S = 0.125  # one file every 125 ms
PACE_EVENTS_PER_FILE = 250  # 2000 events/s offered
PACE_CLOCK = 900.0  # event-time seconds per wall second
REGISTRY_QUERIES = (("sliding_user_counts", "user_id"), ("sliding_item_counts", "item_id"))

# Files per micro-batch in replay_drain: two 5,000-event files make the
# reference consumer's 10,000-offset cap per batch, so windows finalize
# over several batches and the sink's merges stack leaves.
REPLAY_FILES_PER_TRIGGER = 2
# The Spark driver heap (-Xms = -Xmx), set outright so every run uses
# the same configuration.  The program defaults to 8g; the benchmark
# uses 2g, which its inputs fit in (peak RSS about 2.7 GB), so that runs
# on a host shared with other work stay well inside its memory.
DRIVER_MEM = "2g"

REPLAY = gen.Shape(files=6, events_per_file=5000, file_span_s=240.0, zipf=None,
                   late_share=0.1, max_delay_s=180.0)
WARM = gen.Shape(files=1, events_per_file=1000, file_span_s=60.0, zipf=None,
                 late_share=0.1, max_delay_s=60.0)

SPARK_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
    "spark.ui.retainedJobs": "10000",
}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "events_per_s": "1/s",
    "latency_ms_p50": "ms",
    "latency_ms_tail": "ms",
}
PANEL_NAMES = ("avg_interactions", "interaction_extrema", "top_rows",
               "latest_window_top", "recent_rows")
PER_LAYER = {
    "gen.late_ms_max": "ms", "gen.files": "count", "gen.events": "count",
    "pipeline.trigger_ms_p50": "ms", "pipeline.planning_ms_p50": "ms",
    "pipeline.get_batch_ms_p50": "ms", "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms", "pipeline.add_batch_ms_p50": "ms",
    "pipeline.rows_per_batch_p50": "count", "pipeline.batches": "count",
    "state.rows_max": "count", "state.mem_bytes_max": "bytes",
    "state.update_ms_p50": "ms", "state.removal_ms_p50": "ms",
    "state.commit_ms_p50": "ms", "state.dropped_by_watermark": "count",
    "sinks.merge_ms_p50": "ms", "sinks.merge_ms_max": "ms", "sinks.merges": "count",
    "sinks.jobs_per_merge": "count", "sinks.fast_bucket_share": "share",
    "sinks.leaves_final": "count", "sinks.bytes_written": "bytes",
    "sinks.read_ms_p50": "ms",
    **{f"kpis.{p}_ms": "ms" for p in PANEL_NAMES},
    "kpis.jobs_per_refresh": "count",
    **{f"registry.{q}.{m}": u for q, _ in REGISTRY_QUERIES
       for m, u in (("construct_ms", "ms"), ("execute_ms", "ms"), ("jobs", "count"))},
    "trace.overhead_ms": "ms", "trace.spans": "count",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- the program under test -------------------------------------------------


def start_session(n: int):
    from realtime_data_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{n}]",
                     shuffle_partitions=n, extra_confs=SPARK_CONFS)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_CURRENT")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _leaves(entry) -> list:
    if entry is None:
        return []
    return list(entry) if isinstance(entry, list) else [entry]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def merge_layout(before: dict | None, after: dict | None, path: str) -> dict:
    """What one UpsertTable merge did, read from the table manifest:
    buckets touched, buckets appended to (a new bucket or one more
    leaf on the stack) rather than rewritten, bytes written."""
    if after is None or (before is not None and after["version"] == before["version"]):
        return {"touched": 0, "appended": 0, "bytes": 0}
    old = before["buckets"] if before else {}
    touched = appended = 0
    for bucket, entry in after["buckets"].items():
        prev = old.get(bucket)
        if prev == entry:
            continue
        touched += 1
        if _leaves(entry)[:-1] == _leaves(prev):
            appended += 1
    written = _dir_bytes(os.path.join(path, f"v={after['version']}"))
    return {"touched": touched, "appended": appended, "bytes": written}


def instrument(table, tracer) -> None:
    """Timing proxy around one UpsertTable's merge and read."""
    merge, read = table.merge, table.read

    def traced_merge(batch):
        t = time.perf_counter()
        before = _manifest(table.path)
        tracer.add_overhead(time.perf_counter() - t)
        with tracer.span("sinks.merge") as attrs:
            merge(batch)
        t = time.perf_counter()
        attrs.update(merge_layout(before, _manifest(table.path), table.path))
        tracer.add_overhead(time.perf_counter() - t)

    def traced_read(version=None):
        with tracer.span("sinks.read"):
            return read(version)

    table.merge, table.read = traced_merge, traced_read


def start_pipeline(spark, in_dir: Path, work: Path, available_now: bool, tracer,
                   files_per_trigger: int | None = None):
    """The reference consumer's two concurrent queries: JSON lines ->
    parse_events -> windowed_stream_counts -> keyed upsert.  Without
    `files_per_trigger`, a batch reads every file that has arrived."""
    from realtime_data_pipeline_spark.streaming.pipeline import (
        parse_events,
        windowed_stream_counts,
    )
    from realtime_data_pipeline_spark.streaming.sinks import UpsertTable, start_upsert_query

    queries, tables = [], []
    with tracer.span("pipeline.start"):
        reader = spark.readStream
        if files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        events = parse_events(reader.text(str(in_dir)))
        for key in KEYS:
            table = UpsertTable(spark, str(work / f"table_{key}"),
                                ["window_start", "window_end", key],
                                monotone_col="window_start")
            if tracer.enabled:
                instrument(table, tracer)
            queries.append(start_upsert_query(
                windowed_stream_counts(events, key), table,
                str(work / f"ckpt_{key}"), f"perfbench_{key}",
                trigger_available_now=available_now))
            tables.append(table)
    return queries, tables


def _panels():
    from realtime_data_pipeline_spark.operators import kpis

    return (
        ("avg_interactions", lambda df, key: kpis.avg_interactions(df)),
        ("interaction_extrema", lambda df, key: kpis.interaction_extrema(df)),
        ("top_rows", kpis.top_rows),
        ("latest_window_top", kpis.latest_window_top),
        ("recent_rows", kpis.recent_rows),
    )


def refresh(tables, tracer, latencies_ms: list[float]) -> list[list[tuple]]:
    """One dashboard refresh (A3-A6, T1-T3 over both tables).  It reads
    each table's current snapshot once, so its panels agree with each
    other, and collects every panel over it; each panel's latency
    (without the read) is appended to `latencies_ms`."""
    out = []
    for key, table in zip(KEYS, tables):
        df = table.read()
        for name, panel in _panels():
            t0 = time.perf_counter()
            with tracer.span(f"kpis.{name}"):
                rows = [tuple(r) for r in panel(df, key).collect()]
            latencies_ms.append((time.perf_counter() - t0) * 1000.0)
            out.append(rows)
    return out


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def source_log_offsets(checkpoint: Path) -> dict[str, int]:
    """File name -> the file source's log offset (the micro-batch's
    source offset) that listed it, from the query checkpoint."""
    out = {}
    log_dir = checkpoint / "sources" / "0"
    for entry in sorted(log_dir.iterdir()):
        if entry.name.startswith("."):
            continue
        with open(entry) as f:
            for line in f.read().splitlines()[1:]:  # first line: log version
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


# -- setup ---------------------------------------------------------------


def warm_up(spark, work: Path, payloads: list[bytes], sentinel: bytes) -> list:
    """A tiny drain through both queries: loads classes, compiles the
    pipeline's code paths.  Returns the two tables it wrote."""
    in_dir = work / "in"
    gen.write_files(payloads, str(in_dir), "w")
    (in_dir / "zz_sentinel.json").write_bytes(sentinel)
    queries, tables = start_pipeline(spark, in_dir, work, True, stats.NullTracer())
    for q in queries:
        q.awaitTermination()
    return tables


def setup(n: int, work: Path, seed: int):
    """Session start plus warm-up, SETUP_REPEATS times.  The first one
    also launches the JVM and runs the dashboard's panels over one table
    (the other table's panels run the same code); loaded classes and
    compiled code outlive a session, so later rounds skip the panels.
    Returns the last session and the times."""
    ev = gen.make_events(WARM, seed)
    payloads, sentinel = gen.render(ev), gen.render_sentinel(ev)
    spark, times = None, []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(n)
        tables = warm_up(spark, work / f"warm{i}", payloads, sentinel)
        if i == 0:
            df = tables[0].read()
            for _, panel in _panels():
                panel(df, KEYS[0]).collect()
        times.append(time.perf_counter() - t0)
    return spark, times


# -- workloads -----------------------------------------------------------


def prepare_replay(seed: int, seconds: int, work: Path) -> dict:
    ev = gen.make_events(REPLAY, seed)
    in_dir = work / "in"
    files = gen.write_files(gen.render(ev), str(in_dir), "f")
    # the sentinel sorts last and lands in the same drain
    (in_dir / "zz_sentinel.json").write_bytes(gen.render_sentinel(ev))
    gen.write_events_parquet(ev, str(work / "sf"))
    return {"events": ev, "files": files, "in_dir": in_dir}


def measure_replay(spark, inp: dict, tracer, seconds: int, work: Path) -> dict:
    """Closed loop: drain the backlog with availableNow, at most
    REPLAY_FILES_PER_TRIGGER files per batch, then one dashboard client
    refreshes back to back until `seconds` after the drain started, and
    at least MIN_REFRESHES times.  The timed operation is the whole
    refresh."""
    pid = jvm_pid()
    t0 = time.perf_counter()
    with tracer.set_root("drain"):
        queries, tables = start_pipeline(spark, inp["in_dir"], work, True, tracer,
                                         REPLAY_FILES_PER_TRIGGER)
        for q in queries:
            q.awaitTermination()
        drain_s = time.perf_counter() - t0
    panel_ms: list[float] = []
    refresh_ms: list[float] = []
    results = []
    with tracer.set_root("dashboard"):
        deadline = t0 + seconds
        while True:
            t = time.perf_counter()
            results.append(refresh(tables, tracer, panel_ms))
            refresh_ms.append((time.perf_counter() - t) * 1000.0)
            if len(refresh_ms) >= MIN_REFRESHES and time.perf_counter() >= deadline:
                break
    rss = peak_rss_mb(pid)
    n_events = int(inp["events"].ts_us.size)
    return {
        "queries": queries, "tables": tables, "rss": rss,
        "events_per_s": n_events / drain_s,
        "latency": refresh_ms,
        "refreshes": results,
        "file_ops": [],
        "gen": {"late_ms_max": 0.0, "files": len(inp["files"]), "events": n_events},
        "named": {"drain_events_per_s": n_events / drain_s, "drain_s": drain_s,
                  "panel_ms": stats.timing_summary(panel_ms),
                  "refresh_ms": stats.timing_summary(refresh_ms)},
    }


def paced_shape(seconds: int) -> gen.Shape:
    return gen.Shape(files=max(1, round(seconds / PACE_INTERVAL_S)),
                     events_per_file=PACE_EVENTS_PER_FILE,
                     file_span_s=PACE_INTERVAL_S * PACE_CLOCK, zipf=1.1,
                     late_share=0.1, max_delay_s=240.0)


def prepare_paced(seed: int, seconds: int, work: Path) -> dict:
    ev = gen.make_events(paced_shape(seconds), seed)
    staging = work / "staging"
    files = gen.write_files(gen.render(ev), str(staging), "f")
    (staging / "zz_sentinel.json").write_bytes(gen.render_sentinel(ev))
    in_dir = work / "in"
    in_dir.mkdir(parents=True)
    gen.write_events_parquet(ev, str(work / "sf"))
    return {"events": ev, "files": [str(in_dir / os.path.basename(f)) for f in files],
            "staging": staging, "in_dir": in_dir,
            "sentinel_ts_us": int(ev.ts_us.max()) + gen.SENTINEL_DELAY_S * 1_000_000}


def _await_watermark(queries, ts_us: int, timeout_s: float = 60.0) -> None:
    """Wait until every query has run a batch whose watermark has
    reached `ts_us` (the windows before it are then emitted).
    Progress reports the watermark in whole milliseconds."""
    target = gen.EPOCH.replace(tzinfo=datetime.timezone.utc).timestamp() + (ts_us // 1000) / 1e3
    deadline = time.time() + timeout_s
    for q in queries:
        while True:
            wm = [stats.parse_progress_time(p["eventTime"]["watermark"])
                  for p in progress(q) if p.get("eventTime", {}).get("watermark")]
            if wm and max(wm) >= target:
                break
            if time.time() > deadline:
                raise TimeoutError("watermark did not pass the sentinel flush")
            time.sleep(0.05)


def measure_paced(spark, inp: dict, tracer, seconds: int, work: Path) -> dict:
    """Open loop: a separate pacer process moves one pre-rendered file
    into the watched directory every PACE_INTERVAL_S; both queries
    run on the default trigger.  Freshness of a file runs from its due
    time until both queries committed the batch that consumed it."""
    pid = jvm_pid()
    work.mkdir(parents=True, exist_ok=True)
    names = [os.path.basename(f) for f in inp["files"]]
    queries, tables = start_pipeline(spark, inp["in_dir"], work, False, tracer)
    t0 = time.time() + PACER_LEAD_S
    schedule = {"t0": t0, "interval_s": PACE_INTERVAL_S,
                "moves": [[str(inp["staging"] / n), str(inp["in_dir"] / n)] for n in names]}
    sched_path, done_path = work / "schedule.json", work / "pacer.json"
    sched_path.write_text(json.dumps(schedule))
    with tracer.set_root("paced"):
        pacer = subprocess.Popen([sys.executable, str(BENCH / "pacer.py"),
                                  str(sched_path), str(done_path)])
        try:
            rc = pacer.wait(timeout=seconds + 60)
        finally:
            if pacer.poll() is None:
                pacer.kill()
                pacer.wait()
        if rc != 0:
            raise RuntimeError(f"pacer exited with {rc}")
        for q in queries:
            q.processAllAvailable()
    rss = peak_rss_mb(pid)
    runs = [progress(q) for q in queries]
    due = {n: t0 + i * PACE_INTERVAL_S for i, n in enumerate(names)}
    done = json.loads(done_path.read_text())["done"]
    late_ms = [(d - due[n]) * 1000.0 for n, d in zip(names, done)]
    offsets = [source_log_offsets(work / f"ckpt_{k}") for k in KEYS]
    fresh = stats.freshness_ms(due, offsets, [stats.batch_commits(r) for r in runs])
    # flush: the sentinel pushes the watermark past every real window
    with tracer.set_root("flush"):
        os.replace(inp["staging"] / "zz_sentinel.json", inp["in_dir"] / "zz_sentinel.json")
        _await_watermark(queries, inp["sentinel_ts_us"] - gen.WATERMARK_S * 1_000_000)
    file_ops = [
        (f"file:{n}", fresh[n] is not None and fresh[n] <= FRESHNESS_LIMIT_MS
         and late <= PACER_LATE_LIMIT_MS)
        for n, late in zip(names, late_ms)
    ]
    values = [v for v in fresh.values() if v is not None]
    if not values:
        raise RuntimeError("no paced file was committed by both queries")
    n_events = int(inp["events"].ts_us.size)
    # delivered throughput: first due time to the last commit of a file
    span_s = max(due[n] + f / 1000.0 for n, f in fresh.items() if f is not None) - t0
    return {
        "queries": queries, "tables": tables, "rss": rss,
        "events_per_s": n_events / span_s,
        "latency": values,
        "refreshes": [],
        "file_ops": file_ops,
        "gen": {"late_ms_max": max(late_ms), "files": len(names), "events": n_events},
        "named": {"freshness_ms": stats.timing_summary(values),
                  "freshness_ms_by_file": [fresh[n] for n in names],
                  "batches": [len(r) for r in runs],
                  "offered_events_per_s": PACE_EVENTS_PER_FILE / PACE_INTERVAL_S,
                  "delivered_events_per_s": n_events / span_s},
    }


WORKLOADS = {
    "replay_drain": (prepare_replay, measure_replay),
    "paced_ingest": (prepare_paced, measure_paced),
}


# -- correctness gate ----------------------------------------------------


def digest(df, key: str) -> tuple:
    """Row count, sum(total_interactions) and an order-insensitive
    hash of a window-count table."""
    from pyspark.sql import functions as F

    cols = [F.unix_micros(F.col(c).cast("timestamp")) for c in ("window_start", "window_end")]
    r = df.agg(
        F.count("*"),
        F.sum("total_interactions"),
        F.sum(F.xxhash64(*cols, F.col(key), F.col("total_interactions")).cast("decimal(38,0)")),
    ).first()
    return (int(r[0]), int(r[1] or 0), str(r[2]))


def oracle_mismatches(con, oracle_sql: str, parquet: str, columns: list[str]) -> int:
    """Rows in one result but not the other (as multisets): the
    registry query's output, written to `parquet`, against its DuckDB
    oracle."""
    cols = ", ".join(columns)
    mine = f"SELECT {cols} FROM read_parquet('{parquet}/*.parquet')"
    oracle = f"SELECT {cols} FROM ({oracle_sql}) q"
    return con.execute(
        f"SELECT count(*) FROM (({mine} EXCEPT ALL {oracle}) "
        f"UNION ALL ({oracle} EXCEPT ALL {mine}))"
    ).fetchone()[0]


def check_refreshes(refreshes: list[list[list[tuple]]], expected: list[list[tuple]]) -> list[tuple[str, bool]]:
    """One operation per dashboard panel run: its rows must equal the
    same panel over the batch reference."""
    return [
        (f"refresh{i}:panel{j}", j < len(expected) and rows == expected[j])
        for i, result in enumerate(refreshes)
        for j, rows in enumerate(result)
    ]


def gate(spark, files: list[str], sf_dir: Path, tables, refreshes, tracer) -> list[tuple[str, bool]]:
    """Check the program's outputs; every check is one operation
    (name, passed).  Stream tables must equal the batch window counts
    over the same events; each dashboard panel must equal the same KPI
    over that batch reference; the registry's window queries must
    equal the stream tables (by `digest`) and their DuckDB oracles."""
    import duckdb

    from realtime_data_pipeline_spark.plans.registry import REGISTRY
    from realtime_data_pipeline_spark.streaming.pipeline import (
        parse_events,
        windowed_stream_counts,
    )

    ops: list[tuple[str, bool]] = []
    with tracer.set_root("gate"):
        events = parse_events(spark.read.text(files))
        ref_digest, ref_panels = {}, []
        for key, table in zip(KEYS, tables):
            ref = windowed_stream_counts(events, key, watermark=None).persist()
            ref_digest[key] = digest(ref, key)
            ops.append((f"table:{key}", digest(table.read(), key) == ref_digest[key]))
            for name, panel in _panels():
                with tracer.span(f"kpis.{name}"):
                    ref_panels.append([tuple(r) for r in panel(ref, key).collect()])
            ref.unpersist()
        ops += check_refreshes(refreshes, ref_panels)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
            for name, key in REGISTRY_QUERIES:
                spec = REGISTRY[name]
                with tracer.span(f"registry.{name}.construct"):
                    df = spec.fn(spark, str(sf_dir))
                if tracer.enabled:  # only the traced run reports execution time
                    with tracer.span(f"registry.{name}.execute"):
                        df.write.format("noop").mode("overwrite").save()
                out = str(sf_dir / name)
                df.write.parquet(out)
                ops.append((f"registry:{name}=stream",
                            digest(spark.read.parquet(out), key) == ref_digest[key]))
                ops.append((f"registry:{name}=oracle",
                            oracle_mismatches(con, spec.oracle, out, sorted(df.columns)) == 0))
        finally:
            con.close()
    return ops


# -- metrics -------------------------------------------------------------


def _p50(xs) -> float:
    xs = list(xs)
    return float(stats.median(xs)) if xs else 0.0


def pipeline_metrics(runs: list[list[dict]]) -> dict:
    ps = [p for r in runs for p in r]
    state = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]

    def dur(k):
        return [p["durationMs"].get(k, 0) for p in ps]

    return {
        "pipeline.trigger_ms_p50": _p50(dur("triggerExecution")),
        "pipeline.planning_ms_p50": _p50(dur("queryPlanning")),
        "pipeline.get_batch_ms_p50": _p50(dur("getBatch")),
        "pipeline.wal_commit_ms_p50": _p50(dur("walCommit")),
        "pipeline.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "pipeline.add_batch_ms_p50": _p50(dur("addBatch")),
        "pipeline.rows_per_batch_p50": _p50(p["numInputRows"] for p in ps if p["numInputRows"]),
        "pipeline.batches": float(len(ps)),
        "state.rows_max": float(max((s["numRowsTotal"] for s in state), default=0)),
        "state.mem_bytes_max": float(max((s["memoryUsedBytes"] for s in state), default=0)),
        "state.update_ms_p50": _p50(s["allUpdatesTimeMs"] for s in state),
        "state.removal_ms_p50": _p50(s["allRemovalsTimeMs"] for s in state),
        "state.commit_ms_p50": _p50(s["commitTimeMs"] for s in state),
        "state.dropped_by_watermark": float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state)),
    }


def layer_metrics(tracer, out: dict, tables) -> dict:
    tracer.resolve_jobs()
    selfs = stats.self_times(tracer.spans)
    roots = {sp["name"]: sp["id"] for sp in tracer.spans if sp["parent"] is None}
    measured = roots.get("drain", roots.get("paced"))
    merges = [sp for sp in tracer.named("sinks.merge") if sp["parent"] == measured]

    def ms(sp):
        return sp["end"] - sp["start"]

    touched = sum(sp["attrs"].get("touched", 0) for sp in merges)
    appended = sum(sp["attrs"].get("appended", 0) for sp in merges)
    # the dashboard's panels; without a dashboard, the gate's reference panels
    panel_root = roots.get("dashboard", roots.get("gate"))
    kpi = {p: [sp for sp in tracer.named(f"kpis.{p}") if sp["parent"] == panel_root]
           for p in PANEL_NAMES}
    # a refresh's jobs: its panels' and its table reads'
    refresh_spans = [sp for spans in kpi.values() for sp in spans] + [
        sp for sp in tracer.named("sinks.read") if sp["parent"] == panel_root]
    refresh_jobs = sum(sp["jobs"] for sp in refresh_spans)
    m = {
        "sinks.merge_ms_p50": _p50(ms(sp) for sp in merges),
        "sinks.merge_ms_max": max((ms(sp) for sp in merges), default=0.0),
        "sinks.merges": float(len(merges)),
        "sinks.jobs_per_merge": (sum(sp["jobs"] for sp in merges) / len(merges)) if merges else 0.0,
        "sinks.fast_bucket_share": appended / touched if touched else 0.0,
        "sinks.leaves_final": float(sum(
            len(_leaves(e)) for t in tables for e in (_manifest(t.path) or {"buckets": {}})["buckets"].values())),
        "sinks.bytes_written": float(sum(sp["attrs"].get("bytes", 0) for sp in merges)),
        "sinks.read_ms_p50": _p50(ms(sp) for sp in tracer.named("sinks.read")),
        "kpis.jobs_per_refresh": refresh_jobs / max(1, len(out["refreshes"])),
    }
    for p in PANEL_NAMES:
        m[f"kpis.{p}_ms"] = _p50(selfs[sp["id"]] for sp in kpi[p])
    for q, _ in REGISTRY_QUERIES:
        con, exe = tracer.named(f"registry.{q}.construct"), tracer.named(f"registry.{q}.execute")
        m[f"registry.{q}.construct_ms"] = _p50(ms(sp) for sp in con)
        m[f"registry.{q}.execute_ms"] = _p50(ms(sp) for sp in exe)
        m[f"registry.{q}.jobs"] = float(sum(sp["jobs"] for sp in con + exe))
    m["trace.overhead_ms"] = tracer.overhead_s * 1000.0
    m["trace.spans"] = float(len(tracer.spans))
    for sp in tracer.spans:
        sp["self_ms"] = selfs[sp["id"]]
    return m


# -- main ----------------------------------------------------------------


def code_fingerprint() -> str:
    """sha256 over the program's and the benchmark's Python sources, so
    reports of the same code can be recognised without git."""
    h = hashlib.sha256()
    for pkg in ("realtime_data_pipeline_spark", "perfbench"):
        for f in sorted((ROOT / pkg).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


# Run metadata that must match before a traced and an untraced report
# are compared.
SAME_RUN_KEYS = ("code", "workload", "seed", "seconds", "nproc")


def metadata(args) -> dict:
    import pyspark

    return {
        "code": code_fingerprint(),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": os.getloadavg(), "pyspark": pyspark.__version__,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import realtime_data_pipeline_spark as program
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    if Path(program.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: imported the program from outside this checkout: "
              f"{program.__file__}", file=sys.stderr)
        return 2
    n = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    meta = metadata(args)
    work = BENCH / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare, measure = WORKLOADS[args.workload]
    phases: dict[str, float] = {}  # wall seconds per phase of this run
    mark = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name], mark[0] = now - mark[0], now

    spark = None
    try:
        inp = prepare(args.seed, args.seconds, work)
        lap("prepare")
        spark, setup_times = setup(n, work, args.seed)
        lap("setup")
        sc = spark.sparkContext
        meta["java"] = sc._jvm.java.lang.System.getProperty("java.version")
        tracer = stats.Tracer(sc, f"{args.workload}-s{args.seed}") if args.trace else stats.NullTracer()
        out = measure(spark, inp, tracer, args.seconds, work / "run")
        for q in out["queries"]:
            q.stop()
        lap("measure")
        runs = [progress(q) for q in out["queries"]]
        pipe = pipeline_metrics(runs)
        ops = out["file_ops"] + gate(spark, inp["files"], work / "sf", out["tables"],
                                     out["refreshes"], tracer)
        lap("gate")
        layers = layer_metrics(tracer, out, out["tables"]) if args.trace else {}
        spans = tracer.spans if args.trace else None
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    lap("shutdown")
    meta["phases_s"] = phases
    meta["loadavg_end"] = os.getloadavg()

    tail_value, tail_pct = stats.tail(out["latency"])
    e2e = {
        "setup_s": stats.median(setup_times),
        "peak_rss_mb": out["rss"],
        "events_per_s": out["events_per_s"],
        "latency_ms_p50": stats.median(out["latency"]),
        "latency_ms_tail": tail_value,
    }
    failed = [name for name, ok in ops if not ok]
    dropped = pipe["state.dropped_by_watermark"]
    correct = not failed and dropped == 0
    report = {
        "meta": meta, "setup_s_all": setup_times,
        "latency_tail_percentile": tail_pct, "latency_samples": len(out["latency"]),
        "ops_attempted": len(ops), "ops_failed": len(failed), "failed_ops": failed[:20],
        "end_to_end": e2e, "named": out["named"],
    }
    if args.trace:
        layer = {**{f"gen.{k}": float(v) for k, v in out["gen"].items()}, **pipe, **layers}
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        report["per_layer"] = layer
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    results = BENCH / "results"
    results.mkdir(exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        # the tracing overhead, when the untraced run of this seed and
        # this code is at hand
        untraced = results / f"{args.workload}-s{args.seed}-t0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())
            if all(base["meta"].get(k) == meta[k] for k in SAME_RUN_KEYS):
                report["trace_gap"] = {k: e2e[k] / base["end_to_end"][k] - 1.0
                                       for k in END_TO_END if base["end_to_end"].get(k)}
        (results / f"spans-{stem}.json").write_text(json.dumps(
            {"run": f"{args.workload}-s{args.seed}", "overhead_ms": tracer.overhead_s * 1000.0,
             "trace_gap": report.get("trace_gap"), "end_to_end_traced": e2e,
             "spans": spans}, indent=1, default=str))
    (results / f"{stem}.json").write_text(json.dumps(report, indent=1, default=str))
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
