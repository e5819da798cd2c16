"""A real kill: the two-query pipeline (JSON lines → `parse_events` →
`windowed_stream_counts` per user and per item → `UpsertTable`) runs in
a child Python process with its own JVM.  At a chosen merge the child
SIGKILLs its whole process group, Python and JVM together, mid-commit.
The queries are then restarted in the test session on the same
checkpoints and table paths; each table, minus the sentinel, must
equal the batch reference with no duplicate key, and every leaf that
`_CURRENT` names must exist.

The kill points are wrapped here, in the child, not hooked into the
sink:

* `before-flip`: the target table's second `_CURRENT` replace is
  about to run (`_CURRENT.tmp` is written, the flip is not);
* `after-flip`: that replace has run, and Spark has not yet written
  the batch to its commit log;
* `mid-write`: at the target table's third merge the child's
  `pyarrow.parquet.write_table` writes half the batch's rows and
  stalls before the file's footer, and a watcher thread armed at that
  merge fires once the staged parquet file appears under `_staging/`,
  i.e. while the sink's staged write runs and leaves a torn file.

Every checkpoint file (offset log, commit log, file-source log, state
store) is committed through the session's checkpoint file manager, so
a kill also checks that a restart reads what a killed writer left.

Run directly, this file is the child: `python test_streaming_kill.py
<kill point> <work dir>`.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

KEYS = ("user_id", "item_id")
SENTINEL = "__sentinel__"
EPOCH = dt.datetime(2024, 6, 1)
FILES, EVENTS_PER_FILE, FILE_SPAN_S = 6, 150, 900
KILL_POINTS = ("before-flip", "after-flip", "mid-write")
TARGET = "user_id"  # the table whose merge the child is killed in


def _line(user: str, item: str, ts_us: int) -> str:
    ts = (EPOCH + dt.timedelta(microseconds=ts_us)).isoformat() + "Z"
    return json.dumps(
        {"user_id": user, "item_id": item, "interaction_type": "click",
         "timestamp": ts}
    ) + "\n"


def _write_input(in_dir: Path) -> None:
    """FILES JSON-lines files in event-time order, each spanning
    FILE_SPAN_S seconds, then a sentinel two days later that moves the
    watermark past every real window.  Modification times are set in
    file order, which is the order the file source reads them in."""
    rng = random.Random(13)
    in_dir.mkdir(parents=True)
    t0 = time.time() - 100
    span_us = FILE_SPAN_S * 1_000_000
    for f in range(FILES + 1):
        if f < FILES:
            lines = [
                _line(f"user_{rng.randint(1, 12)}", f"item_{rng.randint(1, 20)}",
                      f * span_us + rng.randrange(span_us))
                for _ in range(EVENTS_PER_FILE)
            ]
        else:
            lines = [_line(SENTINEL, SENTINEL, (FILES * FILE_SPAN_S + 2 * 86400) * 1_000_000)]
        path = in_dir / f"f{f:02d}.json"
        path.write_text("".join(lines))
        os.utime(path, (t0 + f, t0 + f))


def _start(spark, base: Path):
    """Start both upsert queries over `base/in`, one file per batch."""
    from realtime_data_pipeline_spark.streaming.pipeline import (
        parse_events,
        windowed_stream_counts,
    )
    from realtime_data_pipeline_spark.streaming.sinks import (
        UpsertTable,
        start_upsert_query,
    )

    events = parse_events(
        spark.readStream.option("maxFilesPerTrigger", 1).text(str(base / "in"))
    )
    queries, tables = [], {}
    for key in KEYS:
        table = UpsertTable(
            spark, str(base / f"table_{key}"),
            ["window_start", "window_end", key], monotone_col="window_start",
        )
        queries.append(start_upsert_query(
            windowed_stream_counts(events, key), table,
            str(base / f"ckpt_{key}"), f"kill_{key}",
            trigger_available_now=True,
        ))
        tables[key] = table
    return queries, tables


# -- the child -------------------------------------------------------------


def _die() -> None:
    os.killpg(0, signal.SIGKILL)  # this process group: Python and its JVM


def _arm(kill: str, base: Path) -> None:
    """Wrap the kill point `kill` around the target table's commit."""
    from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

    target = str(base / f"table_{TARGET}")
    current = os.path.join(target, "_CURRENT")
    if kill in ("before-flip", "after-flip"):
        replace, flips = os.replace, []

        def killing_replace(src, dst):
            if os.fspath(dst) != current:
                return replace(src, dst)
            flips.append(dst)
            if len(flips) == 2 and kill == "before-flip":
                _die()
            replace(src, dst)
            if len(flips) == 2:
                _die()

        os.replace = killing_replace
        return
    import pyarrow.parquet as pq

    merge, merges = UpsertTable.merge, []
    staging = os.path.join(target, "_staging")
    write_table = pq.write_table

    def watch():
        while True:
            if _staged_files(staging):
                _die()
            time.sleep(0.001)

    def stalling_write_table(table, where, *args, **kwargs):
        if len(merges) < 3 or not os.fspath(where).startswith(staging):
            return write_table(table, where, *args, **kwargs)
        with pq.ParquetWriter(where, table.schema) as writer:
            writer.write_table(table.slice(0, table.num_rows // 2))
            time.sleep(60)  # the watcher's kill lands here

    def watched_merge(self, batch):
        if self.path == target:
            merges.append(batch)
            if len(merges) == 3:
                threading.Thread(target=watch, daemon=True).start()
        return merge(self, batch)

    pq.write_table = stalling_write_table
    UpsertTable.merge = watched_merge


def _staged_files(staging) -> list[str]:
    """The parquet files under the staging directory `staging`."""
    try:
        return [n for n in os.listdir(staging) if n.endswith(".parquet")]
    except FileNotFoundError:
        return []


def _child(kill: str, base: Path) -> int:
    from realtime_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"kill-{kill}", master="local[2]", shuffle_partitions=2)
    _arm(kill, base)
    queries, _ = _start(spark, base)
    for q in queries:
        q.awaitTermination()
    return 3  # the pipeline finished: the kill point was never reached


# -- the test ----------------------------------------------------------------


def _named_leaves_exist(table) -> bool:
    with open(os.path.join(table.path, "_CURRENT")) as f:
        m = json.load(f)
    leaves = {v for stack in m["versions"].values() for v in stack}
    return all(os.path.isdir(table._leaf(v)) for v in leaves)


def _batch_ids(ckpt: Path, log: str) -> list[int]:
    d = ckpt / log
    return sorted(int(n) for n in os.listdir(d) if n.isdigit()) if d.is_dir() else []


@pytest.mark.parametrize("kill", KILL_POINTS)
def test_restart_after_sigkill_matches_batch(spark, tmp_path, kill):
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark.streaming.pipeline import (
        parse_events,
        windowed_stream_counts,
    )

    _write_input(tmp_path / "in")
    repo = Path(__file__).resolve().parent.parent
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            [str(repo), os.environ.get("PYTHONPATH", "")]
        ).rstrip(os.pathsep),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    with open(tmp_path / "child.log", "wb") as log:
        child = subprocess.Popen(
            [sys.executable, __file__, kill, str(tmp_path)],
            env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=240)
        finally:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            child.wait()
    tail = (tmp_path / "child.log").read_text(errors="replace")[-3000:]
    assert rc == -signal.SIGKILL, f"child exited {rc}:\n{tail}"

    # the kill landed where it was aimed, in a batch Spark had not
    # committed
    target = tmp_path / f"table_{TARGET}"
    ckpt = tmp_path / f"ckpt_{TARGET}"
    assert _batch_ids(ckpt, "offsets")[-1] > max(_batch_ids(ckpt, "commits"), default=-1)
    if kill == "before-flip":
        assert (target / "_CURRENT.tmp").exists()
    elif kill == "after-flip":
        assert not (target / "_CURRENT.tmp").exists()
    else:
        assert _staged_files(target / "_staging")

    queries, tables = _start(spark, tmp_path)  # the restart
    for q in queries:
        assert q.awaitTermination(180), f"{q.name} did not finish"
        assert q.exception() is None

    events = parse_events(spark.read.text(str(tmp_path / "in")))
    for key, table in tables.items():
        assert _named_leaves_exist(table)
        got = table.read().where(F.col(key) != SENTINEL)
        cols = ["window_start", "window_end", key]
        assert got.groupBy(cols).count().where(F.col("count") > 1).count() == 0
        want = windowed_stream_counts(events.where(F.col(key) != SENTINEL), key)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in want.collect()
        }, key


if __name__ == "__main__":
    sys.exit(_child(sys.argv[1], Path(sys.argv[2])))
