"""The keyed-upsert sink builds each leaf in Arrow: the batch is
collected with `toArrow`, folded with the stored rows read by pyarrow
(a rewrite) or taken as it is (an append), written to `_staging` with
pyarrow and moved into place.  Every column type the sink's callers
write must come back from `read()` as it went in, with the schema the
manifest records; a leaf that Spark's file commit wrote, as the sink's
Spark fold once did, must fold like any other; and a timestamp mark
must be Spark's `unix_micros` whatever the session time zone.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

# type of the value column `c` -> two non-null values of it
CASES = {
    "string": ("string", ["a", "é✓"]),
    "int": ("int", [1, -(2**31)]),
    "long": ("bigint", [2**40, -1]),
    "double": ("double", [0.1, float("-inf")]),
    "decimal": ("decimal(12,3)", [Decimal("1.005"), Decimal("-123456789.123")]),
    "date": ("date", [dt.date(2024, 3, 1), dt.date(1970, 1, 1)]),
    "timestamp": (
        "timestamp",
        [dt.datetime(2024, 3, 10, 12, 30, 0, 1), dt.datetime(1999, 12, 31, 23, 59)],
    ),
    "timestamp_ntz": (
        "timestamp_ntz",
        [dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 11, 3, 1, 30, 0, 7)],
    ),
    "array": ("array<string>", [["a", None], []]),
    "struct": ("struct<a:int,b:string>", [Row(a=1, b="x"), Row(a=None, b=None)]),
}


def _manifest(path):
    with open(os.path.join(path, "_CURRENT")) as f:
        return json.load(f)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _expect(batches):
    """Last write wins per (w, k); a row with a null key part matches
    no stored key, so every such row stays."""
    keyed, null_keyed = {}, []
    for batch in batches:
        for w, k, c in batch:
            if w is None or k is None:
                null_keyed.append((w, k, c))
            else:
                keyed[(w, k)] = (w, k, c)
    return sorted([*keyed.values(), *null_keyed], key=repr)


def _assert_reads_back(spark, t, batches, ddl):
    """`read()` holds the model's rows, with the schema the manifest
    records, which is the batches' schema."""
    snap = t.read()
    schema = StructType.fromJson(_manifest(t.path)["schema"])
    assert snap.schema == schema
    assert schema == spark.createDataFrame([], ddl).schema
    assert _rows(snap) == _expect(batches)


@pytest.mark.parametrize("case", [*CASES, "null-key-part"])
def test_arrow_stage_round_trips_types(spark, tmp_path, case):
    """An append, then a fold, of a batch with a value column of each
    type (and nulls in it), or with null key parts: `read()` returns the
    rows that went in.  The appended and the folded leaf are each the one
    file pyarrow wrote, without the `.crc` and `_SUCCESS` files of
    Spark's file commit."""
    c_type, (a, b) = CASES.get(case, ("int", [5, 6]))
    ddl = f"w int, k int, c {c_type}"
    t = UpsertTable(spark, str(tmp_path / "t"), ["w", "k"], monotone_col="w")
    if case == "null-key-part":
        first = [(1, None, a), (1, 0, a), (None, 1, a)]
        second = [(1, None, b), (1, 0, b), (None, 1, b)]
    else:
        first = [(1, 0, a), (1, 1, b), (1, 2, None)]
        second = [(1, 1, a), (1, 2, b), (2, 0, None)]

    stats = t.merge(spark.createDataFrame(first, ddl))
    assert stats.kind == "append"
    assert os.listdir(t._leaf(stats.version)) == ["part-00000.parquet"]
    _assert_reads_back(spark, t, [first], ddl)

    stats = t.merge(spark.createDataFrame(second, ddl))  # w=1 collides
    assert stats.kind == "rewrite"
    assert os.listdir(t._leaf(stats.version)) == ["part-00000.parquet"]
    _assert_reads_back(spark, t, [first, second], ddl)


def test_fold_over_a_leaf_spark_wrote(spark, tmp_path):
    """A table from before folds ran in Arrow: its stack holds a leaf
    that Spark's file commit wrote (a `part-...snappy.parquet` file, a
    TIMESTAMP stored as INT96, its `.crc` files and `_SUCCESS`) under
    the same manifest format.  An append stacks on it and the next fold
    reads it: the table equals the last-write-wins model and the folded
    leaf is the one file pyarrow wrote."""
    ddl = "ws timestamp, k int, c string"
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["ws", "k"], monotone_col="ws")

    def at(hour):
        return dt.datetime(2024, 3, 1, hour)

    batches = [
        [(at(1), 0, "a"), (at(1), 1, "b"), (at(1), None, "n")],
        [(at(1), 1, "c"), (at(2), 0, "d")],  # collides: fold
        [(at(3), 0, "e"), (at(3), 1, "f")],  # above the mark: append
        [(at(1), 0, "g"), (at(3), 1, "h"), (at(1), None, "m")],  # fold
    ]
    kinds = [t.merge(spark.createDataFrame(b, ddl)).kind for b in batches[:2]]
    written = str(tmp_path / "written")
    spark.createDataFrame(_expect(batches[:2]), ddl).coalesce(1).write.parquet(
        written
    )
    shutil.rmtree(t._leaf(2))
    os.replace(written, t._leaf(2))
    names = os.listdir(t._leaf(2))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.endswith(".snappy.parquet") for n in names)
    for b in batches[2:]:
        kinds.append(t.merge(spark.createDataFrame(b, ddl)).kind)
    assert kinds == ["append", "rewrite", "append", "rewrite"]
    assert os.listdir(t._leaf(4)) == ["part-00000.parquet"]
    _assert_reads_back(spark, t, batches, ddl)


def test_timestamp_mark_is_unix_micros_under_kathmandu(spark, tmp_path):
    """Under a session time zone at a +05:45 offset, the mark each merge
    records is Spark's `unix_micros` of the batch maximum, appends and
    folds read back their rows, and a TIMESTAMP_NTZ value column keeps
    its wall-clock value."""
    conf = spark.conf
    saved = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        path = str(tmp_path / "t")
        t = UpsertTable(spark, path, ["ws", "k"], monotone_col="ws")

        def batch(rows):
            # (epoch microseconds, k, wall clock); instants fixed by number
            return spark.createDataFrame(
                rows, "us long, k int, c timestamp_ntz"
            ).select(F.timestamp_micros("us").alias("ws"), "k", "c")

        wall = dt.datetime(2024, 3, 10, 2, 30, 0, 5)
        t0 = 1_710_000_000_123_457
        batches = [
            [(t0, 0, wall), (t0 + 1, 1, None)],
            [(t0 + 600_000_000, 0, wall)],  # above the mark: append
            [(t0 + 1, 1, wall), (t0 + 2, 2, wall)],  # collides: fold
        ]
        kinds, his, want = [], [], {}
        for rows in batches:
            df = batch(rows)
            kinds.append(t.merge(df).kind)
            his.append(df.select(F.max(F.unix_micros("ws"))).first()[0])
            assert _manifest(path)["mark"] == max(his)
            want.update({(us, k): c for us, k, c in rows})
            got = t.read().select(F.unix_micros("ws").alias("us"), "k", "c")
            assert {(r.us, r.k): r.c for r in got.collect()} == want
        assert kinds == ["append", "append", "rewrite"]
    finally:
        conf.set("spark.sql.session.timeZone", saved)
