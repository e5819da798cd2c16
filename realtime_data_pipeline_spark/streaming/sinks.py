"""Keyed-upsert sink — the reference's Mongo upsert semantics
(consumer/consumer.py:147-174: operationType=update, upsertDocument,
composite idFieldList) re-implemented Mongo-free as a foreachBatch
MERGE into a versioned parquet table.

Layout and why:

* a table is ONE stack of leaves, each leaf one parquet file; a merge
  either appends a leaf or rewrites the stack into one leaf;
* a held snapshot may still be reading the stored leaves, so each
  merge writes a new leaf, the directory `v=<n>/`,
  and the table's one metadata file, the `_CURRENT` JSON manifest,
  flips atomically via os.replace.  Checkpoint replay of a micro-batch
  re-merges the same rows under the same keys — idempotent, exactly
  the property the reference gets from Mongo upsert (SURVEY §1.4.3);
* the manifest lists every readable version: `versions` maps each
  published version whose leaves are all still on disk to its leaf
  versions, oldest first.  The table directory holds `_CURRENT`, the
  `v=<n>/` leaves and, during a merge, `_staging` — nothing else.

One Spark job per merge, whatever its kind.  A merge collects its
batch once as an Arrow table (`toArrow`, the one job; in a streaming
query the stateful stage runs inside it) and takes the row count and
the monotone min/max from that table, so no separate stats job runs
and nothing is cached.  An append's leaf is the batch; a rewrite's leaf
is the batch plus the stored rows whose key it does not replace, folded
in Arrow in the merging process.  Either leaf is staged as one parquet file in
the table's `_staging` directory with pyarrow, not with Spark's file
writer: on a local disk without Hadoop's native library every file and
directory that writer creates (`_temporary` dirs, the part file, its
`.crc`, `_SUCCESS`) sets its permissions by starting a `chmod` process.
The staged file then moves into place as the new leaf.  The merge does
not deduplicate: a batch holds each key at most once (see `merge`).
`start_upsert_query` runs its stateful aggregate on one shuffle
partition: a state store is loaded and committed per partition
and per batch, whatever its row count, and a staged leaf is one file
anyway.  `merge` returns a `MergeStats` record of what it did.

At scale this slot is filled by a real table format (Delta/Iceberg
MERGE INTO — the same keyed upsert with file-level pruning); the
interface is format-agnostic on purpose.

Fast-append mode (`monotone_col=`): the one per-batch cost that grows
with table size is the rewrite, even though append-mode batches only
ever INSERT new keys (a finalized window emits once).  When the caller
declares a key column that is non-decreasing across merges
(window_start in an append-mode stream), the table keeps a high-water
mark of that column.  A merge whose batch minimum strictly exceeds the
mark provably matches no stored key, so it APPENDS a new leaf to the
stack (a list of leaf versions, oldest first) instead of
read+fold+rewrite — O(batch) I/O, independent of table size.
Overlapping or replayed batches, and a stack at `STACK_MAX` leaves,
take the rewrite path, which also folds the stack — LSM compaction in
miniature, amortizing rewrites to O(table / STACK_MAX) per merge.
Null monotone values fall back to the rewrite path (SQL null-equality
means they can never match anyway, but the conservative path keeps the
reasoning local).

Mark soundness: a table's mode is fixed when it is created — the
manifest records `monotone_col`, and opening the table with a
different one raises.  So every merge into a monotone table maintains
the mark: an append records the batch maximum, and a rewrite raises
the mark to the batch maximum.  A table without a mark holds only null
monotone values, so the first non-null rewrite sets a sound mark.
Marks and batch minima are integers taken from the Arrow batch: a
TIMESTAMP column is int64 epoch microseconds (the integer Spark's
`unix_micros` returns, whatever the session time zone), an integer
column is taken as is.  They are never Python datetimes: a timestamp
collected to Python is a naive local-time value, whose order disagrees
with Spark's around a DST fall-back.

Retention is counted in seconds, like Delta's
deletedFileRetentionDuration: a leaf a merge supersedes stays on disk
until the first commit at least `RETAIN_S` seconds after that merge.
A snapshot a reader holds — the frame `read()` returns — therefore
stays readable for `RETAIN_S` seconds after the merge that supersedes
it, however many merges run meanwhile.  The commit that unlinks a leaf
drops from `versions` every version that names it, so a version stays
listed, and `read(version=N)` works, exactly while N's leaves are on
disk; an expired version leaves no file behind.

Reads.  `read()` and `read(version=N)` return a `Snapshot`: a
DataFrame over the version's leaves that also carries the table's
creation id and the leaf versions.  Leaves are immutable, so the two
together name the snapshot's rows, and what a reader derived from one
snapshot holds for every later read with the same id and versions
(`operators/kpis.py` answers dashboard panels that way).  The manifest
records, at creation, `table_id`, a random creation id: a table
deleted and recreated at the same path reuses version numbers, so only
the id tells the two apart.  Every commit records `schema`, the schema
of the batch it merged; reads pass it to Spark (which makes every
field nullable, as an inferring read would), so they start no
schema-inference job.  A rewrite reads the stored rows with pyarrow
and aligns them to the batch's schema by column name.  A
manifest without `schema`, `table_id` or `versions` was written by an
older version of this sink and is refused on open.  Readers keep what
they derive in memory and write nothing into the table directory: a
file a reader wrote under `v=<N>/` could race a commit's unlink of
that leaf and recreate it outside the pending-delete ledger.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import IntegralType, StructType, TimestampType

_CURRENT = "_CURRENT"
# The one file a staged leaf, and so every leaf, is written to.
_PART = "part-00000.parquet"
# The leaf stack folds back into one leaf once it stacks this many.
STACK_MAX = 8
# Seconds a superseded leaf outlives the merge that superseded it: more
# than ten times the slowest dashboard refresh measured (about 5 s).
RETAIN_S = 60.0


@dataclass(frozen=True)
class MergeStats:
    """What one `UpsertTable.merge` did."""

    # the version it published; after an empty batch, the current one
    # (0 before the table's first commit)
    version: int
    kind: str  # "append", "rewrite" or "empty"
    rows: int  # rows in the batch
    leaves: int  # leaves in the stack after the merge
    # parquet bytes it published: the leaf's one file, 0 for an empty
    # batch
    bytes: int
    ms: float  # wall time


class Snapshot(ClassicDataFrame):
    """One version of an UpsertTable: a DataFrame over its leaves that
    also names them.  Derived frames (`where`, `select`, ...) are plain
    DataFrames.

    `table_id` is the table's creation id, so a table deleted and
    recreated at the same path, which reuses version numbers, is a
    different table.  `versions` are the leaf versions, oldest first.
    Leaves are immutable, so whatever a reader derives from a snapshot
    stays true for as long as (`table_id`, `versions`) names it."""

    table_id: str
    versions: tuple[int, ...]

    @classmethod
    def _of(cls, spark, schema, leaves: dict[int, str], table_id):
        df = spark.read.schema(schema).parquet(*leaves.values())
        snap = cls(df._jdf, spark)
        snap.table_id, snap.versions = table_id, tuple(leaves)
        return snap


class UpsertTable:
    """A parquet table with composite-key upsert and snapshot reads."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        monotone_col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        # Fast-append mode: `monotone_col` must be part of the key —
        # the no-key-collision proof is "every stored key's monotone
        # component is <= the mark < every batch key's", which only
        # holds if the column participates in key equality.
        if monotone_col is not None and monotone_col not in self.key_cols:
            raise ValueError(
                f"monotone_col {monotone_col!r} must be one of the key "
                f"columns {self.key_cols}"
            )
        self.monotone_col = monotone_col

    # -- manifest management --------------------------------------------
    def _manifest(self) -> dict | None:
        """The manifest `_CURRENT`: {"version": int, "versions": {"<N>":
        [leaf version, ...]} for every readable version N, "buckets":
        {"0": the current stack}, "monotone_col": str | None,
        "table_id": creation id, "schema": the schema of the frame the
        last commit wrote (StructType JSON), "pending": [[leaf version,
        superseded at], ...], "mark": int high-water mark (monotone
        mode only)}.  None only when the table does not exist yet; an
        unreadable manifest, or one written in another mode or by an
        older version of this sink, raises rather than passing for an
        empty or differently keyed table."""
        try:
            with open(os.path.join(self.path, _CURRENT)) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        except ValueError as e:
            raise ValueError(
                f"table at {self.path} has an unreadable manifest: {e}"
            ) from e
        if m.get("monotone_col") != self.monotone_col:
            raise ValueError(
                f"table at {self.path} was written with monotone_col="
                f"{m.get('monotone_col')!r}, opened with {self.monotone_col!r}"
            )
        for field in ("schema", "table_id", "versions"):
            if field not in m:
                raise ValueError(
                    f"table at {self.path} has a manifest without "
                    f"{field!r}, written by an older version of this sink"
                )
        return m

    def _flip(self, manifest: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, _CURRENT + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.path, _CURRENT))

    def _commit(self, m: dict, stack: list, superseded: list) -> None:
        """Publish the next version of `m` with the leaf stack `stack`.
        The `superseded` leaves enter the pending-delete ledger.

        Pending-delete ledger: [v_old, t_sup] = the leaf of version
        v_old was superseded by the commit made at wall-clock time
        t_sup.  It is ripe once RETAIN_S seconds have passed since then;
        an entry this commit adds never is.  Ripe leaves are unlinked by
        exact path — no directory walking on the hot path — before the
        flip, and the flip drops them from the ledger and every version
        that names one of them from `versions`.  A crash in between
        leaves them in the current manifest's ledger, so the next
        commit unlinks them again (rmtree is idempotent) instead of
        leaking them; until then the versions that name them stay
        listed, and reading one fails on a missing file."""
        now = time.time()
        ripe = {v for v, t_sup in m["pending"] if t_sup <= now - RETAIN_S}
        for v_old in ripe:
            shutil.rmtree(self._leaf(v_old), ignore_errors=True)
        m["pending"] = [p for p in m["pending"] if p[0] not in ripe] + [
            [v_old, now] for v_old in superseded
        ]
        m["version"] += 1
        m["versions"] = {
            n: leaves
            for n, leaves in m["versions"].items()
            if ripe.isdisjoint(leaves)
        }
        m["versions"][str(m["version"])] = stack
        # perfbench's traced run reads the current stack here; this goes
        # once it reads `MergeStats` instead
        m["buckets"] = {"0": stack}
        self._flip(m)

    def _leaf(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    def _snapshot(self, m: dict, stack: list) -> Snapshot:
        """The rows of the leaves `stack`, read with the manifest's
        schema, so the read starts no schema-inference job."""
        return Snapshot._of(
            self.spark,
            StructType.fromJson(m["schema"]),
            {v: self._leaf(v) for v in stack},
            m["table_id"],
        )

    def _mono_image(self, rows: pa.Table, schema: StructType) -> pa.ChunkedArray:
        """The monotone column of the Arrow batch `rows` (Spark schema
        `schema`) as integers whose order is Spark's order of the
        column: a TIMESTAMP as int64 epoch microseconds, the integer
        `unix_micros` returns, an integer column as it is."""
        dtype = schema[self.monotone_col].dataType
        col = rows[self.monotone_col]
        if isinstance(dtype, TimestampType):
            return col.cast(pa.int64())
        if isinstance(dtype, IntegralType):
            return col
        raise ValueError(
            f"monotone_col {self.monotone_col!r} is {dtype.simpleString()}; "
            "it must be a TIMESTAMP or integer column"
        )

    # -- reads ------------------------------------------------------------
    def read(self, version: int | None = None) -> Snapshot | None:
        """Snapshot read.  version=None → current; version=N → time
        travel to the state after merge N, while N's leaves are still
        on disk.  Either way the result is a `Snapshot`, read with the
        schema the manifest records, so the read starts no Spark job.

        Held-snapshot contract: the frame names the snapshot's leaves,
        and a merge that supersedes them — one that starts after this
        call read the manifest — leaves them on disk until the first
        commit at least RETAIN_S seconds later.  So the frame stays
        readable for RETAIN_S seconds after that merge, however many
        merges run meanwhile; past that, reading it may fail on a
        missing file."""
        m = self._manifest()
        if version is None:
            return None if m is None else self._snapshot(m, _stack(m))
        stack = m["versions"].get(str(version)) if m else None
        if stack is None:
            if m and 1 <= version <= m["version"]:
                raise ValueError(
                    f"version {version} is older than the retention "
                    f"window (RETAIN_S={RETAIN_S} s): its leaves were "
                    "deleted"
                )
            raise ValueError(
                f"no version {version}; available: {self.versions()}"
            )
        return self._snapshot(m, stack)

    def versions(self) -> list[int]:
        """The readable versions: those whose leaves are all still on
        disk, the current one included.  How long a superseded version
        stays readable is governed by RETAIN_S."""
        m = self._manifest()
        return sorted(map(int, m["versions"])) if m else []

    # -- merge --------------------------------------------------------------
    def merge(self, batch: DataFrame) -> MergeStats:
        """Upsert: delete-matching-keys then insert (last write wins).

        Precondition: a batch holds each key at most once; a merge does
        not deduplicate it.  Every caller meets it by construction:

        * an append-mode aggregate emits each finalized group once;
        * an update-mode aggregate, and `running_user_totals`
          (applyInPandasWithState), emit one row per key per batch;
        * `window_topk_items` ranks each window with `row_number`, so
          its (window_start, rk) keys are distinct.

        One Spark job, whatever the merge's kind: the batch is
        collected once as an Arrow table (`toArrow`); its row count and
        the min and max of the monotone column, which the append test
        needs, are read from that table.  The leaf is built in Arrow:

        * append: the leaf is the batch;
        * rewrite: the leaf is the batch plus the stored rows whose key
          it does not replace (`_unreplaced`), which folds the stack;
        * empty batch: nothing is staged or published.

        A leaf is staged as one parquet file in the table's `_staging`
        directory with pyarrow, moves into place with os.replace, and
        `_commit` publishes it.

        The whole batch passes through driver memory, so it must fit
        there; a stream's micro-batch of window counts does.  A rewrite
        also holds the stored table there, as the one task of a
        single-partition fold would.  A crash leaves at most a staging
        directory, possibly with a torn file, or an unpublished leaf
        behind; the replayed merge deletes the first and overwrites the
        second.
        """
        t0 = time.perf_counter()
        m = self._manifest()  # an unreadable or mismatched table raises first
        rows = batch.toArrow()
        n, lo, hi = rows.num_rows, None, None
        if self.monotone_col:
            bounds = pc.min_max(self._mono_image(rows, batch.schema)).as_py()
            lo, hi = bounds["min"], bounds["max"]
        staging = os.path.join(self.path, "_staging")
        shutil.rmtree(staging, ignore_errors=True)  # left by a crash
        if not n:
            return MergeStats(
                m["version"] if m else 0, "empty", 0,
                len(_stack(m)) if m else 0, 0,
                (time.perf_counter() - t0) * 1000.0,
            )
        m = m or {
            "version": 0,
            "versions": {},
            "pending": [],
            "monotone_col": self.monotone_col,
            "table_id": uuid.uuid4().hex,
        }
        stack, mark = _stack(m), m.get("mark")
        # Append when nothing stored can collide: a new table, or
        # (monotone mode) a batch minimum strictly above the high-water
        # mark while the stack is still under STACK_MAX.  Everything
        # else rewrites: the batch plus the stored rows whose keys it
        # does not replace.
        append = not stack or (
            lo is not None
            and mark is not None
            and lo > mark
            and len(stack) < STACK_MAX
        )
        if self.monotone_col and hi is not None:
            m["mark"] = hi if mark is None else max(mark, hi)
        if not append:
            rows = pa.concat_tables([self._unreplaced(stack, rows), rows])
        # One file per leaf: a leaf of one file per upstream task would
        # grow the file count as O(merges x partitions) and drown reads
        # in small files.
        os.makedirs(staging)
        staged = os.path.join(staging, _PART)
        pq.write_table(rows, staged)
        published = os.path.getsize(staged)
        v_new = m["version"] + 1
        leaf = self._leaf(v_new)
        if os.path.exists(leaf):  # left by a crash before the flip
            shutil.rmtree(leaf)
        os.replace(staging, leaf)
        m["schema"] = batch.schema.jsonValue()
        if append:
            self._commit(m, stack + [v_new], [])
        else:  # a rewrite folds the stack and supersedes every leaf of it
            self._commit(m, [v_new], stack)
        return MergeStats(
            v_new,
            "append" if append else "rewrite",
            n,
            len(_stack(m)),
            published,
            (time.perf_counter() - t0) * 1000.0,
        )

    def _unreplaced(self, stack: list, rows: pa.Table) -> pa.Table:
        """The stored rows of the leaves `stack` whose key the Arrow
        batch `rows` does not replace, in stored order and aligned to
        the batch's schema by column name.  A leaf is read by
        directory, so the parquet files of a leaf Spark's file commit
        wrote are read and its `_SUCCESS` and `.crc` files skipped.  A
        key with a null part matches nothing under SQL null-equality,
        and Acero's join agrees, so every such stored row stays."""
        names = rows.column_names
        stored = pa.concat_tables(
            pq.read_table(self._leaf(v)).select(names).cast(rows.schema)
            for v in stack
        )
        # The join carries only the keys and a row index: Acero refuses
        # nested columns outside the key.
        index = stored.select(self.key_cols).append_column(
            "__row", pa.array(np.arange(stored.num_rows))
        )
        kept = index.join(
            rows.select(self.key_cols), self.key_cols, join_type="left anti"
        )
        return stored.take(kept["__row"].combine_chunks().sort())


def _stack(m: dict) -> list[int]:
    """The current leaf stack of manifest `m`, oldest first; empty
    before the table's first commit."""
    return m["versions"][str(m["version"])] if m["version"] else []


# Serializes start_upsert_query's set-and-restore of the session's
# shuffle partitions against concurrent starts.
_start_lock = threading.Lock()


def start_upsert_query(
    agg: DataFrame,
    table: UpsertTable,
    checkpoint_dir: str,
    query_name: str,
    trigger_available_now: bool = False,
    output_mode: str = "append",
):
    """W3+W4: streaming write into the keyed-upsert table, checkpointed
    for exactly-once-ish replay (consumer/consumer.py:147-159); each
    micro-batch merges by composite key.

    append (default) emits finalized windows only; update is for
    arbitrary-stateful operators (applyInPandasWithState) that re-emit
    a key's latest value each batch — the keyed merge makes either mode
    last-write-wins idempotent.

    The query starts with one shuffle partition, so its stateful
    operator runs one state-store partition.  A state store's load and
    commit cost is paid per partition, not per row, and a merge writes
    each batch as one file anyway, so more partitions only add state
    commits.  The query keeps the value it saw at start(), and Spark
    records it in the checkpoint's offset log, so a restart keeps the
    count its checkpoint was made with; the session's own value is
    restored once the query has started.
    """
    writer = (
        agg.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, _id: table.merge(batch))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    conf = agg.sparkSession.conf
    with _start_lock:
        saved = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", "1")
        try:
            return writer.start()
        finally:
            conf.set("spark.sql.shuffle.partitions", saved)
