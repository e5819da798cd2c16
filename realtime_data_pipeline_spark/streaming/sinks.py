"""Keyed-upsert sink — the reference's Mongo upsert semantics
(consumer/consumer.py:147-174: operationType=update, upsertDocument,
composite idFieldList) re-implemented Mongo-free as a foreachBatch
MERGE into a versioned parquet table.

Layout and why:

* a table is ONE stack of leaves, each leaf one parquet file; a merge
  either appends a leaf or rewrites the stack into one leaf;
* Spark cannot safely overwrite a parquet path it is reading in the
  same job, so each merge writes a new `v=<n>/__bucket=0` leaf and a
  `_CURRENT` JSON manifest (stack → leaf versions) flips atomically via
  os.replace.  Checkpoint replay of a micro-batch re-merges the same
  rows under the same keys — idempotent, exactly the property the
  reference gets from Mongo upsert (SURVEY §1.4.3);
* the manifest keeps a one-bucket form (bucket "0", `n_buckets` 1)
  because perfbench's traced run reads `buckets` from `_CURRENT`.

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
read+anti-join+rewrite — O(batch) I/O, independent of table size.
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
Marks and batch minima are engine integers (`unix_micros` of a
TIMESTAMP, an integer column as is), computed and ordered in Spark: a
timestamp collected to Python is a naive local-time value, whose order
disagrees with Spark's around a DST fall-back.

Retention is counted in seconds, like Delta's
deletedFileRetentionDuration: a leaf a merge supersedes stays on disk
until the first commit at least `RETAIN_S` seconds after that merge.
A snapshot a reader holds — the frame `read()` returns — therefore
stays readable for `RETAIN_S` seconds after the merge that supersedes
it, however many merges run meanwhile; `read(version=N)` works while
N's leaves are still on disk.

Reads.  `read()` and `read(version=N)` return a `Snapshot`: a
DataFrame over the version's leaves that also carries the table's
creation id and the leaf versions.  Leaves are immutable, so the two
together name the snapshot's rows, and what a reader derived from one
snapshot holds for every later read with the same id and versions
(`operators/kpis.py` answers dashboard panels that way).  The manifest records, at creation, `table_id`, a
random creation id: a table deleted and recreated at the same path
reuses version numbers, so only the id tells the two apart.  Every
commit records `schema`, the schema of the frame it wrote; reads,
including the rewrite's read of the stored rows, pass it to Spark
(which makes every field nullable, as an inferring read would), so
they start no schema-inference job.  A manifest without either field
is refused on open.  Readers keep what they derive in memory and write
nothing into the table directory: a file a reader wrote under `v=<N>/`
could race a commit's unlink of that version root and recreate it
outside the pending-delete ledger.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import IntegralType, StructType, TimestampType

_CURRENT = "_CURRENT"
# The manifest key of the one leaf stack, and its directory under each
# version root: the one-bucket form of the hash-bucketed layout this
# replaced, whose manifests (`n_buckets` above 1) a reopen refuses.
_STACK = "0"
_LEAF = "__bucket=0"
# The leaf stack folds back into one leaf once it stacks this many.
STACK_MAX = 8
# Seconds a superseded leaf outlives the merge that superseded it: more
# than ten times the slowest dashboard refresh measured (about 5 s).
RETAIN_S = 60.0


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
    def _load(self, name: str) -> dict | None:
        """The manifest file `name`: {"version": int, "buckets": {"0":
        [leaf version, ...]}, "n_buckets": 1, "monotone_col": str |
        None, "table_id": creation id, "schema": the schema of the
        frame the last commit wrote (StructType JSON), "pending": [...], "marks":
        {"0": int high-water mark} (monotone mode only)}.
        None only when the file does not exist; an unreadable manifest,
        or one written in another layout or mode, or without a schema
        or creation id, raises rather than passing for an empty or
        differently keyed table."""
        try:
            with open(os.path.join(self.path, name)) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        except ValueError as e:
            raise ValueError(
                f"table at {self.path} has an unreadable manifest: {e}"
            ) from e
        for field, value in (
            ("n_buckets", 1),
            ("monotone_col", self.monotone_col),
        ):
            if m.get(field) != value:
                raise ValueError(
                    f"table at {self.path} was written with "
                    f"{field}={m.get(field)!r}, opened with {value!r}"
                )
        for field in ("schema", "table_id"):
            if field not in m:
                raise ValueError(
                    f"table at {self.path} has a manifest without "
                    f"{field!r}, written by an older version of this sink"
                )
        return m

    def _manifest(self) -> dict | None:
        """The current manifest; None only when the table does not
        exist yet."""
        return self._load(_CURRENT)

    def _flip(self, manifest: dict) -> None:
        # The immutable snapshot of this version's manifest — the
        # metadata log that makes read(version=N) possible, kept forever
        # like a table-format transaction log — is written BEFORE the
        # flip, so every published version has one.  A crash in between
        # leaves a snapshot above the current version, which versions()
        # ignores and the retried commit overwrites.
        os.makedirs(self.path, exist_ok=True)
        for name in (f"manifest.v{manifest['version']}.json", _CURRENT):
            tmp = os.path.join(self.path, name + ".tmp")
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, os.path.join(self.path, name))

    def _commit(self, m: dict, stack: list, superseded: list) -> None:
        """Publish the next version of `m` with the leaf stack `stack`.
        The `superseded` leaves enter the pending-delete ledger.

        Pending-delete ledger: [v_old, "0", t_sup] = the leaf of version
        v_old was superseded by the commit made at wall-clock time
        t_sup.  It is ripe once RETAIN_S seconds have passed since then;
        an entry this commit adds never is.  Ripe leaves are unlinked by
        exact path — no directory walking on the hot path — before the
        flip, and the flip drops them from the ledger.  A crash in
        between leaves them in the current manifest's ledger, so the
        next commit unlinks them again (rmtree is idempotent) instead of
        leaking them."""
        now = time.time()
        pending = m.get("pending", [])
        for v_old, _stack, t_sup in pending:
            if t_sup <= now - RETAIN_S:
                # a version root holds its one leaf and nothing else
                shutil.rmtree(
                    os.path.join(self.path, f"v={v_old}"), ignore_errors=True
                )
        m["pending"] = [p for p in pending if p[2] > now - RETAIN_S] + [
            [v_old, _STACK, now] for v_old in superseded
        ]
        m["version"] += 1
        m["buckets"] = {_STACK: stack}
        self._flip(m)

    def _leaf(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}", _LEAF)

    def _leaves(self, m: dict) -> list[str]:
        return [self._leaf(v) for v in m["buckets"][_STACK]]

    def _snapshot(self, m: dict) -> Snapshot:
        """The stored rows of manifest `m`, read with the manifest's
        schema, so the read starts no schema-inference job."""
        return Snapshot._of(
            self.spark,
            StructType.fromJson(m["schema"]),
            dict(zip(m["buckets"][_STACK], self._leaves(m))),
            m["table_id"],
        )

    def _mono_image(self, batch: DataFrame) -> F.Column:
        """The monotone column as an engine integer whose order is
        Spark's order of the column."""
        dtype = batch.schema[self.monotone_col].dataType
        col = F.col(self.monotone_col)
        if isinstance(dtype, TimestampType):
            return F.unix_micros(col)
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
        if version is None:
            m = self._manifest()
            if m is None:
                return None
        else:
            m = self._load(f"manifest.v{version}.json")
            if m is None:
                raise ValueError(
                    f"no snapshot manifest for version {version}; "
                    f"available: {self.versions()}"
                )
        if version is not None:
            gone = [p for p in self._leaves(m) if not os.path.isdir(p)]
            if gone:
                raise ValueError(
                    f"version {version} is older than the retention "
                    f"window (RETAIN_S={RETAIN_S} s): {len(gone)} of "
                    "its leaves were deleted"
                )
        return self._snapshot(m)

    def versions(self) -> list[int]:
        """Published versions: those with a snapshot manifest on disk,
        up to the current one — a crash before the flip can leave the
        next version's snapshot behind.  Whether their leaves are still
        on disk is governed by RETAIN_S."""
        m = self._manifest()
        if m is None:
            return []
        out = []
        for e in os.listdir(self.path):
            if e.startswith("manifest.v") and e.endswith(".json"):
                v = int(e[len("manifest.v"):-len(".json")])
                if v <= m["version"]:
                    out.append(v)
        return sorted(out)

    # -- merge --------------------------------------------------------------
    def merge(self, batch: DataFrame) -> None:
        """Upsert: delete-matching-keys then insert (last write wins).

        Within one batch, duplicate keys collapse to an arbitrary single
        row via dropDuplicates on the key — the streaming engine never
        emits duplicate finalized windows in one batch, so this only
        guards replay edge cases.
        """
        # Two actions consume `batch` (the stats row and the leaf
        # write); inside foreachBatch each action would otherwise
        # re-execute the whole micro-batch aggregation.  Persist once.
        batch = batch.dropDuplicates(self.key_cols).persist()
        try:
            self._merge_persisted(batch)
        finally:
            batch.unpersist()

    def _merge_persisted(self, batch: DataFrame) -> None:
        # One row, O(1) driver-side: the batch size and, with a
        # monotone column declared, the min/max the append test needs.
        mono = (
            self._mono_image(batch)
            if self.monotone_col
            else F.lit(None).cast("long")
        )
        n, lo, hi = batch.agg(
            F.count(F.lit(1)), F.min(mono), F.max(mono)
        ).first()
        if not n:
            return
        m = self._manifest() or {
            "version": 0,
            "buckets": {},
            "n_buckets": 1,
            "monotone_col": self.monotone_col,
            "table_id": uuid.uuid4().hex,
        }
        marks = m.setdefault("marks", {}) if self.monotone_col else {}
        stack = m["buckets"].get(_STACK)
        # Append when nothing stored can collide: a new table, or
        # (monotone mode) a batch minimum strictly above the high-water
        # mark while the stack is still under STACK_MAX.  Everything
        # else rewrites: the batch plus the stored rows whose keys it
        # does not replace.
        append = stack is None or (
            lo is not None
            and _STACK in marks
            and lo > marks[_STACK]
            and len(stack) < STACK_MAX
        )
        merged = batch
        if not append:
            stored = self._snapshot(m)
            merged = batch.unionByName(
                stored.join(
                    batch.select(self.key_cols), self.key_cols, "left_anti"
                )
            )
        v_new = m["version"] + 1
        # One file per leaf, and no shuffle on the append path: a leaf
        # of one file per upstream task would grow the file count as
        # O(merges x shuffle_partitions) and drown reads in small files.
        merged.coalesce(1).write.mode("overwrite").parquet(self._leaf(v_new))
        m["schema"] = merged.schema.jsonValue()
        if self.monotone_col and hi is not None:
            marks[_STACK] = max(marks.get(_STACK, hi), hi)
        if append:
            self._commit(m, (stack or []) + [v_new], [])
        else:
            # a rewrite folds the stack and supersedes every leaf of it
            self._commit(m, [v_new], stack)


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
    """
    writer = (
        agg.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, _id: table.merge(batch))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
