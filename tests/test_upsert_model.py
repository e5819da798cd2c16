"""Property-based model check for the keyed-upsert sink: any sequence
of merges must leave the table equal to a last-write-wins dict, with
vacuum keeping the on-disk layout bounded.  Complements the targeted
tests (idempotent replay, churn soak) with adversarial sequences
hypothesis finds — e.g. re-merging an old key into a stack whose
leaves are far behind the manifest's version.
"""

from __future__ import annotations

import json
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from realtime_data_pipeline_spark.streaming import sinks
from realtime_data_pipeline_spark.streaming.sinks import UpsertTable

# a batch: 1-6 unique keys from a small key space so sequences collide
# ACROSS batches (collisions are where upsert bugs live).  Unique keys
# within a batch because dropDuplicates keeps an arbitrary row per key
# — an intra-batch duplicate has no defined model value.
_batch = st.dictionaries(
    st.integers(0, 12), st.integers(0, 10**6), min_size=1, max_size=6
)
_sequences = st.lists(_batch, min_size=1, max_size=6)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seq=_sequences)
def test_merge_sequence_matches_dict_model(
    spark, tmp_path_factory, monkeypatch, seq
):
    # no retention time: the layout bound below counts merges
    monkeypatch.setattr(sinks, "RETAIN_S", 0)
    path = str(tmp_path_factory.mktemp("upsert_model"))
    table = UpsertTable(spark, path, ["k"])
    model: dict[int, int] = {}
    for batch in seq:
        model.update(batch)
        table.merge(
            spark.createDataFrame(list(batch.items()), "k int, v int")
        )

    got = {r.k: r.v for r in table.read().collect()}
    assert got == model

    # the current leaf plus the one its last merge superseded
    versions = [d for d in os.listdir(path) if d.startswith("v=")]
    assert len(versions) <= 2, versions


# Fast-append mode model check: batches carry a window value that
# sometimes advances (append path), sometimes repeats (rewrite path),
# and sometimes lands in an earlier window, out of order, overlapping
# or rewriting stored keys.  After every merge the table must equal
# the same last-write-wins dict regardless of which path each merge
# took, and every leaf the manifest names must be on disk.
_mono_rows = st.dictionaries(
    st.integers(0, 6), st.integers(0, 10**6), min_size=1, max_size=4
)
# window delta: 0 -> repeat the current window, else advance it
_mono_merge = st.tuples(st.just("merge"), st.integers(0, 8), _mono_rows)
# windows back from the current one
_mono_late = st.tuples(st.just("late"), st.integers(1, 3), _mono_rows)
_mono_sequences = st.lists(
    st.one_of(_mono_merge, _mono_late), min_size=1, max_size=6
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seq=_mono_sequences)
def test_monotone_merge_sequence_matches_dict_model(
    spark, tmp_path_factory, monkeypatch, seq
):
    monkeypatch.setattr(sinks, "STACK_MAX", 3)
    path = str(tmp_path_factory.mktemp("upsert_mono_model"))
    table = UpsertTable(spark, path, ["w", "k"], monotone_col="w")
    model: dict[tuple[int, int], int] = {}
    w = 0
    for op, n, batch in seq:
        if op == "merge":
            w += n
        win = w if op == "merge" else w - n
        for k, v in batch.items():
            model[(win, k)] = v
        rows = [(win, k, v) for k, v in batch.items()]
        table.merge(spark.createDataFrame(rows, "w int, k int, v int"))
        got = {(r.w, r.k): r.v for r in table.read().collect()}
        assert got == model, (op, n, batch)

        with open(os.path.join(path, "_CURRENT")) as f:
            m = json.load(f)
        stack = m["buckets"]["0"]
        # layout bound: the stack is capped by STACK_MAX
        assert 1 <= len(stack) <= 3, stack
        for v in stack:
            leaf = os.path.join(path, f"v={v}", "__bucket=0")
            assert os.path.isdir(leaf), leaf
