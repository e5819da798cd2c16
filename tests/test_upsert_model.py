"""Property-based model check for the keyed-upsert sink: any sequence
of merges must leave the table equal to a last-write-wins dict, with
vacuum keeping the on-disk layout bounded.  Complements the targeted
tests (idempotent replay, untouched buckets, churn soak) with
adversarial sequences hypothesis finds — e.g. re-merging an old key
into a bucket whose version is far behind the manifest's.
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
def test_merge_sequence_matches_dict_model(spark, tmp_path_factory, seq):
    path = str(tmp_path_factory.mktemp("upsert_model"))
    table = UpsertTable(spark, path, ["k"], n_buckets=4)
    model: dict[int, int] = {}
    for batch in seq:
        model.update(batch)
        table.merge(
            spark.createDataFrame(list(batch.items()), "k int, v int")
        )

    got = {r.k: r.v for r in table.read().collect()}
    assert got == model

    versions = [d for d in os.listdir(path) if d.startswith("v=")]
    assert len(versions) <= 4 + 1, versions


# Fast-append mode model check: batches carry a window value that
# sometimes advances (append path) and sometimes repeats or goes back
# (rewrite path), interleaved with deletes of keys from recent windows
# (merge and delete_keys share one commit path).  After every
# operation the table must equal the same last-write-wins dict
# regardless of which path each merge took, and every leaf the
# manifest names must be on disk.
_mono_merge = st.tuples(
    st.just("merge"),
    st.tuples(
        st.integers(0, 8),  # window delta: 0 -> repeat, else advance
        st.dictionaries(
            st.integers(0, 6), st.integers(0, 10**6), min_size=1, max_size=4
        ),
    ),
)
_mono_delete = st.tuples(
    st.just("delete"),
    # (windows back from the current one, k)
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 6)),
        min_size=1,
        max_size=3,
    ),
)
_mono_sequences = st.lists(
    st.one_of(_mono_merge, _mono_delete), min_size=1, max_size=6
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
    table = UpsertTable(spark, path, ["w", "k"], n_buckets=4, monotone_col="w")
    model: dict[tuple[int, int], int] = {}
    w = 0
    for op, arg in seq:
        if op == "merge":
            delta, batch = arg
            w += delta  # delta 0 = same window again (forces rewrite path)
            for k, v in batch.items():
                model[(w, k)] = v
            rows = [(w, k, v) for k, v in batch.items()]
            table.merge(spark.createDataFrame(rows, "w int, k int, v int"))
        else:
            keys = sorted({(w - back, k) for back, k in arg})
            for key in keys:
                model.pop(key, None)
            table.delete_keys(spark.createDataFrame(keys, "w int, k int"))
        df = table.read()
        got = {} if df is None else {(r.w, r.k): r.v for r in df.collect()}
        assert got == model, (op, arg)

        try:
            with open(os.path.join(path, "_CURRENT")) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue  # a delete before any merge creates no table
        for b, stack in m["buckets"].items():
            # layout bound: every bucket's stack is capped by STACK_MAX
            assert 1 <= len(stack) <= 3, (b, stack)
            for v in stack:
                leaf = os.path.join(path, f"v={v}", f"__bucket={b}")
                assert os.path.isdir(leaf), leaf
