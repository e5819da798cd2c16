"""The benchmark's own helpers: tail percentile, file-to-batch
mapping, self time, the run's checks and metric lists."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import run, stats


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct = stats.tail(xs)
    assert value == 90 and pct == 90.0
    assert sum(x > value for x in xs) == 10
    # order does not matter
    assert stats.tail(list(reversed(xs))) == (90, 90.0)


def test_tail_with_few_samples():
    assert stats.tail([5, 1, 3]) == (5, 100.0)
    xs = list(range(11))
    assert stats.tail(xs) == (0, 100.0 * 1 / 11)
    with pytest.raises(ValueError):
        stats.tail([])


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5


def _progress(ts: str, dur_ms: int, start, end) -> dict:
    return {"timestamp": ts, "durationMs": {"triggerExecution": dur_ms},
            "sources": [{"startOffset": start, "endOffset": end}]}


def test_file_maps_to_the_batch_that_consumed_it():
    t = stats.parse_progress_time
    progress = [
        _progress("2024-01-01T00:00:00.000Z", 100, None, {"logOffset": 1}),
        # a no-data batch: no new source entries
        _progress("2024-01-01T00:00:01.000Z", 50, {"logOffset": 1}, {"logOffset": 1}),
        _progress("2024-01-01T00:00:02.000Z", 250, {"logOffset": 1}, {"logOffset": 4}),
        _progress("2024-01-01T00:00:03.000Z", 10, {"logOffset": 4}, {"logOffset": 4}),
    ]
    commits = stats.batch_commits(progress)
    assert [(lo, hi) for lo, hi, _ in commits] == [(0, 1), (2, 4)]
    base = t("2024-01-01T00:00:00.000Z")
    assert stats.commit_time(0, commits) == pytest.approx(base + 0.1)
    assert stats.commit_time(1, commits) == pytest.approx(base + 0.1)
    assert stats.commit_time(3, commits) == pytest.approx(base + 2.25)
    assert stats.commit_time(5, commits) is None


def test_freshness_waits_for_every_query():
    base = stats.parse_progress_time("2024-01-01T00:00:00.000Z")
    q1 = [(0, 0, base + 1.0), (1, 1, base + 2.0)]
    q2 = [(0, 1, base + 1.5)]
    due = {"a": base + 0.5, "b": base + 0.75, "c": base}
    offsets = [{"a": 0, "b": 1, "c": 2}, {"a": 0, "b": 1}]
    fresh = stats.freshness_ms(due, offsets, [q1, q2])
    assert fresh["a"] == pytest.approx(1000.0)  # q2 committed last
    assert fresh["b"] == pytest.approx(1250.0)  # q1 committed last
    assert fresh["c"] is None  # never consumed


def test_union_length():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, None, 0, 100),
        _span(2, 1, 10, 30),
        _span(3, 1, 20, 50),  # overlaps its sibling (another thread)
        _span(4, 1, 90, 120),  # runs past its parent
        _span(5, 2, 10, 20),
    ]
    self_ms = stats.self_times(spans)
    assert self_ms[1] == 100 - (40 + 10)
    assert self_ms[2] == 20 - 10
    assert self_ms[3] == 30
    assert self_ms[4] == 30
    assert self_ms[5] == 10


def test_a_corrupted_panel_is_a_failed_operation():
    want = [[(1.5,)], [(3, 1, 10)], [("user_1", 4)]]
    assert all(ok for _, ok in run.check_refreshes([want, want], want))
    bad = [want[0], [(3, 1, 11)], want[2]]
    ops = run.check_refreshes([want, bad], want)
    assert [name for name, ok in ops if not ok] == ["refresh1:panel1"]


def test_merge_layout_tells_appends_from_rewrites(tmp_path):
    (tmp_path / "v=3" / "__bucket=0").mkdir(parents=True)
    (tmp_path / "v=3" / "__bucket=0" / "part.parquet").write_bytes(b"x" * 10)
    before = {"version": 2, "buckets": {"0": [1, 2], "1": 2, "2": 1}}
    after = {"version": 3, "buckets": {"0": [1, 2, 3], "1": 3, "2": 1, "3": 3}}
    assert run.merge_layout(before, after, str(tmp_path)) == {
        "touched": 3, "appended": 2, "bytes": 10}
    assert run.merge_layout(after, after, str(tmp_path))["touched"] == 0


def test_benchmark_json_names_the_reported_metrics():
    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
