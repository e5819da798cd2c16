"""The workload generator: deterministic in the seed, and never late
beyond what the pipeline's watermark covers."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gen, run


def max_delay_s(ev: gen.Events) -> float:
    """Largest lag of any event behind the newest event emitted before
    it (file order, then line order) — what the watermark must cover."""
    newest = np.maximum.accumulate(ev.ts_us)
    return float((newest - ev.ts_us).max()) / 1e6


SHAPES = {
    "replay": run.REPLAY,
    "paced": run.paced_shape(15),
    "warm": run.WARM,
}


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_same_seed_gives_byte_identical_files(name, tmp_path):
    shape = SHAPES[name]
    for d in ("a", "b"):
        ev = gen.make_events(shape, seed=7)
        gen.write_files(gen.render(ev) + [gen.render_sentinel(ev)], str(tmp_path / d), "f")
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    assert len(names) == shape.files + 1
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()


def test_other_seed_gives_other_events():
    a = gen.render(gen.make_events(run.WARM, seed=1))
    b = gen.render(gen.make_events(run.WARM, seed=2))
    assert a != b


@pytest.mark.parametrize("name", sorted(SHAPES))
@pytest.mark.parametrize("seed", [0, 1, 99])
def test_no_event_is_later_than_the_watermark_margin(name, seed):
    shape = SHAPES[name]
    ev = gen.make_events(shape, seed)
    delay = max_delay_s(ev)
    assert delay <= shape.delay_bound_s < gen.WATERMARK_S
    # the out-of-order share is really there
    assert delay > shape.file_span_s


def test_delay_bound_at_the_watermark_is_refused():
    shape = gen.Shape(files=2, events_per_file=10, file_span_s=400.0, zipf=None,
                      late_share=0.5, max_delay_s=200.0)
    with pytest.raises(ValueError):
        gen.make_events(shape, 0)


def test_wire_format_and_key_spaces():
    ev = gen.make_events(SHAPES["paced"], seed=3)
    lines = b"".join(gen.render(ev)).decode().splitlines()
    assert len(lines) == SHAPES["paced"].events
    rec = json.loads(lines[0])
    assert list(rec) == ["user_id", "item_id", "interaction_type", "timestamp"]
    assert rec["timestamp"].endswith("Z")
    assert ev.user.min() >= 1 and ev.user.max() <= gen.N_USERS
    assert ev.item.min() >= 1 and ev.item.max() <= gen.N_ITEMS
    assert set(ev.kind.tolist()) == set(range(len(gen.TYPES)))
    # Zipf keys: the hottest user is far above the uniform share
    top = np.bincount(ev.user).max() / ev.user.size
    assert top > 100 / gen.N_USERS


def test_sentinel_lies_past_every_window():
    ev = gen.make_events(run.WARM, seed=4)
    rec = json.loads(gen.render_sentinel(ev))
    last = json.loads(b"".join(gen.render(ev)).decode().splitlines()[-1])
    assert rec["timestamp"] > last["timestamp"]
    assert rec["user_id"] == "user_0"  # outside the real key space


def test_events_parquet_matches_the_wire_files(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    ev = gen.make_events(run.WARM, seed=5)
    table = pq.read_table(gen.write_events_parquet(ev, str(tmp_path))).to_pylist()
    lines = [json.loads(x) for x in b"".join(gen.render(ev)).decode().splitlines()]
    assert len(table) == len(lines)
    for row, rec in zip(table, lines):
        assert f"user_{row['user_id']}" == rec["user_id"]
        assert f"item_{json.loads(row['props'])['k']}" == rec["item_id"]
        assert row["ts"].isoformat() == rec["timestamp"][:-1]
