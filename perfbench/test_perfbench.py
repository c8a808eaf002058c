"""Self-tests of the benchmark's own parts; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pytest

import feed
import oracle
import spans
import stats

SMALL = feed.FeedSpec(n_batches=3, events_per_batch=400, n_docs=150, dup_tail=20, evolve_at=2)


def _digests(d: str) -> list[str]:
    out = []
    for b in range(SMALL.n_batches):
        with open(feed.batch_file(d, b), "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    feed.write_feed(SMALL, 5, str(tmp_path / "a"))
    feed.write_feed(SMALL, 5, str(tmp_path / "b"))
    feed.write_feed(SMALL, 6, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_generator_feed_properties():
    batches = feed.make_batches(SMALL, 3)
    assert "lang" not in batches[1].column_names
    assert "lang" in batches[2].column_names
    assert batches[1].schema.field("n_tok").type == pa.int32()
    assert batches[2].schema.field("n_tok").type == pa.int64()
    ev = oracle.events_frame(batches)
    assert ev.duplicated(["seq"]).any()  # duplicate tails
    assert (ev["op"] == "D").any()
    seqs = batches[1]["seq"].to_pylist()
    assert seqs != sorted(seqs)  # shuffled rows


def test_cached_feed_is_reused(tmp_path):
    d1 = feed.cached_feed(SMALL, 1, str(tmp_path))
    mtime = os.path.getmtime(feed.batch_file(d1, 0))
    d2 = feed.cached_feed(SMALL, 1, str(tmp_path))
    assert d1 == d2 and os.path.getmtime(feed.batch_file(d2, 0)) == mtime
    assert feed.cached_feed(SMALL, 2, str(tmp_path)) != d1


def _batch(rows, evolved=False):
    cols = {
        "op": [r[0] for r in rows],
        "doc_id": [r[1] for r in rows],
        "seq": pa.array([r[2] for r in rows], pa.int64()),
        "tokens": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
        "n_tok": pa.array([None if r[3] is None else len(r[3]) for r in rows],
                          pa.int64() if evolved else pa.int32()),
        "source": [None if r[3] is None else "web" for r in rows],
    }
    if evolved:
        cols["lang"] = [r[4] if len(r) > 4 else None for r in rows]
    return pa.table(cols)


def test_oracle_hand_written_feed():
    b0 = _batch([
        ("I", "a", 1, [1, 2]),
        ("I", "b", 2, [3]),
        ("U", "a", 4, [9, 9, 9]),  # out of order within the batch:
        ("U", "a", 3, [7]),        # seq 3 arrives after seq 4 and loses
        ("I", "c", 5, [5]),
    ])
    b1 = _batch([
        ("U", "a", 4, [9, 9, 9]),  # duplicate of an event of batch 0
        ("D", "b", 6, None),       # delete
        ("D", "c", 7, None),       # delete ...
        ("I", "c", 8, [8], "de"),  # ... then reinsert, with the new column
        ("I", "d", 9, [4, 4], "en"),
    ], evolved=True)
    state = oracle.lww_state(oracle.events_frame([b0, b1]))
    assert state == {
        "a": ((9, 9, 9), 3, "web", None),
        "c": ((8,), 1, "web", "de"),
        "d": ((4, 4), 2, "web", "en"),
    }
    assert oracle.lww_state(oracle.events_frame([b0])) == {
        "a": ((9, 9, 9), 3, "web", None),
        "b": ((3,), 1, "web", None),
        "c": ((5,), 1, "web", None),
    }


def test_oracle_diff_reports_token_mismatch():
    want = {"a": ((1, 2), 2, "web", None)}
    assert oracle.diff(want, dict(want)) == []
    assert oracle.diff(want, {"a": ((1, 3), 2, "web", None)})
    assert oracle.diff(want, {}) == ["a: expected (tokens[:4]=[1, 2] n_tok=2 source=web lang=None) got absent"]


def test_percentile_refuses_unsupported():
    with pytest.raises(ValueError):
        stats.percentile(list(range(100)), 95)  # 5 beyond p95
    assert stats.percentile(list(range(1, 201)), 95) == 190  # 10 beyond
    with pytest.raises(ValueError):
        stats.percentile(list(range(1, 200)), 95)
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.highest_supported(9) is None
    assert stats.highest_supported(40) == 75
    assert stats.highest_supported(100) == 90
    assert stats.highest_supported(1000) == 99


def _span(i, parent, t0, t1, name="s"):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": name}


def test_self_times_nested_spans():
    sp = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),   # overlaps its sibling: covered once
        _span(4, 2, 1.5, 2.5),   # grandchild: counts against 2, not 1
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped
    ]
    st = spans.self_times(sp)
    assert st[1] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert spans.descendants(sp, 2) == {2, 4}
    assert spans.descendants(sp, 1) == {1, 2, 3, 4, 5}


def test_tracer_records_parents():
    tr = spans.Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("c"):
            pass
    a, b, c = tr.spans
    assert a["parent"] is None and b["parent"] == a["id"] and c["parent"] == a["id"]
    assert a["t0"] <= b["t0"] <= b["t1"] <= c["t0"] <= c["t1"] <= a["t1"]
