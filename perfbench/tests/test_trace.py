"""Span bookkeeping and the event-log parser."""

from __future__ import annotations

import os

import pytest

from perfbench import trace as T

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_self_time_subtracts_children():
    t = T.Tracer()
    t.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert t.self_ms(0) == pytest.approx(5000.0)  # 10 - covered [1, 6]
    assert t.self_ms(1) == pytest.approx(2000.0)
    assert t.self_ms(3) == pytest.approx(1000.0)
    assert t.ms("a") == pytest.approx(3000.0)


def test_spans_record_parents():
    t = T.Tracer()
    with t.span("root"):
        with t.span("child"):
            pass
        with t.span("sibling"):
            pass
    recs = t.records()
    assert [(r["name"], r["parent"]) for r in recs] == [("root", None), ("child", 0), ("sibling", 0)]
    assert all(r["end_ms"] >= r["start_ms"] for r in recs)


def test_event_log_counts():
    """A recorded local[2] log of three described jobs: a mapInPandas over
    2 partitions, a groupBy with 3 shuffle partitions, and a broadcast
    join (adaptive execution off)."""
    with open(LOG) as f:
        p = T.parse_event_log(f)
    layers = p["layers"]
    assert set(layers) == {"py.layer", "shuffle.layer", "bcast.layer"}
    assert [layers[k]["tasks"] for k in ("py.layer", "shuffle.layer", "bcast.layer")] == [3, 6, 5]
    assert layers["py.layer"]["python_bytes"] == 16832
    assert layers["py.layer"]["python_ms"] == 4719
    assert layers["shuffle.layer"]["shuffle_write_bytes"] == 653
    assert layers["bcast.layer"]["broadcast_bytes"] == 1048656
    assert "python_bytes" not in layers["shuffle.layer"]
    assert T.layer_sum(layers, "tasks") == 14
    assert T.layer_sum(layers, "cpu_ns", "py.") == 659346416
    assert sum(r.get("task_retries", 0) for r in layers.values()) == 0
    assert len(p["stage_task_ms"]) == 8
    assert T.task_skew(p) == pytest.approx(3146 / 3127)
