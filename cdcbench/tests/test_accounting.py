"""Span self-time accounting and the oracle comparison, on tiny fixtures."""

import hashlib

from pyspark.sql import SparkSession

from cdcbench.oracle import compare_states
from cdcbench.trace import Span, batch_accounting
from cdcbench.workloads import last_write_oracle


def test_self_time_is_interval_minus_children():
    intervals = [(0.0, 1.0), (1.0, 3.0)]
    spans = [Span("sources.plan", 0.1, 0.3), Span("lake.merge", 0.3, 0.8),
             Span("lake.merge", 1.5, 2.5), Span("lake.expire", 2.5, 2.6)]
    out = batch_accounting(intervals, spans)
    assert out["problems"] == []
    assert [round(b["children"], 6) for b in out["batches"]] == [0.7, 1.1]
    assert [round(b["self"], 6) for b in out["batches"]] == [0.3, 0.9]
    for b in out["batches"]:
        assert abs(b["children"] + b["self"] - b["interval"]) < 1e-9


def test_overlapping_children_are_reported():
    out = batch_accounting([(0.0, 1.0)], [Span("a", 0.1, 0.6),
                                          Span("b", 0.4, 0.9)])
    assert out["batches"][0]["children"] == 0.8
    assert any("overlapping" in p for p in out["problems"])


def test_span_across_a_batch_boundary_is_reported():
    out = batch_accounting([(0.0, 1.0), (1.0, 2.0)],
                           [Span("lake.merge", 0.9, 1.2)])
    assert any("crosses" in p for p in out["problems"])


def test_spans_outside_the_replay_are_ignored():
    # e.g. the snapshot's merge, before the first replay call
    out = batch_accounting([(10.0, 11.0)], [Span("lake.merge", 1.0, 2.0)])
    assert out["problems"] == []
    assert out["batches"][0]["self"] == 1.0


def test_oracle_match():
    expected = {("r", "a"): "1", ("r", "b"): "2"}
    out = compare_states([("r", "a", "1"), ("r", "b", "2")], expected)
    assert out["ok"] and out["rows"] == 2


def test_oracle_mismatches_are_each_counted():
    expected = {("r", "a"): "1", ("r", "b"): "2", ("r", "c"): "3"}
    actual = [("r", "a", "1"), ("r", "a", "1"), ("r", "b", "x"),
              ("r", "d", "4")]
    out = compare_states(actual, expected)
    assert not out["ok"]
    assert (out["duplicated"], out["missing"], out["unexpected"],
            out["differing"]) == (1, 1, 1, 1)
    assert out["missing_examples"] == [["r", "c"]]


def test_last_write_oracle_on_a_tiny_log():
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    events = spark.createDataFrame(
        [("r", "a", "r", -1, "a0"), ("r", "b", "r", -1, "b0"),
         ("r", "a", "u", 5, "a1"), ("r", "b", "d", 3, None),
         ("r", "c", "c", 2, "c1"), ("r", "c", "u", 1, "stale")],
        "repo string, path string, op string, offset long, content string")
    got = {(r.repo, r.path): r.sha
           for r in last_write_oracle(events).collect()}
    assert got == {("r", k): hashlib.sha256(c.encode()).hexdigest()
                   for k, c in (("a", "a1"), ("c", "c1"))}
