"""Tests for the benchmark's own measurement code (no Spark needed).

Run with ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import pytest

from measure import PassTally, Span, Spans, pair_quality, self_times


def test_pair_quality_perfect_split_and_merge():
    truth = {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2}  # f is a true singleton
    exact = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}
    assert pair_quality(exact, truth) == (1.0, 1.0)

    # c split off its group: 1 of 3 true pairs in group 1 kept, d-e kept
    split = {**exact, "c": "c"}
    recall, precision = pair_quality(split, truth)
    assert recall == pytest.approx(2 / 4)
    assert precision == 1.0

    # f wrongly merged into d's cluster: 2 false pairs (d-f, e-f) of 3+3
    merged = {**exact, "f": "d"}
    recall, precision = pair_quality(merged, truth)
    assert recall == 1.0
    assert precision == pytest.approx(4 / 6)


def test_pair_quality_without_pairs():
    assert pair_quality({"a": "a", "b": "b"}, {}) == (1.0, 1.0)


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, "root", "r"),
        Span("b", 3.0, 6.0, "root", "r"),   # overlaps a: covered 1..6
        Span("a.x", 1.5, 2.0, "a", "r"),    # grandchild: only a loses it
        Span("other", 0.0, 5.0, "root", "s"),  # another run: ignored
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["b"] == pytest.approx(3.0)


def test_spans_record_parents():
    spans = Spans("r")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    rec = {r["name"]: r for r in spans.as_records()}
    assert rec["inner"]["parent"] == "outer"
    assert rec["outer"]["parent"] is None
    assert 0 <= rec["outer"]["self_s"] <= rec["outer"]["end"] - rec["outer"]["start"]


def test_tally_counts_checksum_mismatch_against_pin():
    tally = PassTally(expected=(10, 3, 123))
    assert tally.record((10, 3, 123))
    assert not tally.record((10, 3, 999))
    assert not tally.record(None, "RuntimeError: boom")
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.ok_frac == pytest.approx(1 / 3)


def test_tally_without_pin_uses_first_pass():
    tally = PassTally()
    tally.record((10, 3, 123))
    tally.record((10, 3, 124))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.expected == (10, 3, 123)
