"""Materialize a retraction changelog for checks against a batch
oracle."""

from __future__ import annotations

from collections import Counter

from my_flink_1_10_2_spark.streaming.retraction_join import CHANGE_COL


def apply_changelog(rows: list[dict]) -> list[tuple]:
    """Materialize a +I/-D changelog into the current multiset of rows
    (what a retract-aware sink like the reference's RetractStreamTableSink
    would hold)."""
    acc: Counter = Counter()
    for r in rows:
        d = dict(r)
        change = d.pop(CHANGE_COL)
        key = tuple(sorted(d.items(), key=lambda kv: kv[0]))
        if change == "+I":
            acc[key] += 1
        elif change == "-D":
            acc[key] -= 1
        else:
            raise ValueError(f"unknown change flag {change}")
    out: list[tuple] = []
    for key, n in acc.items():
        if n < 0:
            raise AssertionError(f"negative multiplicity for {key}")
        out.extend([key] * n)
    return sorted(out)
