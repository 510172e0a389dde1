"""The mechanical cross-round comparison rule (tools/bench_compare.py):
totals compare only when every canary leg's band overlaps and the median
per-query ratio stays inside the band; otherwise per-query fallback with
movers flagged."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_compare import compare  # noqa: E402


def _artifact(total, queries, fault, copy, sha):
    return {
        "value": total,
        "queries": queries,
        "tide": {
            "pre": {
                "fault_in_gbps": fault,
                "copy_gbps": copy,
                "cpu_sha_gbps": sha,
            },
            "post": {
                "fault_in_gbps": fault,
                "copy_gbps": copy,
                "cpu_sha_gbps": sha,
            },
        },
    }


def test_overlapping_bands_compare_totals():
    old = _artifact(100.0, {"a": 1.0, "b": 2.0}, 5.5, 8.0, 1.3)
    new = _artifact(110.0, {"a": 1.1, "b": 2.1}, 5.8, 7.9, 1.25)
    r = compare(old, new)
    assert r["comparable"] is True
    assert r["ratio"] == 1.1
    assert r["movers"] == []


def test_disjoint_band_blocks_totals_and_names_leg():
    old = _artifact(100.0, {"a": 1.0}, 5.5, 8.0, 1.3)
    new = _artifact(180.0, {"a": 1.9}, 1.2, 1.4, 1.3)  # loaded window
    r = compare(old, new)
    assert r["comparable"] is False
    assert "fault_in_gbps" in r["reason"] and "copy_gbps" in r["reason"]
    assert "ratio" not in r
    # 1.9x is under the default 2x mover threshold
    assert r["movers"] == []


def test_pre_canary_artifact_falls_back():
    old = {"value": 100.0, "queries": {"a": 1.0}}  # r11 and earlier
    new = _artifact(100.0, {"a": 2.5}, 5.5, 8.0, 1.3)
    r = compare(old, new)
    assert r["comparable"] is False
    assert "pre-r12" in r["reason"]
    assert r["movers"] == [
        {"query": "a", "old": 1.0, "new": 2.5, "ratio": 2.5}
    ]


def test_added_and_removed_queries_are_listed_not_counted():
    old = _artifact(10.0, {"a": 1.0, "gone": 3.0}, 5.5, 8.0, 1.3)
    new = _artifact(10.0, {"a": 1.0, "fresh": 2.0}, 5.5, 8.0, 1.3)
    r = compare(old, new)
    assert r["comparable"] is True
    by_q = {m["query"]: m for m in r["movers"]}
    assert by_q["gone"]["new"] is None and by_q["gone"]["ratio"] is None
    assert by_q["fresh"]["old"] is None and by_q["fresh"]["ratio"] is None
    assert set(by_q) == {"gone", "fresh"}


def test_moved_window_blocks_totals_despite_overlapping_canaries():
    """Canaries overlap, yet the queries the change does not touch all ran
    at 0.35-0.42x: the window moved, so the totals are not comparable."""
    old_q = {"touched": 2.0, "q6": 1.0, "hist": 1.0, "mm": 1.0, "kw": 1.0}
    new_q = {"touched": 1.0, "q6": 0.35, "hist": 0.39, "mm": 0.40,
             "kw": 0.42}
    old = _artifact(6.0, old_q, 5.5, 8.0, 1.3)
    new = _artifact(2.56, new_q, 5.4, 7.6, 1.28)
    r = compare(old, new)
    assert r["comparable"] is False
    assert "window moved" in r["reason"]
    assert "ratio" not in r
    assert r["median_query_ratio"] == 0.4
    assert [m["query"] for m in r["movers"]] == ["hist", "kw", "mm", "q6"]
