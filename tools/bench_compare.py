"""Apply the cross-round bench comparison rule (BASELINE.md round-12)
mechanically to two ``BENCH_FULL.json`` artifacts.

The rule the r11/r12 tide study produced: wall-clock TOTALS are
comparable only between artifacts whose canary bands overlap on EVERY
leg (fault-in, copy, cpu-sha; pre and post pooled per artifact). When
they do not — or when an artifact predates the canary — totals carry no
signal and the comparison falls back to per-query values, flagging only
large movers for adjudication against per-query history.

Overlapping canaries are necessary, not sufficient: two sf0.1 artifacts
taken 9 minutes apart had overlapping bands on every leg while queries
neither side's code touched ran at 0.35-0.42x. So the median per-query
new/old ratio over the queries both artifacts hold is a second check: a
code change moves some queries, a moved window moves the typical one.
When that median falls outside 1 +/- ``BAND_MARGIN``, the totals are not
comparable either.

Usage:
  python tools/bench_compare.py OLD.json NEW.json [--mover-threshold 2.0]

Prints one JSON line:
  {"comparable": bool, "reason": str,
   "total_old": s, "total_new": s, "ratio": r,     # ratio only if comparable
   "median_query_ratio": r,                        # null if no common query
   "movers": [{"query": q, "old": s, "new": s, "ratio": r}, ...]}

``movers`` lists queries whose new/old ratio exceeds the threshold in
either direction (new queries and removed queries are listed with null
on the missing side, never counted as movers). Exit code is always 0 —
the tool reports, the reader adjudicates.
"""

from __future__ import annotations

import argparse
import json
import statistics

# A leg may drift a little between two genuinely comparable windows;
# intervals are widened by this relative margin before the overlap test
# (the r12 healthy window itself spanned ~±8% per leg across runs).
BAND_MARGIN = 0.15

_LEGS = ("fault_in_gbps", "copy_gbps", "cpu_sha_gbps")


def _leg_intervals(artifact: dict) -> dict[str, tuple[float, float]] | None:
    """Pooled [lo, hi] per canary leg from an artifact's pre + mid +
    post readings; None when the artifact carries no canary (pre-r12)
    or lacks a leg (the cpu leg arrived after the memory legs). Mid-run
    probes (r12, `tide.mid`) matter: a pre/post-only pool certified a
    run whose MIDDLE carried a 2-3.4x tide dip — pooling the mid
    readings widens the interval and mechanically blocks
    total-to-total comparison for such runs."""
    tide = artifact.get("tide")
    if not isinstance(tide, dict):
        return None
    sides = [tide.get("pre"), tide.get("post")]
    mid = tide.get("mid")
    if isinstance(mid, list):
        sides.extend(mid)
    out: dict[str, tuple[float, float]] = {}
    for leg in _LEGS:
        vals = [
            s[leg] for s in sides if isinstance(s, dict) and leg in s
        ]
        if not vals:
            return None
        out[leg] = (min(vals), max(vals))
    return out


def _overlap(a: tuple[float, float], b: tuple[float, float]) -> bool:
    alo, ahi = a[0] * (1 - BAND_MARGIN), a[1] * (1 + BAND_MARGIN)
    blo, bhi = b[0] * (1 - BAND_MARGIN), b[1] * (1 + BAND_MARGIN)
    return alo <= bhi and blo <= ahi


def _median_query_ratio(qo: dict, qn: dict) -> float | None:
    """Median new/old wall ratio over the queries both artifacts timed."""
    ratios = [qn[q] / qo[q] for q in set(qo) & set(qn) if qo[q] > 0]
    return round(statistics.median(ratios), 3) if ratios else None


def compare(old: dict, new: dict, mover_threshold: float = 2.0) -> dict:
    qo, qn = old.get("queries", {}), new.get("queries", {})
    median = _median_query_ratio(qo, qn)
    result: dict = {
        "total_old": old.get("value"),
        "total_new": new.get("value"),
        "median_query_ratio": median,
    }
    bands_old, bands_new = _leg_intervals(old), _leg_intervals(new)
    if bands_old is None or bands_new is None:
        result["comparable"] = False
        result["reason"] = (
            "artifact without a full canary (pre-r12): totals carry no "
            "environment signal — per-query fallback"
        )
    else:
        bad = [
            leg for leg in _LEGS
            if not _overlap(bands_old[leg], bands_new[leg])
        ]
        if bad:
            result["comparable"] = False
            result["reason"] = (
                "canary bands disjoint on: " + ", ".join(bad)
                + " — totals measure the environment, not the code; "
                "per-query fallback"
            )
        elif median is not None and abs(median - 1) > BAND_MARGIN:
            result["comparable"] = False
            result["reason"] = (
                "window moved: canary bands overlap but the median "
                f"query ran at {median}x — totals measure the window, "
                "not the code; per-query fallback"
            )
        else:
            result["comparable"] = True
            result["reason"] = (
                "canary bands overlap on every leg and the median query "
                "ratio is inside the band"
            )
            if result["total_old"]:
                result["ratio"] = round(
                    result["total_new"] / result["total_old"], 3
                )
    movers = []
    for q in sorted(set(qo) | set(qn)):
        a, b = qo.get(q), qn.get(q)
        if a is None or b is None:
            movers.append({"query": q, "old": a, "new": b, "ratio": None})
        elif a > 0 and max(b / a, a / b) > mover_threshold:
            movers.append(
                {"query": q, "old": a, "new": b, "ratio": round(b / a, 2)}
            )
    result["movers"] = movers
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--mover-threshold", type=float, default=2.0)
    args = ap.parse_args()
    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    print(json.dumps(compare(old, new, args.mover_threshold)))


if __name__ == "__main__":
    main()
