"""Round-over-round bench regression gate.

Usage:
    python tools/bench_diff.py OLD NEW [--threshold 1.5]

OLD / NEW are bench JSON files: either the driver's ``BENCH_r{N}.json``
(which wraps the payload under a ``parsed`` key) or a raw one-line output
of ``bench.py``. Per-query times are compared; any query slower than
``threshold`` x the old time is flagged and the exit code is nonzero.

Sub-0.3s entries are noise-dominated on local[32] (Spark's per-job floor),
so a regression is only flagged when the NEW time also exceeds 0.3s.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

NOISE_FLOOR_SEC = 0.3


def load_bench(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    data = json.loads(text)
    if "parsed" in data and isinstance(data["parsed"], dict):
        data = data["parsed"]
    # r7: stdout payloads are COMPACT (headline queries only) and carry a
    # "full" pointer to the complete payload written next to bench.py —
    # merge it when present so per-query diffs cover the whole bench set.
    # CAVEAT: BENCH_FULL_LATEST.json is overwritten per run; it matches the
    # compact payload only for the newest round (older rounds should diff
    # against their committed BENCH_LOCAL_r{N}.json full copies instead).
    full_name = data.get("full")
    if full_name and "value" in data:
        full_path = os.path.join(os.path.dirname(os.path.abspath(path)), full_name)
        try:
            with open(full_path) as f:
                full = json.load(f)
            if full.get("value") == data.get("value") and "queries" in full:
                data = full
        except OSError:
            pass
    if "queries" not in data:
        raise SystemExit(f"{path}: no 'queries' key — not a bench payload")
    return data


def diff(old: dict, new: dict, threshold: float) -> list[str]:
    regressions = []
    # a query listed in the NEW payload's queries_retired was removed
    # deliberately (bench.py records retirements when diffing against the
    # previous round) — report it, don't fail the gate on it
    retired = set(new.get("queries_retired", []))
    # bench.py pins explicit per-query comparison points (REBASED_BASELINES,
    # r8): when the OLD artifact's number was measured under a retired
    # methodology (e.g. r5 warm-cache bests), the pinned honest-cold number
    # is the comparable one — a new time within threshold of the pin is
    # annotated, not gate-failed
    rebased = new.get("rebased_baselines", {}) or {}
    # bench.py marks flags whose OLD baseline reused a warm cache across
    # reps while the new run measures cold (r6 caller-owns-cache change):
    # a known comparability artifact, annotated instead of gate-failed
    warm = {
        e["query"]
        for e in new.get("regressions", [])
        if isinstance(e, dict) and e.get("baseline_warm_cache")
    }
    # a compact stdout payload whose full file couldn't be merged only
    # carries the headline queries — diff those, don't call the rest "gone"
    new_is_partial = len(new["queries"]) < new.get("n_queries_timed", 0)
    if new_is_partial:
        print(
            f"note: NEW payload is compact ({len(new['queries'])} of "
            f"{new['n_queries_timed']} timed queries; full file not found) "
            f"— diff limited to the headline set"
        )
    print(f"{'query':<32} {'old':>8} {'new':>8} {'ratio':>7}")
    for name, t_old in sorted(old["queries"].items()):
        t_new = new["queries"].get(name)
        if t_new is None:
            if name in retired:
                print(f"{name:<32} {t_old:>8.3f} {'—':>8} {'retired':>7}")
            elif new_is_partial:
                print(f"{name:<32} {t_old:>8.3f} {'—':>8} {'n/a':>7}")
            else:
                print(f"{name:<32} {t_old:>8.3f} {'—':>8} {'gone':>7}")
                regressions.append(f"{name}: missing from new bench")
            continue
        ratio = t_new / t_old if t_old > 0 else float("inf")
        flag = ""
        if ratio > threshold and t_new > NOISE_FLOOR_SEC:
            if name in rebased and t_new <= threshold * rebased[name]:
                flag = (
                    f"  (baseline re-based to {rebased[name]:.3f}s; "
                    f"within gate)"
                )
            elif name in warm:
                flag = "  (warm-cache baseline; not comparable)"
            else:
                flag = "  << REGRESSION"
                regressions.append(
                    f"{name}: {t_old:.3f}s -> {t_new:.3f}s ({ratio:.2f}x)"
                )
        print(f"{name:<32} {t_old:>8.3f} {t_new:>8.3f} {ratio:>6.2f}x{flag}")
    for name in sorted(set(new["queries"]) - set(old["queries"])):
        print(f"{name:<32} {'—':>8} {new['queries'][name]:>8.3f} {'new':>7}")
    t_old, t_new = old.get("value"), new.get("value")
    if t_old and t_new:
        print(f"{'TOTAL':<32} {t_old:>8.3f} {t_new:>8.3f} {t_new / t_old:>6.2f}x")
    # canary-normalized (load-corrected) totals are the cross-round
    # comparison when both payloads carry them (r9): raw totals above stay
    # for continuity, but a raw ratio tracking the canary ratio is host
    # drift, not code — the normalized ratio divides that out.
    no, nn = old.get("value_canary_norm"), new.get("value_canary_norm")
    if no and nn:
        print(
            f"{'TOTAL (canary-normalized)':<32} {no:>8.3f} {nn:>8.3f} "
            f"{nn / no:>6.2f}x  (load-corrected; compare THIS across rounds)"
        )
    # host-load context (r8): when both payloads carry the constant-work
    # canary, print the load ratio — a TOTAL ratio tracking the canary
    # ratio is host drift, not a code change. Context only; the per-query
    # gate above is unaffected.
    def _canary(p: dict) -> float | None:
        vals = [p[k] for k in ("canary_start_sec", "canary_end_sec") if k in p]
        return sum(vals) / len(vals) if vals else None

    co, cn = _canary(old), _canary(new)
    if co and cn:
        print(
            f"{'canary (host load)':<32} {co:>8.3f} {cn:>8.3f} "
            f"{cn / co:>6.2f}x  (ratios near this are drift, not code)"
        )
    return regressions


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()
    regs = diff(load_bench(args.old), load_bench(args.new), args.threshold)
    if regs:
        print(f"\n{len(regs)} regression(s) over {args.threshold}x:", file=sys.stderr)
        for r in regs:
            print(f"  {r}", file=sys.stderr)
        sys.exit(1)
    print("\nno regressions")
