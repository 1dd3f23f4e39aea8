#!/usr/bin/env python3
"""Per-query bench regression gate (dev tool, not shipped).

Diffs a fresh BENCH_DETAIL.json (warm protocol, med+min per query) against the
checked-in baseline and fails on real per-query regressions. Comparison uses
the per-query MIN of the timed reps: the r05 driver bench showed medians
inflate up to 12x under machine contention while minima stay stable, so min is
the contention-robust number (BENCH_HISTORY.md r05 note).

A query regresses when BOTH hold (guards against flagging sub-noise queries):
  new_min > THRESHOLD * base_min     (default 1.5x, the round-close bar)
  new_min - base_min > ABS_FLOOR     (default 0.3s)

Usage:
  python3 tools/bench_gate.py BENCH_DETAIL.json             # gate vs baseline
  python3 tools/bench_gate.py BENCH_DETAIL.json --update    # accept as baseline
Exit 0 = no regressions; exit 1 = regressions or failed queries (Bench's
`"error"` entries) listed on stdout.
"""
import json
import sys

BASELINE = "tools/bench_baseline.json"
THRESHOLD = 1.5
ABS_FLOOR = 0.3


def load(path):
    with open(path) as f:
        d = json.load(f)
    qs = d.get("queries", d)
    return {k: v["min"] if isinstance(v, dict) else float(v)
            for k, v in qs.items()
            if not (isinstance(v, dict) and "error" in v)}


def errors(path):
    """Queries the run recorded as thrown (`"error"` entries, no times)."""
    with open(path) as f:
        qs = json.load(f).get("queries", {})
    return {k: v["error"] for k, v in qs.items()
            if isinstance(v, dict) and "error" in v}


def canary_drift(detail, q):
    """Within-run load thermometer at q's ord window (r13 verdict #4): the
    canary (tpch_q6) is timed every ~25 run positions; a flagged query whose
    neighbouring canary points are inflated vs the run's canary MINIMUM was
    measured under machine load, one with flat neighbours under quiet
    conditions — the machine-vs-code call made from data already in the
    detail file. Points where the canary threw carry an "error" and no time,
    and are skipped. Returns (drift_ratio, ord) or None when the run carries
    no timed canary point (pre-r14 files)."""
    pts = [p for p in detail.get("canary", {}).get("points", [])
           if "error" not in p]
    qinfo = detail.get("queries", {}).get(q)
    if not pts or not isinstance(qinfo, dict) or "ord" not in qinfo:
        return None
    floor_s = min(p["s"] for p in pts)
    if floor_s <= 1e-9:
        return None
    ord_ = qinfo["ord"]
    near = sorted(pts, key=lambda p: abs(p["ord"] - ord_))[:2]
    window = sum(p["s"] for p in near) / len(near)
    return window / floor_s, ord_


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    new_path = args[0] if args else "BENCH_DETAIL.json"
    new = load(new_path)
    failed = errors(new_path)
    for q, e in sorted(failed.items()):
        print(f"FAILED {q}: {e}")
    if "--update" in sys.argv:
        if failed:
            print("not accepting a run with failed queries as the baseline")
            return 1
        with open(new_path) as f:
            detail = json.load(f)
        with open(BASELINE, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"baseline <- {new_path} ({len(new)} queries)")
        return 0
    base = load(BASELINE)
    with open(new_path) as f:
        new_detail = json.load(f)
    regressions, improved, added = [], [], []
    for q, t in sorted(new.items()):
        b = base.get(q)
        if b is None:
            added.append(q)
        elif t > THRESHOLD * b and t - b > ABS_FLOOR:
            regressions.append((q, b, t))
        elif b > THRESHOLD * t and b - t > ABS_FLOOR:
            improved.append((q, b, t))
    removed = sorted(set(base) - set(new))
    for q, b, t in regressions:
        cd = canary_drift(new_detail, q)
        note = ""
        if cd is not None:
            drift, ord_ = cd
            verdict = ("machine-load at this ord window" if drift >= 1.3
                       else "canary flat -> likely code")
            note = f"  [canary x{drift:.2f} @ ord {ord_}: {verdict}]"
        print(f"REGRESSION {q}: {b:.2f}s -> {t:.2f}s ({t / b:.1f}x){note}")
    for q, b, t in improved:
        print(f"improved   {q}: {b:.2f}s -> {t:.2f}s")
    if added:
        print(f"new (no baseline): {', '.join(added)}")
    if removed:
        print(f"missing vs baseline: {', '.join(removed)}")
    tot_b = sum(base.get(q, 0) for q in new if q in base)
    tot_n = sum(t for q, t in new.items() if q in base)
    print(f"total (shared queries): {tot_b:.1f}s -> {tot_n:.1f}s; "
          f"{len(regressions)} regression(s) at >{THRESHOLD}x + >{ABS_FLOOR}s")
    # Drift-signature aid (BENCH_HISTORY r09b/c/e/f, r10b): machine drift
    # moves unchanged queries in BOTH directions between runs. Count the
    # softer >1.3x movers each way so the adjudicator sees the signature in
    # the gate output itself; flags still require the isolated-ProbeQ +
    # git-diff protocol before any fix is filed.
    up = sum(1 for q, t in new.items()
             if q in base and t > 1.3 * base[q] and t - base[q] > 0.1)
    down = sum(1 for q, t in new.items()
               if q in base and base[q] > 1.3 * t and base[q] - t > 0.1)
    if regressions:
        print(f"drift check: {up} quer{'y' if up == 1 else 'ies'} up >1.3x, "
              f"{down} down >1.3x — both-directions movement with unchanged "
              f"code suggests machine drift (adjudicate: isolated ProbeQ + "
              f"git diff per flagged query)")
    return 1 if regressions or failed else 0


if __name__ == "__main__":
    sys.exit(main())
