"""Compare two sets of perfbench results, or show the spread of one.

    python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py spread DIR

Each DIR holds result records written by ``run.py`` (searched recursively;
untraced runs only).  ``compare`` pairs the i-th parent run of a workload
with the i-th change run in time order (run them alternately) and prints,
for every (workload, metric), both sides' median and quartiles and a
verdict:

- improved: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's
  interquartile range;
- unresolved: fewer than 10 pairs, or the parent's spread (IQR / median)
  is wider than the metric's bound and not every change run beats every
  parent run;
- worse: the change's median is worse than the parent's by more than the
  bound;
- no-worse: otherwise.

Bounds come from ``BENCHMARK.json``.  Metrics printed by a workload but
not listed there as end-to-end (``merge_s_p50``, ``dedup_recall``, ...)
have no bound: they are improved or worse by the pair rule above, else
unresolved.  ``spread`` prints each metric's IQR / median beside its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d: Path) -> dict[str, list[dict]]:
    """Untraced records by workload, oldest first."""
    by: dict[str, list[dict]] = defaultdict(list)
    for f in d.rglob("*.json"):
        r = json.loads(f.read_text())
        if r.get("trace") == 0 and "metrics" in r:
            by[r["workload"]].append(r)
    for v in by.values():
        v.sort(key=lambda r: r["time"])
    return by


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def specs() -> dict[str, dict]:
    """End-to-end metrics with their bounds, then the unbounded rest (the
    per-layer entries cover the workload-specific metrics a run prints)."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = {m["name"]: m for m in bench["end_to_end"]}
    for m in bench["per_layer"] + [{"name": "fail_frac", "better": "lower"}]:
        out.setdefault(m["name"], {**m, "bound": None})
    return out


def verdict(parent: list[float], change: list[float], better: str, bound: float | None) -> str:
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(sign * (p - c) > 0 for p, c in pairs)
    losses = sum(sign * (c - p) > 0 for p, c in pairs)
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    apart = abs(c_med - p_med) > (p_q3 - p_q1)
    if len(pairs) < 10:
        return "unresolved"
    if wins >= 0.9 * len(pairs) and apart:
        return "improved"
    if bound is None:
        return "worse" if losses >= 0.9 * len(pairs) and apart else "unresolved"
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if p_med and (p_q3 - p_q1) / abs(p_med) > bound and not all_better:
        return "unresolved"
    if p_med and sign * (c_med - p_med) / abs(p_med) > bound:
        return "worse"
    return "no-worse"


def cmd_compare(a: Path, b: Path) -> None:
    pa, pb, sp = load(a), load(b), specs()
    for w in sorted(set(pa) | set(pb)):
        ra, rb = pa.get(w, []), pb.get(w, [])
        print(f"{w}: {len(ra)} parent runs, {len(rb)} change runs")
        for name, spec in sp.items():
            xa = [r["metrics"][name]["value"] for r in ra if name in r["metrics"]]
            xb = [r["metrics"][name]["value"] for r in rb if name in r["metrics"]]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            v = verdict(xa, xb, spec["better"], spec["bound"])
            print(f"  {name:14s} parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  -> {v}")


def cmd_spread(d: Path) -> None:
    sp = specs()
    for w, rs in sorted(load(d).items()):
        print(f"{w}: {len(rs)} runs")
        for name, spec in sp.items():
            xs = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / abs(med) if med else float("inf")
            b = spec["bound"]
            flag = "" if b is None else ("ok" if rel < b / 3 else "WIDE" if rel > b else "within bound")
            print(f"  {name:14s} median {med:.4g}  IQR/median {rel:.3f}  "
                  f"bound {b if b is not None else '-'}  {flag}")


def main() -> None:
    ap = argparse.ArgumentParser(description="compare or summarize perfbench results")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("compare")
    c.add_argument("parent", type=Path)
    c.add_argument("change", type=Path)
    s = sub.add_parser("spread")
    s.add_argument("dir", type=Path)
    args = ap.parse_args()
    if args.cmd == "compare":
        cmd_compare(args.parent, args.change)
    else:
        cmd_spread(args.dir)


if __name__ == "__main__":
    main()
