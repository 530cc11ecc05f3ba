"""Interleaved parent/change comparison on the repo benchmark.

    python3 tools/ab.py PARENT CHANGE --workload etl-merge [--pairs 10]
                        [--log runs.jsonl]

PARENT and CHANGE are two checkouts (e.g. ``git archive`` copies). Pair
``i`` (seed ``i``, from 1) runs ``python3 perfbench/run.py --workload W
--seed i --seconds S`` once in each checkout, with ``S`` the
``run_seconds`` of the change's ``BENCHMARK.json``, alternating which
side runs first, so host drift hits both sides alike. Every run's result
JSON line goes to ``--log`` as it arrives.

For each end-to-end metric in the change's ``BENCHMARK.json`` it prints
both medians, the change/parent ratio of the medians, the pairs the
change won out of all pairs run (a tie, or a pair where either run gave
no value, is not a win) and the parent's IQR, and a verdict:

- ``gain``: at least 10 pairs ran, the change won at least 9 of every
  10 of them, its median is better than the parent's by more than the
  parent's IQR, and it failed no more ops than the parent;
- ``WORSE``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: neither, the parent's own IQR exceeds the bound (the
  spread is too wide to call the metric unchanged), and not every
  change run reads better than every parent run;
- ``within bound``: otherwise.

A change that failed more ops than the parent gets a ``WORSE`` line of
its own.

The tool only launches ``perfbench/run.py``; it changes no file of
either checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN_TIMEOUT_S = 600
MIN_PAIRS = 10


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``; its result JSON, or a failed
    stand-in when the run exits without one."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True,
                              text=True, timeout=RUN_TIMEOUT_S)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
    except (subprocess.TimeoutExpired, json.JSONDecodeError, IndexError):
        result = None
    if result is None:
        result = {"correct": False, "attempted": 1, "failed": 1,
                  "metrics": {}}
    result["wall_s"] = round(time.perf_counter() - t0, 2)
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(parent: list, change: list, better: str, bound: float,
            change_failed_more: bool = False) -> dict:
    """Pairwise verdict for one metric; ``parent[i]`` and ``change[i]``
    are the two runs of pair ``i``, ``None`` where a run gave no value."""
    sign = 1 if better == "lower" else -1
    n = len(parent)
    wins = sum(p is not None and c is not None and sign * (p - c) > 0
               for p, c in zip(parent, change))
    parent = [p for p in parent if p is not None]
    change = [c for c in change if c is not None]
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    iqr = p3 - p1
    gain = sign * (pm - cm)          # > 0: the change's median is better
    if (n >= MIN_PAIRS and 10 * wins >= 9 * n and gain > iqr
            and not change_failed_more):
        verdict = "gain"
    elif -gain > bound * pm:
        verdict = "WORSE"
    elif iqr > bound * pm and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        verdict = "unresolved"
    else:
        verdict = "within bound"
    return {"parent_median": pm, "change_median": cm,
            "ratio": cm / pm if pm else float("nan"), "wins": wins,
            "pairs": n, "parent_iqr": iqr, "verdict": verdict}


def summarize(runs: list[dict], end_to_end: list[dict]) -> list[str]:
    """Report lines for ``runs`` (``{"side", "pair", "result"}``); every
    pair run counts, a run missing from a pair as one without values."""
    by = {(r["side"], r["pair"]): r["result"] for r in runs}
    pairs = sorted({r["pair"] for r in runs})
    lines = []
    failed = {}
    for side in ("parent", "change"):
        got = [by[(side, i)] for i in pairs if (side, i) in by]
        # a missing run failed its one op, as run_once records a crash
        failed[side] = sum(g["failed"] for g in got) + len(pairs) - len(got)
        lines.append(f"{side}: {len(got)} runs, "
                     f"{sum(bool(g['correct']) for g in got)} correct, "
                     f"{sum(g['failed'] for g in got)} failed of "
                     f"{sum(g['attempted'] for g in got)} ops")
    failed_more = failed["change"] > failed["parent"]
    if failed_more:
        lines.append(f"failed ops: change {failed['change']} > parent "
                     f"{failed['parent']}  WORSE")
    lines.append(f"{'metric':<14} {'parent':>10} {'change':>10} {'ratio':>7} "
                 f"{'won':>6} {'p.IQR':>9}  verdict")
    for m in end_to_end:
        name = m["name"]
        vals = {side: [by.get((side, i), {}).get("metrics", {})
                       .get(name, {}).get("value") for i in pairs]
                for side in ("parent", "change")}
        if any(all(v is None for v in vs) for vs in vals.values()):
            lines.append(f"{name:<14} no value on one side")
            continue
        c = compare(vals["parent"], vals["change"], m["better"], m["bound"],
                    failed_more)
        lines.append(
            f"{name:<14} {c['parent_median']:>10.4g} {c['change_median']:>10.4g} "
            f"{c['ratio']:>7.3f} {c['wins']:>3}/{c['pairs']:<2} "
            f"{c['parent_iqr']:>9.4g}  {c['verdict']} "
            f"({m['better']} is better, bound {m['bound']})")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--log", default=None,
                    help="append each run's result as one JSON line")
    args = ap.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs = []
    for i in range(1, args.pairs + 1):
        order = ("parent", "change") if i % 2 else ("change", "parent")
        for side in order:
            result = run_once(sides[side], args.workload, i,
                              bench["run_seconds"])
            run = {"side": side, "pair": i, "workload": args.workload,
                   "result": result}
            runs.append(run)
            print(f"pair {i} {side}: correct={result['correct']} "
                  f"wall {result['wall_s']} s", flush=True)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(run) + "\n")
    print("\n".join(summarize(runs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
