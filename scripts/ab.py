"""Interleaved A/B of the repository benchmark between two checkouts.

    python scripts/ab.py PARENT_DIR CHANGE_DIR --seeds 401-410 \
        [--workload extract_corpus] [--json out.json]

The parent checkout's ``BENCHMARK.json`` supplies the benchmark command,
its workloads (every one unless ``--workload`` names some), the run length
and the end-to-end metrics with their bounds.  For every workload and seed,
the script runs that command unmodified,

    <command> --workload W --seed N --seconds <run_seconds> --trace 0

once in each checkout (the checkout root is the working directory), back
to back, alternating which side runs first from one pair to the next, so
that the machine's minute-to-minute drift falls on both sides alike.
Progress goes to stderr.  stdout gets one markdown table row per
(workload, metric): the median and [q1–q3] of each side, the pairs the
change won, and the change/parent ratio of the medians against the bound
``BENCHMARK.json`` declares for the metric.  Runs whose ``failed`` count
is not 0 are listed under the table.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec: str) -> list[int]:
    """'401-410' or '1,5,9' (or a mix) -> list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(tree: str, bench: dict, workload: str, seed: int) -> dict:
    """One benchmark run in ``tree``; returns its result JSON (the last
    stdout line), or a stub with ``failed`` set when the run printed none."""
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-5:]
        return {"correct": False, "attempted": 0, "failed": -1,
                "metrics": {}, "error": f"exit {proc.returncode}: {tail}"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def summarize(pairs: list[tuple[dict, dict]], spec: dict) -> dict | None:
    """Median, IQR, wins and ratio of one metric over the pairs where both
    sides reported it."""
    name = spec["name"]
    both = [
        (p["metrics"][name]["value"], c["metrics"][name]["value"])
        for p, c in pairs
        if name in p["metrics"] and name in c["metrics"]
    ]
    if not both:
        return None
    lower = spec.get("better", "lower") == "lower"
    par, chg = [b[0] for b in both], [b[1] for b in both]
    wins = sum((c < p) if lower else (c > p) for p, c in both)
    ratio = statistics.median(chg) / statistics.median(par)
    limit = 1 + spec["bound"] if lower else 1 - spec["bound"]
    return {
        "parent": quartiles(par),
        "change": quartiles(chg),
        "wins": wins,
        "n": len(both),
        "ratio": ratio,
        "limit": limit,
        "within": ratio <= limit if lower else ratio >= limit,
    }


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[0]:.2f} [{q[1]:.2f}–{q[2]:.2f}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append",
                    help="a workload of BENCHMARK.json (default: all)")
    ap.add_argument("--seeds", required=True, help="e.g. 401-410")
    ap.add_argument("--json", help="write every run's result here")
    args = ap.parse_args()

    trees = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(trees["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [w["name"] for w in bench["workloads"]]
    workloads = args.workload or declared
    for workload in workloads:
        if workload not in declared:
            ap.error(f"unknown workload {workload!r}; BENCHMARK.json has {declared}")
    seeds = parse_seeds(args.seeds)

    runs: dict[str, list[tuple[int, dict, dict]]] = {}
    for workload in workloads:
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            res = {}
            for side in order:
                res[side] = run_once(trees[side], bench, workload, seed)
                vals = {k: v["value"] for k, v in res[side]["metrics"].items()}
                print(f"{workload} seed {seed} {side}: failed={res[side]['failed']} "
                      f"{json.dumps(vals)}", file=sys.stderr, flush=True)
            runs.setdefault(workload, []).append((seed, res["parent"], res["change"]))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({w: [{"seed": s, "parent": p, "change": c} for s, p, c in r]
                       for w, r in runs.items()}, f, indent=1)

    print("| workload | metric | parent | change | change wins | ratio (limit) |")
    print("|---|---|---|---|---|---|")
    failures = []
    for workload, rows in runs.items():
        label = f"{workload} (seeds {args.seeds})"
        for spec in bench["end_to_end"]:
            s = summarize([(p, c) for _seed, p, c in rows], spec)
            if s is None:
                continue
            flag = "" if s["within"] else " **outside**"
            print(f"| {label} | `{spec['name']}` | {fmt(s['parent'])} | "
                  f"{fmt(s['change'])} | {s['wins']}/{s['n']} | "
                  f"{s['ratio']:.3f} ({s['limit']:.2f}){flag} |")
            label = workload
        for seed, p, c in rows:
            for side, r in (("parent", p), ("change", c)):
                if r["failed"] != 0:
                    failures.append(f"{workload} seed {seed} {side}: failed="
                                    f"{r['failed']} {r.get('error', '')}")
    for line in failures:
        print(f"- {line}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
