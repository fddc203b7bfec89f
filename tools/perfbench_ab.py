#!/usr/bin/env python3
"""Alternating A/B of perfbench between two checkouts.

Usage:
  perfbench_ab.py PARENT_DIR CHANGE_DIR --workload etl_batch --seeds 1-10
                  [--seconds 20] [--trace 0] [--out runs.jsonl]
  perfbench_ab.py --from runs.jsonl [--out ...]    # summarize only

PARENT_DIR and CHANGE_DIR are two checkouts, each with its own
`perfbench/` (build both as `git clone`s, so neither sees the other's
build outputs). For every seed, both sides run
`python3 perfbench/run.py --workload W --seed S --seconds N --trace T`
in their own directory, one after the other; the order alternates per
seed (parent first on the 1st, 3rd, ... seed), so a drift of host load
falls on both sides alike.

Each run's JSON result line is appended to `--out` (JSON lines:
`{"side", "seed", "workload", "trace", "exit", "result"}`) as soon as it
finishes, and its metrics are printed. At the end, per metric: the
median and IQR of each side, the change in percent and the pairs the
change won (ties count for neither side). Which way is better comes
from the parent's BENCHMARK.json; metrics it does not list are shown
without wins. Exits 1 if any run failed or was not `correct`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def values(result):
    """metric -> value of one run's result line (`{"value", "unit"}` per
    metric); metrics without a value are left out."""
    return {k: m["value"] for k, m in result["metrics"].items() if m["value"] is not None}


def directions(checkout):
    """metric -> "lower"/"higher", from BENCHMARK.json under `checkout`."""
    try:
        bench = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return {}
    return {m["name"]: m["better"] for key in ("end_to_end", "per_layer") for m in bench.get(key, [])}


def iqr(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def summarize(records, better):
    ok = [r for r in records if r["result"]]
    order = list(better)
    by = {(r["side"], r["seed"]): values(r["result"]) for r in ok}
    names = sorted({m for v in by.values() for m in v},
                   key=lambda m: (order.index(m) if m in better else len(order), m))
    seeds = sorted({r["seed"] for r in ok})
    pairs = [s for s in seeds if ("parent", s) in by and ("change", s) in by]
    print(f"\n{len(pairs)} pairs; median (IQR) per side, change-better pairs")
    print(f"{'metric':<30} {'parent':>11} {'(IQR)':>11} {'change':>11} {'(IQR)':>11} {'delta':>8} {'wins':>6}")
    for m in names:
        p = [by[("parent", s)][m] for s in pairs if m in by[("parent", s)]]
        c = [by[("change", s)][m] for s in pairs if m in by[("change", s)]]
        if not p or not c:
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "-"
        wins = "-"
        if m in better:
            sign = -1 if better[m] == "lower" else 1
            won = sum(1 for s in pairs
                      if m in by[("parent", s)] and m in by[("change", s)]
                      and sign * (by[("change", s)][m] - by[("parent", s)][m]) > 0)
            wins = f"{won}/{len(pairs)}"
        print(f"{m:<30} {pm:>11.4g} {f'({iqr(p):.3g})':>11} {cm:>11.4g} {f'({iqr(c):.3g})':>11} "
              f"{delta:>8} {wins:>6}")


def show(rec):
    r = rec["result"]
    head = f"[ab] seed {rec['seed']} {rec['side']:<6} exit {rec['exit']}"
    if not r:
        print(f"{head} no result", flush=True)
        return
    metrics = " ".join(f"{k}={v:.4g}" for k, v in values(r).items())
    print(f"{head} correct={r['correct']} failed={r.get('failed')} {metrics}", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", choices=["etl_batch", "etl_incremental", "query_mix"])
    ap.add_argument("--seeds", help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--from", dest="source", help="summarize the runs in this JSON-lines file")
    a = ap.parse_args()

    if a.source:
        records = [json.loads(l) for l in Path(a.source).read_text().splitlines() if l.strip()]
        for rec in records:
            show(rec)
        better = directions(a.parent) if a.parent else directions(Path(__file__).resolve().parent.parent)
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("PARENT_DIR, CHANGE_DIR, --workload and --seeds are required")
        dirs = dict(zip(SIDES, (a.parent, a.change)))
        better = directions(a.parent)
        records = []
        for i, seed in enumerate(parse_seeds(a.seeds)):
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                code, result = run_one(dirs[side], a.workload, seed, a.seconds, a.trace)
                rec = {"side": side, "seed": seed, "workload": a.workload, "trace": a.trace,
                       "exit": code, "result": result}
                records.append(rec)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                show(rec)
    summarize(records, better)
    bad = [r for r in records if r["exit"] != 0 or not r["result"] or not r["result"]["correct"]]
    if bad:
        print(f"{len(bad)} run(s) failed or were not correct", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
