#!/usr/bin/env python3
"""Steadiness and comparison tool for the benchmark.

    python3 perfbench/steady.py collect --out runs.jsonl [--workload W ...]
                                        [--seeds 1-10] [--trace 0]
    python3 perfbench/steady.py stats runs.jsonl
    python3 perfbench/steady.py compare parent.jsonl change.jsonl

`collect` runs `run.py` once per seed and workload (workloads default to
those in BENCHMARK.json) and appends each parsed result to a JSON-lines file.
`stats` prints, per workload and metric, the median, the quartiles and the
spread (q3 - q1) / median, against the metric's bound.
`compare` applies the acceptance rule to two sets of runs, pairing runs in
order: a change is a gain only when it wins at least 9/10 of the pairs and
the medians differ by more than the parent's quartile distance; a worsening
beyond the bound is a regression; a metric whose spread exceeds its bound is
"unresolved" unless every change run beats every parent run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def bounds():
    s = spec()
    out = {m["name"]: (m["better"], m.get("bound")) for m in s["end_to_end"]}
    out.update({m["name"]: (m["better"], None) for m in s["per_layer"]})
    return out


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(args):
    s = spec()
    workloads = args.workload or [w["name"] for w in s["workloads"]]
    for seed in seeds(args.seeds):
        for w in workloads:
            t0 = time.monotonic()
            proc = subprocess.run([sys.executable, RUN, "--workload", w, "--seed", str(seed),
                                   "--seconds", str(s["run_seconds"]), "--trace", str(args.trace)],
                                  capture_output=True, text=True)
            result = metrics.parse_result(proc.stdout)
            detail = next((json.loads(line.split(" ", 2)[2]) for line in proc.stdout.splitlines()
                           if line.startswith("perfbench detail ")), None)
            rec = {"workload": w, "seed": seed, "trace": args.trace, "exit": proc.returncode,
                   "wall_s": time.monotonic() - t0, "result": result, "detail": detail}
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            status = "ok" if result and result["correct"] else f"FAILED\n{proc.stderr[-2000:]}"
            print(f"{w} seed {seed}: {rec['wall_s']:.1f} s {status}", flush=True)


def load(path):
    """{workload: {metric: [values in run order]}} of a JSON-lines file."""
    out = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if not rec.get("result"):
                continue
            for name, m in rec["result"]["metrics"].items():
                out.setdefault(rec["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def stats(args):
    b = bounds()
    worst = 0.0
    for w, ms in sorted(load(args.file).items()):
        print(f"== {w}")
        print(f"  {'metric':40} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}  bound")
        for name, xs in ms.items():
            if len(xs) < 2:
                continue
            q1, med, q3, spread = metrics.quartile_spread(xs)
            bound = b.get(name, (None, None))[1]
            flag = ""
            if bound is not None:
                flag = f"{bound:.3f} " + ("steady" if spread < bound / 3 else
                                          "within" if spread <= bound else "UNSTEADY")
                if name != "setup_s":
                    worst = max(worst, spread / bound)
            print(f"  {name:40} {len(xs):3d} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f}  {flag}")
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")


def verdict(parent, change, better, bound):
    """Acceptance rule for one metric; returns (verdict, wins, pairs)."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    pq1, pmed, pq3, pspread = metrics.quartile_spread(parent)
    _, cmed, _, cspread = metrics.quartile_spread(change)
    gain = sign * (pmed - cmed)
    if bound is not None and sign * (cmed - pmed) > bound * abs(pmed):
        return "regressed", wins, len(pairs)
    if wins >= 0.9 * len(pairs) and gain > (pq3 - pq1):
        return "improved", wins, len(pairs)
    every = max(change) < min(parent) if sign > 0 else min(change) > max(parent)
    if bound is not None and max(pspread, cspread) > bound and not every:
        return "unresolved", wins, len(pairs)
    if losses >= 0.9 * len(pairs) and -gain > (pq3 - pq1):
        return "worse (within bound)", wins, len(pairs)
    return "no change", wins, len(pairs)


def compare(args):
    b = bounds()
    parent, change = load(args.parent), load(args.change)
    bad = False
    for w in sorted(set(parent) & set(change)):
        print(f"== {w}")
        for name in parent[w]:
            if name not in change[w] or name not in b:
                continue
            better, bound = b[name]
            p, c = parent[w][name], change[w][name]
            if min(len(p), len(c)) < 2:
                continue
            v, wins, n = verdict(p, c, better, bound)
            bad |= v in ("regressed", "unresolved")
            print(f"  {name:40} parent {statistics.median(p):12.6g} change {statistics.median(c):12.6g}"
                  f"  wins {wins}/{n}  {v}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--workload", action="append")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("stats")
    s.add_argument("file")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    args = ap.parse_args()
    return {"collect": collect, "stats": stats, "compare": compare}[args.cmd](args) or 0


if __name__ == "__main__":
    sys.exit(main())
