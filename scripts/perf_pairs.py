#!/usr/bin/env python3
"""Run perfbench on two checkouts in alternating pairs and compare them.

    python3 scripts/perf_pairs.py --parent ../parent --change . \\
        --workload serve --seeds 501-510 --out pairs.jsonl --claim op_p50_ms
    python3 scripts/perf_pairs.py --from pairs.jsonl --claim op_p50_ms

Each pair runs `python3 perfbench/run.py` once in each checkout on the same
seed, for BENCHMARK.json's `run_seconds`, the parent first on even pairs and
the change first on odd ones. Every
run appends one JSON line (workload, seed, side, exit code and perfbench's
result) to `--out`, and a rerun with the same `--out` adds pairs to it;
`--from` re-summarizes such a file without running anything.

The summary gives, per workload and metric, each side's median [q1, q3], the
change's delta against the parent's median and the pairs the change won (ties
count for neither). A `--claim` metric is met when the change won at least
9/10 of the pairs and the medians differ, in the metric's better direction, by
more than the parent's interquartile range. Every other metric with a bound in
BENCHMARK.json is `within` its bound, `WORSE` than it, or `unresolved` when
either side's spread (IQR over median) exceeds the bound, unless every run of
the change beats every run of the parent. The exit code is 1 when a run
failed, a claim is not met or a bound is exceeded.
"""

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"perf_pairs: {msg}", file=sys.stderr, flush=True)


def seed_range(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result


def run_pairs(a):
    seconds = benchmark()["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for i, seed in enumerate(seed_range(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            code, result = run_once(sides[side], a.workload, seed, seconds, a.trace)
            rec = {"workload": a.workload, "trace": a.trace, "seed": seed, "side": side,
                   "first": order[0], "exit": code, "result": result}
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            op = (result or {}).get("metrics", {}).get("op_p50_ms", {}).get("value")
            log(f"{a.workload} seed {seed} {side}: exit {code}, op_p50_ms {op}")


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spec():
    b = benchmark()
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def fmt(v):
    return f"{v:.4g}"


def summarize(records, claims):
    metrics = spec()
    ok = True
    groups = {}
    for r in records:
        groups.setdefault((r["workload"], r.get("trace", 0)), []).append(r)
    for (workload, trace), recs in sorted(groups.items()):
        bad = [r for r in recs if r["exit"] != 0 or not r["result"]
               or not r["result"].get("correct") or r["result"].get("failed", 0) != 0]
        ops = sum((r["result"] or {}).get("attempted", 0) for r in recs)
        failed = sum((r["result"] or {}).get("failed", 0) for r in recs)
        print(f"== {workload} (trace {trace}): {len(recs)} runs, {len(bad)} failed or "
              f"incorrect, {failed} of {ops} ops failed")
        if bad:
            ok = False
            for r in bad:
                print(f"   failed: seed {r['seed']} {r['side']} exit {r['exit']}")
        # the n-th run of a side on a seed pairs with the other side's n-th
        runs = {}
        for r in recs:
            if r in bad:
                continue
            runs.setdefault((r["seed"], r["side"]), []).append(r["result"]["metrics"])
        pairs = []
        for (seed, side), ms in runs.items():
            if side == "parent":
                pairs += list(zip(ms, runs.get((seed, "change"), [])))
        if not pairs:
            continue
        names = sorted(set(pairs[0][0]) & set(pairs[0][1]))
        for name in names:
            p = [pp[name]["value"] for pp, _ in pairs]
            c = [cc[name]["value"] for _, cc in pairs]
            m = metrics.get(name, {})
            lower = m.get("better", "lower") == "lower"
            pm, cm = quantile(p, 0.5), quantile(c, 0.5)
            p1, p3, c1, c3 = quantile(p, .25), quantile(p, .75), quantile(c, .25), quantile(c, .75)
            wins = sum(1 for pv, cv in zip(p, c) if (cv < pv if lower else cv > pv))
            delta = (cm - pm) / pm * 100 if pm else 0.0
            line = (f"{name:34s} parent {fmt(pm)} [{fmt(p1)}, {fmt(p3)}]  "
                    f"change {fmt(cm)} [{fmt(c1)}, {fmt(c3)}]  {delta:+.1f}%  "
                    f"wins {wins}/{len(pairs)}")
            gain = (pm - cm) if lower else (cm - pm)
            if name in claims:
                met = wins >= 0.9 * len(pairs) and gain > p3 - p1
                line += f"  claim {'MET' if met else 'NOT MET'} (gap {fmt(gain)}, parent IQR {fmt(p3 - p1)})"
                ok &= met
            elif "bound" in m:
                worse = -gain / pm if pm else 0.0
                spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
                all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
                if worse > m["bound"]:
                    status = "WORSE"
                    ok = False
                elif spread > m["bound"] and not all_better:
                    status = f"unresolved (spread {spread:.2f} > bound {m['bound']})"
                else:
                    status = f"within bound {m['bound']}"
                line += f"  {status}"
            print(line)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", default="serve", choices=["serve", "refresh"])
    ap.add_argument("--seeds", default="501-510", help="e.g. 501-510 or 1,3,7-9")
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--from", dest="src", help="summarize this saved file")
    ap.add_argument("--claim", action="append", default=[],
                    help="metric the change claims to improve (repeatable)")
    a = ap.parse_args()
    if a.parent or a.change:
        if not (a.parent and a.change and a.out):
            ap.error("running pairs needs --parent, --change and --out")
        run_pairs(a)
    src = a.src or a.out
    if not src:
        ap.error("give --parent/--change/--out to run pairs, or --from FILE")
    with open(src) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    sys.exit(0 if summarize(records, set(a.claim)) else 1)


if __name__ == "__main__":
    main()
