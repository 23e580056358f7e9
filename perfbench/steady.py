#!/usr/bin/env python3
"""Steadiness report and A/B comparison for the benchmark.

Run one workload over several seeds, at BENCHMARK.json's run_seconds, and
report for every end-to-end metric the median, the quartiles and the spread
(Q3 - Q1) / median against the metric's bound:

    python3 perfbench/steady.py run --workload catalog --seeds 1-10 --out a.json

Compare two checkouts (parent first) on one workload. For each seed both
run the benchmark back to back, alternating which side runs first, so that
the two runs of a pair share a time window; each checkout runs its own
perfbench/run.py and builds itself:

    python3 perfbench/steady.py compare --workload catalog --seeds 1-10 \\
        --out ab.json ../parent .

For each metric, `compare` prints both medians and the change's wins over
the pairs. It calls a gain only when the change wins at least nine tenths of
the pairs (ties count for neither) and the medians differ by more than the
parent's own quartile spread. It calls a regression when the change's
median is worse than the parent's by more than the bound. Anything else is
"within bound", or "unresolved" when the parent's spread exceeds the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b, {m["name"]: m for m in b["end_to_end"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["metrics"][name] for r in runs if name in r["metrics"]]


def report(workload, runs, label=""):
    _, metrics = spec()
    print(f"{label}{workload}: {len(runs)} runs, {sum(not r['correct'] for r in runs)} incorrect, "
          f"{statistics.mean(r['wall_s'] for r in runs):.0f} s per run")
    print(f"{'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, m in metrics.items():
        xs = values(runs, name)
        if not xs:
            continue
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread <= m["bound"] / 3 else (" > bound/3" if spread <= m["bound"] else " > BOUND")
        print(f"{name:14s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {m['bound']:6.2f}{flag}")


def run_one(checkout, workload, seed, seconds):
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        sys.exit(f"{checkout}, seed {seed}: run failed with exit code {out.returncode}")
    r = json.loads(lines[-1])
    run = {"seed": seed, "correct": r["correct"], "wall_s": time.time() - t0,
           "metrics": {k: v["value"] for k, v in r["metrics"].items()}}
    print(f"{checkout} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in run["metrics"].items())
          + f" ({run['wall_s']:.0f} s)", file=sys.stderr, flush=True)
    return run


def save(path, result):
    if path:
        with open(path, "w") as fh:
            json.dump(result, fh, indent=1)


def cmd_run(a):
    bench, _ = spec()
    runs = [run_one(ROOT, a.workload, s, bench["run_seconds"]) for s in seeds(a.seeds)]
    save(a.out, {"workload": a.workload, "runs": runs})
    report(a.workload, runs)


def compare(workload, parent, change):
    _, metrics = spec()
    print(f"{workload}: {len(parent)} pairs")
    for name, m in metrics.items():
        pairs = [(p["metrics"][name], c["metrics"][name]) for p, c in zip(parent, change)
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(sign * (y - x) > 0 for x, y in pairs)
        q1, mx, q3 = quartiles([x for x, _ in pairs])
        my = statistics.median(y for _, y in pairs)
        worse = -sign * (my - mx) / mx
        if wins >= 0.9 * len(pairs) and abs(my - mx) > (q3 - q1) and sign * (my - mx) > 0:
            verdict = "gain"
        elif worse > m["bound"]:
            verdict = "REGRESSION"
        elif (q3 - q1) / mx > m["bound"]:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        print(f"{name:14s} parent {mx:12.4f}  change {my:12.4f}  ({-worse:+.1%})  "
              f"wins {wins}/{len(pairs)}  {verdict}")


def cmd_compare(a):
    bench, _ = spec()
    sides = {"parent": [], "change": []}
    for i, s in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (order if i % 2 == 0 else order[::-1]):
            sides[side].append(run_one(checkout, a.workload, s, bench["run_seconds"]))
    result = {"workload": a.workload, **sides}
    save(a.out, result)
    show(result)


def show(result):
    if "runs" in result:
        report(result["workload"], result["runs"])
        return
    for side in ("parent", "change"):
        report(result["workload"], result[side], label=f"{side}: ")
    compare(result["workload"], result["parent"], result["change"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run one workload over several seeds")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    r.add_argument("--out", default="")
    c = sub.add_parser("compare", help="run two checkouts interleaved and compare them")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    c.add_argument("--out", default="")
    c.add_argument("parent", help="checkout of the parent commit")
    c.add_argument("change", help="checkout of the change")
    rep = sub.add_parser("report", help="print the report of a saved `run` or `compare` result")
    rep.add_argument("result")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
    elif a.cmd == "compare":
        cmd_compare(a)
    else:
        with open(a.result) as fh:
            show(json.load(fh))


if __name__ == "__main__":
    main()
