#!/usr/bin/env python3
"""Run sets of benchmark runs and compare two of them.

    # ten runs per workload, seeds 1..10, one JSON line per run
    python3 perfbench/compare.py run --seeds 1-10 --out runs_a.jsonl
    # one set: median, quartiles and spread (IQR / median) per metric
    python3 perfbench/compare.py show runs_a.jsonl
    # two sets: both summaries, the change of the median and whether it is
    # within the bound BENCHMARK.json gives the metric
    python3 perfbench/compare.py diff runs_a.jsonl runs_b.jsonl

Run from the repository root. Quartiles are Python's
statistics.quantiles(values, n=4).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_sets(args):
    b = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in b["workloads"]]
    with open(args.out, "a") as out:
        for w in workloads:
            for s in seeds(args.seeds):
                cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(b["run_seconds"]), "--trace", str(args.trace)]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
                rec = {"workload": w, "seed": s, "exit": p.returncode, "result": json.loads(last),
                       "log": p.stderr.strip().splitlines()[-3:]}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                m = rec["result"].get("metrics", {})
                print(w, s, p.returncode, rec["result"].get("correct"),
                      {k: round(v["value"], 3) for k, v in m.items()}, file=sys.stderr)


def load(path):
    by = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            res = rec["result"]
            w = by.setdefault(rec["workload"], {"runs": 0, "bad": 0, "attempted": 0, "failed": 0,
                                                "metrics": {}})
            w["runs"] += 1
            if rec["exit"] != 0 or not res.get("correct"):
                w["bad"] += 1
                continue
            w["attempted"] += res["attempted"]
            w["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                w["metrics"].setdefault(k, []).append(v["value"])
    return by


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def show(path, bounds):
    by = load(path)
    for w, d in sorted(by.items()):
        print(f"{w}: {d['runs']} runs, {d['bad']} failed or incorrect, "
              f"failed operations {d['failed']}/{d['attempted']}")
        for k, vs in sorted(d["metrics"].items()):
            med, q1, q3, spread = summary(vs)
            bound = bounds.get(k, (None, None))[1]
            verdict = "" if bound is None else f"  spread {'<=' if spread <= bound else '>'} bound {bound}"
            print(f"  {k:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}{verdict}")
    return by


def diff(a, b, bounds):
    sa, sb = load(a), load(b)
    ok = True
    for w in sorted(set(sa) | set(sb)):
        print(f"{w}:")
        ma, mb = sa.get(w, {}).get("metrics", {}), sb.get(w, {}).get("metrics", {})
        for k in sorted(set(ma) | set(mb)):
            if k not in ma or k not in mb:
                print(f"  {k:32s} missing in one set")
                continue
            (x, xq1, xq3, xs), (y, yq1, yq3, ys) = summary(ma[k]), summary(mb[k])
            better, bound = bounds.get(k, ("lower", None))
            worse = (y - x) / x if better == "lower" else (x - y) / x
            verdict = ""
            if bound is not None:
                within = worse <= bound and xs <= bound and ys <= bound if k != "setup_s" else worse <= bound
                ok &= within
                verdict = f"  {'within' if within else 'OUTSIDE'} bound {bound}"
            print(f"  {k:32s} A {x:12.4f} [{xq1:.4f}, {xq3:.4f}]  B {y:12.4f} [{yq1:.4f}, {yq3:.4f}]  "
                  f"B worse by {worse:+.3f}{verdict}")
        fa = (sa.get(w, {}).get("failed", 0), sa.get(w, {}).get("attempted", 0))
        fb = (sb.get(w, {}).get("failed", 0), sb.get(w, {}).get("attempted", 0))
        print(f"  failed operations A {fa[0]}/{fa[1]}  B {fb[0]}/{fb[1]}")
    print("all within bounds" if ok else "SOME METRIC OUTSIDE ITS BOUND")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("show")
    s.add_argument("path")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        return run_sets(args)
    b = spec()
    bounds = {m["name"]: (m["better"], m.get("bound")) for m in b["end_to_end"] + b["per_layer"]}
    if args.cmd == "show":
        show(args.path, bounds)
    else:
        diff(args.a, args.b, bounds)


if __name__ == "__main__":
    main()
