#!/usr/bin/env python3
"""Steadiness record of the benchmark: two sets of runs of the same commit.

    python3 e2ebench/steadiness.py --runs 10 --out runs.jsonl
    python3 e2ebench/steadiness.py --report runs.jsonl > e2ebench/STEADINESS.md

Each set runs every workload of BENCHMARK.json once per seed (seeds 1..runs
in set A, 101..100+runs in set B), untraced, then once traced per workload
and set. Every result line is appended to the --out file as JSON. --report
prints, per workload and metric, each set's median and quartiles, the
spread (interquartile distance over the median) against the metric's bound,
the gap between the two sets' medians, and the tracing overhead (traced
throughput against the untraced median).
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


def bench():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run_one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = json.loads(lines[-2][len("record "):]) if len(lines) >= 2 else {}
    res = json.loads(lines[-1]) if lines else {}
    return dict(workload=workload, seed=seed, trace=trace, exit=p.returncode,
                wall_s=time.time() - t0, record=rec, result=res)


def collect(args):
    b = bench()
    with open(args.out, "a") as out:
        for set_name, base in (("A", 0), ("B", 100)):
            for seed in range(base + 1, base + args.runs + 1):
                for w in b["workloads"]:
                    r = dict(run_one(w["name"], seed, args.seconds, 0), set=set_name)
                    out.write(json.dumps(r) + "\n")
                    out.flush()
            for w in b["workloads"]:
                r = dict(run_one(w["name"], base + 1, args.seconds, 1), set=set_name)
                out.write(json.dumps(r) + "\n")
                out.flush()


def report(path):
    b = bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    rows = [json.loads(l) for l in open(path)]
    print("# Steadiness record\n")
    print("Two sets of untraced runs of the same commit, each workload once per seed"
          " (set A: seeds 1..n, set B: seeds 101..100+n), then one traced run per"
          " workload and set. Spread = (Q3 − Q1) / median with quartiles from"
          " `statistics.quantiles(values, n=4)`; gap = |median B − median A| / median A.\n")
    bad = [r for r in rows if r["exit"] != 0 or not r["result"].get("correct")]
    print(f"Runs: {len(rows)}, failed or incorrect: {len(bad)}.\n")
    for w in b["workloads"]:
        name = w["name"]
        print(f"## {name}\n")
        print("| metric | bound | set | n | median | Q1 | Q3 | spread | gap |")
        print("|---|---|---|---|---|---|---|---|---|")
        meds = {}
        for m in bounds:
            for s in ("A", "B"):
                vals = [r["result"]["metrics"][m]["value"] for r in rows
                        if r["workload"] == name and r["set"] == s and r["trace"] == 0
                        and m in r["result"].get("metrics", {})]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                meds[(m, s)] = med
                gap = ""
                if s == "B" and (m, "A") in meds:
                    gap = f"{abs(med - meds[(m, 'A')]) / meds[(m, 'A')]:.3f}"
                print(f"| {m} | {bounds[m]} | {s} | {len(vals)} | {med:.4g} | {q1:.4g} |"
                      f" {q3:.4g} | {(q3 - q1) / med:.3f} | {gap} |")
        print()
        for r in rows:
            if r["workload"] == name and r["trace"] == 1 and r["result"].get("metrics"):
                for k, v in r["result"]["metrics"].items():
                    if k.startswith("trace."):
                        base = k[len("trace."):]
                        ref = meds.get((base, r["set"]))
                        if ref:
                            print(f"Tracing overhead, set {r['set']}: traced {base} ="
                                  f" {v['value']:.4g} against the untraced median {ref:.4g}"
                                  f" ({(v['value'] - ref) / ref:+.1%}).\n")
        traced = {r["set"]: r["result"].get("metrics", {}) for r in rows
                  if r["workload"] == name and r["trace"] == 1}
        if traced:
            sets = sorted(traced)
            print("Per-layer metrics of the traced runs:\n")
            print("| metric | unit | " + " | ".join(f"set {s}" for s in sets) + " |")
            print("|---|---|" + "---|" * len(sets))
            for k in sorted({k for m in traced.values() for k in m}):
                unit = next(m[k]["unit"] for m in traced.values() if k in m)
                vals = [f"{traced[s][k]['value']:.6g}" if k in traced[s] else "" for s in sets]
                print(f"| {k} | {unit} | " + " | ".join(vals) + " |")
            print()
        mine = [r for r in rows if r["workload"] == name]
        steal = [r["record"].get("steal_cores", 0) for r in mine]
        if steal:
            print(f"Steal over the timed phase (cores): median {statistics.median(steal):.2f},"
                  f" max {max(steal):.2f}. Whole run, command start to exit (s):"
                  f" median {statistics.median(r['wall_s'] for r in mine):.1f},"
                  f" max {max(r['wall_s'] for r in mine):.1f}.\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.report:
        report(a.report)
    else:
        if not a.out:
            ap.error("--out is required when collecting")
        a.seconds = a.seconds or bench()["run_seconds"]
        collect(a)


if __name__ == "__main__":
    main()
