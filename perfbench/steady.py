#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload repeatedly, one seed per
run, and prints the median, quartiles and spread of every end-to-end
metric next to its bound from BENCHMARK.json. With --traced it also runs
two traced runs of the first seed per workload, reports which per-layer
counts differ between them, and the tracing overhead (traced cycle_s
minus untraced cycle_s of the same seed).

Usage, from the repository root:
  python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--traced]
                              [--write perfbench/REFERENCE.md]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {r.returncode}: {r.stderr[-2000:]}")
    result = json.loads(lines[-1])
    out = os.path.join(".bench_out", f"{workload}-seed{seed}-trace{trace}", workload, "summary.json")
    with open(out) as f:
        summary = json.load(f)
    return result, summary, wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--write", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    out = [f"Steadiness: {a.runs} runs per workload, seeds {a.first_seed}.."
           f"{a.first_seed + a.runs - 1}, run_seconds {seconds}, nproc {os.cpu_count()}.", ""]
    ok = True
    for w in workloads:
        runs = [run(w, a.first_seed + i, seconds, 0) for i in range(a.runs)]
        shares = {(r["failed"], r["attempted"]) for r, _, _ in runs}
        correct = all(r["correct"] for r, _, _ in runs)
        walls = [wall for _, _, wall in runs]
        out += [f"### {w}", "",
                f"correct in every run: {correct}; (failed, attempted): {sorted(shares)}; "
                f"wall per run {fmt(min(walls))}..{fmt(max(walls))} s", "",
                "| metric | unit | median | q1 | q3 | spread | bound | within a third |",
                "|---|---|---|---|---|---|---|---|"]
        ok &= correct
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r, _, _ in runs]
            med, q1, q3, sp = spread(vals)
            third = sp <= bound / 3
            ok &= sp <= bound
            out.append(f"| {name} | {runs[0][0]['metrics'][name]['unit']} | {fmt(med)} | {fmt(q1)} "
                       f"| {fmt(q3)} | {sp:.3f} | {bound} | {'yes' if third else 'NO'} |")
        ops = sorted(runs[0][1]["ops"])
        out += ["", "| operation figure | median | spread |", "|---|---|---|"]
        for name in ops:
            vals = [s["ops"][name]["value"] for _, s, _ in runs]
            med, _, _, sp = spread(vals)
            out.append(f"| {name} ({runs[0][1]['ops'][name]['unit']}) | {fmt(med)} | {sp:.3f} |")
        first = runs[0][1]
        out += ["", f"per-cycle timed seconds of seed {a.first_seed}: "
                f"{', '.join(fmt(x) for x in first['cycle_s'])}; "
                f"canary start/end {fmt(first['canary'][0])}/{fmt(first['canary'][1])} s, "
                f"scheduler canary {fmt(first['canary_sched'][0])}/{fmt(first['canary_sched'][1])} s", ""]
        if a.traced:
            t1 = run(w, a.first_seed, seconds, 1)
            t2 = run(w, a.first_seed, seconds, 1)
            varying = []
            for name, m in t1[0]["metrics"].items():
                if m["unit"] == "count" and m["value"] != t2[0]["metrics"][name]["value"]:
                    varying.append(f"{name} {fmt(m['value'])}/{fmt(t2[0]['metrics'][name]['value'])}")
            overhead = []
            for name, figures in (("cycle_s", lambda s: s["ops"]),
                                  ("cycle_cpu_s", lambda s: s["end_to_end"])):
                plain, traced = figures(first)[name]["value"], figures(t1[1])[name]["value"]
                overhead.append(f"{name} {fmt(traced - plain)} s ({(traced - plain) / plain:+.1%})")
            out += [f"traced runs of seed {a.first_seed}: counts that differ: "
                    f"{', '.join(varying) if varying else 'none'}; tracing overhead (traced minus "
                    f"untraced run of the seed): {', '.join(overhead)}", ""]
    text = "\n".join(out)
    print(text)
    if a.write:
        with open(a.write, "w") as f:
            f.write(text + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
