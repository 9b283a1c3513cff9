#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke            # every workload, one small cycle

Builds the program and the benchmark from source (perfbench/build.py),
writes the inputs from the seed (perfbench/fixtures.py), runs one workload
in one JVM, checks its outputs (in the JVM against models, and here
against DuckDB with the project's comparer, tools/check_oracle.py), and
prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics, or with --trace 1 the per-layer metrics.
Raw samples, spans, canaries and the full summary stay under
.bench_out/<workload>-seed<n>-trace<t>/.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import fixtures  # noqa: E402

WORKLOADS = ("packet_fanout", "table_dml", "query_mix")
# fixture scale per workload (orders = 1.5M x sf rows). The write paths
# are dominated by fixed per-job, per-action and per-commit costs that do
# not shrink with the data; the queries' cost does, and a run must fit
# its time budget.
SCALE = {"packet_fanout": 0.01, "table_dml": 0.01, "query_mix": 0.001}
SMOKE_SCALE = 0.001
# the JVM's share of the 180 s a run may take once the build is done
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def run_jvm(classpath, workloads, fixture_dirs, seed, seconds, trace, smoke, work, out):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed set of JIT compiler threads: the CPU of one that ended would
    # leave HotSpot's internal-thread counters, which the CPU figures use
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads",
           "--add-exports=java.management/sun.management=ALL-UNNAMED",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", ",".join(workloads), "--fixtures", ",".join(fixture_dirs),
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--smoke", "1" if smoke else "0",
            "--work", work, "--out", out, "--packets", "packets", "--cores", str(cores())]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM ended with {code}; log {log_path}:\n{tail}")


def oracle_problems(fixture_dir, results):
    """Compare the results the JVM wrote under `results` with their oracle
    SQL evaluated by DuckDB over the same fixtures, with the project's own
    comparer. Its report goes to `results`/check_oracle.log."""
    if not os.path.isdir(results):
        return []  # the workload has no oracle
    sys.path.insert(0, os.path.abspath("tools"))
    import check_oracle
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        code = check_oracle.main(fixture_dir, results)
    with open(os.path.join(results, "check_oracle.log"), "w") as f:
        f.write(report.getvalue())
    failed = [f"oracle {line}" for line in report.getvalue().splitlines()
              if line.startswith("FAIL")]
    if code != 0 and not failed:
        failed = [f"tools/check_oracle.py exited {code}; see {results}/check_oracle.log"]
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one cycle of every workload at the smallest scale, all checks on")
    ap.add_argument("--fixtures", metavar="DIR",
                    help="read the input tables from DIR instead of writing them from "
                         "the seed (to check the workloads on other fixtures)")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    if not all(os.path.exists(p) for p in ("src/main/scala", "packets", "tools/check_oracle.py")):
        print("run from the repository root: src/main/scala, packets/ or "
              "tools/check_oracle.py is missing", file=sys.stderr)
        return 2
    workloads = list(WORKLOADS) if a.smoke else [a.workload]
    tag = "smoke" if a.smoke else a.workload
    out = os.path.abspath(os.path.join(".bench_out", f"{tag}-seed{a.seed}-trace{a.trace}"))
    work = os.path.abspath(os.path.join(".bench_work", str(os.getpid())))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        classpath = build.build()
        fixtures_s, fixture_dirs = {}, []
        for w in workloads:
            t = time.time()
            if a.fixtures:
                fixture_dirs.append(os.path.abspath(a.fixtures))
            else:
                fixture_dirs.append(os.path.join(work, w, "fixtures"))
                fixtures.write(fixture_dirs[-1], a.seed, SMOKE_SCALE if a.smoke else SCALE[w])
            fixtures_s[w] = time.time() - t
        t0 = time.time()
        run_jvm(classpath, workloads, fixture_dirs, a.seed, a.seconds, a.trace == 1, a.smoke,
                work, out)
        summaries, problems = [], []
        for w, fixture_dir in zip(workloads, fixture_dirs):
            with open(os.path.join(out, w, "summary.json")) as f:
                s = json.load(f)
            summaries.append(s)
            problems += s["failures"]
            problems += oracle_problems(fixture_dir, os.path.join(out, w, "oracle"))
        jvm_s = time.time() - t0
    except (RuntimeError, OSError, ValueError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    for p in problems:
        print(f"[graftbench] CHECK FAILED {p}", file=sys.stderr)
    for s in summaries:
        ops = {k: round(v["value"], 4) for k, v in s["ops"].items()}
        print(json.dumps({"workload": s["workload"], "cycles": s["cycles"], "ops": ops,
                          "fixtures_s": round(fixtures_s[s["workload"]], 3),
                          "canary": s["canary"], "canary_sched": s["canary_sched"],
                          "wall_s": round(jvm_s, 1), "out": os.path.relpath(out)}))
    key = "per_layer" if a.trace else "end_to_end"
    metrics = {} if a.smoke else summaries[0][key]
    print(json.dumps({"correct": not problems,
                      "attempted": sum(s["attempted"] for s in summaries),
                      "failed": sum(s["failed"] for s in summaries),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
