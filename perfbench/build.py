#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) and the
benchmark (perfbench/src) from source with the Scala compiler that ships
among the Spark jars, so no build tool or network is needed.

Usage, from the repository root:  python3 perfbench/build.py
Output goes to .bench_build/; a stamp of the sources makes a second build
of unchanged sources a no-op. Prints the run classpath.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise RuntimeError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def compiler_cp(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise RuntimeError(f"{name} 2.13 jar not found under {jars}")
        parts.append(found[-1])
    return ":".join(parts)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, out, classpath, srcs):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {out}:\n{r.stdout[-4000:]}")


def build():
    """Compile what changed; return the run classpath."""
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    program, bench = os.path.join(OUT, "program"), os.path.join(OUT, "bench")
    res_root = "src/main/resources"
    prog_src = sources("src/main/scala")
    if not prog_src:
        raise RuntimeError("no program sources under src/main/scala")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    prog_stamp = stamp(prog_src + resources)
    if not fresh(program, prog_stamp):
        shutil.rmtree(program, ignore_errors=True)
        scalac(jars, program, jar_cp, prog_src)
        for p in resources:
            dst = os.path.join(program, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        mark(program, prog_stamp)
    bench_src = sources(os.path.join(HERE, "src"))
    bench_stamp = stamp(bench_src) + prog_stamp
    if not fresh(bench, bench_stamp):
        shutil.rmtree(bench, ignore_errors=True)
        scalac(jars, bench, f"{program}:{jar_cp}", bench_src)
        mark(bench, bench_stamp)
    return f"{bench}:{program}:{jar_cp}"


def fresh(out, want):
    p = out + ".stamp"
    return os.path.isdir(out) and os.path.exists(p) and open(p).read() == want


def mark(out, want):
    with open(out + ".stamp", "w") as f:
        f.write(want)


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
