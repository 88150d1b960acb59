#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads: marketing_serve, corpus_batch, corpus_arrival (see
perfbench/README.md). The seeded inputs are generated by perfbench/inputs.py.
The library sources (src/main/scala) and the benchmark sources
(perfbench/src) are compiled together with the Scala compiler that ships in
Spark's jar directory; the classes are cached under .bench_build/ keyed by
a digest of every source file. Inputs, stores and Spark scratch space live
under .bench_build/ as well.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run record (seed, git HEAD, nproc, session conf, input sizes and the
workload-specific metrics). The exit code is 0 only when every output
check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import inputs  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["marketing_serve", "corpus_batch", "corpus_arrival"]
# The workloads in BENCHMARK.json finish well within 180 s; corpus_arrival is run by hand
# (a run takes about four minutes on 4 cores, see README.md).
RUN_TIMEOUT_S = {"marketing_serve": 170, "corpus_batch": 170, "corpus_arrival": 1500}
SELFTEST_TIMEOUT_S = 900
KEEP_INPUT_SEEDS = 3
PARTS = 2 * (os.cpu_count() or 4)  # part files of a fact table, as graft.ScaleData lays them


def make_inputs(workload, seed, root):
    """(input dir, warm-up input dir, input rows, seconds spent generating)."""
    if workload == "marketing_serve":
        (d, s1), (w, s2), rows = (inputs.events_dir(root, seed, 200000, PARTS),
                                  inputs.events_dir(root, seed, 1000), 200000)
    elif workload == "corpus_batch":
        (d, s1), (w, s2), rows = (inputs.documents_dir(root, seed, 25000, PARTS),
                                  inputs.documents_dir(root, seed, 500), 25000)
    else:
        (d, s1), (w, s2), rows = (inputs.arrivals_dir(root, seed, 1200, 100),
                                  inputs.arrivals_dir(root, seed, 150, 50), 1200)
    return d, w, rows, s1 + s2

# Spark on JDK 17 outside spark-submit needs these (as build.sbt's run).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jar directory (set SPARK_HOME)")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not lib:
        fail(f"no library sources under {os.path.join(ROOT, 'src/main/scala')}; "
             "run from the repository root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return lib + bench


def build(jars):
    """Compile library + benchmark once per source digest; return the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def java(jars, classes, main, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CONF", None)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} did not finish within {timeout} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            import selftest
            return selftest.run(
                lambda main, args: java(jars, classes, main, args, work, SELFTEST_TIMEOUT_S),
                work)
        root = os.path.join(BUILD, "inputs")
        os.makedirs(root, exist_ok=True)
        inputs.prune(root, KEEP_INPUT_SEEDS, f"{inputs.VERSION}-s{a.seed}")
        data, warm, rows, gen_s = make_inputs(a.workload, a.seed, root)
        code, out = java(jars, classes, "graft.perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace,
                          "--input", data, "--warmup-input", warm,
                          "--input-rows", str(rows), "--input-gen-s", f"{gen_s:.3f}",
                          "--work", work, "--out", os.path.join(BUILD, "runs"),
                          "--git-head", git_head()], work, RUN_TIMEOUT_S[a.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail(f"no result line from the run (exit code {code})")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    return code if code != 0 or result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
