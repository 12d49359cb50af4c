#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload online_read --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the engine from
src/main/scala and the harness from perfbench/harness into .bench_build/,
using the Scala compiler that ships among Spark's jars (the directory
build.sbt names as unmanagedBase, or $SPARK_HOME/jars); later runs reuse the
build while the sources are unchanged. Each run is one JVM, so no JIT, memo
or cache state crosses runs.

`--trace 0` prints the end-to-end metrics listed in BENCHMARK.json;
`--trace 1` prints its per-layer metrics and leaves the spans of every
traced call in .bench_build/runs/<run>/spans.jsonl. Either way the last
line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data")
WORKLOADS = ("online_read", "batch_sweep", "online_mixed")
HEAP = "2g"
# Seconds a run may take before it is stopped: a run must end within 180 s,
# or 900 s when it also builds.
RUN_LIMIT_S, BUILD_LIMIT_S = 170, 880

# Spark 4 on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars the engine builds against: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise BenchError("build.sbt names no unmanagedBase; set SPARK_HOME")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BenchError(f"no Spark jars in {d}; set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not main:
        raise BenchError("no engine sources under src/main/scala: run from the repository root")
    return main, harness


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(srcs, classpath, out_jar):
    """Compile `srcs` and pack the classes into `out_jar` (the class
    archive needs jars, not directories)."""
    classes = out_jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = out_jar + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BenchError("compile failed:\n" + res.stdout[-4000:])
    tmp = out_jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, out_jar)
    shutil.rmtree(classes, ignore_errors=True)


def jvm_cmd(classpath, args, out, archive_flag=None):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    if archive_flag:
        cmd.append(archive_flag)
    return cmd + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + args


def build():
    """Build once per source state; returns (classpath, class archive or None, built)."""
    main, harness = sources()
    jars = spark_jars()
    stamp = fingerprint(main + harness + [os.path.abspath(__file__)])
    graft_jar = os.path.join(BUILD, "graft.jar")
    bench_jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "classes.jsa")
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = [graft_jar, bench_jar] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, (archive if os.path.exists(archive) else None), False
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, archive):
        if os.path.exists(f):
            os.remove(f)
    t0 = time.time()
    scalac(main, jars, graft_jar)
    scalac(harness, [graft_jar] + jars, bench_jar)
    log(f"compiled in {time.time() - t0:.1f} s")
    # A class archive of everything a workload loads cuts JVM and Spark
    # start-up in every later run; without it runs are slower, not wrong.
    out = os.path.join(BUILD, "runs", "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = jvm_cmd(classpath, ["--workload", "classes", "--seed", "0", "--seconds", "1", "--trace", "0",
                              "--out", out, "--data", DATA], out, "-XX:ArchiveClassesAtExit=" + archive)
    with open(os.path.join(out, "jvm.log"), "w") as fh:
        ok = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode == 0
    if not ok and os.path.exists(archive):
        os.remove(archive)
    log(f"built in {time.time() - t0:.1f} s (class archive: {'yes' if os.path.exists(archive) else 'no'})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, (archive if os.path.exists(archive) else None), True


def run_jvm(classpath, archive, args, out, deadline):
    """Run the harness and wait for it; stop it (and wait) at `deadline`."""
    cmd = jvm_cmd(classpath, args, out, ("-XX:SharedArchiveFile=" + archive) if archive else None)
    with open(os.path.join(out, "jvm.log"), "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("the workload did not finish in time; see " + os.path.join(out, "jvm.log"))
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"the workload exited with code {rc}:\n{tail}")


def check_rows(rows):
    """Row counts of the batch queries against the frozen expected counts."""
    with open(os.path.join(BENCH, "expected_rows.json")) as fh:
        expected = json.load(fh)["rows"]
    bad = []
    for q, n in sorted(rows.items()):
        want = expected.get(q)
        if want is None or want["rows"] != n:
            bad.append(f"{q}: {n} rows, expected {None if want is None else want['rows']}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classpath, archive, built = build()
    out = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))
    run_jvm(classpath, archive,
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", out, "--data", DATA, "--cpus", str(cpus)],
            out, start + (BUILD_LIMIT_S if built else RUN_LIMIT_S))
    # The stores and Spark scratch space are only needed while the JVM runs.
    for d in glob.glob(os.path.join(out, "store-*")) + [os.path.join(out, x) for x in ("spark-local", "tmp", "warehouse")]:
        shutil.rmtree(d, ignore_errors=True)

    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    problems = list(res["errors"])
    failed = res["failed"]
    if res["rows"]:
        bad = check_rows(res["rows"])
        failed += len(bad)
        problems += bad
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise BenchError(f"metric {m['name']} was not measured ({v!r}); see {out}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"workload {a.workload}, seed {a.seed}, {a.seconds} s, trace {a.trace}; run files in {os.path.relpath(out, ROOT)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']!r} {m['unit']}")
    if res["mix"]:
        n = res["mix"].pop("mix.retrieves")
        print(f"  retrieve modes (share of {n:.0f} retrieves): "
              + ", ".join(f"{k[4:]} {v:.3f}" for k, v in sorted(res["mix"].items())))
    for p in problems[:20]:
        print(f"  check failed: {p}")
    print(f"output checks: {'passed' if failed == 0 else 'FAILED'} ({failed} of {res['attempted']} operations failed)")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(1)
