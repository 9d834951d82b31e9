#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload geo_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the harness and
the program from source with the Scala compiler that ships in the Spark
jars; later runs reuse the build while no source file changes. The JVM's own output goes to
perfbench/work/<workload>/run.log; stdout gets one pointer line to the
full result file, then the summary line with the keys `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
BUILD_FILES = [os.path.abspath(__file__), os.path.join(HERE, "build.sbt")]
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-sources.sha256")
WORKLOADS = ["geo_etl", "geo_extract", "curation"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in BUILD_FILES:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, log, env=None, cwd=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         cwd=cwd, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_jars():
    """The Spark distribution's jars, which include Scala 2.13's compiler:
    $SPARK_HOME/jars, else the directory beside the spark-submit on PATH,
    else the `unmanagedBase` that build.sbt names for the harness tests."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if shutil.which("spark-submit"):
        bin_dir = os.path.dirname(os.path.realpath(shutil.which("spark-submit")))
        dirs.append(os.path.join(os.path.dirname(bin_dir), "jars"))
    with open(os.path.join(HERE, "build.sbt")) as fh:
        dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def build(digest):
    """Compile the program and the harness with scalac into target/classes
    and record the runtime classpath. The compiler runs from the Spark jars,
    so the build reads no dependency cache and writes only under target/."""
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH_FILE) as cf:
                    return cf.read().strip()
    jars = spark_jars()
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$",
                                            os.path.basename(j))]
    if len(compiler) != 3:
        fail("the Spark jars hold no Scala 2.13 compiler")
    classes = os.path.join(TARGET, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    for p in (CLASSPATH_FILE, STAMP_FILE):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    sources = sorted(os.path.join(d, f) for top in SOURCES for d, _, files in os.walk(top)
                     for f in files if f.endswith(".scala"))
    argfile = os.path.join(TARGET, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + sources) + "\n")
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile],
                       BUILD_TIMEOUT_S, log, cwd=HERE)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build " + ("timed out" if rc is None else "failed") + f" (see {log_path})")
    cp = os.pathsep.join([classes] + jars)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    return cp


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def summary(result, trace, e2e_spec, layer_spec):
    """The one-line result: every declared metric of the run's kind."""
    if trace:
        got = result["per_layer"]
        # a layer the workload does not exercise did no work on it
        metrics = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in layer_spec}
    else:
        got = result["end_to_end"]
        missing = [m["name"] for m in e2e_spec if m["name"] not in got]
        if missing and result["correct"]:
            fail(f"workload reported no {', '.join(missing)}")
        # an operation that failed left no timing: the run is already incorrect
        metrics = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in e2e_spec}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for p in SOURCES + BUILD_FILES + [os.path.join(ROOT, "BENCHMARK.json")]:
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from the root of a full checkout")
    e2e_spec, layer_spec = declared_metrics()
    digest = source_digest()
    classpath = build(digest)

    work = os.path.join(HERE, "work", args.workload)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Xmn1536m", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
        "--expected", os.path.join(HERE, "expected.json"), "--code", digest,
    ]
    log_path = os.path.join(work, "run.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_group(cmd, RUN_TIMEOUT_S, log, cwd=ROOT)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload {args.workload} " +
             ("timed out" if rc is None else f"exited with {rc}") + f" (see {log_path})")
    with open(out) as fh:
        result = json.load(fh)
    for p in result.get("problems", []):
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} ran {time.time() - t0:.1f} s; full result in "
          f"{os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(f"result: {os.path.relpath(out, ROOT)}")
    print(json.dumps(summary(result, args.trace, e2e_spec, layer_spec)))


if __name__ == "__main__":
    main()
