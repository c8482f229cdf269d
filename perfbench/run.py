#!/usr/bin/env python3
"""graft performance benchmark: the build and batch workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 7 --seconds 10 --trace 0

The first run compiles the engine (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/` (or $CARGO_TARGET_DIR when set). Later runs
reuse the classes while no source changed. The benchmark JVM runs one
workload in `local[nproc]` Spark, checks every output, and prints a report
followed by one JSON result line, which this script prints last.

Everything a run writes stays under the build directory; the per-run work
directory is removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("build", "batch")
JDK_OPENS = [
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


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the root of a graft checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def spark_jars():
    """Jars of the Spark install: $SPARK_HOME, else a `bin/` on PATH beside `jars/`."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "spark-core_*.jar")))
        if home and jars:
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    fail("no Spark jars found; set SPARK_HOME")


def catalog(root, trace):
    """(name, unit) of every metric BENCHMARK.json declares for this mode."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("no BENCHMARK.json; run from the root of a graft checkout")
    with open(path) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def compile_classes(root, build_dir, srcs, jars):
    """Compile engine + benchmark once per source tree; returns the jar."""
    # resources are packed into the jar, so they key it too
    resources = os.path.join(root, "src/main/resources")
    res_files = sorted(os.path.join(d, n) for d, _, names in os.walk(resources) for n in names)
    h = hashlib.sha256()
    for path in srcs + res_files + [os.path.basename(j) for j in jars]:
        h.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", tmp, "-nowarn", "-classpath", os.pathsep.join(jars)] + srcs))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    # one jar of classes and resources: the JVM archives classes for sharing
    # only from jars (see the class-data archive in main)
    with zipfile.ZipFile(tmp + ".jar", "w") as jar:
        for base in (tmp, resources):
            for d, _, files in os.walk(base):
                for name in files:
                    path = os.path.join(d, name)
                    jar.write(path, os.path.relpath(path, base))
    shutil.rmtree(tmp)
    os.rename(tmp + ".jar", out)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    metrics = catalog(root, args.trace)
    srcs = sources(root)
    jars = spark_jars()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = compile_classes(root, build_dir, srcs, jars)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A class-data archive, dumped when the first run of a source tree exits,
    # takes Spark's class loading off the start of every later run.
    cds = classes[:-len(".jar")] + ".jsa"
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.isfile(cds)
                else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds_flag,
            "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work])
    log_path = os.path.join(build_dir, f"last-{args.workload}.log")
    # fixed cost (JVM and Spark start, set-up, checks) plus up to three
    # measured phases of --seconds each in a traced run
    timeout = 140 + 3 * args.seconds
    result = None
    proc = None
    # a terminated runner still stops its JVM and removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM exceeded {timeout:.0f}s; log in {log_path}")
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            fail(f"benchmark JVM exited {proc.returncode} without a result; log in {log_path}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    # Every measured metric must be declared, and every declared end-to-end
    # metric measured; a layer the workload does not run reads 0.
    measured = result.pop("metrics")
    undeclared = sorted(set(measured) - {n for n, _ in metrics})
    if undeclared:
        fail(f"metrics not declared in BENCHMARK.json: {undeclared}")
    missing = [n for n, _ in metrics if n not in measured]
    if missing and not args.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    result["metrics"] = {n: {"value": measured.get(n, 0), "unit": u} for n, u in metrics}

    # For the same seed and source tree, exact counts must repeat (a
    # difference is a failure) and layout counts should (a difference is
    # flagged). A traced run records more counts than an untraced one, so
    # the counts both runs have are compared, and the record keeps them all.
    counts = {"exact": result.pop("exact"), "layout": result.pop("layout")}
    record = os.path.join(build_dir, "counts",
                          f"{os.path.basename(classes)}-{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    before = {"exact": {}, "layout": {}}
    if os.path.exists(record):
        with open(record) as f:
            before = json.load(f)
    for kind in ("exact", "layout"):
        a, b = before[kind], counts[kind]
        diff = sorted(k for k in set(a) & set(b) if a[k] != b[k])
        if diff:
            print(f"perfbench: {kind} counts differ from an earlier run with this seed: {diff}")
            if kind == "exact":
                result["failed"] += 1
        before[kind] = {**b, **a}
    with open(record, "w") as f:
        json.dump(before, f, sort_keys=True)
    result["correct"] = result["failed"] == 0 and result["attempted"] > 0
    result["attempted"] = max(1, result["attempted"])
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
