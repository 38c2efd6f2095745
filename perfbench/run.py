#!/usr/bin/env python3
"""The graft CDC benchmark: one command per workload run.

    python3 perfbench/run.py --workload backfill_wire --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source with the Scala compiler
that ships in the Spark distribution (no sbt, build.sbt untouched), runs
one workload in a fresh JVM, checks the final lake against an independent
oracle, and prints every metric by name with its unit. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}, holding the end-to-end metrics of BENCHMARK.json with
--trace 0 and its per-layer metrics with --trace 1.

Everything the run writes stays under <checkout>/.bench_build: the compiled
classes, a per-run scratch root (Spark temp files, inputs, lakes; deleted
when the run ends), and with --trace 1 the spans file
.bench_build/traces/<workload>-seed<seed>.json.
"""

import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("backfill_wire", "tail_mor", "serve_mor")
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class BenchError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("no java on PATH")
    return exe


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    lib = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not lib:
        raise BenchError("no library sources under %s" % main)
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return lib + bench


def resources():
    """Library resources (the data source registration of format("graft"))."""
    return sorted(p for p in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def build():
    """Compile src/main/scala and the benchmark's Scala sources, package
    them as .bench_build/build-<digest>/graftbench.jar, and record the
    classes a toy run loads in a class-data-sharing archive beside it,
    which halves JVM start-up. <digest> hashes the sources, the resources
    and the Spark jar list; a digest built before is reused, so alternating
    between two trees in one checkout builds each once. A build whose
    archive could not be recorded fails: every measured run uses the
    archive. Returns the jar."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs + resources():
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "build-" + digest.hexdigest()[:16])
    jar = os.path.join(out, "graftbench.jar")
    if os.path.exists(jar) and os.path.exists(archive(jar)):
        return jar
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.13.*.jar" % n)) for n in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BenchError("the Spark distribution ships no Scala 2.13 compiler")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", os.path.join(jars, "*"), "-d", classes, "@" + argfile]
    print("building %d sources ..." % len(srcs), file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("build failed:\n" + r.stdout.decode(errors="replace")[-4000:])
    part = jar + ".part"
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
        for p in resources():
            z.write(p, os.path.relpath(p, RESOURCES))
    shutil.rmtree(classes)
    os.replace(part, jar)
    train = argparse.Namespace(workload="serve_mor", seed=1, seconds=2.0, trace=1,
                               scale="toy", plant_mismatch=False)
    print("recording the class-data-sharing archive ...", file=sys.stderr, flush=True)
    try:
        with scratch_dir() as scratch:
            run_jvm(jar, train, scratch, record=True)
        if not os.path.exists(archive(jar)):
            raise BenchError("the JVM wrote no archive")
    except BenchError as e:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("recording the class-data-sharing archive failed: %s" % e)
    # write the build's files back now rather than during the measured run
    os.sync()
    return jar


def archive(jar):
    return jar[:-len(".jar")] + ".jsa"


@contextlib.contextmanager
def scratch_dir():
    """A per-run scratch root under .bench_build, deleted afterwards."""
    d = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def heap_mb():
    """A quarter of MemTotal, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2048, min(6144, total_kb // 4 // 1024))


def cores():
    """local[k]: k = usable cores, at most 4 (the size the workloads fit)."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(jar, args, scratch, record=False):
    """Run graftbench.Main in a fresh JVM; returns its raw measurements.
    The JVM maps the jar's class-data-sharing archive and fails when it
    cannot; with `record` it records the archive at exit instead."""
    out = os.path.join(scratch, "raw.json")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = [java(), "-Xmx%dm" % heap_mb(), "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp] + (
        ["-XX:ArchiveClassesAtExit=" + archive(jar)] if record else
        ["-Xshare:on", "-XX:SharedArchiveFile=" + archive(jar)]) + ADD_OPENS + [
        "-cp", jar + ":" + os.path.join(spark_jars(), "*"), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(cores()), "--scratch", scratch,
        "--out", out, "--scale", args.scale,
        "--plant-mismatch", "1" if args.plant_mismatch else "0"]
    log_path = os.path.join(scratch, "jvm.log")
    t0 = time.monotonic()
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        raise BenchError("benchmark JVM failed (%s):\n%s" % (code, tail))
    with open(out) as f:
        raw = json.load(f)
    raw["phases"]["jvm_s"] = time.monotonic() - t0
    return raw


def show(name, value, unit, note=""):
    print("  %-34s %16.4f %-12s %s" % (name, value, unit, note))


def report(args, raw):
    """Print every metric; return the contract's result object."""
    e2e = metrics.end_to_end(raw)
    print("graft benchmark: workload=%s seed=%d seconds=%s trace=%d local[%d]" % (
        args.workload, args.seed, args.seconds, args.trace, raw["cores"]))
    print("end-to-end%s:" % (" (traced run)" if args.trace else ""))
    for name, (v, unit, note) in e2e.items():
        show(name, v, unit, note)
    print("run phases: " + ", ".join("%s %.2f" % kv for kv in raw["phases"].items())
          + ", set-ups " + ", ".join("%.2f" % x for x in raw["setup_reps_s"]))
    print("table: %d repos, %d rows at loop start" % (raw["repos"], raw["table_rows"]))
    print("commits ms: " + ", ".join("%.0f" % b["ms"] for b in raw["batches"]))
    for line in raw["mismatches"] + raw["errors"]:
        print("  ERROR " + line)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    untraced = os.path.join(BUILD, "untraced-%s-%s.json" % (args.workload, args.scale))
    if args.trace:
        layers = metrics.per_layer(raw)
        print("per-layer:")
        for name, (v, unit) in layers.items():
            show(name, v, unit)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            print("tracing overhead (traced - untraced, seed %s vs %s):" % (args.seed, base["seed"]))
            for m in spec["end_to_end"]:
                a, b = e2e[m["name"]][0], base["metrics"][m["name"]]
                show(m["name"], a - b, m["unit"], "%.4f - %.4f" % (a, b))
        else:
            print("tracing overhead: no untraced run of %s in this checkout yet" % args.workload)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, "%s-seed%d.json" % (args.workload, args.seed))
        with open(path, "w") as f:
            json.dump({"spans": metrics.with_self_time(raw["spans"]), "per_layer": layers,
                       "end_to_end": {k: v[0] for k, v in e2e.items()}}, f)
        print("spans: %s (%d)" % (os.path.relpath(path, ROOT), len(raw["spans"])))
        chosen = {m["name"]: {"value": layers[m["name"]][0], "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                  for m in spec["end_to_end"]}
        with open(untraced, "w") as f:
            json.dump({"seed": args.seed, "metrics": {k: v[0] for k, v in e2e.items()}}, f)
    for name, m in chosen.items():
        if not math.isfinite(m["value"]):
            raise BenchError("metric %s was not measured (see the errors above)" % name)
    correct = not raw["mismatches"]
    return {"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
            "metrics": chosen}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs, for the benchmark's own tests")
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="apply one update the oracle does not know of (tests the oracle)")
    args = ap.parse_args()
    try:
        os.makedirs(BUILD, exist_ok=True)
        jar = build()
        with scratch_dir() as scratch:
            raw = run_jvm(jar, args, scratch)
        result = report(args, raw)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print("benchmark failed: %s" % e, file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
