#!/usr/bin/env python3
"""Benchmark entry point for the delivery pipeline and the corpus operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload delivery_churn --seed 1 --seconds 10 --trace 0

It compiles the engine (src/main/scala) and the harness (perfbench/src)
with the Scala compiler that ships in Spark's jar directory, then runs
one workload in a single JVM and relays its output. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Build outputs go to .bench_build/ and run data to .bench_run/, both
under the directory the command is started from.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

WORKLOADS = ("delivery_churn", "delivery_paced", "corpus_batch")
HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
BUILD = ".bench_build"
RUN_DIR = ".bench_run"
# JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_if_stale(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name>; skip when the stamp matches."""
    h = hashlib.sha256()
    for s in srcs + classpath:
        h.update(s.encode())
        if os.path.isfile(s):
            with open(s, "rb") as f:
                h.update(f.read())
        elif os.path.isfile(s + ".stamp"):
            with open(s + ".stamp") as f:
                h.update(f.read().encode())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    if os.path.isfile(out + ".stamp") and open(out + ".stamp").read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compile of {name} failed")
    with open(out + ".stamp", "w") as f:
        f.write(stamp)
    return out


def pack(classes):
    """Zip a class directory into a jar: class-data sharing reads jars only."""
    out = classes + ".jar"
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(out + ".tmp", out)
    return out


def jvm(cp, args, extra, flags=()):
    """Run perfbench.Main in its own JVM; returns (exit code, stdout)."""
    tmp = os.path.join(extra[extra.index("--work") + 1], "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + list(flags) +
           ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--data", os.path.join(HERE, "data")] + extra)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate()
    except BaseException:
        p.send_signal(signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(jars):
    """Compile the engine and the harness, pack them, and record the
    class-data-sharing archive of a short training run, so each JVM maps
    Spark's and the engine's classes instead of loading them one by one.
    Returns the classpath and the JVM flags that use the archive."""
    engine = sources(ENGINE_SRC)
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}: run from the repository root")
    engine_out = compile_if_stale("engine", engine, [], jars)
    bench_out = compile_if_stale("perfbench", sources(os.path.join(HERE, "src")),
                                 [engine_out], jars)
    stamp = "".join(open(d + ".stamp").read() for d in (engine_out, bench_out))
    archive = os.path.join(BUILD, "classes.jsa")
    if not (os.path.isfile(archive + ".stamp") and open(archive + ".stamp").read() == stamp):
        for f in (archive, archive + ".stamp"):
            if os.path.exists(f):
                os.remove(f)
        cp = os.pathsep.join([pack(bench_out), pack(engine_out), os.path.join(jars, "*")])
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
        train = argparse.Namespace(workload="delivery_churn", seed=0, seconds=1)
        work = os.path.join(BUILD, "train")
        rc, _ = jvm(cp, train, ["--work", work], [f"-XX:ArchiveClassesAtExit={archive}"])
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.isfile(archive):
            fail(f"training run for the class-data-sharing archive exited {rc}")
        with open(archive + ".stamp", "w") as f:
            f.write(stamp)
    cp = os.pathsep.join([bench_out + ".jar", engine_out + ".jar", os.path.join(jars, "*")])
    return cp, [f"-XX:SharedArchiveFile={archive}"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp, flags = build(spark_jars())

    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        extra = ["--trace", str(args.trace), "--work", os.path.join(work, "main")]
        if args.trace and args.workload == "delivery_churn":
            # Single-thread baseline of the same job, in its own JVM
            # because a SparkContext's core count is fixed at start.
            rc, out = jvm(cp, args, ["--cores", "1", "--work", os.path.join(work, "c1")], flags)
            one = json.loads(out.strip().splitlines()[-1]) if rc == 0 else None
            if one is None or not one["correct"]:
                fail(f"single-core baseline exited {rc} or failed its checks")
            extra += ["--baseline-1core", repr(one["metrics"]["records_per_s"]["value"])]
        rc, out = jvm(cp, args, extra, flags)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited {rc}")
    print(json.dumps(json.loads(lines[-1])))


if __name__ == "__main__":
    main()
