#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap_gpx,pipeline,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds the engine and the benchmark
program from source with sbt on first use (outputs under perfbench/target),
runs one workload in a fresh JVM, checks every answer, and prints the
metrics; the last stdout line is one JSON object. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones. Exits nonzero on a
wrong answer or when the checkout cannot be built.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the JVM's class-data sharing archives classes from jars only
JAR = os.path.join(HERE, "target", "perfbench.jar")
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("olap_gpx", "pipeline", "ingest")
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "run.py"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group and wait for it
    if it is still running at `deadline` (time.monotonic seconds)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("%s timed out" % cmd[0])
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    fp = fingerprint()
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return False
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Djava.io.tmpdir=" + tmp, "compile", "copyResources"],
        deadline, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        die("build failed (sbt exit %d)" % code)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(CLASSES):
            for n in names:
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    archive_classes(deadline)
    with open(STAMP, "w") as f:
        f.write(fp)
    return True


def archive_classes(deadline):
    """Record the classes a short olap_gpx run loads into a class-data
    sharing archive, which every later run maps instead of loading and
    verifying them again: it halves JVM and Spark start-up. A run without
    the archive is slower to start but otherwise the same."""
    print("perfbench: archiving classes (short olap_gpx run)", file=sys.stderr)
    if os.path.exists(CDS):
        os.remove(CDS)
    out = os.path.join(HERE, "target", "cds-run")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    code = java(["-XX:ArchiveClassesAtExit=" + CDS], "olap_gpx", 0, 1, 0,
                out, deadline)
    shutil.rmtree(out, ignore_errors=True)
    if code != 0 and os.path.exists(CDS):
        os.remove(CDS)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            die("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die("no Spark jars under " + jars)
    return jars


def java(flags, workload, seed, seconds, trace, out, deadline):
    """Run the benchmark JVM on one workload, writing under `out`."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # a fixed young generation keeps the resident set from following GC
    # timing, so rss_peak_mb moves with the program's own memory
    cmd = ["java", "-Xmx" + JVM_HEAP, "-Xmn512m", "-XX:+UseParallelGC"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--out", out,
    ]
    return run_bounded(cmd, deadline, cwd=out, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL)


def run_jvm(args, out, deadline):
    flags = ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) else []
    code = java(flags, args.workload, args.seed, args.seconds, args.trace,
                out, deadline)
    if code != 0:
        die("benchmark JVM exited with %d" % code)


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main():
    t0 = time.monotonic()
    # a terminated run must still stop its build or JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources at src/main/scala: run from a full checkout")
    built = build(t0 + 840)
    out = os.path.join(OUT, "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(args, out, (time.monotonic() if built else t0) + 170)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    spans = []
    if args.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    # the tables are rebuilt by every run; keep only the small result files
    shutil.rmtree(os.path.join(out, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "warehouse"), ignore_errors=True)

    attempted, failed = stats.counts(res)
    correct = failed == 0 and not res["problems"]
    for k, v in res.items():
        if k not in ("ops", "calls", "problems"):
            print("info %s = %s" % (k, v))
    for p in res["problems"]:
        print("wrong answer: " + p)
    print("check attempted=%d failed=%d fail_frac=%s" % (
        attempted, failed, fmt(failed / attempted)))
    if args.trace:
        metrics = stats.per_layer(res, spans)
        for k, (v, unit) in metrics.items():
            print("layer %s = %s %s" % (k, fmt(v), unit))
    else:
        metrics, notes = stats.end_to_end(res)
        for k, (v, unit) in metrics.items():
            print("metric %s = %s %s %s" % (k, fmt(v), unit, notes.get(k, "")))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
