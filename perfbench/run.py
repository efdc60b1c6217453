#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload serve_mutating --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, caching the classes under $CARGO_TARGET_DIR (default
.bench_build) by source hash, then runs one workload in a fresh JVM. The
last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}; the full record of the run
(context, named metrics, failures, and for --trace 1 the spans) is written
under perfbench/out/. Exits non-zero when the build or the run fails or an
output check does not hold.

Other modes:
    --self-test         the benchmark's own failure-honesty test
    --record-expected   rewrite perfbench/expected/curate_batch.tsv from a
                        curate_batch cold pass (after a deliberate change to
                        a gate's output)
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
EXPECTED = os.path.join(HERE, "expected", "curate_batch.tsv")
OUT_DIR = os.path.join(HERE, "out")
WORKLOADS = ["serve_mutating", "curate_batch"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# The gates create their scratch and shared-build directories directly
# under /tmp, named graft_<tag>_<fixture dir>_<nonce>; the fixture dir is
# perfbench_corpus (Curate.FixtureName).
TMP = "/tmp"
GATE_SCRATCH = re.compile(r"^graft_.*perfbench_corpus")

# Spark 4 on JDK 17 outside spark-submit (the build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else beside spark-submit on
    PATH, else the unmanagedBase the project's build.sbt declares."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.abspath(c)
    fail("no Spark jars directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile engine + benchmark once per source state; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench build {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, work, main_class, extra, timeout):
    """Run one JVM in its own process group; kill the group on timeout or
    interrupt, and always wait for it. Returns (exit code, stdout text).
    The heap is fixed and the collector is the stop-the-world parallel one:
    G1's concurrent threads compete with Spark's local[nproc] task threads
    for the cores, which showed as run-to-run spread of the pass time."""
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main_class] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.out"), "wb") as out, \
            open(os.path.join(work, "jvm.err"), "wb") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=ROOT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    text = open(os.path.join(work, "jvm.out"), errors="replace").read()
    if rc != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.err"), errors="replace").read()[-6000:])
    return rc, text


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, when it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    spec = json.load(open(path))
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record_expected):
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a checkout of the repository root")

    jars = spark_jars()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, jars)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if a.self_test:
        try:
            rc, text = run_jvm(classes, jars, work, "perfbench.SelfTest", [], RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.stdout.write(text)
        sys.exit(0 if rc == 0 else 1)

    workload = "curate_batch" if a.record_expected else a.workload
    result = os.path.join(work, "result.json")
    extra = ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
             "--work", work, "--out", OUT_DIR, "--result", result, "--expected", EXPECTED]
    if a.record_expected:
        extra += ["--record-expected", EXPECTED]
    before = set(os.listdir(TMP))
    try:
        rc, text = run_jvm(classes, jars, work, "perfbench.Main", extra, RUN_TIMEOUT_S)
        res = open(result).read() if rc == 0 and os.path.isfile(result) else None
    finally:
        # leave nothing behind: the run's stores and Spark scratch live in
        # `work`; the gates' scratch lands in /tmp
        for name in set(os.listdir(TMP)) - before:
            if GATE_SCRATCH.match(name):
                shutil.rmtree(os.path.join(TMP, name), ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(text)
    if res is None:
        fail(f"{workload} run failed (exit {rc})", 1)
    obj = json.loads(res)
    want = declared_metrics(a.trace)
    if want is not None and list(obj["metrics"]) != want:
        fail(f"metrics {list(obj['metrics'])} differ from BENCHMARK.json {want}", 1)
    print(res)
    sys.exit(0 if obj["correct"] else 1)


if __name__ == "__main__":
    main()
