#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <batch_telemetry|stream_detect|index_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jars (cached under `perfbench/.build/`), generates the seeded
inputs, runs the workload in one JVM at local[nproc], checks its
outputs, and prints every metric with its unit, then as the last line
one JSON object: correct, attempted, failed, metrics. The full report
(all named metrics, host and config record, input sizes) is written to
`perfbench/results/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("batch_telemetry", "stream_detect", "index_serve")
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for h in homes:
        jars = sorted(glob.glob(os.path.join(h, "jars", "*.jar"))) if h else []
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark jars with a Scala compiler (set SPARK_HOME)")


def build(jars):
    """Compile engine + harness once per source digest; return the
    classes directory."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("engine sources not found under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BENCH, ".build", h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BENCH, ".build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BENCH, ".build", "*")):
        if os.path.isdir(old) and old != out:
            shutil.rmtree(old)
    return out


def run_jvm(classes, jars, workload, data, work, seconds, trace, seed):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the run writes stays under `work`, including Spark's
    # scratch space and the JVM's temp files
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "graft.perfbench.Main",
              workload, data, work, str(seconds), str(trace), str(seed), raw])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload JVM exceeded {JVM_TIMEOUT_S}s (log: {log})")
    if r.returncode != 0 or not os.path.exists(raw):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload JVM failed with code {r.returncode}")
    with open(raw) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.time()
    try:
        rows = gen.generate(a.workload, a.seed, data)
        inputs = {"rows": rows, **gen.census(data)}
        t1 = time.time()
        raw = run_jvm(classes, jars, a.workload, data, work, a.seconds, a.trace, a.seed)
        t2 = time.time()
        oracle = None
        if a.workload == "batch_telemetry":
            import oracle as oracle_mod
            oracle = oracle_mod.check(data, raw["check"]["dir"])
        rep = report.build(raw, oracle, inputs)
        rep["phases_s"] = {"generate": t1 - t0, "jvm": t2 - t1,
                           "oracle": time.time() - t2, **raw["phases_s"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    path = os.path.join(BENCH, "results",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(rep, f, indent=1, sort_keys=True)
    report.print_summary(rep, path)
    keys = report.E2E if a.trace == 0 else report.PER_LAYER
    print(json.dumps({
        "correct": rep["failed"] == 0, "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": rep["metrics"][k], "unit": u} for k, u in keys.items()}}))


if __name__ == "__main__":
    main()
