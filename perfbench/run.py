#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_reads|delta_dml|curation_batch \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine plus the benchmark
driver with sbt (once per source change), generates the workload's inputs
from the seed, runs the workload in one JVM, checks every output, and
prints one JSON line: the end-to-end metrics (--trace 0) or the per-layer
metrics of the traced run (--trace 1). Raw records, logs and the traced
run's spans stay under perfbench/work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

WORKLOADS = ("sql_reads", "delta_dml", "curation_batch")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# the curation corpus: documents, and the planted near-duplicate share
CORPUS_DOCS = 1000
CORPUS_DUP_FRAC = 0.1
READ_INSTANCES = 600
DML_STATEMENTS = 200
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile engine + driver with sbt when any source changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, fs in sorted(os.walk(base)):
            if os.path.relpath(d, HERE).startswith(os.path.join("project", "target")):
                continue
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                h.update(open(p, "rb").read())
    h.update(open(os.path.join(HERE, "build.sbt"), "rb").read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        saved = open(cp_file).read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def generate(workload, seed, inputs):
    import gen
    tables = os.path.join(inputs, "tables")
    if workload in ("sql_reads", "delta_dml"):
        gen.make_tables(seed, tables)
    if workload == "sql_reads":
        reads = gen.make_reads(seed, READ_INSTANCES)
        for r in reads:
            r["sql"] = gen.render(r["template"], r["params"], lambda t: "{" + t + "}")
        gen.write_json(reads, os.path.join(inputs, "reads.json"))
    elif workload == "delta_dml":
        stmts = gen.make_dml(seed, os.path.join(inputs, "dml"), DML_STATEMENTS,
                             os.path.join(tables, "lineitem.parquet"))
        gen.write_json(stmts, os.path.join(inputs, "dml.json"))
    else:
        gen.make_corpus(seed, os.path.join(inputs, "corpus"), CORPUS_DOCS, CORPUS_DUP_FRAC)


def run_engine(cp, workload, inputs, out, seconds, trace):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"] + \
        [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
         f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
         "-cp", cp, "graft.perfbench.PerfBench", workload, inputs,
         os.path.join(WORK, "delta"), out, str(seconds), str(trace)]
    log = open(os.path.join(WORK, "engine.log"), "w")
    launch_ms = int(time.time() * 1000)
    proc = subprocess.Popen(cmd + [str(launch_ms)], stdout=log, stderr=subprocess.STDOUT,
                            cwd=WORK)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("engine run timed out; see perfbench/work/engine.log")
    if rc != 0:
        die(f"engine exited with {rc}; see perfbench/work/engine.log")
    return json.load(open(os.path.join(out, "engine.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    inputs, out = os.path.join(WORK, "inputs"), os.path.join(WORK, "out")
    os.makedirs(out)
    t0 = time.time()
    generate(a.workload, a.seed, inputs)
    t1 = time.time()
    eng = run_engine(cp, a.workload, inputs, out, a.seconds, a.trace)
    t2 = time.time()
    import metrics
    result = metrics.reduce(a.workload, inputs, out, eng, a.trace == 1)
    print(f"perfbench: generate {t1 - t0:.1f}s engine {t2 - t1:.1f}s check {time.time() - t2:.1f}s",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
