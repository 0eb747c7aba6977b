#!/usr/bin/env python3
"""Repository benchmark: build the program from source, run one workload,
check its outputs, and print one JSON result line.

    python3 krawlbench/run.py --workload crawl_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
program's main sources together with the benchmark's own (sbt, offline);
later runs reuse that build while no source changed. Everything a run
writes stays under krawlbench/target and krawlbench/.work.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The lines before it give the host (nproc,
CPU calibration) and every value the run measured. See README.md.
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_LIMIT_S = 170  # a run must end within 180 s of its start (build excluded)
BUILD_LIMIT_S = 600
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"krawlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = os.path.join(TARGET, "krawlbench.stamp")
    cp_file = os.path.join(TARGET, "krawlbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    sbt_opts = env.get("SBT_OPTS", "")
    for key, flag in [("-Dsbt.offline", "-Dsbt.offline=true"),
                      ("-Dsbt.override.build.repos", "-Dsbt.override.build.repos=true"),
                      ("-Xmx", "-Xmx2g")]:
        if key not in sbt_opts:
            sbt_opts += " " + flag
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in sbt_opts:
        sbt_opts += f" -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = sbt_opts.strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = out.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    jvm = ["java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
            "-cp", cp, "krawlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cache", os.path.join(WORK, "cache"),
            "--out", out_file]
    log_file = os.path.join(work, "jvm.log")
    with open(log_file, "w") as log:
        proc = subprocess.Popen(jvm, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=deadline - time.time())
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload exceeded its time limit (log: {log_file})")
    with open(log_file) as fh:
        log = fh.read().splitlines()
    if proc.returncode != 0 or not os.path.exists(out_file):
        sys.stderr.write("\n".join(log[-60:]) + "\n")
        fail(f"workload exited with code {proc.returncode}")
    for l in log:
        if "CHECK FAILED" in l:
            print(l, file=sys.stderr)
    with open(out_file) as fh:
        res = json.load(fh)
    values = res["values"]
    attempted, failed = res["attempted"], res["failed"]

    values["failed_op_share"] = failed / max(1, attempted)

    host = {k: v for k, v in values.items() if k.startswith("host.")}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "host": host,
                      "wall_s": round(time.time() - t_start, 3)}))
    print(json.dumps({"values": values}))
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        v = values.get(m["name"])
        if v is None:
            fail(f"workload {a.workload} measured no {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
