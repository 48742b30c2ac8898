#!/usr/bin/env python3
"""Run one benchmark workload against the program and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program's main
sources together with the benchmark's own (perfbench/build.sbt, offline sbt)
and later runs reuse the build while no source changed. Each run is one JVM,
launched like bin/graft.sh (plain `java -cp` over the classes plus the Spark
jars, with the JDK-17 --add-opens set), with SPARK_GRAFT_CPUS=$(nproc), the
tier-1 heap formula and a fresh SPARK_LOCAL_DIRS. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.sources")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")  # as bin/graft.sh
# a watchdog, so that the JVM never outlives this script: the slowest run,
# a traced ingest_tick, takes about 110 s on a 4-core box
RUN_TIMEOUT_S = 300

# JDK 17 module opens Spark needs outside spark-submit (as in bin/graft.sh)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Names, sizes and mtimes of every file the build compiles."""
    h = hashlib.sha256()
    for base in (PROGRAM_SOURCES, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    # offline, as the repository's tier-1 command builds
    opts = "-Dsbt.offline=true -Xmx3g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap():
    """Half the box's memory in GiB, clamped to 2..8 (the tier-1 formula)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def listed_metrics(trace):
    """The metrics this run prints, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "graft")):
        fail(f"no program sources under {PROGRAM_SOURCES}; run from the root of a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}; set SPARK_JARS_DIR")
    listed = listed_metrics(a.trace == "1")
    build()

    run_dir = os.path.join(WORK, "run")
    local_dir = os.path.join(WORK, "local")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(local_dir)
    os.makedirs(OUT, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))  # what nproc prints
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=local_dir)
    cmd = (["java", "-cp", f"{CLASSES}:{SPARK_JARS}/*"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              # long enough call-site stacks to reach the benchmark's own frames
              "-Dspark.callstack.depth=1000",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
              f"-Xmx{heap()}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", run_dir, "--out", OUT,
              "--metrics", ",".join(f"{n}:{u}" for n, u in listed)])
    log_path = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    shutil.rmtree(WORK, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"no result line (exit {proc.returncode}); log in {log_path}")
    result = json.loads(lines[-1])
    metrics = result["metrics"]
    if {n: m["unit"] for n, m in metrics.items()} != dict(listed):
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(dict(listed)))}")
    if not all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in metrics.values()):
        fail("a metric is not a finite number")
    if proc.returncode != 0 or not result["correct"]:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if "[perfbench]" in l)[-4000:])
        print(json.dumps(result))
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
