#!/usr/bin/env python3
"""Crawl + index benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark
jars, unless the build under .bench_build matches the sources; then runs
one workload in a fresh JVM whose state lives in a fresh directory under
.bench_work, checks that the JSON line it prints carries every metric
BENCHMARK.json names with its unit, and prints that line last.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (build.sbt's list).
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


def spark_jars():
    """The Spark distribution's jars: SPARK_HOME, else the first spark-submit on
    PATH that sits in a distribution (bin/ next to jars/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars", "*")
    fail("Spark not found: set SPARK_HOME or put a Spark distribution's bin/ on PATH")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from a full checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compile engine + harness into .bench_build/classes, keyed by a hash of the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def driver_mem():
    """Half the machine's memory in GiB, clamped to 2..8 (the repo's test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def validate(line, trace):
    """Parse the result line; require every metric BENCHMARK.json names, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = json.loads(line)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(out)}")
    if not isinstance(out["attempted"], int) or out["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(out["failed"], int):
        raise ValueError("failed must be a whole number")
    want = spec["per_layer" if trace else "end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        if got is None:
            raise ValueError(f"metric {m['name']} missing")
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            raise ValueError(f"metric {m['name']} has {got}, want unit {m['unit']}")
    extra = set(out["metrics"]) - {m["name"] for m in want}
    if extra:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(WORK, f"{a.workload}.log")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"), spark_jars()])
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.oracleCheck={os.path.join(HERE, 'oracle_check.py')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    env = dict(os.environ, GRAFT_WORK_DIR=os.path.join(work, "graft"), PYTHONDONTWRITEBYTECODE="1")
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
                               cwd=work, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload timed out after {RUN_TIMEOUT_S} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload exited with {r.returncode}; log in {log}")
    try:
        validate(lines[-1], a.trace == 1)
    except ValueError as e:
        fail(f"bad result line: {e}")
    print(lines[-1])


if __name__ == "__main__":
    main()
