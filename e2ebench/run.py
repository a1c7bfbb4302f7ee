#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one seeded workload per run.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_with_reads, broker_reads (see README.md).
Builds the benchmark package (this directory's sbt build, which compiles the
program's sources with the benchmark code) when its sources changed, runs
the benchmark JVM in a fresh work directory under e2ebench/.runs/, checks the
outputs, and prints as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exits 1 when an output check failed, 2 when the run could not be made.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
WORKLOADS = ("ingest_with_reads", "broker_reads")
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's sources and this package's."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are not in this checkout")
    fp = fingerprint()
    if os.path.exists(STAMP) and open(STAMP).read() == fp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    os.makedirs(RUNS, exist_ok=True)
    log = os.path.join(RUNS, "build.log")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           HERE, env, out, BUILD_TIMEOUT_S)
        except FileNotFoundError:
            die("sbt is not installed")
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(fp)


def run_group(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} did not finish within {timeout} s")


def spark_home():
    """$SPARK_HOME, else the installation of the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        die("no Spark installation found: set SPARK_HOME")
    return home


def run_jvm(args, work):
    cpus = min(4, os.cpu_count() or 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars', '*')}", "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--workdir", work, "--cpus", str(cpus)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err, open(os.path.join(work, "jvm.out"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=err,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    lines = open(os.path.join(work, "jvm.out")).read().splitlines()
    record = next((json.loads(l[7:]) for l in lines if l.startswith("RECORD ")), None)
    result = next((json.loads(l[7:]) for l in lines if l.startswith("RESULT ")), None)
    if rc != 0 or result is None:
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        die(f"benchmark JVM failed (exit {rc}); work dir kept at {work}")
    return record, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    spark_home()
    build()
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record, result = run_jvm(args, work)
    trace = os.path.join(work, "trace.json")
    if os.path.exists(trace):
        shutil.copy(trace, os.path.join(RUNS, f"trace-{args.workload}-s{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    errors = result.pop("errors", [])
    record = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, **(record or {}))
    print("record " + json.dumps(record, sort_keys=True))
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
