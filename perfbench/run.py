#!/usr/bin/env python3
"""Benchmark of the DARIMA engine: one workload, one seed, one run.

Usage, from the repository root:

    python3 perfbench/run.py --workload darima_paper --seed 1 \
        --seconds 25 --trace 0

Builds the engine and the harness from source with sbt (once per source
state), then runs graft.pipeline.bench.BenchMain in one JVM on local[4].
Inputs, build output and result records go to the work directory:
$CARGO_TARGET_DIR when set, else .bench_build, inside the checkout.
The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("darima_paper", "darima_fleet")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = ["-Xms4g", "-Xmx4g"]
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the first Spark installation on PATH (a bin/
    directory holding spark-submit next to a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d))
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("Spark not found: set SPARK_HOME")


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(work):
    """Compiles engine + harness unless this source state is built."""
    target = os.path.join(work, "sbt-target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = [f"-Dperfbench.target={target}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.isdir(classes):
        sys.exit(f"build failed (rc={rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    print(f"built in {time.time() - t0:.1f} s", flush=True)
    return classes


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def run_jvm(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += HEAP + ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}:{os.path.join(spark_home(), 'jars', '*')}",
            "graft.pipeline.bench.BenchMain", "--work", work] + args
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    stderr = os.path.join(logs, f"jvm-{time.strftime('%Y%m%dT%H%M%S')}"
                                f"-{os.getpid()}.stderr")
    with open(stderr, "w") as err:
        # a fixed local address spares Spark the hostname lookup
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
    return proc.returncode, out, stderr


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="shrunken inputs (benchmark tests only)")
    ap.add_argument("--plant-failure", type=int, default=0,
                    help="make run K throw (benchmark tests only)")
    ap.add_argument("--gen-only", action="store_true",
                    help="generate the inputs, print their checksum, stop")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "pipeline", "Darima.scala")):
        sys.exit("engine sources not found: run from a full checkout")
    work = work_dir()
    os.makedirs(work, exist_ok=True)
    classes = build(work)

    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bounds", os.path.join(HERE, "bounds.json"),
            "--commit", commit()]
    if a.small:
        args.append("--small")
    if a.plant_failure:
        args += ["--plant-failure", str(a.plant_failure)]
    if a.gen_only:
        args.append("--gen-only")
    rc, out, stderr = run_jvm(classes, work, args)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        sys.stdout.write(out)
        sys.exit(f"benchmark JVM failed (rc={rc}); see {stderr}")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
