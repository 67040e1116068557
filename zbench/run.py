#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 zbench/run.py --workload ingest --seed 1 --seconds 14 --trace 0

Builds the program and the benchmark from source first (zbench/build.py), then
runs zbench.Main in one JVM with a private scratch directory under
zbench/.work, which is removed afterwards. The last line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
every output check passed. See zbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # nothing written outside zbench/.build and zbench/.work
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
# what spark-submit adds for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    args = p.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"zbench: build failed: {e}\n")
        return 2

    os.makedirs(os.path.join(build.BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build.BENCH, ".work"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH, "log4j2.properties")]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath_jars(), "zbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    log_path = os.path.join(work, "zbench.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=work, env=env, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(f"zbench: run exceeded {TIMEOUT_S} s\n")
                return 3
        lines = [line for line in out.splitlines() if line.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if proc.returncode != 0 or result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.stderr.write(f"zbench: benchmark failed (exit {proc.returncode})\n")
            return 4
        with open(log_path) as f:
            for line in f:
                if line.startswith("[zbench]"):
                    sys.stderr.write(line)
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        leftovers = glob.glob(os.path.join(build.BENCH, ".work", "*"))
        if not leftovers:
            shutil.rmtree(os.path.join(build.BENCH, ".work"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
