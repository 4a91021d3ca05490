#!/usr/bin/env python3
"""Run one benchmark workload against graft's public API.

    python3 perfbench/run.py --workload vault_trickle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds graft and the harness from source (see build.py), then runs one
Spark driver JVM in local[k] mode, k = min(4, usable cores). Inputs are
generated from the seed under .bench_build/work/ inside the checkout and
removed afterwards. The last stdout line is the JSON result; the exit code
is non-zero when any operation or correctness check failed.
"""
import argparse
import os
import shutil
import subprocess
import sys
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["vault_trickle", "vault_stream", "corpus_dedup"]
HEAP = "4g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes, key = build.build()
    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(os.path.abspath(build.build_dir()), "work", uuid.uuid4().hex)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--cores", str(cores)]
    if args.self_test:
        cmd += ["--self-test"]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--commit", f"{commit()} (source digest {key})"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    sys.stdout.flush()
    try:
        rc = subprocess.run(cmd, cwd=build.ROOT, env=env, timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        rc = 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
