#!/usr/bin/env python3
"""ETL benchmark: xlsx -> Clean -> Load -> JDBC, plus a registry guard.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM with Spark local[4], and prints the metric
table followed by one JSON result line. Workloads and metrics are listed
in BENCHMARK.json and described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("upload_1k2", "bulk_50k")
# Deadline for the measured run, after any build: below the 180 s a run
# may take.
DEADLINE_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    out = build.build_dir()
    build.build(root, out)
    t_start = time.monotonic()
    work = os.path.join(out, "perfbench-work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the corpus and the registry results are written afresh by every run
    for d in ("corpus", "registry-dump"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    dump = os.path.join(work, "registry-dump")
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Xms3g", "-XX:+UseG1GC"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
              "-cp", build.classpath(root, out), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--data", os.path.join(here, "data")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        remaining = DEADLINE_S - (time.monotonic() - t_start)
        stdout, _ = proc.communicate(timeout=max(remaining, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its deadline")
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)

    if a.trace:
        # the registry layer's results against DuckDB; a query that threw
        # left no dump and is already counted as failed
        import oracle
        verdicts = oracle.check(dump, os.path.join(here, "data", "sf0.001"))
        bad = {q: why for q, why in verdicts.items()
               if why and os.path.isdir(os.path.join(dump, q))}
        for q, why in sorted(bad.items()):
            print(f"oracle FAIL {q}: {why}", file=sys.stderr)
        print(f"oracle: {len(verdicts) - len(bad)}/{len(verdicts)} registry queries match DuckDB")
        if bad:
            result["correct"] = False
            result["failed"] += len(bad)
            result["metrics"]["failed_ratio"]["value"] = result["failed"] / result["attempted"]
    print(json.dumps(result))


if __name__ == "__main__":
    main()
