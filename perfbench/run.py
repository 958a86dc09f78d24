#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark and the library
from source with sbt (offline); later runs start `java` directly. Each run gets its
own scratch directory under `.bench_build/runs/` for the input, the checkpoint files
(`GRAFT_CKPT_DIR`), Spark's local directories and Java's temp files, and deletes it
when it ends. With `--trace 1` the spans are written to `.bench_build/spans/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
RUN_TIMEOUT_S = 170


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), BENCH):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "benchLaunch"]
    # the build resolves only from local caches, never from the network
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    r = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, env=env)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"build failed (sbt exit {r.returncode})")


def heap():
    """Half the machine's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    a = p.parse_args()

    build()
    with open(LAUNCH) as f:
        classpath, *jvm_opts = f.read().splitlines()

    out = os.path.join(os.getcwd(), ".bench_build")
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("ckpt", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ, GRAFT_CKPT_DIR=dirs["ckpt"], SPARK_LOCAL_DIRS=dirs["local"])
    # a fixed heap: a heap that grows over the first passes keeps them slow
    cmd = (["java"] + jvm_opts + [f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={dirs['tmp']}",
           "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--dir", run_dir])
    if a.trace == "1":
        cmd += ["--spans", os.path.join(out, "spans", f"{a.workload}-{a.seed}.jsonl")]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                           timeout=RUN_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"benchmark exited with {r.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
