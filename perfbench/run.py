#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Before the run it records load average, core count and free memory, and
refuses to start while another Spark JVM is alive (an orphan from an
earlier run competes for the same cores). The workload runs in a fresh
worker process with a fixed PYTHONHASHSEED and its scratch space under
``.perfbench_work/``; afterwards every process the worker started is
stopped and waited for, and the scratch space is removed. A traced run
(``--trace 1``) also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "live")
WORKER_TIMEOUT_S = 170
JVM_WAIT_S = 30


def host_record() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    return {"loadavg": load, "nproc": len(os.sched_getaffinity(0)),
            "mem_available_mb": mem.get("MemAvailable"), "mem_total_mb": mem.get("MemTotal")}


def _procs():
    """(pid, process group, cmdline) of every live (not zombie) process."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        state, _ppid, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        if state != "Z":
            yield int(name), int(pgrp), cmd


def spark_jvms() -> list[int]:
    return [pid for pid, _, cmd in _procs() if "org.apache.spark.deploy.SparkSubmit" in cmd]


def group_pids(pgid: int) -> list[int]:
    return [pid for pid, g, _ in _procs() if g == pgid]


def reap_group(pgid: int) -> None:
    """Wait for every process of the worker's group to end; kill what
    outlives the grace period."""
    deadline = time.monotonic() + JVM_WAIT_S
    while group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.2)
    if group_pids(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while group_pids(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "edgesearch_spark", "__init__.py")):
        print("perfbench: no edgesearch_spark package next to perfbench/", file=sys.stderr)
        return 2
    host = host_record()
    deadline = time.monotonic() + JVM_WAIT_S
    while spark_jvms() and time.monotonic() < deadline:
        time.sleep(1)
    if spark_jvms():
        print(f"perfbench: refusing to start, Spark JVM(s) alive: {spark_jvms()}", file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    tmp = os.path.join(work, "tmp")
    # every JVM (the launcher too) keeps its temp files in the work dir
    # and writes no hsperfdata file
    env.update(PYTHONHASHSEED="0", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--trace-out", os.path.join(out_dir, f"{args.workload}-seed{args.seed}.trace.json")]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill_worker(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(signum, _frame):  # a killed run takes its worker group with it
        kill_worker()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_worker()
        out, _ = proc.communicate()
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
    finally:
        proc.wait()
        reap_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print(json.dumps({"host": host}))
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
