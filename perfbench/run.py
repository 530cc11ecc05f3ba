#!/usr/bin/env python3
"""Benchmark launcher: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the root of a checkout.

Runs one measuring process (``perfbench.measure``) with:
- the checkout on ``PYTHONPATH``, so Spark's Python workers import the
  package whatever their working directory;
- its working directory, Spark's local and warehouse dirs, the JVM's
  temp dir and ``TMPDIR`` in a temp dir under ``perfbench/out/``, which
  is deleted afterwards;
- the Spark log in ``perfbench/out/<workload>-<seed>-<trace>.log``; its
  ERROR lines are counted as ``spark.log_errors``. A traced run also
  writes its spans next to it (``...-1.spans.json``).

Passes the report through and prints the result JSON as the last line.
Exits non-zero without a result if the engine is not in the checkout,
the measuring process fails, or it runs out of time.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import time

TIME_LIMIT_S = 170
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def _group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process is in group ``pgid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not re.fullmatch(r"[A-Za-z0-9_-]+", args.workload):
        p.error(f"bad workload name {args.workload!r}")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "etl_ender_turing_spark")):
        print(f"error: no etl_ender_turing_spark package under {root}",
              file=sys.stderr)
        return 2
    out = os.path.join(root, "perfbench", "out")
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(
        out, f"{args.workload}-{args.seed}-{args.trace}.log")

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "PYTHONPATH": root,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " pyspark-shell"),
    })
    cmd = [sys.executable, "-m", "perfbench.measure",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root, "--tmp", tmp,
           "--spans", log_path[:-len(".log")] + ".spans.json"]
    t0 = time.monotonic()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=TIME_LIMIT_S)
            except subprocess.TimeoutExpired:
                _stop_group(proc.pid)
                proc.communicate()
                print(f"error: {args.workload} ran past {TIME_LIMIT_S} s",
                      file=sys.stderr)
                return 3
            finally:
                measured_s = time.monotonic() - t0
                _stop_group(proc.pid)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cleanup_s = time.monotonic() - t0 - measured_s

    lines = stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (json.JSONDecodeError, IndexError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stdout.write(stdout)
        print(f"error: measuring process exited {proc.returncode}; "
              f"see {log_path}", file=sys.stderr)
        return 1
    if args.trace:
        with open(log_path) as f:
            errors = sum(1 for line in f if ERROR_LINE.match(line))
        result["metrics"]["spark.log_errors"] = {"value": errors,
                                                 "unit": "count"}
    print("\n".join(lines[:-1]))
    print(f"# launcher: measuring process {measured_s:.2f} s, "
          f"clean-up {cleanup_s:.2f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
