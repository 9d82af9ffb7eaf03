"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,pubsub_live}
        --seed N --seconds S --trace {0,1} [--cores C]

Run from the root of a checkout. Runs the workload in a child process on
``local[C]`` (default: every core this process may use) over the tables
in ``perfbench/data/`` (copies of the repo's sf0.01 and sf0.001 test
tables), with its temporary files, Spark local dirs and
warehouse inside a per-run work directory under ``.perfbench_work/`` that
is removed afterwards. The last line of standard
output is the result JSON: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``, when the Spark event log and a streaming listener are on).

Exits non-zero without a result if the package is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
RESULT_PREFIX = '{"correct"'
# log4j's default layout: "yy/MM/dd HH:mm:ss LEVEL logger: message".
ERROR_LINE = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def _git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member is gone."""
    _kill_group(proc.pid)
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "quty_server_spark", "session.py")):
        print("perfbench: quty_server_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))

    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp",
    ]
    if a.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{work}/eventlog",
        ]
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "TMPDIR": f"{work}/tmp",
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "SPARK_GRAFT_CPUS": str(a.cores),
            "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
            "PYSPARK_PYTHON": sys.executable,
            "PERFBENCH_GIT_COMMIT": _git_commit() or "",
            "PERFBENCH_T0": repr(time.time()),
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(a.cores),
        "--work-dir", work, "--root", ROOT,
    ]
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True,
        )
        # The result line is the worker's last word: once it is read, the
        # JVM is killed rather than left to shut down on its own.
        watchdog = threading.Timer(TIMEOUT_S, _kill_group, (proc.pid,))
        watchdog.start()
        out = []
        try:
            for line in proc.stdout:
                out.append(line)
                if line.startswith(RESULT_PREFIX):
                    break
        finally:
            watchdog.cancel()
            _stop_group(proc)
        out = "".join(out)
    with open(log_path, errors="replace") as f:
        error_lines = sum(1 for line in f if ERROR_LINE.search(line))
    lines = [l for l in out.splitlines() if l.strip()]
    ok = bool(lines) and lines[-1].startswith(RESULT_PREFIX)
    if not ok:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    shutil.rmtree(work, ignore_errors=True)

    if not ok:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(f"DRIVER error_lines={error_lines}")
    if a.trace:
        result["metrics"]["driver.error_lines"]["value"] = error_lines
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
