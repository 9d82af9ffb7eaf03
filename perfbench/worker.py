"""One benchmark run inside the Spark driver process.

Started by ``run.py`` (which owns the command-line contract, the work
directory and process cleanup) as ``python -m perfbench.worker``. Prints
an environment header, a readable summary, and as its last line the
result JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import sys
import time

from perfbench import trace as T
from perfbench.workloads import SF_DIR, WORKLOADS, Ctx

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
}


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[1]) == pid:
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this Python driver plus its JVM child (the only
    direct child that is a java process)."""
    me = os.getpid()
    total = _vm_hwm_mb(me)
    for c in _children(me):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    total += _vm_hwm_mb(c)
        except OSError:
            pass
    return total


def tree_sha(root: str) -> str:
    """Content hash of the package sources: the checkout is not always a
    git repository, so this stands in for the commit."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "quty_server_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--root", required=True)
    a = ap.parse_args()
    t_proc = float(os.environ["PERFBENCH_T0"])

    tracer = T.Tracer()
    with tracer.span("run", "run") as run_span:
        t = time.time()
        import quty_server_spark.operators  # noqa: F401  (registers the queries)
        from quty_server_spark.session import get_spark

        import_s = time.time() - t
        t = time.time()
        spark = get_spark(
            f"perfbench-{a.workload}", master=f"local[{a.cores}]", shuffle_partitions=a.cores
        )
        start_s = time.time() - t
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        listener = None
        if a.trace:
            listener = T.make_listener()
            spark.streams.addListener(listener)
        sc = spark.sparkContext
        env = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sf_dir": os.path.relpath(SF_DIR, a.root),
            "package_sha": tree_sha(a.root),
            "git_commit": os.environ.get("PERFBENCH_GIT_COMMIT") or None,
        }
        print("ENV " + json.dumps(env), flush=True)

        ctx = Ctx(spark, SF_DIR, a.seed, a.seconds, a.cores, a.work_dir, tracer, listener)
        with tracer.span(a.workload, "workload") as wl:
            res = WORKLOADS[a.workload](ctx)
        rss = peak_rss_mb()
        if a.trace:
            spark.stop()  # flushes the event log

    setup_s = ctx.first_op - t_proc

    values = {k: v for k, (v, _) in res["metrics"].items()}
    counts = {k: n for k, (_, n) in res["metrics"].items()}
    values["setup_s"] = setup_s
    counts["setup_s"] = 1
    for k, unit in E2E_UNITS.items():
        print(f"METRIC {k} = {values[k]:.6g} {unit} (n={counts[k]})", flush=True)
    print(f"METRIC peak_rss_mb = {rss:.6g} MB (n=1)", flush=True)
    print("NOTES " + json.dumps(res.get("notes", {})), flush=True)
    phases = {s["name"]: round(s["end"] - s["start"], 3) for s in tracer.spans
              if s["parent"] == wl["id"] and s["end"] is not None}
    print("PHASES_S " + json.dumps(phases), flush=True)

    if a.trace:
        log = T.read_event_log(os.path.join(a.work_dir, "eventlog"))
        layers = T.layer_metrics(tracer, log, listener.records, a.cores)
        layers.update(ctx.extras)
        layers["session.start_s"] = start_s
        layers["registry.import_s"] = import_s
        layers["process.peak_rss_mb"] = rss
        # driver.error_lines is counted by run.py from this process's log.
        layers["driver.error_lines"] = 0
        units = dict(T.PER_LAYER)
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in units.items()}
        traces = os.path.join(os.path.dirname(a.work_dir), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        print(f"TRACE spans={len(tracer.spans)} jobs={len(log['jobs'])} "
              f"run_s={run_span['end'] - run_span['start']:.3f}", flush=True)
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
