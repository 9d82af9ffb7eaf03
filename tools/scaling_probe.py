"""Measure how query wall-time scales with data volume.

Runs a representative query set at sf0.001 / sf0.01 / sf0.1 (100x data
range) in ONE warm session, best-of-3 per (query, SF), and prints a
table plus a JSON line. The quantity reported for the 100 TB
question is the **10x step ratio**

    step = t_sf0.1 / t_sf0.01

across the final 10x of data. step ~ 1 means the fixed per-query floor
(scheduling, planning, JVM) still dominates and the data is effectively
free; step <= ~10 bounds the query by linear-in-data; step >> 10 is a
superlinear blowup (lost pushdown, pair explosion — a scale bug).
Subtracting the floor to get a "marginal" ratio is NOT done on purpose:
at these SFs the floor deltas are tens of milliseconds and dividing by
them manufactures noise.

Usage: python tools/scaling_probe.py [--json PATH] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as se  # noqa: E402
from quty_server_spark.session import get_spark, reset_memos  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

DEFAULT = [
    # scan-bound relational
    "q1_pricing_summary",
    "q6_forecast_revenue",
    # broadcast star join
    "q5_local_supplier_volume",
    # shuffle agg + window
    "agg_count_distinct",
    "window_row_number_topk",
    # pub/sub fan-out join (output grows superlinearly by design:
    # messages x subscribers both scale with SF)
    "route_fanout",
    # LLM-pipeline candidates
    "dedup_exact",
    "dedup_minhash_lsh",
    "doc_chunk_overlap",
    "text_bigram_familiarity",
    "sim_ann_lsh",
    # sweep-line + as-of (sort-shaped)
    "events_concurrency_sweep",
    "join_asof",
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--json", dest="out_json", metavar="PATH", default=None)
    ap.add_argument("queries", nargs="*", help="query names (default: built-in slice)")
    ns = ap.parse_args()
    out_json = ns.out_json
    names = ns.queries or DEFAULT
    qs_all = se.queries()
    unknown = [n for n in names if n not in qs_all]
    if unknown:
        sys.exit(f"unknown queries (checked before Spark startup): {unknown}")
    spark = get_spark("scaling-probe")
    qs = qs_all
    # Warm once per SF so parquet footers/codegen are loaded.
    for sf in SFS:
        qs[names[0]](spark, sf).write.format("noop").mode("overwrite").save()
    table: dict[str, dict[str, float]] = {}
    for name in names:
        row = {}
        for sf in SFS:
            best = float("inf")
            for _ in range(3):
                # Same convention as bench.py: the per-session BSP label
                # memo would otherwise serve cached labels from run 2 on
                # and the ladder would measure the histogram, not the
                # labeling it exists to probe.
                reset_memos(spark, "cluster_labels")
                t0 = time.perf_counter()
                qs[name](spark, sf).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            row[sf.rsplit("sf", 1)[-1]] = round(best, 3)
        table[name] = row
    print(f"{'query':28s} {'sf0.001':>8s} {'sf0.01':>8s} {'sf0.1':>8s} "
          f"{'step(10x)':>10s}")
    results = {}
    for name, row in table.items():
        t1, t2, t3 = row["0.001"], row["0.01"], row["0.1"]
        step = round(t3 / t2, 2)
        results[name] = {**row, "step_ratio_10x": step}
        print(f"{name:28s} {t1:8.3f} {t2:8.3f} {t3:8.3f} {step:10.2f}")
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
