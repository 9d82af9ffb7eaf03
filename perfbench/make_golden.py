"""Record ``golden.json``: the result fingerprint of every benchmarked query
on the benchmark's tables, plus the pub/sub subscription table.

    python3 perfbench/make_golden.py

Run from the root of a checkout. Each query is fingerprinted in two fresh
sessions and must agree with itself. Each query that has a DuckDB oracle
is also cross-checked once: the Spark rows and the oracle rows must be the
same multiset (doubles compared at 6 decimal places). Exits non-zero,
writing nothing, on any disagreement.
"""

from __future__ import annotations

import json
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def norm(v):
    if v is None:
        return None
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else round(f, 6)
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def multiset(cols, rows) -> tuple[list, dict]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict = {}
    for r in rows:
        key = tuple(norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return sorted(cols), out


def main() -> int:
    import duckdb

    from perfbench.workloads import LLM_NIGHTLY, SF_DIR, SQL_BATCH, fingerprint, subs_digest
    import quty_server_spark.operators  # noqa: F401
    from quty_server_spark.operators import pubsub
    from quty_server_spark.plans.registry import registry
    from quty_server_spark.session import get_spark
    from quty_server_spark.sources.tables import TABLES

    sf = SF_DIR
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench-golden", master=f"local[{cores}]", shuffle_partitions=cores)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    golden: dict = {}
    bad = []
    for q in SQL_BATCH + LLM_NIGHTLY:
        fn = registry.queries[q]
        prints = [fingerprint(fn(spark.newSession(), sf)) for _ in range(2)]
        status = "stable"
        if prints[0] != prints[1]:
            bad.append(q)
            status = f"UNSTABLE {prints}"
        elif q in registry.oracles:
            rows = fn(spark.newSession(), sf).collect()
            cols = list(rows[0].asDict().keys()) if rows else []
            rel = con.sql(registry.oracles[q])
            if rows:
                same = multiset(cols, rows) == multiset(rel.columns, rel.fetchall())
            else:
                same = not rel.fetchall()
            status = "oracle ok" if same else "ORACLE MISMATCH"
            if not same:
                bad.append(q)
        golden[q] = prints[0]
        print(f"{q:40s} rows={prints[0][0]:8d} {status}", flush=True)
    subs = pubsub.current_subs(spark, sf).collect()
    golden["pubsub_live.current_subs"] = subs_digest(
        [(r["channel"], int(r["member_id"])) for r in subs]
    )
    spark.stop()
    if bad:
        print(f"not written: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
