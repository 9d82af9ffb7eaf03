"""Runnable CONTINUOUS-ingest run — the streaming ingest gate composed
the way a deployment that cannot wait for a nightly window admits
documents, end to end:

1. **artifact refresh (write-once)** — same as the nightly example:
   the lake's banded SimHash signatures become a parquet artifact
   partitioned by band_id (``SIG_FAMILY.build``).
2. **the gate, as a stream** — ``stream_ingest_dedup_gate``: incoming
   docs arrive as a file stream; every micro-batch is signed, banded,
   and joined against the artifact inside ``foreachBatch``, landing in
   an epoch-keyed idempotent parquet sink. The union of epochs equals
   the one-shot batch gate row-for-row (pinned in
   tests/test_streaming_recovery.py) — this example shows the
   per-epoch arrival of that same answer.
3. **quarantine + admission** — identical downstream composition to
   examples/nightly_ingest.py steps 3-4: the epoch outputs are just a
   table, so the batch keeper policy applies unchanged. That is the
   point of the design: streaming changes WHEN duplicate evidence
   arrives, not what any consumer has to do with it.

Run:  python examples/continuous_ingest.py [sf_dir]
      (default /root/testdata/sf0.01)

Everything is the SAME code the registered oracle-checked queries run —
this file only composes the continuous gate into one report. The shard
convention matches the registered gate queries: ``doc_id % 10 == 0`` is
the incoming stream, the rest is the lake.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import quty_server_spark.operators  # noqa: F401,E402  (registers queries)
from quty_server_spark.operators.dedup import SIG_FAMILY  # noqa: E402
from quty_server_spark.plans.registry import registry  # noqa: E402
from quty_server_spark.session import (  # noqa: E402
    get_spark,
    session_tmp_dir,
)
from quty_server_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("continuous-ingest")
    q = registry.queries

    print(f"== continuous ingest over {sf_dir} ==\n")

    docs = load_table(spark, sf_dir, "documents")
    shard = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    n_shard = shard.count()
    print(f"incoming stream: {n_shard} docs (4 micro-batches); "
          f"lake: {docs.count() - n_shard} docs")

    # 1. write-once artifact (amortized — not on the per-batch path)
    t0 = time.time()
    path = SIG_FAMILY.build(spark, sf_dir, rebuild=True)
    print(f"lake-signature artifact rebuilt in {time.time() - t0:.1f}s "
          f"(amortized; each micro-batch below only SCANS it)")

    # 2. the continuous gate: per micro-batch sign + band join
    t0 = time.time()
    hits = q["stream_ingest_dedup_gate"](spark, sf_dir)
    n_hits = hits.count()
    wall = time.time() - t0
    outdir = os.path.join(
        session_tmp_dir(spark, "quty_stream_gate", sf_dir), "out"
    )
    # numeric sort: lexicographic would put epoch=10 before epoch=2
    epochs = sorted(
        (d for d in os.listdir(outdir) if d.startswith("epoch=")),
        key=lambda d: int(d.split("=")[1]),
    )
    print(f"gate stream: {len(epochs)} epochs in {wall:.1f}s, "
          f"{n_hits} (incoming, lake) near-dup pairs total")
    for e in epochs:
        n = spark.read.parquet(os.path.join(outdir, e)).count()
        print(f"  {e}: {n} pairs")

    # 2b. the embedding-family continuous gate: the same
    # per-epoch arrival for semantic near-dups — micro-batches of
    # vectors assigned against the IVF artifact's centroid sidecar and
    # probed cell-vs-cell against the lake postings. With this, all
    # THREE signature families run continuously.
    t0 = time.time()
    emb_hits = q["stream_ingest_dedup_gate_embedding"](spark, sf_dir)
    n_emb = emb_hits.select("incoming_vec_id").distinct().count()
    print(f"embedding gate stream: {n_emb} incoming vectors have a "
          f"semantic near-dup in the lake ({time.time() - t0:.1f}s incl. "
          f"the amortized IVF artifact build)")

    # 3. quarantine + admission — batch composition, unchanged
    quarantined = hits.select("incoming_doc_id").distinct()
    admitted = shard.join(
        quarantined.withColumnRenamed("incoming_doc_id", "doc_id"),
        "doc_id", "left_anti",
    )
    keep = q["dedup_keep_canonical"](spark, sf_dir).filter("keep")
    final = admitted.join(keep.select("doc_id"), "doc_id", "left_semi")
    n_adm, n_final = admitted.count(), final.count()
    print(f"quarantine: {n_shard - n_adm} rejected, {n_adm} admitted; "
          f"canonicalization keeps {n_final}")

    print(f"\ncontinuous verdict: {n_final}/{n_shard} streamed docs "
          f"enter the lake ({1e2 * n_final / max(n_shard, 1):.1f}%)")
    spark.stop()


if __name__ == "__main__":
    main()
