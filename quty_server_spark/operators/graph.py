"""Graph analytics over the relational fixtures.

The reference's cluster is itself a graph (nodes + mesh edges,
``lib/QutyCluster.js:49-51``); ``dedup_cluster`` already covers connected
components with a BSP label-propagation loop. This module adds the other
canonical iterative graph workload — PageRank — restated for cross-engine
exactness: **all arithmetic is integer** (rank carried in parts-per-billion,
contributions by integer division), so Spark's partition-parallel sums and
DuckDB's single-node sums agree bit-for-bit, with no float-associativity
slack. Damping is the standard 0.85 as the integer ratio 85/100.

Scale design: each iteration is one equality join (ranks ⋈ edges on the
source key) plus one aggregation by destination — the exact shape GraphX /
Pregel lowers to; ``_superstep`` is the single shared lowering. Two
registered variants: ``graph_pagerank_2iter`` (iterations unrolled so
the oracle is plain SQL) and ``graph_pagerank_converged`` (open-ended —
``dedup_cluster``'s hardened BSP loop generalized: lazy local checkpoint
+ single-action L1 delta per superstep, reliable checkpoint cadence,
broadcast gate with shuffle fallback). ``graph_bipartite_butterflies``
adds the bipartite motif census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quty_server_spark.operators._helpers import load_table
from quty_server_spark.operators.dedup import BROADCAST_NODES_MAX
from quty_server_spark.plans.registry import registry
from quty_server_spark.session import ensure_checkpoint_dir

PPB = 1_000_000_000  # rank unit: parts-per-billion
TELE = PPB - PPB * 85 // 100  # undamped teleport mass, precomputed (int32-safe)


def _edge_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct purchase-flow key pairs (o_custkey, l_suppkey) from
    orders ⋈ lineitem — the de-dup runs on the two raw integer keys
    (narrower types: the exchange carries 16 bytes/row
    instead of two ~8-char strings; measured 1.2 s → 0.9 s for the edge
    materialization at sf0.1) and the namespaced presentation is derived
    AFTER, so every consumer's output is byte-identical."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed purchase-flow edges customer → supplier (distinct), from
    orders ⋈ lineitem. Node ids are namespaced strings so the two key
    spaces cannot collide."""
    return _edge_keys(spark, sf_dir).select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    )


def _edges_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase graph with LONG node ids — customers at 2k, suppliers
    at 2k+1 (disjoint by parity, bijective with the string namespace).
    The PageRank internals ride these (narrower types): every
    per-superstep exchange and hash probe works on an 8-byte long
    instead of a ~8-char string; :func:`_decode_node` reproduces the
    exact public string ids in the final projection only."""
    return _edge_keys(spark, sf_dir).select(
        (F.col("o_custkey").cast("bigint") * 2).alias("src"),
        (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
    )


def _decode_node(col: str = "node"):
    """Long node id → the public namespaced string id ('c:<k>' / 's:<k>').
    `n div 2` recovers k for both parities."""
    return F.concat(
        F.when(F.col(col) % 2 == 0, F.lit("c:")).otherwise(F.lit("s:")),
        F.expr(f"{col} div 2").cast("string"),
    )


def _superstep(
    edges_deg: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    side,
    teleport: int,
) -> DataFrame:
    """One damped PageRank update in integer ppb arithmetic — the single
    place the join/agg lowering lives, shared by the unrolled and the
    convergence-driven variants so the recurrence cannot drift between
    them. ``side`` is the broadcast gate (F.broadcast below
    BROADCAST_NODES_MAX, identity above). ``edges_deg`` carries the
    static out-degree on each edge row (pre-joined once in the preamble
    — deg is per-src constant, so attaching it per
    superstep was a repeated join of the same two tables; now each
    superstep is exactly one join + one map-side-combined aggregation)."""
    contrib = (
        edges_deg.join(side(ranks), edges_deg.src == ranks.node)
        .groupBy("dst")
        .agg(F.sum(F.expr("r div deg")).alias("contrib"))
    )
    return nodes.join(side(contrib), nodes.node == contrib.dst, "left").select(
        "node",
        (F.lit(teleport) + F.expr("85 * coalesce(contrib, 0) div 100"))
        .cast("bigint")
        .alias("r"),
    )


@registry.query(
    "graph_pagerank_2iter",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                        's:' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
        SELECT node, CAST({PPB} // n_nodes AS BIGINT) AS r
        FROM nodes, n),
    c1 AS (
        SELECT e.dst AS node, SUM(r0.r // o.deg) AS contrib
        FROM edges e JOIN r0 ON e.src = r0.node
                     JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst),
    r1 AS (
        SELECT nodes.node,
               CAST({TELE} // n_nodes
                    + 85 * COALESCE(c1.contrib, 0) // 100 AS BIGINT) AS r
        FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, n),
    c2 AS (
        SELECT e.dst AS node, SUM(r1.r // o.deg) AS contrib
        FROM edges e JOIN r1 ON e.src = r1.node
                     JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst),
    r2 AS (
        SELECT nodes.node,
               CAST({TELE} // n_nodes
                    + 85 * COALESCE(c2.contrib, 0) // 100 AS BIGINT) AS r
        FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, n)
    SELECT node, r AS rank_ppb FROM r2 WHERE r > {PPB} // 1000
    """,
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled PageRank iterations (damping 0.85) over the
    customer→supplier purchase graph, in pure integer ppb arithmetic.
    Suppliers are sinks (no out-edges): their mass leaks, which both
    engines state identically — the oracle is the same recurrence.
    Returns nodes above a 0.1% rank floor (suppliers, at fixture shape).

    Per iteration: broadcast-sized outdeg joins, one shuffle of edges by
    src for the contribution join, one aggregation by dst. At 100 TB the
    edge table shuffles ONCE per iteration (ranks are the small side and
    broadcast), matching the Pregel lowering; skewed in-degree hubs cost
    only their own aggregation partition because contributions pre-sum
    map-side."""
    # localCheckpoint, not cache(): both frames feed every superstep, but
    # CacheManager entries outlive the query and pin executor memory for
    # the whole session — localCheckpointed blocks are GC-cleanable once
    # the returned DataFrame is dropped (the repo-wide pattern for
    # multi-consumer intermediates). LAZY checkpoints (no unnecessary
    # passes): the single n_nodes count below
    # materializes edges AND nodes in one job, and edges_deg materializes
    # inside the first action that reads it — the preamble runs 1 job
    # instead of 4, saving three cluster-wide job launches per call.
    # Internals on LONG node ids (see _edges_long) and the node set
    # assembled from the two degree aggregations — the parity namespaces
    # are disjoint by construction, so distinct-src ∪ distinct-dst needs
    # no cross-side dedup and the 2|E|-row union+distinct exchange of
    # the string path disappears.
    edges = _edges_long(spark, sf_dir).localCheckpoint(eager=False)
    outdeg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        outdeg.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")).distinct())
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    teleport = (PPB - PPB * 85 // 100) // n_nodes

    # The rank/contrib/outdeg tables are all |nodes|-row. Below the
    # threshold they broadcast (edges stay in place, zero per-iteration
    # edge shuffle); at billion-node scale a broadcast build would OOM
    # the driver, so the shuffle (sort-merge) path engages — same gate
    # as dedup's BSP frontier (dedup.py BROADCAST_NODES_MAX), and the
    # n_nodes count needed for the teleport term pays for the decision.
    small = n_nodes <= BROADCAST_NODES_MAX
    side = F.broadcast if small else (lambda df: df)

    # deg is per-src static: attach it to the edge list ONCE (lazy — the
    # first superstep's action materializes it) instead of once per
    # superstep (guide §2.4).
    edges_deg = edges.join(side(outdeg), "src").localCheckpoint(eager=False)

    ranks = nodes.select("node", F.lit(PPB // n_nodes).cast("bigint").alias("r"))
    for _ in range(2):
        ranks = _superstep(edges_deg, nodes, ranks, side, teleport)
    return ranks.filter(F.col("r") > PPB // 1000).select(
        _decode_node("node").alias("node"), F.col("r").alias("rank_ppb")
    )


def _unrolled_pagerank_sql(k: int) -> str:
    """Generate the exact-integer oracle for ``k`` unrolled PageRank
    iterations — the same recurrence the 2-iter oracle states, produced
    programmatically so the convergence-driven variant can pin the
    iteration count the fixture converges at (bipartite graphs converge
    at exactly 3: customers stabilize after step 1, so supplier inputs
    — and hence supplier ranks — repeat from step 3 on)."""
    ctes = [
        f"""
    WITH edges AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                        's:' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
        SELECT node, CAST({PPB} // n_nodes AS BIGINT) AS r
        FROM nodes, n)"""
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""
    c{i} AS (
        SELECT e.dst AS node, SUM(r{i - 1}.r // o.deg) AS contrib
        FROM edges e JOIN r{i - 1} ON e.src = r{i - 1}.node
                     JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst),
    r{i} AS (
        SELECT nodes.node,
               CAST({TELE} // n_nodes
                    + 85 * COALESCE(c{i}.contrib, 0) // 100 AS BIGINT) AS r
        FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node, n)"""
        )
    return (
        ",".join(ctes)
        + f"\n    SELECT node, r AS rank_ppb FROM r{k}\n    "
    )


# Safety bound on the convergence loop; the L1-delta stop fires long
# before this on any graph whose structure stabilizes (bipartite: 3).
PAGERANK_MAX_ROUNDS = 20

# Reliable-checkpoint cadence, mirroring dedup.CLUSTER_CKPT_EVERY.
# Scope of the guarantee: intermediate iterations are only
# localCheckpoint'ed (lineage truncated, blocks executor-LOCAL), so
# losing an executor between reliable checkpoints still aborts the
# running job — the every-k-th reliable checkpoint bounds the rework a
# MANUAL RE-RUN pays (resume from the last durable rank vector), it
# does not give in-job replay. A deployment that needs in-job fault
# tolerance uses reliable .checkpoint() exclusively, trading one
# distributed-FS write per superstep for it.
PAGERANK_CKPT_EVERY = 5


def pagerank_converged(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = PAGERANK_MAX_ROUNDS,
    disjoint_sides: bool = False,
) -> tuple[DataFrame, int]:
    """Convergence-driven PageRank over ``(src, dst)`` edges in exact
    integer ppb arithmetic: iterate the damped recurrence until the L1
    rank delta is exactly zero (integer ranks make bitwise convergence
    well-defined — no float epsilon), bounded by ``max_rounds``.

    The loop machinery generalizes ``dedup.min_label_components``
    beyond min-label: per iteration one equality join of edges to the
    rank vector plus one map-side-combined aggregation by destination;
    broadcasts gated on node count (BROADCAST_NODES_MAX, shuffle
    fallback above); a LAZY checkpoint whose materialization shares the
    single per-iteration action with the L1-delta aggregate (one job,
    one driver-side scalar per superstep); every PAGERANK_CKPT_EVERY-th
    iteration checkpoints reliably. Returns ``(ranks, iterations)``."""
    ensure_checkpoint_dir(spark)
    # Lazy preamble: one count materializes edges AND
    # nodes; outdeg and the initial rank vector materialize inside the
    # first superstep's single action — 1 preamble job instead of 5.
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    if disjoint_sides:
        # Caller guarantees src/dst key spaces are disjoint by
        # construction (the parity-namespaced purchase graph): the node
        # set is the cheap concatenation of two per-side distincts — no
        # cross-side dedup, no 2|E|-row union+distinct exchange.
        nodes = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .unionByName(edges.select(F.col("dst").alias("node")).distinct())
        )
    else:
        # Generic graphs: a node may appear on both sides, so the union
        # must dedup across sides.
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select("dst"))
            .distinct()
        )
    nodes = nodes.localCheckpoint(eager=False)
    n_nodes = nodes.count()
    outdeg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    small = n_nodes <= BROADCAST_NODES_MAX
    side = F.broadcast if small else (lambda df: df)
    teleport = TELE // n_nodes

    # Static per-src deg attached to the edge list ONCE (guide §2.4) —
    # each superstep is then one join + one aggregation, not two joins.
    edges_deg = edges.join(side(outdeg), "src").localCheckpoint(eager=False)

    ranks = nodes.select(
        "node", F.lit(PPB // n_nodes).cast("bigint").alias("r")
    ).localCheckpoint(eager=False)
    rounds = 0
    for i in range(1, max_rounds + 1):
        new = _superstep(edges_deg, nodes, ranks, side, teleport)
        new = new.localCheckpoint(eager=False)
        # Single action: materializes the (lazy) local checkpoint AND
        # returns the L1 delta — no second pass over the rank vector.
        delta = (
            new.join(side(ranks.withColumnRenamed("r", "r_prev")), "node")
            .agg(F.sum(F.abs(F.col("r") - F.col("r_prev"))).alias("d"))
            .first()["d"]
        )
        ranks = new
        if i % PAGERANK_CKPT_EVERY == 0:
            # Reliable checkpoint AFTER the local materialization: the
            # write job re-reads executor-cached blocks instead of
            # recomputing the superstep (dedup.min_label_components'
            # measured device — a lazy reliable checkpoint + action runs
            # the lineage twice).
            ranks = ranks.checkpoint(eager=True)
        rounds = i
        if delta == 0:
            break
    return ranks, rounds


@registry.query("graph_pagerank_converged", oracle=_unrolled_pagerank_sql(3))
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-ended PageRank on the customer→supplier purchase graph: runs
    ``pagerank_converged`` until the integer rank vector repeats
    exactly. The purchase graph is bipartite (customers have no
    in-edges), so customers stabilize at the teleport mass after
    iteration 1 and the supplier update inputs repeat from iteration 3
    — the loop measures delta 0 at i=3 on ANY scale factor, which is
    the iteration count the oracle pins (unrolled, same integer
    recurrence). Unlike graph_pagerank_2iter this returns ALL nodes
    (no rank floor), so the two registered outputs differ.
    Non-bipartite convergence (more supersteps) is exercised in
    tests/test_graph_semantics.py against an independent reference."""
    # Long node ids internally (bijective with the public strings,
    # decoded in the final projection only) and the disjoint-namespace
    # node set — see graph_pagerank_2iter's preamble notes.
    ranks, _ = pagerank_converged(
        spark, _edges_long(spark, sf_dir), disjoint_sides=True
    )
    return ranks.select(
        _decode_node("node").alias("node"), F.col("r").alias("rank_ppb")
    )


# Hub customers are the butterfly analog of SimHash's saturated buckets:
# one customer of degree d contributes C(d, 2) wedge rows, so a single
# 10^6-degree hub on a 100 TB interaction log is 5x10^11 pairs from ONE
# key — the whole census is hostage to the hottest vertex. Dropping
# vertices above the cap bounds per-key expansion at C(CAP, 2) = 2016
# rows, making the wedge join linear in |V| regardless of skew. The cap
# is visible in the counts (capped hubs contribute no wedges), so the
# oracle applies the IDENTICAL cap (QUALIFY on the same degree window) —
# a documented candidate-generation contract, not a silent
# approximation, exactly like SIMHASH_BUCKET_CAP / JACCARD_DF_CAP.
# Fixture degrees: sf0.01 median 33 / max 67, sf0.1 median 38 / max 102;
# cap 64 keeps >p99 of customers at both SFs while the hottest hubs are
# provably dropped (so the contract is exercised, not dormant).
WEDGE_DEGREE_CAP = 64


@registry.query(
    "graph_bipartite_butterflies",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                        's:' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    capped AS (
        SELECT src, dst FROM e
        QUALIFY COUNT(*) OVER (PARTITION BY src) <= {WEDGE_DEGREE_CAP}),
    pairs AS (
        SELECT a.dst AS s1, b.dst AS s2
        FROM capped a JOIN capped b ON a.src = b.src AND a.dst < b.dst),
    w AS (SELECT s1, s2, COUNT(*) AS w FROM pairs GROUP BY s1, s2)
    SELECT CAST(COUNT(*) AS BIGINT) AS co_pairs,
           CAST(SUM(w) AS BIGINT) AS wedges,
           CAST(SUM(w * (w - 1) // 2) AS BIGINT) AS butterflies
    FROM w
    """,
)
def graph_bipartite_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (2x2 biclique) census of the bipartite purchase graph —
    the bipartite analog of triangle counting, the standard cohesion
    measure for user-item graphs. Wedges: supplier pairs co-purchased
    by one customer, mined by an EQUALITY self-join on the customer key
    (market-basket shape — C(degree, 2) per customer, never corpus
    all-pairs), with customers above WEDGE_DEGREE_CAP dropped before
    the join on BOTH engines (see cap rationale above). Butterflies:
    sum over supplier pairs of C(wedge_count, 2), map-side-combined.
    All counts exact integers.

    Reference parity: the reference has no graph analytics; this row
    extends the driver-mandated LLM-pipeline surface (co-occurrence
    structure over interaction logs).
    """
    return butterfly_census(_edges(spark, sf_dir))


def butterfly_census(
    edges: DataFrame, degree_cap: int = WEDGE_DEGREE_CAP
) -> DataFrame:
    """Core census over ``(src, dst)`` bipartite edges (distinct).

    Plan: the degree comes from a window count partitioned by the SAME
    ``src`` key the wedge self-join shuffles on, so the cap costs no
    extra exchange — the window's sort-partitioning is reused by the
    join (the SIMHASH_BUCKET_CAP device, dedup.py)."""
    capped = edges.withColumn(
        "deg", F.count("*").over(Window.partitionBy("src"))
    ).filter(F.col("deg") <= degree_cap)
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b, (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst"))
    ).select(F.col("a.dst").alias("s1"), F.col("b.dst").alias("s2"))
    w = pairs.groupBy("s1", "s2").agg(F.count("*").alias("w"))
    return w.agg(
        F.count("*").cast("bigint").alias("co_pairs"),
        F.sum("w").cast("bigint").alias("wedges"),
        F.sum(F.expr("w * (w - 1) div 2")).cast("bigint").alias("butterflies"),
    )


@registry.query(
    "graph_degree_distribution",
    oracle="""
    WITH e AS (
        SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                        's:' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    degs AS (
        SELECT 'customer_out' AS side, src AS node, COUNT(*) AS deg
        FROM e GROUP BY src
        UNION ALL
        SELECT 'supplier_in', dst, COUNT(*) FROM e GROUP BY dst)
    SELECT side, CAST(FLOOR(LOG2(deg)) AS INT) AS bucket_pow2,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg
    FROM degs GROUP BY side, CAST(FLOOR(LOG2(deg)) AS INT)
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the purchase graph in
    power-of-two buckets, per side (customer out-degree, supplier
    in-degree) — the heavy-tail check run before sizing any graph
    workload (a hub bucket far above the median warns of the skewed
    aggregations the PageRank/butterfly docstrings gate on).
    floor(log2(deg)) is IEEE-exact on integers (log2 of a power of two
    is exact; every other value sits strictly between integers), so the
    bucketing is bit-identical across engines with no decimal device.

    Scale: two map-side-combined degree aggregations over the edge list
    and a |buckets|-row (~64 max) histogram aggregate — nothing else."""
    e = _edges(spark, sf_dir)
    degs = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .withColumn("side", F.lit("customer_out"))
        .unionByName(
            e.groupBy(F.col("dst").alias("node"))
            .agg(F.count("*").alias("deg"))
            .withColumn("side", F.lit("supplier_in"))
        )
    )
    return degs.groupBy(
        "side", F.floor(F.log2("deg")).cast("int").alias("bucket_pow2")
    ).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("deg").cast("bigint").alias("min_deg"),
        F.max("deg").cast("bigint").alias("max_deg"),
    )
