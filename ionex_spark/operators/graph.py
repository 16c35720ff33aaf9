"""Iterative link-graph analytics — integer PageRank for domain ranking.

An LLM data pipeline ranks crawl domains/documents by link structure to
weight sampling and quality curricula (the classic use of PageRank in
web-corpus construction).  Floating-point PageRank is NOT reproducible
across engines or even across partition orders (float sums reorder);
this implementation runs entirely in INTEGER arithmetic — rank mass in
fixed-point units, damping in parts-per-million, integer division for
the out-degree split — so the result is exactly deterministic, merge-
order-independent, and bit-exactly oracle-able by a DuckDB recursive
CTE (the property the engine's whole gate methodology is built on).

Scale shape: each iteration is ONE join (ranks x out-edges, both keyed
by node) + ONE aggregation shuffle on dst; iteration shuffle width
adapts to the edge count like the connected-components operator, and
lineage is cut every second round.  Rounds are a fixed caller-chosen
constant (power iteration converges geometrically; corpus ranking uses
5-20 rounds), so the total cost is O(iters * E / cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPM = 1_000_000


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    init_rank: int = 1_000_000,
    damping_ppm: int = 850_000,
    node_col: str = "node",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer power iteration.

    nodes: (node) — every rankable node (isolated ones keep base rank).
    edges: (src, dst) — directed links; duplicates/self-loops are
    dropped.  Every node starts at ``init_rank`` units; each round

        r'(n) = base + damping * sum_{(s,n) in E} (r(s) div outdeg(s))

    with base = ((PPM - damping) * init_rank) div PPM and all products/
    divisions in int64.  The overflow bound is on the DAMPED CONTRIB
    term, and per-node contrib can approach the TOTAL mass on supernode
    / star graphs (every node linking one hub): the hard constraint is

        n_nodes * init_rank * damping_ppm < 2^63

    (ADVICE r5 — the earlier `init_rank * damping < 2^63` reading was
    wrong by a factor of n_nodes; with the defaults int64 would wrap
    silently around n ≈ 1e7 nodes, realistic for domain ranking).  The
    constructor enforces the bound and tells the caller how far to
    scale ``init_rank`` down; at init_rank=1e6 the defaults support
    ~1.08e10 nodes at init_rank=1, ~1.08e4 mass units per node at
    1e6 nodes.  Dangling-node mass is dropped, the standard
    simplification for ranking use (total mass decays but the ORDER is
    what curation consumes).  ``redistribute_dangling=True`` instead
    collects the dangling mass each round (one scalar aggregate) and
    re-adds ``dmass div n_nodes`` to every node's contribution BEFORE
    damping — textbook PageRank in the same fixed-point integers, so
    rank VALUES (not just order) are comparable to float references and
    total mass is conserved up to the integer-division dust (< n_nodes
    units per round).

    Output: (node, rank) after ``n_iter`` rounds."""
    e = (
        edges.selectExpr(f"src as {node_col}", "dst")
        .filter(f"{node_col} != dst")
        .distinct()
        # lazy: the count below (needed for the iteration width anyway)
        # is the materializing action — one job instead of two
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()

    spark = nodes.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(1, min(default_parts, n_edges // 500_000 + 1))

    # iteration frames repartitioned to the EDGE-DERIVED width before
    # checkpointing (round 7): the checkpointed RDDs otherwise inherit
    # the input's partition count (e.g. 32 near-empty partitions for a
    # 500-node fixture graph), and every one of the ~n_iter * 3 stages
    # downstream pays that many tasks — per-round fixed overhead
    # dominated the measured runtime.  Both sides hash-partitioned on
    # the node key also lets each round's ranks-x-edges join reuse the
    # partitioning instead of exchanging (guide §2.2/§2.4).
    deg = e.groupBy(node_col).agg(F.count(F.lit(1)).alias("deg"))
    out_edges = (
        e.join(deg, node_col)
        .repartition(parts, node_col)
        .localCheckpoint(eager=True)
    )

    # overflow guard (ADVICE r5): damping * contrib must fit int64, and
    # contrib is bounded only by total mass (star graphs funnel it all
    # into one node).  Fail loudly instead of wrapping silently.
    n_nodes = nodes.count()
    if n_nodes * init_rank > (2**63 - 1) // max(damping_ppm, 1):
        max_init = (2**63 - 1) // max(damping_ppm, 1) // max(n_nodes, 1)
        raise ValueError(
            f"pagerank_int overflow risk: n_nodes({n_nodes}) *"
            f" init_rank({init_rank}) * damping_ppm({damping_ppm})"
            f" exceeds 2^63; scale init_rank down to <= {max_init}"
        )

    base = ((PPM - damping_ppm) * init_rank) // PPM
    dangling = (
        nodes.join(deg, node_col, "left_anti")
        .repartition(parts, node_col)
        .localCheckpoint(eager=True)
        if redistribute_dangling
        else None
    )
    ranks = (
        nodes.selectExpr(node_col, f"cast({init_rank} as bigint) as rank")
        .repartition(parts, node_col)
        .localCheckpoint(eager=True)
    )
    for it in range(n_iter):
        contrib = (
            ranks.join(out_edges, node_col)
            .selectExpr("dst", "rank div deg as c")
            .repartition(parts, "dst")
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        update = ranks.select(node_col).join(
            contrib.withColumnRenamed("dst", node_col), node_col, "left"
        )
        if redistribute_dangling:
            # the per-round dangling mass is a 1-row integer aggregate;
            # ride it into the SAME job as a broadcast cross join
            # instead of a driver collect() per round (round 7; guide
            # §5 "the driver should do almost no data work") — the old
            # collect was an extra job per round that also re-evaluated
            # the uncheckpointed ranks lineage.  Integer div of a
            # non-negative sum == the old Python // — bit-identical.
            dm = (
                ranks.join(dangling, node_col)
                .agg(F.sum("rank").alias("dmass"))
            )
            ranks = update.crossJoin(F.broadcast(dm)).selectExpr(
                node_col,
                f"cast({base} + ({damping_ppm}"
                f" * (coalesce(contrib, 0)"
                f"    + (coalesce(dmass, 0) div {n_nodes})))"
                f" div {PPM} as bigint) as rank",
            )
            # ranks feeds THREE subtrees per round here (contrib, dmass,
            # the update join) — checkpoint every round so each is a
            # read, not a recompute
            ranks = ranks.localCheckpoint(eager=True)
        else:
            ranks = update.selectExpr(
                node_col,
                f"cast({base} + ({damping_ppm}"
                f" * coalesce(contrib, 0))"
                f" div {PPM} as bigint) as rank",
            )
            if it % 2 == 1 or it == n_iter - 1:
                ranks = ranks.localCheckpoint(eager=True)
    return ranks
