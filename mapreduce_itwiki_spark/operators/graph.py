"""Iterative algorithms over the link graph — PageRank on the
(page_from → page_to) edge list the reference pipeline produces.

This is the 'iterative algorithm' slot of the driver contract (rows-only
check: a fixed-point loop is not single-statement SQL). Spark-first
design: each iteration is one join + one aggregation on DataFrames —
Catalyst handles partial aggs; the edge list is persisted across
iterations; the dangling-node mass correction is folded INTO the lazy
plan (a 1-row aggregate broadcast via crossJoin) so an iteration adds
ZERO driver-side actions — the whole loop collapses into one job per
checkpoint interval. Lineage is truncated every ``checkpoint_every``
iterations instead of every one: localCheckpoint locally, checkpoint()
on HDFS at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 64,
) -> DataFrame:
    """(node, comp) — exact connected components over an undirected edge
    list: every node's component id is the smallest node id reachable
    from it. This is the 'apply near-dedup' closer: MinHash/SimHash emit
    PAIRS, but keep-one-per-cluster needs the transitive closure (a~b,
    b~c ⇒ keep one of {a,b,c}).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    is two groupBy-min + join passes that re-point edges at local minima,
    converging in O(log² n) rounds (≈log n in practice) REGARDLESS of
    graph diameter. This replaces round-2's fixed-8-iteration min-label
    propagation, which silently under-converged on any component with
    diameter > 8 (1 hop per round): a 1000-link chain now closes in ~10
    rounds instead of needing 1000.

    Convergence is CHECKED, not assumed: the loop stops at the first
    round whose edge set is a star forest — no node has out-degree > 1
    and no node is both a ``u`` and a ``v`` — and raises if
    ``max_rounds`` is hit, a deterministic failure instead of a silently
    wrong answer. Both star steps preserve components, and every edge
    points at a smaller node, so each star's centre is its component's
    minimum: the labels are final, and the round that would only
    re-derive the same edge set is never run. The probe is ONE aggregate
    per round over that round's localCheckpoint, which the probe itself
    materializes, so it re-reads no lineage.

    State invariant: ``cur`` holds distinct directed pairs (u, v) with
    u > v. Labels fall out of the final star forest with one left join
    for isolated/root nodes.
    """
    # ONE materialization of the input pipeline (it may be the whole
    # MinHash-LSH pass): everything downstream — the deduped ordered
    # pairs AND the node set — derives from this checkpoint, never from
    # the input lineage; the count that sizes the loop fills it. Nodes
    # come from the UNFILTERED edge list so a node appearing only in
    # self-loop edges still gets its (node, node) label instead of
    # vanishing from the output.
    raw = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    n_edges = raw.count()
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    # size the loop's partitioning to the EDGE COUNT, not the session
    # default: near-dup edge lists are often orders of magnitude smaller
    # than the corpus, and every round pays per-task scheduler overhead
    # across ~8 jobs — on a 256-edge list at 32 partitions that overhead
    # IS the runtime (measured 3.0 s → 1.7 s at sf0.1 by collapsing to 2).
    # At billions of edges this leaves parallelism untouched.
    n_parts = max(2, min(
        raw.sparkSession.sparkContext.defaultParallelism,
        n_edges // 1_000_000 + 1,
    ))
    cur = (
        raw.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .coalesce(n_parts)
    )
    for _ in range(max_rounds):
        # large-star: every node connects its strictly-larger neighbors
        # to the minimum of its closed neighborhood
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls_min = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            sym.join(ls_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every node connects its smaller neighbors (and
        # itself) to the minimum among them
        ss_min = ls.groupBy("u").agg(F.min("v").alias("m"))
        cur = (
            ls.join(ss_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .union(ss_min.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            # one snapshot per round, filled by the probe below; the
            # Python reference to the PREVIOUS round's checkpoint dies
            # on reassignment, so Spark's ContextCleaner reclaims its
            # blocks asynchronously — peak storage is a couple of rounds
            # of the (shrinking) edge list, not O(total rounds)
            .localCheckpoint(eager=False)
        )
        # per node: out-degree and total degree; a node with an out-edge
        # and any second edge is a leaf with two centres or a centre
        # that is itself a leaf — either way, not yet a star forest
        deg = (
            cur.select(F.inline(F.array(
                F.struct(F.col("u").alias("n"), F.lit(1).alias("out")),
                F.struct(F.col("v").alias("n"), F.lit(0).alias("out")),
            )))
            .groupBy("n")
            .agg(F.sum("out").alias("out"), F.count(F.lit(1)).alias("deg"))
        )
        if deg.filter((F.col("out") > 0) & (F.col("deg") > 1)).isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} rounds"
        )
    labels = nodes.join(
        cur.select(F.col("u").alias("node"), F.col("v").alias("comp")),
        "node",
        "left",
    ).select("node", F.coalesce("comp", "node").alias("comp"))
    return labels


def label_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    rounds: int = 2,
) -> DataFrame:
    """(node, community) after ``rounds`` SYNCHRONOUS label-propagation
    updates over the undirected graph — community detection, the
    clustering complement of connected components (CC merges everything
    reachable; LPA splits a component into densely-linked groups).

    Determinism contract (the classic LPA pitfall is order-dependence):
    updates are synchronous (round t+1 reads only round t's labels),
    every node starts labeled with its own id, and each node adopts the
    most frequent label among its neighbors with ties broken by the
    SMALLEST label — argmax spelled as min over (-count, label) structs,
    so any engine reproduces the exact fixture. Fixed round count, like
    kmeans_two_rounds: the oracle unrolls the same rounds as chained
    CTEs.

    Scale shape: each round is one join (labels onto the edge list's
    dst side) + two hash aggregations — all partial+final, no windows,
    no driver actions; the static symmetric edge list is persisted
    across rounds. At 100 TB this is the standard O(E)-per-round
    semi-synchronous LPA; raise ``rounds`` with a convergence probe as
    in connected_components."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(rounds):
        counts = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy("a")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias("m"))
            .select(F.col("a").alias("node"), F.col("m.lbl").alias("lbl"))
        )
    # NOTE: sym stays persisted — the returned plan is lazy, so an
    # eager unpersist here would drop the cache before any action runs;
    # Spark's ContextCleaner reclaims the blocks once the frame is
    # unreachable (same lifecycle note as connected_components)
    return labels.select("node", F.col("lbl").alias("community"))


def pagerank(
    edges: DataFrame,
    src: str = "page_from",
    dst: str = "page_to",
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, rank) after a fixed number of synchronous iterations.

    Deterministic given the edge list (float sums vary in the last ulp
    across partitionings — callers that need hash-stable output should
    round; the unit test uses a tolerance against a NetworkX-free
    hand-rolled reference).

    Scale contract: NO driver-side action inside the loop. The
    dangling mass (total rank on nodes with no outgoing edges) is a
    1-row aggregate — ``ranks ⟕ sources`` left-anti, summed — that is
    crossJoined (broadcast, 1 row) back into the rank update, staying
    entirely lazy. On a 1000-executor cluster each checkpoint interval
    is one job; the old collect-per-iteration version ran ≥2 full jobs
    per iteration.

    ``checkpoint_every`` is deliberately small: ``ranks`` feeds BOTH the
    contribution join and the dangling aggregate, so the un-checkpointed
    LOGICAL plan doubles per iteration (the physical plan reuses the
    shared exchange, but analysis cost is exponential in the interval).
    k=2 bounds the plan at 4 rank-subtrees while halving the job count —
    at cluster scale raise it only with care."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("out_deg"))
    # cache the static sides: re-scanned every iteration otherwise
    edges_deg = (
        edges.join(out_deg, src)
        .select(F.col(src).alias("node"), F.col(dst).alias("to"), F.col("out_deg"))
        .persist()
    )
    # distinct source nodes (nodes with outgoing edges) — static, tiny
    sources = edges_deg.select("node").distinct().persist()
    nodes = nodes.persist()
    n_nodes = nodes.count()  # one up-front action, outside the loop

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for it in range(1, iterations + 1):
        contribs = (
            edges_deg.join(ranks, "node")
            .select(F.col("to").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # dangling mass as a LAZY 1-row aggregate: rank sitting on nodes
        # with no outgoing edges this round (left-anti vs. source nodes)
        dangling = (
            ranks.join(sources, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))  # 1-row build side: a map stage
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("dangling_mass") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )
        # truncate lineage every k rounds — each checkpoint is ONE job
        # covering k iterations; at cluster scale use checkpoint() on HDFS
        if it % checkpoint_every == 0 or it == iterations:
            ranks = ranks.localCheckpoint(eager=True)
    edges_deg.unpersist()
    sources.unpersist()
    nodes.unpersist()
    return ranks


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "x",
    dst: str = "y",
    max_rounds: int = 64,
) -> DataFrame:
    """(node, core_degree) — the k-CORE of an undirected simple graph:
    the maximal subgraph where every node keeps degree ≥ k, found by
    iterated peeling (delete sub-k nodes; repeat until stable). The
    community-detection / spam-filtering primitive one notch up from
    degree filtering: a node's raw degree can be inflated by disposable
    neighbors, but its k-core membership cannot.

    Distributed shape per round: one degree aggregation (union of both
    endpoint projections → groupBy-count, partial+final) and one
    semi-join of the edge list against the surviving-node set — no
    windows, no driver-side adjacency. Convergence is CHECKED like
    :func:`connected_components` (the CC fixed-iteration lesson): the
    loop stops when a round deletes nothing, raises at ``max_rounds``,
    and each round's (shrinking) edge set is localCheckpoint'ed so the
    convergence probe re-reads materialized partitions, never lineage.
    Peeling deletes a nonempty node set per round or stops, so rounds
    are bounded by node count; real graphs converge in a handful
    (degeneracy ordering exists at O(edges) sequentially — this is its
    scale-out form).

    Partitioning is sized to the edge count exactly as in
    :func:`connected_components` — candidate graphs (near-dup pair
    lists, co-purchase projections) are usually far smaller than the
    corpus that produced them.
    """
    # canonicalize orientation INSIDE the operator: an undirected edge
    # supplied as both (a,b) and (b,a) must collapse to one row before
    # distinct(), or every degree double-counts and the core shifts
    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_count = cur.count()
    n_parts = max(2, min(
        cur.sparkSession.sparkContext.defaultParallelism,
        prev_count // 1_000_000 + 1,
    ))
    if cur.rdd.getNumPartitions() > n_parts:
        cur = cur.coalesce(n_parts)
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("x").alias("v"))
            .union(cur.select(F.col("y").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        nxt = (
            cur.join(keep.withColumnRenamed("v", "x"), "x", "left_semi")
            .join(keep.withColumnRenamed("v", "y"), "y", "left_semi")
            .select("x", "y")
            .localCheckpoint(eager=True)
        )
        new_count = nxt.count()
        if new_count == prev_count:
            cur = nxt
            break
        cur, prev_count = nxt, new_count
    else:
        raise RuntimeError(f"kcore: no fixpoint after {max_rounds} rounds")
    return (
        cur.select(F.col("x").alias("node"))
        .union(cur.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
