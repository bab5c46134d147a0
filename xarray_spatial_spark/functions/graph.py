"""Link-graph analytics for web corpora — iterative algorithms as
chained DataFrame jobs.

Common-Crawl-scale pipelines rank hosts by link structure (crawl
frontier priority, quality priors).  ``pagerank`` is the classic
damped formulation (public algorithm; the per-iteration shape follows
Spark's own canonical example):

    rank_0(v)    = 1.0
    rank_t+1(v)  = (1 - d) + d * sum_{(u,v) in E} rank_t(u) / outdeg(u)

Scale design: one equi-join + one groupBy per iteration (edges hash-
partition on src for the join, contributions shuffle on dst — both
AQE-managed; a hub host's fan-in is a skewed groupBy key, which AQE
skew handling or ``tiling.salted_agg`` absorbs).  Each iteration ends
in an EAGER ``localCheckpoint``: caching alone is not enough for
iterative algorithms — the logical plan still nests one join+agg per
generation and the driver OOMs on analysis long before the data does
(measured here at ~20 iterations); checkpointing truncates lineage to
the materialized blocks.  On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` for
executor-loss resilience.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after ``iters`` damped iterations over the edge
    list.  Nodes = every distinct endpoint; duplicate edges contribute
    multiply (dedupe upstream if unwanted); dangling nodes (no
    out-links) simply leak their mass, as in the classic
    non-normalized formulation.

    ``seeds`` (a 1-column DataFrame of node ids) switches to the
    PERSONALIZED / TrustRank formulation (Gyongyi et al. 2004): the
    teleport term lands only on seed nodes —
    ``rank_0(v) = [v in S]``, ``rank_t+1(v) = (1-d)*[v in S] + d*sum``
    — so rank measures proximity to the trusted set; pages no seed
    reaches (directly or transitively) score exactly 0.  Scale: the
    seed set is a curated whitelist (KBs), so the indicator attaches
    by one BROADCAST left-semi-style join before the loop; the
    per-iteration shape is unchanged."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if seeds is not None:
        s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        nodes = nodes.join(
            F.broadcast(s.withColumn("_t", F.lit(1.0))), "node", "left"
        ).select("node", F.coalesce("_t", F.lit(0.0)).alias("_tp"))
    else:
        nodes = nodes.withColumn("_tp", F.lit(1.0))
    nodes = nodes.localCheckpoint()
    # the rank table is (node, double) — when it comfortably fits the
    # broadcast budget, broadcasting it into BOTH per-iteration joins
    # removes two shuffles of the edge table per round (guide: pick
    # the join strategy deliberately; the iteration shape is unchanged
    # and at web scale the count gate keeps the shuffle plan)
    small = nodes.count() <= 2_000_000
    _b = F.broadcast if small else (lambda df: df)
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("_deg"))
    e = edges.join(deg, src).select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), "_deg"
    ).localCheckpoint()
    ranks = nodes.select("node", F.col("_tp").alias("rank"))
    for i in range(iters):
        contrib = (
            e.join(_b(ranks), e["_src"] == ranks["node"])
            .select(F.col("_dst").alias("node"),
                    (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(_b(contrib), "node", "left").select(
            "node",
            (F.lit(1.0 - damping) * F.col("_tp")
             + F.lit(damping) * F.coalesce("_s", F.lit(0.0))).alias("rank"),
        )
        # eager localCheckpoint truncates the per-iteration plan, but
        # every FOURTH iteration suffices: an 8-join-deep plan
        # analyzes fine (the driver blowup starts ~20 deep), each
        # eager checkpoint is a full job, and the LAST iteration is
        # never checkpointed — the caller's action materializes it
        # anyway, so a final checkpoint would compute the tail twice
        if i % 4 == 3 and i != iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, hub, authority) after ``iters`` rounds of the classic
    HITS mutual recursion (Kleinberg 1999):

        auth_t+1(v) = sum_{(u,v)} hub_t(u)      then L2-normalize
        hub_t+1(u)  = sum_{(u,v)} auth_t+1(v)   then L2-normalize

    Complements :func:`pagerank` on crawl link graphs: hubs surface
    directory/index pages (what a frontier should expand), authorities
    surface the pages those concentrate on (what a quality prior
    should boost).  Per round: two equi-joins + two aggregations, the
    same shuffle shape as one pagerank step; every second round ends
    in an eager localCheckpoint (module docstring: lineage, not data,
    is what dies on iterative plans).

    Normalization is DEFERRED: power iteration is scale-invariant, so
    per-round L2 norms (two extra full-pass aggregations each) buy
    nothing — the direction after t rounds is identical whether you
    normalize every round or once at the end.  Magnitudes grow like
    the principal eigenvalue^t, so a rescale every 16 rounds keeps
    very deep runs inside float64 range; the returned hub/authority
    columns are the standard unit-L2 scores.  Duplicate edges
    contribute multiply."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = edges.select(F.col(src).alias("_src"),
                     F.col(dst).alias("_dst")).localCheckpoint()
    # see pagerank: broadcast the small score table into the
    # per-round joins, shuffle only the aggregated contributions
    small = nodes.count() <= 2_000_000
    _b = F.broadcast if small else (lambda df: df)
    scores = nodes.select("node", F.lit(1.0).alias("hub"),
                          F.lit(1.0).alias("authority"))

    def _l2_normalize(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
        norm = df.agg(*[
            F.sqrt(F.sum(F.col(c) * F.col(c))).alias(f"_n_{c}") for c in cols
        ])
        return df.crossJoin(F.broadcast(norm)).select(
            "node", *[
                (F.col(c) / F.when(F.col(f"_n_{c}") > 0, F.col(f"_n_{c}"))
                 .otherwise(F.lit(1.0))).alias(c)
                if c in cols else F.col(c)
                for c in ("hub", "authority")
            ])

    for i in range(iters):
        auth = (
            e.join(_b(scores.select("node", "hub")), e["_src"] == F.col("node"))
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum("hub").alias("_a"))
        )
        scores = scores.drop("authority").join(_b(auth), "node", "left").select(
            "node", "hub", F.coalesce("_a", F.lit(0.0)).alias("authority"))
        hub = (
            e.join(_b(scores.select("node", "authority")),
                   e["_dst"] == F.col("node"))
            .groupBy(F.col("_src").alias("node"))
            .agg(F.sum("authority").alias("_h"))
        )
        scores = scores.drop("hub").join(_b(hub), "node", "left").select(
            "node", F.coalesce("_h", F.lit(0.0)).alias("hub"), "authority")
        if (i + 1) % 16 == 0:
            scores = _l2_normalize(scores, ("hub", "authority"))
        # see pagerank: truncate every 4th round, never the last
        if i % 4 == 3 and i != iters - 1:
            scores = scores.localCheckpoint()
    return _l2_normalize(scores, ("hub", "authority"))


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    include_self: bool = True,
    directed: bool = False,
) -> DataFrame:
    """(node, label) after ``iters`` SYNCHRONOUS label-propagation
    rounds — community detection on the link graph (spam farms, site
    networks, topic clusters) as the fourth graph primitive next to
    pagerank / connected_components / hits.

    Raghavan et al. 2007, made deterministic and cross-engine
    replicable: every node starts labeled with itself; each round it
    adopts the MOST FREQUENT label among its neighbors (its own vote
    included by default), ties broken by smallest label.  Fixed-round
    synchronous semantics — no random visit order, no asynchronous
    updates — so the result is a pure function of the edge list and
    an unrolled SQL twin can assert it row-for-row.  ``include_self``
    keeps a node's current label in its own ballot, the standard
    damping that prevents the two-coloring oscillation plain
    synchronous LPA exhibits on bipartite-ish structures; with it a
    clique converges in one round and holds its label under single
    bridge edges (majority beats a smaller bridge label — pinned).

    Scale design mirrors pagerank: per round ONE equi-join on the
    (src-partitioned) edge list + one two-level hash aggregate
    ((node, label) count with map-side combine, then a min(struct)
    argmax — no window, no shuffle beyond the count's); hub fan-in is
    an AQE-skew-handled groupBy key.  Labels ride as values, so the
    exchanged rows are (node, label, cnt) triples bounded by observed
    (node, neighbor-label) pairs, never text.  localCheckpoint every
    second round truncates the iterative plan like pagerank's."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("_s"),
                                 F.col(src).alias("_d")))
    e = e.distinct().localCheckpoint()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.withColumn("label", F.col("node"))
    for i in range(iters):
        msgs = e.join(labels, e["_s"] == labels["node"]).select(
            F.col("_d").alias("node"), "label")
        if include_self:
            msgs = msgs.unionByName(labels)
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_cnt"))
        voted = counts.groupBy("node").agg(
            F.min(F.struct((-F.col("_cnt")).alias("_nc"),
                           F.col("label").alias("_l"))).alias("_best")
        ).select("node", F.col("_best._l").alias("label"))
        if include_self:
            labels = voted
        else:
            # a node with no in-neighbors receives no ballots this
            # round — it keeps its previous label instead of vanishing
            labels = labels.alias("p").join(
                voted.alias("v"), "node", "left"
            ).select("node", F.coalesce(F.col("v.label"),
                                        F.col("p.label")).alias("label"))
        if i % 2 == 1 or i == iters - 1:
            labels = labels.localCheckpoint()
    return labels


def seed_distance(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 12,
    broadcast_frontier_rows: int = 4_000_000,
) -> DataFrame:
    """(node, depth) — minimum DIRECTED hop count from any seed, the
    crawl-depth metric: how many link hops a crawler starting at the
    seed list needs to reach each page.  Nodes unreachable within
    ``max_hops`` are absent from the result.

    Frontier BFS, one round per hop: join the current frontier with
    the edge table on ``src``, anti-join against everything already
    reached, checkpoint.  Per-round work is proportional to the
    FRONTIER's out-edges, not the graph (contrast Bellman-Ford
    relaxation, which rescans every edge every round); web crawls
    reach their effective diameter in ~6-20 hops so the round count
    is small and bounded by ``max_hops``.  The frontier BROADCASTS
    while its row count (known exactly from the per-round stop-check
    count) stays under ``broadcast_frontier_rows`` — early hops are
    tiny and skip the edge shuffle entirely; later hops fall back to
    an AQE-managed shuffle join.  Rounds end in eager localCheckpoint
    for the same lineage reason as pagerank (module docstring).

    ``seeds``: one-column DataFrame of seed node ids (depth 0).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    reached = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0))
        .localCheckpoint()
    )
    frontier = reached
    n_frontier = frontier.count()
    for hop in range(1, max_hops + 1):
        if n_frontier == 0:
            break
        f = (
            F.broadcast(frontier)
            if n_frontier <= broadcast_frontier_rows
            else frontier
        )
        nxt = (
            e.join(f, e["_s"] == f["node"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(hop))
            .localCheckpoint()
        )
        n_frontier = nxt.count()
        if n_frontier:
            reached = reached.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return reached
