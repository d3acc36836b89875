"""Graph operators over interaction logs: edge derivation and
fixed-iteration PageRank.

Engine additions: web-crawl pipelines rank hosts/pages by link
centrality (Common Crawl publishes harmonic-centrality/PageRank
seed rankings), and the same machinery ranks users in an
interaction graph. The reference has no graph surface; this module
derives a co-interaction graph from the event log (the reference's
status-log domain, code/download_image_files.py's per-object
fetches) and runs the classic iterative rank over it — expressed as
join + groupBy per iteration, the shape GraphX/Pregel lowers to
anyway, so a 1000-executor cluster just sees k keyed shuffles.

Determinism: edges order by (ts, event_id) — a total order — and
rank updates are pure arithmetic, so the whole pass (including the
DuckDB oracle, which unrolls the same iterations in CTE SQL) is
exactly reproducible.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parlerproject_spark.caching import fixpoint


def cointeraction_edges(events: DataFrame, *,
                        object_expr: str = "$.k",
                        block: str | None = "day") -> DataFrame:
    """Directed user→user edges: for each object (the `props` JSON
    key), order its events by (ts, event_id) and connect each
    event's user to the next event's user (a distinct-pair
    projection of the session stream — "u handed the object to v").
    Self-loops and duplicate pairs are dropped.

    Events whose props lack the key (or hold a non-numeric value)
    are dropped BEFORE the window: a NULL object is not an object,
    and letting those rows through would (a) collapse them into one
    giant NULL window partition and (b) emit spurious user→user
    edges between unrelated events (r4 ADVICE). try_cast keeps a
    malformed value from throwing under ANSI mode.

    Skew: a single viral object would otherwise put ALL its events
    into one window partition — one task sorting millions of rows.
    With `block` set (default "day"), the lag runs per
    (obj, time-block) — bounded partitions — and the block-boundary
    edges are stitched from each block's first/last event (one
    aggregate + one window over the tiny per-block table). The edge
    set is EXACTLY the unblocked one: blocks are contiguous ts
    ranges, so within-block lag + last(prev-block)→first(block)
    reconstructs every consecutive pair. Pass block=None for the
    single-window form.
    Columns: src, dst.
    """
    keyed = events.select(
        F.expr(f"try_cast(get_json_object(props, '{object_expr}') "
               "AS bigint)").alias("obj"),
        "ts", "event_id", F.col("user_id").alias("dst")) \
        .filter(F.col("obj").isNotNull())
    if block is None:
        w = Window.partitionBy("obj").orderBy("ts", "event_id")
        return (keyed
                .withColumn("src", F.lag("dst").over(w))
                .filter(F.col("src").isNotNull()
                        & (F.col("src") != F.col("dst")))
                .select("src", "dst")
                .distinct())
    # any MONOTONE function of ts is a correct block boundary (the
    # stitch repairs every boundary), so granularity only tunes skew
    # resistance: calendar trunc for timestamp ts, a fixed-width
    # numeric bucket otherwise
    if dict(keyed.dtypes)["ts"].startswith(("timestamp", "date")):
        blk_expr = F.date_trunc(block, "ts")
    else:
        blk_expr = F.floor(F.col("ts").cast("double") / F.lit(86400.0))
    blocked = keyed.withColumn("blk", blk_expr)
    wb = Window.partitionBy("obj", "blk").orderBy("ts", "event_id")
    inner = (blocked
             .withColumn("src", F.lag("dst").over(wb))
             .filter(F.col("src").isNotNull())
             .select("src", "dst"))
    # boundary stitch: one row per (obj, block) — first/last event by
    # the same total order — then lag over BLOCKS (rows = number of
    # blocks, never number of events)
    ends = (blocked.groupBy("obj", "blk")
            .agg(F.min_by("dst", F.struct("ts", "event_id")).alias("first_dst"),
                 F.max_by("dst", F.struct("ts", "event_id")).alias("last_dst")))
    wblk = Window.partitionBy("obj").orderBy("blk")
    cross = (ends
             .withColumn("src", F.lag("last_dst").over(wblk))
             .filter(F.col("src").isNotNull())
             .select("src", F.col("first_dst").alias("dst")))
    return (inner.unionByName(cross)
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _power_iteration(edges: DataFrame, start: DataFrame, *,
                     iters: int, damping: float,
                     tol: float | None = None,
                     weight_col: str | None = None) -> DataFrame:
    """The one PageRank power iteration behind `pagerank` and
    `personalized_pagerank`: from `start` (node, rank = the initial
    vector, tel = the per-node teleport term (1-d)·p(v)), run
    r_{t+1}(v) = tel(v) + d * sum_{u->v} r_t(u) * w(u,v) / out(u)
    exactly `iters` rounds, where out(u) is u's out-degree, or its
    outgoing weight sum with `weight_col`. (Simplified form: dangling
    mass is not redistributed — documented, and mirrored verbatim by
    the oracles.)

    Plan: out-degrees are one aggregation; every iteration is ONE
    shuffle join (rank ⋈ edges on src) plus ONE keyed aggregation on
    dst, then a left join back to the node set for rankless nodes —
    the exact dataflow Pregel compiles to. Iteration count is fixed
    and small (the standard "k rounds of power iteration" contract),
    so the lineage stays bounded; the caller localCheckpoints the
    derived edges once, so the upstream edge derivation (a window over
    the raw log) does not replay per iteration (measured 3.5× on the
    sf0.1 personalized query).

    `tol` adds an eager post-hoc convergence check: the max per-node
    |Δrank| of the last iteration, with a RuntimeWarning above tol
    (r4 verdict #6; `iters` rounds is the defined result, so it warns).
    Like duplicate_clusters' fixed-point probe it runs a job at
    construction time, so the default stays fully lazy (and the
    oracles' unrolled CTEs bit-identical).

    Columns: node, rank (round 6).
    """
    if weight_col is None:
        outdeg = edges.groupBy("src").agg(
            F.count("*").cast("double").alias("deg"))
        wexpr = F.lit(1.0)
    else:
        outdeg = edges.groupBy("src").agg(
            F.sum(weight_col).cast("double").alias("deg"))
        wexpr = F.col(weight_col).cast("double")
    ranks = prev = start
    for _ in range(iters):
        prev = ranks
        contrib = (ranks
                   .join(outdeg.withColumnRenamed("src", "node"), "node")
                   .join(edges.withColumnRenamed("src", "node"), "node")
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") * wexpr / F.col("deg"))
                           .alias("c")))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (ranks.select("node", "tel")
                 .join(summed, "node", "left")
                 .select("node",
                         (F.col("tel")
                          + damping * F.coalesce(F.col("s"), F.lit(0.0)))
                         .alias("rank"),
                         "tel"))
    if tol is not None and iters > 0:
        delta = (prev.select("node", F.col("rank").alias("r0"))
                 .join(ranks.select("node", F.col("rank").alias("r1")),
                       "node")
                 .agg(F.max(F.abs(F.col("r1") - F.col("r0"))).alias("d"))
                 .collect()[0]["d"])
        if delta is not None and delta > tol:
            import warnings
            warnings.warn(
                f"pagerank: max |Δrank| = {delta:.3e} > tol={tol:g} after "
                f"iters={iters} — ranks have not converged; raise iters "
                "(power iteration contracts geometrically in the damping "
                "factor, so a few more rounds usually suffice)",
                RuntimeWarning, stacklevel=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _nodes(edges: DataFrame) -> DataFrame:
    return (edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct())


def pagerank(edges: DataFrame, *, iters: int = 3,
             damping: float = 0.85,
             tol: float | None = None,
             weight_col: str | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list:
    r_{t+1}(v) = (1 - d)/N + d * sum_{u->v} r_t(u) / outdeg(u),
    starting uniform, run exactly `iters` rounds of
    `_power_iteration`.

    With `weight_col`, the weighted variant: each neighbor receives
    r_t(u) * w(u,v) / outstrength(u) (outstrength = sum of u's
    outgoing weights) — same plan shape, the degree aggregate just
    becomes a sum. Pass `tol` to get the eager convergence check.

    Columns: node, rank (round 6).
    """
    edges = edges.localCheckpoint(eager=True)
    nodes = _nodes(edges)
    n = nodes.agg(F.count("*").cast("double").alias("n_nodes"))
    start = (nodes.crossJoin(F.broadcast(n))
             .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("rank"),
                     ((1.0 - damping) / F.col("n_nodes")).alias("tel")))
    return _power_iteration(edges, start, iters=iters, damping=damping,
                            tol=tol, weight_col=weight_col)


def personalized_pagerank(edges: DataFrame, seeds: DataFrame, *,
                          iters: int = 3,
                          damping: float = 0.85) -> DataFrame:
    """Personalized PageRank: the teleport distributes over `seeds`
    (column: node) instead of uniformly — rank concentrates around
    the seed set's neighborhood, the standard
    recommendation/related-items signal on an interaction graph.

    r_{t+1}(v) = (1-d) * 1[v in seeds]/|seeds|
                 + d * sum_{u->v} r_t(u)/outdeg(u),
    starting from the teleport vector: `_power_iteration` with the
    seed indicator riding a broadcast semi-join flag. Oracle unrolls
    the same iterations. Columns: node, rank (round 6).
    """
    edges = edges.localCheckpoint(eager=True)
    seed_nodes = seeds.select(F.col("node")).distinct()
    ns = seed_nodes.agg(F.count("*").cast("double").alias("n_seeds"))
    tp = (_nodes(edges)
          .join(F.broadcast(seed_nodes.withColumn("__s", F.lit(1))),
                "node", "left")
          .crossJoin(F.broadcast(ns))
          .select("node",
                  (F.coalesce(F.col("__s"), F.lit(0)).cast("double")
                   / F.col("n_seeds")).alias("tp"))
          .localCheckpoint(eager=True))
    start = tp.select("node", F.col("tp").alias("rank"),
                      ((1.0 - damping) * F.col("tp")).alias("tel"))
    return _power_iteration(edges, start, iters=iters, damping=damping)


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonicalize a directed edge list to distinct undirected
    edges (a < b). Self-loops dropped. Columns: a, b."""
    return (edges
            .select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def triangle_counts(edges: DataFrame, *,
                    pre_undirected: bool = False) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the undirected projection of a directed edge list.

    pre_undirected=True: `edges` is already the canonical (a, b)
    undirected projection, deduped and MATERIALIZED by the caller
    (graph_stats shares one checkpointed projection across its three
    consumers instead of re-running a derived-edge cascade here).

    Engine addition (no reference analogue — the reference has no
    graph surface): triangle density is the standard community-
    structure diagnostic on interaction graphs, and the distributed
    formulation here is the degree-oriented wedge join (Cohen's
    MapReduce triangle algorithm / "forward" algorithm):

    1. orient every undirected edge from its lower-(degree, id)
       endpoint to the higher one — an acyclic orientation in which
       every node's OUT-degree is O(sqrt(m)) for any graph, so
    2. the wedge self-join on the oriented source generates
       sum_v outdeg(v)^2 = O(m^1.5) candidates TOTAL — bounded even
       on power-law graphs where a naive neighbor join on the hub
       node would be deg(hub)^2 — and
    3. each wedge closes against the oriented edge set once (every
       triangle is counted exactly once, at its lowest-(deg, id)
       apex).

    The oracle enumerates triangles canonically (x < y < z three-way
    join) — same single-count-per-triangle contract, so results
    match while the Spark plan keeps the skew-proof orientation.

    Columns: node, degree, triangles, clustering (round 6).
    """
    und = edges if pre_undirected \
        else undirected_edges(edges).localCheckpoint(eager=True)
    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("degree")))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("dg_b"))
    # orient by (degree, node id) — a strict total order, so the
    # orientation is acyclic and every triangle has a unique apex
    lo_first = (F.col("dg_a") < F.col("dg_b")) | \
        ((F.col("dg_a") == F.col("dg_b")) & (F.col("a") < F.col("b")))
    oriented = (und.join(da, "a").join(db, "b")
                .select(F.when(lo_first, F.col("a")).otherwise(F.col("b"))
                        .alias("u"),
                        F.when(lo_first, F.col("b")).otherwise(F.col("a"))
                        .alias("v")))
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = (o1.join(o2, "u").filter(F.col("x") < F.col("y")))
    # x < y already holds, so the closing edge's canonical form is
    # exactly (a=x, b=y) — an equi-join, shuffle-keyed on the pair
    tri = wedges.join(
        und, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")))
    per_node = (tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
                .groupBy("node").agg(F.count("*").alias("triangles")))
    return (deg.join(per_node, "node", "left")
            .select("node", "degree",
                    F.coalesce("triangles", F.lit(0)).cast("long")
                    .alias("triangles"),
                    F.round(
                        F.when(F.col("degree") >= 2,
                               2.0 * F.coalesce("triangles", F.lit(0))
                               / (F.col("degree")
                                  * (F.col("degree") - F.lit(1))))
                        .otherwise(F.lit(0.0)), 6).alias("clustering")))


def label_propagation(edges: DataFrame, *, iters: int) -> DataFrame:
    """Synchronous label-propagation community detection, fixed
    iteration count, fully deterministic tie-break.

    Every node starts labeled with its own id; each round every node
    adopts the label that is most frequent among its neighbors,
    breaking count ties toward the SMALLEST label (asynchronous LPA
    with random tie-breaks is the textbook version, but a
    deterministic synchronous schedule is the only shape an oracle
    can replay — and at cluster scale the synchronous form is one
    keyed join + one aggregation per round, the same Pregel lowering
    as `pagerank`).

    The neighbor-mode argmax is a single max_by over
    struct(cnt, -label): struct ordering compares fields left to
    right, so it picks max count then (via the negation) min label —
    no window, no sort. The oracle unrolls the same rounds with a
    row_number() (cnt DESC, label ASC) pick.

    Columns: node, label.
    """
    und = undirected_edges(edges).localCheckpoint(eager=True)
    sym = (und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
           .unionAll(und.select(F.col("b").alias("src"),
                                F.col("a").alias("dst"))))

    def adopt(labels):
        nb = (sym.join(labels.withColumnRenamed("node", "dst"), "dst")
              .groupBy(F.col("src").alias("node"), "label")
              .agg(F.count("*").alias("cnt")))
        return (nb.groupBy("node")
                .agg(F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label"))
                                      .alias("neg"))).alias("label")))

    labels = fixpoint(sym.select(F.col("src").alias("node")).distinct()
                      .withColumn("label", F.col("node")),
                      adopt, rounds=iters, name="label_propagation")
    return labels.select("node", "label")


def bfs_distances(edges: DataFrame, seeds: DataFrame, *,
                  max_hops: int, directed: bool = True,
                  materialized: bool = False) -> DataFrame:
    """Multi-source BFS: shortest hop-distance from any seed node,
    bounded to `max_hops` levels.

    Level-synchronous frontier expansion — the textbook distributed
    BFS (Pregel's canonical example): each round joins the CURRENT
    FRONTIER (nodes first reached last round, a shrinking set) to
    the edge table and anti-joins out already-visited nodes. Cost
    per round is one hash join keyed on src, proportional to the
    frontier's out-degree sum, NOT the whole graph; `max_hops` is a
    fixed iteration budget like pagerank's, so the driver loop is
    bounded and each round's plan is static. The visited set stays
    a DataFrame (node, dist) — no driver-side collect at any scale.

    `edges` needs columns (src, dst); `seeds` one column `node`.
    Columns: node, dist (0 for seeds, <= max_hops).
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
    # the edge table feeds EVERY hop's frontier join; when `edges` is
    # itself derived (e.g. a co-interaction self-join cascade) each
    # reference would re-run that cascade — materialize it once, the
    # same iterative-operator contract as k_core's peeled edge list.
    # materialized=True: caller already deduped AND checkpointed (it
    # needed the graph for seed derivation too); skip the redundant
    # distinct shuffle + second materialization.
    if not materialized:
        e = e.distinct().localCheckpoint(eager=True)
    reached = []  # the seeds, then each hop's checkpointed frontier

    def expand(frontier):
        reached.append(frontier)
        visited = reduce(DataFrame.unionByName, reached)
        return (e.join(frontier.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("dist", F.lit(len(reached)).cast("long")))

    last = fixpoint(seeds.select("node").distinct()
                    .withColumn("dist", F.lit(0).cast("long")),
                    expand, rounds=max_hops, name="bfs_distances")
    return reduce(DataFrame.unionByName, reached + [last])


def k_core(edges: DataFrame, *, k: int, max_iter: int = 20) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where
    every vertex keeps degree ≥ k — the standard dense-subgraph
    extractor for spam/bot-ring detection and community seeding
    (Seidman 1983). Computed by iterative PEELING: drop every vertex
    whose current degree is < k, recompute degrees on the surviving
    subgraph, repeat to a fixed point.

    Each round is one degree aggregation + two semi-joins over
    (id, id) pairs, run by `caching.fixpoint` like duplicate_clusters:
    the shrinking edge list is checkpointed per round, and the loop
    EARLY-EXITS when no vertex was peeled (peeling converges in ≤ |V|
    rounds, in practice a handful — overrunning max_iter raises
    rather than returning a wrong subgraph).

    Input: directed or undirected (src, dst) — canonicalized
    internally. Columns: vertex, degree (degree WITHIN the k-core).
    """
    und = undirected_edges(edges).localCheckpoint(eager=True)

    def peel(cur):
        deg = (cur.select(F.col("a").alias("v"))
               .unionByName(cur.select(F.col("b").alias("v")))
               .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
        keep = deg.filter(F.col("d") >= k).select("v")
        return (cur.join(keep.select(F.col("v").alias("a")), "a", "left_semi")
                .join(keep.select(F.col("v").alias("b")), "b", "left_semi"))

    # edge counts are monotone non-increasing, so ONE count job per
    # round (the next round's "before" count) finds the fixed point
    n_edges = und.count()

    def none_peeled(_prev, cur):
        nonlocal n_edges
        n = cur.count()
        done, n_edges = n == n_edges, n
        return done

    core = fixpoint(und, peel, rounds=max_iter, name="k_core",
                    converged=none_peeled)
    return (core.select(F.col("a").alias("vertex"))
            .unionByName(core.select(F.col("b").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .filter(F.col("degree") >= k))


def graph_stats(edges: DataFrame) -> DataFrame:
    """One-row global graph health summary — the numbers a graph
    pipeline checks before trusting community/similarity outputs:
    node/edge counts, mean degree, TRANSITIVITY (global clustering
    3·triangles/wedges — how clique-like the graph is) and degree
    ASSORTATIVITY (Pearson correlation of endpoint degrees over both
    edge directions — positive: hubs prefer hubs; negative:
    hub-and-spoke, Newman 2002).

    Composition of verified pieces: `triangle_counts` supplies the
    skew-proof triangle total (each triangle appears at 3 nodes —
    divide by 3), wedges are Σ C(d,2) on the degree table, and the
    assortativity is ONE corr aggregate over the degree-joined edge
    list. Everything above edge granularity is |V|-row algebra.

    Columns: n_nodes, n_edges, avg_degree, transitivity,
    assortativity (round 6; nulls where degenerate).
    """
    und = undirected_edges(edges).localCheckpoint(eager=True)
    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    # share the one materialized projection — triangle_counts would
    # otherwise re-run the (possibly derived) edge cascade for its
    # own identical undirected checkpoint
    tri = triangle_counts(und, pre_undirected=True)
    tsum = tri.agg((F.sum("triangles") / 3).alias("__t"))
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("__w"))
    both = und.unionByName(und.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    assort = (both.join(da, "a").join(db, "b")
              .agg(F.round(F.corr("__da", "__db"), 6)
                   .alias("assortativity")))
    return (base.crossJoin(F.broadcast(tsum))
            .crossJoin(F.broadcast(assort))
            .select("n_nodes", "n_edges", "avg_degree",
                    F.round(F.try_divide(3.0 * F.col("__t"),
                                         F.col("__w")), 6)
                    .alias("transitivity"),
                    "assortativity"))
