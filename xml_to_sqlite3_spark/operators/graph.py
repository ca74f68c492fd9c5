"""Graph traversal over the cross-reference graph.

The reference's stated purpose is a database "for further
post-processing, such as ... graph traversal operations"
(/root/reference/main.rb:22-24, README). These operators make that
surface first-class: BFS shortest distances and reachability over
the edge set, as iterative frontier joins.

Scale shape: per level one broadcast hash join frontier⋈edges (the
edge side streams in place, never shuffles), with the visited set
pruned by anti-join — never a driver-side set. localCheckpoint per
level keeps lineage flat; a shuffle-join fallback exists for
frontiers too large to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import scoped_conf


def bfs_distances(
    edges: DataFrame,
    source: str,
    max_depth: int = 3,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    broadcast_frontier: bool = True,
    materialize_edges: bool = True,
    pushdown_limit: int = 2000,
) -> DataFrame:
    """Minimum hop-distance from ``source`` to every node reachable
    within ``max_depth`` directed edges. Returns (node, distance),
    including the source at distance 0.

    First-arrival BFS: a node enters the result at its minimum depth
    and is pruned (anti-join) from later frontiers — so cycles and
    dense fan-in cost nothing extra.

    Small frontiers become SCAN PREDICATES, not joins (the dynamic-
    filter pushdown trick): while a level's frontier holds at most
    ``pushdown_limit`` ids, the level plans as
    ``edges.filter(src.isin(ids))`` — an In predicate that reaches
    the parquet footer, so a source-sorted edge store (the node-graph
    store's layout) prunes to the handful of row groups actually
    containing the frontier instead of streaming the full edge set
    through a broadcast join per level (measured at sf1: the full
    type-pruned scan was ~4s PER LEVEL; the pruned point-lookup is
    milliseconds). The mode is re-evaluated PER LEVEL: a frontier
    that outgrows the limit uses the broadcast (or shuffle,
    ``broadcast_frontier=False``) hash join for that level, and
    pushdown resumes whenever a later frontier shrinks back under
    the limit — each mode decision depends only on the current
    frontier's size, so there is nothing sticky to preserve.

    ``materialize_edges=True`` (default) evaluates derived/filtered
    edge inputs once into executor-local checkpoint blocks so every
    level reads materialized blocks instead of re-running the
    upstream plan. For edges that are ALREADY a bare (pruned) parquet
    scan, pass False: it skips the up-front full copy AND keeps the
    scan's row-group statistics visible to the pushdown path
    (checkpoint blocks carry no footer stats, so the In filter would
    stream every block).

    Per level runs ONE materializing action (a count over the lazily
    checkpointed level) plus, while in pushdown mode, a collect of
    the already-materialized level ids (block-local, no recompute).
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if materialize_edges:
        # duplicate (src,dst) pairs are harmless either way
        # (the per-level distinct dedups nodes)
        e = e.distinct().localCheckpoint(eager=True)

    visited = spark.createDataFrame([(source, 0)], "node string, distance int")
    visited = visited.localCheckpoint(eager=True)
    frontier = visited
    frontier_ids: list | None = [source]
    for depth in range(1, max_depth + 1):
        if frontier_ids is not None and len(frontier_ids) <= pushdown_limit:
            cand = e.filter(F.col("src").isin(frontier_ids)).select(
                F.col("dst").alias("node")
            )
        else:
            f = frontier.select(F.col("node").alias("src"))
            if broadcast_frontier:
                f = F.broadcast(f)
            cand = e.join(f, "src").select(F.col("dst").alias("node"))
        v = visited.select("node")
        if broadcast_frontier:
            v = F.broadcast(v)
        nxt = (
            cand.distinct()
            .join(v, "node", "left_anti")
            .withColumn("distance", F.lit(depth))
        )
        nxt = nxt.localCheckpoint(eager=False)
        n_level = nxt.count()
        if n_level == 0:
            break
        # the ids only parameterize the NEXT level's scan predicate —
        # skip the collect on the final level
        frontier_ids = (
            [r["node"] for r in nxt.select("node").collect()]
            if n_level <= pushdown_limit and depth < max_depth
            else None
        )
        # union of already-checkpointed frontiers — lineage stays
        # flat without re-materializing the growing visited set
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph:
    (node, component) where component = min node id reachable from
    ``node``. Nodes are whatever appears in the edge list.

    Min-label propagation: each round every node takes the minimum of
    its own label and its neighbors' labels (one join + one map-side
    combinable min-aggregate per round), converging in O(component
    diameter) rounds — near-duplicate clusters are shallow, so this
    terminates in a handful of rounds regardless of corpus size.
    localCheckpoint per round keeps lineage flat; the early-exit
    check rides the same action that materializes the round.

    This is the canonical-document step of a dedup pipeline: pairs
    from MinHash/SimHash/embedding LSH -> components -> keep
    min(doc_id) per component (``duplicate_groups``).
    """
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    # symmetrize with ONE explode, not union(e, e.flipped): the union
    # embeds the edge-producing subplan TWICE, and when the edges come
    # from an expensive pipeline (a Jaccard verify join) the whole
    # pipeline executed twice — explode reads each input row once
    und = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("__p")
        )
        .select("__p.u", "__p.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select("u").distinct().withColumn("label", F.col("u"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = und.join(
            labels.select(F.col("u").alias("v"), F.col("label").alias("nl")), "v"
        ).select("u", "nl", F.lit(None).cast(labels.schema["label"].dataType).alias("old"))
        # Carry each node's previous label through the same aggregate
        # that computes its new one, and read convergence off the
        # SAME single action that materializes the round: the round's
        # frame is a LAZY checkpoint and the changed-count aggregate
        # is the one job against it (the r9 eager-checkpoint +
        # limit(1).count() pair was two jobs per round — per-round
        # driver overhead dominates shallow-component corpora, the
        # same lesson as pagerank's fused stats job).
        new_labels = (
            labels.select(
                "u", F.col("label").alias("nl"), F.col("label").alias("old")
            )
            .unionByName(nbr)
            .groupBy("u")
            .agg(
                F.min("nl").alias("label"),
                F.min("old").alias("old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(
            F.count(F.when(F.col("label") != F.col("old"), 1)).alias("c")
        ).collect()[0]["c"]
        labels = new_labels.select("u", "label")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def duplicate_groups(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
) -> DataFrame:
    """Canonicalize near-duplicate PAIRS into groups: (doc_id,
    component, is_keeper) where the keeper is the minimum doc_id of
    each connected component. The decision a dedup pipeline actually
    needs — pairs alone under-delete (A~B, B~C must drop both B and
    C even if A~C was never emitted)."""
    comp = connected_components(pairs, src_col=doc_a, dst_col=doc_b)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def out_degree_spine(e: DataFrame) -> DataFrame:
    """(node, __deg) spine of a directed (src, dst) edge frame in ONE
    shuffle: src rows carry a marker 1, dst rows 0; the groupBy both
    enumerates every node and counts out-edges (count 0 -> NULL __deg
    = dangling). Shared by pagerank's inline prep and the node-graph
    store's persisted pr_spine — the dangling-node encoding must stay
    identical in both."""
    return (
        e.select(F.col("src").alias("node"), F.lit(1).alias("m"))
        .unionByName(e.select(F.col("dst").alias("node"), F.lit(0).alias("m")))
        .groupBy("node")
        .agg(F.sum("m").alias("__cnt"))
        .select(
            "node",
            F.when(F.col("__cnt") > 0, F.col("__cnt")).cast("long").alias("__deg"),
        )
    )


def _copartitioned_join_confs(n_part: int) -> dict[str, str]:
    """The confs pagerank and triangle_count scope around their joins:
    a fixed partition count, no AQE, no sort-merge, no broadcast — so
    joins over inputs already hash-partitioned on the key run as
    exchange-free shuffled hash joins (see pagerank)."""
    return {
        "spark.sql.shuffle.partitions": str(n_part),
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    n_partitions: int | None = None,
    spine: DataFrame | None = None,
    edges_deduped: bool = False,
    tol: float = 0.0,
    spine_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """PageRank over the directed edge set: (node, rank), ranks
    summing to ~1. The reference names "graph traversal operations"
    as the database's purpose (main.rb:22-24); centrality over the
    cross-reference graph is that surface's analytical core.

    Distributed power iteration, all-DataFrame, engineered so each
    round is ONE job with ONE shuffle:

    - The edge list is hash-partitioned by src in ONE shuffle
      (dropDuplicates after the repartition dedups in place —
      HashPartitioning(src) already satisfies the (src, dst)
      clustering requirement) and localCheckpointed; the (node,
      out-degree) spine is built with a single marker-union groupBy
      (no distinct + join) and checkpointed hash-partitioned by node.
    - Per round, rank⋈edges runs as a co-partitioned shuffled hash
      join (ranks inherit the spine's (node, P) partitioning, edges
      are (src, P) — no exchange on either side), the contribution
      sum is the round's single shuffle, and the previous ranks
      re-attach by another exchange-free co-partitioned join. The
      iteration scopes spark.sql.shuffle.partitions /
      adaptive.enabled / preferSortMergeJoin /
      autoBroadcastJoinThreshold (session.scoped_conf) to keep
      those joins exchange-free — AQE's runtime coalescing would
      break the partitioning match, and Catalyst's default-stats
      view of a checkpointed LogicalRDD looks "small", which
      silently turned the per-round edge join into a
      BroadcastHashJoin that re-collected and re-broadcast the FULL
      edge set every round (measured: 0.38s/round vs 0.21s for the
      co-partitioned hash join at sf0.1).
    - ONE job per round: the round's frame is a LAZY localCheckpoint
      and the single action against it is a 2-value aggregate that
      simultaneously (a) materializes the checkpoint blocks, (b)
      computes the NEXT round's dangling mass, and (c) computes the
      max |rank delta| for the convergence check. The dangling mass
      enters the next round's plan as a plain LITERAL (dm/n divided
      driver-side — IEEE-identical to the JVM division): only the
      small post-join projection stage's generated code changes per
      round, and that recompile measured cheaper than either r9
      alternative (an in-plan 1-row aggregate attached by
      crossJoin(broadcast(...)) — codegen-stable but a whole extra
      subtree to plan per round plus a broadcast-collect job — or a
      per-round 1-row LocalRelation, which still pays createDataFrame
      and the BroadcastNestedLoop planning). The driver-side
      bottleneck at small scale is per-round PLANNING, not job
      count — keep the round plan minimal. The initial dangling mass
      rides the same single aggregate that counts the spine (or the
      caller-provided ``spine_stats``), so setup is at most one job.

    ``n_partitions`` defaults to min(8, defaultParallelism) — the
    per-round frames are sketch-sized and task-launch overhead
    dominates them; a billion-node corpus on a real cluster should
    pass its own P. Output rounds to 8 decimals: per-partition float
    summation order perturbs ~1e-15 relative, far below the
    rounding, so results are deterministic run to run.

    NOT thread-safe: the scoped confs are session-global for the
    duration of the iteration — see session.scoped_conf.

    ``edges_deduped=True`` skips the (src, dst) dedup for an input
    already known distinct; ``spine`` accepts a PRECOMPUTED (node,
    __deg) table (out-degree NULL = dangling) — e.g. the node-graph
    store's persisted pr_spine — so the per-query cost starts at the
    iteration joins instead of re-paying the dedup shuffle and the
    spine aggregation every session. Both are repartitioned here to
    the iteration's co-partitioning (parquet persistence cannot carry
    a HashPartitioning).

    ``tol > 0`` enables a rank-delta early exit: the loop stops once
    max |rank_i - rank_{i-1}| <= tol, read off the SAME per-round
    aggregate (no extra job). Remaining-round drift is bounded by
    tol * damping / (1 - damping), so tol=1e-10 keeps an
    8-decimal-rounded output bit-identical to the full n_iter run.
    Default 0.0 = exactly n_iter rounds (the 1e-7 oracle tests fix
    the round count).
    """
    spark = edges.sparkSession
    n_part = n_partitions or min(8, spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, _copartitioned_join_confs(n_part)):
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).repartition(n_part, "src")
        if not edges_deduped:
            e = e.dropDuplicates(["src", "dst"])
        e = e.localCheckpoint(eager=False)
        if spine is not None:
            spine = (
                spine.select("node", "__deg")
                .repartition(n_part, "node")
                .localCheckpoint(eager=False)
            )
        else:
            spine = out_degree_spine(e).localCheckpoint(eager=False)
        # ONE setup job: spine size + dangling count together (the
        # initial ranks are the uniform 1/n, so the initial dangling
        # mass is n_dangling / n — no separate pass over ranks).
        # ``spine_stats`` (e.g. the node-graph store build's own
        # spine aggregate) skips even that: zero jobs before the
        # first iteration.
        if spine_stats is not None:
            n_total, n_dang = int(spine_stats[0]), int(spine_stats[1])
        else:
            srow = spine.agg(
                F.count(F.lit(1)).alias("__n"),
                F.count(F.when(F.col("__deg").isNull(), 1)).alias("__nd"),
            ).collect()[0]
            n_total, n_dang = srow["__n"], srow["__nd"]
        if n_total == 0:
            # empty graph degrades to an empty result like bfs/triangles
            # (1.0 / n_total below would raise on the driver otherwise)
            return spark.createDataFrame([], "node string, rank double")
        ranks = spine.withColumn("rank", F.lit(1.0 / n_total)).localCheckpoint(
            eager=False
        )
        dm = float(n_dang) * (1.0 / n_total)
        teleport = (1.0 - damping) / n_total
        for _i in range(n_iter):
            r = ranks.filter(F.col("__deg").isNotNull()).select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            contrib = (
                e.join(r, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("__c").alias("__in"))
            )
            # same float association as the naive-oracle tests expect:
            # damping * (in_mass + dm/n) — dm/n is a driver-side python
            # double division, bit-identical to the JVM's. The scalar
            # enters as a LITERAL: only the final small projection
            # stage recompiles per round (the join/agg stages' code is
            # unchanged and Janino-cached), which measured cheaper than
            # the r9 in-plan broadcast attach (a whole extra
            # BroadcastNestedLoop subtree to plan per round) and the
            # LocalRelation variant (a createDataFrame + crossJoin per
            # round). The previous ranks frame is the left side
            # (co-partitioned on node like the old spine join) so the
            # round's delta can ride the same plan.
            ranks = (
                ranks.select("node", "__deg", F.col("rank").alias("__prev"))
                .join(contrib, "node", "left")
                .select(
                    "node",
                    "__deg",
                    (
                        F.lit(teleport)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__in"), F.lit(0.0))
                            + F.lit(dm / float(n_total))
                        )
                    ).alias("rank"),
                    "__prev",
                )
                .localCheckpoint(eager=False)
            )
            # the round's single action: materializes the lazy
            # checkpoint AND returns next round's dangling mass and
            # the convergence delta
            stats = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("__deg").isNull(), F.col("rank"))),
                    F.lit(0.0),
                ).alias("__dm"),
                F.max(F.abs(F.col("rank") - F.col("__prev"))).alias("__delta"),
            ).collect()[0]
            dm = float(stats["__dm"])
            if tol > 0.0 and stats["__delta"] is not None and stats["__delta"] <= tol:
                break
        return ranks.select("node", F.round("rank", 8).alias("rank"))


def orient_edges(
    edges: DataFrame,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Degree-oriented edge list (u, w) of the undirected simple
    graph of ``edges``: every edge oriented from its lower-degree
    endpoint to its higher-degree endpoint (ties by id) — the
    preprocessing that makes distributed triangle counting's wedge
    fan-out O(sqrt(m)) per vertex. A pure deterministic function of
    the input edge multiset, so it is PERSISTABLE: the node-graph
    store materializes it once per content key (plans/node_graph.py
    tri_oriented) and the triangle gate starts at the wedge join
    instead of paying the dedup + degree + orientation joins per
    query."""
    spark = edges.sparkSession
    n_part = n_partitions or min(16, spark.sparkContext.defaultParallelism)
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        # ONE shuffle: HashPartitioning(a) already satisfies the
        # (a, b) clustering the dedup needs, and the a-partitioned
        # blocks make the da join below exchange-free
        .repartition(n_part, "a")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )


def triangle_count(
    edges: DataFrame | None,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    oriented: DataFrame | None = None,
) -> DataFrame:
    """Global triangle count over the undirected simple graph of
    ``edges``. Returns one row: (n_edges, n_triangles).

    The scale-critical trick is DEGREE ORIENTATION (the standard
    distributed formulation): orient every undirected edge from its
    lower-degree endpoint to its higher-degree endpoint (ties by id).
    Every triangle then has exactly one 'pivot' vertex with two
    out-edges, so counting wedges (u->v, u->w) that close with an
    oriented edge (v->w) counts each triangle EXACTLY once — and the
    wedge join's fan-out per vertex is bounded by the oriented
    out-degree, which is O(sqrt(m)) for any graph, so a celebrity
    vertex with 10M neighbors contributes sqrt-bounded work instead
    of 10M^2 wedge candidates. Three hash joins, no cross product,
    no driver state.

    The whole pipeline runs under scoped confs (restored in a
    finally): fixed shuffle partitions + AQE off keep the wedge
    self-join co-partitioned with the (u, P)-partitioned oriented
    checkpoint, and autoBroadcastJoinThreshold=-1 stops Catalyst
    from treating the checkpointed LogicalRDDs (default stats =
    "small") as broadcast candidates — which silently re-collected
    and re-broadcast the FULL 1.5M-edge set per join.

    ``oriented`` accepts a PRECOMPUTED orient_edges result (e.g. the
    node-graph store's persisted tri_oriented table): the query then
    skips the dedup/degree/orientation joins entirely — one
    repartition of the (u, w) longs and straight to the wedge join.

    NOT thread-safe: the scoped confs are session-global — see
    session.scoped_conf.
    """
    if oriented is None and edges is None:
        raise ValueError("triangle_count needs edges or a precomputed oriented set")
    spark = (oriented if oriented is not None else edges).sparkSession
    n_part = min(16, spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, _copartitioned_join_confs(n_part)):
        if oriented is None:
            oriented = orient_edges(
                edges, src_col, dst_col, n_partitions=n_part
            )
        oriented = (
            oriented
            # hash-partition the checkpoint on the pivot: the wedge
            # e1⋈e2 is a self-join on u, so with the blocks already
            # partitioned by u it runs co-partitioned — the full oriented
            # edge set never reshuffles for the fan-out stage (only the
            # closing join's (v, w) shuffle remains)
            .repartition(n_part, "u")
            .localCheckpoint(eager=True)
        )
        e1 = oriented.select(F.col("u"), F.col("w").alias("v"))
        e2 = oriented.select(F.col("u"), F.col("w"))
        wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
        # close the wedge with an oriented edge between v and w (either
        # orientation — degree order between v and w is not known here)
        closing = oriented.select(
            F.least("u", "w").alias("v"), F.greatest("u", "w").alias("w")
        )
        tri = wedges.join(closing, ["v", "w"]).agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
        # orientation is a bijection on undirected edges, so n_edges is a
        # block count of the already-materialized oriented checkpoint — a
        # driver scalar folded in as a literal, replacing the old
        # und-aggregate + crossJoin(broadcast) branch (one whole job and
        # a broadcast exchange on the result path)
        n_e = oriented.count()
        # materialize the 1-row result INSIDE the scoped-conf region:
        # the caller's later action would otherwise re-plan the wedge
        # joins under the restored default confs (AQE + broadcast
        # threshold back on) and lose the co-partitioned strategy
        return tri.select(
            F.lit(n_e).cast("long").alias("n_edges"), "n_triangles"
        ).localCheckpoint(eager=True)


def adamic_adar_topk(
    edges: DataFrame | None,
    k: int = 50,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    max_degree: int | None = 1000,
    und: DataFrame | None = None,
    centers: DataFrame | None = None,
) -> DataFrame:
    """Link prediction by Adamic-Adar index: for node pairs NOT yet
    connected, score = sum over common neighbors v of 1/ln(deg(v));
    returns the top-``k`` candidate pairs (node_a, node_b, aa_score,
    n_common). The classic graph-completion / recommendation query
    over the cross-reference graph.

    Scale shape: ONE aggregation by center collects each vertex's
    sorted neighbor list (bounded by ``max_degree``), then every
    unordered wedge pair is generated EXACTLY ONCE, JVM-side inside
    whole-stage codegen, by a ``transform``/``slice``/``flatten``
    combination expansion over the sorted array — no adjacency
    self-join, no post-hoc ``n1 < n2`` halving of a doubled fan-out.
    The Adamic-Adar weight depends only on the center's degree, so it
    rides the same aggregated row. Per-row expansion memory is
    deg^2/2 structs, bounded by ``max_degree`` (the guard that also
    drops celebrity centers: a 10M-degree hub contributes ~0 weight —
    1/ln(10M) spread over 10^14 pairs — exactly ngram_jaccard's
    max_df trade). Existing edges leave by anti-join; the final cut
    is a TakeOrdered, not a global window. Determinism: per-wedge
    weights are rounded then DECIMAL-summed (order-independent), ties
    break on the pair itself.

    ``und`` accepts a PRECOMPUTED distinct undirected (a, b) pair set
    and ``centers`` the (v, d, ns) degree/sorted-neighbor table —
    e.g. the node-graph store's persisted aa_und/aa_centers — so a
    repeated query starts at the wedge expansion instead of re-paying
    the edge scan + two aggregation shuffles per session (the
    pr_edges/pr_spine contract). ``centers`` must already reflect the
    same edge set as ``und``; the degree filters still apply here.
    """
    if und is None:
        if edges is None:
            raise ValueError("adamic_adar_topk needs edges or a precomputed und")
        und = (
            edges.select(
                F.least(F.col(src_col), F.col(dst_col)).alias("a"),
                F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    if centers is None:
        adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionByName(
            und.select(F.col("b").alias("v"), F.col("a").alias("n"))
        )
        # degree AND the sorted neighbor list in one map-side-
        # combinable aggregation; (v, n) is unique by construction
        # (und is distinct)
        centers = adj.groupBy("v").agg(
            F.count(F.lit(1)).alias("d"),
            F.sort_array(F.collect_list("n")).alias("ns"),
        )
    centers = centers.filter(F.col("d") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("d") <= max_degree)
    centers = centers.withColumn(
        "w",
        F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 9).cast(
            "decimal(18,9)"
        ),
    )
    # size the pair-aggregation exchange from the EXACT wedge volume
    # (one cheap pass over the filtered centers, Σ d(d-1)/2): the
    # default shuffle-partition count under-partitions the wedge
    # multiset as it grows — at the k=30 scale point the 83M-wedge
    # aggregate spilled its 32 hash maps and ran 1.8x slower than
    # with volume-proportional partitions (47.2s vs 26.7s, measured).
    # The wedge volume is linear in data (3.0x at 3x, measured), so
    # the sizing pass stays cheap at any scale.
    centers = centers.localCheckpoint(eager=False)
    w_total = int(
        centers.agg(
            F.coalesce(
                F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")),
                F.lit(0),
            ).alias("w")
        ).collect()[0]["w"]
    )
    spark = centers.sparkSession
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg_parts = max(conf_parts, -(-w_total // 1_500_000))
    # each i<j position pair of the sorted list exactly once: element
    # i paired with every later element via slice — all codegen'd
    # array ops, zero extra shuffle for the fan-out stage
    wedges = centers.select(
        "w",
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) -> "
                "transform(slice(ns, i + 2, size(ns)), y -> "
                "struct(x AS n1, y AS n2))))"
            )
        ).alias("p"),
    ).select("w", F.col("p.n1").alias("node_a"), F.col("p.n2").alias("node_b"))
    if agg_parts > conf_parts:
        # explicit same-key repartition: the groupBy's ENSURE_
        # REQUIREMENTS is satisfied, so this IS the aggregation
        # exchange, just wider; map-side combine matters little here
        # (duplicate pairs per task are rare in a wedge multiset)
        wedges = wedges.repartition(agg_parts, "node_a", "node_b")
    pairs = (
        wedges.groupBy("node_a", "node_b")
        .agg(
            F.round(F.sum("w").cast("double"), 6).alias("aa_score"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    novel = pairs.join(
        und.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    return novel.orderBy(F.desc("aa_score"), "node_a", "node_b").limit(k)


def degree_assortativity(
    edges: DataFrame | None,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    und: DataFrame | None = None,
) -> DataFrame:
    """Newman degree assortativity of the undirected simple graph:
    the Pearson correlation of endpoint degrees over the directed
    endpoint list (each undirected edge contributes both
    orientations) — one row (n_edges, n_endpoints, assortativity).
    Positive r = hubs link to hubs (social shape), negative r = hubs
    link to leaves (star/reference shape) — the one-number summary a
    pipeline owner checks before trusting degree-based skew guards.

    Plan: dedup to the simple edge set, one degree aggregation, two
    (broadcastable node-domain) joins back, one corr aggregate — all
    map-side-combinable, nothing quadratic. ``und`` accepts a
    precomputed undirected pair set (e.g. the store's oriented
    table — orientation is irrelevant here, any (a, b) bijection of
    the simple edge set works).

    NOTE (r16): CALLING this function is eager — it materializes the
    (node-domain-sized) degree checkpoint and counts it to decide
    whether the degree join-back broadcasts (see the in-body note);
    the returned 1-row frame is lazy as usual.
    """
    if und is None:
        if edges is None:
            raise ValueError("degree_assortativity needs edges or und")
        und = (
            edges.select(
                F.least(F.col(src_col), F.col(dst_col)).alias("a"),
                F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
            # the derived dedup feeds two consumers (degree union +
            # endpoint list) — pin it; the store path below is a
            # parquet rescan and needs no checkpoint blocks
            .localCheckpoint(eager=False)
        )
    else:
        cols = und.columns
        und = und.select(F.col(cols[0]).alias("a"), F.col(cols[1]).alias("b"))
    both = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # r16: the degree table is lazily checkpointed and its join-back
    # broadcast WHEN THE NODE DOMAIN FITS. Measured at sf0.1 (store
    # path, fresh plan per rep, min-of-3): 3.6-4.5s → 1.8-2.2s —
    # building the broadcast relation straight from the
    # un-materialized union+aggregate subtree was the dominant cost;
    # from materialized node-domain-sized blocks it is sub-second.
    # Lazy (not eager) so the blocks materialize on first use;
    # node-domain-sized, so nothing data-sized accumulates under
    # query-many (the r11 leak concerned full-edge checkpoints).
    # The broadcast is GATED on the exact node count (review r16: a
    # forced hint would hard-fail past the 8 GB / 512M-row broadcast
    # cap on a billion-node graph, where the unhinted plan degrades
    # gracefully to a shuffle join) — the count() materializes the
    # checkpoint the evaluation needs anyway, so the guard costs no
    # extra pass, only eagerness.
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=False
    )
    broadcast_deg = deg.count() <= 50_000_000
    # Pearson r assembled from sufficient statistics with ONE degree
    # join: attach dv per directed edge, then the per-source groupBy
    # recovers du as the row count — so deg is computed and joined
    # exactly once (the naive du⋈dv double join planned deg twice
    # with no exchange reuse; 12 parquet scans vs 6 here).
    #   Σx  (du over directed edges)  = Σ_u du²
    #   Σx² (du² over edges)          = Σ_u du³
    #   Σxy (du·dv over edges)        = Σ_u du · Σ_{v∈N(u)} dv
    #   Σy / Σy² from the same per-source sums of dv / dv².
    dv_side = deg.select(
        F.col("u").alias("v"), F.col("deg").cast("double").alias("dv")
    )
    e2 = both.join(
        F.broadcast(dv_side) if broadcast_deg else dv_side,
        "v",
    )
    per_u = e2.groupBy("u").agg(
        F.count(F.lit(1)).cast("double").alias("du"),
        F.sum("dv").alias("sdv"),
        F.sum(F.col("dv") * F.col("dv")).alias("sdv2"),
    )
    stats = per_u.agg(
        F.sum("du").alias("n"),
        F.sum(F.col("du") * F.col("du")).alias("sx"),
        F.sum(F.col("du") * F.col("du") * F.col("du")).alias("sx2"),
        F.sum(F.col("du") * F.col("sdv")).alias("sxy"),
        F.sum("sdv").alias("sy"),
        F.sum("sdv2").alias("sy2"),
    )
    var_x = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return stats.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.col("n").cast("long").alias("n_endpoints"),
        # zero-variance guard: a REGULAR graph (all degrees equal)
        # has no defined r — plain division would raise under ANSI
        # mode, while DuckDB's corr returns NULL; match the NULL.
        F.round(
            F.when(
                (var_x > 0) & (var_y > 0), cov / F.sqrt(var_x * var_y)
            ),
            6,
        ).alias("assortativity"),
    )


def local_clustering(
    edges: DataFrame | None,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    oriented: DataFrame | None = None,
) -> DataFrame:
    """Per-node local clustering coefficient over the undirected
    simple graph: coeff(v) = 2 * T(v) / (d(v) * (d(v) - 1)) where
    T(v) = triangles through v — the node-level refinement of
    triangle_count (same degree-oriented wedge join, but LISTING
    each triangle once and exploding its three corners instead of
    counting). Returns (node_id, degree, triangles, coeff) for every
    vertex, coeff = 0.0 for degree < 2; deterministic and fully
    SQL-oracle-checkable.

    Scale shape: identical to triangle_count through the closing
    join (per-vertex wedge fan-out O(sqrt(m)) after orientation);
    the listing adds 3 rows per triangle (linear in the triangle
    count) and one corner groupBy. ``oriented`` accepts the store's
    persisted orient_edges output.
    """
    if oriented is None and edges is None:
        raise ValueError("local_clustering needs edges or a precomputed oriented set")
    spark = (oriented if oriented is not None else edges).sparkSession
    n_part = min(16, spark.sparkContext.defaultParallelism)
    if oriented is None:
        # the derived orientation feeds FOUR consumers (both wedge
        # sides, the closing set, the degree union) — checkpoint it
        # once so the dedup/degree/orient joins don't run 4x.
        # KNOWN RISK (accepted, documented): the checkpointed
        # LogicalRDD reports broadcast-small stats — the misestimate
        # triangle_count guards with scoped confs, which only work
        # because that operator materializes its 1-row result INSIDE
        # the scope; this function returns a LAZY node-level frame,
        # so no conf scope can pin its eventual plan. On the pinned
        # pyspark the plan lands on SortMergeJoin (verified); callers
        # with large AD-HOC edge inputs should pass a store-backed
        # ``oriented`` (real parquet stats) instead, as every gate
        # does.
        oriented = (
            orient_edges(edges, src_col, dst_col, n_partitions=n_part)
            .repartition(n_part, "u")
            .localCheckpoint(eager=True)
        )
    # The store path reads tri_oriented PARQUET directly: real size
    # stats (no broadcast misestimate), cheap rescans for the four
    # consumers, and AQE free to split skewed wedge partitions.
    # An earlier draft eagerly checkpointed both the repartitioned
    # input and the full node-level output per call under scoped
    # confs — measured at sf1 it DEGRADED run-over-run (19/32/38s as
    # un-freed checkpoint blocks accumulated) while this plain
    # declarative plan holds steady at ~3s for the same answer.
    e1 = oriented.select(F.col("u"), F.col("w").alias("v"))
    e2 = oriented.select(F.col("u"), F.col("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.least("u", "w").alias("v"), F.greatest("u", "w").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    corners = tri.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node_id")
    )
    t_per_node = corners.groupBy("node_id").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    deg = (
        oriented.select(F.col("u").alias("node_id"))
        .unionByName(oriented.select(F.col("w").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(t_per_node, "node_id", "left")
        .select(
            "node_id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("coeff"),
        )
        .orderBy("node_id")
    )


def kcore_decomposition(
    edges: DataFrame | None,
    src_col: str = "source_node_id",
    dst_col: str = "target_node_id",
    und: DataFrame | None = None,
    max_iter: int = 100,
    stats: dict | None = None,
) -> DataFrame:
    """Exact k-core decomposition (coreness per node) of the
    undirected simple graph — the degeneracy view a link-graph
    curation pipeline uses (spam farms and boilerplate rings live in
    dense high-core regions; isolated long-tail pages in the 1-core).
    ``stats`` (optional dict) receives ``{"rounds": n}`` — the store
    build logs it so convergence behavior is visible per corpus.

    Distributed algorithm: the H-INDEX fixpoint (Lü et al. 2016) —
    start at c0(v) = deg(v) and iterate c(v) <- H({c(u): u ~ v}),
    the largest h such that at least h neighbors have value >= h.
    The sequence is monotonically non-increasing and converges to
    the exact coreness, so the result is a DETERMINISTIC integer
    vector. Each round is one join + one node-partitioned window
    (row_number over neighbor values — never a per-node collected
    list, so hub degree stays bounded work) + one max-aggregate;
    convergence reads off the same lazy-checkpoint action that
    materializes the round (connected_components' one-job-per-round
    shape). Not SQL-expressible (data-dependent iteration), hence a
    rows-only gate pinned by a pure-python peeling replica.

    ``und`` accepts a precomputed undirected pair set (e.g. the
    store's oriented table). Returns (node_id, coreness).
    """
    if und is None:
        if edges is None:
            raise ValueError("kcore_decomposition needs edges or und")
        und = (
            edges.select(
                F.least(F.col(src_col), F.col(dst_col)).alias("a"),
                F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"])
        )
    else:
        cols = und.columns
        und = und.select(F.col(cols[0]).alias("a"), F.col(cols[1]).alias("b"))
    spark = und.sparkSession
    # symmetrize once; this derived frame feeds every round — pin it
    # (bounded: ONE checkpoint per operator call, not per round)
    sym = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("__p")
        )
        .select("__p.u", "__p.v")
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    w = W.partitionBy("u").orderBy(F.desc("c2"), F.asc("v"))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = sym.join(
            labels.select(F.col("u").alias("v"), F.col("c").alias("c2")), "v"
        ).select("u", "v", "c2")
        hidx = (
            nbr.withColumn("__r", F.row_number().over(w))
            .select("u", F.least(F.col("c2"), F.col("__r")).alias("__h"))
            .groupBy("u")
            .agg(F.max("__h").alias("new_c"))
        )
        new_labels = (
            labels.join(hidx, "u")
            .select("u", F.col("new_c").alias("c"), F.col("c").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(
            F.count(F.when(F.col("c") != F.col("old"), 1)).alias("n")
        ).collect()[0]["n"]
        labels = new_labels.select("u", "c")
        if changed == 0:
            break
    else:
        # the fixpoint propagates one hop per round, so a degenerate
        # chain longer than ~2*max_iter has NOT converged — returning
        # the intermediate vector would be silently WRONG (interior
        # chain nodes still read 2 instead of 1). Fail loudly; the
        # caller raises max_iter or pre-collapses long chains.
        raise RuntimeError(
            f"kcore_decomposition did not converge in {max_iter} rounds "
            f"({changed} labels still moving) — the graph has degenerate "
            "chains longer than the round budget; raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("u").alias("node_id"), F.col("c").alias("coreness"))
