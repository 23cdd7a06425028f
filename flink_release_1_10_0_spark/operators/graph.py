"""Graph operators (Gelly subset, SURVEY.md §2.11).

Reference: ``flink-libraries/flink-gelly/.../graph/Graph.java`` (vertex/
edge DataSets, degrees, library algorithms
``.../graph/library/ConnectedComponents.java``) and the scatter-gather /
vertex-centric iteration models (``.../graph/spargel/``, ``.../pregel/``).

Spark-first shape: a graph is two DataFrames (vertices, edges).
Iterative algorithms run as a driver loop of joins — each superstep is
one Catalyst-planned join+aggregate, the standard Pregel-on-DataFrames
layout (GraphFrames does the same).  The driver holds only a convergence
flag per superstep, never data.

Scale notes: each superstep shuffles edges by src — at 100 TB, persist
the frontier, checkpoint every ~10 supersteps to cut lineage, and stop
on a convergence count.  Label propagation converges in O(diameter)
supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.operators.iterate import (
    release_local_checkpoint)


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex in/out/total degree (Graph.java inDegrees/outDegrees)."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (out_d.join(in_d, "id", "full_outer")
            .select("id",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
            .withColumn("degree", F.col("out_degree") + F.col("in_degree")))


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iterations: int = 50) -> DataFrame:
    """Connected components: every vertex ends with component = min
    vertex id reachable from it (``library/ConnectedComponents.java``
    result semantics).  Returns (id, component).

    Algorithm: min-label propagation **with pointer doubling** — each
    round first takes the min label over neighbors (one edge join), then
    short-circuits chains with ``component(v) := component(component(v))``
    (one label self-join).  Doubling halves label-chain depth per round,
    so convergence is O(log diameter) rounds instead of the plain
    propagation's O(diameter) — on a 100 TB graph that is ~30 shuffles
    of the O(V) label vector rather than hundreds of shuffles of the
    edge list (the same round bound as the MapReduce large-star/
    small-star construction).  Lineage is truncated with a local
    checkpoint every round, and the previous round's checkpoint is
    released once the new one exists.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct())
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("component", F.col("id")))
    sym = sym.persist()
    labels = labels.persist()
    ckpt = None         # the checkpoint `labels` projects, if any
    for step in range(max_iterations):
        neighbor_min = (sym.join(labels, sym.b == labels.id)
                        .groupBy(F.col("a").alias("id"))
                        .agg(F.min("component").alias("nbr_min")))
        # carry the round's INPUT label through as __old so the
        # convergence probe below is a join-free filter on the
        # checkpointed rows — the former new-vs-old self-join re-ran a
        # full shuffle join (plus its AQE stage jobs) per round just to
        # answer "did anything change" (guide §7.3: the driver loop's
        # per-round job count is the multiplier that scales with
        # iteration count, not data size)
        stepped = (labels.join(neighbor_min, "id", "left_outer")
                   .select("id",
                           F.col("component").alias("__old"),
                           F.least(F.col("component"),
                                   F.coalesce("nbr_min", F.col("component")))
                           .alias("component")))
        # pointer doubling: component(v) := component(component(v))
        parent = stepped.select(F.col("id").alias("pid"),
                                F.col("component").alias("pcomp"))
        new_labels = (stepped.join(parent, stepped.component == parent.pid,
                                   "left_outer")
                      .select("id", "__old",
                              F.coalesce("pcomp", "component")
                              .alias("component")))
        # cut lineage EVERY round: the round's plan references `stepped`
        # twice (the pointer-doubling self-join), so the logical plan
        # doubles per round — localCheckpoint collapses it to a
        # constant-size LogicalRDD before Catalyst re-analyzes it (same
        # exponential-plan hazard as sssp, r2 verdict #2)
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (new_labels.filter(F.expr("component <> __old"))
                   .limit(1).count())
        if ckpt is None:
            labels.unpersist()
        else:
            release_local_checkpoint(ckpt)
        ckpt = new_labels
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Triangle enumeration/count per vertex
    (``library/TriangleEnumerator.java`` semantics, undirected).

    Canonicalize to a < b, build wedges (a<b<c sharing vertex b... in the
    standard layout: edges (a,b) and (a,c) with b<c form a wedge closed by
    edge (b,c)), then count closures per participating vertex.

    Scale: the wedge join is the classic skew hot-spot — a celebrity
    vertex of degree d yields d^2/2 wedges.  The a<b<c ordering already
    halves the work; at 100 TB add a degree-ordered orientation (orient
    each edge from lower-degree to higher-degree endpoint) so wedge
    generation is bounded by arboricity, and let AQE split residual skew.
    """
    canon = (edges.select(F.least(src, dst).alias("a"),
                          F.greatest(src, dst).alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct())
    e1 = canon.alias("e1")
    e2 = canon.alias("e2")
    wedges = (e1.join(e2, (F.col("e1.a") == F.col("e2.a"))
                      & (F.col("e1.b") < F.col("e2.b")))
              .select(F.col("e1.a").alias("v1"),
                      F.col("e1.b").alias("v2"),
                      F.col("e2.b").alias("v3")))
    closing = canon.select(F.col("a").alias("v2"), F.col("b").alias("v3"))
    tris = wedges.join(closing, ["v2", "v3"])
    per_vertex = (tris.select(F.col("v1").alias("id"))
                  .union(tris.select(F.col("v2").alias("id")))
                  .union(tris.select(F.col("v3").alias("id")))
                  .groupBy("id")
                  .agg(F.count(F.lit(1)).alias("triangles")))
    return per_vertex


def sssp(edges: DataFrame, source: int, src: str = "src", dst: str = "dst",
         max_iterations: int = 30) -> DataFrame:
    """Single-source shortest paths, unit edge weights
    (``library/SingleSourceShortestPaths.java`` with weight 1 — BFS hop
    distance), undirected.  Returns (id, distance) for reachable vertices.

    Pregel layout: frontier expansion per superstep; each superstep is one
    shuffle of the frontier against the (persisted) symmetric edge list.
    The frontier shrinks to the unseen boundary each step, so total work
    is O(E * diameter-fraction), not O(E * V).
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct().persist())
    dist = (sym.sparkSession.createDataFrame([(source, 0)], "id BIGINT, distance INT")
            .localCheckpoint(eager=True))
    frontier = dist
    # every checkpointed frame the current `dist` union still scans; at
    # each re-cut these become garbage and are released EXPLICITLY —
    # relying on driver GC + ContextCleaner would let per-hop frontier
    # blocks (memory+disk) pile up across a 100+-hop iteration
    pending: list[DataFrame] = [dist]
    for step in range(1, max_iterations + 1):
        # localCheckpoint EVERY step (not every N): the frontier plan
        # references dist twice (expand + anti-join), so without a cut the
        # logical plan DOUBLES per hop and Catalyst analysis goes
        # exponential even when every ancestor is cached (r2 verdict:
        # 4-hop 17 s -> 6-hop 456 s -> 12-hop never finishes).  After the
        # cut the plan is a constant-size LogicalRDD; eager=True also
        # materializes before the old blocks are released.
        new_frontier = (sym.join(frontier, sym.a == frontier.id)
                        .select(F.col("b").alias("id"))
                        .distinct()
                        .join(dist.select("id"), "id", "left_anti")
                        .withColumn("distance", F.lit(step))
                        .localCheckpoint(eager=True))
        if new_frontier.count() == 0:
            release_local_checkpoint(new_frontier)
            break
        # dist stays a linear union of checkpointed RDD scans — re-cut
        # every 8 hops so a 100+-hop diameter stays plannable
        new_dist = dist.unionByName(new_frontier)
        pending.append(new_frontier)
        if step % 8 == 0:
            new_dist = new_dist.localCheckpoint(eager=True)
            # the new cut owns its own blocks; free everything it
            # superseded except the live frontier (a localCheckpointed
            # frame cannot be recomputed once unpersisted)
            for f in pending:
                if f is not new_frontier:
                    release_local_checkpoint(f)
            pending = [new_dist, new_frontier]
        dist = new_dist
        frontier = new_frontier
    if len(pending) > 1:
        # the result owns one checkpoint: cut once more and release the
        # per-hop frames the union still scans
        dist = dist.localCheckpoint(eager=True)
        for f in pending:
            release_local_checkpoint(f)
    sym.unpersist()
    return dist


def label_propagation(edges: DataFrame, iterations: int = 3,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic label propagation (``library/LabelPropagation.java``
    semantics): each superstep every vertex adopts its neighbors' most
    frequent label, ties broken by the smallest label.  Fixed superstep
    count keeps the result deterministic and SQL-expressible (the oracle
    unrolls the same steps); Gelly likewise runs a caller-set iteration
    count.  Returns (id, label).
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct().persist())
    labels = sym.select(F.col("a").alias("id")).distinct() \
                .withColumn("label", F.col("id"))
    for _ in range(iterations):
        freq = (sym.join(labels, sym.b == labels.id)
                .groupBy(F.col("a").alias("vid"), "label")
                .agg(F.count(F.lit(1)).alias("cnt")))
        best = (freq.groupBy(F.col("vid").alias("id"))
                .agg(F.min(F.struct((-F.col("cnt")).alias("neg_cnt"),
                                    F.col("label").alias("label")))
                     .alias("top"))
                .select("id", F.col("top.label").alias("label")))
        labels = best
    sym.unpersist()
    return labels


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """PageRank, fixed iteration count (Gelly ``.../library/linkanalysis/
    PageRank.java`` semantics, symmetric-edge variant): pr(v) =
    (1-d)/N + d * sum over in-neighbors u of pr(u)/outdeg(u).  Edges are
    symmetrized so every vertex has out-degree >= 1 (no dangling mass).
    Returns (id, pagerank) rounded to 6 places.

    Each superstep = one join of the rank vector against the persisted
    edge list + an aggregate on dst — the rank vector (O(V)) is the only
    iterated state, never the edges.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct().persist())
    verts = sym.select(F.col("a").alias("id")).distinct().persist()
    n = verts.count()
    outdeg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("od"))
    pr = verts.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (sym.join(pr.withColumnRenamed("id", "a_id"),
                            sym.a == F.col("a_id"))
                   .join(outdeg.withColumnRenamed("id", "o_id"),
                         F.col("a_id") == F.col("o_id"))
                   .groupBy(F.col("b").alias("id"))
                   .agg(F.sum(F.col("pr") / F.col("od")).alias("s")))
        pr = (verts.join(contrib, "id", "left")
              .select("id",
                      (F.lit((1.0 - damping) / n)
                       + damping * F.coalesce("s", F.lit(0.0))).alias("pr")))
    out = pr.select("id", F.round("pr", 6).alias("pagerank"))
    sym.unpersist()
    return out


def jaccard_index(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Neighborhood Jaccard similarity (Gelly ``.../library/similarity/
    JaccardIndex.java``): for every vertex pair sharing at least one
    neighbor, |N(u) ∩ N(v)| / |N(u) ∪ N(v)| over the undirected graph.

    Wedge generation (two edges sharing a center) yields the shared-
    neighbor counts; degrees supply the union via inclusion-exclusion —
    no per-pair set materialization, so the shuffle volume is wedge
    count, not degree-squared strings.
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct())
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    shared = (e1.join(e2, (F.col("e1.a") == F.col("e2.a"))
                      & (F.col("e1.b") < F.col("e2.b")))
              .groupBy(F.col("e1.b").alias("u"), F.col("e2.b").alias("v"))
              .agg(F.count(F.lit(1)).alias("shared")))
    return (shared
            .join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
            .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
            .select("u", "v",
                    F.round(F.col("shared")
                            / (F.col("du") + F.col("dv") - F.col("shared")), 6)
                    .alias("jaccard")))


def hits(edges: DataFrame, iterations: int = 2,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """HITS hubs & authorities, fixed iteration count, unnormalized
    (Gelly ``.../library/linkanalysis/HITS.java`` semantics on the
    directed graph): a(v) = sum of h over in-neighbors; then h(u) = sum
    of a over out-neighbors.  Returns (id, hub, authority) rounded to 6.

    Same scale layout as PageRank: the O(V) score vector iterates
    against the persisted edge list; scores stay unnormalized so the
    oracle is exact integer-like arithmetic until the final rounding.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")) \
             .distinct().persist()
    verts = (e.select(F.col("s").alias("id"))
             .union(e.select(F.col("d").alias("id"))).distinct().persist())
    h = verts.withColumn("hub", F.lit(1.0))
    a = verts.withColumn("auth", F.lit(1.0))
    for _ in range(iterations):
        a = (verts.join(
                e.join(h.withColumnRenamed("id", "hid"),
                       e.s == F.col("hid"))
                 .groupBy(F.col("d").alias("id"))
                 .agg(F.sum("hub").alias("s_auth")),
                "id", "left")
             .select("id", F.coalesce("s_auth", F.lit(0.0)).alias("auth")))
        h = (verts.join(
                e.join(a.withColumnRenamed("id", "aid"),
                       e.d == F.col("aid"))
                 .groupBy(F.col("s").alias("id"))
                 .agg(F.sum("auth").alias("s_hub")),
                "id", "left")
             .select("id", F.coalesce("s_hub", F.lit(0.0)).alias("hub")))
    out = (h.join(a, "id")
           .select("id", F.round("hub", 6).alias("hub"),
                   F.round("auth", 6).alias("authority")))
    e.unpersist()
    return out


def local_clustering_coefficient(edges: DataFrame, src: str = "src",
                                 dst: str = "dst") -> DataFrame:
    """Local clustering coefficient (Gelly ``.../library/clustering/
    undirected/LocalClusteringCoefficient.java``): triangles(v) /
    C(deg(v), 2) — the fraction of a vertex's neighbor pairs that are
    themselves connected.  Vertices of degree < 2 score 0.
    """
    sym = (edges.select(F.least(src, dst).alias("a"),
                        F.greatest(src, dst).alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    deg = (sym.select(F.col("a").alias("id"))
           .union(sym.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    tri = triangle_count(edges, src, dst)
    return (deg.join(tri, "id", "left")
            .select("id",
                    F.round(F.when(F.col("d") < 2, F.lit(0.0))
                            .otherwise(F.coalesce("triangles", F.lit(0))
                                       / (F.col("d") * (F.col("d") - 1) / 2.0)),
                            6).alias("coefficient")))


def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Adamic-Adar similarity (Gelly ``.../library/similarity/
    AdamicAdar.java``): for each vertex pair, the sum of 1/ln(deg(w))
    over shared neighbors w — common neighbors weighted inversely by
    their popularity.  Same wedge layout as Jaccard; the weight rides
    the wedge row, so it is one extra join against degrees, not a
    per-pair set walk."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct())
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    e1 = sym.alias("e1")
    e2 = sym.alias("e2")
    wedges = (e1.join(e2, (F.col("e1.a") == F.col("e2.a"))
                      & (F.col("e1.b") < F.col("e2.b")))
              .select(F.col("e1.a").alias("w"),
                      F.col("e1.b").alias("u"), F.col("e2.b").alias("v")))
    return (wedges.join(deg.select(F.col("id").alias("w"),
                                   F.col("d").alias("dw")), "w")
            .filter(F.col("dw") >= 2)
            .groupBy("u", "v")
            .agg(F.round(F.sum(1.0 / F.log(F.col("dw"))), 6).alias("adamic_adar")))
