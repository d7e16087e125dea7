"""Graph algorithms over canonical nodes/edges DataFrames (tier C1-C6).

All algorithms take ``edges(src, dst, …)`` (+ optionally ``nodes``) and
return DataFrames; iterative ones are Python driver loops with per-step
``localCheckpoint``. BFS, Bellman-Ford and min-id flooding share the one
frontier loop in :mod:`.pregel`; the others still run their own.
Nothing here uses RDDs or UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_graphdb_spark.graph.pregel import _min_relax


def degrees(edges: DataFrame) -> DataFrame:
    """C1 — in/out/total degree per node id (one shuffle each side)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, on="id", how="full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 10,
    damping: float = 0.85,
    id_col: str = "node_id",
    sources: DataFrame | None = None,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """C2 — PageRank with dangling-mass redistribution.

    ``weight_col`` switches to WEIGHTED PageRank: a node's rank splits
    across its out-edges proportionally to the edge weight
    (``rank · w / Σ_out w``) instead of uniformly — the standard
    weighted-graph formulation; dangling = zero total out-weight. The
    superstep shape (one contribution shuffle, broadcast dangling mass)
    is identical.

    rank' = (1-d)·tele + d·(Σ incoming rank/out_deg + dangling·tele),
    where the teleport vector ``tele`` is uniform 1/N without
    ``sources`` (classic PageRank — the formula reduces to
    (1-d)/N + d·dm/N + d·Σcontrib) and uniform over the source set with
    it (personalized PageRank: all reset mass returns to the sources).
    One shuffle per iteration (the contribution aggregation); ranks table
    is checkpointed every step to cut lineage.

    Superstep count is ADAPTIVE, capped at ``max_iter``. Two exits:

    * exact stationarity (always on): if a superstep reproduces the
      previous ranks BIT-EXACTLY (``max |rank − prev| == 0.0`` over
      that one superstep), every further superstep would too (the
      update is a deterministic function of the ranks), so stopping is
      provably value-identical to the full ``max_iter`` unroll and the
      unrolled-CTE oracles stay valid. Checked every 4th superstep
      (exiting up to 3 supersteps past the fixpoint is value-identical
      by the same stationarity argument); the check's aggregate is the
      only job barrier in the loop, so the cadence makes one job cover
      four supersteps.
    * ``tol`` (opt-in, default off): additionally stop when
      ``max |Δrank| < tol`` — the practical production exit at scale
      (L∞ residual, the standard PageRank stopping rule). This is an
      approximation relative to the fixed unroll, so oracle-checked
      registry entries leave it ``None``.
    """
    # Every superstep joins `edges`; without this checkpoint the caller's
    # edge-construction chain (scans + unions + id hashing) re-executes
    # max_iter+1 times per run (out_deg + one join per superstep). One
    # lazy localCheckpoint makes all of them read materialized blocks
    # (guide §2.4/§5 — same fix as hits()).
    edges = edges.select(
        "src", "dst", *([weight_col] if weight_col is not None else [])
    ).localCheckpoint(eager=False)
    n_nodes = nodes.select(id_col).distinct().count()
    if weight_col is None:
        out_deg = edges.groupBy(F.col("src").alias(id_col)).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
    else:
        out_deg = edges.groupBy(F.col("src").alias(id_col)).agg(
            F.sum(F.col(weight_col).cast("double")).alias("out_deg")
        )
    base = (
        nodes.select(F.col(id_col))
        .distinct()
        .join(out_deg, on=id_col, how="left")
        .select(id_col, F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    )
    if sources is None:
        base = base.withColumn("tele", F.lit(1.0 / n_nodes))
    else:
        # denominator = sources PRESENT in the graph — counting absent
        # ids (typos, stale sets) would silently leak their share of the
        # teleport mass every iteration and deflate all ranks
        src = (
            sources.select(F.col(id_col))
            .distinct()
            .join(base.select(id_col), on=id_col, how="left_semi")
        )
        n_src = src.count()
        if n_src == 0:
            raise ValueError("sources must contain at least one node id present in nodes")
        base = base.join(
            F.broadcast(src.withColumn("_is_src", F.lit(True))), on=id_col, how="left"
        ).select(
            id_col,
            "out_deg",
            F.when(F.col("_is_src"), F.lit(1.0 / n_src)).otherwise(F.lit(0.0)).alias("tele"),
        )
    ranks = (
        base.withColumn("rank", F.col("tele")).repartition(id_col).localCheckpoint()
    )

    # Convergence-check cadence: the stationarity check is the ONLY
    # per-superstep driver action, and each action is a full job barrier
    # (plus its own agg stages). Checking every 4th superstep instead of
    # every superstep cannot change results — the exit fires only on a
    # proven fixpoint (see below), where every further superstep
    # reproduces the same ranks, so exiting up to 3 supersteps later is
    # value-identical by the same argument that justifies the exit at
    # all. The opt-in tol path needs its per-superstep residual, so it
    # keeps cadence 1. Measured 3.4s -> 2.6s for c87 at sf0.01,
    # bit-identical output.
    check_every = 1 if tol is not None else 4
    for _i in range(max_iter):
        # dangling mass stays a lazy 1-row aggregate broadcast into the
        # update — one Spark job per superstep, no driver-side collect
        dangling = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        per_edge = (
            (F.col("rank") / F.col("out_deg"))
            if weight_col is None
            else (
                F.col("rank")
                * F.col(weight_col).cast("double")
                / F.col("out_deg")
            )
        )
        contribs = (
            ranks.filter(F.col("out_deg") > 0)
            .join(edges, ranks[id_col] == edges["src"])
            .select(F.col("dst").alias(id_col), per_edge.alias("c"))
            .groupBy(id_col)
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            ranks.join(contribs, on=id_col, how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                id_col,
                "out_deg",
                "tele",
                F.col("rank").alias("_prev"),
                (
                    F.lit(1.0 - damping) * F.col("tele")
                    + F.lit(damping) * F.col("_dm") * F.col("tele")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
        # the cadence action materializes the lazy checkpoints of every
        # superstep since the last one AND folds the convergence evidence
        # (bit-exact checksum + L∞ delta) in the same job
        if (_i + 1) % check_every == 0 or _i == max_iter - 1:
            row = ranks.agg(
                F.count(F.lit(1)).alias("_n"),
                F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("_delta"),
            ).collect()[0]
            # exit ONLY on proven consecutive-state equality: _delta is
            # max |rank − _prev| over the LAST superstep, so 0.0 proves
            # rank(i) == rank(i−1) — a true fixpoint, where every further
            # superstep reproduces identical ranks and the early exit is
            # value-identical to the full unroll. (The previous
            # cadence-apart checksum comparison proved only
            # rank(i) == rank(i−4), which a floating-point limit cycle
            # near convergence could satisfy without being a fixpoint —
            # ADVICE r16.) An empty node set exits at the first check.
            if (
                row["_n"] == 0
                or row["_delta"] == 0.0
                or (tol is not None and row["_delta"] < tol)
            ):
                ranks = ranks.drop("_prev")
                break
        ranks = ranks.drop("_prev")
    return ranks.select(id_col, "rank")


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 10,
    damping: float = 0.85,
    id_col: str = "node_id",
) -> DataFrame:
    """C-tier extension — personalized PageRank: random walks restart at
    the source set instead of anywhere, so rank measures proximity to the
    sources (the standard recommendation / related-entities primitive).
    Same superstep loop and cost shape as :func:`pagerank`."""
    return pagerank(
        nodes, edges, max_iter=max_iter, damping=damping, id_col=id_col, sources=sources
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    id_col: str = "node_id",
    algorithm: str = "star",
) -> DataFrame:
    """C3 — undirected connected components.

    ``algorithm="star"`` (default): alternating large-star/small-star
    contraction — O(log n) rounds, the web-scale algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond"; PAPERS.md).
    ``algorithm="min_propagation"``: simple min-id flooding — O(diameter)
    rounds; kept as the differential-testing reference.

    Returns ``(id, comp)`` where ``comp`` is the component's minimum
    node id.
    """
    if algorithm == "star":
        return _cc_star(nodes, edges, max_iter=max_iter, id_col=id_col)
    return _cc_min_propagation(nodes, edges, max_iter=max_iter, id_col=id_col)


def _cc_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30, id_col: str = "node_id"
) -> DataFrame:
    """Large-star/small-star contraction.

    Each round:
      large-star — every node links its *larger* neighbors to its
      minimum neighborhood member;
      small-star — every node links its *smaller* neighbors (and itself)
      to the minimum.
    The edge list contracts toward a star forest rooted at component
    minima; rounds needed are O(log n) regardless of diameter (the
    100 TB upgrade over flooding: a path-shaped graph converges in ~log
    supersteps, not length supersteps). Each phase is one groupBy + one
    equi-join shuffle; the fixed point is detected with a cheap
    count+hash aggregate (one scalar collect per round).
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy: the first checksum action materializes it — one job fewer
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )
        # no distinct here: small_star's orient+distinct dedups anyway,
        # saving one shuffle per round
        return (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # no distinct on the oriented multiset: min() is duplicate-blind
        # and the final distinct canonicalizes the output set, so the
        # extra exchange per round (the dedup shuffle) buys nothing
        ori = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            ori.join(mins, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        self_links = mins.select(F.col("u"), F.col("m").alias("v"))
        return linked.unionByName(self_links).distinct()

    def checksum(e: DataFrame):
        # bit_xor is order-insensitive and can't overflow (ANSI mode
        # rejects a plain sum of 64-bit hashes)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # no standalone checksum of the input: round 0 always runs, and its
    # checksum job materializes both the input checkpoint and round 0's —
    # one action per round, none before the loop
    prev: tuple | None = None
    for _ in range(max_iter):
        # lazy checkpoint: the checksum action materializes it, so each
        # round is ONE Spark job (plan: 2 groupBy + 2 join shuffles)
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur

    # star forest: (child, root). Roots and isolated nodes map to self.
    comp = (
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .join(e.select(F.col("u").alias("id"), F.col("v").alias("_root")), on="id", how="left")
        .select("id", F.coalesce("_root", F.col("id")).alias("comp"))
    )
    return comp


def _cc_min_propagation(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20, id_col: str = "node_id"
) -> DataFrame:
    """Min-id flooding — O(diameter) supersteps; only the vertices whose
    label dropped last round send. Edges with an endpoint outside
    ``nodes`` carry nothing."""
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    e = (
        edges.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
    )
    und = e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return _min_relax(
        ids.withColumn("comp", F.col("id")), und, "comp", max_rounds=max_iter
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    id_col: str = "id",
) -> DataFrame:
    """C4 — unweighted BFS distances from a set of source node ids.

    Frontier expansion: dist' = min(dist, frontier ⋈ edges + 1) for at
    most ``max_hops`` rounds (:func:`.pregel._min_relax`).
    Bounded-depth — the engine's variable-length-path substrate
    (Cypher ``()-[*1..k]->()``).
    """
    seeds = sources.select(F.col(id_col).alias("id")).distinct()
    return _min_relax(
        seeds.withColumn("dist", F.lit(0)), edges, "dist",
        max_rounds=max_hops, addend=F.lit(1),
    )


def pairwise_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 64,
    id_col: str = "id",
) -> DataFrame:
    """Pairwise unweighted BFS ``(source, id, hops)`` with Cypher
    shortestPath's minimal length 1 — the ITERATIVE companion of the
    lazy a56 join ladder, used by the text front-end for unbounded
    ``shortestPath((a)-[:T*]->(b))``: level h holds the pairs FIRST
    reached in exactly h oriented steps (per-pair min of h over the
    frontier = first-reach level, identical to the ladder's
    ``min(hops)``), and the loop exits at the first
    empty frontier, so "unbounded" costs diameter rounds, not
    ``max_rounds`` (a runaway-cycle backstop, not a schedule).

    The (s, s, 0) seed pair is never emitted; a source re-reached
    through a cycle reports the cycle length — exactly the bounded
    ladder's semantics. State is |sources| × reachable pairs; at 100 TB
    batch the sources (same geometry as :func:`weighted_sssp`).
    An empty result keeps the ``(source, id, hops)`` schema.
    """
    seeds = sources.select(F.col(id_col).alias("source")).distinct()
    return _min_relax(
        seeds.select("source", F.col("source").alias("id"), F.lit(0).alias("hops")),
        edges, "hops", max_rounds=max_rounds, keys=("source",),
        addend=F.lit(1), emit_seeds=False,
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """C5 — global triangle count on the undirected simple graph.

    Schank's degree-ordered algorithm: orient every undirected edge from
    the lower to the higher endpoint under the total order
    ``(degree, id)``, generate wedges only at each edge's *lower* end,
    and close them against the oriented edge set. Every triangle is
    counted exactly once (its minimum-order vertex owns it), and the
    wedge fan-out per vertex is its *out*-degree under the orientation,
    which is O(sqrt(m)) — a hub with a million neighbors owns no wedges
    because nearly all its edges point toward it, so the self-join stays
    bounded on power-law graphs at 100× scale (the id-ordered variant
    explodes on exactly those hubs).
    """
    return _triangle_rows(edges).agg(F.count(F.lit(1)).alias("triangles"))


def _triangle_rows(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration (see :func:`triangle_count`):
    one row per closed triangle with its three corners (lo, y, z)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    ord_a = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    ord_b = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    a_first = ord_a < ord_b
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, ord_b).otherwise(ord_a).alias("hi_ord"),
    )
    w1 = oriented.select("lo", F.col("hi").alias("y"), F.col("hi_ord").alias("y_ord"))
    w2 = oriented.select("lo", F.col("hi").alias("z"), F.col("hi_ord").alias("z_ord"))
    wedges = w1.join(w2, on="lo").filter(F.col("y_ord") < F.col("z_ord"))
    close = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    return wedges.join(close, on=["y", "z"]).select("lo", "y", "z")


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """C40 — per-node triangle participation and local clustering
    coefficient ``lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` on the
    undirected simple graph (Watts-Strogatz local coefficient; deg < 2
    → 0.0 by convention).

    Reuses the degree-ordered enumeration of :func:`triangle_count` —
    each triangle materializes exactly once and then credits its three
    corners, so the only additions over the global count are a 3-way
    explode and one count shuffle. Inherits the O(sqrt(m)) wedge bound,
    which is precisely what keeps PER-NODE triangle counting alive on
    power-law graphs: the naive per-node wedge count explodes at hubs,
    the oriented one never generates their wedges.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    corners = (
        _triangle_rows(und.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        .select(F.explode(F.array("lo", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    filled = deg.join(corners, on="v", how="left").select(
        "v", "degree", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    lcc = F.when(
        F.col("degree") >= 2,
        F.lit(2.0)
        * F.col("triangles")
        / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    return filled.select("v", "degree", "triangles", lcc.alias("lcc"))


def label_propagation(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 5, id_col: str = "node_id"
) -> DataFrame:
    """C6 — community detection by synchronous label propagation: each
    superstep a node adopts the most frequent neighbor label (ties → min
    label, deterministic)."""
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        nodes.select(F.col(id_col).alias("id")).distinct().withColumn("lbl", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        neigh = (
            labels.join(und, labels["id"] == und["src"])
            .select(F.col("dst").alias("id"), F.col("lbl"))
            .groupBy("id", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # most-frequent neighbor label, ties broken by smallest label
        best = neigh.groupBy("id").agg(
            F.expr("min_by(lbl, struct(-n, lbl))").alias("new_lbl")
        )
        labels = (
            labels.join(best, on="id", how="left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("lbl"))
            .localCheckpoint()
        )
    return labels


def k_core(edges: DataFrame, k: int, max_rounds: int = 8) -> DataFrame:
    """C-tier extension — k-core decomposition by synchronous peeling:
    each round drops every node whose degree *within the surviving
    subgraph* is < k; survivors of round R are exactly the k-core once a
    round removes nothing. Returns ``(id, degree)`` — degree measured in
    the subgraph the final filter saw.

    Peeling converges in "degeneracy depth" rounds (small on real
    graphs); each round is two semi-joins + one ``groupBy(node)``
    shuffle over the *shrinking* survivor edge set, with the same
    one-action-per-round lazy-checkpoint discipline as
    ``connected_components`` (stacked unexecuted supersteps blow up
    Catalyst re-optimization super-linearly). Early-exit when a round's
    survivor count is unchanged — at that fixpoint extra rounds are
    no-ops, so the early exit is value-identical to a fixed-round
    unroll (what the SQL oracle runs).
    """
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    alive = sym.select(F.col("src").alias("id")).distinct()
    prev_n = None
    out = alive.withColumn("degree", F.lit(0).cast("long"))
    for _ in range(max_rounds):
        surv = sym.join(
            alive.select(F.col("id").alias("src")), on="src", how="left_semi"
        ).join(alive.select(F.col("id").alias("dst")), on="dst", how="left_semi")
        deg = surv.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        out = deg.filter(F.col("degree") >= k).localCheckpoint(eager=False)
        n = out.count()  # the ONE action per round; materializes the checkpoint
        if n == prev_n:
            break
        prev_n = n
        alive = out.select("id")
    return out


def luby_mis(
    edges: DataFrame, rounds: int = 8, hash_mode: str = "xxhash64"
) -> DataFrame:
    """C-tier extension — deterministic Luby maximal independent set:
    the classic parallel MIS (Luby 1986) with the random priority
    replaced by ``xxhash64(node)``, so every engine elects the identical
    set. Each synchronous round, an undecided node joins the MIS iff
    its priority is a STRICT minimum over its undecided neighbors (or
    it has none); undecided neighbors of new members become excluded.
    Exactly ``rounds`` rounds run (the SQL oracle unrolls the same
    count), with an early exit once no node is undecided — value-
    identical, since rounds after that fixpoint are no-ops. Returns
    ``(node, state)`` with state ∈ mis | excluded | undecided; a hash
    collision between adjacent undecided nodes leaves both undecided
    (neither is a strict minimum) — the same verdict on every engine,
    which is what the oracle needs (ties resolve identically, not
    "fairly").

    Scale shape: per round, two semi-joins restrict the edge set to the
    shrinking undecided subgraph, one map-side-combinable
    ``groupBy(src).min(prio)`` finds neighbor minima, and membership/
    exclusion flow back through hash joins — no windows, no sorts, no
    driver-side state beyond one count per round (the k_core
    one-action-per-round lazy-checkpoint discipline). Luby's analysis
    kills a constant fraction of edges per round in expectation, so 8
    rounds decide virtually every node at any scale.

    ``hash_mode`` picks the priority hash: ``xxhash64`` (production,
    JVM-side) or ``md5_60`` (the dedup module's cross-engine hex-fold,
    reproducible digit-for-digit in plain SQL — what the driver oracle
    replays).
    """
    from neo4j_graphdb_spark.operators.dedup import _base_hash

    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("prio", _base_hash(F.col("node").cast("string"), hash_mode))
    )
    state = nodes.withColumn("st", F.lit("u"))
    for _ in range(rounds):
        und = state.filter(F.col("st") == "u").select("node", "prio")
        if und.limit(1).count() == 0:
            break
        eu = sym.join(
            und.select(F.col("node").alias("src")), on="src", how="left_semi"
        ).join(und.select(F.col("node").alias("dst")), on="dst", how="left_semi")
        nmin = (
            eu.join(
                und.select(F.col("node").alias("dst"), F.col("prio").alias("_dp")),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("_dp").alias("_nmin"))
        )
        mis = (
            und.join(nmin, on="node", how="left")
            .filter(F.col("_nmin").isNull() | (F.col("prio") < F.col("_nmin")))
            .select("node")
        )
        excl = (
            eu.join(mis.select(F.col("node").alias("src")), on="src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        state = (
            state.join(mis.withColumn("_m", F.lit(1)), on="node", how="left")
            .join(excl.withColumn("_x", F.lit(1)), on="node", how="left")
            .select(
                "node",
                "prio",
                F.when(F.col("st") != "u", F.col("st"))
                .when(F.col("_m").isNotNull(), F.lit("m"))
                .when(F.col("_x").isNotNull(), F.lit("x"))
                .otherwise(F.lit("u"))
                .alias("st"),
            )
            .localCheckpoint(eager=False)
        )
    return state.select(
        "node",
        F.when(F.col("st") == "m", F.lit("mis"))
        .when(F.col("st") == "x", F.lit("excluded"))
        .otherwise(F.lit("undecided"))
        .alias("state"),
    )


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 8,
    id_col: str = "id",
    weight_col: str = "weight",
) -> DataFrame:
    """C-tier extension — single-source(-set) weighted shortest paths by
    synchronous Bellman-Ford supersteps,
    ``dist' = min(dist, min over (u,v,w) of dist[u] + w)``; after i
    rounds every ≤i-edge shortest path is exact. Only the vertices whose
    distance dropped last round send (the others already relaxed their
    out-edges, so the round-i answer is unchanged), and the loop exits
    when a round improves no vertex — the count of improved rows that is
    the round's one Spark action.

    Non-negative weights assumed (no negative-cycle detection — this is
    the Cypher ``shortestPath`` with cost substrate, not a finance
    engine). A vertex reached only over null weights is listed with a
    null distance. Each superstep is one join (frontier ⋈ edges) and one
    ``groupBy(id).min`` over the dist table and the messages — keyed
    shuffles on node id, no broadcast of anything growing, so the
    100×-scale story is the standard Pregel one: O(diameter) rounds of
    at most O(|E|) work.
    """
    seeds = sources.select(F.col(id_col).alias("id")).distinct()
    return _min_relax(
        seeds.withColumn("dist", F.lit(0.0)), edges, "dist",
        max_rounds=max_iter, addend=F.col(weight_col).cast("double"),
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 6,
    id_col: str = "node_id",
    tol: float | None = None,
) -> DataFrame:
    """C36 — HITS hubs & authorities (Kleinberg): after ``max_iter``
    supersteps of ``auth = Eᵀ·hub``, ``hub = E·auth``, both vectors are
    L2-normalized. The reference exposes no graph analytics at all (its
    queries stop at 1-hop expands, /root/reference/cypher.txt:4-8); this
    is a BASELINE.json north-star extension next to PageRank.

    The power iteration runs RAW and normalizes once at the end — HITS
    is scale-invariant, so per-superstep normalization only guards
    against overflow, and raw scores stay well inside double range until
    the per-step growth factor ``λ(EEᵀ)^max_iter`` approaches ~1e300
    (λ ~ the largest in-degree; at λ=10^6 that is 50+ supersteps).
    Dropping it removes the per-step zero-fill join and the norm
    broadcast: each superstep is exactly TWO key-partitioned
    aggregations (the Eᵀ·hub and E·auth shuffles), lazily checkpointed
    to cut lineage, with no barrier action between supersteps — measured
    ~2× faster than the normalize-every-step loop at sf0.1. Nodes
    without in/out edges re-enter with score 0 in the terminal fill; the
    two norms are ONE 1-row aggregate broadcast into the final
    projection, so there is no driver-side collect anywhere. Fixed
    ``max_iter`` keeps the operator oracle-expressible as unrolled CTEs.

    ``tol`` (opt-in, default off) makes the superstep count ADAPTIVE,
    capped at ``max_iter``: stop once the L∞ delta of the NORMALIZED
    hub vector between supersteps falls under ``tol`` (raw scores grow
    by λ(EEᵀ) each round, so convergence must be measured on the
    normalized direction — the standard power-iteration stopping rule).
    The residual check costs one extra 1-row aggregate per superstep
    (norm broadcast + join on the previous checkpointed hub), which is
    why it is opt-in: at a fixed small ``max_iter`` the fixed unroll is
    cheaper AND stays value-identical to the unrolled-CTE oracle, while
    a 100×-scale run with ``max_iter=50`` wants the early exit.
    """
    # The superstep joins re-read `edges` 2·max_iter times; without this
    # checkpoint every half-step re-executes the caller's whole edge
    # CONSTRUCTION chain (scans + unions + hashing) — at scale that is
    # 2·max_iter full input passes for one pass of real work. One lazy
    # checkpoint makes every superstep read the materialized edge blocks
    # instead (guide §2.4/§5; measured 6.2s → 3.5s for c36 at sf0.1).
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    base = nodes.select(F.col(id_col)).distinct()
    hub = base.select(id_col, F.lit(1.0).alias("hub"))
    auth = None
    prev_hub = None
    for _i in range(max_iter):
        # Checkpoint cadence: every superstep when the adaptive-tol path
        # is on (its residual joins re-read prev hubs), every THIRD
        # superstep otherwise. Each localCheckpoint materializes a
        # node-sized vector into the block manager; a 3-superstep plan
        # segment is still tiny for Catalyst, and skipping 2 of every 3
        # materializations measured 3.5s → 2.7s for c36 at sf0.1 with
        # bit-identical output (the plan is the same arithmetic, just
        # fused into longer codegen spans).
        _cut = tol is not None or _i % 3 == 2 or _i == max_iter - 1
        auth = (
            edges.join(
                hub.select(F.col(id_col).alias("_k"), "hub"),
                edges["src"] == F.col("_k"),
            )
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.sum("hub").alias("auth"))
        )
        if _cut:
            auth = auth.localCheckpoint(eager=False)
        hub = (
            edges.join(
                auth.select(F.col(id_col).alias("_k"), "auth"),
                edges["dst"] == F.col("_k"),
            )
            .groupBy(F.col("src").alias(id_col))
            .agg(F.sum("auth").alias("hub"))
        )
        if _cut:
            hub = hub.localCheckpoint(eager=False)
        if tol is not None:
            if prev_hub is not None:
                norms2 = hub.agg(
                    F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("_n2")
                )
                prev_n = prev_hub.agg(
                    F.sqrt(F.sum(F.col("_ph") * F.col("_ph"))).alias("_n1")
                )
                row = (
                    hub.join(prev_hub, on=id_col, how="outer")
                    .crossJoin(F.broadcast(norms2))
                    .crossJoin(F.broadcast(prev_n))
                    .agg(
                        F.max(
                            F.abs(
                                F.coalesce(F.col("hub"), F.lit(0.0)) / F.col("_n2")
                                - F.coalesce(F.col("_ph"), F.lit(0.0)) / F.col("_n1")
                            )
                        ).alias("_delta")
                    )
                    .collect()[0]
                )
                if row["_delta"] is not None and row["_delta"] < tol:
                    break
            prev_hub = hub.select(id_col, F.col("hub").alias("_ph"))
    filled = (
        base.join(hub, on=id_col, how="left")
        .join(auth, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
    norms = filled.agg(
        F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("_nh"),
        F.sqrt(F.sum(F.col("auth") * F.col("auth"))).alias("_na"),
    )
    return filled.crossJoin(F.broadcast(norms)).select(
        id_col,
        F.when(F.col("_nh") > 0, F.col("hub") / F.col("_nh"))
        .otherwise(F.lit(0.0))
        .alias("hub"),
        F.when(F.col("_na") > 0, F.col("auth") / F.col("_na"))
        .otherwise(F.lit(0.0))
        .alias("auth"),
    )


def capped_distinct_edges(edges: DataFrame, degree_cap: int | None) -> DataFrame:
    """Distinct (src, dst) edges with hot destination nodes dropped: a
    dst whose in-degree exceeds ``degree_cap`` is removed from the edge
    set (the GDS ``degreeCutoff`` guard). This runs BEFORE any
    wedge/pair join, so the exploded candidate stream is bounded at
    cap² pairs per shared neighbor — the difference between Σ deg² with
    deg ≤ cap and an unbounded viral-key blow-up at 100× scale.

    The guard is a BROADCAST LEFT ANTI join against the OVER-cap set:
    the hot list is small *by construction* at any scale (a power-law
    tail has few keys above any fixed cap — 637 of 20k parts at sf0.1),
    so the exclusion costs the edge side no shuffle at all, where the
    keep-list semi-join variant would shuffle-join against a table the
    size of the key universe. The distinct exchange is shared with the
    hot-set aggregation via Spark's ReuseExchange (identical subplans).
    ``None`` skips the guard (exact mode)."""
    e = edges.select("src", "dst").distinct()
    if degree_cap is None:
        return e
    hot = (
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > degree_cap)
        .select("dst")
    )
    return e.join(F.broadcast(hot), on="dst", how="left_anti")


def node_similarity(
    edges: DataFrame,
    top_k: int = 5,
    degree_cap: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """C37 — top-k Jaccard node similarity (Neo4j GDS ``nodeSimilarity``):
    for every source node, the ``top_k`` other sources with the highest
    Jaccard overlap of out-neighbor sets, ties broken by neighbor id.
    The reference exposes nothing beyond 1-hop expands
    (/root/reference/cypher.txt:4-8); this is the BASELINE.json
    north-star recommendation primitive ("customers who bought similar
    parts").

    Shape: candidate pairs come ONLY from co-occurrence on a shared
    neighbor (one equi-join on the neighbor id) — node pairs with empty
    intersection are never materialized, which is what makes this
    tractable where the all-pairs matrix is not. The co-occurrence join
    and its pair aggregation run over the NARROW (a, b) rows only;
    degrees join onto the aggregated pair table afterwards, which is
    orders of magnitude smaller than the exploded wedge stream (the
    measured alternative — carrying degree columns through the wedge
    shuffle — doubled the shuffle width and was ~3× slower end-to-end).
    Cost is Σ_nbr deg(nbr)² pair partials: a viral neighbor with 10^6
    owners would contribute 10^12 pairs, so at scale you pass
    ``degree_cap`` to drop neighbors above the cap from the candidate
    generation (the GDS ``degreeCutoff`` move — a documented
    approximation; similarity among a hub's co-owners is dominated by
    their OTHER shared neighbors anyway).
    """
    e = capped_distinct_edges(edges, degree_cap)
    e = e.localCheckpoint(eager=False)  # reused by both join sides + deg
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    lhs = e.select(F.col("src").alias("a"), "dst")
    rhs = e.select(F.col("src").alias("b"), "dst")
    # ordered wedges only — halves the exploded stream and the pair
    # aggregation; the mirror orientation is restored on the (much
    # smaller) aggregated pair table, jaccard being symmetric
    half = (
        lhs.join(rhs, on="dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    # degrees attach (broadcast — one row per node, dwarfed by the pair
    # table) and jaccard evaluates BEFORE mirroring, so the expensive
    # wedge aggregation runs on the a<b half only
    bdeg = F.broadcast(deg)
    # GDS similarity trio over the same wedge substrate (all symmetric,
    # so the a<b half-computation + mirror trick holds for each):
    #   jaccard  |∩| / |∪|          — the default
    #   overlap  |∩| / min(da, db)  — subset/containment flavor
    #   cosine   |∩| / √(da·db)     — binary-vector cosine
    if metric == "jaccard":
        score = F.col("_inter") / (
            F.col("_da") + F.col("_db") - F.col("_inter")
        ).cast("double")
    elif metric == "overlap":
        score = F.col("_inter") / F.least("_da", "_db").cast("double")
    elif metric == "cosine":
        score = F.col("_inter") / F.sqrt(
            F.col("_da").cast("double") * F.col("_db")
        )
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    jhalf = (
        half.join(bdeg.select(F.col("src").alias("a"), F.col("_deg").alias("_da")), on="a")
        .join(bdeg.select(F.col("src").alias("b"), F.col("_deg").alias("_db")), on="b")
        .select("a", "b", score.alias("jaccard"))
    )
    # mirror in ONE pass: each a<b row explodes into both orientations
    # inside the same codegen stage. The previous union-of-two-reads
    # needed a localCheckpoint of the full pair table (Σ wedge pairs —
    # 8M rows at sf0.1) to avoid recomputing the wedge chain twice;
    # materializing that into the block manager cost more than the
    # window it fed (measured 8.7s → 5.9s for c37 end-to-end) and its
    # blocks lingered as GC pressure for the rest of the session.
    jac = jhalf.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("a"), F.col("b").alias("b"), F.col("jaccard")
                ),
                F.struct(
                    F.col("b").alias("a"), F.col("a").alias("b"), F.col("jaccard")
                ),
            )
        ).alias("_p")
    ).select("_p.*")
    w = Window.partitionBy("a").orderBy(F.col("jaccard").desc(), F.col("b").asc())
    return (
        jac.select("a", "b", "jaccard", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= top_k)
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    n_steps: int = 4,
    id_col: str = "node_id",
) -> DataFrame:
    """C38 — deterministic uniform random walks (node2vec with p=q=1 /
    Pixie-style recommendation walks): one walk per ``starts`` row, each
    step moving to a uniformly-chosen out-neighbor. "Random" is a pure
    hash — step i from node v in walk w picks neighbor index
    ``md5(w:i:v) mod out_deg(v)`` — so the operator is reproducible
    across runs/partitionings and value-checkable against an oracle that
    replays the same hash; there is no RNG state to coordinate across
    1000 executors. A walk ends early at a node with no out-neighbors
    (the step join is inner).

    Shape: the adjacency gets a per-source neighbor index once (one
    window over src, checkpointed, reused by every step); each step is
    then a single equi-join of the constant-size walk frontier against
    adjacency on (node, chosen index) — cost is O(walks) per step,
    independent of graph size, the property that makes hash-walks viable
    on web-scale graphs.

    Returns (walk_id, step, node) with step 0 = the start node.
    """
    w_src = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select("src", "dst")
        .distinct()
        .select(
            "src",
            "dst",
            (F.row_number().over(w_src) - 1).alias("_idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("_deg"),
        )
        .localCheckpoint(eager=False)
    )
    frontier = starts.select(
        F.col(id_col).cast("string").alias("walk_id"),
        F.col(id_col).cast("string").alias("node"),
    )
    levels = [frontier.select("walk_id", F.lit(0).alias("step"), "node")]
    for i in range(1, n_steps + 1):
        pick = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("walk_id"), F.lit(str(i)), F.col("node"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.col("_deg"),
        )
        frontier = frontier.join(
            adj, (adj["src"] == F.col("node")) & (adj["_idx"] == pick)
        ).select("walk_id", F.col("dst").alias("node"))
        levels.append(frontier.select("walk_id", F.lit(i).alias("step"), "node"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _landmark_distances(
    edges: DataFrame,
    n_landmarks: int,
    max_hops: int,
) -> DataFrame:
    """Multi-source BFS state shared by the landmark centralities:
    ``(lm, id, dist)`` min-distances from the ``n_landmarks`` nodes with
    the smallest ``md5(id)`` (deterministic, RNG-free, replayable in the
    SQL oracles). O(V · k) rows; each round is one frontier⋈edges
    shuffle plus a merge into the visited set."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    landmarks = (
        nodes.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_landmarks)
        .select(F.col("id").alias("lm"))
    )
    return _min_relax(
        landmarks.select("lm", F.col("lm").alias("id"), F.lit(0).alias("dist")),
        edges, "dist", max_rounds=max_hops, keys=("lm",), addend=F.lit(1),
    )


def landmark_closeness(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 4,
) -> DataFrame:
    """C44 — harmonic closeness centrality against a deterministic
    landmark sample (the scalable stand-in for exact all-pairs
    closeness, which is O(V·E) and off the table at 100 TB; landmark /
    pivot closeness is the standard approximation — Eppstein–Wang).
    The reference exposes nothing beyond 1-hop expands
    (/root/reference/cypher.txt:4-8); this is a BASELINE.json
    graph-analytics extension.

    Landmarks are the ``n_landmarks`` nodes with the smallest
    ``md5(id)`` — a deterministic, uniformly-spread sample that needs no
    RNG state and replays bit-identically in the SQL oracle. The BFS
    carries ``(landmark, node, dist)`` state — O(V · k) rows, k fixed —
    and each round is one frontier⋈edges shuffle plus a merge into the
    visited set, the same bounded-frontier loop as
    :func:`shortest_paths`.

    Returns ``(id, n_reached, harmonic_x12)`` for every node that
    reaches ≥1 landmark: ``n_reached`` landmarks reached and the
    harmonic sum ``Σ 1/dist`` scaled by 12 (the LCM of hop counts
    1..4), which makes it an exact integer — no floating-point
    round-trip to disagree with the oracle about. Callers wanting the
    conventional value divide by 12.
    """
    if max_hops > 4:
        raise ValueError("harmonic_x12 scaling is exact only for dist <= 4")
    dist = _landmark_distances(edges, n_landmarks, max_hops)
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr("12 div dist")).alias("harmonic_x12"),
        )
    )


def landmark_betweenness(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 4,
) -> DataFrame:
    """C46 — landmark betweenness: for every node v, the number of
    unordered landmark pairs (s, t) with a shortest path through v —
    the sampled-pair stand-in for exact Brandes betweenness (O(V·E),
    off the table at 100 TB; pair-sampling is the standard estimator —
    Brandes–Pich). Same BASELINE.json graph-analytics tier as
    :func:`landmark_closeness`, and the same single multi-source BFS
    supplies all inputs.

    The test is the metric characterization of intermediacy:
    ``dist(s,v) + dist(v,t) = dist(s,t)`` with v ∉ {s, t} — v lies on
    at least one shortest s–t path. (Exact Brandes apportions σ-path
    fractions; the indicator count is the documented approximation
    here, monotone in the same ordering for unique-shortest-path
    graphs.) Shape: the BFS state self-joins on the node id — O(V·k²)
    rows, k fixed — against a broadcast k×k landmark-pair distance
    table; no all-pairs anything.

    Returns ``(id, betweenness)`` for nodes on ≥1 landmark-pair
    shortest path. Pairs whose endpoints never meet within ``max_hops``
    contribute nothing.
    """
    dist = _landmark_distances(edges, n_landmarks, max_hops)
    # k×k landmark-pair distances: BFS rows whose node is itself a landmark
    lm_ids = dist.filter(F.col("dist") == 0).select(F.col("lm").alias("_t"))
    pair_d = F.broadcast(
        dist.join(lm_ids, dist["id"] == F.col("_t"), "left_semi")
        .filter(F.col("lm") < F.col("id"))
        .select(F.col("lm").alias("_s"), F.col("id").alias("_t"), F.col("dist").alias("_dst"))
    )
    sv = dist.select(F.col("lm").alias("_s"), "id", F.col("dist").alias("_dsv"))
    tv = dist.select(F.col("lm").alias("_t"), "id", F.col("dist").alias("_dtv"))
    return (
        sv.join(tv, on="id")
        .filter(F.col("_s") < F.col("_t"))
        .join(pair_d, on=["_s", "_t"])
        .filter(
            (F.col("_dsv") + F.col("_dtv") == F.col("_dst"))
            & (F.col("_dsv") > 0)
            & (F.col("_dtv") > 0)
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("betweenness"))
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """C45 — skip-gram (center, context) training-pair extraction from
    walk traces — the DeepWalk/node2vec example generator that turns
    :func:`random_walks` output into embedding-training data (the
    LLM-data-pipeline bridge: same shape as text token windows).

    One self-join keyed on ``walk_id`` with ``0 < |Δstep| ≤ window``:
    the key bounds per-row fan-out at ``2·window``, so the join output
    is O(walks · steps · window) regardless of graph size, and the
    aggregation to ``(center, context, n_pairs)`` collapses repeated
    co-visits map-side before the final shuffle.
    """
    a = walks.select(
        F.col("walk_id").alias("_w"), F.col("step").alias("_i"), F.col("node").alias("center")
    )
    b = walks.select(
        F.col("walk_id").alias("_w"), F.col("step").alias("_j"), F.col("node").alias("context")
    )
    return (
        a.join(b, on="_w")
        .filter(
            (F.col("_i") != F.col("_j"))
            & (F.abs(F.col("_i") - F.col("_j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    id_col: str = "id",
    label_col: str = "lbl",
) -> DataFrame:
    """C47 — Newman modularity of a community assignment (the quality
    score for :func:`label_propagation` / :func:`connected_components`
    output; Neo4j GDS exposes the same as ``modularity``). One row:
    ``(m, n_communities, intra_edges, modularity)``.

    Exactness: Q = Σ_c [L_c/m − (d_c/2m)²] is evaluated as
    ``(4·m·ΣL_c − Σd_c²) / (4·m²)`` — every aggregate is an exact
    integer and the single final division is IEEE-correctly-rounded, so
    the value is bit-identical across engines and partitionings (no
    order-dependent float summation). The integer products stay inside
    a long for m ≲ 10⁹ edges; past that, scale per-community first.

    Shape: canonicalize undirected edges once (least/greatest +
    distinct), tag both endpoints with their community (two equi-joins
    on the assignment table), aggregate — no iteration, no driver-side
    data, and the 1-row global aggregates meet via broadcast crossJoin
    (the corpus-stats pattern of functions/text.py).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ca = communities.select(F.col(id_col).alias("a"), F.col(label_col).alias("_la"))
    cb = communities.select(F.col(id_col).alias("b"), F.col(label_col).alias("_lb"))
    intra = (
        e.join(ca, on="a")
        .join(cb, on="b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("_lbl"))
        .agg(F.count(F.lit(1)).alias("_lc"))
    )
    deg = (
        e.select(F.col("a").alias("_id"))
        .unionByName(e.select(F.col("b").alias("_id")))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    dsum = (
        deg.join(
            communities.select(
                F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl")
            ),
            on="_id",
        )
        .groupBy("_lbl")
        .agg(F.sum("_deg").alias("_dc"))
    )
    percomm = dsum.join(intra, on="_lbl", how="left").fillna(0, subset=["_lc"])
    g = percomm.agg(
        F.sum("_lc").alias("_s1"),
        F.sum(F.col("_dc") * F.col("_dc")).alias("_s2"),
    )
    m1 = e.agg(F.count(F.lit(1)).alias("m"))
    ncomm = communities.agg(F.countDistinct(label_col).alias("n_communities"))
    return (
        g.crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(ncomm))
        .select(
            "m",
            "n_communities",
            F.col("_s1").alias("intra_edges"),
            (
                (4 * F.col("m") * F.col("_s1") - F.col("_s2"))
                / (4.0 * F.col("m") * F.col("m"))
            ).alias("modularity"),
        )
    )


def neighbor_degree_stats(edges: DataFrame) -> DataFrame:
    """C52 — per-node neighbor-degree aggregation (mean/max neighbor
    degree) on the symmetrized graph — the assortativity building block
    and the classic one-hop feature-engineering pass (a node's "how
    connected are my neighbors" signal for ML feature tables).

    Two shuffles total: the degree aggregation, then one join of the
    edge list against the degree table (dimension-sized — broadcasts on
    most graphs) feeding the per-node re-aggregation. Means divide two
    exact integers, so the values are deterministic across engines.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy(F.col("src").alias("_id")).agg(F.count(F.lit(1)).alias("_deg"))
    return (
        e.join(deg.select(F.col("_id").alias("dst"), F.col("_deg").alias("_nd")), on="dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("degree"),
            F.round(F.sum("_nd") / F.count(F.lit(1)), 6).alias("mean_nbr_degree"),
            F.max("_nd").cast("bigint").alias("max_nbr_degree"),
        )
    )


def landmark_eccentricity(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_hops: int = 4,
) -> DataFrame:
    """C58 — per-node eccentricity lower bounds from the landmark BFS
    (max distance to any reached landmark); the max over all nodes
    lower-bounds the graph diameter — the standard cheap diameter
    estimate (iFUB's starting bound) at O(V·k) state, where the exact
    eccentricity is all-pairs and off the table. Shares
    :func:`_landmark_distances` with closeness/betweenness — one BFS
    feeds three centralities.

    Returns ``(id, n_reached, ecc_lb)``.
    """
    dist = _landmark_distances(edges, n_landmarks, max_hops)
    return dist.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.max("dist").cast("bigint").alias("ecc_lb"),
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """C62 — log2-binned degree distribution: the first profiling look
    at any graph (a straight line over these bins ≈ power law; a bulge
    says hubs or near-bipartite structure — which decides skew
    strategy for every downstream join). Bin = ⌊log2(degree)⌋ computed
    as binary-digit count minus one — integer string algebra, not
    floating log, so bin edges are exact and engine-agnostic
    (``log(8)/log(2)`` can land below 3.0 in IEEE and misbin every
    power of two).

    Returns ``(bin, n_nodes, min_degree, max_degree)``.
    """
    d = degrees(edges)
    bin_col = (
        F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1
    ).cast("bigint")
    return (
        d.filter(F.col("degree") > 0)
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    top_k: int = 5,
    degree_cap: int | None = None,
) -> DataFrame:
    """C65 — Adamic–Adar link prediction (Neo4j GDS
    ``linkPrediction.adamicAdar``): score candidate pairs by
    ``Σ_z 1/ln(deg(z))`` over shared neighbors z — rare shared
    neighbors say more than popular ones, the refinement plain
    common-neighbor counting lacks.

    Same ordered-wedge candidate generation as :func:`node_similarity`
    (pairs exist only via a shared neighbor; ``degree_cap`` drops hub
    centers at scale), but the per-center weight joins in from the
    BROADCAST center-weight dimension during the wedge join — the wide
    wedge stream never carries more than (a, b, weight). Centers with
    one neighbor produce no wedges; ln is safe.

    Returns per-source top-k ``(a, b, aa_score, rank)``.
    """
    e = edges.select("src", "dst").distinct()
    if degree_cap is not None:
        keep = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("_nd"))
            .filter(F.col("_nd") <= degree_cap)
            .select("dst")
        )
        e = e.join(keep, on="dst", how="left_semi")
    e = e.localCheckpoint(eager=False)
    wdst = F.broadcast(
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .filter(F.col("_deg") >= 2)
        .select("dst", (1.0 / F.log(F.col("_deg").cast("double"))).alias("_w"))
    )
    lhs = e.select(F.col("src").alias("a"), "dst")
    rhs = e.select(F.col("src").alias("b"), "dst")
    half = (
        lhs.join(rhs, on="dst")
        .filter(F.col("a") < F.col("b"))
        .join(wdst, on="dst")
        .groupBy("a", "b")
        .agg(F.sum("_w").alias("aa"))
        .localCheckpoint(eager=False)
    )
    pairs = half.unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"), "aa")
    )
    # rank on the ROUNDED score: float sums can sit an ulp apart between
    # engines, and ranking raw values would let near-ties order
    # differently per engine; the quantized key + id tiebreak is stable
    scored = pairs.select("a", "b", F.round("aa", 6).alias("aa_score"))
    w = Window.partitionBy("a").orderBy(F.col("aa_score").desc(), F.col("b").asc())
    return scored.select(
        "a", "b", "aa_score", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= top_k)


def hierarchy_flatten(
    parents: DataFrame,
    rounds: int = 6,
    id_col: str = "id",
    parent_col: str = "parent",
) -> DataFrame:
    """Flatten a forest into ``(id, root, depth, path)`` by pointer
    doubling — the bulk-synchronous transform of a recursive CTE.

    ``parents(id, parent)``: one row per node; roots carry a NULL parent
    (or point to themselves). Each round every node's ancestor pointer
    jumps to its ancestor's ancestor, so after r rounds it has advanced
    ``min(2^r, depth)`` levels: ``ceil(log2(max_depth))`` self-joins
    replace ``max_depth`` sequential ones. That is the at-scale win —
    a 100-TB hierarchy 4 000 deep resolves in 12 shuffles, not 4 000 —
    and each shuffle is the state table keyed on the current pointer
    (two columns + the growing path array), never the input re-scanned.

    ``path`` lists the ancestors strictly above the node, nearest first,
    ending at the root; doubling concatenates sub-paths associatively so
    the result is exact, not just the endpoints. ``rounds`` must satisfy
    ``2^rounds >= max depth`` — overshooting is harmless (the root's
    self-loop is a fixpoint: d=0, empty path).
    """
    state = parents.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
        F.when(
            F.col(parent_col).isNull() | (F.col(parent_col) == F.col(id_col)),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("d"),
        F.when(
            F.col(parent_col).isNull() | (F.col(parent_col) == F.col(id_col)),
            F.array().cast("array<bigint>"),
        )
        .otherwise(F.array(F.col(parent_col).cast("bigint")))
        .alias("path"),
    )
    for _ in range(rounds):
        hop = state.select(
            F.col("id").alias("_hid"),
            F.col("anc").alias("_hanc"),
            F.col("d").alias("_hd"),
            F.col("path").alias("_hpath"),
        )
        state = (
            state.join(hop, state["anc"] == hop["_hid"])
            .select(
                "id",
                F.col("_hanc").alias("anc"),
                (F.col("d") + F.col("_hd")).alias("d"),
                F.concat(F.col("path"), F.col("_hpath")).alias("path"),
            )
            # EAGER on purpose, unlike the other iterative ops here: the
            # doubling round joins the state with ITSELF, so a lazy plan
            # embeds two copies of the previous round's plan — 2^rounds
            # analysis blowup. Materializing per round keeps it linear;
            # the state is 4 narrow columns, far smaller than the input.
            .localCheckpoint(eager=True)
        )
    return state.select(
        "id",
        F.col("anc").alias("root"),
        F.col("d").alias("depth"),
        "path",
    )


def incremental_components(
    nodes: DataFrame,
    base_edges: DataFrame,
    delta_edges: DataFrame,
    max_iter: int = 20,
    id_col: str = "node_id",
) -> DataFrame:
    """Incremental connected-components maintenance: labels for
    ``base ∪ delta`` computed WITHOUT re-running CC over the full edge
    set. The base labeling contracts every existing component to one
    node, the delta edges are relabeled onto those components, and CC
    runs over that contracted graph — whose size is the number of
    components touched, not the number of edges ever loaded. At 100 TB
    this is the CDC story for graphs: a day's new edges cost
    O(|delta| + |components|), while the accumulated base is only read
    through its (cached, far smaller) labeling.

    Exactness (not an approximation): :func:`connected_components`
    labels each component with its MINIMUM node id, and the minimum of
    merged minima is the merged component's global minimum — so the
    composed labels are bit-identical to a full recompute on the union.

    Returns ``(id, comp)``, same contract as
    :func:`connected_components`.
    """
    base = connected_components(nodes, base_edges, max_iter=max_iter, id_col=id_col)
    return merge_delta_components(base, delta_edges, max_iter=max_iter, id_col=id_col)


def merge_delta_components(
    labels: DataFrame,
    delta_edges: DataFrame,
    max_iter: int = 20,
    id_col: str = "node_id",
) -> DataFrame:
    """One CDC step of :func:`incremental_components`, exposed on its
    own so a *streaming* foreachBatch sink can fold arriving edge
    batches into a persisted ``(id, comp)`` labeling — the contracted
    graph has one node per existing component, and min-id label algebra
    keeps every step exact (composition of exact steps is exact, so N
    micro-batches ≡ one full recompute, bit for bit)."""
    # `labels` is consumed FOUR times below (both contraction sides, the
    # contracted node set, and the final re-attach join); without this
    # checkpoint the caller's whole labeling plan — for
    # incremental_components, an entire CC fixpoint's final join —
    # re-executes once per consumer (guide §5: reuse justifies the cut)
    labels = labels.select("id", "comp").localCheckpoint(eager=False)
    lab_s = labels.select(F.col("id").alias("src"), F.col("comp").alias("_cs"))
    lab_d = labels.select(F.col("id").alias("dst"), F.col("comp").alias("_cd"))
    contracted = (
        delta_edges.select("src", "dst")
        .join(lab_s, on="src")
        .join(lab_d, on="dst")
        .select(F.col("_cs").alias("src"), F.col("_cd").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    comp_nodes = labels.select(F.col("comp").alias(id_col)).distinct()
    merged = connected_components(
        comp_nodes, contracted, max_iter=max_iter, id_col=id_col
    )
    return (
        labels.select("id", F.col("comp").alias("_c"))
        .join(merged.withColumnRenamed("id", "_c"), on="_c")
        .select("id", "comp")
    )


def neighbor_sample(edges: DataFrame, k: int, salt: str = "ns") -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling: at most ``k``
    out-neighbors per source, picked by md5 order over the edge key —
    the minibatch fan-out cap that makes GNN feature aggregation
    bounded-cost per node regardless of hub degree. One window over the
    source partitioning (the same shuffle a plain groupBy would pay);
    the md5 rank makes the sample reproducible across runs AND engines,
    so a SQL twin value-checks the sampled edge set itself.

    Returns ``(src, dst, rn)`` with ``rn`` in ``1..k``.
    """
    from neo4j_graphdb_spark.functions.hashing import md5_hex

    w = Window.partitionBy("src").orderBy(
        md5_hex(
            F.concat(F.col("src").cast("string"), F.lit(":"), F.col("dst").cast("string")),
            salt,
        ),
        F.col("dst").asc(),
    )
    return (
        edges.select("src", "dst")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    THE one-number answer to "do hubs attach to hubs?" (positive:
    social-style mixing; negative: hub-and-spoke). Everything before
    the final formula is integer aggregation over one degree join per
    side (Σx, Σy, Σxy, Σx², Σy², m — exact on both engines), and the
    single IEEE division/sqrt at the end makes the value bit-identical
    cross-engine. One edge scan + two broadcastable degree joins.

    Returns one row ``(m_directed_pairs, assortativity)``.
    """
    deg = (
        edges.select("src", "dst")
        .distinct()
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    sym = (
        edges.select("src", "dst")
        .distinct()
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    pairs = (
        sym.join(deg.select(F.col("src"), F.col("_d").alias("_dx")), on="src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("_d").alias("_dy")),
            on="dst",
        )
        .select(
            F.col("_dx").cast("bigint").alias("x"),
            F.col("_dy").cast("bigint").alias("y"),
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m = F.col("m").cast("double")
    num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / m
    denx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / m
    deny = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / m
    return agg.select(
        F.col("m").cast("bigint").alias("m_directed_pairs"),
        F.round(num / F.sqrt(denx * deny), 6).alias("assortativity"),
    )


def biased_walks(
    edges: DataFrame,
    starts: DataFrame,
    n_steps: int = 3,
    w_return: int = 1,
    w_shared: int = 2,
    w_far: int = 4,
    id_col: str = "node_id",
) -> DataFrame:
    """node2vec second-order biased walks (Grover & Leskovec 2016) with
    EXACT rational bias and zero float randomness. The three node2vec
    transition classes — return to the previous node (weight 1/p), move
    to a neighbor SHARED with the previous node (weight 1), move
    farther (weight 1/q) — are expressed as small INTEGER replica
    counts ``w_return : w_shared : w_far`` (defaults 1:2:4 ≡ p=2,
    q=0.5 at scale 2): every candidate is replicated ``weight`` times
    and the md5-minimal replica wins, so P(candidate) ∝ weight exactly
    — reproducible across runs, partitionings, and engines, with no
    RNG state and no floating-point sampling to drift.

    Step 1 has no previous node and uses the uniform first-order pick
    (:func:`random_walks`' md5-mod-degree). Each later step costs one
    adjacency join (candidates), one adjacency join (the
    shared-neighbor flag — node2vec's dtx=1 test), a bounded explode
    (≤ max weight per candidate), and one per-walk min — O(walks ·
    avg_degree · w̄) per step, independent of graph size.

    Returns ``(walk_id, step, node)``, step 0 = start.
    """
    if min(w_return, w_shared, w_far) < 1:
        # a zero would need candidate EXCLUSION, and F.sequence(1, 0)
        # counts DOWN ([1, 0] — two replicas), silently inverting the
        # intent; demand positive integers instead
        raise ValueError("replica weights must be positive integers")
    adj = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    w_src = Window.partitionBy("src").orderBy("dst")
    idx_adj = adj.select(
        "src",
        "dst",
        (F.row_number().over(w_src) - 1).alias("_idx"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("_deg"),
    ).localCheckpoint(eager=False)
    f0 = starts.select(
        F.col(id_col).cast("string").alias("walk_id"),
        F.col(id_col).cast("string").alias("node"),
    )
    levels = [f0.select("walk_id", F.lit(0).alias("step"), "node")]
    pick = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("walk_id"), F.lit("1"), F.col("node"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.col("_deg"),
    )
    frontier = f0.join(
        idx_adj, (idx_adj["src"] == F.col("node")) & (idx_adj["_idx"] == pick)
    ).select("walk_id", F.col("node").alias("prev"), F.col("dst").alias("node"))
    levels.append(frontier.select("walk_id", F.lit(1).alias("step"), "node"))
    for i in range(2, n_steps + 1):
        cands = frontier.join(adj, adj["src"] == frontier["node"]).select(
            "walk_id",
            "prev",
            F.col("node").alias("cur"),
            F.col("dst").alias("cand"),
        )
        flagged = cands.join(
            adj.select(
                F.col("src").alias("_ps"),
                F.col("dst").alias("_pd"),
                F.lit(True).alias("_sh"),
            ),
            (F.col("_ps") == F.col("prev")) & (F.col("_pd") == F.col("cand")),
            "left",
        )
        rep = (
            F.when(F.col("cand") == F.col("prev"), F.lit(w_return))
            .when(F.col("_sh"), F.lit(w_shared))
            .otherwise(F.lit(w_far))
        )
        expl = flagged.select(
            "walk_id",
            "cur",
            "cand",
            F.explode(F.sequence(F.lit(1), rep)).alias("_r"),
        ).withColumn(
            "_k",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("walk_id"),
                    F.lit(str(i)),
                    F.col("cand"),
                    F.col("_r").cast("string"),
                )
            ),
        )
        chosen = expl.groupBy("walk_id").agg(
            F.expr("min_by(struct(cur, cand), struct(_k, cand, _r))").alias("_c")
        )
        frontier = chosen.select(
            "walk_id", F.col("_c.cur").alias("prev"), F.col("_c.cand").alias("node")
        ).localCheckpoint(eager=False)
        levels.append(frontier.select("walk_id", F.lit(i).alias("step"), "node"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out

def strongly_connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 10,
    max_iter: int = 30,
    id_col: str = "node_id",
) -> DataFrame:
    """C85 — strongly connected components of a DIRECTED graph (the
    capability class c3's undirected CC cannot express: cycles matter).
    The reference exposes no graph analytics at all
    (/root/reference/cypher.txt:4-8); SCC is the directed sibling of the
    BASELINE.json north-star CC.

    Algorithm — iterated forward/backward min-label intersection (the
    DataFrame-friendly form of FW-BW coloring, Fleischer et al. 2000):
    per round, ``fmin(v)`` = min id in v's forward closure and
    ``bmin(v)`` = min id in its backward closure (one fused min-label
    fixpoint advancing both directions per superstep). Within one SCC the two
    closures are INVARIANT (every member reaches exactly the same node
    set), so fmin/bmin are per-SCC values, and ``fmin(v) == bmin(v) == m``
    holds iff m sits in both closures — i.e. v↔m, v ∈ SCC(m). Settled
    nodes leave the active set (and their edges leave the graph); the
    SCC holding the smallest active id always settles (its own id is
    both minima), so every round retires at least one SCC and the loop
    terminates in ≤ #condensation-levels rounds — small for real graphs
    (the condensation is a DAG). Runs out of rounds → ValueError rather
    than a silently wrong labeling.

    Scale shape: each superstep is one key-partitioned aggregation over
    the live edge set; settled SCCs and their edges are anti-joined out,
    so later rounds shrink. No collects beyond the 1-row convergence
    checksums.
    """
    active = nodes.select(id_col).distinct().localCheckpoint(eager=False)
    e = (
        edges.select("src", "dst")
        .distinct()
        .join(active.select(F.col(id_col).alias("src")), on="src", how="left_semi")
        .join(active.select(F.col(id_col).alias("dst")), on="dst", how="left_semi")
        .localCheckpoint(eager=False)
    )
    result = active.select(id_col, F.col(id_col).alias("scc")).limit(0)
    # one emptiness probe at ENTRY only (empty input graph); inside the
    # loop the live count rides the inner checksum row instead of paying
    # a limit(1).count() job per round
    if active.limit(1).count() == 0:
        return result
    for _ in range(max_rounds):
        # forward and backward minima advance in ONE fused superstep
        # loop (both message aggregations land in the same Spark job),
        # so the round costs half the job-scheduling overhead of two
        # sequential fixpoints — which dominates for iterative ops
        lbl = active.select(
            id_col, F.col(id_col).alias("_f"), F.col(id_col).alias("_b")
        )
        prev: tuple | None = None
        inner_converged = False
        # max_iter propagation steps + 1: convergence is only observable
        # on the iteration AFTER the labels settle (cur == prev), so an
        # input whose min-label needs exactly max_iter hops must get one
        # extra confirming pass rather than a spurious
        # "did not converge".
        for _i in range(max_iter + 1):
            fmsgs = (
                lbl.join(e, lbl[id_col] == e["dst"])
                .select(F.col("src").alias(id_col), F.col("_f").alias("_fm"))
                .groupBy(id_col)
                .agg(F.min("_fm").alias("_fm"))
            )
            bmsgs = (
                lbl.join(e, lbl[id_col] == e["src"])
                .select(F.col("dst").alias(id_col), F.col("_b").alias("_bm"))
                .groupBy(id_col)
                .agg(F.min("_bm").alias("_bm"))
            )
            lbl = (
                lbl.join(fmsgs, on=id_col, how="left")
                .join(bmsgs, on=id_col, how="left")
                .select(
                    id_col,
                    F.least(
                        F.col("_f"), F.coalesce(F.col("_fm"), F.col("_f"))
                    ).alias("_f"),
                    F.least(
                        F.col("_b"), F.coalesce(F.col("_bm"), F.col("_b"))
                    ).alias("_b"),
                )
                .localCheckpoint(eager=False)
            )
            # the same 1-row action also counts how many of the live
            # nodes have settled (_f == _b), so the round boundary below
            # needs NO extra jobs to decide whether the algorithm is done
            row = lbl.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({id_col}, _f, _b))").alias("h"),
                F.sum((F.col("_f") == F.col("_b")).cast("long")).alias("ns"),
            ).collect()[0]
            cur = (row["n"], row["h"])
            if cur == prev:
                inner_converged = True
                break
            prev = cur
        if not inner_converged:
            # Partially-propagated labels can still satisfy _f == _b with a
            # non-minimal member id (e.g. a directed cycle longer than
            # max_iter hops), which would silently fragment one SCC into
            # several labels — honor the docstring's promise and refuse.
            raise ValueError(
                f"SCC min-label fixpoint did not converge within "
                f"max_iter={max_iter}; raise it (iterations needed ~ longest "
                "shortest-path within one SCC)"
            )
        # round-boundary frames checkpoint LAZILY: each eager checkpoint
        # here used to be its own driver-blocking job (4 per round); the
        # lazy ones materialize inside the next round's first checksum
        # job instead — same work, 4 fewer barriers per round. The plans
        # are still cut at planning time, so lineage never stacks.
        settled = (
            lbl.filter(F.col("_f") == F.col("_b"))
            .select(id_col, F.col("_f").alias("scc"))
            .localCheckpoint(eager=False)
        )
        result = result.unionByName(settled).localCheckpoint(eager=False)
        if row["ns"] == row["n"]:
            # every live node settled this round — done, and the
            # emptiness of the next round is known without another job
            return result
        done = settled.select(id_col)
        active = active.join(done, on=id_col, how="left_anti").localCheckpoint(
            eager=False
        )
        e = (
            e.join(done.withColumnRenamed(id_col, "src"), on="src", how="left_anti")
            .join(done.withColumnRenamed(id_col, "dst"), on="dst", how="left_anti")
            .localCheckpoint(eager=False)
        )
    raise ValueError(
        f"SCC did not settle within max_rounds={max_rounds}; "
        "raise it (rounds needed = condensation levels of the graph)"
    )


def k_truss(edges: DataFrame, k: int = 4, max_iter: int = 20) -> DataFrame:
    """C88 — k-truss subgraph (Cohen 2008): the maximal subgraph where
    every edge participates in at least ``k - 2`` triangles. The
    edge-level sibling of k-core — cores bound degree, trusses bound
    COHESION, which is why community and spam-cluster mining prefer
    them. The reference exposes no graph analytics at all
    (/root/reference/cypher.txt:4-8).

    Peeling loop: per round, per-edge triangle support comes from the
    same degree-ordered adjacency enumeration as triangle_count — each
    triangle x<y<z is found once as a wedge (x→y, x→z) closed by
    (y, z), so a hub only fans out over its HIGHER-ordered neighbors —
    and every triangle credits its three edges via a 3-row explode +
    one ``groupBy(edge)``. Edges under the support threshold drop,
    support recomputes on the survivors (removals cascade), and the
    checksum-fold convergence test ends the loop the round nothing
    changes — one materializing action per round, lazily checkpointed.
    Peeling is monotone, so the fixpoint is the unique k-truss.

    Returns the surviving canonical edges ``(u, v)`` with ``u < v``.
    """
    if k < 2:
        raise ValueError("k-truss needs k >= 2")
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if k == 2:
        # Every edge trivially has support >= 0, so the 2-truss is the whole
        # (canonicalized) graph — the peeling loop below would wrongly drop
        # triangle-free edges because they never appear in the sup aggregate.
        return e
    prev: tuple | None = None
    for _ in range(max_iter):
        adj = e  # canonical u<v doubles as the ordered adjacency
        wedges = (
            adj.select(F.col("u").alias("x"), F.col("v").alias("y"))
            .join(adj.select(F.col("u").alias("x"), F.col("v").alias("z")), on="x")
            .filter(F.col("y") < F.col("z"))
        )
        tri = wedges.join(
            e.select(F.col("u").alias("y"), F.col("v").alias("z")),
            on=["y", "z"],
            how="left_semi",
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                        F.struct(F.col("x").alias("u"), F.col("z").alias("v")),
                        F.struct(F.col("y").alias("u"), F.col("z").alias("v")),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("_sup"))
            .filter(F.col("_sup") >= k - 2)
            .select("u", "v")
        )
        e = e.join(sup, on=["u", "v"], how="left_semi").localCheckpoint(
            eager=False
        )
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        cur = (row["n"], row["h"])
        if cur == prev or row["n"] == 0:
            break
        prev = cur
    return e


def louvain_communities(
    nodes: DataFrame,
    edges: DataFrame,
    weight_col: str | None = None,
    max_sweeps: int = 20,
    id_col: str = "node_id",
    self_weight: DataFrame | None = None,
) -> DataFrame:
    """C94 — modularity-greedy community detection: the LOCAL-MOVE phase
    of Louvain (Blondel et al. 2008) run to its fixpoint on the
    undirected (optionally weighted) graph. Each node repeatedly moves
    to the neighboring community with the highest modularity gain
    ``k_{u,c} - k_u * tot(c without u) / 2m``; the reference exposes no
    graph analytics at all (/root/reference/cypher.txt:4-8), and this is
    the quality-objective sibling of c6's majority-vote label
    propagation (LPA has no objective; Louvain greedily climbs
    modularity, the c47 score).

    Determinism under synchronized-parallel moves: a straight "all nodes
    move at once" loop oscillates (two singletons can swap into each
    other's communities forever), so sweeps alternate a PARITY schedule —
    sweep s moves only nodes with ``xxhash64(id) % 2 == s % 2`` — and
    ties break toward the smallest community id. The parity schedule
    alone still lets two SAME-PARITY mutual-best nodes swap communities
    in lock-step (the distributed-Louvain 2-cycle; it is the common
    case on aggregated levels, where a bridged community pair is two
    mutually-best super-nodes), so a SWAP-BREAK rule runs per sweep:
    among intended moves u: A→B and v: B→A, only the smaller id moves —
    one movers⋈movers semi-join; the blocked node re-evaluates next
    sweep against the merged state and stays put. Every sweep is a pure
    function of the previous labeling, so reruns are bit-identical.
    Converges when a full parity cycle changes nothing; labels are then
    canonicalized to each community's smallest member id.

    ``self_weight`` (columns ``id``, ``sw``) supplies per-node
    SELF-LOOP weight — the intra-community weight folded into a
    super-node by :func:`louvain_multilevel`'s aggregation phase. A
    self-loop contributes 2·sw to its node's degree and sw to m
    (standard Louvain accounting); it never appears in any k_{u,c},
    since it moves WITH the node.

    Scale shape: per sweep, one edge⋈labels join (shuffle on node id),
    one community-total aggregation (shuffle on community id), one
    ``max_by`` argmax per node — O(E) work per sweep, no collects beyond
    the 1-row 2m scalar and the convergence checksum.
    """
    w_expr = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            w_expr.alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    # both directions, so every (node, neighbor) incidence is one row
    inc = und.select("u", "v", "w").unionByName(
        und.select(
            F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
        )
    ).localCheckpoint()
    deg = inc.groupBy(F.col("u").alias("_id")).agg(F.sum("w").alias("_k"))
    sw_sum = 0.0
    if self_weight is not None:
        sw = self_weight.select(
            F.col("id").alias("_id"), F.col("sw").cast("double").alias("_sw")
        )
        deg = (
            deg.join(sw, on="_id", how="full")
            .select(
                "_id",
                (
                    F.coalesce("_k", F.lit(0.0))
                    + F.lit(2.0) * F.coalesce("_sw", F.lit(0.0))
                ).alias("_k"),
            )
        )
        sw_row = sw.agg(F.sum("_sw").alias("s")).collect()[0]
        sw_sum = float(sw_row["s"] or 0.0)
    m2_row = und.agg((F.sum("w") * 2).alias("m2")).collect()[0]
    m2 = float(m2_row["m2"] or 0.0) + 2.0 * sw_sum
    if m2 == 0.0:
        return nodes.select(
            F.col(id_col), F.col(id_col).alias("community")
        )
    base = nodes.select(F.col(id_col).alias("_id")).distinct()
    comm = (
        base.join(deg, on="_id", how="left")
        .select(
            "_id",
            F.col("_id").alias("_c"),
            F.coalesce("_k", F.lit(0.0)).alias("_k"),
        )
        .localCheckpoint()
    )
    prev_hash: int | None = None
    stable_sweeps = 0
    for s in range(max_sweeps):
        tot = comm.groupBy(F.col("_c").alias("_tc")).agg(
            F.sum("_k").alias("_tot")
        )
        nb = (
            inc.join(
                comm.select(
                    F.col("_id").alias("v"), F.col("_c").alias("_nc")
                ),
                on="v",
            )
            .groupBy(F.col("u").alias("_id"), F.col("_nc"))
            .agg(F.sum("w").alias("_kuc"))
        )
        cand = (
            nb.join(comm.select("_id", "_c", "_k"), on="_id")
            .join(tot, nb["_nc"] == F.col("_tc"))
            .select(
                "_id",
                "_c",
                "_k",
                "_nc",
                (
                    F.col("_kuc")
                    - F.col("_k")
                    * (
                        F.col("_tot")
                        - F.when(F.col("_nc") == F.col("_c"), F.col("_k"))
                        .otherwise(F.lit(0.0))
                    )
                    / F.lit(m2)
                ).alias("_gain"),
            )
        )
        # argmax gain, ties toward the smallest community id. A node with
        # no candidate row for its CURRENT community (no intra-community
        # neighbor — e.g. the neighbor that pulled it in moved away later)
        # has k_{u,C} = 0, so its true stay gain is the analytic
        # -k_u * (tot(C) - k_u) / 2m (<= 0), NOT zero: coalescing the
        # missing stay-gain to 0 would wrongly veto every
        # modularity-improving move whose gain lies in (true_stay, 0].
        best = cand.groupBy("_id").agg(
            F.expr("max_by(_nc, struct(_gain, -_nc))").alias("_best"),
            F.max(
                F.when(F.col("_nc") == F.col("_c"), F.col("_gain"))
            ).alias("_stay_gain"),
            F.max("_gain").alias("_best_gain"),
        )
        active = F.pmod(F.xxhash64(F.col("_id")), F.lit(2)) == (s % 2)
        stay = F.coalesce(
            F.col("_stay_gain"),
            -F.col("_k")
            * (F.coalesce(F.col("_tot"), F.col("_k")) - F.col("_k"))
            / F.lit(m2),
        )
        intent = (
            comm.join(best, on="_id", how="left")
            .join(tot, comm["_c"] == tot["_tc"], "left")
            .select(
                "_id",
                "_c",
                "_k",
                F.when(
                    active
                    & F.col("_best").isNotNull()
                    & (F.col("_best_gain") > stay + 1e-12),
                    F.col("_best"),
                )
                .otherwise(F.col("_c"))
                .alias("_new"),
            )
            # lazy-checkpointed so the swap-break self-join below reuses
            # ONE materialization of the sweep subplan instead of
            # replaying the cand/best join tree on both sides
            .localCheckpoint(eager=False)
        )
        # swap-break: of two intended moves u: A→B, v: B→A in the same
        # sweep, only the smaller id executes (the other re-evaluates
        # next sweep against the merged state) — kills the 2-cycle the
        # parity schedule can't when both ids share a parity
        movers = intent.filter(F.col("_new") != F.col("_c"))
        blocked = movers.alias("mv").join(
            movers.select(
                F.col("_c").alias("_bf"),
                F.col("_new").alias("_bt"),
                F.col("_id").alias("_bid"),
            ),
            (F.col("mv._c") == F.col("_bt"))
            & (F.col("mv._new") == F.col("_bf"))
            & (F.col("_bid") < F.col("mv._id")),
            "left_semi",
        ).select("_id").withColumn("_blk", F.lit(True))
        moved = (
            intent.join(blocked, on="_id", how="left")
            .select(
                "_id",
                F.when(F.col("_blk"), F.col("_c"))
                .otherwise(F.col("_new"))
                .alias("_c"),
                "_k",
            )
            .localCheckpoint(eager=False)
        )
        row = moved.agg(
            F.expr("bit_xor(xxhash64(_id, _c))").alias("h")
        ).collect()[0]
        comm = moved
        if row["h"] == prev_hash:
            stable_sweeps += 1
            if stable_sweeps >= 2:  # a full parity cycle changed nothing
                break
        else:
            stable_sweeps = 0
        prev_hash = row["h"]
    # canonicalize: community label = smallest member id
    canon = comm.groupBy("_c").agg(F.min("_id").alias("_lbl"))
    return (
        comm.join(canon, on="_c")
        .select(F.col("_id").alias(id_col), F.col("_lbl").alias("community"))
    )


def louvain_multilevel(
    nodes: DataFrame,
    edges: DataFrame,
    weight_col: str | None = None,
    max_sweeps: int = 20,
    max_levels: int = 4,
    id_col: str = "node_id",
    local_limit: int = 200_000,
) -> DataFrame:
    """C99 — FULL Louvain (Blondel et al. 2008): alternate the
    local-move phase (:func:`louvain_communities`) with the AGGREGATION
    phase the one-level variant stops short of — fold each community
    into a super-node (intra-community weight becomes its self-loop,
    inter-community weight sums into super-edges) and re-run local
    moves on the contracted graph. Level-2 moves merge WHOLE
    communities at once, which no sequence of single-node moves can do
    when every individual crossing is modularity-negative (the
    resolution-limit fixture: two bridged triangles — one level leaves
    two communities, the aggregated level merges them).

    Determinism: each level is the deterministic parity-scheduled,
    swap-broken local move; super-node ids ARE community labels
    (smallest member id), so the contracted graph and the final
    composed labels are pure functions of the input. Stops early when a
    level moves nothing or no inter-community edges remain.

    Scale shape: the aggregation is two hash joins (tag endpoints with
    their community) + one groupBy per side of the self/cross split —
    all on the CONTRACTED edge set, which shrinks geometrically per
    level on community-structured graphs; level L's local move costs
    O(E_L) per sweep like level 0's. The mapping composition is one
    join per level on the (shrinking) label column.

    Driver-small contraction: once a level's super graph fits under
    ``local_limit`` edges, it is collected and re-planted as a
    LocalRelation. Checkpointed frames carry UNKNOWN stats, so the
    per-sweep joins of a distributed contracted level plan as
    sort-merge (~25 shuffle stages/sweep of near-empty partitions —
    pure stage-latency tax); a LocalRelation's known tiny size lets
    Catalyst broadcast every per-sweep join instead (measured 15×
    on the resolution-limit fixture). At 100 TB the first level that
    shrinks under the limit takes the fast path; bigger levels stay
    fully distributed.
    """
    w_expr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            w_expr.alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    mapping = louvain_communities(
        nodes, e, weight_col="w", max_sweeps=max_sweeps, id_col=id_col
    ).localCheckpoint(eager=False)
    for _ in range(1, max_levels):
        ms = mapping.select(F.col(id_col).alias("src"), F.col("community").alias("_cs"))
        md = mapping.select(F.col(id_col).alias("dst"), F.col("community").alias("_cd"))
        tagged = e.join(ms, on="src").join(md, on="dst")
        sup_e = (
            tagged.filter(F.col("_cs") != F.col("_cd"))
            .select(
                F.least("_cs", "_cd").alias("src"),
                F.greatest("_cs", "_cd").alias("dst"),
                "w",
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=False)
        )
        n_sup_e = sup_e.count()
        if n_sup_e == 0:
            break
        self_w = (
            tagged.filter(F.col("_cs") == F.col("_cd"))
            .groupBy(F.col("_cs").alias("id"))
            .agg(F.sum("w").alias("sw"))
        )
        sup_n = mapping.select(F.col("community").alias("node_id")).distinct()
        if n_sup_e <= local_limit:
            # driver-small contraction → LocalRelation, so every
            # per-sweep join inside the local move broadcasts
            spark = mapping.sparkSession
            sup_e = spark.createDataFrame(sup_e.collect(), sup_e.schema)
            self_w = spark.createDataFrame(self_w.collect(), self_w.schema)
            sup_n = spark.createDataFrame(sup_n.collect(), sup_n.schema)
        lvl = louvain_communities(
            sup_n,
            sup_e,
            weight_col="w",
            max_sweeps=max_sweeps,
            self_weight=self_w,
        ).localCheckpoint(eager=False)
        if lvl.filter(F.col("node_id") != F.col("community")).limit(1).count() == 0:
            break
        relabel = lvl.select(
            F.col("node_id").alias("_old"), F.col("community").alias("_newc")
        )
        mapping = (
            mapping.join(relabel, mapping["community"] == F.col("_old"))
            .select(F.col(id_col), F.col("_newc").alias("community"))
            .localCheckpoint(eager=False)
        )
    return mapping


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 10,
    id_col: str = "id",
) -> DataFrame:
    """Weighted single-source shortest paths from a set of sources —
    the min-plus (Bellman-Ford) companion of :func:`shortest_paths`:
    each round relaxes every edge out of the improved frontier, and the
    pair table keeps ``min(dist)`` per (source, node). Rounds are
    bounded (like every ladder in this engine — an unbounded relax is a
    join explosion at scale); a round with no improvement exits early,
    so ``max_rounds`` is a cap, not a schedule.

    ``edges`` needs ``src, dst, weight`` (non-negative weights — with
    them, ``diameter`` rounds suffice exactly as in Dijkstra's
    invariant). Returns ``(source, id, dist)`` PAIRWISE distances; at
    100 TB run it per source-batch — the state is |sources| × reachable
    nodes, and batching sources bounds it (same geometry as the
    shortestPath text ladder, which Catalyst prunes per-pair).

    No reference twin (the reference has no weighted paths; SURVEY §2.C
    north-star companion of C4). A vertex reached only over null
    weights is listed with a null distance.
    """
    seeds = sources.select(F.col(id_col).alias("source")).distinct()
    return _min_relax(
        seeds.select("source", F.col("source").alias("id"), F.lit(0.0).alias("dist")),
        edges, "dist", max_rounds=max_rounds, keys=("source",),
        addend=F.col("weight"),
    )


def csr_export(edges: DataFrame, bucket_width: int = 1000) -> DataFrame:
    """CSR (compressed sparse row) adjacency export — the layout every
    GNN training loop (DGL/PyG-style) and most native graph kernels
    consume: per source node its sorted neighbor list, degree, and the
    EXCLUSIVE prefix-sum offset into the concatenated neighbor array.
    The reference's store is adjacency-as-rows; this is the bridge out
    of it into tensor land.

    Offsets are a distributed prefix sum with NO global single-partition
    sort: sources bucket by ``src div bucket_width`` (contiguous id
    ranges, so bucket order = source order), the within-bucket running
    sum is a bucket-partitioned window, and the cross-bucket base is a
    window over the bucket-total table — ``#buckets ≈ id_range/width``
    rows, orders of magnitude smaller than the node set (recurse the
    same trick if even that overflows one partition). Every quantity is
    an integer and every ordering a total order, so the result is
    partition-invariant and SQL-replayable; neighbor lists serialize as
    comma-joined strings for cross-engine hashing.

    Returns ``(src, degree, offset, neighbors)``.
    """
    e = (
        edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
        )
        .distinct()
    )
    adj = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("degree"),
        F.array_join(
            F.sort_array(F.collect_list(F.col("dst"))), ","
        ).alias("neighbors"),
    )
    b = adj.withColumn("_bucket", F.expr(f"src div {int(bucket_width)}"))
    w_local = (
        Window.partitionBy("_bucket")
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = b.withColumn(
        "_local", F.sum("degree").over(w_local) - F.col("degree")
    )
    btot = b.groupBy("_bucket").agg(F.sum("degree").alias("_tot"))
    w_base = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bbase = btot.withColumn(
        "_base", F.coalesce(F.sum("_tot").over(w_base), F.lit(0))
    ).select("_bucket", "_base")
    return (
        loc.join(F.broadcast(bbase), on="_bucket")
        .select(
            "src",
            F.col("degree").cast("bigint").alias("degree"),
            (F.col("_base") + F.col("_local")).cast("bigint").alias("offset"),
            "neighbors",
        )
    )
