"""Iterative graph algorithms (north-star extension; the reference has
no graph surface — swifter stops at per-row applies).

Connected components live in :mod:`sparkswift.operators.dedup` (they
are the dedup-cluster primitive); this module holds the general
iterative-algorithm pattern with PageRank as the canonical instance:
per iteration one join + one aggregate, lineage broken by
``localCheckpoint`` so the plan stays O(1) deep, and NO driver-side
state beyond the loop counter — the 100 TB shape for power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkswift.operators.spread import prepart, width


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 10,
    assume_distinct: bool = False,
    symmetric: bool = False,
    tol: float | None = None,
    stats: dict | None = None,
    seeds: DataFrame | None = None,
    rank_broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """PageRank by power iteration over an edge list.

    ``seeds=`` (a single-column DataFrame of node ids) switches to
    PERSONALIZED PageRank: teleport mass — the (1−d) restart AND the
    dangling redistribution — goes to the seed set (uniformly) instead
    of all nodes, and ranks initialize on the seeds. Every update is
    then rank = (1−d)·t + d·(inflow + dm·t) with t the seed-uniform
    teleport vector. Structural consequence (float-EXACT, not
    approximate): a node unreachable from the seed set only ever sums
    0.0-contributions, so its rank is exactly 0.0 — the law the g2
    gate certifies against a SQL reachability oracle. Seeds absent
    from the graph's node set are ignored (their teleport share still
    normalizes over the seeds PRESENT — pass clean seeds).

    Per iteration: contributions = edges ⋈ ranks on ``src`` (one hash
    shuffle; at scale pre-partition both sides by ``src`` to reuse the
    exchange), summed by ``dst`` (second shuffle); dangling mass
    (nodes with no out-edges) is computed as a one-row aggregate and
    broadcast back — no driver collect of anything node-sized. Each
    iteration ends in ``localCheckpoint`` so lineage depth stays
    constant across iterations (the CC lesson, dedup.py).

    ``symmetric=True`` declares the edge list symmetrized (every
    (a,b) has its (b,a)) — then every node appears as a src, so the
    node set IS the out-degree key set (no union+distinct pass) and
    the dangling set is provably empty (no dangling checkpoint, no
    per-iteration dangling aggregate). Exact for undirected graphs —
    the common shape for co-occurrence / dedup-pair graphs; the
    Σrank = 1 invariant still certifies mass conservation.

    ``tol=`` adds a convergence early-exit: after each iteration the
    L1 delta ``Σ|rank_t − rank_{t−1}|`` is computed as a ONE-ROW
    aggregate (same broadcast-sized pattern as the dangling mass —
    never a node-sized collect) and the loop stops when it drops
    below ``tol``. At 100 TB every saved iteration is a whole
    join+agg pass over the edge list; the delta check costs one extra
    node-sized join per iteration, worth it whenever convergence can
    beat ``max_iter`` (the common case — PageRank contracts at rate
    ``damping``). ``tol=None`` (default) runs exactly ``max_iter``
    iterations, bit-reproducing earlier rounds.

    Returns ``(node, rank)`` with Σrank = 1 up to float rounding. The
    number of iterations actually run is reported through ``stats``
    (pass a dict; ``stats["iters"]`` is set before returning — the
    explicit channel) and, for convenience, as
    ``result._pagerank_iters`` — an attribute that survives ONLY on
    the directly returned object (any subsequent transformation
    builds a new DataFrame without it). Deterministic up to float-sum
    association order — rows-only verification; exactness is
    pytest-asserted against a numpy power iteration on the same graph
    (tests/test_graph.py, incl. the ``tol`` early-exit paths).
    """
    if tol is not None and not tol > 0:  # catches <=0 AND NaN
        raise ValueError(f"tol must be > 0, got {tol!r}")
    # materialize the (possibly expensive) edge derivation ONCE — the
    # loop re-evaluates whatever plan `edges` carries every iteration
    # otherwise (a join+distinct upstream would run max_iter times).
    # assume_distinct=True skips the dedup shuffle when the caller
    # guarantees uniqueness (e.g. edges built as a union of DISJOINT
    # directions of an already-distinct pair set) — one full exchange
    # of the edge list saved.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    if symmetric:
        # symmetrized edges: every node is a src — the degree table IS
        # the node set, and no node can dangle
        nodes = out_deg.select(F.col("src").alias("node")).localCheckpoint()
        dangling_nodes = None
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        dangling_nodes = nodes.join(
            out_deg, nodes["node"] == out_deg["src"], "left_anti"
        ).localCheckpoint()
    n = nodes.count()
    # static per-iteration inputs, built once: edges with their source
    # degree attached, and the (possibly empty) dangling-node set
    # Pre-partition the loop-static edge frame ONCE so no iteration
    # re-exchanges it (guide §2.4: operations keyed the same way share
    # one exchange). Two regimes, decided from the bounded node count
    # already in hand (the same driver-side plan choice as
    # triangle_count's broadcast_edge_limit):
    #  * n ≤ rank_broadcast_limit — the rank frame is broadcast-sized,
    #    so the per-iteration join ships ranks and the ONLY exchange
    #    left would be the inflow groupBy(dst). Partitioning e_deg by
    #    dst removes that too (broadcast joins preserve the stream
    #    side's partitioning, and Project is alias-aware): ZERO
    #    data-sized exchanges per iteration.
    #  * n > rank_broadcast_limit — ranks must shuffle; partition
    #    e_deg by src so the join reuses the static exchange and only
    #    node-sized frames move per iteration.
    # Explicit partition count (not AQE-advisory): AQE would coalesce
    # a small edge frame to ONE partition and serialize the loop (the
    # o9b lesson, NOTES r14).
    loop_key = "dst" if n <= rank_broadcast_limit else "src"
    # e_deg has exactly e's rows (deg attach is 1:1); e is
    # materialized, so the count is a cheap in-memory scan that buys
    # the row-count-honest loop width for every iteration's jobs
    e_deg = prepart(
        e.join(out_deg, "src"), [loop_key], rows=e.count()
    ).localCheckpoint()
    if seeds is not None:
        seed_nodes = (
            seeds.select(F.col(seeds.columns[0]).alias("node"))
            .distinct()
            .join(nodes, "node", "left_semi")
            .localCheckpoint()
        )
        s = seed_nodes.count()
        if s == 0:
            raise ValueError("pagerank: no seed is a node of the graph")
        # teleport vector rides the ranks frame (static per node)
        nodes_t = nodes.join(
            seed_nodes.withColumn("__t", F.lit(1.0 / s)), "node", "left"
        ).select("node", F.coalesce(F.col("__t"), F.lit(0.0)).alias("__t"))
        nodes_t = nodes_t.localCheckpoint()
        ranks = nodes_t.withColumn("rank", F.col("__t"))
    else:
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))

    iters_run = 0
    for _ in range(max_iter):
        rside = F.broadcast(ranks) if loop_key == "dst" else ranks
        contribs = (
            e_deg.join(rside, e_deg["src"] == rside["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # join contribs onto RANKS (not the bare node set): the
        # previous rank rides along as __prev, so the tol= delta probe
        # below is a plain aggregate instead of a second node-sized
        # join per iteration (A/B r9: the separate-join probe was
        # ~the whole early-exit overhead on the bench row); with
        # seeds= the static teleport column __t rides the same frame
        carry = ["node", "__t"] if seeds is not None else ["node"]
        updated = ranks.select(
            *carry, F.col("rank").alias("__prev")
        ).join(contribs, "node", "left")
        tele = (
            F.col("__t") if seeds is not None else None
        )  # personalized teleport vs uniform 1/n
        if dangling_nodes is None:
            base = (
                F.lit(1.0 - damping) * tele
                if seeds is not None
                else F.lit((1.0 - damping) / n)
            )
            rank_expr = base + F.lit(damping) * F.coalesce(
                F.col("inflow"), F.lit(0.0)
            )
        else:
            # dangling mass: one-row aggregate, broadcast back
            dangling = ranks.join(dangling_nodes, "node", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
            updated = updated.crossJoin(F.broadcast(dangling))
            if seeds is not None:
                rank_expr = F.lit(1.0 - damping) * tele + F.lit(damping) * (
                    F.coalesce(F.col("inflow"), F.lit(0.0))
                    + F.col("__dm") * tele
                )
            else:
                rank_expr = F.lit((1.0 - damping) / n) + F.lit(damping) * (
                    F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("__dm") / n
                )
        iters_run += 1
        if tol is not None:
            stepped = updated.select(
                *carry, rank_expr.alias("rank"), "__prev"
            ).localCheckpoint()
            # L1 delta as a one-row aggregate over the SAME checkpoint
            # (no extra join — __prev rode along)
            delta = (
                stepped.agg(
                    F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("d")
                )
                .collect()[0]
                .d
            )
            ranks = stepped.select(*carry, "rank")
            if delta is None or delta != delta:
                # empty graph / NaN blow-up: early exit can never
                # trigger — fail loudly instead of silently paying a
                # driver round-trip per remaining iteration
                raise ValueError(f"non-finite L1 delta {delta!r} in pagerank")
            if delta < tol:
                break
        else:
            ranks = updated.select(
                *carry, rank_expr.alias("rank")
            ).localCheckpoint()
    if seeds is not None:
        ranks = ranks.select("node", "rank")
    if stats is not None:
        stats["iters"] = iters_run
    ranks._pagerank_iters = iters_run
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_edge_limit: int = 5_000_000,
) -> DataFrame:
    """Per-node TRIANGLE COUNTS by degree orientation (the classic
    distributed-triangle trick — Cohen 2009 / GraphX's algorithm,
    public): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one, enumerate each node's out-neighbor
    pairs (wedges), and close them against the oriented edge set.
    Orientation bounds every out-degree by O(√m), so wedge volume is
    O(m^1.5) instead of Σ deg² — the hub that would explode a naive
    neighbor-pair join contributes IN-degree instead.

    Input edges may be directed/duplicated; they are canonicalized to
    distinct undirected (a < b) pairs first. Self-loops are dropped.
    Returns ``(node, n_triangles)`` for every node of at least one
    triangle-closing edge; counts are exact integers (SQL-oracle-able).

    Plan: two hash aggregates (canonicalize, degrees), one broadcast-
    able degree attach per endpoint, then ONE of two bounded regimes
    chosen from the edge count (a one-row aggregate computed anyway —
    the agg14 salt-or-not discipline, never a blind hint):

    * ``m ≤ broadcast_edge_limit`` — broadcast-adjacency
      intersection: per oriented edge (u, v) the triangle's third
      corners are exactly ``N⁺(u) ∩ N⁺(v)`` (with orientation order
      a≺b≺c each triangle appears once, at base edge (a, b)), so two
      broadcast joins attach the sorted out-neighbor lists (m values
      total — the same size class as the closing-set broadcast the
      wedge path uses) and a native array_intersect enumerates
      triangles in one codegen stage. Nothing wedge-sized is ever
      materialized: measured 10.5 → 5.2 s at sf0.1, where the wedge
      frame held 41 M rows for 1.2 M edges.
    * above the limit (node-sized broadcasts would outgrow executor
      memory at 100 TB graph sizes) — the exchange-free wedge join:
      both self-join sides project from the apex-partitioned
      checkpoint, wedges ≈ Σ outdeg² rows close against the oriented
      edge set, with the join strategy left to AQE.
    """
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # explicit width: AQE coalesces the small distinct shuffle to
        # a handful of partitions, and every downstream stage (degree
        # agg, orientation join) inherits that width
        .repartition(n_part, F.col("a"), F.col("b"))
        .localCheckpoint()  # reused 4x: degrees, both attaches, closing
    )
    m_edges = e.count()
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    # orient low-(degree, id) -> high-(degree, id): a total order, so
    # every undirected edge gets exactly one direction
    keyed = e.join(da, "a").join(db, "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # materialized: reused by BOTH wedge sides and the closing set —
    # without the cut the union-of-projections plan below re-ran the
    # whole orientation join subtree per consumer (measured: the g3
    # physical plan held THREE copies of the wedge join, ~280
    # operators; guide §2.4 "remove shuffles outright")
    # partitioned by the wedge apex at full width: BOTH self-join
    # sides project apex=u from this one checkpoint, so the wedge
    # join - the operator's entire cost - runs exchange-free at
    # defaultParallelism instead of over the handful of partitions
    # AQE sizes from the join's (small) INPUT bytes. The join output
    # explodes ~30x (41M wedges from 1.2M edges at sf0.1), which
    # AQE's input-byte advisory cannot see - measured 6.2 s at 9
    # tasks before, the whole probe+count at 32 after.
    oriented = (
        keyed.select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .repartition(n_part, F.col("u"))
        .localCheckpoint()
    )
    if m_edges <= broadcast_edge_limit:
        # Broadcast-adjacency intersection (the bounded fast path —
        # same size class as the closing-set broadcast it replaces:
        # the grouped out-neighbor lists hold exactly m values).
        # Each triangle {a,b,c} with orientation order a≺b≺c appears
        # EXACTLY once as base edge (a,b) with c ∈ N⁺(a) ∩ N⁺(b), so
        # per oriented edge the sorted-array intersection lists the
        # triangle's third corners directly — no 41 M-row wedge frame
        # is ever materialized, the whole enumerate+close runs as one
        # codegen stage over the m-row edge scan (measured 10.5 →
        # 5.2 s at sf0.1, counts bit-identical). Out-degree is
        # O(√m)-bounded by the orientation, so per-row arrays stay
        # small.
        adj = oriented.groupBy("u").agg(
            F.sort_array(F.collect_list("v")).alias("nb")
        )
        au = adj.select(F.col("u"), F.col("nb").alias("nu"))
        av = adj.select(F.col("u").alias("v"), F.col("nb").alias("nv"))
        tri_base = (
            oriented.join(F.broadcast(au), "u")
            .join(F.broadcast(av), "v")
            .select("u", "v", F.array_intersect("nu", "nv").alias("ww"))
            .filter(F.size("ww") > 0)
        )
        # member multiset: each third-corner w once, u and v once PER
        # triangle on this base edge (|ww| times each)
        members = tri_base.select(
            F.explode(
                F.concat(
                    "ww",
                    F.array_repeat(F.col("u"), F.size("ww")),
                    F.array_repeat(F.col("v"), F.size("ww")),
                )
            ).alias("node")
        )
        return members.groupBy("node").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triangles")
        )
    # Above the broadcast bound: the exchange-free wedge join (both
    # self-join sides project from the apex-partitioned checkpoint).
    o1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"))
    wedges = o1.join(o2, "apex").filter(F.col("x") < F.col("y"))
    # close the wedge: the third edge is oriented one way or the other
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).select("apex", "x", "y")
    # ONE wedge enumeration: explode the 3 corners of each triangle
    # instead of unioning three projections of `tri` — the union plan
    # executed the wedge join (the whole cost of the operator) once
    # PER BRANCH, three times in total (no subtree reuse across union
    # branches; only exchanges are reused, and the join itself sits
    # above them). Same multiset of (node) rows — counts identical.
    members = tri.select(
        F.explode(F.array("apex", "x", "y")).alias("node")
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
) -> DataFrame:
    """Jaccard-coefficient LINK PREDICTION (Liben-Nowell & Kleinberg
    2003, public — the standard common-neighbors baseline): score
    every NON-adjacent node pair (u, v) that shares at least one
    neighbor by ``|N(u) ∩ N(v)| / |N(u) ∪ N(v)|`` and return the
    global top-k predicted links.

    Exactness: common counts and degrees are integers; the Jaccard is
    ONE double division of integers (identical cross-engine), and the
    top-k order is total — (jaccard desc, u, v) — so ties at the cut
    are deterministic. Returns ``(u, v, n_common, jaccard)``.

    Plan: canonicalize to distinct undirected edges, one degree
    aggregate, wedge enumeration via a self-join on the shared
    neighbor (u < v halves the pairs), one hash aggregate to count
    common neighbors, an anti-join removing existing edges, two
    broadcast-able degree attaches, TakeOrdered for the cut. Wedge
    volume is inherently Σ deg(center)² here — unlike triangles,
    BOTH wedge endpoints are needed, so degree orientation cannot
    bound it; at 100 TB the lever is capping candidate generation at
    hub centers (top-degree centers contribute near-zero-information
    pairs first), the standard approximation — this exact form is for
    graphs whose wedge volume fits the cluster (the co-part fixture:
    41M wedges at sf0.1).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialized: consumed by the adjacency union (both
        # directions), the degree aggregate, and the existing-edge
        # anti-join — each re-ran the full canonicalizing distinct
        # otherwise (guide §2.4)
        .localCheckpoint()
    )
    adj = e.select(F.col("a").alias("c"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("c"), F.col("a").alias("n"))
    )
    deg = adj.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    w1 = adj.select(F.col("c"), F.col("n").alias("u"))
    w2 = adj.select(F.col("c"), F.col("n").alias("v"))
    pairs = (
        w1.join(w2, "c")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    non_edges = pairs.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    scored = (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("u"), F.col("v")
    ).limit(top_k)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT — triangles(v) /
    C(deg(v), 2), the Watts-Strogatz community-density measure:
    composes :func:`triangle_count` with the degree aggregate; the
    coefficient is one double division of exact integers (suite
    float policy — deterministic cross-engine). Nodes of degree < 2
    emit coefficient 0.0 (no possible wedge). Returns
    ``(node, degree, n_triangles, coeff)``.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    tri = triangle_count(e, "a", "b")
    out = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    pairs = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return out.withColumn(
        "coeff",
        F.when(
            F.col("degree") >= 2,
            F.col("n_triangles").cast("double") / pairs,
        ).otherwise(F.lit(0.0)),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
    label_broadcast_limit: int = 2_000_000,
    assume_canonical: bool = False,
) -> DataFrame:
    """COMMUNITY DETECTION by label propagation (Raghavan, Albert &
    Kumara 2007): labels initialize to the node id; each round every
    node SYNCHRONOUSLY adopts the most frequent label among its
    neighbors, ties to the SMALLEST label — deterministic, no RNG.

    Oscillation: parallel majority-like dynamics on a symmetric graph
    has eventual period ≤ 2 (Goles & Olivos 1980) — sync LPA either
    reaches a fixed point or falls into an exact 2-cycle (a 2-clique
    swaps labels forever; so do complete-bipartite swap states). Both
    outcomes are DETECTED exactly: the previous two label frames ride
    the loop, and ``new == labels(t-2)`` is a one-row aggregate. A
    detected 2-cycle triggers one MONOTONE BREAKING ROUND — nodes
    adopt their vote winner only where it is SMALLER than their
    current label. A breaking round strictly decreases Σlabels and
    never increases any label, so only finitely many can occur;
    between breaks the period-2 law applies — termination. (Fuzzed in
    pure python over random/bipartite/star/path/cycle graphs, 6000+
    cases, zero non-convergence; the same reference is the pytest
    twin.)

    Iteration discipline is g1's: per round one hash join (adjacency ⋈
    labels) + two aggregates (vote counts, then argmax as
    ``max(struct(count, -label))`` — no per-node window), lineage cut
    by ``localCheckpoint``; the change count AND the cycle probe are
    one ONE-ROW aggregate over the same checkpoint (both previous
    frames ride along — no extra node-sized joins). ``max_iter`` is a
    runaway guard that RAISES rather than silently returning unstable
    labels (the kcore discipline). The fixed point satisfies
    Raghavan's stopping criterion: every node's label is a
    maximal-frequency label among its neighbors.

    Returns ``(node, label)`` for every node of at least one edge —
    deterministic given the graph. On a disjoint-union-of-cliques
    graph the fixed point is uniform per clique (no split clique is
    stable under argmax: a 2-label split needs q−1 > p and p−1 > q),
    which is what makes g6's oracle exact. ``stats["iters"]`` /
    ``stats["breaks"]`` report rounds and breaking rounds run.
    """
    # AQE off for the whole operator body (restored in finally):
    # every frame here is explicit-width (repartition-by-key or a
    # checkpoint of one), so AQE contributes no coalescing or skew
    # split — only per-query-stage re-planning latency, paid again
    # every round. Measured (sf0.1, 5 rounds + 1 break): operator
    # 11.5 s with AQE on, 6.2 s off; the loop body itself 8.5 -> 3.2 s
    # — and the rounds only sped up when their SETUP checkpoints were
    # also planned without AQE. The returned frame is a projection of
    # a checkpointed node-sized frame, analyzed after restore, so the
    # caller's plan (and any big edge-build above) keeps AQE.
    sess_conf = edges.sparkSession.conf
    aqe_saved = sess_conf.get("spark.sql.adaptive.enabled", "true")
    sess_conf.set("spark.sql.adaptive.enabled", "false")
    try:
        labels, iters, breaks = _lpa_body(
            edges, src, dst, max_iter, label_broadcast_limit,
            assume_canonical,
        )
    finally:
        sess_conf.set("spark.sql.adaptive.enabled", aqe_saved)
    if stats is not None:
        stats["iters"] = iters
        stats["breaks"] = breaks
    return labels.select("node", F.col("lbl").alias("label"))


def _lpa_body(edges, src, dst, max_iter, label_broadcast_limit,
              assume_canonical=False):
    """Setup + round loop of :func:`label_propagation` (split out so
    the AQE toggle wraps exactly this body's job submissions).

    ``assume_canonical=True`` declares the input already canonical
    (every edge once, as (src, dst) with src < dst, no self-loops) —
    the caller's guarantee skips the least/greatest re-canonicalize
    AND the full distinct exchange (guide §2.4: a distinct on data
    that is already unique is an accidental shuffle). g6's edge build
    emits exactly this shape (self-join filtered to o_orderkey < o2,
    pairs unique by construction)."""
    if assume_canonical:
        e = edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).localCheckpoint()
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
    # Loop-static adjacency, pre-partitioned ONCE (guide §2.4) under
    # the same bounded two-regime decision as pagerank's e_deg:
    #  * label frame broadcast-sized — partition adj by NODE: the
    #    per-round join ships labels, and both vote aggregates group
    #    by node (HashPartitioning(node) satisfies the clustered
    #    distribution of (node, __nl) too) → zero edge-sized
    #    exchanges per round.
    #  * otherwise partition by NBR so the per-round label join
    #    reuses the static exchange. Explicit partition count — AQE
    #    would coalesce a small frame to one task (o9b lesson).
    # Build adj FIRST, optimistically partitioned by node (the common
    # regime), and derive nodes from it: the distinct then reuses
    # adj's hash(node) partitioning — no exchange, and the old
    # separate union-over-e pass for nodes disappears (guide §1.2 /
    # §2.4; measured r16: the nodes job dropped from a 96-task union
    # + exchange to a 32-task scan of the adj checkpoint). Width is
    # the spread "loop" tier: every round pays the per-task
    # scheduling floor on 2-3 jobs over these frames.
    # e is materialized (localCheckpoint above), so this count is a
    # cheap in-memory scan — it buys the row-count-honest loop width
    # for every round's jobs (adj holds both directions: 2× e's rows)
    n_part = width(e, "loop", rows=2 * e.count())
    adj = (
        e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition(n_part, F.col("node"))
        .localCheckpoint()
    )
    nodes = adj.select("node").distinct().localCheckpoint()
    n_nodes = nodes.count()
    loop_key = "node" if n_nodes <= label_broadcast_limit else "nbr"
    if loop_key == "nbr":
        # big regime: the per-round label join keys on nbr — repartition
        # the checkpointed adj once (one edge-sized exchange, amortized
        # over every round; the node-keyed build above cost nothing
        # extra because nodes/labels needed hash(node) anyway)
        adj = adj.repartition(n_part, F.col("nbr")).localCheckpoint()

    def winner(frame: DataFrame, lbl_col: str) -> DataFrame:
        """argmax (count desc, label asc) of neighbor labels, as one
        join + two aggregates — (node, __win)."""
        lbls = frame.select(
            F.col("node").alias("nbr"), F.col(lbl_col).alias("__nl")
        )
        if loop_key == "node":
            lbls = F.broadcast(lbls)
        votes = (
            adj.join(lbls, "nbr")
            .groupBy("node", "__nl")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        return (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("__c").alias("c"), (-F.col("__nl")).alias("neg"))
                ).alias("__w")
            )
            .select("node", (-F.col("__w.neg")).alias("__win"))
        )

    # __p2 = labels(t-2); starts NULL so the cycle probe cannot
    # fire before two real rounds exist. A projection of the
    # checkpointed nodes frame — no second distinct, no second
    # checkpoint job (partitioning by node is preserved)
    labels = nodes.select("node", F.col("node").alias("lbl")).withColumn(
        "__p2", F.lit(None).cast("long")
    )
    iters = 0
    breaks = 0
    for _ in range(max_iter):
        stepped = (
            labels.join(winner(labels, "lbl"), "node", "left")
            .select(
                "node",
                F.col("lbl").alias("__p1"),
                "__p2",
                F.coalesce(F.col("__win"), F.col("lbl")).alias("lbl"),
            )
            # lazy cut: the probe aggregate below materializes the
            # checkpoint in the SAME job (one barrier per round, not
            # two - guide §1.2)
            .localCheckpoint(eager=False)
        )
        iters += 1
        probe = stepped.agg(
            F.coalesce(
                F.sum((F.col("lbl") != F.col("__p1")).cast("long")), F.lit(0)
            ).alias("changed"),
            F.coalesce(
                F.sum(
                    (~F.col("lbl").eqNullSafe(F.col("__p2"))).cast("long")
                ),
                F.lit(0),
            ).alias("cyc_diff"),
            F.count(F.lit(1)).alias("n"),
            F.count("__p2").alias("n_p2"),
        ).collect()[0]
        if probe.changed == 0:
            labels = stepped
            break
        if probe.n_p2 == probe.n and probe.cyc_diff == 0:
            # exact 2-cycle: one monotone breaking round (adopt only
            # strictly smaller winners) — Σlabels strictly decreases
            breaks += 1
            labels = (
                stepped.join(winner(stepped, "lbl"), "node", "left")
                .select(
                    "node",
                    F.when(
                        F.col("__win").isNotNull()
                        & (F.col("__win") < F.col("lbl")),
                        F.col("__win"),
                    )
                    .otherwise(F.col("lbl"))
                    .alias("lbl"),
                    # clear t-2 so the next cycle probe waits for two
                    # fresh post-break rounds (conservative: can only
                    # DELAY detection, never falsely fire)
                    F.lit(None).cast("long").alias("__p2"),
                )
                .localCheckpoint()
            )
        else:
            labels = stepped.select("node", "lbl", F.col("__p1").alias("__p2"))
    else:
        raise RuntimeError(
            f"label_propagation did not stabilize in {max_iter} rounds"
        )
    return labels, iters, breaks


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """K-CORE decomposition membership (Seidman 1983 — the classic
    community/spam-filter density peel): iteratively remove nodes of
    remaining-degree < k until a fixed point; what survives is the
    unique maximal subgraph with min degree ≥ k. Returns
    ``(node, in_core)`` (0/1 int) for every node of the input graph.

    Iteration discipline is g1's: one degree aggregate + one semi-join
    per round over an ever-shrinking edge set, lineage cut by
    localCheckpoint each round, loop exits when no node was removed
    (convergence ≤ peel-depth rounds, never ``max_iter`` in practice —
    the cap is a runaway guard that raises rather than silently
    truncating). Correctness evidence: the gate certifies min
    in-core degree ≥ k (the defining invariant); EQUALITY with the
    unique k-core is pytest-certified against an independent
    pure-python peel (the standard argument: every removal is
    justified at removal time + the survivor set satisfies the
    invariant ⇒ exactly the maximal core).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    cur = e
    # carry the edge count across rounds: cur is always the previous
    # round's nxt (already counted), so re-counting it cost one whole
    # job per round for a number already in hand (guide §1.2 —
    # remove work before tuning it)
    n_cur = e.count()
    for it in range(max_iter):
        deg = (
            cur.select(F.col("a").alias("n"))
            .unionAll(cur.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # keep stays EAGER: two semi-join branches consume it in one
        # job - a lazy cut would let both branches race-compute the
        # degree aggregate before the cache lands
        keep = deg.filter(F.col("d") >= k).select("n").localCheckpoint()
        nxt = (
            cur.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            # lazy cut: the carried-count probe materializes it in the
            # same job - one barrier per peel round instead of three
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        converged = n_nxt == n_cur
        cur, n_cur = nxt, n_nxt
        if converged:
            break
    else:
        raise RuntimeError(f"kcore did not converge in {max_iter} rounds")
    core_nodes = (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("in_core", F.lit(1))
    )
    return all_nodes.join(core_nodes, "node", "left").select(
        "node", F.coalesce("in_core", F.lit(0)).cast("int").alias("in_core")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 12,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source BOUNDED-HOP BFS shortest distances (the k-hop
    neighborhood primitive — feature radius for GNN sampling, blast-
    radius / lineage queries): for every node reachable within
    ``max_hops`` undirected hops of ANY source, its exact hop
    distance to the nearest source. The hop bound is part of the
    SEMANTICS (both the engine and any oracle cut at the same k), so
    results are well-defined even on graphs whose diameter exceeds
    the bound.

    ``sources`` is a one-column (``node``) frame. Iteration
    discipline is g1's: per hop ONE adjacency equi-join producing the
    candidate frontier + ONE anti-join against the settled set (a
    node is settled at its FIRST reach — BFS optimality), lineage cut
    by ``localCheckpoint``; the loop exit probe is a one-row count.
    Rounds ≤ min(max_hops, eccentricity), each shuffle carries only
    (node, dist) 16-byte rows — never the input data. No driver
    state beyond the loop counter; ``stats['hops']`` reports rounds
    run.

    Returns ``(node, dist)`` — sources at dist 0; unreached nodes
    absent (the caller left-joins if a sentinel is wanted).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # loop-static adjacency pre-partitioned by the join key once —
    # when the frontier is not broadcast-sized, every round's join
    # reuses this partitioning instead of re-exchanging the edge list
    # (guide §2.4); explicit count so AQE can't coalesce to one task
    adj = prepart(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))), ["u"]
    ).localCheckpoint()
    dist = (
        sources.select(F.col("node").cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .localCheckpoint()
    )
    frontier = dist.select("node")
    hops = 0
    for h in range(1, max_hops + 1):
        cand = (
            frontier.join(adj, frontier.node == adj.u)
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = cand.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(h).cast("int").alias("dist")
        ).localCheckpoint(eager=False)  # emptiness probe materializes
        # full count, not limit(1): CollectLimit over a lazy cut scans
        # partitions serially in growing waves; count() is one
        # parallel job and materializes the checkpoint as it goes
        if new.count() == 0:
            break
        hops = h
        dist = dist.unionAll(new).localCheckpoint(eager=False)
        frontier = new.select("node")
    if stats is not None:
        stats["hops"] = hops
    return dist


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_cost: int = 40,
    max_rounds: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source WEIGHTED shortest distances (distributed
    Bellman-Ford over undirected integer-weight edges) — the weighted
    sibling of :func:`bfs_distances` (routing cost, dependency
    latency, weighted blast radius). The COST CAP is part of the
    semantics, exactly like g8's hop bound: a node appears iff its
    true shortest distance to some source is ≤ ``max_cost``, with
    that exact distance — so a depth-guarded recursive-CTE oracle
    defines the SAME result set and the answer is exact integers.

    Iteration discipline (g1/g8): per round, ONE adjacency equi-join
    from the improved frontier, a min-aggregate on the candidate
    node, and one join against current distances to keep strict
    improvers; ``localCheckpoint`` cuts lineage and a one-row count
    probes convergence. Every shuffled row is (node, dist) — 16
    bytes, never input data. Rounds ≤ shortest-path hop count ≤
    ``max_cost``/min_weight, and convergence DETECTION takes one
    extra (non-improving) round — so the default cap is
    ``max_cost + 1`` (ADVICE r12: a unit-weight chain of exactly
    ``max_cost`` edges needs ``max_cost`` improving rounds plus the
    empty detection round; valid for integer weights ≥ 1). An
    explicit ``max_rounds`` must likewise exceed the worst-case hop
    count by one; the cap RAISES on overrun rather than silently
    truncating (the g5/g6 runaway rule).
    """
    if max_cost < 0:
        raise ValueError("max_cost must be >= 0")
    cap = max_cost + 1 if max_rounds is None else max_rounds
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("bigint").alias("w"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # same loop-static pre-partitioning as bfs_distances (guide §2.4)
    adj = prepart(
        e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")),
        ["u"],
    ).localCheckpoint()
    dist = (
        sources.select(F.col("node").cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    frontier = dist
    rounds = 0
    for _ in range(cap):
        cand = (
            frontier.join(adj, frontier.node == adj.u)
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .filter(F.col("nd") <= max_cost)
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist.withColumnRenamed("dist", "old"), "node", "left")
            .filter(F.col("old").isNull() | (F.col("nd") < F.col("old")))
            .select("node", F.col("nd").alias("dist"))
            .localCheckpoint(eager=False)  # emptiness probe materializes
        )
        if improved.count() == 0:  # full parallel probe (see bfs note)
            break
        rounds += 1
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionAll(improved)
            .localCheckpoint(eager=False)  # next round's join materializes
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"sssp_distances: no convergence within {cap} rounds — "
            "negative or fractional weights? raise max_rounds explicitly"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return dist


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity (Newman's mixing coefficient): the Pearson
    correlation of endpoint degrees over every directed realization of
    the undirected edge set — THE one-number answer to "do hubs link
    to hubs?" (social graphs: positive; infrastructure/co-occurrence:
    usually negative). Fully exact cross-engine: degrees and the four
    correlation sums (n, Σx, Σx², Σxy — Σy ≡ Σx by symmetry) are
    integer aggregates, and the final ratio is one shared expression
    tree over them (products in double: identical correctly-rounded
    ops on identical integers ⇒ identical result even past 53 bits).

    Plan: one degree aggregate (node-sized), TWO broadcast joins of
    the degree table onto the directed edge list, one global sum.
    Returns ONE row ``(n_nodes, n_edges, n_endpoints, sx, sxx, sxy,
    assortativity)``; NULL coefficient on a degree-regular graph
    (zero variance — the guarded CASE on both engines).
    """
    # canonicalize to (min, max) BEFORE dedup: a reversed duplicate in
    # the input would otherwise survive distinct() and double-count
    # both endpoint degrees (harmless in BFS's re-deduped frontiers,
    # corrupting here)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialized: consumed by both directions of the adjacency
        # union (hence the degree agg and the endpoint join) plus the
        # edge count — each re-ran the canonicalizing distinct
        # otherwise (guide §2.4)
        .localCheckpoint()
    )
    adj = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("__u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("__v"), F.col("d").alias("dv"))
    pairs = adj.join(F.broadcast(du), adj.u == du.__u).join(
        F.broadcast(dv), adj.v == dv.__v
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_endpoints"),
        F.sum("du").cast("bigint").alias("sx"),
        F.sum(F.expr("du * du")).cast("bigint").alias("sxx"),
        F.sum(F.expr("du * dv")).cast("bigint").alias("sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    r = (
        "CASE WHEN CAST(n_endpoints AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN"
        " (CAST(n_endpoints AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " / (CAST(n_endpoints AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
    )
    return (
        nodes.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_nodes",
            "n_edges",
            "n_endpoints",
            "sx",
            "sxx",
            "sxy",
            F.expr(r).alias("assortativity"),
        )
    )
