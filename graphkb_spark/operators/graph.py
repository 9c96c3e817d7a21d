"""Property-graph operators over the (vertices, edges) tables.

The reference stores edges as in_/out_ rid lists on vertices and
supports ``neighbors: n`` expansion on queries
(src/graphkb.js:341-372) plus edge-existence checks (``edgeExists``
src/graphkb.js:719-729). Here edges are one DataFrame
(out_rid, in_rid, edge_class, source_rid) — GraphFrames-compatible —
and n-hop expansion is n self-joins (each broadcastable when the
frontier is small; at scale the join keys are co-partitionable by rid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphkb_spark.core.materialize import materialize


def expand_neighbors(
    seeds: DataFrame,
    edges: DataFrame,
    id_col: str,
    n: int = 1,
    edge_classes: list[str] | None = None,
    directed: bool = False,
) -> DataFrame:
    """Return the ids within ``n`` hops of ``seeds`` (including seeds),
    with the hop distance. BFS via iterative joins — the frontier
    stays a DataFrame throughout (no driver collect).
    """
    e = edges
    if edge_classes:
        e = e.filter(F.col("edge_class").isin(edge_classes))
    fwd = e.select(F.col("out_rid").alias("src"), F.col("in_rid").alias("dst"))
    if not directed:
        fwd = fwd.unionByName(
            e.select(F.col("in_rid").alias("src"), F.col("out_rid").alias("dst"))
        )

    visited = seeds.select(F.col(id_col).alias("rid")).distinct().withColumn(
        "hop", F.lit(0)
    )
    frontier = visited
    for hop in range(1, n + 1):
        nxt = (
            frontier.join(fwd, frontier["rid"] == fwd["src"])
            .select(F.col("dst").alias("rid"))
            .distinct()
            .join(visited.select("rid"), "rid", "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        # truncate lineage each hop: without this the plan doubles per
        # iteration (hop k re-embeds every earlier hop's joins) — the
        # standard checkpoint step of any iterative DataFrame algorithm
        nxt = nxt.transform(materialize, eager=False)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 16,
    rounds: int | None = None,
) -> DataFrame:
    """All (node, ancestor, dist) reachability pairs over an acyclic
    edge set, via pointer doubling: round k joins the current path set
    with itself, so paths up to length 2^k exist after k rounds —
    O(log depth) shuffle rounds instead of O(depth) frontier steps,
    the scale-right shape for deep hierarchies (the reference walks
    ``subclassof``/``elementof`` chains one hop at a time per query,
    src/graphkb.js:341-372; here the whole closure is materialized
    once and every downstream rollup is an equi-join).

    ``dist`` is the minimum path length (on a tree, the unique one).
    Each round localCheckpoints (lineage would otherwise double per
    round) and converges when no new (src, dst) pair appears.
    Self-loops would never terminate; they are excluded up front.

    ``rounds``: when the caller KNOWS the hierarchy depth, run exactly
    that many doubling rounds (covers any depth <= 2^rounds) with NO
    per-round convergence count — each count is a full job, so fixed
    rounds halve the job count of the whole closure. Fixed-rounds mode
    also checkpoints LAZILY: the per-round RDD is shared (a DAG, not a
    copy), so the whole closure schedules as one job instead of one
    per round — measured 24% faster at sf0.1 — while the checkpoint
    still truncates lineage for downstream consumers (every 3rd round
    checkpoints eagerly to bound the unexecuted plan's growth — the
    self-join would otherwise double the plan per round). Convergence mode
    must stay eager (each round's count materializes it anyway).
    Under-providing rounds silently truncates long paths; use the
    convergence mode (default) when depth is unknown.
    """
    check_convergence = rounds is None
    paths = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .transform(materialize, eager=check_convergence)
    )
    n = paths.count() if check_convergence else 0
    for _r in range(rounds if rounds is not None else max_rounds):
        left = paths.alias("l")
        right = paths.alias("r")
        extended = left.join(
            right, F.col("l.dst") == F.col("r.src")
        ).select(
            F.col("l.src").alias("src"),
            F.col("r.dst").alias("dst"),
            (F.col("l.dist") + F.col("r.dist")).alias("dist"),
        )
        paths = (
            paths.unionByName(extended)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
            # lazy mode: each round references `paths` twice (self-join),
            # so a purely lazy chain doubles the UNEXECUTED plan per
            # round (~2^rounds join nodes) — an eager checkpoint every
            # 3rd round bounds driver-side planning to ~8 joins per
            # segment while keeping most of the single-job win
            .transform(materialize, eager=check_convergence or (_r % 3 == 2))
        )
        if check_convergence:
            n2 = paths.count()
            if n2 == n:
                break
            n = n2
    return paths


def hierarchy_rollup(
    facts: DataFrame,
    edges: DataFrame,
    fact_node: str,
    agg_exprs: list[Column],
    src: str = "src",
    dst: str = "dst",
    include_self: bool = True,
    closure_rounds: int | None = None,
) -> DataFrame:
    """Aggregate fact rows up an acyclic hierarchy: every fact counts
    toward its own node (``include_self``) and every ancestor of it.

    The closure is computed once (pointer doubling, above) and the
    rollup is a single equi-join + partial-aggregating groupBy on the
    ancestor key — no per-level passes over the fact table, which is
    the property that matters when facts are 100 TB and the hierarchy
    is a dimension. Returns one row per ancestor node (column
    ``node``) with the aggregates.

    The closure join carries no broadcast hint: the closure is
    O(nodes x depth), and a deep or wide hierarchy can exceed the
    broadcast limit, where a forced hint fails the job instead of
    degrading to a shuffle join.
    """
    closure = transitive_closure(
        edges, src=src, dst=dst, rounds=closure_rounds
    ).select(F.col("src").alias(fact_node), F.col("dst").alias("node"))
    if include_self:
        nodes = (
            edges.select(F.col(src).alias(fact_node))
            .unionByName(edges.select(F.col(dst).alias(fact_node)))
            .distinct()
        )
        closure = closure.unionByName(
            nodes.withColumn("node", F.col(fact_node))
        )
    joined = facts.join(closure, fact_node)
    return joined.groupBy("node").agg(*agg_exprs)


def edge_exists(
    pairs: DataFrame, edges: DataFrame, out_col: str, in_col: str, edge_class: str
) -> DataFrame:
    """Annotate (out, in) candidate pairs with whether the edge already
    exists (left_semi shape, reference ``edgeExists``)."""
    e = edges.filter(F.col("edge_class") == edge_class).select(
        F.col("out_rid").alias(out_col), F.col("in_rid").alias(in_col)
    ).withColumn("__exists", F.lit(True)).dropDuplicates([out_col, in_col])
    return pairs.join(e, [out_col, in_col], "left").withColumn(
        "edge_exists", F.coalesce(F.col("__exists"), F.lit(False))
    ).drop("__exists")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    n_iter: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point power-iteration PageRank over an edge list,
    bit-deterministic across engines BY CONSTRUCTION: ranks live as
    BIGINT micro-units (``scale`` = 1.0), every step is integer
    arithmetic (div for the out-degree split, exact bigint sums for
    the gather, ``damping_pct``/100 as integer multiply-then-div), so
    there is no floating-point anywhere an aggregation order or a libm
    could perturb — an external SQL engine replays the identical
    trajectory, unrolled round by round. Returns (node, rank) for
    every node in the edge list; dangling nodes contribute nothing
    (classic simplified formulation: rank = (1-d) + d * sum of
    rank_src / outdeg_src over in-neighbors). Fixed-point truncation
    biases each contribution down by < 1/scale — irrelevant for a
    ranking signal at scale=1e12.

    Overflow-safe by construction: the gather ``sum`` and the
    ``damping_pct *`` multiply run in DECIMAL(38,0) (exact integer
    arithmetic to 1e38 — any realistic graph), then drop back to
    BIGINT after ``div 100``; that final value is bounded by the total
    rank mass, which never exceeds n_nodes * scale, so the cast is
    safe wherever the initial ranks were representable. No silent
    int64 wraparound at any node count (the earlier all-BIGINT gather
    wrapped beyond ~1e5 nodes per gather under Spark's non-ANSI mode);
    the per-round integers are unchanged where both are exact, so
    external oracles replay the identical trajectory.

    Scale shape: out-degrees are attached to the node table ONCE
    before the loop; each iteration is then a single rank-attach join
    on the edge source (contributions pre-divided at attach time) +
    one keyed contribution shuffle (map-side combinable) + the
    node-table left join for dangling nodes, localCheckpointed so
    lineage stays flat — 2 joins per round, the minimal distributed
    power-iteration layout.
    """
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        # out-degree joined once, outside the loop (dangling nodes keep
        # a null __deg but never appear as a join source below)
        .join(outdeg.withColumnRenamed("__s", "node"), "node", "left")
        .transform(materialize, eager=False)
    )
    base = F.lit((100 - damping_pct) * scale // 100).cast("long")
    ranks = nodes.withColumn("rank_fx", F.lit(scale).cast("long"))
    gather = F.expr(
        f"CAST((CAST({damping_pct} AS DECIMAL(38,0))"
        " * coalesce(__sum, CAST(0 AS DECIMAL(38,0)))) div 100 AS BIGINT)"
    )
    for _ in range(n_iter):
        contrib = e.join(ranks.withColumnRenamed("node", "__s"), "__s").select(
            F.col("__d").alias("node"),
            F.expr("rank_fx div __deg").cast("decimal(38,0)").alias("__c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("__c").alias("__sum"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select("node", "__deg", (base + gather).alias("rank_fx"))
            .transform(materialize, eager=False)
        )
    return ranks.select(
        "node", F.round(F.col("rank_fx") / F.lit(float(scale)), 6).alias("rank")
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected edge list —
    the clustering/cohesion signal (and the standard join-based
    distributed triangle enumeration): normalize edges to u < v,
    enumerate wedges a<b<c via one self-join, close them against the
    edge list, and credit each triangle to its three corners.
    Returns (node, n_triangles) for nodes in at least one triangle.

    Scale shape: the degree-ordered orientation (a<b<c on normalized
    edges) caps wedge counts: edges are oriented low→high by
    (degree, id) — the classic compact-forward orientation — so every
    node's out-degree is O(sqrt(m)) and total wedge work is O(m^1.5)
    regardless of hub degree (an ID-ordered orientation would leave a
    mid-ID hub with quadratic wedges). Every wedge is generated
    exactly once (out-neighbor pairs of one source, ordered by the
    same key), so no triangle is counted twice and no post-hoc /6
    division hides duplicate work. Exchanges: edge distinct, the
    degree aggregate, two degree-lookup joins, the wedge self-join on
    the source, and the output-bound closing join on (b, c) — never
    all-pairs; AQE splits any residual skew."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # eager stays here (unlike kcore, opt r18): even with the
        # single-pass degree explode, e feeds the deg subtree AND two
        # keyed joins inside the first job, so a lazy checkpoint would
        # still compute the edge build more than once before blocks
        # exist
        .transform(materialize, eager=True)
    )
    deg = (
        # single-branch explode instead of a two-branch union: one read
        # of the pinned edge blocks, identical counts (opt r18, see
        # kcore.degrees)
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .transform(materialize, eager=False)
    )
    # orient each edge from the (degree, id)-smaller endpoint to the
    # larger; carry the head's key so wedge ordering needs no re-join.
    # deg (node-sized, tiny vs edges) is pinned so the three downstream
    # uses of `keyed` don't re-aggregate it; keyed itself is NOT pinned
    # — each use is one broadcast join off the pinned e/deg scans,
    # cheaper than a write barrier of all m oriented edges
    uk = F.struct(F.col("__du").alias("d"), F.col("u").alias("n"))
    vk = F.struct(F.col("__dv").alias("d"), F.col("v").alias("n"))
    keyed = (
        e.join(
            deg.select(F.col("node").alias("u"), F.col("__deg").alias("__du")), "u"
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("__deg").alias("__dv")), "v"
        )
        .select(
            F.when(uk < vk, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(uk < vk, F.col("v")).otherwise(F.col("u")).alias("hi"),
            F.greatest(uk, vk).alias("hk"),
        )
    )
    # no second materialize: e is pinned above and deg is a
    # broadcast-sized lookup, so the three downstream uses of `keyed`
    # each re-derive it with one broadcast join off the pinned scan —
    # cheaper than a second full write barrier of all m edges
    wedge = (
        keyed.select(
            F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("hk").alias("bk")
        )
        .join(
            keyed.select(
                F.col("lo").alias("a"), F.col("hi").alias("c"), F.col("hk").alias("ck")
            ),
            "a",
        )
        .filter(F.col("bk") < F.col("ck"))
    )
    tri = wedge.join(
        keyed.select(F.col("lo").alias("b"), F.col("hi").alias("c")), ["b", "c"]
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def cooccurrence_edges(
    events: DataFrame,
    actor_col: str,
    item_col: str,
    min_shared: int = 2,
    actor_cap: int | None = 50,
) -> DataFrame:
    """Bipartite projection: build the item-item co-occurrence graph
    (items sharing >= ``min_shared`` distinct actors) from an
    (actor, item) interaction log — co-click/co-purchase/co-citation
    graph construction, the input to similarity and community steps.
    Returns (item_a, item_b, n_shared), item_a < item_b.

    Scale shape: distinct (actor, item) pairs (one partial-agg'd
    shuffle), then the pair generation is a self-join ON THE ACTOR KEY
    — per-actor output is quadratic in that actor's degree, which is
    the real scale hazard, so ``actor_cap`` bounds it: actors keep at
    most that many items (deterministic md5 order), turning a
    10^6-degree power-user into a bounded contributor instead of a
    10^12-pair bomb (the standard projection-sampling trade; None
    disables the cap). Hot residual actors are AQE-skew-split. The
    final (item_a, item_b) count partial-aggregates map-side."""
    pairs = events.select(
        F.col(actor_col).alias("__a"), F.col(item_col).alias("__i")
    ).dropDuplicates(["__a", "__i"])
    if actor_cap is not None:
        from pyspark.sql import Window as _W

        w = _W.partitionBy("__a").orderBy(
            F.md5(F.col("__i").cast("string")).asc(), F.col("__i").asc()
        )
        pairs = (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= actor_cap)
            .drop("__rn")
        )
    a = pairs.select("__a", F.col("__i").alias("item_a"))
    b = pairs.select("__a", F.col("__i").alias("item_b"))
    return (
        a.join(b, "__a")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """K-core peeling over an undirected graph: repeatedly delete
    vertices of degree < k; what survives ``rounds`` peels is (an
    over-approximation of) the k-core — the standard density filter
    before community detection, and the graph analogue of the corpus
    quality gates. Returns (node, degree) of the surviving subgraph,
    degree measured IN that subgraph.

    Fixed-rounds contract (the ``transitive_closure`` lesson): each
    peel is degree-count + semi-joins, a full shuffle round, so the
    caller picks the round budget instead of paying a convergence
    count per round. With ``rounds`` peels the result can only be
    LARGER than the true k-core (peeling is monotone); on most graphs
    degeneracy peeling converges in a handful of rounds. Plans stay
    bounded: every peel rebuilds the edge set from a localCheckpoint
    (lazy — the next round's shuffle materializes it), eager every 3rd
    round so the unexecuted plan cannot grow with the round count.

    Scale shape per round: one partial-agg shuffle for degrees and two
    semi-joins (broadcast when the survivor set is small, AQE decides)
    — never an all-pairs or a collect."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u, v = F.col(src), F.col(dst)
    e = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy again (opt r18): r17 made this eager because the degree
        # UNION consumed e in two plan branches, double-computing the
        # edge build inside the first job; the balanced A/B showed the
        # extra eager job bought the wash back (0.99x vs r16). The
        # degree count below is now a single-branch explode, so the
        # round-0 degree job touches e exactly once and materializes
        # the blocks as a side effect — no duplicated edge build AND
        # no dedicated checkpoint job.
        .transform(materialize, eager=False)
    )

    def degrees(ef: DataFrame, out: str) -> DataFrame:
        # one pass, not a two-branch union: explode(array(u, v)) emits
        # both endpoints from a single read of ef, so a lazily
        # checkpointed ef is computed once by this job instead of once
        # per union branch (opt r18, guide §1.2 — the same multiset,
        # hence identical counts)
        return (
            ef.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias(out))
        )

    for r in range(rounds):
        keep = degrees(e, "degree").filter(F.col("degree") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .transform(materialize, eager=(r % 3 == 2))
        )
    return degrees(e, "degree").withColumn(
        "degree", F.col("degree").cast("bigint")
    )


def negative_edge_samples(
    edges: DataFrame,
    n_nodes: int,
    k: int = 3,
    oversample: int = 3,
    src: str = "src",
    dst: str = "dst",
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training:
    for every source node, propose md5-derived candidate destinations,
    drop self-loops and EXISTING edges (true negatives only), keep the
    first ``k`` per source in proposal order. Content-free hash
    "randomness" (the split_assign contract), so corpora regenerate
    the identical negative set on every run and in any engine.
    Returns (src, dst, neg_rank).

    Scale shape: candidates are a narrow explode (oversample * k per
    source), the existing-edge check is ONE anti-join on (src, dst)
    — partial and broadcast-able when the edge side is the smaller —
    and the per-source cut is a keyed window over <= oversample * k
    rows. Sources whose candidates all collide with real edges
    under-fill (documented; raise ``oversample``)."""
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    m = k * oversample
    srcs = edges.select(F.col(src).alias("__s")).distinct()
    i = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__i")
    cand = srcs.select("__s", i)
    proposal = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(salt), F.col("__s").cast("string"),
                        F.col("__i").cast("string"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint"),
        F.lit(n_nodes),
    )
    cand = cand.select("__s", "__i", proposal.alias("__d")).filter(
        F.col("__s") != F.col("__d")
    )
    existing = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d")
    ).distinct()
    negs = cand.join(existing, ["__s", "__d"], "left_anti")
    w = Window.partitionBy("__s").orderBy(F.col("__i").asc())
    return (
        negs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__s").alias(src),
            F.col("__d").alias(dst),
            F.col("__rn").cast("int").alias("neg_rank"),
        )
    )
