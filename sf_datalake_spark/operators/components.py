"""Connected components over a candidate-pair graph — dedup clustering.

Training-data-pipeline operator (beyond the reference's surface): the
dedup family (``operators.dedup``) emits near-duplicate PAIRS; a real
pipeline needs CLUSTERS — every document labeled with a canonical
representative so one keep-decision removes the whole duplicate group.
That label is the connected component of the pair graph.

Algorithm: hash-min label propagation (the "HASH-MIN" scheme of the
MapReduce connected-components literature — Rastogi et al., "Finding
Connected Components in Map-Reduce in Logarithmic Rounds", ICDE 2013):
every node starts labeled with itself; each round every node takes the
minimum label among itself and its neighbors; fixpoint after
O(graph diameter) rounds.  Near-duplicate clusters are dense and tiny
(a duplicate group is near-clique shaped), so the diameter — and the
round count — is small in practice; ``max_iter`` bounds pathological
chains.

Scale design:
- Each round is ONE equi-join (edges ⋈ labels on dst) + ONE groupBy(src)
  min — both shuffle on node id, and AQE coalesces as labels shrink.
- The edge list is re-used every round; it is worth ``.persist()``-ing
  by the caller for big graphs. Labels are ``localCheckpoint``-ed every
  round, otherwise the iterative plan's lineage grows linearly and
  Catalyst re-analyzes an ever-deeper tree (the classic iterative-Spark
  trap). On a cluster with unreliable executors, swap for reliable
  ``checkpoint()`` to a replicated store.
- Convergence is detected with a one-scalar aggregate per round over the
  (small) label table — never over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 50,
    edges_per_partition: int = 4_000_000,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the
    minimum node id of its connected component.

    Returns ``(id, component)`` for every node that appears in at least
    one edge. Nodes are whatever orderable type the edge columns hold
    (dedup uses bigint doc ids).

    Adaptive execution, same spirit as broadcast-vs-shuffle joins: a
    graph of at most ``driver_threshold`` edges is solved with one
    driver-side union-find, replacing ~10 rounds × 4 distributed jobs
    of pure scheduling overhead; anything larger runs the distributed
    hash-min loop. Budget ~350 B of driver heap per collected edge
    (pyspark Row + union-find dict entries) — the default 1M-edge
    threshold costs ~350 MB peak, sized for this engine's multi-GB
    driver default; lower it for thin drivers. Both paths produce the
    identical min-label result (equivalence is unit-tested). Pass
    ``driver_threshold=0`` to force the distributed path.

    For the distributed path the edge list is persisted internally (it
    drives every round) and right-sized to
    ``ceil(n_edges / edges_per_partition)`` partitions first: the
    loop's per-round cost is dominated by task scheduling, not data,
    whenever partitions are thinner than a few million edges — a
    billion-edge graph still gets hundreds of partitions, while a
    dedup pair graph collapses to a handful.
    """
    import math

    # Persist the DIRECTED list first: the (possibly expensive) upstream
    # pair pipeline then runs exactly once — the undirected view and the
    # driver-side collect both read the cached rows.
    directed = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).persist()
    try:
        n_edges = directed.count()
        if n_edges <= driver_threshold:
            return _components_driver(directed)
        und = directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
        try:
            parts = max(1, math.ceil(2 * n_edges / edges_per_partition))
            if parts < und.rdd.getNumPartitions():
                resized = und.repartition(parts).persist()
                resized.count()
                und.unpersist()
                und = resized
            else:
                und.count()
            labels, converged = _propagate(und, parts, max_iter)
        finally:
            und.unpersist()
    finally:
        # genuine persists: release them even when a round's action
        # throws (task failure, interrupt) — the caller never sees
        # these frames and could not clean them up otherwise.
        directed.unpersist()
    if not converged:
        # Partially-propagated labels would silently split components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the graph's diameter exceeds max_iter; raise it"
        )
    return labels


def _components_driver(directed: DataFrame) -> DataFrame:
    """Small-graph path: collect the (bounded, already-persisted) edge
    list, run path-compressing union-find on the driver, return the same
    ``(id, component)`` min-label frame the distributed loop yields."""
    rows = directed.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the component label IS the min id, so
            # the final relabel pass needs no extra minimum bookkeeping
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(node, find(node)) for node in parent]
    id_type = dict(directed.dtypes)["src"]
    return directed.sparkSession.createDataFrame(
        out, f"id {id_type}, component {id_type}"
    )


def _propagate(und: DataFrame, parts: int, max_iter: int):
    """The label-propagation loop: returns (labels, converged)."""
    # Seed labels with min(id, min(neighbors)) — one aggregation that is
    # exactly the first propagation round, minus its join.
    # coalesce (not repartition): caps the reduce-side width of the
    # upstream shuffle at the data-proportional count with NO extra
    # exchange; a no-op when parts exceeds the shuffle width.
    labels = (
        und.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.min("src"), F.min("dst")).alias("component"))
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )
    converged = False
    for round_no in range(max_iter):
        # Per round, from the SAME materialized label snapshot:
        #   (a) neighbor min      — min component over the adjacency
        #   (b) pointer jump      — component of my component
        # (b) is the pointer-doubling step: once min-labels form chains
        # (v→u→w→…), each round shortcuts through them, dropping
        # convergence from O(diameter) toward O(log diameter) rounds —
        # measured 14 → 10 on the sf0.1 LSH pair graph.
        neighbor_min = (
            und.join(labels, und.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        cmap = labels.select(
            F.col("id").alias("cid"), F.col("component").alias("ccomp")
        )
        best = F.least(
            "component",
            F.coalesce("nbr_component", "component"),
            F.coalesce("ccomp", "component"),
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .join(cmap, labels.component == cmap.cid, "left")
            # Sibling select expressions resolve against the input
            # schema, so "component" can be re-aliased directly while
            # "changed" still reads the pre-update value.
            .select(
                "id",
                best.alias("component"),
                (best < F.col("component")).alias("changed"),
            )
            # Checkpoint at the data-proportional width (no-op beyond
            # the shuffle width): a tiny label table materialized across
            # spark.sql.shuffle.partitions-wide outputs makes every
            # round scheduler-bound.
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        n_changed = updated.agg(
            F.count(F.when(F.col("changed"), 1)).alias("n")
        ).first()["n"]
        labels = updated.drop("changed")
        # Superseded snapshots' blocks are freed by the ContextCleaner
        # only after the JVM Datasets holding them are GC'd (DataFrame
        # .unpersist() is a CacheManager call and does NOT release
        # localCheckpoint blocks). The Python refs drop each rebind; a
        # periodic GC nudge bounds the in-flight snapshots on long loops.
        if (round_no + 1) % 8 == 0:
            und.sparkSession.sparkContext._jvm.System.gc()
        if n_changed == 0:
            converged = True
            break
    return labels, converged


def pagerank(
    edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    n_iter: int = 10,
    damping: float = 0.85,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """PageRank over a DIRECTED edge list, fixed ``n_iter`` power
    iterations (fixed rounds, not convergence-tested ⇒ deterministic
    row counts and reproducible values).

    Returns ``(id, rank)`` for every node appearing in an edge; ranks
    sum to 1. Dangling nodes (no out-edges) redistribute their mass
    uniformly, the standard correction.

    Same adaptive shape as :func:`connected_components`: at or under
    ``driver_threshold`` edges, one bounded collect + numpy power
    iteration; above it, each round is one join (edges ⋈ ranks on src)
    + one groupBy(dst) sum — both shuffling node ids only — with the
    rank table ``localCheckpoint``-ed per round to keep the iterative
    lineage flat (the identical discipline and caveats as the
    components loop).
    """
    directed = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).persist()
    try:
        n_edges = directed.count()
        if n_edges <= driver_threshold:
            return _pagerank_driver(directed, n_iter, damping)
        nodes = (
            directed.select(F.col("src").alias("id"))
            .union(directed.select(F.col("dst").alias("id")))
            .distinct()
            .persist()
        )
        try:
            n = nodes.count()
            # alias the degree key at its source: deg shares lineage
            # with `directed`, and a same-attribute join would trip the
            # ambiguous-self-join check. Loop-invariant → persisted
            # once, not re-aggregated every round.
            deg = (
                directed.select(F.col("src").alias("__deg_id"))
                .groupBy("__deg_id")
                .agg(F.count("*").alias("__deg"))
                .persist()
            )
            ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
                eager=True
            )
            try:
                for round_no in range(n_iter):
                    # with_deg feeds two actions per round (dangling
                    # mass, contribs) — persist so the ranks⋈deg join
                    # runs once; released per round even on failure
                    with_deg = (
                        ranks.join(deg, ranks.id == deg["__deg_id"], "left")
                        .select("id", "rank", "__deg")
                        .persist()
                    )
                    try:
                        dangling = with_deg.filter(F.col("__deg").isNull()).agg(
                            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m")
                        ).first()["m"]
                        contribs = (
                            directed.join(with_deg, directed.src == with_deg.id)
                            .select(
                                "dst",
                                (F.col("rank") / F.col("__deg")).alias("__c"),
                            )
                            .groupBy("dst")
                            .agg(F.sum("__c").alias("__in"))
                        )
                        base = (1.0 - damping) / n + damping * dangling / n
                        ranks = (
                            nodes.join(contribs, nodes.id == contribs.dst, "left")
                            .select(
                                "id",
                                (
                                    F.lit(base)
                                    + F.lit(damping)
                                    * F.coalesce("__in", F.lit(0.0))
                                ).alias("rank"),
                            )
                            .localCheckpoint(eager=True)
                        )
                    finally:
                        with_deg.unpersist()
                    # same superseded-snapshot discipline as _propagate:
                    # localCheckpoint blocks fall to the ContextCleaner
                    # only after JVM GC of the old Dataset refs
                    if (round_no + 1) % 8 == 0:
                        directed.sparkSession.sparkContext._jvm.System.gc()
            finally:
                deg.unpersist()
            return ranks
        finally:
            nodes.unpersist()
    finally:
        directed.unpersist()


def pagerank_ppm(
    edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    n_iter: int = 5,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Integer fixed-point PageRank — the ORACLE-EXACT variant of
    :func:`pagerank` (round 6): every operation is int64, so a DuckDB
    recursive CTE replays the ranks bit-for-bit and the strict value
    gate applies where the float variant could only be rows-only.

    Spec (micro-units, damping 0.85 as the 150 000 / 850 000 split):
    ``r_0(v) = 1_000_000`` for every node; per round
    ``r'(v) = 150_000 + (850 * Σ_{u→v} (r(u) div out(u))) div 1_000``
    with truncating integer division at both steps.  Dangling mass is
    DROPPED, not redistributed (ranks no longer sum to N·10⁶) —
    symmetrize the edge list upstream when that matters, as the
    near-dup pair graph does.  Overflow headroom: the contribution sum
    is ≤ n·10⁶, so 850·Σ stays inside int64 up to ~10¹⁰ nodes.

    Same adaptive shape as :func:`pagerank`: bounded collect + Python
    ints under ``driver_threshold`` edges, else per-round join +
    groupBy (node-id shuffles only) with localCheckpoint lineage
    discipline.  Returns ``(id, rank_ppm)``.
    """
    directed = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).persist()
    try:
        n_edges = directed.count()
        if n_edges <= driver_threshold:
            rows = directed.collect()
            ids = sorted({r[0] for r in rows} | {r[1] for r in rows})
            out: dict = {}
            for r in rows:
                out[r[0]] = out.get(r[0], 0) + 1
            rank = {v: 1_000_000 for v in ids}
            for _ in range(n_iter):
                s = {v: 0 for v in ids}
                for r in rows:
                    s[r[1]] += rank[r[0]] // out[r[0]]
                rank = {v: 150_000 + (850 * s[v]) // 1_000 for v in ids}
            id_type = dict(directed.dtypes)["src"]
            spark = directed.sparkSession
            return spark.createDataFrame(
                [(v, rank[v]) for v in ids],
                f"id {id_type}, rank_ppm bigint",
            )
        nodes = (
            directed.select(F.col("src").alias("id"))
            .union(directed.select(F.col("dst").alias("id")))
            .distinct()
            .persist()
        )
        deg = (
            directed.select(F.col("src").alias("__deg_id"))
            .groupBy("__deg_id")
            .agg(F.count("*").alias("__deg"))
            .persist()
        )
        try:
            ranks = nodes.withColumn(
                "rank_ppm", F.lit(1_000_000).cast("long")
            ).localCheckpoint(eager=True)
            for _ in range(n_iter):
                contribs = (
                    directed.join(ranks, directed.src == ranks.id)
                    .join(deg, F.col("src") == F.col("__deg_id"))
                    .select(
                        "dst",
                        F.expr("rank_ppm div __deg").alias("__c"),
                    )
                    .groupBy("dst")
                    .agg(F.sum("__c").alias("__in"))
                )
                ranks = (
                    nodes.join(contribs, nodes.id == contribs.dst, "left")
                    .select(
                        "id",
                        F.expr(
                            "150000L + (850L * coalesce(__in, 0L)) div 1000L"
                        ).alias("rank_ppm"),
                    )
                    .localCheckpoint(eager=True)
                )
            return ranks
        finally:
            deg.unpersist()
            nodes.unpersist()
    finally:
        directed.unpersist()


def _pagerank_driver(directed: DataFrame, n_iter: int, damping: float) -> DataFrame:
    """Small-graph path: numpy power iteration, same formula (uniform
    init, dangling redistribution)."""
    import numpy as np

    rows = directed.collect()
    ids = sorted({r[0] for r in rows} | {r[1] for r in rows})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    if n == 0:
        id_type = dict(directed.dtypes)["src"]
        return directed.sparkSession.createDataFrame(
            [], f"id {id_type}, rank double"
        )
    src_i = np.array([idx[r[0]] for r in rows])
    dst_i = np.array([idx[r[1]] for r in rows])
    deg = np.bincount(src_i, minlength=n)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = rank[deg == 0].sum()
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, rank[src_i] / deg[src_i])
        rank = (1.0 - damping) / n + damping * (contrib + dangling / n)
    id_type = dict(directed.dtypes)["src"]
    return directed.sparkSession.createDataFrame(
        [(v, float(rank[idx[v]])) for v in ids], f"id {id_type}, rank double"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Cluster-label every document given near-duplicate ``pairs``
    (``id_1``/``id_2``).

    Documents in no pair form singleton clusters (their own id). Output
    ``(id_col, cluster_id, is_canonical)`` — ``keep="min"`` marks the
    minimum id of each cluster canonical, the deterministic policy; a
    quality-ranked policy is a one-line swap of the min.
    """
    if keep != "min":
        raise ValueError(f"unsupported keep policy: {keep!r}")
    comp = connected_components(pairs, "id_1", "id_2").withColumnRenamed(
        "id", id_col
    )
    out = docs.select(id_col).join(comp, id_col, "left").select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("cluster_id"),
    )
    return out.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id")).cast("int")
    )


def resolve_duplicates(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Turn cluster labels into keep/drop decisions: within each
    near-dup cluster keep the highest-``quality_col`` document
    (ties broken by minimum id), drop the rest — the last step that
    makes a dedup pipeline actionable as a corpus filter.

    Output ``(id_col, cluster_id, quality, keep, kept_id)``: ``keep``
    flags the survivor, ``kept_id`` points every member at it (the
    redirect table a downstream join uses to remap citations /
    references onto surviving documents).

    Plan: one equi-join of labels to quality (both sides hash-partition
    on ``id_col``) and one window over ``cluster_id`` — cluster sizes
    are bounded by the candidate generator's band width, so the window
    partition never skews beyond a duplicate group.  Unlike
    ``dedup_clusters``'s fixed min-id policy this ranks on data
    quality, which is the policy large corpus dedups actually run
    (keep the longest / highest-scoring copy).
    """
    from pyspark.sql import Window

    joined = clusters.join(docs.select(id_col, quality_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    return joined.select(
        id_col,
        "cluster_id",
        F.col(quality_col).alias("quality"),
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
        F.first(F.col(id_col)).over(w).alias("kept_id"),
    )


def triangle_stats(
    pairs: DataFrame,
    id_col_1: str = "id_1",
    id_col_2: str = "id_2",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients over
    an undirected pair graph — the standard quality diagnostics for a
    near-duplicate graph (high clustering = dense duplicate cliques the
    LSH banding found consistently; triangles ≈ 0 = noisy pairs).

    Output (id, degree, triangles, clustering) with ``clustering =
    2·T / (d·(d−1))`` (0.0 for degree < 2), rounded at 6.

    Algorithm: degree-ordered edge orientation (Cohen 2009 / the
    MapReduce-folklore triangle count) — each undirected edge directs
    from its lower-(degree, id) endpoint to the higher one, wedges pair
    the out-neighbors of each node, and a final equi-join against the
    oriented edge set closes them.  Orientation bounds every node's
    out-degree by O(√m) on any graph (arboricity), so the wedge join —
    the quadratic danger — is skew-safe even when a hub document pairs
    with everything: the hub's edges all point INTO it, producing no
    wedges at the hub.  Three shuffles (degree count, wedge join,
    closing join), all on node ids.

    The normalized edge list and the oriented edge set are
    localCheckpoint-ed (lineage truncation, ContextCleaner-managed --
    same discipline as :func:`connected_components`): ``e`` feeds three
    plan references and ``d`` three more, so without pinning the
    CALLER'S pair-generation pipeline (for the registry query: the full
    minhash+LSH band join) re-executes up to nine times -- audited at
    120 exchanges / 34 scans in round 5, versus single digits pinned.
    """
    e = (
        pairs.select(
            F.least(id_col_1, id_col_2).alias("a"),
            F.greatest(id_col_1, id_col_2).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    # orient by (degree, id): src = lower endpoint under that order
    withdeg = (
        e.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    d = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    ).localCheckpoint(eager=True)
    d1, d2 = d.alias("d1"), d.alias("d2")
    wedge_order = (F.col("d1.dst_deg") < F.col("d2.dst_deg")) | (
        (F.col("d1.dst_deg") == F.col("d2.dst_deg"))
        & (F.col("d1.dst") < F.col("d2.dst"))
    )
    wedges = d1.join(d2, (F.col("d1.src") == F.col("d2.src")) & wedge_order).select(
        F.col("d1.src").alias("u"),
        F.col("d1.dst").alias("v"),
        F.col("d2.dst").alias("w"),
    )
    tri = wedges.join(
        d.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"]
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 40,
    driver_threshold: int = 1_000_000,
    dedup_edges: bool = True,
) -> DataFrame:
    """Vertices of the k-core — the maximal subgraph in which every
    vertex keeps degree >= k — with their within-core degree.

    The classic peeling fixpoint (Seidman 1983, public literature):
    repeatedly delete vertices of degree < k until none remain.
    Returns ``(id, core_degree)``.

    Adaptive like :func:`connected_components`: graphs up to
    ``driver_threshold`` edges peel on the driver (bucket-queue,
    O(E)); larger graphs run the distributed loop — per round ONE
    degree aggregation and two semi-joins against the >= k survivor
    set, snapshots localCheckpoint'ed at a data-proportional width so
    lineage never compounds.  Peeling is monotone (the alive set only
    shrinks), so round count is bounded by the graph's degeneracy
    ordering depth — single digits on similarity graphs; a RuntimeError
    names ``max_iter`` when a pathological chain exceeds it.
    Both paths return identical frames (unit-tested).
    """
    import math

    # canonicalize + distinct: duplicate edges (either orientation)
    # must not double-count degrees — the driver path's adjacency SETS
    # dedup implicitly, so the distributed path must match.
    # ``dedup_edges=False`` skips that full exchange for callers whose
    # edge source is ALREADY canonical (src < dst) and unique — e.g.
    # ``frequent_pairs`` output, unique by its groupBy(item_1, item_2)
    # construction (same contract as label_propagation_sync's flag;
    # pinned by tests/test_graph_batch.py).  Duplicate edges with the
    # flag off would double-count distributed-path degrees.  The flag
    # also skips the ``u != v`` filter: a self-loop with the flag off
    # counts toward its vertex's degree on both paths, so the caller's
    # edge source must also be free of self-loops.
    directed = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if dedup_edges:
        directed = (
            directed.select(
                F.least("u", "v").alias("u"),
                F.greatest("u", "v").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    directed = directed.persist()
    try:
        n_edges = directed.count()
        if n_edges <= driver_threshold:
            return _k_core_driver(directed, k)
        und = directed.union(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        parts = max(1, math.ceil(2 * n_edges / 4_000_000))
        alive = und.coalesce(parts).localCheckpoint(eager=True)
        n_alive = 2 * n_edges
        for round_no in range(max_iter):
            keep = (
                alive.groupBy("u")
                .agg(F.count("*").alias("__deg"))
                .filter(F.col("__deg") >= k)
                .select("u")
            )
            pruned = (
                alive.join(keep, "u", "left_semi")
                .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
                .coalesce(parts)
                .localCheckpoint(eager=True)
            )
            n_next = pruned.count()
            alive = pruned
            if (round_no + 1) % 8 == 0:
                alive.sparkSession.sparkContext._jvm.System.gc()
            if n_next == n_alive:
                return alive.groupBy(F.col("u").alias("id")).agg(
                    F.count("*").cast("int").alias("core_degree")
                )
            n_alive = n_next
            if n_alive == 0:
                id_type = dict(directed.dtypes)["u"]
                return directed.sparkSession.createDataFrame(
                    [], f"id {id_type}, core_degree int"
                )
        raise RuntimeError(
            f"k_core did not converge in {max_iter} rounds; raise max_iter"
        )
    finally:
        directed.unpersist()


def _k_core_driver(directed: DataFrame, k: int) -> DataFrame:
    """Small-graph path: standard peeling with a work queue on the
    (bounded, already-persisted) edge list."""
    from collections import defaultdict

    adj: dict = defaultdict(set)
    for r in directed.collect():
        adj[r[0]].add(r[1])
        adj[r[1]].add(r[0])
    deg = {n: len(s) for n, s in adj.items()}
    queue = [n for n, d in deg.items() if d < k]
    dead = set(queue)
    while queue:
        n = queue.pop()
        for m in adj[n]:
            if m in dead:
                continue
            deg[m] -= 1
            if deg[m] < k:
                dead.add(m)
                queue.append(m)
    out = [(n, deg[n]) for n in adj if n not in dead]
    id_type = dict(directed.dtypes)["u"]
    return directed.sparkSession.createDataFrame(
        out, f"id {id_type}, core_degree int"
    )


def core_numbers(
    edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 40,
    driver_threshold: int = 1_000_000,
    dedup_edges: bool = True,
) -> DataFrame:
    """Core number (degeneracy) of every vertex — the largest k such
    that the vertex survives in the k-core.

    Distributed path: the h-index fixpoint (Lü et al. 2016, public
    literature) — initialize h = degree, then repeatedly set ``h(v)``
    to the H-index of its neighbors' h values (the largest t with >= t
    neighbors at h >= t); h converges monotonically DOWN to the core
    number.  Each round is one join + one window + one aggregation on
    the same key partitioning, localCheckpoint'ed; values are small
    integers, monotone, so convergence is fast and checkable (stop
    when no h changed).

    Driver path (<= ``driver_threshold`` edges): Matula-Beck bucket
    peeling, O(E).  Both paths return identical ``(id, core)`` frames
    (unit-tested).
    """
    import math

    # dedup_edges=False: same already-canonical-and-unique caller
    # contract as k_core above (frequent_pairs-shaped edge sources).
    directed = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if dedup_edges:
        directed = (
            directed.select(
                F.least("u", "v").alias("u"),
                F.greatest("u", "v").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    directed = directed.persist()
    try:
        n_edges = directed.count()
        if n_edges <= driver_threshold:
            return _core_numbers_driver(directed)
        und = directed.union(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        parts = max(1, math.ceil(2 * n_edges / 4_000_000))
        und = und.coalesce(parts).localCheckpoint(eager=True)
        h = (
            und.groupBy(F.col("u").alias("id"))
            .agg(F.count("*").cast("int").alias("hv"))
            .coalesce(parts)
            .localCheckpoint(eager=True)
        )
        from pyspark.sql import Window

        for round_no in range(max_iter):
            nbr = und.join(h, und.v == h.id).select(
                und.u.alias("nid"), F.col("hv").alias("nh")
            )
            w = Window.partitionBy("nid").orderBy(F.col("nh").desc())
            newh = (
                nbr.withColumn("rnk", F.row_number().over(w))
                .groupBy(F.col("nid").alias("id"))
                .agg(
                    F.max(F.least(F.col("rnk"), F.col("nh")))
                    .cast("int")
                    .alias("hv")
                )
                .coalesce(parts)
                .localCheckpoint(eager=True)
            )
            n_changed = (
                newh.alias("n")
                .join(h.alias("o"), "id")
                .filter(F.col("n.hv") != F.col("o.hv"))
                .count()
            )
            h = newh
            if (round_no + 1) % 8 == 0:
                h.sparkSession.sparkContext._jvm.System.gc()
            if n_changed == 0:
                return h.select("id", F.col("hv").alias("core"))
        raise RuntimeError(
            f"core_numbers did not converge in {max_iter} rounds"
        )
    finally:
        directed.unpersist()


def _core_numbers_driver(directed: DataFrame) -> DataFrame:
    """Matula-Beck bucket peeling on the collected edge list."""
    from collections import defaultdict

    adj: dict = defaultdict(set)
    for r in directed.collect():
        adj[r[0]].add(r[1])
        adj[r[1]].add(r[0])
    deg = {n: len(s) for n, s in adj.items()}
    core: dict = {}
    # bucket queue over degrees
    buckets: dict = defaultdict(set)
    for n, d in deg.items():
        buckets[d].add(n)
    k = 0
    remaining = set(adj)
    while remaining:
        while k not in buckets or not buckets[k]:
            if any(buckets[d] for d in buckets if d < k):
                k = min(d for d in buckets if buckets[d])
            else:
                k += 1
        n = buckets[k].pop()
        core[n] = k
        remaining.discard(n)
        for m in adj[n]:
            if m in remaining:
                buckets[deg[m]].discard(m)
                deg[m] = max(deg[m] - 1, k)
                buckets[deg[m]].add(m)
    id_type = dict(directed.dtypes)["u"]
    return directed.sparkSession.createDataFrame(
        [(n, c) for n, c in core.items()], f"id {id_type}, core int"
    )


def bfs_k_hops(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (0..k) from any seed node,
    over the undirected graph ``edges``.

    Returns ``(id, min_hops int)`` for every node reachable within
    ``k`` hops; unreachable nodes are absent.  The classic frontier
    pattern (Pregel/GraphX ShortestPaths restricted to hop counts):
    each round expands the CURRENT frontier only —

        frontier_{h} = neighbors(frontier_{h-1}) \\ visited

    so a node's distance is fixed the first time it is seen, which IS
    the minimum (BFS invariant), and no node is ever expanded twice.

    Scale design:
    - The undirected edge list is persisted once and drives every
      round; each round is ONE equi-join (frontier ⋈ edges on src) +
      distinct + left-anti against visited — all shuffle on node id,
      so a cluster that bucket-stores edges by src runs the join
      exchange-free on the big side.
    - Frontiers are ``localCheckpoint``-ed per round: k joins of
      accumulated lineage is the iterative-plan trap (same discipline
      as :func:`connected_components`).
    - Cost is proportional to edges INCIDENT to each frontier, not the
      whole graph, every round — the reason frontier BFS beats k
      rounds of full-graph propagation when seeds are few.

    r10 shuffle trims (guide §2.4): the undirected edge list is NOT
    dedup'd — duplicate edges only duplicate frontier candidates, and
    the per-round ``distinct`` already collapses those, so the old
    ``union().distinct()`` paid a full edge-list exchange for nothing
    (result-identical for ANY input, duplicate edges included).  And
    ``visited`` is a plain union of the per-round PINNED frontiers —
    re-checkpointing the growing union every round was one extra
    materialization job per hop with no consumer besides the anti-join,
    which reads the same pinned blocks either way.
    """
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .persist()
    )
    try:
        frontier = (
            seeds.select(F.col(seed_col).alias("id")).distinct()
            .localCheckpoint(eager=True)
        )
        levels = [frontier.withColumn("min_hops", F.lit(0))]
        visited_ids = frontier
        for h in range(1, k + 1):
            frontier = (
                frontier.join(und, frontier.id == und.s)
                .select(F.col("d").alias("id"))
                .distinct()
                .join(visited_ids, "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if not frontier.take(1):
                break
            levels.append(frontier.withColumn("min_hops", F.lit(h)))
            visited_ids = visited_ids.union(frontier)
        visited = levels[0]
        for lvl in levels[1:]:
            visited = visited.union(lvl)
        return visited.select("id", F.col("min_hops").cast("int").alias("min_hops"))
    finally:
        und.unpersist()


def label_propagation_sync(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    dedup_edges: bool = True,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (community
    detection): every node starts labeled with its own id; each round
    every node simultaneously adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label.

    Classic async LPA is run-order dependent; the synchronous variant
    with a total tie order is a pure function of (graph, rounds) — the
    property that makes it oracle-checkable and reproducible across
    engines, at the cost of the known bipartite-oscillation mode
    (communities on bipartite-ish graphs can blink between two states;
    callers pick ``rounds`` and compare consecutive rounds if they need
    oscillation detection).

    Returns ``(id, label)`` for every node incident to an edge.  Each
    round is ONE join (edges ⋈ labels on src) + ONE count aggregation +
    ONE argmax aggregation — all keyed by node id, same bucketing story
    as :func:`bfs_k_hops`. Labels are localCheckpoint-ed per round
    (iterative-lineage discipline).

    ``dedup_edges`` (default True, the historical behavior) dedups the
    undirected edge list — message counts ARE sensitive to duplicate
    edges here, unlike BFS.  Pass False when the input is already a
    unique ``src < dst`` pair set (e.g. ``frequent_pairs`` output) and
    the dedup exchange is pure overhead (r10, guide §2.4).  The
    per-round argmax is a ``min(struct(-c, label))`` aggregation since
    r10 — same (c desc, label asc) order as the old row_number window,
    but partial-aggregatable map-side and with no per-partition sort.
    """
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
    )
    if dedup_edges:
        und = und.distinct()
    und = und.persist()
    try:
        labels = (
            und.select(F.col("s").alias("id")).distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint(eager=True)
        )
        for _ in range(rounds):
            msgs = und.join(
                labels.withColumnRenamed("id", "s"), "s"
            ).select(F.col("d").alias("id"), "label")
            counts = msgs.groupBy("id", "label").agg(F.count("*").alias("c"))
            labels = (
                counts.groupBy("id")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("c")).alias("__nc"),
                            F.col("label").alias("label"),
                        )
                    ).alias("__best")
                )
                .select("id", F.col("__best.label").alias("label"))
                .localCheckpoint(eager=True)
            )
        return labels
    finally:
        und.unpersist()


def bellman_k_hops(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "wgt",
    seed_col: str = "id",
) -> DataFrame:
    """Minimum path COST from any seed using at most ``k`` edges, over
    the undirected weighted graph ``edges`` — k rounds of Bellman–Ford
    relaxation (min-plus semiring), the weighted twin of
    :func:`bfs_k_hops`.

    Returns ``(id, min_cost)`` for every node reachable within ``k``
    edges (seeds at cost 0). Weights must be non-negative integers
    (the callers use exact integer distances; negative weights would
    need the full n-round algorithm and cycle detection).

    Unlike BFS, a node's cost can IMPROVE after first discovery (a
    longer-hop but cheaper path), so every round relaxes the full
    current estimate set against the edge list — no frontier shrink:

        dist_{h} = min(dist_{h-1}, min over edges (u,v,w) of
                       dist_{h-1}[u] + w)

    Each round is ONE equi-join (dist ⋈ edges on src) + union + ONE
    groupBy-min, all keyed by node id; estimates are
    localCheckpoint-ed per round (iterative-lineage discipline). At
    100 TB the edge list is the reused side — persist it, bucket it
    by src, and the per-round join is exchange-free on the big side.
    """
    # No dedup of the undirected list (r10, guide §2.4): the per-round
    # groupBy-min absorbs duplicate (s, d, w) rows — and even genuinely
    # duplicated edges with different weights relax to the same min —
    # so the old union().distinct() paid a full edge exchange for a
    # result-identical frame.
    und = (
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"),
            F.col(weight).cast("bigint").alias("w"),
        )
        .union(
            edges.select(
                F.col(dst).alias("s"), F.col(src).alias("d"),
                F.col(weight).cast("bigint").alias("w"),
            )
        )
        .persist()
    )
    try:
        dist = (
            seeds.select(F.col(seed_col).alias("id")).distinct()
            .withColumn("min_cost", F.lit(0).cast("bigint"))
            .localCheckpoint(eager=True)
        )
        for _ in range(k):
            relaxed = (
                dist.join(und, dist.id == und.s)
                .select(
                    F.col("d").alias("id"),
                    (F.col("min_cost") + F.col("w")).alias("min_cost"),
                )
            )
            dist = (
                dist.union(relaxed)
                .groupBy("id")
                .agg(F.min("min_cost").alias("min_cost"))
                .localCheckpoint(eager=True)
            )
        return dist
    finally:
        und.unpersist()
