"""Graph-traversal / spatial / linkage batch (round 4c, beyond the
reference): multi-source BFS k-hop reach with a recursive-CTE oracle,
deterministic synchronous label propagation, grid-blocked spatial
distance join in exact integer micro-degrees, time-weighted average
(TWAP) over irregular event streams, and Fellegi–Sunter record
linkage over blocked candidate pairs.

Conventions follow ``queries.py``: identical column aliases in the
Spark plan and the DuckDB oracle; money/coordinates/weights in exact
integer units (cents, micro-degrees, micro-nats); the only floats
crossing the engine boundary are single IEEE divisions of identical
integer operands (bit-exact by the IEEE-754 division contract).

The part co-purchase graph used by the graph queries: parts are nodes,
an undirected edge links two parts that appear together in at least
TWO distinct orders (the repeat threshold keeps the graph sparse and
genuinely multi-hop instead of a 2-hop small world).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t


# ---------------------------------------------------------------------------
# Shared part co-purchase edge list
# ---------------------------------------------------------------------------

_EDGE_MIN_COUNT = 2

_EDGES_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (SELECT src, dst FROM pairs WHERE w >= 2),
    edges_und AS (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    )
"""


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) part pairs co-purchased in >= 2 distinct orders,
    src < dst.

    r10 (guide §2.3/§2.4): delegates to the per-basket array expansion
    in ``operators.itemsets.frequent_pairs`` instead of the original
    l_orderkey self-equi-join.  The join form re-executed the
    distinct'd membership on both sides, shuffled it twice, and
    shuffled the QUADRATIC post-join pair blowup; the basket form
    shuffles the membership once (basket → sorted item array, partial
    agg map-side) and then only the 16-byte pair keys — and a single
    degenerate mega-order can no longer skew the join (pair fan-out
    happens post-shuffle, bounded per task).  Output verified
    identical (exceptAll both ways = 0 at sf0.1); the DuckDB oracle
    CTE is unchanged — pair support == co-occurrence count when
    membership is distinct'd, so the two forms are the same algebra.
    """
    from sf_datalake_spark.operators.itemsets import frequent_pairs

    mem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_pairs(
        mem, "l_orderkey", "l_partkey", min_support=_EDGE_MIN_COUNT,
        prune_items=False,
    ).select(F.col("item_1").alias("src"), F.col("item_2").alias("dst"))


# ---------------------------------------------------------------------------
# Multi-source BFS: hop distance from the Brand#11 seed parts, <= 3 hops
# ---------------------------------------------------------------------------

_BFS_K = 3
_BFS_BRAND = "Brand#11"


def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (0..3) from any Brand#11 part through the
    co-purchase graph — frontier BFS (operators/components.bfs_k_hops),
    each round touching only edges incident to the new frontier.

    The oracle is DuckDB's recursive CTE, which explores ALL (node,
    depth) pairs — fine at sf0.01, quadratic-ish waste at scale, which
    is exactly why the engine side is frontier-based."""
    from sf_datalake_spark.operators.components import bfs_k_hops

    edges = _part_edges(spark, sf_dir)
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _BFS_BRAND)
        .select(F.col("p_partkey").alias("id"))
    )
    reach = bfs_k_hops(edges, seeds, _BFS_K)
    return reach.select(F.col("id").alias("part_node"), "min_hops")


_BFS_SQL = f"""
    WITH RECURSIVE {_EDGES_CTE},
    seeds AS (SELECT p_partkey AS id FROM part WHERE p_brand = '{_BFS_BRAND}'),
    reach(id, hops) AS (
        SELECT id, 0 FROM seeds
        UNION
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges_und e ON e.src = r.id
        WHERE r.hops < {_BFS_K}
    )
    SELECT id AS part_node, CAST(min(hops) AS INT) AS min_hops
    FROM reach GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Deterministic synchronous label propagation, 3 rounds
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community label per part after 3 synchronous LPA rounds over the
    co-purchase graph: most frequent neighbor label, ties to the
    smallest label (operators/components.label_propagation_sync).

    The oracle unrolls the same 3 rounds as nested CTEs — mechanical
    for fixed round counts, impossible for data-dependent convergence,
    which is why the engine loops and the oracle unrolls."""
    from sf_datalake_spark.operators.components import label_propagation_sync

    edges = _part_edges(spark, sf_dir)
    # frequent_pairs emits each unordered pair exactly once → the
    # operator's dedup exchange is pure overhead here (r10)
    labels = label_propagation_sync(edges, _LPA_ROUNDS, dedup_edges=False)
    return labels.select(F.col("id").alias("part_node"), "label")


def _lpa_round_sql(prev: str, out: str) -> str:
    return f""",
    m{out} AS (
        SELECT e.dst AS id, r.label, CAST(count(*) AS BIGINT) AS c
        FROM edges_und e JOIN {prev} r ON e.src = r.id
        GROUP BY 1, 2
    ),
    {out} AS (
        SELECT id, label FROM (
            SELECT id, label,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY c DESC, label ASC) AS rn
            FROM m{out}
        ) WHERE rn = 1
    )"""


_LPA_SQL = (
    "WITH "
    + _EDGES_CTE
    + """,
    nodes AS (SELECT DISTINCT src AS id FROM edges_und),
    r0 AS (SELECT id, id AS label FROM nodes)"""
    + "".join(
        _lpa_round_sql(f"r{i}", f"r{i + 1}") for i in range(_LPA_ROUNDS)
    )
    + f"""
    SELECT id AS part_node, label FROM r{_LPA_ROUNDS}
"""
)


# ---------------------------------------------------------------------------
# Grid-blocked spatial distance join: customers within 6 deg of suppliers
# ---------------------------------------------------------------------------

_GEO_RADIUS = 6_000_000  # micro-degrees


def _geo_sql_coord(key: str, salt: str, period: int, shift: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({key}::VARCHAR || '{salt}'), 1, 8))"
        f"::BIGINT % {period} AS BIGINT) - {shift}"
    )


def q_geo_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (supplier, customer) pair within 6 deg equirectangular
    distance, on deterministic md5-derived micro-degree coordinates —
    grid-blocked equi-join (operators/geo.grid_distance_join), supplier
    side exploded into its 3x3 cell neighborhood, longitude wrapping at
    the +-180 seam. The oracle is the brute-force cross join with the
    same exact integer distance — fine at sf0.01, never at scale, which
    is the blocking's point. dist2_micro is exact BIGINT (µ°)²."""
    from sf_datalake_spark.operators.geo import grid_distance_join
    from sf_datalake_spark.operators.split import hash_bucket

    def with_coords(df: DataFrame, key: str) -> DataFrame:
        return df.select(
            key,
            (
                hash_bucket(key, 180_000_000, salt="lat").cast("bigint")
                - F.lit(90_000_000)
            ).alias("lat_micro"),
            hash_bucket(key, 360_000_000, salt="lon")
            .cast("bigint")
            .alias("lon_micro"),
        )

    sup = with_coords(
        _t(spark, sf_dir, "supplier").select("s_suppkey"), "s_suppkey"
    )
    cust = with_coords(
        _t(spark, sf_dir, "customer").select("c_custkey"), "c_custkey"
    )
    pairs = grid_distance_join(sup, cust, _GEO_RADIUS)
    return pairs.select(
        F.col("a_s_suppkey").alias("s_suppkey"),
        F.col("b_c_custkey").alias("c_custkey"),
        F.col("dist2_micro").cast("bigint").alias("dist2_micro"),
    )


_GEO_SQL = f"""
    WITH sup AS (
        SELECT s_suppkey,
               {_geo_sql_coord("s_suppkey", "lat", 180_000_000, 90_000_000)}
                   AS lat_micro,
               {_geo_sql_coord("s_suppkey", "lon", 360_000_000, 0)}
                   AS lon_micro
        FROM supplier
    ),
    cust AS (
        SELECT c_custkey,
               {_geo_sql_coord("c_custkey", "lat", 180_000_000, 90_000_000)}
                   AS lat_micro,
               {_geo_sql_coord("c_custkey", "lon", 360_000_000, 0)}
                   AS lon_micro
        FROM customer
    ),
    cand AS (
        SELECT s.s_suppkey, c.c_custkey,
               (s.lat_micro - c.lat_micro) AS dlat,
               least(abs(s.lon_micro - c.lon_micro),
                     360000000 - abs(s.lon_micro - c.lon_micro)) AS dlon
        FROM sup s CROSS JOIN cust c
    )
    SELECT s_suppkey, c_custkey,
           CAST(dlat * dlat + dlon * dlon AS BIGINT) AS dist2_micro
    FROM cand
    WHERE dlat * dlat + dlon * dlon
          <= CAST({_GEO_RADIUS} AS BIGINT) * {_GEO_RADIUS}
"""


# ---------------------------------------------------------------------------
# TWAP: time-weighted average event value per user
# ---------------------------------------------------------------------------


def q_twap_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: time-weighted average of the event value (cents held
    until the next event, weighted by holding seconds) — the TWAP
    primitive (operators/timeseries.time_weighted_average). Ordering is
    totalized by (ts, event_id) so duplicate timestamps cannot make the
    durations engine-dependent; the final ratio is one IEEE division of
    two exactly-agreed BIGINTs."""
    from sf_datalake_spark.operators.timeseries import time_weighted_average

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return time_weighted_average(
        ev, ["user_id"], "ts", "cents", order_tiebreak="event_id"
    )


_TWAP_SQL = """
    WITH s AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               lead(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    )
    SELECT user_id,
           CAST(sum(cents * (COALESCE(nxt, sec) - sec)) AS BIGINT)
               AS weighted_cents_seconds,
           CAST(sum(COALESCE(nxt, sec) - sec) AS BIGINT) AS span_seconds,
           CASE WHEN sum(COALESCE(nxt, sec) - sec) > 0 THEN
               CAST(sum(cents * (COALESCE(nxt, sec) - sec)) AS DOUBLE)
               / CAST(sum(COALESCE(nxt, sec) - sec) AS DOUBLE)
           END AS twap
    FROM s GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Fellegi–Sunter record linkage: customers vs a perturbed copy
# ---------------------------------------------------------------------------

# (w_agree, w_disagree) in micro-nats — offline-calibrated constants
_FS_NAME = (4_000_000, -1_000_000)
_FS_SEG = (700_000, -300_000)
_FS_BAL = (1_200_000, -500_000)
_FS_LINK = 4_500_000
_FS_POSSIBLE = 1_000_000


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link customers against a deterministically perturbed copy of
    themselves (name mangled for every 4th key, segment for every 7th,
    balance shifted for every 5th): block on nation, score each
    candidate with integer Fellegi–Sunter weights over name / segment /
    balance-bucket agreement (operators/linkage.fellegi_sunter_score),
    and report per decision class the pair count, how many are TRUE
    matches, and the exact score total.

    Balance buckets are thousand-dollar bins computed in cents with a
    +$100k shift so truncating integer division equals floor division
    for negative balances in both engines."""
    from sf_datalake_spark.operators.linkage import fellegi_sunter_score

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_nationkey").alias("block"),
        F.col("c_name").alias("a_name"),
        F.col("c_mktsegment").alias("a_seg"),
        F.expr("(cents + 10000000) div 100000").alias("a_bucket"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_truth"),
        F.col("c_nationkey").alias("block"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.concat(
                F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
        F.expr(
            "(cents + case when c_custkey % 5 = 0 then 150000 else 0 end"
            " + 10000000) div 100000"
        ).alias("b_bucket"),
    )
    # The 25-nation block join fans ~600²·25 ≈ 9M candidate pairs out of
    # a probe side that arrives as ONE scan partition (customer.parquet
    # is a single small file), so the entire pair evaluation ran on one
    # core (guide §2.5 input skew / §2.6 stragglers).  Spread the probe
    # side across the cluster before the fan-out (no-op at real scale —
    # see spread_narrow_scan) and pin the build side broadcast so the
    # planner can never flip which side stays narrow.
    from sf_datalake_spark.operators.skew import spread_narrow_scan

    # Scale caveat (r10 advice): the pinned broadcast of the blocked
    # right side carries the same at-scale hazard the hint guards
    # against — a customer dimension past the 8 GB broadcast cap needs
    # the hint dropped (the planner then shuffle-joins on block) or a
    # size gate; at this corpus the build side is ~600 rows/nation.
    cand = spread_narrow_scan(a).join(F.broadcast(b), "block")
    scored = fellegi_sunter_score(
        cand,
        [
            (F.col("a_name") == F.col("b_name"), *_FS_NAME),
            (F.col("a_seg") == F.col("b_seg"), *_FS_SEG),
            (F.col("a_bucket") == F.col("b_bucket"), *_FS_BAL),
        ],
        link_threshold=_FS_LINK,
        possible_threshold=_FS_POSSIBLE,
    )
    return scored.groupBy("match_class").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("a_id") == F.col("b_truth")).cast("bigint")).alias(
            "n_true"
        ),
        F.sum("fs_score_micro").alias("sum_score_micro"),
    )


_LINKAGE_SQL = f"""
    WITH cust AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    a AS (
        SELECT c_custkey AS a_id, c_nationkey AS block, c_name AS a_name,
               c_mktsegment AS a_seg,
               (cents + 10000000) // 100000 AS a_bucket
        FROM cust
    ),
    b AS (
        SELECT c_custkey AS b_truth, c_nationkey AS block,
               CASE WHEN c_custkey % 4 = 0
                    THEN substr(c_name, 1, length(c_name) - 1) || 'X'
                    ELSE c_name END AS b_name,
               CASE WHEN c_custkey % 7 = 0
                    THEN 'PERTURBED' ELSE c_mktsegment END AS b_seg,
               (cents + CASE WHEN c_custkey % 5 = 0 THEN 150000 ELSE 0 END
                + 10000000) // 100000 AS b_bucket
        FROM cust
    ),
    scored AS (
        SELECT a_id, b_truth,
               CAST(CASE WHEN a_name = b_name
                         THEN {_FS_NAME[0]} ELSE {_FS_NAME[1]} END
                  + CASE WHEN a_seg = b_seg
                         THEN {_FS_SEG[0]} ELSE {_FS_SEG[1]} END
                  + CASE WHEN a_bucket = b_bucket
                         THEN {_FS_BAL[0]} ELSE {_FS_BAL[1]} END
                 AS BIGINT) AS fs_score_micro
        FROM a JOIN b USING (block)
    )
    SELECT CASE WHEN fs_score_micro >= {_FS_LINK} THEN 'link'
                WHEN fs_score_micro >= {_FS_POSSIBLE} THEN 'possible'
                ELSE 'non_link' END AS match_class,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN a_id = b_truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(sum(fs_score_micro) AS BIGINT) AS sum_score_micro
    FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Weighted shortest paths: 3-round Bellman-Ford over the co-purchase
# graph with integer affinity distances (1000 div co-count)
# ---------------------------------------------------------------------------


def q_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum path cost within 3 edges from any Brand#11 part, edge
    cost = 1000 div co-purchase-count (stronger ties are shorter) —
    min-plus Bellman-Ford relaxation (operators/components.
    bellman_k_hops), each round one join + one groupBy-min.

    The oracle enumerates every <=3-edge walk in a recursive CTE and
    takes the min — exponential in principle, fine at sf0.01, and the
    contrast with k relaxation rounds is the point."""
    from sf_datalake_spark.operators.components import bellman_k_hops
    from sf_datalake_spark.operators.itemsets import frequent_pairs

    # r10: same basket-expansion edge build as ``_part_edges`` (guide
    # §2.3/§2.4 — one membership shuffle instead of a two-sided
    # self-join; ``support`` IS the co-purchase count w).
    mem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = frequent_pairs(
        mem, "l_orderkey", "l_partkey", min_support=_EDGE_MIN_COUNT,
        prune_items=False,
    ).select(
        F.col("item_1").alias("src"),
        F.col("item_2").alias("dst"),
        F.expr("1000L div support").alias("wgt"),
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _BFS_BRAND)
        .select(F.col("p_partkey").alias("id"))
    )
    dist = bellman_k_hops(edges, seeds, _BFS_K)
    return dist.select(F.col("id").alias("part_node"), "min_cost")


_WEIGHTED_PATHS_SQL = f"""
    WITH RECURSIVE {_EDGES_CTE},
    wedges AS (
        SELECT src, dst, CAST(1000 // w AS BIGINT) AS wgt
        FROM pairs WHERE w >= 2
    ),
    wund AS (
        SELECT src, dst, wgt FROM wedges
        UNION ALL
        SELECT dst AS src, src AS dst, wgt FROM wedges
    ),
    seeds AS (SELECT p_partkey AS id FROM part WHERE p_brand = '{_BFS_BRAND}'),
    walk(id, cost, hops) AS (
        SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
        UNION
        SELECT e.dst, w.cost + e.wgt, w.hops + 1
        FROM walk w JOIN wund e ON e.src = w.id
        WHERE w.hops < {_BFS_K}
    )
    SELECT id AS part_node, CAST(min(cost) AS BIGINT) AS min_cost
    FROM walk GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "bfs_khop": (q_bfs_khop, _BFS_SQL),
    "label_propagation": (q_label_propagation, _LPA_SQL),
    "geo_distance_join": (q_geo_distance_join, _GEO_SQL),
    "twap_value": (q_twap_value, _TWAP_SQL),
    "record_linkage": (q_record_linkage, _LINKAGE_SQL),
    "weighted_paths": (q_weighted_paths, _WEIGHTED_PATHS_SQL),
}
