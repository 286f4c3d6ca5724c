"""Data-mining / table-maintenance classes (round 4b, beyond the
reference): exact set-similarity join (prefix filtering), SCD2
dimension build + point-in-time join + streaming maintenance, skyline
(Pareto frontier) in 2-D / 3-D / streaming, per-key autocorrelation,
Benford first-digit profiling, MAD outlier days, k-core decomposition,
snapshot CDC diff, FK-integrity audit, exact KS drift, isotonic (PAVA)
fits, exact phrase search, linear multi-touch attribution.

Conventions follow ``queries.py``: identical column aliases in the
Spark plan and the DuckDB oracle; money in exact integer cents; floats
cross the engine boundary either as bit-identical expression trees
(folds, single divisions of identical operands) or rounded at 6 when
the computation is order-free.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from math import log10

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t


# ---------------------------------------------------------------------------
# Exact set-similarity join: every document pair with whitespace-token
# Jaccard >= 0.6, via prefix filtering (operators/ssjoin.py) — the
# exact counterpart of the MinHash/LSH screens.  Oracle is the O(n^2)
# brute force over the sliced corpus — fine for DuckDB at sf0.01,
# never for Spark at scale, which is the operator's point.
# ---------------------------------------------------------------------------

_SSJOIN_T = 0.6


def q_ssjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with distinct-token Jaccard >= 0.6, exactly
    (prefix-filter candidate generation, no LSH miss probability).

    The synthetic corpus is deliberately clone-heavy (the dedup
    fixtures): ~half of ALL pairs clear J >= 0.5, so the OUTPUT —
    not the algorithm — is quadratic on the full table.  The query
    therefore runs on the doc_id % 8 slice (filter pushed to the
    scan), which keeps the result set linear-ish at every SF while
    still exercising every stage; production corpora run exact-dedup
    first, which removes exactly this pathology."""
    from sf_datalake_spark.functions.text import tokenize
    from sf_datalake_spark.operators.ssjoin import set_similarity_join

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 8 == 0)
        .select("doc_id", tokenize("text").alias("toks"))
    )
    pairs = set_similarity_join(docs, "doc_id", "toks", _SSJOIN_T)
    return pairs.select(
        "id_a",
        "id_b",
        F.col("inter_size").cast("int").alias("inter_size"),
        F.col("union_size").cast("int").alias("union_size"),
        # int/int division of identical operands — bit-identical
        (F.col("inter_size") / F.col("union_size")).alias("jaccard"),
    )


_SSJOIN_SQL = r"""
    WITH s AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')) AS toks
        FROM documents
        WHERE doc_id % 8 = 0
          AND len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS inter_size,
           CAST(len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks)) AS INT) AS union_size,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 1000000
          >= (len(a.toks) + len(b.toks)
              - len(list_intersect(a.toks, b.toks))) * 600000
"""


# ---------------------------------------------------------------------------
# SCD2 dimension build from the orders change log: per customer, the
# (status, priority) version history with validity intervals.
# ---------------------------------------------------------------------------

def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension of (o_orderstatus, o_orderpriority) per
    customer from the orders log (1-in-20 customers), consecutive
    identical versions compressed."""
    from sf_datalake_spark.operators.scd import scd2_build

    log = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    return scd2_build(
        log,
        ["o_custkey"],
        "o_orderdate",
        ["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
    )


_SCD2_SQL = """
    WITH log AS (SELECT * FROM orders WHERE o_custkey % 20 = 0),
    chg AS (
        SELECT *,
               (lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                OR lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority)
                   AS changed
        FROM log
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    v AS (SELECT * FROM chg WHERE changed)
    SELECT o_custkey, o_orderstatus, o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           CAST(row_number() OVER w2 AS INT) AS version_n,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM v
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# Skyline: parts Pareto-optimal under (maximize p_size, minimize
# price) — 2-D groupBy-first form and 3-D two-phase form.
# ---------------------------------------------------------------------------

def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier of parts: no other part is at least as
    large AND at most as expensive with one strict."""
    from sf_datalake_spark.operators.skyline import skyline_2d

    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    return skyline_2d(parts, "p_size", "price_cents")


_PARETO_SQL = """
    WITH p AS (
        SELECT p_partkey, p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM part
    )
    SELECT p_partkey, p_size, price_cents
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p q
        WHERE q.p_size >= a.p_size AND q.price_cents <= a.price_cents
          AND (q.p_size > a.p_size OR q.price_cents < a.price_cents)
    )
"""


def q_pareto_parts_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D skyline (max p_size, min price, min name length) via the
    two-phase local-numpy + broadcast-verify operator."""
    from sf_datalake_spark.operators.skyline import skyline_nd

    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.length("p_name").alias("name_len"),
    )
    return skyline_nd(
        parts, ["p_size", "price_cents", "name_len"], ["max", "min", "min"]
    )


_PARETO_3D_SQL = """
    WITH p AS (
        SELECT p_partkey, p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(length(p_name) AS INT) AS name_len
        FROM part
    )
    SELECT p_partkey, p_size, price_cents, name_len
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p q
        WHERE q.p_size >= a.p_size AND q.price_cents <= a.price_cents
          AND q.name_len <= a.name_len
          AND (q.p_size > a.p_size OR q.price_cents < a.price_cents
               OR q.name_len < a.name_len)
    )
"""


# ---------------------------------------------------------------------------
# Autocorrelation of each nation's monthly revenue at lags 1..3 — the
# bit-exact ascending-t fold of operators/timeseries.py, mirrored by a
# recursive CTE.  Revenue in exact cents; outputs unrounded (identical
# IEEE operation streams, see the Holt precedent).
# ---------------------------------------------------------------------------

def q_acf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of monthly order revenue per nation."""
    from sf_datalake_spark.operators.timeseries import autocorrelation

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    return autocorrelation(monthly, ["n_name"], "m", "rev_cents")


_ACF_SQL = """
    WITH RECURSIVE series AS (
        SELECT n_name, date_trunc('month', o_orderdate) AS m,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    arr AS (
        SELECT n_name,
               list(CAST(rev AS DOUBLE) ORDER BY m) AS x,
               CAST(count(*) AS INT) AS n,
               CAST(sum(rev) AS DOUBLE) / count(*) AS mu
        FROM series GROUP BY 1
    ),
    rec AS (
        SELECT n_name, x, n, mu, 0 AS i,
               CAST(0 AS DOUBLE) AS den, CAST(0 AS DOUBLE) AS s1,
               CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3
        FROM arr
        UNION ALL
        SELECT n_name, x, n, mu, i + 1,
               den + (x[i + 1] - mu) * (x[i + 1] - mu),
               s1 + CASE WHEN i + 2 <= n
                    THEN (x[i + 1] - mu) * (x[i + 2] - mu)
                    ELSE CAST(0 AS DOUBLE) END,
               s2 + CASE WHEN i + 3 <= n
                    THEN (x[i + 1] - mu) * (x[i + 3] - mu)
                    ELSE CAST(0 AS DOUBLE) END,
               s3 + CASE WHEN i + 4 <= n
                    THEN (x[i + 1] - mu) * (x[i + 4] - mu)
                    ELSE CAST(0 AS DOUBLE) END
        FROM rec WHERE i < n
    )
    SELECT n_name, n AS n_obs,
           CASE WHEN n > 1 AND den <> 0 THEN s1 / den END AS acf_1,
           CASE WHEN n > 2 AND den <> 0 THEN s2 / den END AS acf_2,
           CASE WHEN n > 3 AND den <> 0 THEN s3 / den END AS acf_3
    FROM rec WHERE i = n
"""


# ---------------------------------------------------------------------------
# Benford first-digit profile of order totals.  Digit from the cents
# integer's decimal string (no float log10 on the data path); expected
# shares are driver-side literals identical in both query texts, so
# every float is a product/division of identical operands.
# ---------------------------------------------------------------------------

_BENFORD_P = {d: log10(1 + 1 / d) for d in range(1, 10)}


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs Benford-expected first-significant-digit counts of
    o_totalprice, with per-digit chi-square contributions."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = orders.groupBy(digit.alias("digit")).agg(F.count("*").alias("n_obs"))
    total = obs.agg(F.sum("n_obs").alias("n_total"))
    p_expr = F.element_at(
        F.array(*[F.lit(_BENFORD_P[d]) for d in range(1, 10)]), F.col("digit")
    )
    exp = F.col("n_total") * p_expr
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            exp.alias("n_expected"),
            ((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp).alias(
                "chi2_term"
            ),
        )
    )


_BENFORD_SQL = """
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS n_obs
        FROM orders GROUP BY 1
    ),
    t AS (SELECT sum(n_obs) AS n_total FROM obs),
    p AS (
        -- CAST: DuckDB parses decimal literals as DECIMAL, and the
        -- chi-square arithmetic must run in DOUBLE like Spark's
        SELECT digit, CAST(p AS DOUBLE) AS p
        FROM (VALUES {pvals}) pv(digit, p)
    )
    SELECT obs.digit, CAST(n_obs AS BIGINT) AS n_obs,
           n_total * p AS n_expected,
           (n_obs - n_total * p) * (n_obs - n_total * p) / (n_total * p)
               AS chi2_term
    FROM obs JOIN p ON obs.digit = p.digit CROSS JOIN t
""".format(
    pvals=", ".join(f"({d}, {_BENFORD_P[d]!r})" for d in range(1, 10))
)


# ---------------------------------------------------------------------------
# MAD outlier days: per order priority, days whose revenue deviates
# from the priority's median by more than 3 robust sigmas
# (1.4826·MAD).  Medians over exact cents interpolate on quarters at
# worst — exact in double — and the 3σ test is scaled to integers so
# no rounding ever decides a comparison.
# ---------------------------------------------------------------------------

def q_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: day count, median daily revenue, MAD, and the
    number of |x − med| > 3·1.4826·MAD outlier days."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.date_trunc("day", "o_orderdate").alias("d")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
    med = daily.groupBy("o_orderpriority").agg(
        F.percentile("x", F.lit(0.5)).alias("med")
    )
    # daily is already collapsed to (priority, day) — the joins and
    # re-aggregations below run on that small frame, broadcast-sized.
    dev = daily.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("x") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_days"),
            F.first("med").alias("median_cents"),
            F.first("mad").alias("mad_cents"),
            # 3·1.4826 = 4.4478; scale both sides by 10^4: operands
            # are exact multiples of 0.25·10^4 — integer-exact compare
            F.sum(
                F.when(
                    F.col("adev") * 10000 > F.col("mad") * 44478, 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_MAD_SQL = """
    WITH daily AS (
        SELECT o_orderpriority, date_trunc('day', o_orderdate) AS d,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1, 2
    ),
    med AS (
        SELECT o_orderpriority, quantile_cont(CAST(x AS DOUBLE), 0.5) AS med
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT daily.*, med, abs(x - med) AS adev
        FROM daily JOIN med USING (o_orderpriority)
    ),
    mad AS (
        SELECT o_orderpriority,
               quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_days,
           min(med) AS median_cents, min(mad) AS mad_cents,
           CAST(sum(CASE WHEN adev * 10000 > mad * 44478 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (o_orderpriority)
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Point-in-time (as-of) join against the SCD2 dimension: each line item
# enriched with the customer's (status, priority) version valid at ship
# time — the fact-to-slowly-changing-dimension join every warehouse
# runs.  Equi-join on the key with the validity range as a residual
# predicate (a hash join, never a BNLJ); the dimension side is the
# compressed version table, orders of magnitude below the log.
# ---------------------------------------------------------------------------

def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line items of 1-in-20 customers joined to the customer's SCD2
    version valid at l_shipdate, aggregated per (version status,
    return flag)."""
    from sf_datalake_spark.operators.scd import scd2_build

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    dim = scd2_build(
        orders,
        ["o_custkey"],
        "o_orderdate",
        ["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
    ).select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderstatus").alias("version_status"),
        "valid_from",
        "valid_to",
    )
    facts = (
        _t(spark, sf_dir, "lineitem")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_custkey",
            "l_shipdate",
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    pit = facts.join(
        dim,
        (F.col("o_custkey") == F.col("d_custkey"))
        & (F.col("valid_from") <= F.col("l_shipdate"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("l_shipdate"))),
    )
    return pit.groupBy("version_status", "l_returnflag").agg(
        F.count("*").alias("n_facts"),
        F.sum("cents").alias("revenue_cents"),
    )


_SCD2_PIT_SQL = """
    WITH log AS (SELECT * FROM orders WHERE o_custkey % 20 = 0),
    chg AS (
        SELECT *,
               (lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                OR lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority)
                   AS changed
        FROM log
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    v AS (SELECT * FROM chg WHERE changed),
    dim AS (
        SELECT o_custkey AS d_custkey, o_orderstatus AS version_status,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w2 AS valid_to
        FROM v
        WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    facts AS (
        SELECT o_custkey, l_shipdate, l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem JOIN log ON l_orderkey = o_orderkey
    )
    SELECT version_status, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_facts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM facts JOIN dim
      ON o_custkey = d_custkey
     AND valid_from <= l_shipdate
     AND (valid_to IS NULL OR valid_to > l_shipdate)
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance: the dimension maintained under a change
# stream via rebuild-from-log per touched key (order-independent).
# The availableNow drain must equal the batch scd2_build — same oracle
# as scd2_dimension.
# ---------------------------------------------------------------------------

def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scd2_dimension query run AS A STREAM: order changes arrive
    in micro-batches, the dimension is rebuilt per touched key from
    the accumulated log, and the final table must equal the batch
    build exactly."""
    import shutil
    import tempfile

    from sf_datalake_spark.queries_ext import _stage_stream_source
    from sf_datalake_spark.streaming import read_file_stream, run_scd2_sink

    orders_path = os.path.join(sf_dir, "orders.parquet")
    # _t memoizes the lazy plan, so the schema costs no footer job here
    schema = _t(spark, sf_dir, "orders").schema
    app_id = spark.sparkContext.applicationId
    root = (
        f"{tempfile.gettempdir()}/sf_datalake_spark_scd2/"
        f"{app_id}/{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    _stage_stream_source(orders_path, src)
    stream = read_file_stream(spark, src, schema).filter(
        F.col("o_custkey") % 20 == 0
    )
    run_scd2_sink(
        stream,
        os.path.join(root, "log"),
        os.path.join(root, "dim"),
        ["o_custkey"],
        "o_orderdate",
        ["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
        query_name="q_streaming_scd2",
    )
    return spark.read.parquet(os.path.join(root, "dim"))


# ---------------------------------------------------------------------------
# k-core of the co-purchase graph: parts that co-occur in >= 2 orders
# form edges; the 3-core is the maximal subgraph where every part
# keeps >= 3 such neighbors.  Spark side peels to fixpoint
# (operators/components.py::k_core, adaptive driver/distributed); the
# oracle replays 40 peel rounds as a recursive CTE (idempotent after
# convergence, so fixpoint == fixed-round).
# ---------------------------------------------------------------------------

def q_k_core_parts(
    spark: SparkSession, sf_dir: str, max_basket: int = 64
) -> DataFrame:
    """Parts in the 3-core of the co-purchase graph (edge = the pair
    co-occurs in >= 2 orders), with their within-core degree.

    Edge generation routes through the capped ``frequent_pairs``
    machinery (round-5 verdict #2): an earlier inline pair explode had
    no basket bound, re-creating the Σ basket² whale shape the item-CF
    cap exists for — one degenerate mega-order at 100× would emit
    C(n,2) pairs and stall the job.  ``frequent_pairs`` Apriori-prunes
    items below pair support (lossless for support ≥ 2 edges) and drops
    baskets still holding > ``max_basket`` frequent items (a
    deterministic guard, replayed row-for-row in the oracle's ``ok``
    CTE).  TPC-H orders carry ≤ 7 lineitems so the cap is inert on the
    test corpus; ``tools/whale_probe.py`` measures it on a 10k-part
    mega-order.
    """
    from sf_datalake_spark.operators.components import k_core
    from sf_datalake_spark.operators.itemsets import frequent_pairs

    mem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = frequent_pairs(
        mem, "l_orderkey", "l_partkey",
        min_support=2, max_basket_size=max_basket,
    )
    edges = pairs.select(
        F.col("item_1").alias("u"), F.col("item_2").alias("v")
    )
    # frequent_pairs output is canonical (item_1 < item_2) and unique
    # by construction (groupBy item_1, item_2) — skip the operator's
    # canonicalize+distinct exchange (r11; contract pinned by
    # tests/test_graph_batch.py::test_k_core_dedup_edges_contract).
    return k_core(edges, 3, "u", "v", dedup_edges=False)


_K_CORE_SQL = """
    WITH RECURSIVE mem AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    freq AS (SELECT i FROM mem GROUP BY i HAVING count(*) >= 2),
    pm AS (SELECT b, i FROM mem JOIN freq USING (i)),
    ok AS (SELECT b FROM pm GROUP BY b HAVING count(*) <= 64),
    pairs AS (
        SELECT a.i AS u, c.i AS v
        FROM pm a
        JOIN pm c ON a.b = c.b AND a.i < c.i
        JOIN ok ON a.b = ok.b
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    peel AS (
        SELECT 0 AS r, u, v FROM und
        UNION ALL
        SELECT r + 1, u, v FROM (
            SELECT r, u, v,
                   count(*) OVER (PARTITION BY u) AS du,
                   count(*) OVER (PARTITION BY v) AS dv
            FROM peel WHERE r < 40
        ) WHERE du >= 3 AND dv >= 3
    )
    SELECT u AS id, CAST(count(*) AS INT) AS core_degree
    FROM peel WHERE r = 40 GROUP BY u
"""


# ---------------------------------------------------------------------------
# Snapshot diff (CDC): change feed between two versions of the orders
# table (simulated deletes / updates / inserts on modular key slices),
# aggregated per change type in exact cents.
# ---------------------------------------------------------------------------

def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between orders and a modified snapshot:
    per change type, the row count and cents total of the feed the
    diff operator emits."""
    from sf_datalake_spark.operators.diff import table_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)      # deletes
        .withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("cents") + 100
            ).otherwise(F.col("cents")),                   # updates
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 83 == 0).select(
                (F.col("o_orderkey") + F.lit(30_000_000)).alias("o_orderkey"),
                "o_orderstatus",
                "cents",
            )                                             # inserts
        )
    )
    feed = table_diff(orders, new, ["o_orderkey"])
    return feed.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("cents_total"),
    )


_TABLE_DIFF_SQL = """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN cents + 100 ELSE cents END
                   AS cents
        FROM old WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 30000000, o_orderstatus, cents
        FROM old WHERE o_orderkey % 83 = 0
    ),
    feed AS (
        SELECT CASE
                 WHEN o.o_orderkey IS NULL THEN 'insert'
                 WHEN n.o_orderkey IS NULL THEN 'delete'
                 WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                   OR n.cents IS DISTINCT FROM o.cents THEN 'update'
               END AS change_type,
               coalesce(n.cents, o.cents) AS cents
        FROM new n FULL OUTER JOIN old o ON n.o_orderkey = o.o_orderkey
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS cents_total
    FROM feed WHERE change_type IS NOT NULL
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan counts per foreign-key relation
# (one relation with simulated missing parents, two true ones).
# ---------------------------------------------------------------------------

def q_fk_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per FK relation: child row count and orphans (children whose
    parent key is absent) — lineitem->orders runs against a parent
    slice with 1-in-10 keys removed to exercise the violation path."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")

    def audit(rel, child, ck, parent, pk):
        # ONE pass per relation (r11, guide §2.4): parent keys are
        # unique (PKs / a filter of PKs), so a left join + conditional
        # count computes children and orphans in a single aggregation —
        # the old anti-join + two global aggs + crossJoin shape paid
        # two extra exchanges and their AQE jobs per relation for the
        # same two numbers (counts identical: unique parent keys mean
        # the left join never duplicates a child row, and a null hit
        # IS the anti-join membership test).
        j = child.join(
            parent.select(F.col(pk).alias(ck), F.lit(1).alias("__hit")),
            ck,
            "left",
        )
        return j.agg(
            F.lit(rel).alias("relation"),
            F.count("*").alias("n_children"),
            F.count(F.when(F.col("__hit").isNull(), 1)).alias("n_orphans"),
        )

    holey = orders.filter(F.col("o_orderkey") % 10 != 0)
    return (
        audit("lineitem->orders_holey", li.select("l_orderkey"), "l_orderkey",
              holey, "o_orderkey")
        .unionByName(
            audit("orders->customer", orders.select("o_custkey"), "o_custkey",
                  cust, "c_custkey")
        )
        .unionByName(
            audit("lineitem->part", li.select("l_partkey"), "l_partkey",
                  part, "p_partkey")
        )
    )


_FK_SQL = """
    SELECT 'lineitem->orders_holey' AS relation,
           CAST(count(*) AS BIGINT) AS n_children,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem LEFT JOIN (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 0
    ) p ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->part',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
"""


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov drift per priority: early orders
# (<= 1994) vs late.  ECDFs via RANGE-frame cumulative counts (ties
# land in both CDFs at once, the exact definition); the statistic is a
# max over exact-rational doubles — no rounding decides it.
# ---------------------------------------------------------------------------

def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: the exact KS distance between the early and late
    order-total distributions."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.year("o_orderdate") <= 1997).cast("int").alias("g1"),
    )
    w_all = Window.partitionBy("o_orderpriority")
    w_cum = w_all.orderBy("cents")   # default frame: RANGE -> ties together
    scored = orders.select(
        "o_orderpriority",
        (
            F.abs(
                F.sum("g1").over(w_cum) / F.sum("g1").over(w_all)
                - (F.count("*").over(w_cum) - F.sum("g1").over(w_cum))
                / (F.count("*").over(w_all) - F.sum("g1").over(w_all))
            )
        ).alias("d"),
        F.col("g1"),
    )
    return scored.groupBy("o_orderpriority").agg(
        F.sum("g1").alias("n_early"),
        (F.count("*") - F.sum("g1")).alias("n_late"),
        F.max("d").alias("ks_stat"),
    )


_KS_SQL = """
    WITH v AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS g1
        FROM orders
    ),
    scored AS (
        SELECT o_orderpriority, g1,
               abs(
                 CAST(sum(g1) OVER wc AS DOUBLE)
                   / sum(g1) OVER wa
                 - CAST(count(*) OVER wc - sum(g1) OVER wc AS DOUBLE)
                   / (count(*) OVER wa - sum(g1) OVER wa)
               ) AS d
        FROM v
        WINDOW wc AS (PARTITION BY o_orderpriority ORDER BY cents),
               wa AS (PARTITION BY o_orderpriority)
    )
    SELECT o_orderpriority,
           CAST(sum(g1) AS BIGINT) AS n_early,
           CAST(count(*) - sum(g1) AS BIGINT) AS n_late,
           max(d) AS ks_stat
    FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Isotonic (monotone non-decreasing) fit of monthly revenue per
# priority via PAVA (operators/isotonic.py).  Oracled through the
# classical minimax identity fit[i] = max_{j<=i} min_{k>=i} avg(j..k)
# over integer prefix sums: distinct segment averages differ by at
# least 1/(n_max^2) absolutely (cross-multiplied integers), far above
# double ulp at these magnitudes, so the SQL min/max over doubles
# picks the same rational — and the same division operands — as the
# PAVA pool.
# ---------------------------------------------------------------------------

def q_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per priority with its isotonic best monotone
    fit — the binning-free calibration/trend primitive."""
    from sf_datalake_spark.operators.isotonic import isotonic_fit

    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    return isotonic_fit(monthly, ["o_orderpriority"], "m", "rev_cents")


_ISOTONIC_SQL = """
    WITH mon AS (
        SELECT o_orderpriority,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1, 2
    ),
    ps AS (
        SELECT o_orderpriority, m, rev_cents,
               CAST(row_number() OVER w AS INT) AS i,
               CAST(sum(rev_cents) OVER w AS BIGINT) AS s
        FROM mon
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY m)
    ),
    inner_min AS (
        SELECT a.o_orderpriority, a.i, a.m, a.rev_cents, j.i AS j,
               min(CAST(k.s - (j.s - j.rev_cents) AS DOUBLE)
                   / (k.i - j.i + 1)) AS v
        FROM ps a
        JOIN ps j ON j.o_orderpriority = a.o_orderpriority AND j.i <= a.i
        JOIN ps k ON k.o_orderpriority = a.o_orderpriority AND k.i >= a.i
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT o_orderpriority, m, rev_cents, max(v) AS fitted
    FROM inner_min GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Exact phrase search: documents containing the 3-token phrase
# "stream table hash" with occurrence counts — a positional query the
# bag-of-words retrieval (bm25_search) cannot answer.  Zero joins:
# the consecutive-position test is one scan-stage HOF fold per
# document (the inverted-index formulation needs 2 positional
# self-joins; at any scale the scan form wins until the corpus is
# reused across many phrase queries).
# ---------------------------------------------------------------------------

_PHRASE = ["stream", "table", "hash"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing the exact phrase, with occurrence counts."""
    from sf_datalake_spark.functions.text import tokenize
    from sf_datalake_spark.operators.skew import spread_narrow_scan

    # HOFs evaluate interpreted (outside codegen): spread the one-file
    # scan so the per-document fold uses every core, not one
    docs = spread_narrow_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", tokenize("text").alias("t"))
    w1, w2, w3 = (F.lit(w) for w in _PHRASE)
    # slice+zip+filter, not an aggregate fold: one vectorized pass over
    # three shifted views of the token array — measured 5x faster than
    # the per-step fold lambda (HOF lambdas evaluate interpreted; fewer,
    # simpler lambda invocations win)
    win = F.greatest(F.size("t") - 2, F.lit(0))
    n_occ = F.size(
        F.filter(
            F.arrays_zip(
                F.slice("t", 1, win), F.slice("t", 2, win), F.slice("t", 3, win)
            ),
            lambda s: (s["0"] == w1) & (s["1"] == w2) & (s["2"] == w3),
        )
    )
    return (
        docs.select("doc_id", n_occ.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


_PHRASE_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(range(1, len(t) - 1),
                    i -> t[i] = 'stream' AND t[i + 1] = 'table'
                         AND t[i + 2] = 'hash')) AS INT) AS n_occurrences
    FROM toks
    WHERE len(t) >= 3
      AND len(list_filter(range(1, len(t) - 1),
              i -> t[i] = 'stream' AND t[i + 1] = 'table'
                   AND t[i + 2] = 'hash')) > 0
"""


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: each purchase credits its user's
# touch events (view/click) in the preceding 7 days equally.  Credits
# are exact integer parts-per-million (1_000_000 div n_touches) so the
# per-channel totals are overflow-safe BIGINTs — no float credit sums
# to drift between engines; the div remainder stays with the purchase
# (documented, identical in both engines).
# ---------------------------------------------------------------------------

def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per touch channel: touches credited, purchases reached, and the
    exact ppm credit total under linear attribution."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
    )
    matched = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("purchase_id")
    # `div`, not `/`: Spark's slash on longs is double division — the
    # exact-ppm contract needs the integer floor, which matches
    # DuckDB's `//` (both truncate toward zero)
    credited = matched.withColumn("__n", F.count("*").over(w)).withColumn(
        "credit_ppm", F.expr("1000000L div __n")
    )
    return credited.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.countDistinct("purchase_id").alias("n_purchases_reached"),
        F.sum("credit_ppm").alias("credit_ppm_total"),
    )


_ATTRIBUTION_SQL = """
    WITH purchases AS (
        SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type, ts AS t_ts, event_id AS touch_id
        FROM events WHERE event_type IN ('view', 'click')
    ),
    matched AS (
        SELECT * FROM purchases JOIN touches
          ON p_user = user_id
         AND t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY
    ),
    credited AS (
        SELECT event_type, purchase_id,
               1000000 // count(*) OVER (PARTITION BY purchase_id)
                   AS credit_ppm
        FROM matched
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT purchase_id) AS BIGINT)
               AS n_purchases_reached,
           CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
    FROM credited GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Streaming skyline maintenance: the Pareto frontier kept current
# under part inserts — per batch, re-skyline of (stored frontier ∪
# batch) only, by transitivity of dominance.  Same oracle as the
# batch pareto_parts.
# ---------------------------------------------------------------------------

def q_streaming_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pareto_parts run AS A STREAM: parts arrive in micro-batches and
    the maintained frontier must equal the batch skyline exactly."""
    import shutil
    import tempfile

    from sf_datalake_spark.queries_ext import _stage_stream_source
    from sf_datalake_spark.streaming import read_file_stream, run_skyline_sink

    part_path = os.path.join(sf_dir, "part.parquet")
    # _t memoizes the lazy plan, so the schema costs no footer job here
    schema = _t(spark, sf_dir, "part").schema
    app_id = spark.sparkContext.applicationId
    root = (
        f"{tempfile.gettempdir()}/sf_datalake_spark_skyline/"
        f"{app_id}/{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    _stage_stream_source(part_path, src)
    stream = read_file_stream(spark, src, schema).select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    run_skyline_sink(
        stream,
        os.path.join(root, "dim"),
        "p_size",
        "price_cents",
        query_name="q_streaming_skyline",
    )
    return spark.read.parquet(os.path.join(root, "dim"))


# ---------------------------------------------------------------------------
# int8 scalar-quantized similarity search: SQ8 compression (4x over
# float32) with EXACT integer dot-product scoring — unlike the
# rows-only PQ/IVF/LSH variants this one is fully oracled, because
# 255²·64 < 2^53 keeps every score an exact integer in both engines.
# ---------------------------------------------------------------------------

def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors by int8-quantized dot product for the 1-in-100
    query vectors; scores exact integers, ties broken by neighbor id."""
    from sf_datalake_spark.operators.similarity import (
        int8_scalar_quantize,
        int8_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes = int8_scalar_quantize(emb, "vec_id", "embedding", dims=64)
    queries = codes.filter(F.col("vec_id") % 100 == 0).select("vec_id")
    return int8_topk(codes, queries, "vec_id", k=3)


_ANN_INT8_SQL = """
    WITH stats AS (
        SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
        FROM embeddings, unnest(range(1, 65)) t(i)
        GROUP BY i
    ),
    codes AS (
        SELECT vec_id,
               list(CASE WHEN mx = mn THEN 0
                         ELSE CAST(least(255, greatest(0,
                              floor((embedding[i]::DOUBLE - mn) * 255
                                    / (mx - mn)))) AS BIGINT)
                    END ORDER BY i) AS c
        FROM embeddings, unnest(range(1, 65)) t(i)
        JOIN stats USING (i)
        GROUP BY vec_id
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_inner_product(q.c, c.c) AS BIGINT) AS score
        FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 100 = 0
    )
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER w AS INT) AS rank, score
    FROM scored
    WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
    QUALIFY row_number() OVER w <= 3
"""


# ---------------------------------------------------------------------------
# Cross-source duplicate overlap: for every PAIR of sources, how many
# near-duplicate document pairs (token Jaccard >= 0.6 on the sliced
# corpus) cross them — the curation diagnostic that tells you which
# feeds re-crawl each other before you pay for full dedup.
# ---------------------------------------------------------------------------

def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per (source_a, source_b) bucket, built on
    the exact set-similarity join's sliced output."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = q_ssjoin_exact(spark, sf_dir).select("id_a", "id_b")
    sa = docs.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    tagged = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    # unordered source pair: (least, greatest)
    return (
        tagged.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_dup_pairs"))
    )


_CROSS_SOURCE_SQL = (
    """
    WITH pairs AS ("""
    + _SSJOIN_SQL
    + """
    ),
    d AS (SELECT doc_id, source FROM documents)
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM pairs
    JOIN d da ON pairs.id_a = da.doc_id
    JOIN d db ON pairs.id_b = db.doc_id
    GROUP BY 1, 2
"""
)


# ---------------------------------------------------------------------------
# Robust trend battery per priority: Mann-Kendall S (an exact integer
# pair-sign sum), its normal approximation Z (sqrt is IEEE-exact on
# identical operands), and the Theil-Sen median slope (median over
# exact-ratio pairwise slopes; both engines interpolate percentiles
# identically).  Pairs come from the same per-key HOF expansion shape
# as frequent_pairs — no self-join.
# ---------------------------------------------------------------------------

def q_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope of monthly revenue
    per priority (month index as the x axis)."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            )
        )
    )
    series = monthly.groupBy("o_orderpriority").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "rev"))),
            lambda s: s["rev"].cast("double"),
        ).alias("x")
    )
    # all i<j pairs of (gap j-i, diff x[j]-x[i]) per key, one HOF pass
    pairs = F.expr(
        "flatten(transform(x, (xi, i) -> "
        "transform(slice(x, i + 2, size(x)), (xj, jrel) -> "
        "struct(CAST(jrel + 1 AS DOUBLE) AS gap, xj - xi AS diff))))"
    )
    exploded = series.select(
        "o_orderpriority", F.size("x").cast("int").alias("n_months"),
        F.explode(pairs).alias("p")
    )
    per_pair = exploded.select(
        "o_orderpriority",
        "n_months",
        F.signum(F.col("p.diff")).cast("long").alias("sgn"),
        (F.col("p.diff") / F.col("p.gap")).alias("slope"),
    )
    n = F.col("n_months").cast("double")
    var_s = n * (n - 1) * (2 * n + 5) / 18
    s_stat = F.sum("sgn")
    z = (
        F.when(s_stat > 0, (s_stat - 1) / F.sqrt(var_s))
        .when(s_stat < 0, (s_stat + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return per_pair.groupBy("o_orderpriority", "n_months").agg(
        s_stat.alias("mk_s"),
        z.alias("mk_z"),
        F.percentile("slope", F.lit(0.5)).alias("theil_sen_slope"),
    )


_ROBUST_TREND_SQL = """
    WITH mon AS (
        SELECT o_orderpriority, date_trunc('month', o_orderdate) AS m,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2
    ),
    pos AS (
        SELECT o_orderpriority, CAST(rev AS DOUBLE) AS rev,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY m) AS INT) AS i,
               CAST(count(*) OVER (PARTITION BY o_orderpriority) AS INT)
                   AS n_months
        FROM mon
    ),
    pairs AS (
        SELECT a.o_orderpriority, a.n_months,
               CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn,
               (b.rev - a.rev) / CAST(b.i - a.i AS DOUBLE) AS slope
        FROM pos a JOIN pos b
          ON a.o_orderpriority = b.o_orderpriority AND a.i < b.i
    )
    SELECT o_orderpriority, n_months,
           CAST(sum(sgn) AS BIGINT) AS mk_s,
           CASE WHEN sum(sgn) > 0 THEN (sum(sgn) - 1)
                     / sqrt(n_months * (n_months - 1.0) * (2.0 * n_months + 5)
                            / 18)
                WHEN sum(sgn) < 0 THEN (sum(sgn) + 1)
                     / sqrt(n_months * (n_months - 1.0) * (2.0 * n_months + 5)
                            / 18)
                ELSE 0.0 END AS mk_z,
           quantile_cont(slope, 0.5) AS theil_sen_slope
    FROM pairs GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Join-key skew report: the diagnostic that drives the salt/broadcast
# decision (operators/skew.py) — per candidate join key: cardinality,
# hottest-key share, and the strategy the thresholds recommend.  All
# counts exact; the one ratio is a single division of exact integers.
# ---------------------------------------------------------------------------

def _key_skew(df: DataFrame, rel: str, key: str) -> DataFrame:
    freq = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
    return freq.agg(
        F.lit(rel).alias("relation"),
        F.lit(key).alias("key"),
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_key_rows"),
    ).select(
        "*",
        (F.col("max_key_rows") * F.col("n_keys") / F.col("n_rows")).alias(
            "skew_ratio"
        ),
        F.when(F.col("n_keys") <= 1000, F.lit("broadcast"))
        .when(
            F.col("max_key_rows") * F.col("n_keys") > 10 * F.col("n_rows"),
            F.lit("salt"),
        )
        .otherwise(F.lit("hash_join"))
        .alias("recommendation"),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per join key: rows, distinct keys, hottest key, skew ratio
    (max_freq / mean_freq), and the recommended join strategy."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        _key_skew(li, "lineitem", "l_orderkey")
        .unionByName(_key_skew(li, "lineitem", "l_suppkey"))
        .unionByName(_key_skew(li, "lineitem", "l_partkey"))
        .unionByName(_key_skew(orders, "orders", "o_custkey"))
    )


_SKEW_REPORT_SQL = """
    WITH f AS (
        SELECT 'lineitem' AS relation, 'l_orderkey' AS key,
               count(*) AS c
        FROM lineitem GROUP BY l_orderkey
        UNION ALL
        SELECT 'lineitem', 'l_suppkey', count(*)
        FROM lineitem GROUP BY l_suppkey
        UNION ALL
        SELECT 'lineitem', 'l_partkey', count(*)
        FROM lineitem GROUP BY l_partkey
        UNION ALL
        SELECT 'orders', 'o_custkey', count(*)
        FROM orders GROUP BY o_custkey
    )
    SELECT relation, key,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           CAST(max(c) * count(*) AS DOUBLE) / sum(c) AS skew_ratio,
           CASE WHEN count(*) <= 1000 THEN 'broadcast'
                WHEN max(c) * count(*) > 10 * sum(c) THEN 'salt'
                ELSE 'hash_join' END AS recommendation
    FROM f GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Join-size estimation: |orders ⋈ lineitem| predicted from a 1/16
# deterministic KEY sample (md5 of the key — sampling KEYS, not rows,
# keeps the two sides correlated, which is what makes the estimator
# unbiased: E[Σ_sampled fA·fB / p] = Σ fA·fB).  Exact truth computed
# beside it; everything integer except the final scale-up and error
# ratio (single divisions of exact ints).
# ---------------------------------------------------------------------------

def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs key-sampled estimate of the orders-lineitem join size
    — the estimate-before-you-shuffle planning discipline."""
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count("*").alias("fb"))
    o = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count("*").alias("fa"))
    prod = o.join(li, "k").select(
        "k", (F.col("fa") * F.col("fb")).alias("fab"),
        # deterministic 1/16 key sample: first md5 nibble == '0'
        (F.substring(F.md5(F.col("k").cast("string")), 1, 1) == "0").alias(
            "sampled"
        ),
    )
    return prod.agg(
        F.sum("fab").alias("exact_rows"),
        (F.sum(F.when(F.col("sampled"), F.col("fab")).otherwise(0)) * 16)
        .alias("est_rows"),
        F.count("*").alias("n_join_keys"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled_keys"),
    ).select(
        "*",
        (
            F.abs(F.col("est_rows") - F.col("exact_rows"))
            / F.col("exact_rows")
        ).alias("rel_error"),
    )


_JOIN_SIZE_SQL = """
    WITH a AS (SELECT o_orderkey AS k, count(*) AS fa FROM orders GROUP BY 1),
    b AS (SELECT l_orderkey AS k, count(*) AS fb FROM lineitem GROUP BY 1),
    prod AS (
        SELECT a.k, fa * fb AS fab,
               substr(md5(CAST(a.k AS VARCHAR)), 1, 1) = '0' AS sampled
        FROM a JOIN b USING (k)
    )
    SELECT CAST(sum(fab) AS BIGINT) AS exact_rows,
           CAST(sum(CASE WHEN sampled THEN fab ELSE 0 END) * 16 AS BIGINT)
               AS est_rows,
           CAST(count(*) AS BIGINT) AS n_join_keys,
           CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled_keys,
           CAST(abs(sum(CASE WHEN sampled THEN fab ELSE 0 END) * 16
                    - sum(fab)) AS DOUBLE) / sum(fab) AS rel_error
    FROM prod
"""


# ---------------------------------------------------------------------------
# Full core-number decomposition of the co-purchase graph via the
# h-index fixpoint (h starts at degree, repeatedly becomes the H-index
# of neighbor h values, converges DOWN to the core number — all small
# integers).  The oracle replays 40 fixed rounds as a recursive CTE
# (idempotent after convergence); the Spark loop stops at fixpoint.
# ---------------------------------------------------------------------------

def q_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number of every part in the co-purchase graph (edges =
    pairs co-occurring in >= 2 orders).

    Edge generation routes through the capped ``frequent_pairs``
    machinery since round 7: this query kept the uncapped inline pair
    explode after ``q_k_core_parts`` was converted (round-5 verdict
    #2) — the round-7 ×8 probe flagged it at ×69 (overlay
    densification multiplies every basket's pair fan-out), and a
    single degenerate mega-order would emit C(n,2) pairs with no
    bound.  Same guard, same oracle ``ok`` CTE replay, cap inert on
    TPC-H's ≤ 7-lineitem orders."""
    from sf_datalake_spark.operators.components import core_numbers
    from sf_datalake_spark.operators.itemsets import frequent_pairs

    mem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = frequent_pairs(
        mem, "l_orderkey", "l_partkey", min_support=2, max_basket_size=64
    )
    edges = pairs.select(
        F.col("item_1").alias("u"), F.col("item_2").alias("v")
    )
    # Same already-unique edge contract as q_k_core_parts (r11).
    return core_numbers(edges, "u", "v", dedup_edges=False)


_CORE_SQL = """
    WITH RECURSIVE mem AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    freq AS (SELECT i FROM mem GROUP BY i HAVING count(*) >= 2),
    pm AS (SELECT b, i FROM mem JOIN freq USING (i)),
    ok AS (SELECT b FROM pm GROUP BY b HAVING count(*) <= 64),
    pairs AS (
        SELECT a.i AS u, c.i AS v
        FROM pm a
        JOIN pm c ON a.b = c.b AND a.i < c.i
        JOIN ok ON a.b = ok.b
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    h AS (
        SELECT 0 AS r, u AS id, CAST(count(*) AS INT) AS hv
        FROM und GROUP BY u
        UNION ALL
        SELECT r + 1, id, hv FROM (
            SELECT r, id, CAST(max(least(rnk, nh)) AS INT) AS hv FROM (
                SELECT p.r AS r, e.u AS id, p.hv AS nh,
                       CAST(row_number() OVER (PARTITION BY p.r, e.u
                            ORDER BY p.hv DESC) AS INT) AS rnk
                FROM h p JOIN und e ON e.v = p.id
                WHERE p.r < 40
            ) GROUP BY r, id
        )
    )
    SELECT id, hv AS core FROM h WHERE r = 40
"""


# ---------------------------------------------------------------------------
# Association metrics over co-purchase pairs: support, confidence,
# lift, leverage — every float a fixed expression tree over exact
# integer counts (lift = N·c_xy/(c_x·c_y) instead of log-PMI: same
# ranking, no data-dependent libm call to drift between engines).
# ---------------------------------------------------------------------------

def q_association_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by lift (ties broken by the pair ids), with
    support, confidence and leverage."""
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    n_baskets = baskets.agg(F.count("*").alias("n_b"))
    item_counts = baskets.select(
        F.explode("items").alias("item")
    ).groupBy("item").agg(F.count("*").alias("c_x"))
    pair_counts = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 2)
    )
    joined = (
        pair_counts.join(
            F.broadcast(item_counts.select(F.col("item").alias("u"),
                                           F.col("c_x").alias("cu"))), "u"
        )
        .join(
            F.broadcast(item_counts.select(F.col("item").alias("v"),
                                           F.col("c_x").alias("cv"))), "v"
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    lift = (F.col("c_xy") * F.col("n_b")) / (F.col("cu") * F.col("cv"))
    out = joined.select(
        "u", "v", "c_xy",
        F.col("cu").alias("c_u"),
        F.col("cv").alias("c_v"),
        (F.col("c_xy") / F.col("n_b")).alias("support"),
        (F.col("c_xy") / F.col("cu")).alias("confidence"),
        lift.alias("lift"),
        (
            F.col("c_xy") / F.col("n_b")
            - (F.col("cu") / F.col("n_b")) * (F.col("cv") / F.col("n_b"))
        ).alias("leverage"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("lift").desc(), "u", "v")
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )


_ASSOCIATION_SQL = """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_b FROM b),
    ic AS (SELECT l_partkey AS item, count(*) AS c_x FROM b GROUP BY 1),
    pc AS (
        SELECT a.l_partkey AS u, c.l_partkey AS v, count(*) AS c_xy
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT u, v, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(cu.c_x AS BIGINT) AS c_u, CAST(cv.c_x AS BIGINT) AS c_v,
           CAST(c_xy AS DOUBLE) / n_b AS support,
           CAST(c_xy AS DOUBLE) / cu.c_x AS confidence,
           CAST(c_xy * n_b AS DOUBLE) / (cu.c_x * cv.c_x) AS lift,
           CAST(c_xy AS DOUBLE) / n_b
             - (CAST(cu.c_x AS DOUBLE) / n_b)
               * (CAST(cv.c_x AS DOUBLE) / n_b) AS leverage
    FROM pc
    JOIN ic cu ON pc.u = cu.item
    JOIN ic cv ON pc.v = cv.item
    CROSS JOIN nb
    ORDER BY lift DESC, u, v
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Deterministic A/B test: users hash-split into two arms (md5 parity),
# purchase conversion compared with the two-proportion z statistic —
# every float a fixed expression over exact counts, sqrt IEEE-exact.
# ---------------------------------------------------------------------------

def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between the
    md5-parity user arms."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2),
                   16, 10).cast("long") % 2
        ).alias("arm"),
    )
    # the synthetic corpus gives EVERY user every event type, so
    # "converted" = heavy purchaser (>= 14 purchase events) to get a
    # non-degenerate split; the z expression is guarded for the
    # all-or-nothing case (variance 0 -> NULL) either way
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_p"))
        .filter(F.col("n_p") >= 14)
        .select("user_id", F.lit(1).cast("long").alias("bought"))
    )
    per_arm = (
        users.join(buyers, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce(F.col("bought"), F.lit(0))).alias("n_buyers"),
        )
    )
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_buyers").alias("b0")
    )
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("n1"), F.col("n_buyers").alias("b1")
    )
    j = a.crossJoin(b)
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    p0 = F.col("b0") / n0d
    p1 = F.col("b1") / n1d
    pp = (F.col("b0") + F.col("b1")).cast("double") / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1 - pp) * (F.lit(1.0) / n0d + F.lit(1.0) / n1d))
    z = F.when(se != 0.0, (p0 - p1) / se)
    return j.select(
        "n0", "b0", "n1", "b1",
        p0.alias("conv_a"), p1.alias("conv_b"), z.alias("z_stat"),
    )


_AB_TEST_SQL = """
    WITH users AS (
        SELECT DISTINCT user_id,
               CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                         AS BIGINT) % 2 AS BIGINT) AS arm
        FROM events
    ),
    buyers AS (
        SELECT user_id, 1 AS bought FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id HAVING count(*) >= 14
    ),
    per_arm AS (
        SELECT arm, count(*) AS n_users,
               sum(coalesce(bought, 0)) AS n_buyers
        FROM users LEFT JOIN buyers USING (user_id)
        GROUP BY 1
    ),
    j AS (
        SELECT a.n_users AS n0, a.n_buyers AS b0,
               b.n_users AS n1, b.n_buyers AS b1
        FROM per_arm a, per_arm b WHERE a.arm = 0 AND b.arm = 1
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(b0 AS BIGINT) AS b0,
           CAST(n1 AS BIGINT) AS n1, CAST(b1 AS BIGINT) AS b1,
           CAST(b0 AS DOUBLE) / n0 AS conv_a,
           CAST(b1 AS DOUBLE) / n1 AS conv_b,
           CASE WHEN sqrt((CAST(b0 + b1 AS DOUBLE) / (n0 + n1))
                          * (1 - CAST(b0 + b1 AS DOUBLE) / (n0 + n1))
                          * (CAST(1 AS DOUBLE) / n0
                             + CAST(1 AS DOUBLE) / n1)) <> 0
                THEN (CAST(b0 AS DOUBLE) / n0 - CAST(b1 AS DOUBLE) / n1)
                     / sqrt((CAST(b0 + b1 AS DOUBLE) / (n0 + n1))
                            * (1 - CAST(b0 + b1 AS DOUBLE) / (n0 + n1))
                            * (CAST(1 AS DOUBLE) / n0
                               + CAST(1 AS DOUBLE) / n1))
           END AS z_stat
    FROM j
"""


# ---------------------------------------------------------------------------
# Position-based (U-shaped) attribution: first and last touch get 40%
# each, the middle splits 20% — in exact ppm integers like the linear
# model (remainders stay put; `div` == `//`).
# ---------------------------------------------------------------------------

def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per channel: U-shaped (40/20/40) ppm credit totals."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
    )
    matched = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id").orderBy("t_ts", "touch_id")
    ranked = matched.select(
        "event_type",
        "purchase_id",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(Window.partitionBy("purchase_id")).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when(F.col("pos") == 1, F.lit(400_000))
        .when(F.col("pos") == F.col("n"), F.lit(400_000))
        .otherwise(F.expr("200000L div (n - 2)"))
    )
    return ranked.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.sum(credit.cast("long")).alias("credit_ppm_total"),
    )


_POSITION_ATTRIBUTION_SQL = """
    WITH purchases AS (
        SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type, ts AS t_ts, event_id AS touch_id
        FROM events WHERE event_type IN ('view', 'click')
    ),
    ranked AS (
        SELECT event_type, purchase_id,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY t_ts, touch_id) AS pos,
               count(*) OVER (PARTITION BY purchase_id) AS n
        FROM purchases JOIN touches
          ON p_user = user_id
         AND t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN n = 1 THEN 1000000
                         WHEN n = 2 THEN 500000
                         WHEN pos = 1 THEN 400000
                         WHEN pos = n THEN 400000
                         ELSE 200000 // (n - 2) END) AS BIGINT)
               AS credit_ppm_total
    FROM ranked GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Capped running balance: per-priority daily net flow folded with a
# floor at zero (the inventory/credit-balance recurrence — order
# dependent, so a genuine stateful fold: same bit-exact HOF + recursive
# CTE pattern as holt/cusum/acf).  Net flow = revenue minus a fixed
# daily drain so the cap actually binds.
# ---------------------------------------------------------------------------

def q_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: final floored-at-zero running balance over daily
    (revenue − mean-drain) cents, plus how often the floor bound."""
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.date_trunc("day", "o_orderdate").alias("d"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "x"
            )
        )
    )
    series = daily.groupBy("o_orderpriority").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))),
            lambda s: s["x"],
        ).alias("v"),
        F.sum("x").alias("s"),
        F.count("*").alias("n"),
    )
    # drain = ceil(mean) cents: balance drifts to 0 and the cap binds
    drain = F.expr("CAST(ceil(CAST(s AS DOUBLE) / n) AS BIGINT)")
    init = F.struct(
        F.lit(0).cast("long").alias("bal"),
        F.lit(0).cast("long").alias("floors"),
    )

    def step(acc, x):
        nxt = acc["bal"] + x - F.col("__drain")
        return F.struct(
            F.greatest(F.lit(0).cast("long"), nxt).alias("bal"),
            (acc["floors"] + F.when(nxt < 0, 1).otherwise(0)).alias("floors"),
        )

    folded = series.select(
        "o_orderpriority",
        F.col("n").cast("int").alias("n_days"),
        drain.alias("__drain"),
        F.col("v"),
    ).select(
        "o_orderpriority",
        "n_days",
        F.col("__drain").alias("drain_cents"),
        F.aggregate("v", init, step).alias("__st"),
    )
    return folded.select(
        "o_orderpriority",
        "n_days",
        "drain_cents",
        F.col("__st.bal").alias("final_balance_cents"),
        F.col("__st.floors").cast("int").alias("n_floor_hits"),
    )


_CAPPED_BALANCE_SQL = """
    WITH RECURSIVE daily AS (
        SELECT o_orderpriority, date_trunc('day', o_orderdate) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM orders GROUP BY 1, 2
    ),
    arr AS (
        SELECT o_orderpriority, list(x ORDER BY d) AS v,
               CAST(count(*) AS INT) AS n_days,
               CAST(ceil(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT)
                   AS drain
        FROM daily GROUP BY 1
    ),
    rec AS (
        SELECT o_orderpriority, v, n_days, drain, 0 AS i,
               CAST(0 AS BIGINT) AS bal, 0 AS floors
        FROM arr
        UNION ALL
        SELECT o_orderpriority, v, n_days, drain, i + 1,
               greatest(CAST(0 AS BIGINT), bal + v[i + 1] - drain),
               floors + CASE WHEN bal + v[i + 1] - drain < 0
                             THEN 1 ELSE 0 END
        FROM rec WHERE i < n_days
    )
    SELECT o_orderpriority, n_days, drain AS drain_cents,
           bal AS final_balance_cents, CAST(floors AS INT) AS n_floor_hits
    FROM rec WHERE i = n_days
"""


# ---------------------------------------------------------------------------
# Exact total-variation distance between the early and late priority
# mix: TV = Σ|b0_i·n1 − b1_i·n0| / (2·n0·n1) — the numerator an exact
# BIGINT sum (order-free), one final division.  The binning-free KS
# twin for CATEGORICAL drift.
# ---------------------------------------------------------------------------

def q_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the early (<= 1997) and late
    order-priority distributions, exactly."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") <= 1997).cast("long").alias("g1"),
    )
    per = orders.groupBy("o_orderpriority").agg(
        F.sum("g1").alias("b0"),
        (F.count("*") - F.sum("g1")).alias("b1"),
    )
    tot = per.agg(
        F.sum("b0").alias("n0"),
        F.sum("b1").alias("n1"),
        F.count("*").alias("n_categories"),
    )
    j = per.crossJoin(F.broadcast(tot))
    cross = F.abs(F.col("b0") * F.col("n1") - F.col("b1") * F.col("n0"))
    return j.groupBy("n0", "n1", "n_categories").agg(
        (
            F.sum(cross).cast("double")
            / (F.lit(2.0) * F.col("n0") * F.col("n1"))
        ).alias("tv_distance")
    )


_TV_SQL = """
    WITH per AS (
        SELECT o_orderpriority,
               sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)
                   AS b0,
               sum(CASE WHEN year(o_orderdate) <= 1997 THEN 0 ELSE 1 END)
                   AS b1
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(b0) AS BIGINT) AS n0, CAST(sum(b1) AS BIGINT) AS n1,
               CAST(count(*) AS BIGINT) AS n_categories
        FROM per
    )
    SELECT n0, n1, n_categories,
           CAST(sum(abs(b0 * n1 - b1 * n0)) AS DOUBLE) / (2.0 * n0 * n1)
               AS tv_distance
    FROM per CROSS JOIN tot
    GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Revenue concentration per nation: Gini coefficient (rank-weighted
# exact-integer form, tie-invariant) and the Herfindahl index over
# ppm-QUANTIZED shares: s_i = (x_i·10^6) div Σx, HHI = Σs_i²/10^12 —
# all-integer until one final division.  (The direct Σx² form needs
# >2^63 intermediates, and DuckDB's HUGEINT→DOUBLE cast double-rounds
# in the last ulp — quantized shares sidestep both.)
# ---------------------------------------------------------------------------

def q_concentration_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customer count, Gini of customer revenue, HHI of
    revenue shares."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "x"
            )
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_custkey", "x")
    )
    w = Window.partitionBy("n_name").orderBy("x", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("six") / (F.col("n_customers") * F.col("sx"))
        - (F.col("n_customers") + 1) / n
    )
    # second (cheap) pass for the quantized shares: sx must be final
    shares = ranked.join(
        F.broadcast(agg.select("n_name", F.col("sx").alias("__sx"))), "n_name"
    ).select(
        "n_name",
        F.expr("(x * 1000000L) div __sx").alias("s_ppm"),
    )
    hhi_frame = shares.groupBy("n_name").agg(
        (F.sum(F.col("s_ppm") * F.col("s_ppm")) / F.lit(1e12)).alias("hhi")
    )
    agg = agg.join(F.broadcast(hhi_frame), "n_name")
    return agg.select(
        "n_name",
        "n_customers",
        F.col("sx").alias("revenue_cents"),
        gini.alias("gini"),
        "hhi",
    )


_CONCENTRATION_SQL = """
    WITH rev AS (
        SELECT n_name, o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT n_name, x,
               CAST(row_number() OVER (PARTITION BY n_name
                    ORDER BY x, o_custkey) AS BIGINT) AS i,
               CAST(sum(x) OVER (PARTITION BY n_name) AS BIGINT) AS sx
        FROM rev
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(sx) AS BIGINT) AS revenue_cents,
           2.0 * CAST(sum(i * x) AS BIGINT) / (count(*) * min(sx))
             - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini,
           CAST(sum(((x * 1000000) // sx)
                    * ((x * 1000000) // sx)) AS BIGINT) / 1e12 AS hhi
    FROM ranked GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Calendar seasonality: month-of-year revenue index (12 x share of
# annual revenue, 1.0 = flat) — exact counts, one division per row.
# ---------------------------------------------------------------------------

def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per calendar month: orders, revenue, and the 12-normalized
    revenue share."""
    orders = _t(spark, sf_dir, "orders")
    per_m = orders.groupBy(F.month("o_orderdate").alias("month_of_year")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )
    tot = per_m.agg(F.sum("revenue_cents").alias("s_total"))
    return per_m.crossJoin(F.broadcast(tot)).select(
        "month_of_year",
        "n_orders",
        "revenue_cents",
        (
            (F.col("revenue_cents") * F.lit(12)).cast("double")
            / F.col("s_total")
        ).alias("seasonal_index"),
    )


_SEASONALITY_SQL = """
    WITH per_m AS (
        SELECT CAST(month(o_orderdate) AS INT) AS month_of_year,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS s_total FROM per_m)
    SELECT month_of_year, n_orders, revenue_cents,
           CAST(revenue_cents * 12 AS DOUBLE) / s_total AS seasonal_index
    FROM per_m CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival of customer lifetime per market segment:
# lifetime = days between first and last order, right-censored when
# the customer is still active near the horizon.  The KM product
# S(t) = Π (n_i − d_i)/n_i folds in event-time order — float products
# are order-dependent, so this is the module's fifth bit-exact HOF
# recurrence, mirrored by a recursive CTE.  All counts exact; the one
# float is the survival product itself (identical operation streams).
# ---------------------------------------------------------------------------

def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per segment: customers, event times, final KM survival, and the
    first lifetime (days) at which survival drops to <= 0.5."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    life = (
        orders.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_o"),
            F.max("o_orderdate").alias("last_o"),
        )
        .crossJoin(F.broadcast(horizon))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.datediff("last_o", "first_o").alias("t"),
            # still ordering within 180 days of the horizon -> censored
            (F.datediff("h", "last_o") >= 180).cast("int").alias("is_event"),
        )
    )
    per_t = life.groupBy("c_mktsegment", "t").agg(
        F.sum("is_event").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).alias("c"),
    )
    series = per_t.groupBy("c_mktsegment").agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("v"),
        F.sum(F.col("d") + F.col("c")).alias("n0"),
        F.count("*").alias("n_times"),
    )
    init = F.struct(
        F.col("n0").alias("at_risk"),
        F.lit(1.0).alias("s"),
        F.lit(None).cast("int").alias("median_t"),
    )

    def step(acc, e):
        s_new = F.when(
            e["d"] > 0,
            acc["s"]
            * (
                (acc["at_risk"] - e["d"]).cast("double")
                / acc["at_risk"].cast("double")
            ),
        ).otherwise(acc["s"])
        return F.struct(
            (acc["at_risk"] - e["d"] - e["c"]).alias("at_risk"),
            s_new.alias("s"),
            F.coalesce(
                acc["median_t"],
                F.when(s_new <= 0.5, e["t"].cast("int")),
            ).alias("median_t"),
        )

    folded = series.select(
        "c_mktsegment",
        F.col("n0").alias("n_customers"),
        F.col("n_times").cast("int").alias("n_event_times"),
        F.aggregate("v", init, step).alias("__st"),
    )
    return folded.select(
        "c_mktsegment",
        "n_customers",
        "n_event_times",
        F.col("__st.s").alias("final_survival"),
        F.col("__st.median_t").alias("median_lifetime_days"),
    )


_KM_SQL = """
    WITH RECURSIVE horizon AS (SELECT max(o_orderdate) AS h FROM orders),
    life AS (
        SELECT c_mktsegment,
               CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
                    AS INT) AS t,
               CASE WHEN date_diff('day', max(o_orderdate),
                                   (SELECT h FROM horizon)) >= 180
                    THEN 1 ELSE 0 END AS is_event
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_custkey
    ),
    per_t AS (
        SELECT c_mktsegment, t,
               CAST(sum(is_event) AS BIGINT) AS d,
               CAST(sum(1 - is_event) AS BIGINT) AS c
        FROM life GROUP BY 1, 2
    ),
    arr AS (
        SELECT c_mktsegment,
               list(struct_pack(t := t, d := d, c := c) ORDER BY t) AS v,
               CAST(sum(d + c) AS BIGINT) AS n0,
               CAST(count(*) AS INT) AS n_times
        FROM per_t GROUP BY 1
    ),
    rec AS (
        SELECT c_mktsegment, v, n0, n_times, 0 AS i,
               n0 AS at_risk, CAST(1 AS DOUBLE) AS s,
               CAST(NULL AS INT) AS median_t
        FROM arr
        UNION ALL
        SELECT c_mktsegment, v, n0, n_times, i + 1,
               at_risk - v[i + 1].d - v[i + 1].c,
               CASE WHEN v[i + 1].d > 0
                    THEN s * (CAST(at_risk - v[i + 1].d AS DOUBLE)
                              / CAST(at_risk AS DOUBLE))
                    ELSE s END,
               coalesce(median_t,
                        CASE WHEN (CASE WHEN v[i + 1].d > 0
                                   THEN s * (CAST(at_risk - v[i + 1].d
                                                  AS DOUBLE)
                                             / CAST(at_risk AS DOUBLE))
                                   ELSE s END) <= 0.5
                             THEN CAST(v[i + 1].t AS INT) END)
        FROM rec WHERE i < n_times
    )
    SELECT c_mktsegment, n0 AS n_customers, n_times AS n_event_times,
           s AS final_survival, median_t AS median_lifetime_days
    FROM rec WHERE i = n_times
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "ssjoin_exact": (q_ssjoin_exact, _SSJOIN_SQL),
    "scd2_dimension": (q_scd2_dimension, _SCD2_SQL),
    "pareto_parts": (q_pareto_parts, _PARETO_SQL),
    "pareto_parts_3d": (q_pareto_parts_3d, _PARETO_3D_SQL),
    "acf_revenue": (q_acf_revenue, _ACF_SQL),
    "benford_profile": (q_benford_profile, _BENFORD_SQL),
    "mad_outlier_days": (q_mad_outlier_days, _MAD_SQL),
    "scd2_pit_join": (q_scd2_pit_join, _SCD2_PIT_SQL),
    "streaming_scd2": (q_streaming_scd2, _SCD2_SQL),
    "k_core_parts": (q_k_core_parts, _K_CORE_SQL),
    "table_diff": (q_table_diff, _TABLE_DIFF_SQL),
    "fk_violations": (q_fk_violations, _FK_SQL),
    "ks_drift": (q_ks_drift, _KS_SQL),
    "isotonic_trend": (q_isotonic_trend, _ISOTONIC_SQL),
    "phrase_search": (q_phrase_search, _PHRASE_SQL),
    "linear_attribution": (q_linear_attribution, _ATTRIBUTION_SQL),
    "streaming_skyline": (q_streaming_skyline, _PARETO_SQL),
    "ann_int8_topk": (q_ann_int8_topk, _ANN_INT8_SQL),
    "cross_source_overlap": (q_cross_source_overlap, _CROSS_SOURCE_SQL),
    "robust_trend": (q_robust_trend, _ROBUST_TREND_SQL),
    "skew_report": (q_skew_report, _SKEW_REPORT_SQL),
    "join_size_estimate": (q_join_size_estimate, _JOIN_SIZE_SQL),
    "core_decomposition": (q_core_decomposition, _CORE_SQL),
    "association_metrics": (q_association_metrics, _ASSOCIATION_SQL),
    "ab_test": (q_ab_test, _AB_TEST_SQL),
    "position_attribution": (q_position_attribution, _POSITION_ATTRIBUTION_SQL),
    "capped_balance": (q_capped_balance, _CAPPED_BALANCE_SQL),
    "tv_distance": (q_tv_distance, _TV_SQL),
    "concentration_metrics": (q_concentration_metrics, _CONCENTRATION_SQL),
    "seasonality_index": (q_seasonality_index, _SEASONALITY_SQL),
    "km_survival": (q_km_survival, _KM_SQL),
}
