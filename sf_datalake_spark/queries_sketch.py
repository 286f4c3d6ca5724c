"""Mergeable-sketch queries (HLL / KLL / theta / Count-Min) with
exact-twin invariant oracles.

Sketch internals are engine-specific, so a value-hash oracle can never
compare estimates directly.  Instead every query here emits, alongside
the EXACT answer (computed distributed in Spark and re-derived
independently by the DuckDB oracle), an accuracy FLAG asserting the
sketch's published error bound against that exact answer.  The oracle
returns the exact values with the flag hard-coded true — so the
cross-engine hash passes iff (a) both engines agree on the exact
answer and (b) the sketch estimate honors its error contract on this
dataset.  Sketches are deterministic given their seeds, so the flags
are stable, not flaky.

The operators live in ``operators/sketches.py``; see its module
docstring for the store-sketches / merge-at-query-time scale pattern.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t
from sf_datalake_spark.session import pinned


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order priority, answered by MERGING
    per-month HLL sketches (the stored-pre-aggregate path) and checked
    against the exact distinct count computed in the same query.

    lgK=14 → rsd ≈ 0.8 %; the flag allows 3 % (≈3.7σ).  ~84 months ×
    5 priorities of 16 KB sketches shuffle instead of the key stream —
    at 100 TB the monthly sketch table is thousands of rows regardless
    of corpus size.
    """
    from sf_datalake_spark.operators.sketches import (
        hll_merge,
        hll_partition_sketches,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_custkey",
        F.trunc("o_orderdate", "month").alias("month"),
    )
    sketches = hll_partition_sketches(
        orders, ["o_orderpriority"], ["month"], "o_custkey", lg_k=14
    )
    est = hll_merge(sketches, ["o_orderpriority"])
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority",
        "exact_customers",
        (
            F.abs(F.col("distinct_est") - F.col("exact_customers"))
            <= 0.03 * F.col("exact_customers")
        )
        .cast("int")
        .alias("est_ok"),
    )


_HLL_ROLLUP_SQL = """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           1 AS est_ok
    FROM orders GROUP BY 1
"""


def q_kll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-price quantiles from per-month KLL sketches merged at
    query time, checked through KLL's actual contract — RANK error:
    the exact rank of each estimated quantile value must sit within
    3 % of the requested rank (k=200 → ~1.65 % guaranteed).

    Comparing estimated VALUES against exact quantiles would test a
    guarantee KLL does not make (value error is unbounded on heavy
    tails); the rank check is the honest invariant, and it is exactly
    computable in one pass over the data.
    """
    from sf_datalake_spark.operators.sketches import kll_merged_quantiles

    quantiles = (0.5, 0.9)
    orders = _t(spark, sf_dir, "orders").select(
        "o_totalprice", F.trunc("o_orderdate", "month").alias("month")
    )
    est = kll_merged_quantiles(orders, ["month"], "o_totalprice", quantiles)
    checked = orders.join(F.broadcast(est)).agg(
        F.count("*").alias("n_rows"),
        *[
            (
                F.sum(
                    (F.col("o_totalprice") <= F.col(f"q_est_{i}")).cast("long")
                )
                / F.count("*")
            ).alias(f"rank_{i}")
            for i in range(len(quantiles))
        ],
    )
    stacked = checked.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("quantile"),
                        F.col("n_rows").alias("n_rows"),
                        (F.abs(F.col(f"rank_{i}") - F.lit(float(q))) <= 0.03)
                        .cast("int")
                        .alias("rank_ok"),
                    )
                    for i, q in enumerate(quantiles)
                ]
            )
        ).alias("__s")
    )
    return stacked.select("__s.quantile", "__s.n_rows", "__s.rank_ok")


_KLL_ROLLUP_SQL = """
    SELECT CAST(q AS DOUBLE) AS quantile,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
           1 AS rank_ok
    FROM (SELECT unnest([0.5, 0.9]) AS q)
"""


def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-set algebra between the URGENT and LOW order segments
    from two theta sketches built in ONE scan: |A∪B|, |A∩B|, |A\\B|
    estimates, each flagged within 5 % of the exact answer (computed in
    the same pass via per-customer membership flags — one aggregation,
    no self-join).

    This is the audience-overlap shape: at 100 TB the per-segment
    sketches are stored pre-aggregates and the intersection needs no
    access to the raw ids at all.
    """
    from sf_datalake_spark.operators.sketches import theta_set_estimates

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    est = theta_set_estimates(
        orders,
        "o_custkey",
        F.col("o_orderpriority") == "1-URGENT",
        F.col("o_orderpriority") == "5-LOW",
    )
    membership = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("in_a"),
        F.max((F.col("o_orderpriority") == "5-LOW").cast("int")).alias("in_b"),
    )
    exact = membership.agg(
        F.sum(((F.col("in_a") == 1) | (F.col("in_b") == 1)).cast("long")).alias(
            "exact_union"
        ),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias(
            "exact_intersect"
        ),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")).alias(
            "exact_diff"
        ),
    )
    both = exact.join(F.broadcast(est))
    rows = [
        ("union", "exact_union", "union_est"),
        ("intersect", "exact_intersect", "intersect_est"),
        ("difference", "exact_diff", "diff_est"),
    ]
    stacked = both.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(op).alias("set_op"),
                        F.col(exact_c).alias("exact_count"),
                        (
                            F.abs(F.col(est_c) - F.col(exact_c))
                            <= 0.05 * F.col(exact_c)
                        )
                        .cast("int")
                        .alias("est_ok"),
                    )
                    for op, exact_c, est_c in rows
                ]
            )
        ).alias("__s")
    )
    return stacked.select("__s.set_op", "__s.exact_count", "__s.est_ok")


_THETA_SET_OPS_SQL = """
    WITH m AS (
        SELECT o_custkey,
               max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS in_b
        FROM orders GROUP BY 1
    )
    SELECT 'union' AS set_op,
           CAST(sum(CASE WHEN in_a = 1 OR in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_count, 1 AS est_ok FROM m
    UNION ALL
    SELECT 'intersect',
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT),
           1 FROM m
    UNION ALL
    SELECT 'difference',
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT),
           1 FROM m
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency screening of the document token stream: the
    10 most frequent whitespace tokens, each flagged against CMS's
    one-sided bound ``exact ≤ est ≤ exact + eps·N`` (eps=0.001,
    seed-deterministic).

    The sketch is built in one distributed aggregation; only the final
    ~56 KB binary reaches the driver to answer the point lookups —
    bounded by construction, independent of corpus size.  The exact
    top-10 (the check's ground truth) is the standard count/top-k
    shape and prices the same corpus scan.
    """
    from sf_datalake_spark.operators.sketches import cms_estimate_counts

    from sf_datalake_spark.operators.skew import spread_narrow_scan

    docs = _t(spark, sf_dir, "documents")
    # both consumers (exact counts + the sketch aggregation) pay the
    # tokenize+explode map work — spread a narrow scan first so it uses
    # the whole cluster (no-op on real multi-split layouts)
    words = spread_narrow_scan(docs.select("text")).select(
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("word")
    )
    # Two corpus tokenization passes total: one building the (cached,
    # vocabulary-sized) exact counts — which also yield n_total as
    # Σ exact_n, no separate words.count() scan — and one feeding the
    # sketch (the CMS aggregates raw occurrences by definition).
    with pinned(words.groupBy("word").agg(F.count("*").alias("exact_n"))) as counts:
        top = counts.orderBy(F.desc("exact_n"), "word").limit(10).collect()
        n_total = counts.agg(F.sum("exact_n")).collect()[0][0]
    eps = 0.001
    ests = cms_estimate_counts(words, "word", [r["word"] for r in top], eps=eps)
    out = [
        (
            r["word"],
            int(r["exact_n"]),
            int(
                r["exact_n"] <= ests[r["word"]] <= r["exact_n"] + eps * n_total
            ),
        )
        for r in top
    ]
    return spark.createDataFrame(
        out, "word string, exact_n bigint, within_bound int"
    )


_CMS_HEAVY_HITTERS_SQL = r"""
    WITH words AS (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS word
        FROM documents
    ),
    cnt AS (SELECT word, count(*) AS n FROM words GROUP BY 1)
    SELECT word, CAST(n AS BIGINT) AS exact_n, 1 AS within_bound
    FROM cnt ORDER BY n DESC, word LIMIT 10
"""


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ∘ sketches capstone: distinct users per event type
    maintained as an HLL sketch aggregation UNDER a file stream
    (complete mode — the sketch is the running state, kilobytes per
    key no matter how many users pass), flagged against the exact
    batch distinct count.  This is the streaming dashboard pattern:
    the distinct-count state that an exact streaming aggregation
    would grow without bound is a fixed-size sketch here."""
    from sf_datalake_spark.queries_ext import _events_stream
    from sf_datalake_spark.streaming import run_to_memory

    est_stream = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias(
                "distinct_est"
            )
        )
    )
    est = run_to_memory(
        est_stream, "q_streaming_hll_distinct", output_mode="complete",
        final_watermark_batch=False,
    )
    exact = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("distinct_est") - F.col("exact_users"))
            <= 0.03 * F.col("exact_users")
        )
        .cast("int")
        .alias("est_ok"),
    )


_STREAMING_HLL_SQL = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           1 AS est_ok
    FROM events GROUP BY 1
"""


def q_streaming_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ∘ sketches, quantile edition: per-event-type KLL
    sketches of the value column maintained UNDER a file stream
    (complete mode — fixed-size state where an exact streaming
    percentile would buffer every row), then checked through KLL's
    actual contract: the EXACT rank of each estimated quantile value
    must sit within 3 % of the requested rank (k=200 → ~1.65 %
    guaranteed).  The streaming dashboard latency-percentile pattern."""
    from sf_datalake_spark.queries_ext import _events_stream
    from sf_datalake_spark.streaming import run_to_memory

    quantiles = (0.5, 0.9)
    est_stream = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            *[
                F.expr(
                    "kll_sketch_get_quantile_double("
                    "kll_sketch_agg_double(cast(value as double), 200), "
                    f"cast({float(q)} as double))"
                ).alias(f"q_est_{i}")
                for i, q in enumerate(quantiles)
            ]
        )
    )
    est = run_to_memory(
        est_stream, "q_streaming_kll_quantiles", output_mode="complete",
        final_watermark_batch=False,
    )
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            *[
                (
                    F.abs(
                        F.sum(
                            (F.col("value") <= F.col(f"q_est_{i}")).cast("long")
                        )
                        / F.count("*")
                        - F.lit(float(q))
                    )
                    <= 0.03
                )
                .cast("int")
                .alias(f"rank_ok_{i}")
                for i, q in enumerate(quantiles)
            ],
        )
    )


_STREAMING_KLL_SQL = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           1 AS rank_ok_0, 1 AS rank_ok_1
    FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "hll_rollup": (q_hll_rollup, _HLL_ROLLUP_SQL),
    "kll_rollup": (q_kll_rollup, _KLL_ROLLUP_SQL),
    "theta_set_ops": (q_theta_set_ops, _THETA_SET_OPS_SQL),
    "cms_heavy_hitters": (q_cms_heavy_hitters, _CMS_HEAVY_HITTERS_SQL),
    "streaming_hll_distinct": (q_streaming_hll_distinct, _STREAMING_HLL_SQL),
    "streaming_kll_quantiles": (q_streaming_kll_quantiles, _STREAMING_KLL_SQL),
}
