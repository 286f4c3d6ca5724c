"""Product/retrieval analytics classes (round 4, beyond the reference):
BM25 keyword search, ordered funnel conversion, cohort retention,
frequent-itemset pairs.

Four analytics families no other registry module covers — text
retrieval ranking, sequential-pattern matching over an event stream,
cohort analysis, and association mining.  Conventions follow
``queries.py``: every computed column is aliased identically in the
Spark plan and the DuckDB oracle; floats cross an engine boundary only
after ``round(·, 6)``; thresholds and counts are exact integers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t


# ---------------------------------------------------------------------------
# BM25 keyword search: fixed 3-term query over the documents corpus.
# Spark-first: query terms are a broadcast literal, tf is counted for
# query terms only (filter before the shuffle), df/avgdl are broadcast
# scalar aggregates, top-k compiles to TakeOrderedAndProject.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["join", "window", "spark"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the keyword query 'join window spark' under
    BM25 (k1=1.2, b=0.75), score rounded at 6, doc_id tiebreak."""
    from sf_datalake_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, "doc_id", "text", top_k=20)


_BM25_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   AS dl,
               unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                   AS term
        FROM documents
    ),
    qt AS (SELECT * FROM (VALUES ('join'), ('window'), ('spark')) t(term)),
    tf AS (
        SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
        FROM toks JOIN qt USING (term) GROUP BY 1, 2
    ),
    dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT count(*) AS n_docs,
               sum(len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> ''))) AS total_dl
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl
                                          / (total_dl / n_docs))))
                   AS s
        FROM tf JOIN dfv USING (term) CROSS JOIN stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
           round(sum(s), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase within 7 days of the first
# view.  Spark plan is the decorrelated chain (operators/funnel.py);
# the oracle is the textbook correlated min-after-min form.
# ---------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per funnel stage: users whose ordered view->click->purchase
    journey reached it within 7 days of their first view."""
    from sf_datalake_spark.operators.funnel import funnel_counts

    events = _t(spark, sf_dir, "events")
    return funnel_counts(
        events,
        ["view", "click", "purchase"],
        within=F.expr("INTERVAL 7 DAYS"),
    )


_FUNNEL_SQL = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL 7 DAY
        GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s1.t1 + INTERVAL 7 DAY
        GROUP BY 1
    ),
    n AS (
        SELECT 1 AS stage_idx, 'view' AS stage,
               (SELECT count(*) FROM s1) AS n_users
        UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    )
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
           CAST(n_users AS BIGINT) AS n_users,
           round(n_users / (SELECT n_users FROM n WHERE stage_idx = 1), 6)
               AS conversion
    FROM n
"""


# ---------------------------------------------------------------------------
# Cohort retention: customers cohorted by first-order month, activity
# by order month, offset in exact integer months.  All counts exact;
# the one float division is the rounded retention rate.
# ---------------------------------------------------------------------------

def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix over orders: for each
    first-order-month cohort and month offset, the number of distinct
    active customers and the retained fraction of the cohort."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("cohort_month")
    )
    activity = orders.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("activity_month"),
    ).distinct()
    # Exact integer month arithmetic (never months_between floats):
    # offset = (y*12+m)_activity − (y*12+m)_cohort.
    joined = activity.join(first, "o_custkey").withColumn(
        "month_offset",
        (
            F.year("activity_month") * 12 + F.month("activity_month")
            - F.year("cohort_month") * 12 - F.month("cohort_month")
        ).cast("int"),
    )
    cohort_sizes = first.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    cells = joined.groupBy("cohort_month", "month_offset").agg(
        F.countDistinct("o_custkey").alias("n_active")
    )
    return (
        cells.join(cohort_sizes, "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            "n_active",
            F.col("cohort_size").cast("long"),
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


_COHORT_SQL = """
    WITH first AS (
        SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort_month
        FROM orders GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT o_custkey,
               date_trunc('month', o_orderdate) AS activity_month
        FROM orders
    ),
    cells AS (
        SELECT cohort_month,
               CAST((year(activity_month) * 12 + month(activity_month)
                     - year(cohort_month) * 12 - month(cohort_month))
                    AS INT) AS month_offset,
               count(DISTINCT o_custkey) AS n_active
        FROM activity JOIN first USING (o_custkey)
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT cohort_month, count(*) AS cohort_size FROM first GROUP BY 1
    )
    SELECT CAST(cohort_month AS DATE) AS cohort_month, month_offset,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(cohort_size AS BIGINT) AS cohort_size,
           round(n_active / cohort_size, 6) AS retention
    FROM cells JOIN sizes USING (cohort_month)
"""


# ---------------------------------------------------------------------------
# Frequent pairs: parts co-ordered in the same order, support >= 2,
# Apriori item pruning + basket self-join (operators/itemsets.py).
# ---------------------------------------------------------------------------

def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered part pairs appearing together in >= 2 orders."""
    from sf_datalake_spark.operators.itemsets import frequent_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = frequent_pairs(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    return pairs.select(
        F.col("item_1").alias("part_1"),
        F.col("item_2").alias("part_2"),
        "support",
    )


_FREQUENT_PAIRS_SQL = """
    WITH m AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    freq AS (SELECT i FROM m GROUP BY i HAVING count(*) >= 2),
    mf AS (SELECT b, i FROM m JOIN freq USING (i)),
    p AS (
        SELECT a.i AS part_1, bb.i AS part_2
        FROM mf a JOIN mf bb ON a.b = bb.b AND a.i < bb.i
    )
    SELECT part_1, part_2, CAST(count(*) AS BIGINT) AS support
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
"""





# ---------------------------------------------------------------------------
# Event transition matrix (Markov next-event): per-user lag over
# (ts, event_id) total order, transition counts and probabilities.
# One window shuffle on the user key, then a key-partial aggregation.
# ---------------------------------------------------------------------------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type) transition counts over each user's
    time-ordered event sequence, with the row-normalized transition
    probability (rounded at 6).  Ties on ts break by event_id, so the
    sequence — and therefore every count — is a total order in both
    engines."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_from), 6).alias("p"),
    )


_TRANSITIONS_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type
        FROM events
    ),
    pairs AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM pairs
"""


# ---------------------------------------------------------------------------
# RFM segmentation: quartile scores for recency/frequency/monetary per
# customer, aggregated to segment counts.  ntile over a total order
# (metric, custkey) so quartile boundaries are engine-identical;
# monetary in exact integer cents.
# ---------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer count and exact-cents revenue per (R,F,M) quartile
    segment.  Each score is ntile(4) over a deterministic total order:
    recency ranks most-recent-first, frequency and monetary
    highest-first, all tie-broken by o_custkey."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    r = Window.orderBy(F.desc("last_order"), F.asc("o_custkey"))
    f = Window.orderBy(F.desc("n_orders"), F.asc("o_custkey"))
    m = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    scored = (
        per_cust.withColumn("r_score", F.ntile(4).over(r))
        .withColumn("f_score", F.ntile(4).over(f))
        .withColumn("m_score", F.ntile(4).over(m))
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("segment_cents"),
    )


_RFM_SQL = """
    WITH per_cust AS (
        SELECT o_custkey, max(o_orderdate) AS last_order,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT ntile(4) OVER (ORDER BY last_order DESC, o_custkey ASC)
                   AS r_score,
               ntile(4) OVER (ORDER BY n_orders DESC, o_custkey ASC)
                   AS f_score,
               ntile(4) OVER (ORDER BY cents DESC, o_custkey ASC)
                   AS m_score,
               cents
        FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Top session paths: sessionize (30-min gap), build each session's
# ordered event-type path, count path frequencies, top-15.  The path
# order is the (ts, event_id) total order via array_sort over structs
# (collect_list order is NOT deterministic — sorting after collection
# is what makes the path an engine-invariant fact).
# ---------------------------------------------------------------------------

def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 15 most common per-session event-type paths (30-minute
    session gap), ties broken by path string."""
    from sf_datalake_spark.operators.intervals import sessionize

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
    )
    return paths.orderBy(F.desc("n_sessions"), F.asc("path")).limit(15)


_SESSION_PATHS_SQL = """
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, event_type, ts, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq
    ),
    paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path ASC LIMIT 15
"""


# ---------------------------------------------------------------------------
# Streaming twin of event_transitions: the transition pairs are emitted
# by a custom stateful operator (state = each user's last event type,
# bridging micro-batch boundaries), then aggregated batch-side from the
# memory sink.  Same SQL oracle as the batch query — the streaming o
# analytics capstone in the streaming_sessions proof style.
# ---------------------------------------------------------------------------

def q_streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_transitions computed BY A STREAM: per-user constant-size
    state carries the last event type across micro-batches; the
    availableNow replay must reproduce the batch lag-window matrix
    exactly."""
    from sf_datalake_spark.queries_ext import _events_stream
    from sf_datalake_spark.streaming import (
        event_transitions_stateful,
        run_to_memory,
    )
    from pyspark.sql import Window

    pairs_stream = event_transitions_stateful(
        _events_stream(spark, sf_dir).select(
            "user_id", "ts", "event_id", "event_type"
        ),
        keys=["user_id"],
        ts_col="ts",
        seq_col="event_id",
        type_col="event_type",
    )
    pairs = run_to_memory(pairs_stream, "q_streaming_transitions",
                          final_watermark_batch=False)
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_from), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing over the customer monthly panel: the
# iterative recurrence runs as ONE JVM F.aggregate HOF per key (no
# driver loop, no UDF); the oracle replays it as a recursive CTE.
# alpha = beta = 0.5 (exactly representable), inputs are the panel's
# exact 2-decimal revenues, so the fold is bit-identical cross-engine and the outputs are
# deliberately UNROUNDED (dyadic smoothed values sit exactly on
# decimal half-boundaries, where the engines' rounding modes differ).
# ---------------------------------------------------------------------------

def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer Holt level/trend and 1-step revenue forecast over
    the monthly panel (customers with >= 2 observed months)."""
    from sf_datalake_spark.operators.timeseries import holt_smoothing
    from sf_datalake_spark.queries import customer_monthly_panel

    panel = customer_monthly_panel(spark, sf_dir)
    return holt_smoothing(
        panel, ["custkey"], "periode", "revenue", alpha=0.5, beta=0.5
    )


_HOLT_SQL = """
    WITH RECURSIVE panel AS (
        SELECT o_custkey AS custkey,
               date_trunc('month', o_orderdate)::date AS periode,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2
    ),
    series AS (
        SELECT custkey,
               list(revenue ORDER BY periode) AS v,
               count(*) AS n
        FROM panel GROUP BY custkey HAVING count(*) >= 2
    ),
    rec AS (
        SELECT custkey, v, n, 2 AS i,
               v[2] AS l, v[2] - v[1] AS b
        FROM series
        UNION ALL
        SELECT custkey, v, n, i + 1,
               0.5 * v[i + 1] + 0.5 * (l + b),
               0.5 * ((0.5 * v[i + 1] + 0.5 * (l + b)) - l) + 0.5 * b
        FROM rec WHERE i < n
    )
    SELECT custkey, CAST(n AS INT) AS n_obs,
           l AS level, b AS trend, l + b AS forecast_next
    FROM rec WHERE i = n
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over the panel: same HOF-fold execution
# shape as holt_forecast, two-sided Page statistic with per-customer
# in-control mean (exact cents/n), slack mu/4, threshold mu.  Outputs
# unrounded (Holt determinism note applies); oracle = recursive CTE.
# ---------------------------------------------------------------------------

def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer CUSUM drift alarms over monthly revenue."""
    from sf_datalake_spark.operators.timeseries import cusum_alarms
    from sf_datalake_spark.queries import customer_monthly_panel

    panel = customer_monthly_panel(spark, sf_dir)
    cents = F.round(F.col("revenue") * 100).cast("long")
    mu = F.sum(cents) / F.count("*") / F.lit(100.0)
    return cusum_alarms(
        panel,
        ["custkey"],
        "periode",
        "revenue",
        mean_col=mu,
        slack_col=mu / F.lit(4.0),
        threshold_col=mu * F.lit(1.0),
    )


_CUSUM_SQL = """
    WITH RECURSIVE panel AS (
        SELECT o_custkey AS custkey,
               date_trunc('month', o_orderdate)::date AS periode,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2
    ),
    series AS (
        SELECT custkey,
               list(revenue ORDER BY periode) AS v,
               count(*) AS n,
               sum(CAST(round(revenue * 100) AS BIGINT)) / count(*) / 100.0
                   AS mu
        FROM panel GROUP BY custkey
    ),
    rec AS (
        SELECT custkey, v, n, mu, 0 AS i,
               CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn,
               CAST(0 AS BIGINT) AS alarms, CAST(0.0 AS DOUBLE) AS mx
        FROM series
        UNION ALL
        SELECT custkey, v, n, mu, i + 1,
               greatest(0.0, sp + (v[i + 1] - mu - mu / 4.0)),
               greatest(0.0, sn + (mu - mu / 4.0 - v[i + 1])),
               alarms + CASE WHEN greatest(
                       greatest(0.0, sp + (v[i + 1] - mu - mu / 4.0)),
                       greatest(0.0, sn + (mu - mu / 4.0 - v[i + 1])))
                   > mu * 1.0 THEN 1 ELSE 0 END,
               greatest(mx, greatest(
                       greatest(0.0, sp + (v[i + 1] - mu - mu / 4.0)),
                       greatest(0.0, sn + (mu - mu / 4.0 - v[i + 1]))))
        FROM rec WHERE i < n
    )
    SELECT custkey, CAST(n AS INT) AS n_obs, alarms AS n_alarms,
           mx AS max_cusum, sp AS s_pos, sn AS s_neg
    FROM rec WHERE i = n
"""


# ---------------------------------------------------------------------------
# Streaming exact-k sample: per-shard bounded min-k state admits
# candidates as they stream in; the batch-side re-rank of the admitted
# superset equals the batch exact_k_sample answer exactly — same md5
# shuffle-key oracle.
# ---------------------------------------------------------------------------

def q_streaming_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_k_sample (k=100, salt 's') computed BY A STREAM: 8 shards
    each keep their k smallest shuffle keys as state, admitted rows are
    re-ranked batch-side."""
    import os as _os

    from sf_datalake_spark.operators.corpus import shuffle_key
    from sf_datalake_spark.queries_ext import _stage_stream_source
    from sf_datalake_spark.streaming import (
        read_file_stream,
        run_to_memory,
        streaming_sample_admissions,
    )

    docs_path = _os.path.join(sf_dir, "documents.parquet")
    # _t memoizes the lazy plan, so the schema costs no footer job here
    schema = _t(spark, sf_dir, "documents").schema
    import hashlib as _hashlib
    import tempfile as _tempfile

    tag = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    src_dir = _os.path.join(_tempfile.gettempdir(), f"sfdl_eks_src_{tag}")
    _stage_stream_source(docs_path, src_dir)
    stream = (
        read_file_stream(spark, src_dir, schema)
        .withColumn("__sk", shuffle_key("doc_id", salt="s"))
        .withColumn("__shard", F.pmod(F.col("doc_id"), F.lit(8)))
    )
    admitted = streaming_sample_admissions(stream, "__shard", "__sk", k=100)
    sink = run_to_memory(admitted, "q_streaming_exact_k",
                         final_watermark_batch=False)
    return (
        sink.orderBy("__sk", "doc_id")
        .limit(100)
        .select("doc_id", "source", "lang")
    )


_STREAMING_EXACT_K_SQL = """
    SELECT doc_id, source, lang
    FROM documents
    ORDER BY ('0x' || substr(md5('s:0:' || doc_id::VARCHAR), 1, 15))::BIGINT,
             doc_id
    LIMIT 100
"""


# ---------------------------------------------------------------------------
# Equi-depth bucketing (the distributed alternative to rfm_segments'
# global ntile): exact percentile boundaries from ONE aggregate,
# broadcast back, scan-stage assignment — no global sort.
# ---------------------------------------------------------------------------

def q_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders bucketed into 8 equi-depth o_totalprice bins: per-bucket
    row count and exact-cents value range."""
    from sf_datalake_spark.functions.numeric import equidepth_bucketize

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = equidepth_bucketize(orders, "o_totalprice", 8)
    return binned.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "lo_cents"
        ),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "hi_cents"
        ),
    )


_EQUIDEPTH_SQL = """
    WITH b AS (
        SELECT list_transform(
                   quantile_cont(o_totalprice,
                       [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                   x -> round(x, 6)) AS bounds
        FROM orders
    )
    SELECT len(list_filter(bounds, x -> o_totalprice > x)) + 1 AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           min(CAST(round(o_totalprice * 100) AS BIGINT)) AS lo_cents,
           max(CAST(round(o_totalprice * 100) AS BIGINT)) AS hi_cents
    FROM orders CROSS JOIN b
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Incremental JOIN view maintenance: the delta-join algebra
# V' = V u (dL |><| R') u (L |><| dR) must reproduce the full-rebuild
# join exactly.  Deltas are deterministic key slices; the oracle is
# the plain recompute over the final state.
# ---------------------------------------------------------------------------

def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain an orders|><|customer view under one insert batch per
    side via delta joins (never re-joining the full inputs), then
    summarize per market segment in exact cents."""
    from sf_datalake_spark.operators.merge import incremental_join_view

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    left_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    delta_left = orders.filter(F.col("o_orderkey") % 10 == 0)
    right_old = cust.filter(F.col("o_custkey") % 7 != 0)
    delta_right = cust.filter(F.col("o_custkey") % 7 == 0)
    v0 = left_old.join(right_old, "o_custkey")
    v1 = incremental_join_view(
        v0, left_old, delta_left, right_old, delta_right, ["o_custkey"]
    )
    return v1.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


_INCREMENTAL_JOIN_SQL = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Item-based collaborative filtering: top-3 neighbors per part by
# squared-cosine over the user co-purchase incidence.  sim² =
# c_ij²/(c_i·c_j) is an exact integer ppm — the square avoids the
# per-pair sqrt (monotone for ranking), the repo's standard trick for
# float-free ordering.
# ---------------------------------------------------------------------------


#: Per-user basket cap for item-CF.  The pair self-join below costs
#: Σ_user basket² — one whale user with a 10k-item basket contributes
#: 5·10⁷ pairs and stalls the stage at 100× scale (round-4 verdict,
#: "What's wrong" #2).  Production CF therefore samples heavy users:
#: each user keeps a deterministic md5-ordered top-``_CF_MAX_BASKET``
#: of their distinct items BEFORE degrees and pairs, bounding the
#: explode at _CF_MAX_BASKET²·n_users and making per-user cost O(1).
#: The DuckDB oracle replays the identical cap (same md5 idiom), so
#: the capped incidence IS the model input in both engines.
_CF_MAX_BASKET = 32


def q_item_cf_topk(
    spark: SparkSession, sf_dir: str, max_basket: int = _CF_MAX_BASKET
) -> DataFrame:
    """Top-3 co-purchase neighbors per part (squared-cosine ppm desc,
    neighbor asc): distinct user-item incidence → deterministic
    per-user basket cap (md5 order, whale-user guard) → per-user pair
    explode (now bounded by ``max_basket``) → pair counts → join item
    degrees → window top-k."""
    if max_basket is None or max_basket < 1:
        raise ValueError("max_basket must be >= 1 (uncapped CF pair "
                         "explode is Σbasket² — not allowed)")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Basket-expansion pair build (r10, guide §2.3/§2.4 — the
    # frequent_pairs shape the graph-family edge builds adopted): ONE
    # groupBy(u) with a set-collecting aggregate replaces the old
    # distinct → window-cap → self-join chain, cutting the exchanges
    # from 7 to 4 (distinct on (u,i), the window re-shuffle on u, and
    # both self-join shuffles collapse into the single groupBy(u)
    # exchange; pair fan-out is generated post-shuffle inside the same
    # stage).  The md5 cap hash is computed CODEGEN-side in the scan
    # projection before the aggregation — the round-6 "nested HOF 2.2x
    # slower" experiment evaluated md5 inside the interpreted lambda,
    # which is the cost this split avoids; the remaining HOF work is
    # slice/transform over ≤ max_basket-element arrays.
    # collect_set(struct(h, i)) deduplicates (u, i) map-side (set
    # semantics, exactly the old distinct()), array_sort orders by
    # (h, i) — the window's (__bhash, i) sort key — and slice applies
    # the deterministic per-user cap with no window shuffle.  The
    # checkpointed basket table (|users| rows, ≤ max_basket ints each —
    # far smaller than the old row-per-(u,i) pin) feeds the degree and
    # pair consumers without re-executing the scan+join+agg subtree.
    ui = (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .withColumn(
            "__h",
            F.expr("conv(substr(md5(concat(cast(u as string), ':', "
                   "cast(i as string))), 1, 8), 16, 10)").cast("bigint"),
        )
    )
    baskets = (
        ui.groupBy("u")
        .agg(F.collect_set(F.struct("__h", "i")).alias("__his"))
        .select(
            "u",
            F.expr(
                f"array_sort(transform(slice(array_sort(__his), 1, "
                f"{int(max_basket)}), s -> s.i))"
            ).alias("__items"),
        )
        .localCheckpoint(eager=True)
    )
    deg = (
        baskets.select(F.explode("__items").alias("i"))
        .groupBy("i")
        .agg(F.count("*").alias("c"))
    )
    items = F.col("__items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, pos: F.transform(
                F.slice(
                    items, pos + 2,
                    F.greatest(F.size(items) - pos - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("i"), y.alias("j")),
            ),
        )
    )
    pair = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.i", "p.j")
        .groupBy("i", "j")
        .agg(F.count("*").alias("cij"))
    )
    # Score the CANONICAL (i < j) pair table first, then emit both
    # directions (r11): sim2_ppm = cij²·10⁶ div (ci·cj) is symmetric,
    # so scoring before the direction explode halves both broadcast
    # join probes and the score arithmetic vs the old
    # explode-then-join order.  Item degrees are |items| rows (20k at
    # sf0.1) against the pair table's millions — broadcast both
    # degree joins.
    half = (
        pair.join(
            F.broadcast(deg.select(F.col("i"), F.col("c").alias("ci"))), "i"
        )
        .join(
            F.broadcast(deg.select(F.col("i").alias("j"), F.col("c").alias("cj"))),
            "j",
        )
        .select(
            "i",
            "j",
            F.col("cij").cast("bigint").alias("cij"),
            F.expr("cij * cij * 1000000L div (ci * cj)").alias("sim2_ppm"),
        )
    )
    scored = half.select(
        F.explode(
            F.array(
                F.struct("i", "j", "cij", "sim2_ppm"),
                F.struct(
                    F.col("j").alias("i"),
                    F.col("i").alias("j"),
                    "cij",
                    "sim2_ppm",
                ),
            )
        ).alias("p")
    ).select("p.*")
    w = Window.partitionBy("i").orderBy(
        F.col("sim2_ppm").desc(), F.col("j").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("i").alias("part"),
            F.col("j").alias("neighbor"),
            "cij",
            "sim2_ppm",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


_ITEM_CF_SQL = f"""
    WITH ui_all AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ui AS (
        SELECT u, i FROM (
            SELECT u, i, row_number() OVER (
                PARTITION BY u
                ORDER BY ('0x' || substr(md5(u::VARCHAR || ':' ||
                                             i::VARCHAR), 1, 8))::BIGINT,
                         i
            ) AS brank
            FROM ui_all
        ) WHERE brank <= {_CF_MAX_BASKET}
    ),"""
_ITEM_CF_SQL += """
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM ui GROUP BY 1),
    pair AS (
        SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS cij
        FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT i, j, cij FROM pair
        UNION ALL
        SELECT j AS i, i AS j, cij FROM pair
    ),
    scored AS (
        SELECT b.i, b.j, b.cij,
               CAST(b.cij * b.cij * 1000000 // (di.c * dj.c) AS BIGINT)
                   AS sim2_ppm
        FROM sym b
        JOIN deg di ON di.i = b.i
        JOIN deg dj ON dj.i = b.j
    )
    SELECT i AS part, j AS neighbor, cij, sim2_ppm, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY i
                                       ORDER BY sim2_ppm DESC, j ASC) AS rnk
          FROM scored)
    WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment: 1000 sample slots across
# nations proportional to revenue — the exact-integer allocation
# primitive behind stratified sampling budgets.
# ---------------------------------------------------------------------------

_APPORTION_BUDGET = 1000


def q_apportion_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1000 slots across customer nations proportional to order
    revenue: floor quotas + the remainder to the largest fractional
    parts (B·rev mod total, ties to the smaller nation key) — pure
    BIGINT arithmetic, Σslots = 1000 by construction."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            )
        )
    )
    w_all = Window.partitionBy()
    quota = rev.select(
        "c_nationkey",
        "revenue_cents",
        (F.lit(_APPORTION_BUDGET) * F.col("revenue_cents")).alias("num"),
        F.sum("revenue_cents").over(w_all).alias("den"),
    )
    based = quota.select(
        "c_nationkey",
        "revenue_cents",
        F.expr("num div den").alias("base"),
        F.expr("num % den").alias("frac"),
        (
            F.lit(_APPORTION_BUDGET)
            - F.sum(F.expr("num div den")).over(w_all)
        ).alias("r"),
    )
    w_frac = Window.orderBy(F.col("frac").desc(), F.col("c_nationkey").asc())
    return based.select(
        "c_nationkey",
        "revenue_cents",
        F.col("base").cast("bigint").alias("base"),
        F.when(F.row_number().over(w_frac) <= F.col("r"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("extra"),
    ).withColumn("slots", F.col("base") + F.col("extra"))


_APPORTION_SQL = f"""
    WITH rev AS (
        SELECT c_nationkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ),
    quota AS (
        SELECT c_nationkey, revenue_cents,
               {_APPORTION_BUDGET} * revenue_cents AS num,
               sum(revenue_cents) OVER () AS den
        FROM rev
    ),
    based AS (
        SELECT c_nationkey, revenue_cents,
               num // den AS base, num % den AS frac,
               {_APPORTION_BUDGET} - sum(num // den) OVER () AS r
        FROM quota
    )
    SELECT c_nationkey, revenue_cents,
           CAST(base AS BIGINT) AS base,
           CAST(CASE WHEN row_number() OVER (ORDER BY frac DESC,
                                             c_nationkey ASC) <= r
                     THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base + CASE WHEN row_number() OVER (ORDER BY frac DESC,
                                                    c_nationkey ASC) <= r
                            THEN 1 ELSE 0 END AS BIGINT) AS slots
    FROM based
"""


# ---------------------------------------------------------------------------
# ABC-XYZ inventory classification: Pareto revenue bands × demand
# variability bands, both decided by exact integer cross-multiplication.
# ---------------------------------------------------------------------------


def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part: ABC class (cumulative revenue share ≤70% A, ≤90% B,
    else C — cum·100 vs threshold·total cross-mult, ordered revenue
    desc / part asc) and XYZ demand-variability class (population CV²
    of monthly shipped quantity over the GLOBAL month span, zero
    months included: X ≤ 0.25, Y ≤ 1.0, else Z in ppm)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("m"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    span = li.agg(
        (F.max("m") - F.min("m") + 1).cast("bigint").alias("n_months")
    )
    monthly = li.groupBy("l_partkey", "m").agg(F.sum("qty").alias("q"))
    stats = monthly.groupBy("l_partkey").agg(
        F.sum("q").alias("s1"), F.sum(F.col("q") * F.col("q")).alias("s2")
    )
    rev = li.groupBy("l_partkey").agg(F.sum("cents").alias("revenue_cents"))
    w_cum = Window.orderBy(
        F.col("revenue_cents").desc(), F.col("l_partkey").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    abc = rev.select(
        "l_partkey",
        "revenue_cents",
        F.sum("revenue_cents").over(w_cum).alias("cum"),
        F.sum("revenue_cents").over(w_all).alias("tot"),
    ).select(
        "l_partkey",
        "revenue_cents",
        F.when(F.col("cum") * 100 <= F.col("tot") * 70, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 90, "B")
        .otherwise("C")
        .alias("abc"),
    )
    cv = stats.crossJoin(F.broadcast(span)).select(
        "l_partkey",
        F.expr(
            "(n_months * s2 - s1 * s1) * 1000000L div (s1 * s1)"
        ).alias("cv2_ppm"),
    )
    return (
        abc.join(cv, "l_partkey")
        .select(
            "l_partkey",
            "revenue_cents",
            "abc",
            "cv2_ppm",
            F.when(F.col("cv2_ppm") <= 250_000, "X")
            .when(F.col("cv2_ppm") <= 1_000_000, "Y")
            .otherwise("Z")
            .alias("xyz"),
        )
    )


_ABC_XYZ_SQL = """
    WITH li AS (
        SELECT l_partkey,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               year(l_shipdate) * 12 + month(l_shipdate) AS m,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ),
    span AS (SELECT CAST(max(m) - min(m) + 1 AS BIGINT) AS n_months FROM li),
    monthly AS (
        SELECT l_partkey, m, CAST(sum(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2
    ),
    stats AS (
        SELECT l_partkey, CAST(sum(q) AS BIGINT) AS s1,
               CAST(sum(q * q) AS BIGINT) AS s2
        FROM monthly GROUP BY 1
    ),
    rev AS (
        SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM li GROUP BY 1
    ),
    abc AS (
        SELECT l_partkey, revenue_cents,
               CASE WHEN cum * 100 <= tot * 70 THEN 'A'
                    WHEN cum * 100 <= tot * 90 THEN 'B'
                    ELSE 'C' END AS abc
        FROM (SELECT l_partkey, revenue_cents,
                     sum(revenue_cents) OVER (ORDER BY revenue_cents DESC,
                                              l_partkey ASC
                                              ROWS UNBOUNDED PRECEDING)
                         AS cum,
                     sum(revenue_cents) OVER () AS tot
              FROM rev)
    ),
    cv AS (
        SELECT l_partkey,
               CAST((n_months * s2 - s1 * s1) * 1000000 // (s1 * s1)
                    AS BIGINT) AS cv2_ppm
        FROM stats CROSS JOIN span
    )
    SELECT a.l_partkey, a.revenue_cents, a.abc, c.cv2_ppm,
           CASE WHEN c.cv2_ppm <= 250000 THEN 'X'
                WHEN c.cv2_ppm <= 1000000 THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM abc a JOIN cv c USING (l_partkey)
"""


# ---------------------------------------------------------------------------
# OHLC daily bars over the event value stream — open/close by a
# TOTALLY ordered argmin/argmax (ts, event_id), the same
# duplicate-timestamp discipline as twap_value.
# ---------------------------------------------------------------------------


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event type, day): open / high / low / close value in cents
    and the tick count — open/close by the (ts, event_id) TOTAL order
    via two row_number windows over the shared bar partition (the same
    duplicate-timestamp discipline as twap_value; packing the order
    into one BIGINT would overflow — epoch-micros × 2^20 > 2^63)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    w_a = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    w_d = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = ev.select(
        "event_type",
        "day",
        "cents",
        F.row_number().over(w_a).alias("ra"),
        F.row_number().over(w_d).alias("rd"),
    )
    return flagged.groupBy("event_type", "day").agg(
        F.min(F.when(F.col("ra") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.min(F.when(F.col("rd") == 1, F.col("cents"))).alias("close_cents"),
        F.count("*").cast("bigint").alias("n_ticks"),
    )


_OHLC_SQL = """
    WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) AS cents, ts, event_id
        FROM events
    ),
    flagged AS (
        SELECT event_type, day, cents,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts ASC, event_id ASC) AS ra,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM ev
    )
    SELECT event_type, day,
           CAST(min(CASE WHEN ra = 1 THEN cents END) AS BIGINT)
               AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(min(CASE WHEN rd = 1 THEN cents END) AS BIGINT)
               AS close_cents,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM flagged GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Growth accounting: month-over-month revenue growth decomposed into
# per-priority contributions that sum exactly to the total (shared
# denominator, exact ppm).
# ---------------------------------------------------------------------------


def q_growth_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (month, priority): the priority's contribution to total
    month-over-month revenue growth in exact ppm of the PRIOR month's
    total — contributions sum to the total growth row-exactly because
    every term shares the same truncating denominator... almost: the
    decomposition emits the truncated per-priority terms AND the total
    computed the same way, so the audit delta (total − Σ contrib) is
    also exact and exposed."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        "o_orderpriority",
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w_p = Window.partitionBy("o_orderpriority").orderBy("month")
    w_m = Window.partitionBy("month")
    cur = monthly.select(
        "month",
        "o_orderpriority",
        "rev",
        F.lag("rev").over(w_p).alias("prev"),
    )
    tot = cur.select(
        "month",
        "o_orderpriority",
        "rev",
        "prev",
        F.sum("prev").over(w_m).alias("prev_tot"),
        F.sum("rev").over(w_m).alias("cur_tot"),
    ).filter(F.col("prev").isNotNull())
    return tot.select(
        "month",
        "o_orderpriority",
        F.expr("(rev - prev) * 1000000L div prev_tot").alias("contrib_ppm"),
        F.expr("(cur_tot - prev_tot) * 1000000L div prev_tot").alias(
            "total_growth_ppm"
        ),
    )


_GROWTH_CONTRIB_SQL = """
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               o_orderpriority,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2
    ),
    cur AS (
        SELECT month, o_orderpriority, rev,
               lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY month)
                   AS prev
        FROM monthly
    ),
    tot AS (
        SELECT *, sum(prev) OVER (PARTITION BY month) AS prev_tot,
                  sum(rev) OVER (PARTITION BY month) AS cur_tot
        FROM cur
    )
    SELECT month, o_orderpriority,
           CAST((rev - prev) * 1000000 // prev_tot AS BIGINT)
               AS contrib_ppm,
           CAST((cur_tot - prev_tot) * 1000000 // prev_tot AS BIGINT)
               AS total_growth_ppm
    FROM tot WHERE prev IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Offline greedy-bandit replay: per month, a greedy policy picks the
# priority class with the best cumulative past success ppm (ties to
# the smaller class; unexplored arms rank last via a -1 default) and
# collects that month's realized reward — offline policy evaluation as
# pure window arithmetic, no per-step recursion.
# ---------------------------------------------------------------------------


def q_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per month: the arm (order priority) a greedy replay chooses on
    PAST cumulative fill-rate ppm, its realized reward that month, the
    per-month oracle arm's reward, and the regret — all exact ppm."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        F.col("o_orderpriority").alias("arm"),
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("bigint")).alias("succ"),
    )
    w_hist = (
        Window.partitionBy("arm")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = monthly.select(
        "month",
        "arm",
        F.expr("succ * 1000000L div n").alias("reward_ppm"),
        F.coalesce(
            F.expr(
                "sum(succ) over (partition by arm order by month"
                " rows between unbounded preceding and 1 preceding)"
                " * 1000000L div"
                " sum(n) over (partition by arm order by month"
                " rows between unbounded preceding and 1 preceding)"
            ),
            F.lit(-1),
        ).alias("past_ppm"),
    )
    w_pick = Window.partitionBy("month").orderBy(
        F.col("past_ppm").desc(), F.col("arm").asc()
    )
    w_oracle = Window.partitionBy("month").orderBy(
        F.col("reward_ppm").desc(), F.col("arm").asc()
    )
    ranked = hist.select(
        "month",
        "arm",
        "reward_ppm",
        F.row_number().over(w_pick).alias("pick"),
        F.row_number().over(w_oracle).alias("orc"),
    )
    chosen = ranked.filter(F.col("pick") == 1).select(
        "month",
        F.col("arm").alias("chosen_arm"),
        F.col("reward_ppm").alias("chosen_ppm"),
    )
    oracle = ranked.filter(F.col("orc") == 1).select(
        "month", F.col("reward_ppm").alias("oracle_ppm")
    )
    return chosen.join(oracle, "month").select(
        "month",
        "chosen_arm",
        "chosen_ppm",
        "oracle_ppm",
        (F.col("oracle_ppm") - F.col("chosen_ppm")).alias("regret_ppm"),
    )


_BANDIT_SQL = """
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               o_orderpriority AS arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS succ
        FROM orders GROUP BY 1, 2
    ),
    hist AS (
        SELECT month, arm,
               CAST(succ * 1000000 // n AS BIGINT) AS reward_ppm,
               CAST(COALESCE(
                   sum(succ) OVER (PARTITION BY arm ORDER BY month
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING)
                   * 1000000
                   // sum(n) OVER (PARTITION BY arm ORDER BY month
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING),
                   -1) AS BIGINT) AS past_ppm
        FROM monthly
    ),
    ranked AS (
        SELECT month, arm, reward_ppm,
               row_number() OVER (PARTITION BY month
                                  ORDER BY past_ppm DESC, arm ASC) AS pick,
               row_number() OVER (PARTITION BY month
                                  ORDER BY reward_ppm DESC, arm ASC) AS orc
        FROM hist
    )
    SELECT c.month, c.arm AS chosen_arm, c.reward_ppm AS chosen_ppm,
           o.reward_ppm AS oracle_ppm,
           CAST(o.reward_ppm - c.reward_ppm AS BIGINT) AS regret_ppm
    FROM (SELECT * FROM ranked WHERE pick = 1) c
    JOIN (SELECT * FROM ranked WHERE orc = 1) o USING (month)
"""


# ---------------------------------------------------------------------------
# DAU / WAU / MAU and stickiness: three sliding-bitmap windows (1, 7,
# 30 days) over one shared day-grain word table's worth of scans.
# ---------------------------------------------------------------------------


def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: exact distinct users over trailing 1 / 7 / 30
    days and the DAU/MAU stickiness in ppm — three
    sliding_bitmap_distinct passes joined on the day."""
    # Fused tri-window form of sliding_bitmap_distinct (r11, guide
    # §2.4): three separate operator calls re-scanned events and
    # re-built the (day, word) bitmap level THREE times, then paid two
    # equi-joins to line the counts up.  The level-1 bitmap table is
    # built ONCE and pinned; each window size replicates only the
    # kilobyte-scale word table (1+7+30 copies — identical volume to
    # the three separate calls combined), and one conditional
    # aggregation pivots the three counts per day.  Per-window
    # semantics identical to the operator (trailing windows, anchor
    # days restricted to days with events, bit_or merge + popcount).
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    level1 = (
        ev.select(
            day.alias("__day"),
            F.expr("user_id div 64").alias("__word"),
            F.expr("shiftleft(1L, cast(user_id % 64 as int))").alias("__bit"),
        )
        .groupBy("__day", "__word")
        .agg(F.expr("bit_or(__bit)").alias("__bits"))
        .localCheckpoint(eager=True)
    )
    days = level1.select(F.col("__day").alias("window_day")).distinct()

    def spread(w: int) -> DataFrame:
        return level1.select(
            F.explode(
                F.sequence(F.col("__day"), F.date_add(F.col("__day"), w - 1))
            ).alias("window_day"),
            F.lit(w).alias("__w"),
            "__word",
            "__bits",
        )

    merged = (
        spread(1).unionByName(spread(7)).unionByName(spread(30))
        .join(days, "window_day")
        .groupBy("__w", "window_day", "__word")
        .agg(F.expr("bit_or(__bits)").alias("__bits"))
    )
    counts = merged.groupBy("__w", "window_day").agg(
        F.sum(F.expr("bit_count(__bits)")).cast("bigint").alias("n")
    )
    return (
        counts.groupBy("window_day")
        .agg(
            F.max(F.when(F.col("__w") == 1, F.col("n"))).alias("dau"),
            F.max(F.when(F.col("__w") == 7, F.col("n"))).alias("wau"),
            F.max(F.when(F.col("__w") == 30, F.col("n"))).alias("mau"),
        )
        .select(
            "window_day",
            "dau",
            "wau",
            "mau",
            F.expr("dau * 1000000L div mau").alias("stickiness_ppm"),
        )
    )


_DAU_WAU_MAU_SQL = """
    WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM ev),
    win AS (
        SELECT days.d AS window_day,
               CAST(count(DISTINCT CASE WHEN e.d = days.d
                                        THEN e.user_id END) AS BIGINT)
                   AS dau,
               CAST(count(DISTINCT CASE WHEN e.d >= days.d - 6
                                        THEN e.user_id END) AS BIGINT)
                   AS wau,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS mau
        FROM days JOIN ev e ON e.d BETWEEN days.d - 29 AND days.d
        GROUP BY 1
    )
    SELECT window_day, dau, wau, mau,
           CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
    FROM win
"""


# ---------------------------------------------------------------------------
# Top-decile concentration: share of national revenue from the top 10%
# of customers (ceil decile by rank), exact ppm — the "whale share"
# complement to the Gini in concentration_metrics.
# ---------------------------------------------------------------------------


def q_top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customer count, the ceil-10% whale count, and the
    ppm share of revenue those customers hold (revenue desc, custkey
    asc total order)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            )
        )
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev").desc(), F.col("c_custkey").asc()
    )
    w_nat = Window.partitionBy("c_nationkey")
    ranked = per_cust.select(
        "c_nationkey",
        "rev",
        F.row_number().over(w_rank).alias("rnk"),
        F.count("*").over(w_nat).alias("n"),
        F.sum("rev").over(w_nat).alias("tot"),
    )
    return (
        ranked.withColumn("k", F.expr("(n + 9) div 10"))
        .groupBy("c_nationkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.max("k").cast("bigint").alias("whales"),
            F.expr(
                "sum(case when rnk <= k then rev else 0 end)"
                " * 1000000L div max(tot)"
            ).alias("top_decile_ppm"),
        )
    )


_TOP_DECILE_SQL = """
    WITH per_cust AS (
        SELECT c_nationkey, c_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_nationkey, rev,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY rev DESC, c_custkey ASC) AS rnk,
               count(*) OVER (PARTITION BY c_nationkey) AS n,
               sum(rev) OVER (PARTITION BY c_nationkey) AS tot
        FROM per_cust
    )
    SELECT c_nationkey,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max((n + 9) // 10) AS BIGINT) AS whales,
           CAST(sum(CASE WHEN rnk <= (n + 9) // 10 THEN rev ELSE 0 END)
                * 1000000 // max(tot) AS BIGINT) AS top_decile_ppm
    FROM ranked GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Audience overlap between consecutive months: Jaccard / churn / new
# shares of the monthly active customer sets, exact ppm.
# ---------------------------------------------------------------------------


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per consecutive month pair (keyed by the LATER month): active
    customers in each month, the intersection, Jaccard ppm, the
    churned share of the earlier month and the new share of the later
    month — one FULL OUTER join of the month-shifted active set
    against itself, then one aggregation; all exact ppm."""
    orders = _t(spark, sf_dir, "orders")
    active = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        "o_custkey",
    ).distinct()
    # calendar-successor month key (December rolls to January)
    prev_shifted = active.select(
        F.expr(
            "case when month % 100 = 12 then month + 89 else month + 1 end"
        ).alias("month"),
        "o_custkey",
        F.lit(1).alias("in_prev"),
    )
    nxt = active.select("month", "o_custkey", F.lit(1).alias("in_next"))
    j = prev_shifted.join(nxt, ["month", "o_custkey"], "full_outer")
    agg = j.groupBy("month").agg(
        F.sum(F.coalesce("in_prev", F.lit(0))).alias("n_prev"),
        F.sum(F.coalesce("in_next", F.lit(0))).alias("n_next"),
        F.sum(
            F.coalesce("in_prev", F.lit(0)) * F.coalesce("in_next", F.lit(0))
        ).alias("n_inter"),
    )
    return agg.filter((F.col("n_prev") > 0) & (F.col("n_next") > 0)).select(
        "month",
        F.col("n_prev").cast("bigint").alias("n_prev"),
        F.col("n_next").cast("bigint").alias("n_next"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.expr(
            "n_inter * 1000000L div (n_prev + n_next - n_inter)"
        ).alias("jaccard_ppm"),
        F.expr("(n_prev - n_inter) * 1000000L div n_prev").alias(
            "churn_ppm"
        ),
        F.expr("(n_next - n_inter) * 1000000L div n_next").alias("new_ppm"),
    )


_AUDIENCE_OVERLAP_SQL = """
    WITH active AS (
        SELECT DISTINCT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                             AS INT) AS month,
               o_custkey
        FROM orders
    ),
    j AS (
        SELECT COALESCE(p.month, n.month) AS month,
               COALESCE(p.in_prev, 0) AS in_prev,
               COALESCE(n.in_next, 0) AS in_next
        FROM (SELECT CASE WHEN month % 100 = 12 THEN month + 89
                          ELSE month + 1 END AS month,
                     o_custkey, 1 AS in_prev
              FROM active) p
        FULL OUTER JOIN
             (SELECT month, o_custkey, 1 AS in_next FROM active) n
        USING (month, o_custkey)
    ),
    agg AS (
        SELECT month,
               CAST(sum(in_prev) AS BIGINT) AS n_prev,
               CAST(sum(in_next) AS BIGINT) AS n_next,
               CAST(sum(in_prev * in_next) AS BIGINT) AS n_inter
        FROM j GROUP BY 1
    )
    SELECT month, n_prev, n_next, n_inter,
           CAST(n_inter * 1000000 // (n_prev + n_next - n_inter) AS BIGINT)
               AS jaccard_ppm,
           CAST((n_prev - n_inter) * 1000000 // n_prev AS BIGINT)
               AS churn_ppm,
           CAST((n_next - n_inter) * 1000000 // n_next AS BIGINT) AS new_ppm
    FROM agg WHERE n_prev > 0 AND n_next > 0
"""


# ---------------------------------------------------------------------------
# User growth accounting: every month's active customers classified
# NEW / RETAINED / RESURRECTED by their own activity history, churn
# charged to the month a previously-active customer went dark — the
# standard MAU bridge, all from one distinct (month, customer) frame.
# ---------------------------------------------------------------------------


def q_user_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per month: active customers split into new / retained /
    resurrected, plus how many of the PRIOR month's actives churned
    (retained + churned = prior actives, the bridge identity)."""
    orders = _t(spark, sf_dir, "orders")
    active = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
        "o_custkey",
    ).distinct()
    succ = F.expr(
        "case when month % 100 = 12 then month + 89 else month + 1 end"
    )
    w_u = Window.partitionBy("o_custkey").orderBy("month")
    classified = active.select(
        "month",
        "o_custkey",
        F.lag("month").over(w_u).alias("prev_seen"),
        succ.alias("next_month"),
    ).select(
        "month",
        F.when(F.col("prev_seen").isNull(), "new")
        .when(
            F.expr(
                "case when prev_seen % 100 = 12 then prev_seen + 89"
                " else prev_seen + 1 end"
            )
            == F.col("month"),
            "retained",
        )
        .otherwise("resurrected")
        .alias("state"),
    )
    counts = classified.groupBy("month").agg(
        F.count("*").cast("bigint").alias("active"),
        F.sum((F.col("state") == "new").cast("bigint")).alias("n_new"),
        F.sum((F.col("state") == "retained").cast("bigint")).alias(
            "n_retained"
        ),
        F.sum((F.col("state") == "resurrected").cast("bigint")).alias(
            "n_resurrected"
        ),
    )
    w_m = Window.orderBy("month")
    return counts.select(
        "month",
        "active",
        "n_new",
        "n_retained",
        "n_resurrected",
        # churned INTO this month = prior month's actives − retained
        F.when(
            F.lag("active").over(w_m).isNotNull(),
            F.lag("active").over(w_m) - F.col("n_retained"),
        )
        .cast("bigint")
        .alias("n_churned"),
    )


_USER_ACCOUNTING_SQL = """
    WITH active AS (
        SELECT DISTINCT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                             AS INT) AS month,
               o_custkey
        FROM orders
    ),
    classified AS (
        SELECT month,
               CASE WHEN prev_seen IS NULL THEN 'new'
                    WHEN (CASE WHEN prev_seen % 100 = 12 THEN prev_seen + 89
                               ELSE prev_seen + 1 END) = month
                        THEN 'retained'
                    ELSE 'resurrected' END AS state
        FROM (SELECT month, o_custkey,
                     lag(month) OVER (PARTITION BY o_custkey
                                      ORDER BY month) AS prev_seen
              FROM active)
    ),
    counts AS (
        SELECT month,
               CAST(count(*) AS BIGINT) AS active,
               CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_resurrected
        FROM classified GROUP BY 1
    )
    SELECT month, active, n_new, n_retained, n_resurrected,
           CAST(lag(active) OVER (ORDER BY month) - n_retained AS BIGINT)
               AS n_churned
    FROM counts
"""


# ---------------------------------------------------------------------------
# Key-sequence gap analysis: TPC-H order keys are deliberately sparse;
# profile the holes (count, largest, density ppm) with one lag window
# over the sorted key column.
# ---------------------------------------------------------------------------


def q_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: key count, span, number of gaps, largest gap, and key
    density in ppm of the span — the sequence-integrity audit for
    id-assigned tables."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    w = Window.orderBy("o_orderkey")
    gaps = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") - F.lag("o_orderkey").over(w)).alias("step"),
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        (F.max("o_orderkey") - F.min("o_orderkey") + 1)
        .cast("bigint")
        .alias("span"),
        F.sum((F.col("step") > 1).cast("bigint")).alias("n_gaps"),
        F.coalesce(F.max(F.when(F.col("step") > 1, F.col("step") - 1)),
                   F.lit(0))
        .cast("bigint")
        .alias("largest_gap"),
        F.expr(
            "count(*) * 1000000L div (max(o_orderkey) - min(o_orderkey) + 1)"
        ).alias("density_ppm"),
    )


_KEY_GAPS_SQL = """
    WITH gaps AS (
        SELECT o_orderkey,
               o_orderkey - lag(o_orderkey) OVER (ORDER BY o_orderkey)
                   AS step
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(o_orderkey) - min(o_orderkey) + 1 AS BIGINT) AS span,
           CAST(sum(CASE WHEN step > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps,
           CAST(COALESCE(max(CASE WHEN step > 1 THEN step - 1 END), 0)
                AS BIGINT) AS largest_gap,
           CAST(count(*) * 1000000
                // (max(o_orderkey) - min(o_orderkey) + 1) AS BIGINT)
               AS density_ppm
    FROM gaps
"""


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per acquisition cohort by
# month-age, normalized per cohort customer — exact milli-cents.
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (acquisition cohort month, age in months): cohort size,
    cumulative revenue cents, and cumulative LTV per customer in
    milli-cents — the spend-side twin of cohort_retention."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sized = first.groupBy("m0").agg(F.count("*").alias("cohort_size"))
    aged = (
        orders.join(first, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("age"))
        .agg(F.sum("cents").alias("rev"))
    )
    w_cum = (
        Window.partitionBy("m0")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        aged.join(sized, "m0")
        .select(
            F.col("m0").alias("cohort_month_idx"),
            "age",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.sum("rev").over(w_cum).cast("bigint").alias("cum_rev_cents"),
        )
        .withColumn(
            "ltv_milli",
            F.expr("cum_rev_cents * 1000L div cohort_size"),
        )
    )


_COHORT_LTV_SQL = """
    WITH orders_m AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    first AS (SELECT o_custkey, min(m) AS m0 FROM orders_m GROUP BY 1),
    sized AS (SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY 1),
    aged AS (
        SELECT f.m0, o.m - f.m0 AS age, CAST(sum(o.cents) AS BIGINT) AS rev
        FROM orders_m o JOIN first f USING (o_custkey)
        GROUP BY 1, 2
    )
    SELECT CAST(a.m0 AS BIGINT) AS cohort_month_idx, a.age,
           s.cohort_size,
           CAST(sum(a.rev) OVER (PARTITION BY a.m0 ORDER BY a.age
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_rev_cents,
           CAST(sum(a.rev) OVER (PARTITION BY a.m0 ORDER BY a.age
                                 ROWS UNBOUNDED PRECEDING)
                * 1000 // s.cohort_size AS BIGINT) AS ltv_milli
    FROM aged a JOIN sized s USING (m0)
"""


# ---------------------------------------------------------------------------
# SLA trend: exact p50/p90 order→ship latency per month via the
# per-value histogram (latency days ≤ ~122 distinct values — the
# window state is the histogram, never the rows).
# ---------------------------------------------------------------------------


def q_sla_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order month: orders and the exact nearest-rank p50/p90 of
    order→first-ship latency in days (weighted-quantile reach test in
    integer cross-multiplied form)."""
    from sf_datalake_spark.operators.aggregates import weighted_quantiles

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lat = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "month",
        F.datediff("first_ship", "o_orderdate").cast("long").alias("days"),
        F.lit(1).cast("long").alias("w"),
    )
    q = weighted_quantiles(
        lat, ["month"], "days", "w", quantiles=((1, 2), (9, 10))
    )
    return q.select(
        "month",
        F.col("total_weight").cast("bigint").alias("n_orders"),
        F.col("q_1_2").cast("bigint").alias("p50_days"),
        F.col("q_9_10").cast("bigint").alias("p90_days"),
    )


_SLA_TREND_SQL = """
    WITH lat AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               date_diff('day', o_orderdate, fs) AS days
        FROM orders JOIN (SELECT l_orderkey, min(l_shipdate) AS fs
                          FROM lineitem GROUP BY 1) l
          ON o_orderkey = l_orderkey
    ),
    per_value AS (
        SELECT month, days, CAST(count(*) AS BIGINT) AS w
        FROM lat GROUP BY 1, 2
    ),
    cum AS (
        SELECT month, days,
               sum(w) OVER (PARTITION BY month ORDER BY days
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY month) AS tot
        FROM per_value
    )
    SELECT month,
           CAST(max(tot) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN c * 2 >= tot THEN days END) AS BIGINT)
               AS p50_days,
           CAST(min(CASE WHEN c * 10 >= tot * 9 THEN days END) AS BIGINT)
               AS p90_days
    FROM cum GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Borda composite scorecard: nations ranked on three exact metrics
# (revenue, active customers, latest-year growth), Borda points
# summed, final rank — rank aggregation with no weights to tune and
# no float anywhere.
# ---------------------------------------------------------------------------


def q_borda_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: the three metric ranks, the Borda score (sum of
    (N − rank) points), and the final composite rank (Borda desc,
    nation asc)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").alias("y"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w_y = Window.partitionBy()
    per_nat = j.groupBy("c_nationkey").agg(
        F.sum("cents").alias("revenue_cents"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.when(F.col("y") == 1998, F.col("cents")).otherwise(0)).alias(
            "rev_last"
        ),
        F.sum(F.when(F.col("y") == 1997, F.col("cents")).otherwise(0)).alias(
            "rev_prev"
        ),
    ).withColumn(
        # growth ppm of the latest full-ish year pair, -1e12 sentinel
        # when the base year is empty (ranks last, deterministically)
        "growth_ppm",
        F.when(
            F.col("rev_prev") > 0,
            F.expr("(rev_last - rev_prev) * 1000000L div rev_prev"),
        ).otherwise(F.lit(-1_000_000_000_000)),
    )
    r_rev = Window.orderBy(
        F.col("revenue_cents").desc(), F.col("c_nationkey").asc()
    )
    r_cust = Window.orderBy(
        F.col("n_customers").desc(), F.col("c_nationkey").asc()
    )
    r_gro = Window.orderBy(
        F.col("growth_ppm").desc(), F.col("c_nationkey").asc()
    )
    ranked = per_nat.select(
        "c_nationkey",
        F.row_number().over(r_rev).alias("rank_revenue"),
        F.row_number().over(r_cust).alias("rank_customers"),
        F.row_number().over(r_gro).alias("rank_growth"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    scored = ranked.withColumn(
        "borda",
        F.expr(
            "(n - rank_revenue) + (n - rank_customers) + (n - rank_growth)"
        ).cast("bigint"),
    )
    w_final = Window.orderBy(F.col("borda").desc(), F.col("c_nationkey").asc())
    return scored.select(
        "c_nationkey",
        F.col("rank_revenue").cast("int"),
        F.col("rank_customers").cast("int"),
        F.col("rank_growth").cast("int"),
        "borda",
        F.row_number().over(w_final).cast("int").alias("final_rank"),
    )


_BORDA_SQL = """
    WITH per_nat AS (
        SELECT c_nationkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(sum(CASE WHEN year(o_orderdate) = 1998
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS rev_last,
               CAST(sum(CASE WHEN year(o_orderdate) = 1997
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS rev_prev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ),
    g AS (
        SELECT *,
               CASE WHEN rev_prev > 0
                    THEN (rev_last - rev_prev) * 1000000 // rev_prev
                    ELSE -1000000000000 END AS growth_ppm
        FROM per_nat
    ),
    ranked AS (
        SELECT c_nationkey,
               row_number() OVER (ORDER BY revenue_cents DESC,
                                  c_nationkey ASC) AS rank_revenue,
               row_number() OVER (ORDER BY n_customers DESC,
                                  c_nationkey ASC) AS rank_customers,
               row_number() OVER (ORDER BY growth_ppm DESC,
                                  c_nationkey ASC) AS rank_growth,
               count(*) OVER () AS n
        FROM g
    )
    SELECT c_nationkey,
           CAST(rank_revenue AS INT) AS rank_revenue,
           CAST(rank_customers AS INT) AS rank_customers,
           CAST(rank_growth AS INT) AS rank_growth,
           CAST((n - rank_revenue) + (n - rank_customers)
                + (n - rank_growth) AS BIGINT) AS borda,
           CAST(row_number() OVER (
               ORDER BY (n - rank_revenue) + (n - rank_customers)
                        + (n - rank_growth) DESC,
                        c_nationkey ASC) AS INT) AS final_rank
    FROM ranked
"""


# ---------------------------------------------------------------------------
# Pareto 80/20: the smallest customer head covering >= 80% of revenue,
# per nation — cumulative cross-multiplication, no float shares.
# ---------------------------------------------------------------------------


def q_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: customers, the minimal top-k whose revenue reaches
    80% (cum·5 ≥ tot·4), and that head's size in ppm of the base."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            )
        )
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev").desc(), F.col("c_custkey").asc()
    )
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_nat = Window.partitionBy("c_nationkey")
    ranked = per_cust.select(
        "c_nationkey",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("rev").over(w_cum).alias("cum"),
        F.sum("rev").over(w_nat).alias("tot"),
        F.count("*").over(w_nat).alias("n"),
    )
    return (
        ranked.filter(F.col("cum") * 5 >= F.col("tot") * 4)
        .groupBy("c_nationkey")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.min("rnk").cast("bigint").alias("head_k"),
            F.expr("min(rnk) * 1000000L div max(n)").alias("head_ppm"),
        )
    )


_PARETO_8020_SQL = """
    WITH per_cust AS (
        SELECT c_nationkey, c_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_nationkey,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY rev DESC, c_custkey ASC) AS rnk,
               sum(rev) OVER (PARTITION BY c_nationkey
                              ORDER BY rev DESC, c_custkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(rev) OVER (PARTITION BY c_nationkey) AS tot,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM per_cust
    )
    SELECT c_nationkey,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(rnk) AS BIGINT) AS head_k,
           CAST(min(rnk) * 1000000 // max(n) AS BIGINT) AS head_ppm
    FROM ranked WHERE cum * 5 >= tot * 4
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Repeat-purchase KPIs: repeat share and exact median inter-order gap
# per segment (gap histogram via the weighted-quantile reach test).
# ---------------------------------------------------------------------------


def q_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per segment: customers, repeat share ppm (>= 2 orders), and the
    exact median days between consecutive orders."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w_u = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w_u)
            ).alias("gap"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    counts = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.expr(
                "sum(case when n_orders >= 2 then 1 else 0 end)"
                " * 1000000L div count(*)"
            ).alias("repeat_ppm"),
        )
    )
    per_gap = (
        gaps.filter(F.col("gap").isNotNull())
        .groupBy("c_mktsegment", "gap")
        .agg(F.count("*").alias("w"))
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seg = Window.partitionBy("c_mktsegment")
    med = (
        per_gap.select(
            "c_mktsegment",
            "gap",
            F.sum("w").over(w_cum).alias("c"),
            F.sum("w").over(w_seg).alias("tot"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.min(
                F.when(F.col("c") * 2 >= F.col("tot"), F.col("gap"))
            )
            .cast("bigint")
            .alias("median_gap_days")
        )
    )
    return counts.join(med, "c_mktsegment")


_REPEAT_PURCHASE_SQL = """
    WITH counts AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS repeat_ppm
        FROM (SELECT o_custkey, count(*) AS n_orders
              FROM orders GROUP BY 1) o
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ),
    gaps AS (
        SELECT c_mktsegment,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate,
                                                         o_orderkey),
                         o_orderdate) AS gap
        FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    per_gap AS (
        SELECT c_mktsegment, gap, CAST(count(*) AS BIGINT) AS w
        FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
        SELECT c_mktsegment, gap,
               sum(w) OVER (PARTITION BY c_mktsegment ORDER BY gap
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY c_mktsegment) AS tot
        FROM per_gap
    ),
    med AS (
        SELECT c_mktsegment,
               CAST(min(CASE WHEN c * 2 >= tot THEN gap END) AS BIGINT)
                   AS median_gap_days
        FROM cum GROUP BY 1
    )
    SELECT counts.c_mktsegment, counts.n_customers, counts.repeat_ppm,
           med.median_gap_days
    FROM counts JOIN med USING (c_mktsegment)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "bm25_search": (q_bm25_search, _BM25_SQL),
    "funnel_conversion": (q_funnel_conversion, _FUNNEL_SQL),
    "cohort_retention": (q_cohort_retention, _COHORT_SQL),
    "frequent_pairs": (q_frequent_pairs, _FREQUENT_PAIRS_SQL),
    "event_transitions": (q_event_transitions, _TRANSITIONS_SQL),
    "rfm_segments": (q_rfm_segments, _RFM_SQL),
    "session_paths": (q_session_paths, _SESSION_PATHS_SQL),
    "streaming_transitions": (q_streaming_transitions, _TRANSITIONS_SQL),
    "holt_forecast": (q_holt_forecast, _HOLT_SQL),
    "cusum_alarms": (q_cusum_alarms, _CUSUM_SQL),
    "streaming_exact_k": (q_streaming_exact_k, _STREAMING_EXACT_K_SQL),
    "equidepth_buckets": (q_equidepth_buckets, _EQUIDEPTH_SQL),
    "incremental_join": (q_incremental_join, _INCREMENTAL_JOIN_SQL),
    "item_cf_topk": (q_item_cf_topk, _ITEM_CF_SQL),
    "apportion_slots": (q_apportion_slots, _APPORTION_SQL),
    "abc_xyz": (q_abc_xyz, _ABC_XYZ_SQL),
    "ohlc_bars": (q_ohlc_bars, _OHLC_SQL),
    "growth_contrib": (q_growth_contrib, _GROWTH_CONTRIB_SQL),
    "bandit_replay": (q_bandit_replay, _BANDIT_SQL),
    "dau_wau_mau": (q_dau_wau_mau, _DAU_WAU_MAU_SQL),
    "top_decile_share": (q_top_decile_share, _TOP_DECILE_SQL),
    "audience_overlap": (q_audience_overlap, _AUDIENCE_OVERLAP_SQL),
    "user_accounting": (q_user_accounting, _USER_ACCOUNTING_SQL),
    "key_gaps": (q_key_gaps, _KEY_GAPS_SQL),
    "cohort_ltv": (q_cohort_ltv, _COHORT_LTV_SQL),
    "sla_trend": (q_sla_trend, _SLA_TREND_SQL),
    "borda_scorecard": (q_borda_scorecard, _BORDA_SQL),
    "pareto_8020": (q_pareto_8020, _PARETO_8020_SQL),
    "repeat_purchase": (q_repeat_purchase, _REPEAT_PURCHASE_SQL),
}
