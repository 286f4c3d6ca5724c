"""Statistical-monitoring and exact-arithmetic analytics batch (round 4,
beyond the reference): Pettitt changepoint test, exact weighted
quantiles, bitmap-exact distinct rollup, time-decay attribution,
Nelson-Aalen cumulative hazard, vocabulary OOV coverage, reciprocal-
rank fusion.

Conventions follow ``queries.py``: every computed column is aliased
identically in the Spark plan and the DuckDB oracle; money is summed
as integer cents; shares/credits are parts-per-million integers
(``div``, truncating like DuckDB's ``//``); the few floats that cross
the engine boundary are single transcendental evaluations rounded at
6, never accumulated sums.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t


# ---------------------------------------------------------------------------
# Pettitt changepoint test: the rank-based single-changepoint detector
# for each priority's monthly revenue series.  Doubled midranks keep
# U_t in pure BIGINT arithmetic (operators/timeseries.pettitt_test);
# the only float is the rounded significance approximation.
# ---------------------------------------------------------------------------

def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: Pettitt K statistic, the most likely
    changepoint month of the monthly revenue-cents series, and the
    approximate p-value."""
    from sf_datalake_spark.operators.timeseries import pettitt_test

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (
            F.year("o_orderdate") * F.lit(100) + F.month("o_orderdate")
        )
        .cast("int")
        .alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    return pettitt_test(
        monthly, ["o_orderpriority"], "month", "revenue_cents"
    ).select(
        "o_orderpriority",
        "n_obs",
        "k_stat",
        F.col("changepoint").alias("changepoint_month"),
        "p_approx",
    )


_PETTITT_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_orderpriority, month,
               CAST(rank() OVER (PARTITION BY o_orderpriority
                                 ORDER BY revenue_cents) * 2
                    + count(*) OVER (PARTITION BY o_orderpriority,
                                                  revenue_cents)
                    - 1 AS BIGINT) AS r2,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM monthly
    ),
    u AS (
        SELECT o_orderpriority, month, n,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY month) AS t,
               abs(sum(r2) OVER (PARTITION BY o_orderpriority
                                 ORDER BY month
                                 ROWS UNBOUNDED PRECEDING)
                   - row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY month) * (n + 1))
                   AS absu
        FROM ranked
    ),
    best AS (
        SELECT o_orderpriority, n, absu, month,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY absu DESC, month ASC) AS rn
        FROM u WHERE t < n
    )
    SELECT o_orderpriority,
           CAST(n AS INT) AS n_obs,
           CAST(absu AS BIGINT) AS k_stat,
           month AS changepoint_month,
           round(2.0 * exp(-6.0 * CAST(absu AS DOUBLE) * CAST(absu AS DOUBLE)
                           / (CAST(n AS DOUBLE) * n * n
                              + CAST(n AS DOUBLE) * n)), 6) AS p_approx
    FROM best WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Exact weighted quantiles: quantity-weighted price quartiles per
# return flag.  The reach test stays in integer cross-multiplied form
# (operators/aggregates.weighted_quantiles) — zero float arithmetic.
# ---------------------------------------------------------------------------

def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: total shipped quantity and the exact
    quantity-weighted price quartiles in cents."""
    from sf_datalake_spark.operators.aggregates import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = weighted_quantiles(
        li, ["l_returnflag"], "price_cents", "qty"
    )
    return out.select(
        "l_returnflag",
        "total_weight",
        F.col("q_1_4").alias("wq25_cents"),
        F.col("q_1_2").alias("wmedian_cents"),
        F.col("q_3_4").alias("wq75_cents"),
    )


_WEIGHTED_MEDIAN_SQL = """
    WITH per_value AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, price_cents,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM per_value
    )
    SELECT l_returnflag,
           CAST(max(tot) AS BIGINT) AS total_weight,
           CAST(min(price_cents) FILTER (WHERE c * 4 >= tot) AS BIGINT)
               AS wq25_cents,
           CAST(min(price_cents) FILTER (WHERE c * 2 >= tot) AS BIGINT)
               AS wmedian_cents,
           CAST(min(price_cents) FILTER (WHERE c * 4 >= tot * 3) AS BIGINT)
               AS wq75_cents
    FROM cum GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Bitmap-exact distinct rollup: distinct ordering customers per
# priority class, computed as mergeable 64-bit bitmap words — the
# EXACT counterpart of hll_rollup (operators/sketches.bitmap_distinct):
# level-2 merges level-1 bitmaps with no second scan of orders.
# ---------------------------------------------------------------------------

def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority class (high = 1-URGENT/2-HIGH): exact distinct
    customer count from OR-merged per-priority bitmaps, plus the
    bitmap word count."""
    from sf_datalake_spark.operators.sketches import bitmap_distinct

    orders = _t(spark, sf_dir, "orders")
    cls = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit("high")
    ).otherwise(F.lit("low"))
    out = bitmap_distinct(
        orders, ["o_orderpriority"], cls, "o_custkey"
    )
    return out.select(
        F.col("grp").alias("priority_class"), "n_distinct", "n_words"
    )


_BITMAP_DISTINCT_SQL = """
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 'high' ELSE 'low' END AS priority_class,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT o_custkey // 64) AS BIGINT) AS n_words
    FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution: completes the attribution family
# (linear, position-based in queries_mining) with recency-halving
# weights.  Weights are dyadic (1 << k) and credits exact ppm
# integers, so totals are engine-exact BIGINTs; credit is truncated at
# the 10 most recent touches (beyond that a half-life weight is below
# ppm resolution anyway — documented, identical in both engines).
# ---------------------------------------------------------------------------

def q_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per touch channel: touches credited, purchases reached, and the
    exact ppm credit total under exponential time-decay attribution."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_type",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
    )
    matched = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w_recency = Window.partitionBy("purchase_id").orderBy(
        F.col("t_ts").desc(), F.col("touch_id").desc()
    )
    recent = matched.withColumn(
        "rn", F.row_number().over(w_recency)
    ).filter(F.col("rn") <= 10)
    w_p = Window.partitionBy("purchase_id")
    credited = recent.withColumn("m", F.max("rn").over(w_p)).withColumn(
        # w_rn = 2^(10-rn); denom = sum over rn=1..m = 2^10 - 2^(10-m)
        "credit_ppm",
        F.expr(
            "(1000000L * shiftleft(1L, 10 - rn))"
            " div (shiftleft(1L, 10) - shiftleft(1L, 10 - m))"
        ),
    )
    return credited.groupBy("event_type").agg(
        F.count("*").alias("n_touches"),
        F.countDistinct("purchase_id").alias("n_purchases_reached"),
        F.sum("credit_ppm").alias("credit_ppm_total"),
    )


_DECAY_ATTRIBUTION_SQL = """
    WITH purchases AS (
        SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type, ts AS t_ts, event_id AS touch_id
        FROM events WHERE event_type IN ('view', 'click')
    ),
    matched AS (
        SELECT event_type, purchase_id, t_ts, touch_id
        FROM purchases JOIN touches
          ON p_user = user_id
         AND t_ts < p_ts AND t_ts >= p_ts - INTERVAL 7 DAY
    ),
    recent AS (
        SELECT event_type, purchase_id,
               row_number() OVER (PARTITION BY purchase_id
                                  ORDER BY t_ts DESC, touch_id DESC) AS rn
        FROM matched
        QUALIFY rn <= 10
    ),
    credited AS (
        SELECT event_type, purchase_id,
               (1000000 * (1::BIGINT << (10 - rn)))
               // ((1::BIGINT << 10)
                   - (1::BIGINT << (10 - max(rn) OVER (
                         PARTITION BY purchase_id)))) AS credit_ppm
        FROM recent
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT purchase_id) AS BIGINT)
               AS n_purchases_reached,
           CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
    FROM credited GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard on the km_survival setup
# (queries_mining.q_km_survival): unlike the KM product, the NA sum
# needs NO iterative fold — at-risk counts are a window subtraction
# and each hazard increment is an exact ppm integer, so the whole
# curve is window arithmetic, engine-exact with zero floats.
# ---------------------------------------------------------------------------

def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per segment and event time: at-risk count, events, and the
    Nelson-Aalen cumulative hazard in exact ppm."""
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
            (F.datediff("h", "last_o") >= 180).cast("int").alias("is_event"),
        )
    )
    per_t = life.groupBy("c_mktsegment", "t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).cast("bigint").alias("c"),
    )
    w_prior = (
        Window.partitionBy("c_mktsegment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_key = Window.partitionBy("c_mktsegment")
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        per_t.withColumn(
            "at_risk",
            F.sum(F.col("d") + F.col("c")).over(w_key)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0)
            ),
        )
        .withColumn(
            "hazard_ppm",
            F.expr("(d * 1000000L) div at_risk"),
        )
        .withColumn("cum_hazard_ppm", F.sum("hazard_ppm").over(w_cum))
    )
    return curve.filter(F.col("d") > 0).select(
        "c_mktsegment",
        F.col("t").cast("int").alias("t"),
        "at_risk",
        "d",
        "cum_hazard_ppm",
    )


_NELSON_AALEN_SQL = """
    WITH horizon AS (SELECT max(o_orderdate) AS h FROM orders),
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
    curve AS (
        SELECT c_mktsegment, t, d,
               sum(d + c) OVER (PARTITION BY c_mktsegment)
               - coalesce(sum(d + c) OVER (PARTITION BY c_mktsegment
                          ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS at_risk
        FROM per_t
    ),
    hz AS (
        SELECT c_mktsegment, t, d, at_risk,
               sum((d * 1000000) // at_risk)
                   OVER (PARTITION BY c_mktsegment ORDER BY t
                         ROWS UNBOUNDED PRECEDING) AS cum_hazard_ppm
        FROM curve
    )
    SELECT c_mktsegment, t, CAST(at_risk AS BIGINT) AS at_risk,
           CAST(d AS BIGINT) AS d,
           CAST(cum_hazard_ppm AS BIGINT) AS cum_hazard_ppm
    FROM hz WHERE d > 0
"""


# ---------------------------------------------------------------------------
# Vocabulary OOV coverage: the tokenizer-coverage audit an LLM data
# pipeline runs before training — build the top-200 document-frequency
# vocabulary from the corpus itself (deterministic df-desc/token-asc
# cutoff), then measure per-language out-of-vocabulary token rates.
# Spark-first: the vocabulary is a 200-row broadcast join against the
# token stream; the corpus is scanned twice (df pass + coverage pass),
# which at 100 TB is the standard two-pass vocab build — the vocab
# side is kilobytes.
# ---------------------------------------------------------------------------

_VOCAB_K = 200


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: documents, total tokens, tokens outside the
    corpus top-200 DF vocabulary, and the exact OOV rate in ppm."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).alias("token"),
    )
    # global top-K selection as orderBy+limit, NOT a row_number over
    # every distinct token: this compiles to TakeOrderedAndProject
    # (per-partition top-K, merged on the driver) — no single-partition
    # window over a 100 TB corpus's vocabulary
    vocab = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(_VOCAB_K)
        .select("token")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))),
        "token",
        "left",
    )
    return flagged.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tokens"),
        F.sum(
            F.when(F.col("in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("oov_tokens"),
        F.expr(
            "sum(case when in_vocab is null then 1 else 0 end)"
            " * 1000000L div count(*)"
        ).alias("oov_ppm"),
    )


_VOCAB_COVERAGE_SQL = r"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token,
                   row_number() OVER (ORDER BY count(DISTINCT doc_id) DESC,
                                      token ASC) AS rn
            FROM toks GROUP BY token
        ) WHERE rn <= 200
    ),
    flagged AS (
        SELECT t.doc_id, t.lang,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS is_oov
        FROM toks t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(is_oov) AS BIGINT) AS oov_tokens,
           CAST(sum(is_oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
    FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: merge BM25 keyword ranks with embedding
# cosine ranks (doc_id ≡ vec_id in the synthetic corpus) using exact
# ppm RRF scores — 1e6 div (60 + rank), summed as integers, so the
# fused ordering is engine-exact.  Both input rankings are rounded at
# 6 before ranking with the id tiebreak (same discipline as
# embedding_topk / bm25_search), killing ULP rank flips.
# ---------------------------------------------------------------------------

_RRF_TERMS = ["join", "window", "spark"]
_RRF_K = 60
_RRF_DEPTH = 50


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents under reciprocal-rank fusion of the BM25
    keyword ranking and the cosine-to-query-vector ranking."""
    from sf_datalake_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    bm = bm25_topk(
        docs, _RRF_TERMS, "doc_id", "text", top_k=_RRF_DEPTH
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("r_bm25"),
    )

    qvec = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(col):
        return F.sqrt(
            F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
        )

    # top-depth via orderBy+limit (TakeOrderedAndProject — distributed
    # top-K, no global-window single partition over the corpus); the
    # rank window then runs on ≤ depth rows
    cos = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(
                dot / (norm(F.col("embedding")) * norm(F.col("qv"))), 6
            ).alias("cos6"),
        )
        .orderBy(F.col("cos6").desc(), F.col("vec_id").asc())
        .limit(_RRF_DEPTH)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.col("cos6").desc(), F.col("vec_id").asc()))
            .alias("r_cos"),
        )
    )

    fused = bm.join(
        cos, bm["doc_id"] == cos["vec_id"], "full_outer"
    ).select(
        F.coalesce(bm["doc_id"], cos["vec_id"]).alias("doc_id"),
        "r_bm25",
        "r_cos",
        (
            F.coalesce(
                F.expr(f"1000000L div ({_RRF_K} + r_bm25)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000L div ({_RRF_K} + r_cos)"), F.lit(0)
            )
        ).alias("rrf_ppm"),
    )
    return fused.orderBy(F.col("rrf_ppm").desc(), F.col("doc_id").asc()).limit(
        20
    )


_RRF_FUSION_SQL = r"""
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
    ),
    bm_top AS (
        SELECT doc_id, round(sum(s), 6) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 50
    ),
    bm AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                    AS INT) AS r_bm25
        FROM bm_top
    ),
    qv AS (
        SELECT embedding AS v FROM embeddings
        ORDER BY vec_id LIMIT 1
    ),
    coss AS (
        SELECT vec_id,
               round(list_inner_product(embedding::DOUBLE[], v::DOUBLE[])
                     / (sqrt(list_inner_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[]))
                        * sqrt(list_inner_product(v::DOUBLE[],
                                                  v::DOUBLE[]))), 6)
                   AS cos6
        FROM embeddings CROSS JOIN qv
    ),
    cos AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY cos6 DESC, vec_id ASC)
                    AS INT) AS r_cos
        FROM coss
        QUALIFY r_cos <= 50
    )
    SELECT coalesce(bm.doc_id, cos.vec_id) AS doc_id, r_bm25, r_cos,
           CAST(coalesce(1000000 // (60 + r_bm25), 0)
                + coalesce(1000000 // (60 + r_cos), 0) AS BIGINT) AS rrf_ppm
    FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.vec_id
    ORDER BY rrf_ppm DESC, doc_id ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# Asymmetric near-containment screen: the subset-duplicate detector
# Jaccard misses (a doc pasted inside a 10x larger one has J ~= 0.1
# but containment 1.0).  Same corpus-slice discipline as ssjoin_exact
# (the clone-heavy synthetic corpus makes full-table pair OUTPUT
# quadratic by construction — see queries_mining.q_ssjoin_exact).
# ---------------------------------------------------------------------------

def q_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs on the doc_id % 8 slice where the smaller
    distinct-token set is >= 90% contained in the larger."""
    from sf_datalake_spark.functions.text import tokenize
    from sf_datalake_spark.operators.ssjoin import containment_join

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 8 == 0)
        .select("doc_id", tokenize("text").alias("toks"))
    )
    return containment_join(docs, "doc_id", "toks", threshold_ppm=900_000)


_CONTAINMENT_SQL = r"""
    WITH s AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')) AS toks
        FROM documents
        WHERE doc_id % 8 = 0
          AND len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) > 0
    )
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS inter_size,
           CAST(len(a.toks) AS INT) AS small_size,
           CAST(len(list_intersect(a.toks, b.toks)) * 1000000
                // len(a.toks) AS BIGINT) AS containment_ppm
    FROM s a JOIN s b
      ON (len(a.toks) < len(b.toks)
          OR (len(a.toks) = len(b.toks) AND a.doc_id < b.doc_id))
    WHERE len(list_intersect(a.toks, b.toks)) * 1000000
          >= 900000 * len(a.toks)
"""


# ---------------------------------------------------------------------------
# Readability profile per language: exact word/sentence/vowel-group
# counts (shared Java-regex/RE2 character classes, no lookahead), one
# Flesch reading-ease float per language computed from the aggregate
# ratios in a fixed expression tree, rounded at 6.
# ---------------------------------------------------------------------------

def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: documents, exact token/sentence/vowel-group
    totals, and the corpus-level Flesch reading-ease score."""
    from sf_datalake_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        token_count("text").cast("bigint").alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        )
        .cast("bigint")
        .alias("s"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiou]+"))
        .cast("bigint")
        .alias("v"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("s").alias("sentences"),
        F.sum("v").alias("vowel_groups"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "sentences",
        "vowel_groups",
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("words") / F.col("sentences"))
            - F.lit(84.6) * (F.col("vowel_groups") / F.col("words")),
            6,
        ).alias("flesch"),
    )


_READABILITY_SQL = r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS BIGINT) AS w,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                    AS BIGINT) AS v
        FROM documents
    ),
    agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS words,
               CAST(sum(s) AS BIGINT) AS sentences,
               CAST(sum(v) AS BIGINT) AS vowel_groups
        FROM per_doc GROUP BY 1
    )
    SELECT lang, n_docs, words, sentences, vowel_groups,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (CAST(words AS DOUBLE) / sentences)
                 - CAST(84.6 AS DOUBLE)
                   * (CAST(vowel_groups AS DOUBLE) / words), 6) AS flesch
    FROM agg
"""


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition of each priority's monthly
# revenue series, all-integer (scaled by 2*period = 24) — trend via
# the textbook 2x12 centered MA, per-phase seasonal means with
# truncating div, residual by subtraction.  NULL trend at the +-6
# edges; ROW-based frames (gaps shift the window — documented
# row-based-calendar quirk, same as operators/windows.with_lag).
# ---------------------------------------------------------------------------

def q_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority and month: revenue cents with 24x-scaled trend,
    detrended, seasonal, and residual integer components."""
    from sf_datalake_spark.operators.timeseries import classical_decomposition

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        )
        .cast("int")
        .alias("midx"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    out = classical_decomposition(
        monthly, ["o_orderpriority"], "midx", "revenue_cents", period=12
    )
    return out.select(
        "o_orderpriority",
        F.col("idx").alias("midx"),
        F.col("value").alias("revenue_cents"),
        "phase",
        "trend2p",
        "detr2p",
        "seasonal2p",
        "resid2p",
    )


_SEASONAL_DECOMP_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INT)
                   AS midx,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY 1, 2
    ),
    with_trend AS (
        SELECT o_orderpriority, midx, revenue_cents,
               CAST(midx % 12 AS INT) AS phase,
               CASE WHEN count(*) OVER w_full = 13 THEN
                    lag(revenue_cents, 6) OVER w_ord
                    + 2 * sum(revenue_cents) OVER w_ma
                    + lead(revenue_cents, 6) OVER w_ord
               END AS trend2p
        FROM monthly
        WINDOW w_ord AS (PARTITION BY o_orderpriority ORDER BY midx),
               w_ma AS (PARTITION BY o_orderpriority ORDER BY midx
                        ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING),
               w_full AS (PARTITION BY o_orderpriority ORDER BY midx
                          ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ),
    detr AS (
        SELECT *, 24 * revenue_cents - trend2p AS detr2p FROM with_trend
    ),
    seas AS (
        SELECT *,
               sum(detr2p) OVER (PARTITION BY o_orderpriority, phase)
               // count(detr2p) OVER (PARTITION BY o_orderpriority, phase)
                   AS seasonal2p
        FROM detr
    )
    SELECT o_orderpriority, midx, revenue_cents, phase,
           CAST(trend2p AS BIGINT) AS trend2p,
           CAST(detr2p AS BIGINT) AS detr2p,
           CAST(seasonal2p AS BIGINT) AS seasonal2p,
           CAST(detr2p - seasonal2p AS BIGINT) AS resid2p
    FROM seas
"""


# ---------------------------------------------------------------------------
# Time-to-convert percentiles: exact p50/p90 of first-view ->
# first-purchase latency per first-view cohort month, via the
# weighted_quantiles operator with unit weights (integer
# cross-multiplied reach tests, zero floats).
# ---------------------------------------------------------------------------

def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per first-view cohort month: converting users and the exact
    p50/p90 view->purchase latency in seconds."""
    from sf_datalake_spark.operators.aggregates import weighted_quantiles

    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_view"))
    ).select(
        (
            F.year("first_view") * F.lit(100) + F.month("first_view")
        )
        .cast("int")
        .alias("cohort_month"),
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_view")
        ).alias("delta_s"),
        F.lit(1).alias("w"),
    )
    out = weighted_quantiles(
        conv, ["cohort_month"], "delta_s", "w",
        quantiles=((1, 2), (9, 10)),
    )
    return out.select(
        "cohort_month",
        F.col("total_weight").alias("n_converting"),
        F.col("q_1_2").alias("p50_s"),
        F.col("q_9_10").alias("p90_s"),
    )


_TIME_TO_CONVERT_SQL = """
    WITH firsts AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS first_view,
               min(ts) FILTER (WHERE event_type = 'purchase')
                   AS first_purchase
        FROM events GROUP BY 1
    ),
    conv AS (
        SELECT CAST(year(first_view) * 100 + month(first_view) AS INT)
                   AS cohort_month,
               CAST(date_diff('second', first_view, first_purchase)
                    AS BIGINT) AS delta_s
        FROM firsts
        WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase > first_view
    ),
    per_value AS (
        SELECT cohort_month, delta_s, CAST(count(*) AS BIGINT) AS w
        FROM conv GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_month, delta_s,
               sum(w) OVER (PARTITION BY cohort_month ORDER BY delta_s
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY cohort_month) AS tot
        FROM per_value
    )
    SELECT cohort_month,
           CAST(max(tot) AS BIGINT) AS n_converting,
           CAST(min(delta_s) FILTER (WHERE c * 2 >= tot) AS BIGINT) AS p50_s,
           CAST(min(delta_s) FILTER (WHERE c * 10 >= tot * 9) AS BIGINT)
               AS p90_s
    FROM cum GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Streaming EXACT distinct via bitmap words: the streaming twin of
# bitmap_distinct — per (event_type, word) bitmap state under a file
# stream in complete mode, popcounted in batch afterwards.  Unlike
# streaming_hll_distinct the answer is exact; state is bounded by
# universe/64 words per type, not by user rows.
# ---------------------------------------------------------------------------

def q_streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type maintained as streaming
    bitmap-word state, popcounted after the replay."""
    from sf_datalake_spark.queries_ext import _events_stream
    from sf_datalake_spark.streaming import run_to_memory

    words_stream = (
        _events_stream(spark, sf_dir)
        .select(
            "event_type",
            F.expr("user_id div 64").alias("word"),
            F.expr("shiftleft(1L, cast(user_id % 64 as int))").alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    words = run_to_memory(
        words_stream, "q_streaming_bitmap_distinct", output_mode="complete",
        final_watermark_batch=False,
    )
    return words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(bits)")).cast("bigint").alias("n_distinct"),
        F.count("*").cast("bigint").alias("n_words"),
    )


_STREAMING_BITMAP_SQL = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_words
    FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Seasonal anomaly flags: months whose decomposition residual exceeds
# 2.5 sigma-equivalents of the per-priority residual MAD — composed from
# classical_decomposition + an exact integer MAD (lower median of
# |resid| via the cumulative-count reach test).  The sigma factor
# 1.4826 is carried as the integer inequality 10000*|resid| >
# 37065*MAD (k = 2.5, the usual screening strength) — zero floats
# anywhere.
# ---------------------------------------------------------------------------

def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous (priority, month) revenue points: |residual| >
    2.5 x 1.4826 x MAD of the priority's decomposition residuals."""
    from sf_datalake_spark.operators.timeseries import classical_decomposition

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
            - F.lit(1)
        )
        .cast("int")
        .alias("midx"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    decomp = classical_decomposition(
        monthly, ["o_orderpriority"], "midx", "revenue_cents", period=12
    ).filter(F.col("resid2p").isNotNull())
    # exact lower median of |resid| per priority: distinct-value
    # pre-agg + cumulative reach (the weighted_quantiles discipline)
    per_v = decomp.select(
        "o_orderpriority", F.abs("resid2p").alias("av")
    ).groupBy("o_orderpriority", "av").agg(F.count("*").alias("w"))
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("av")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_key = Window.partitionBy("o_orderpriority")
    mad = (
        per_v.select(
            "o_orderpriority",
            "av",
            F.sum("w").over(w_cum).alias("c"),
            F.sum("w").over(w_key).alias("tot"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.min(
                F.when(F.col("c") * 2 >= F.col("tot"), F.col("av"))
            ).alias("mad2p")
        )
    )
    return (
        decomp.join(F.broadcast(mad), "o_orderpriority")
        .filter(
            F.abs(F.col("resid2p")) * F.lit(10_000)
            > F.lit(37_065) * F.col("mad2p")
        )
        .select(
            "o_orderpriority",
            F.col("idx").alias("midx"),
            F.col("value").alias("revenue_cents"),
            "resid2p",
            "mad2p",
        )
    )


# composed oracle: the decomposition CTE is the seasonal_decomposition
# oracle verbatim (same text, same engine), wrapped with the MAD and
# the integer 2.5x1.4826 threshold
_SEASONAL_ANOMALY_SQL = f"""
    WITH decomp AS ({_SEASONAL_DECOMP_SQL}),
    interior AS (SELECT * FROM decomp WHERE resid2p IS NOT NULL),
    per_v AS (
        SELECT o_orderpriority, abs(resid2p) AS av,
               CAST(count(*) AS BIGINT) AS w
        FROM interior GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, av,
               sum(w) OVER (PARTITION BY o_orderpriority ORDER BY av
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY o_orderpriority) AS tot
        FROM per_v
    ),
    mad AS (
        SELECT o_orderpriority,
               min(av) FILTER (WHERE c * 2 >= tot) AS mad2p
        FROM cum GROUP BY 1
    )
    SELECT i.o_orderpriority, i.midx, i.revenue_cents,
           CAST(i.resid2p AS BIGINT) AS resid2p,
           CAST(m.mad2p AS BIGINT) AS mad2p
    FROM interior i JOIN mad m ON i.o_orderpriority = m.o_orderpriority
    WHERE abs(i.resid2p) * 10000 > 37065 * m.mad2p
"""


# ---------------------------------------------------------------------------
# Trimmed and winsorized means per return flag: order-statistic robust
# location estimates in pure integer arithmetic (k = n div 10 rows off
# each end; winsorizing clamps to the k+1'th / n-k'th values).
# Complements robust_stats (median/MAD) with the trimming family.
# NO per-row sort: everything runs on the (key, value) pre-aggregate —
# a tied value group straddling the trim boundary is trimmed
# partially by count (the multiset definition), and the window state
# is |distinct values| per key, not |rows|.
# ---------------------------------------------------------------------------

def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: 10%-trimmed and 10%-winsorized mean price in
    cents (truncating integer division, documented)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("v"),
    )
    per_value = li.groupBy("l_returnflag", "v").agg(
        F.count("*").alias("w")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_key = Window.partitionBy("l_returnflag")
    cum = per_value.select(
        "l_returnflag",
        "v",
        "w",
        F.sum("w").over(w_cum).alias("c"),
        F.sum("w").over(w_key).alias("n"),
    ).withColumn("k", F.expr("n div 10"))
    # per-value kept weight after trimming k off each end:
    # max(0, min(c, n-k) - max(c-w, k)); winsorized bounds are the
    # first values whose cumulative count reaches k+1 / n-k
    return cum.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.expr(
            "sum(v * greatest(0L, least(c, n - k) - greatest(c - w, k)))"
            " div (max(n) - 2 * max(k))"
        ).alias("trimmed_mean_cents"),
        F.expr(
            "(sum(v * greatest(0L, least(c, n - k) - greatest(c - w, k)))"
            " + min(case when c >= k + 1 then v end) * max(k)"
            " + min(case when c >= n - k then v end) * max(k))"
            " div max(n)"
        ).alias("winsorized_mean_cents"),
    )


_TRIMMED_SQL = """
    WITH per_value AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, v, w,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY l_returnflag) AS n
        FROM per_value
    ),
    with_k AS (SELECT *, n // 10 AS k FROM cum)
    SELECT l_returnflag,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(sum(v * greatest(0, least(c, n - k) - greatest(c - w, k)))
                // (max(n) - 2 * max(k)) AS BIGINT) AS trimmed_mean_cents,
           CAST((sum(v * greatest(0, least(c, n - k) - greatest(c - w, k)))
                 + min(v) FILTER (WHERE c >= k + 1) * max(k)
                 + min(v) FILTER (WHERE c >= n - k) * max(k))
                // max(n) AS BIGINT) AS winsorized_mean_cents
    FROM with_k GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Hierarchical revenue shares (percent-of-parent): nation within
# region, region within total — broadcast dim joins, exact ppm shares.
# ---------------------------------------------------------------------------

def q_hierarchy_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: revenue cents, exact ppm share of its region, and
    the region's ppm share of global revenue."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            )
        )
    )
    return rev.select(
        "r_name",
        "n_name",
        "revenue_cents",
        F.expr(
            "revenue_cents * 1000000L div"
            " sum(revenue_cents) over (partition by r_name)"
        ).alias("nation_share_ppm"),
        F.expr(
            "sum(revenue_cents) over (partition by r_name) * 1000000L"
            " div sum(revenue_cents) over ()"
        ).alias("region_share_ppm"),
    )


_HIERARCHY_SQL = """
    WITH rev AS (
        SELECT r_name, n_name,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    )
    SELECT r_name, n_name, revenue_cents,
           CAST(revenue_cents * 1000000
                // sum(revenue_cents) OVER (PARTITION BY r_name) AS BIGINT)
               AS nation_share_ppm,
           CAST(sum(revenue_cents) OVER (PARTITION BY r_name) * 1000000
                // sum(revenue_cents) OVER () AS BIGINT)
               AS region_share_ppm
    FROM rev
"""


# ---------------------------------------------------------------------------
# Business-day shipping latency: weekdays strictly after the order
# date up to the ship date, via the closed-form business-day counter
# g(d) = 5*(idx div 7) + least(idx mod 7, 4) with idx = days since a
# Monday epoch — pure integer arithmetic, no calendar explode.
# ---------------------------------------------------------------------------

def q_busday_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ship-month: lineitems, total and mean (ppm) business-day
    order->ship latency."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        (
            F.year("l_shipdate") * F.lit(100) + F.month("l_shipdate")
        )
        .cast("int")
        .alias("ship_month"),
        (
            (
                F.lit(5)
                * F.expr(
                    "datediff(l_shipdate, date'1970-01-05') div 7"
                )
                + F.least(
                    F.expr("datediff(l_shipdate, date'1970-01-05') % 7"),
                    F.lit(4),
                )
            )
            - (
                F.lit(5)
                * F.expr(
                    "datediff(o_orderdate, date'1970-01-05') div 7"
                )
                + F.least(
                    F.expr("datediff(o_orderdate, date'1970-01-05') % 7"),
                    F.lit(4),
                )
            )
        )
        .cast("bigint")
        .alias("busdays"),
    )
    return joined.groupBy("ship_month").agg(
        F.count("*").alias("n_items"),
        F.sum("busdays").alias("busdays_total"),
        F.expr("sum(busdays) * 1000000L div count(*)").alias(
            "mean_busdays_ppm"
        ),
    )


_BUSDAY_SQL = """
    WITH j AS (
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
                   AS ship_month,
               CAST((5 * (date_diff('day', DATE '1970-01-05', l_shipdate)
                          // 7)
                     + least(date_diff('day', DATE '1970-01-05',
                                       l_shipdate) % 7, 4))
                    - (5 * (date_diff('day', DATE '1970-01-05',
                                      o_orderdate) // 7)
                       + least(date_diff('day', DATE '1970-01-05',
                                         o_orderdate) % 7, 4))
                    AS BIGINT) AS busdays
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(busdays) AS BIGINT) AS busdays_total,
           CAST(sum(busdays) * 1000000 // count(*) AS BIGINT)
               AS mean_busdays_ppm
    FROM j GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MMR diverse top-k: retrieval diversification — greedy maximal
# marginal relevance over the top-24 cosine candidates to the query
# vector.  Candidate generation (top-N + N^2 pair sims) is
# distributed; the inherently-sequential greedy picks fold in one JVM
# HOF over the collected candidates (operators/similarity.mmr_select).
# All scores are exact integer ppm (round-6 cosines scaled), so the
# selection order is engine-exact against a recursive-CTE oracle.
# ---------------------------------------------------------------------------

_MMR_DEPTH = 24
_MMR_K = 8


def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 diverse documents from the top-24 cosine candidates under
    lambda=1/2 MMR, with selection ranks and relevance ppm."""
    from sf_datalake_spark.operators.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.orderBy("vec_id").limit(1).select(
        F.col("embedding").alias("qv")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

    cand = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "embedding",
            F.round(
                dot(F.col("embedding"), F.col("qv"))
                / (norm(F.col("embedding")) * norm(F.col("qv"))),
                6,
            ).alias("cos6"),
        )
        .orderBy(F.col("cos6").desc(), F.col("vec_id").asc())
        .limit(_MMR_DEPTH)
        .select(
            "vec_id",
            "embedding",
            F.round(F.col("cos6") * 1_000_000).cast("long").alias("rel_ppm"),
        )
    )
    a = cand.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb")
    )
    b = cand.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    sims = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(
                F.round(
                    dot(F.col("a_emb"), F.col("b_emb"))
                    / (norm(F.col("a_emb")) * norm(F.col("b_emb"))),
                    6,
                )
                * 1_000_000
            )
            .cast("long")
            .alias("sim_ppm"),
        )
        .groupBy("a_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("b_id", "sim_ppm"))
            ).alias("sims")
        )
    )
    full = cand.join(sims, cand["vec_id"] == sims["a_id"]).select(
        F.col("vec_id").alias("id"), "rel_ppm", "sims"
    )
    sel = mmr_select(full, _MMR_K)
    return sel.join(full, "id").select(
        "sel_rank", F.col("id").alias("vec_id"), "rel_ppm"
    ).orderBy("sel_rank")


_MMR_SQL = """
    WITH RECURSIVE qv AS (
        SELECT embedding AS v FROM embeddings ORDER BY vec_id LIMIT 1
    ),
    scored AS (
        SELECT vec_id, embedding,
               round(list_inner_product(embedding::DOUBLE[], v::DOUBLE[])
                     / (sqrt(list_inner_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[]))
                        * sqrt(list_inner_product(v::DOUBLE[],
                                                  v::DOUBLE[]))), 6)
                   AS cos6
        FROM embeddings CROSS JOIN qv
    ),
    cand AS (
        SELECT vec_id, embedding,
               CAST(round(cos6 * 1000000) AS BIGINT) AS rel_ppm
        FROM scored ORDER BY cos6 DESC, vec_id ASC LIMIT 24
    ),
    sims AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               CAST(round(round(
                   list_inner_product(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[])
                   / (sqrt(list_inner_product(a.embedding::DOUBLE[],
                                              a.embedding::DOUBLE[]))
                      * sqrt(list_inner_product(b.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]))), 6)
                   * 1000000) AS BIGINT) AS sim_ppm
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    rec AS (
        SELECT 0 AS iter, CAST([] AS BIGINT[]) AS sel
        UNION ALL
        SELECT iter + 1,
               list_append(sel, (
                   SELECT c.vec_id FROM cand c
                   WHERE NOT list_contains(rec.sel, c.vec_id)
                   ORDER BY c.rel_ppm - coalesce((
                       SELECT max(p.sim_ppm) FROM sims p
                       WHERE p.a_id = c.vec_id
                         AND list_contains(rec.sel, p.b_id)), 0)
                       DESC, c.vec_id ASC
                   LIMIT 1))
        FROM rec WHERE iter < 8
    ),
    final AS (
        SELECT unnest(sel) AS vec_id,
               generate_subscripts(sel, 1) AS sel_rank
        FROM rec WHERE iter = 8
    )
    SELECT CAST(f.sel_rank AS INT) AS sel_rank,
           CAST(f.vec_id AS BIGINT) AS vec_id,
           c.rel_ppm
    FROM final f JOIN cand c ON f.vec_id = c.vec_id
    ORDER BY sel_rank
"""


# ---------------------------------------------------------------------------
# Proximity search: documents where 'join' and 'window' occur within 5
# tokens — positional retrieval beyond exact-phrase adjacency
# (queries_mining.q_phrase_search).  Positions come from an indexed
# transform + filter; pair counting and min-distance are nested HOFs
# over the two (short) position lists.  Distances are index
# differences, so the engines' 0- vs 1-based lambda indexes cancel.
# ---------------------------------------------------------------------------

_PROX_A, _PROX_B, _PROX_D = "join", "window", 5


def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with 'join' within 5 tokens of 'window': occurrence
    counts, close-pair count, and the minimum token distance."""
    from sf_datalake_spark.functions.text import tokenize
    from sf_datalake_spark.operators.skew import spread_narrow_scan

    docs = spread_narrow_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", tokenize("text").alias("t"))

    def positions(term):
        return F.filter(
            F.transform(F.col("t"), lambda x, i: F.when(x == term, i)),
            lambda p: p.isNotNull(),
        )

    with_pos = docs.select(
        "doc_id",
        positions(_PROX_A).alias("pa"),
        positions(_PROX_B).alias("pb"),
    )
    big = F.lit(1 << 30)
    n_close = F.aggregate(
        F.col("pa"),
        F.lit(0),
        lambda acc, x: acc
        + F.size(F.filter(F.col("pb"), lambda y: F.abs(x - y) <= _PROX_D)),
    )
    min_dist = F.aggregate(
        F.col("pa"),
        big,
        lambda m, x: F.least(
            m,
            F.aggregate(
                F.col("pb"), big, lambda m2, y: F.least(m2, F.abs(x - y))
            ),
        ),
    )
    return (
        with_pos.select(
            "doc_id",
            F.size("pa").alias("n_a"),
            F.size("pb").alias("n_b"),
            n_close.alias("n_close_pairs"),
            min_dist.alias("min_dist"),
        )
        .filter(F.col("n_close_pairs") > 0)
    )


_PROXIMITY_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               list_filter(list_transform(t, (x, i) ->
                   CASE WHEN x = 'join' THEN i END), p -> p IS NOT NULL)
                   AS pa,
               list_filter(list_transform(t, (x, i) ->
                   CASE WHEN x = 'window' THEN i END), p -> p IS NOT NULL)
                   AS pb
        FROM toks
    )
    SELECT doc_id,
           CAST(len(pa) AS INT) AS n_a,
           CAST(len(pb) AS INT) AS n_b,
           CAST(list_sum(list_transform(pa, x ->
                len(list_filter(pb, y -> abs(x - y) <= 5)))) AS INT)
               AS n_close_pairs,
           CAST(list_min(list_transform(pa, x ->
                list_min(list_transform(pb, y -> abs(x - y))))) AS INT)
               AS min_dist
    FROM pos
    WHERE list_sum(list_transform(pa, x ->
          len(list_filter(pb, y -> abs(x - y) <= 5)))) > 0
"""


# ---------------------------------------------------------------------------
# Token-pair PMI: pointwise mutual information of top-vocabulary token
# co-occurrence (document level) — collocation mining.  Ranked by the
# exact integer ratio N·c_ab·10⁶ div (c_a·c_b) (ln is monotonic, so
# the integer rank IS the PMI rank); the PMI itself is the one float,
# rounded at 6.
# ---------------------------------------------------------------------------

_PMI_VOCAB_K = 50
_PMI_MIN_CAB = 5
_PMI_TOP = 30


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 co-occurring token pairs from the top-50 DF vocabulary
    by PMI (ties by pair), with exact support counts."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
            )
        ).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(_PMI_VOCAB_K)
    )
    vt = toks.join(F.broadcast(vocab.select("token")), "token")
    n_docs = docs.count()  # one scalar, reused as a literal
    a = vt.select(F.col("doc_id"), F.col("token").alias("tok_a"))
    b = vt.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("tok_b"))
    pairs = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("tok_a") < F.col("tok_b")),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_CAB)
    )
    dfs = vt.groupBy("token").agg(F.count("*").alias("c"))
    out = (
        pairs.join(
            F.broadcast(dfs.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(dfs.select(F.col("token").alias("tok_b"), F.col("c").alias("c_b"))),
            "tok_b",
        )
        .select(
            "tok_a",
            "tok_b",
            "c_a",
            "c_b",
            "c_ab",
            F.expr(
                f"c_ab * {n_docs}L * 1000000L div (c_a * c_b)"
            ).alias("ratio_ppm"),
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.lit(float(n_docs))
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(
        F.col("ratio_ppm").desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
    ).limit(_PMI_TOP)


_PMI_SQL = r"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, count(*) AS df FROM toks GROUP BY 1
            ORDER BY df DESC, token ASC LIMIT 50
        )
    ),
    vt AS (SELECT t.doc_id, t.token FROM toks t JOIN vocab USING (token)),
    n AS (SELECT count(*) AS n_docs FROM documents),
    pairs AS (
        SELECT a.token AS tok_a, b.token AS tok_b,
               CAST(count(*) AS BIGINT) AS c_ab
        FROM vt a JOIN vt b
          ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM vt GROUP BY 1)
    SELECT tok_a, tok_b, ca.c AS c_a, cb.c AS c_b, c_ab,
           CAST(c_ab * n_docs * 1000000 // (ca.c * cb.c) AS BIGINT)
               AS ratio_ppm,
           round(ln(CAST(c_ab AS DOUBLE) * n_docs / (ca.c * cb.c)), 6)
               AS pmi
    FROM pairs
    JOIN dfs ca ON ca.token = tok_a
    JOIN dfs cb ON cb.token = tok_b
    CROSS JOIN n
    ORDER BY ratio_ppm DESC, tok_a ASC, tok_b ASC LIMIT 30
"""


# ---------------------------------------------------------------------------
# Wald SPRT: sequential probability ratio test on view->purchase
# conversion per A/B variant (user_id % 2).  Per-observation
# log-likelihood increments are fixed INTEGER milli-nats
# (ln(0.5/0.4) ~= +223, ln(0.5/0.6) ~= -182, documented approximation
# carried identically in both engines), thresholds +-ln(19) ~= +-2944
# milli-nats (alpha = beta = 0.05) — the running LLR is a window
# cumsum and the decision time the first threshold crossing, all
# BIGINT.
# ---------------------------------------------------------------------------

_SPRT_UP, _SPRT_DOWN, _SPRT_BAR = 223, -182, 2944


def q_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per variant: observations, successes, the final LLR milli-nats,
    the SPRT decision, and the first-crossing observation index."""
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    obs = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 DAY")),
            "left",
        )
        .groupBy("view_id", "user_id", "v_ts")
        .agg(F.max(F.col("p_ts").isNotNull().cast("int")).alias("success"))
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"),
            "view_id",
            "v_ts",
            "success",
            F.when(F.col("success") == 1, F.lit(_SPRT_UP))
            .otherwise(F.lit(_SPRT_DOWN))
            .cast("bigint")
            .alias("llr_inc"),
        )
    )
    w_ord = (
        Window.partitionBy("variant")
        .orderBy("v_ts", "view_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = obs.select(
        "variant",
        "success",
        F.row_number()
        .over(Window.partitionBy("variant").orderBy("v_ts", "view_id"))
        .alias("t"),
        F.sum("llr_inc").over(w_ord).alias("llr"),
    )
    # first crossing: its t via a per-variant window, the decision
    # string read AT that t (not a min over all crossing rows' strings)
    w_var = Window.partitionBy("variant")
    flagged = run.withColumn(
        "dt",
        F.min(
            F.when(F.abs(F.col("llr")) >= _SPRT_BAR, F.col("t"))
        ).over(w_var),
    )
    return flagged.groupBy("variant").agg(
        F.count("*").alias("n_obs"),
        F.sum("success").cast("bigint").alias("successes"),
        F.max("dt").alias("decision_t"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("t") == F.col("dt"),
                    F.when(F.col("llr") > 0, F.lit("accept_h1")).otherwise(
                        F.lit("accept_h0")
                    ),
                )
            ),
            F.lit("continue"),
        ).alias("decision"),
    )


_SPRT_SQL = """
    WITH views AS (
        SELECT event_id AS view_id, user_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    purchases AS (
        SELECT user_id AS p_user, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    obs AS (
        SELECT CAST(user_id % 2 AS INT) AS variant, view_id, v_ts,
               max(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS success
        FROM views LEFT JOIN purchases
          ON user_id = p_user AND p_ts > v_ts
         AND p_ts <= v_ts + INTERVAL 1 DAY
        GROUP BY 1, 2, 3
    ),
    run AS (
        SELECT variant, success,
               row_number() OVER (PARTITION BY variant
                                  ORDER BY v_ts, view_id) AS t,
               sum(CASE WHEN success = 1 THEN 223 ELSE -182 END)
                   OVER (PARTITION BY variant ORDER BY v_ts, view_id
                         ROWS UNBOUNDED PRECEDING) AS llr
        FROM obs
    ),
    flagged AS (
        SELECT *,
               min(CASE WHEN abs(llr) >= 2944 THEN t END)
                   OVER (PARTITION BY variant) AS dt
        FROM run
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(success) AS BIGINT) AS successes,
           CAST(max(dt) AS BIGINT) AS decision_t,
           coalesce(max(CASE WHEN t = dt THEN
                        CASE WHEN llr > 0 THEN 'accept_h1'
                             ELSE 'accept_h0' END END), 'continue')
               AS decision
    FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Chi-square test of independence: market segment × order priority.
# Exact-ppm statistic: each cell's (o-e)^2/e is pure IEEE arithmetic on
# exactly-agreed integers (one division, one subtraction, one square,
# one division — no transcendentals), quantized to ppm BEFORE the sum
# so the cross-cell addition is BIGINT and order-free.  The p-value
# uses the closed-form chi-square survival function for EVEN dof
# (dof = 16 here): Q = exp(-h)·Σ_{j<8} h^j/j!, written as one Horner
# chain so both engines evaluate the identical op sequence; the single
# exp is rounded away at 6.  The 5% decision compares the INTEGER
# statistic to the dof-16 critical value 26.296 — no float decides.
# ---------------------------------------------------------------------------


def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market segment × order priority independence test: exact ppm
    chi-square statistic, dof, closed-form p (dof-16 guard), and the
    integer-compared 5% rejection flag."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("o"))
    )
    w_r = Window.partitionBy("c_mktsegment")
    w_c = Window.partitionBy("o_orderpriority")
    w_all = Window.partitionBy()
    with_margins = cells.select(
        "c_mktsegment",
        "o_orderpriority",
        "o",
        F.sum("o").over(w_r).alias("r"),
        F.sum("o").over(w_c).alias("c"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    agg = with_margins.agg(
        F.sum(F.round(term * 1_000_000).cast("bigint")).alias("chi2_ppm"),
        (
            (F.countDistinct("c_mktsegment") - 1)
            * (F.countDistinct("o_orderpriority") - 1)
        )
        .cast("bigint")
        .alias("dof"),
    )
    h = F.col("chi2_ppm").cast("double") / F.lit(2_000_000.0)
    horner = F.lit(1.0)
    for j in range(7, 0, -1):
        horner = F.lit(1.0) + h / F.lit(float(j)) * horner
    return agg.select(
        "chi2_ppm",
        "dof",
        F.when(F.col("dof") == 16, F.round(F.exp(-h) * horner, 6)).alias(
            "p_value"
        ),
        F.when(
            F.col("dof") == 16, (F.col("chi2_ppm") >= 26_296_000).cast("int")
        ).alias("reject_05"),
    )


_CHI2_SQL = """
    WITH cells AS (
        SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT *,
               sum(o) OVER (PARTITION BY c_mktsegment) AS r,
               sum(o) OVER (PARTITION BY o_orderpriority) AS c,
               sum(o) OVER () AS n
        FROM cells
    ),
    agg AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
                   * 1000000) AS BIGINT)) AS BIGINT) AS chi2_ppm,
               CAST((count(DISTINCT c_mktsegment) - 1)
                    * (count(DISTINCT o_orderpriority) - 1) AS BIGINT) AS dof
        FROM m
    )
    SELECT chi2_ppm, dof,
           CASE WHEN dof = 16 THEN round(
               exp(-(CAST(chi2_ppm AS DOUBLE) / 2000000.0))
               * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 1.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 2.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 3.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 4.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 5.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 6.0
                 * (1.0 + (CAST(chi2_ppm AS DOUBLE) / 2000000.0) / 7.0))))))),
               6) END AS p_value,
           CASE WHEN dof = 16 THEN
               CAST(chi2_ppm >= 26296000 AS INT) END AS reject_05
    FROM agg
"""


# ---------------------------------------------------------------------------
# Growth streaks: gaps-and-islands over a DERIVED flag (month-over-month
# revenue increase) — longest and current consecutive-up runs per
# priority, all integer.
# ---------------------------------------------------------------------------


def q_growth_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: number of months, the longest run of
    consecutive month-over-month revenue-cents increases, and the
    length of the run ending at the latest month."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = monthly.select(
        "o_orderpriority",
        "month",
        F.when(F.col("rev") > F.lag("rev").over(w), 1)
        .otherwise(0)
        .alias("up"),
    )
    islands = flagged.select(
        "o_orderpriority",
        "month",
        "up",
        F.sum(1 - F.col("up")).over(w_cum).alias("break_id"),
        F.max("month").over(Window.partitionBy("o_orderpriority")).alias(
            "last_month"
        ),
    )
    runs = (
        islands.filter(F.col("up") == 1)
        .groupBy("o_orderpriority", "break_id")
        .agg(
            F.count("*").alias("run_len"),
            F.max(
                (F.col("month") == F.col("last_month")).cast("int")
            ).alias("is_current"),
        )
    )
    totals = islands.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_months")
    )
    per_prio = runs.groupBy("o_orderpriority").agg(
        F.max("run_len").cast("bigint").alias("longest_up_streak"),
        F.coalesce(
            F.max(F.when(F.col("is_current") == 1, F.col("run_len"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("current_up_streak"),
    )
    return totals.join(per_prio, "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_months",
        F.coalesce("longest_up_streak", F.lit(0)).alias("longest_up_streak"),
        F.coalesce("current_up_streak", F.lit(0)).alias("current_up_streak"),
    )


_GROWTH_STREAKS_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2
    ),
    flagged AS (
        SELECT o_orderpriority, month,
               CASE WHEN rev > lag(rev) OVER (PARTITION BY o_orderpriority
                                              ORDER BY month)
                    THEN 1 ELSE 0 END AS up
        FROM monthly
    ),
    islands AS (
        SELECT o_orderpriority, month, up,
               sum(1 - up) OVER (PARTITION BY o_orderpriority ORDER BY month
                                 ROWS UNBOUNDED PRECEDING) AS break_id,
               max(month) OVER (PARTITION BY o_orderpriority) AS last_month
        FROM flagged
    ),
    runs AS (
        SELECT o_orderpriority, break_id,
               count(*) AS run_len,
               max(CASE WHEN month = last_month THEN 1 ELSE 0 END)
                   AS is_current
        FROM islands WHERE up = 1 GROUP BY 1, 2
    ),
    totals AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_months
        FROM islands GROUP BY 1
    ),
    per_prio AS (
        SELECT o_orderpriority,
               CAST(max(run_len) AS BIGINT) AS longest_up_streak,
               CAST(COALESCE(max(CASE WHEN is_current = 1 THEN run_len END),
                             0) AS BIGINT) AS current_up_streak
        FROM runs GROUP BY 1
    )
    SELECT t.o_orderpriority, t.n_months,
           COALESCE(p.longest_up_streak, 0) AS longest_up_streak,
           COALESCE(p.current_up_streak, 0) AS current_up_streak
    FROM totals t LEFT JOIN per_prio p USING (o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Max drawdown: peak-to-trough revenue decline per priority — running
# max + argmax window, all integer cents.
# ---------------------------------------------------------------------------


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: the deepest peak-to-trough decline of the monthly
    revenue-cents series (running max minus current, maximized), with
    the trough month (earliest on ties)."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = monthly.select(
        "o_orderpriority",
        "month",
        (F.max("rev").over(w_run) - F.col("rev")).alias("drawdown"),
    )
    with_max = dd.withColumn(
        "max_dd",
        F.max("drawdown").over(Window.partitionBy("o_orderpriority")),
    )
    return with_max.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_months"),
        F.max("drawdown").cast("bigint").alias("max_drawdown_cents"),
        F.min(
            F.when(F.col("drawdown") == F.col("max_dd"), F.col("month"))
        )
        .cast("int")
        .alias("trough_month"),
    )


_MAX_DRAWDOWN_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2
    ),
    dd AS (
        SELECT o_orderpriority, month,
               max(rev) OVER (PARTITION BY o_orderpriority ORDER BY month
                              ROWS UNBOUNDED PRECEDING) - rev AS drawdown
        FROM monthly
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
           CAST(min(CASE WHEN drawdown = max_dd THEN month END) AS INT)
               AS trough_month
    FROM (SELECT *, max(drawdown) OVER (PARTITION BY o_orderpriority)
                        AS max_dd
          FROM dd)
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Burstiness: Fano factor (variance-to-mean of daily event counts,
# zero days included via the calendar span) per event type — exact ppm.
# ---------------------------------------------------------------------------


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: observation span (days), total events, exact ppm
    Fano factor F = s²/x̄ over the daily count series (days without
    events count as zero), and the overdispersion flag (F > 1)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("c"))
    agg = daily.groupBy("event_type").agg(
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("bigint")
        .alias("span_days"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    fano = F.expr(
        "(span_days * s2 - s1 * s1) * 1000000L div (s1 * (span_days - 1))"
    )
    return agg.select(
        "event_type",
        "span_days",
        F.col("s1").alias("n_events"),
        F.when(F.col("span_days") > 1, fano).alias("fano_ppm"),
        F.when(F.col("span_days") > 1, (fano > 1_000_000).cast("int")).alias(
            "overdispersed"
        ),
    )


_BURSTINESS_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type,
               CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT)
                   AS span_days,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY 1
    )
    SELECT event_type, span_days, s1 AS n_events,
           CASE WHEN span_days > 1 THEN
               (span_days * s2 - s1 * s1) * 1000000 // (s1 * (span_days - 1))
           END AS fano_ppm,
           CASE WHEN span_days > 1 THEN
               CAST((span_days * s2 - s1 * s1) * 1000000
                    // (s1 * (span_days - 1)) > 1000000 AS INT)
           END AS overdispersed
    FROM agg
"""


# ---------------------------------------------------------------------------
# Two-group log-rank test on the customer-lifetime framing of
# km_survival (BUILDING vs rest, 180-day churn rule): per event time,
# observed vs expected events in group 1 under the null, hypergeometric
# variance — per-term milli-quantized so the sums are BIGINT, the 5%
# decision an INTEGER comparison ((O·10³−E_m)² ≥ 3841·V_m ⇔ χ² ≥
# 3.841), and the reported statistic a single rounded float.
# ---------------------------------------------------------------------------


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank comparison of BUILDING-segment customer lifetimes vs
    all other segments: subjects, observed/expected events (milli),
    variance (milli), the chi-square statistic and the integer-decided
    5% rejection."""
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
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("g"),
            F.datediff("last_o", "first_o").alias("t"),
            (F.datediff("h", "last_o") >= 180).cast("int").alias("ev"),
        )
    )
    per_t = life.groupBy("t").agg(
        F.sum(F.col("ev") * F.col("g")).alias("d1"),
        F.sum("ev").alias("d"),
        F.sum("g").alias("a1"),
        F.count("*").alias("a"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    risk = per_t.select(
        "t",
        "d1",
        "d",
        (F.sum("a1").over(w_all) - F.coalesce(F.sum("a1").over(w), F.lit(0)))
        .alias("n1"),
        (F.sum("a").over(w_all) - F.coalesce(F.sum("a").over(w), F.lit(0)))
        .alias("n"),
        F.sum("a1").over(w_all).alias("n1_total"),
        F.sum("a").over(w_all).alias("n_total"),
    ).filter((F.col("d") > 0) & (F.col("n") > 1))
    terms = risk.select(
        "d1",
        "n1_total",
        "n_total",
        F.expr("d * n1 * 1000L div n").alias("e1_m"),
        # factored divisions keep every intermediate < 1e15 (the naive
        # d·n1·(n−n1)·(n−d)·1000 product overflows int64 past ~SF 1)
        F.expr(
            "(d * n1 * (n - n1) div n) * ((n - d) * 1000L)"
            " div (n * (n - 1))"
        ).alias("v_m"),
    )
    agg = terms.agg(
        F.max("n1_total").cast("bigint").alias("n_group1"),
        (F.max("n_total") - F.max("n1_total")).cast("bigint").alias(
            "n_group0"
        ),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_m").cast("bigint").alias("e1_milli"),
        F.sum("v_m").cast("bigint").alias("v_milli"),
    )
    dev = F.col("o1") * 1000 - F.col("e1_milli")
    return agg.select(
        "n_group1",
        "n_group0",
        "o1",
        "e1_milli",
        "v_milli",
        F.round(
            (dev.cast("double") * dev.cast("double"))
            / (F.lit(1000.0) * F.col("v_milli").cast("double")),
            6,
        ).alias("logrank_stat"),
        (dev * dev >= F.lit(3841) * F.col("v_milli")).cast("int").alias(
            "reject_05"
        ),
    )


_LOGRANK_SQL = """
    WITH life AS (
        SELECT CAST(c_mktsegment = 'BUILDING' AS INT) AS g,
               date_diff('day', first_o, last_o) AS t,
               CAST(date_diff('day', last_o, h) >= 180 AS INT) AS ev
        FROM (SELECT o_custkey, min(o_orderdate) AS first_o,
                     max(o_orderdate) AS last_o
              FROM orders GROUP BY 1) l
        CROSS JOIN (SELECT max(o_orderdate) AS h FROM orders) hz
        JOIN customer ON o_custkey = c_custkey
    ),
    per_t AS (
        SELECT t, CAST(sum(ev * g) AS BIGINT) AS d1,
               CAST(sum(ev) AS BIGINT) AS d,
               CAST(sum(g) AS BIGINT) AS a1,
               CAST(count(*) AS BIGINT) AS a
        FROM life GROUP BY 1
    ),
    risk AS (
        SELECT t, d1, d,
               sum(a1) OVER () - COALESCE(sum(a1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n1,
               sum(a) OVER () - COALESCE(sum(a) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n,
               sum(a1) OVER () AS n1_total,
               sum(a) OVER () AS n_total
        FROM per_t
    ),
    terms AS (
        SELECT d1, n1_total, n_total,
               d * n1 * 1000 // n AS e1_m,
               (d * n1 * (n - n1) // n) * ((n - d) * 1000)
                   // (n * (n - 1)) AS v_m
        FROM risk WHERE d > 0 AND n > 1
    ),
    agg AS (
        SELECT CAST(max(n1_total) AS BIGINT) AS n_group1,
               CAST(max(n_total) - max(n1_total) AS BIGINT) AS n_group0,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(e1_m) AS BIGINT) AS e1_milli,
               CAST(sum(v_m) AS BIGINT) AS v_milli
        FROM terms
    )
    SELECT n_group1, n_group0, o1, e1_milli, v_milli,
           round(CAST((o1 * 1000 - e1_milli) AS DOUBLE)
                 * CAST((o1 * 1000 - e1_milli) AS DOUBLE)
                 / (1000.0 * CAST(v_milli AS DOUBLE)), 6) AS logrank_stat,
           CAST((o1 * 1000 - e1_milli) * (o1 * 1000 - e1_milli)
                >= 3841 * v_milli AS INT) AS reject_05
    FROM agg
"""


# ---------------------------------------------------------------------------
# Difference-in-differences: BUILDING (treated) vs MACHINERY (control)
# mean order value, pre/post 1995-01-01 — cell means milli-quantized,
# the DiD contrast pure integer arithmetic on them.
# ---------------------------------------------------------------------------


def q_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 difference-in-differences on mean order value (milli-cents):
    one row with the four cell means and the DiD contrast."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderdate") >= F.lit("1995-01-01")).cast("int").alias(
            "post"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treated"),
    )
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("treated", "post")
        .agg(F.expr("sum(cents) * 1000L div count(*)").alias("mean_milli"))
    )
    flat = cells.agg(
        F.max(
            F.when((F.col("treated") == 1) & (F.col("post") == 0),
                   F.col("mean_milli"))
        ).alias("treated_pre_milli"),
        F.max(
            F.when((F.col("treated") == 1) & (F.col("post") == 1),
                   F.col("mean_milli"))
        ).alias("treated_post_milli"),
        F.max(
            F.when((F.col("treated") == 0) & (F.col("post") == 0),
                   F.col("mean_milli"))
        ).alias("control_pre_milli"),
        F.max(
            F.when((F.col("treated") == 0) & (F.col("post") == 1),
                   F.col("mean_milli"))
        ).alias("control_post_milli"),
    )
    return flat.select(
        "*",
        (
            (F.col("treated_post_milli") - F.col("treated_pre_milli"))
            - (F.col("control_post_milli") - F.col("control_pre_milli"))
        ).alias("did_milli"),
    )


_DID_SQL = """
    WITH cells AS (
        SELECT CAST(c_mktsegment = 'BUILDING' AS INT) AS treated,
               CAST(o_orderdate >= DATE '1995-01-01' AS INT) AS post,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 1000
                    // count(*) AS BIGINT) AS mean_milli
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1, 2
    )
    SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END)
            AS treated_pre_milli,
        max(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
            AS treated_post_milli,
        max(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END)
            AS control_pre_milli,
        max(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
            AS control_post_milli,
        (max(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
         - max(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END))
        - (max(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
           - max(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END))
            AS did_milli
    FROM cells
"""


# ---------------------------------------------------------------------------
# Stratified exact-matching ATT: BUILDING customers vs others matched
# on (nation, $2000-balance-bucket) strata, outcome = total spend.
# Per-stratum means milli-quantized; the treated-weighted combination
# is pure integer arithmetic; off-support strata dropped (standard
# common-support rule) and counted.
# ---------------------------------------------------------------------------


def q_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the treated (milli-cents of total
    customer spend) under exact stratification, plus support
    accounting."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treated"),
        F.expr(
            "(cast(round(c_acctbal * 100) as bigint) + 10000000) div 200000"
        ).alias("bal_bucket"),
    )
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "spend"
            )
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    strata = spend.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum(F.when(F.col("treated") == 1, F.col("spend"))).alias("s_t"),
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("spend"))).alias("s_c"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias("n_c"),
    )
    supported = strata.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    per = supported.select(
        "n_t",
        (
            F.expr("s_t * 1000L div n_t") - F.expr("s_c * 1000L div n_c")
        ).alias("diff_milli"),
    )
    counts = strata.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum(
            ((F.col("n_t") > 0) & (F.col("n_c") > 0)).cast("bigint")
        ).alias("n_strata_used"),
    )
    att = per.agg(
        F.sum("n_t").cast("bigint").alias("n_treated_used"),
        F.expr("sum(n_t * diff_milli) div sum(n_t)").alias("att_milli"),
    )
    return counts.crossJoin(att)


_STRATIFIED_ATT_SQL = """
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS spend
        FROM orders GROUP BY 1
    ),
    joined AS (
        SELECT s.spend, c.c_nationkey,
               CAST(c.c_mktsegment = 'BUILDING' AS INT) AS treated,
               (CAST(round(c.c_acctbal * 100) AS BIGINT) + 10000000)
                   // 200000 AS bal_bucket
        FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
    ),
    strata AS (
        SELECT c_nationkey, bal_bucket,
               CAST(sum(CASE WHEN treated = 1 THEN spend END) AS BIGINT)
                   AS s_t,
               CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_t,
               CAST(sum(CASE WHEN treated = 0 THEN spend END) AS BIGINT)
                   AS s_c,
               CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_c
        FROM joined GROUP BY 1, 2
    ),
    counts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(CASE WHEN n_t > 0 AND n_c > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_strata_used
        FROM strata
    ),
    att AS (
        SELECT CAST(sum(n_t) AS BIGINT) AS n_treated_used,
               CAST(sum(n_t * (s_t * 1000 // n_t - s_c * 1000 // n_c))
                    // sum(n_t) AS BIGINT) AS att_milli
        FROM strata WHERE n_t > 0 AND n_c > 0
    )
    SELECT counts.n_strata, counts.n_strata_used,
           att.n_treated_used, att.att_milli
    FROM counts CROSS JOIN att
"""


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap CI for the median order value:
# B=20 replicates, per-row Poisson(1) weights from md5 uniforms
# (quantized inverse CDF, documented), replicate medians via the
# exact weighted-quantile operator, CI = replicate min/max (the
# B=20 nearest-rank 2.5%/97.5%).
# ---------------------------------------------------------------------------

_BOOT_B = 20
# cumulative Poisson(1) CDF × 1e6: P(W <= k) for k = 0..6 (k=7 tail)
_POISSON_CUM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point median of customer account balance (cents) plus the
    deterministic Poisson-bootstrap band over 20 md5-seeded replicates
    — resampling as a WEIGHT column (one explode, one weighted-quantile
    pass), never a data copy. Based on the customer table: the
    replicate windows partition by rep only (B-way parallelism), so
    the input is the dimension, not the fact table — bootstrap raw
    1.5M-row facts through 20 full-precision medians and the B-wide
    sort dominates (measured 11.6 s vs 2 s)."""
    from sf_datalake_spark.operators.aggregates import weighted_quantiles

    orders = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_orderkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    cases = " ".join(
        f"when u < {t} then {k}" for k, t in enumerate(_POISSON_CUM)
    )
    reps = orders.select(
        "cents",
        F.explode(
            F.array(*[F.lit(r) for r in range(_BOOT_B)])
        ).alias("rep"),
        "o_orderkey",
    ).withColumn(
        "w",
        F.expr(
            "case "
            + cases.replace(
                "u",
                "(cast(conv(substr(md5(concat(cast(o_orderkey as string),"
                " '_', cast(rep as string), '_boot')), 1, 8), 16, 10)"
                " as bigint) % 1000000)",
            )
            + f" else {len(_POISSON_CUM)} end"
        ),
    ).filter(F.col("w") > 0)
    med = weighted_quantiles(
        reps, ["rep"], "cents", "w", quantiles=((1, 2),)
    ).select("rep", F.col("q_1_2").alias("rep_median"))
    base = weighted_quantiles(
        orders.withColumn("rep", F.lit(-1)).withColumn("w", F.lit(1)),
        ["rep"],
        "cents",
        "w",
        quantiles=((1, 2),),
    ).select(F.col("q_1_2").alias("median_cents"))
    band = med.agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.min("rep_median").cast("bigint").alias("ci_lo_cents"),
        F.max("rep_median").cast("bigint").alias("ci_hi_cents"),
    )
    return base.crossJoin(band).select(
        F.col("median_cents").cast("bigint").alias("median_cents"),
        "n_replicates",
        "ci_lo_cents",
        "ci_hi_cents",
    )


_BOOTSTRAP_SQL = f"""
    WITH base AS (
        SELECT c_custkey AS o_orderkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    reps AS (
        SELECT cents, r.rep,
               CASE {" ".join(
                   f"WHEN CAST(('0x' || substr(md5(o_orderkey::VARCHAR || '_' || rep::VARCHAR || '_boot'), 1, 8))::BIGINT % 1000000 AS BIGINT) < {t} THEN {k}"
                   for k, t in enumerate(_POISSON_CUM))}
               ELSE {len(_POISSON_CUM)} END AS w
        FROM base CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS rep) r
    ),
    per_value AS (
        SELECT rep, cents, CAST(sum(w) AS BIGINT) AS w
        FROM reps WHERE w > 0 GROUP BY 1, 2
    ),
    cum AS (
        SELECT rep, cents,
               sum(w) OVER (PARTITION BY rep ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER (PARTITION BY rep) AS tot
        FROM per_value
    ),
    med AS (
        SELECT rep, min(CASE WHEN c * 2 >= tot THEN cents END) AS rep_median
        FROM cum GROUP BY 1
    ),
    point AS (
        SELECT min(CASE WHEN c * 2 >= tot THEN cents END) AS median_cents
        FROM (SELECT cents,
                     sum(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                         AS c,
                     sum(n) OVER () AS tot
              FROM (SELECT cents, CAST(count(*) AS BIGINT) AS n
                    FROM base GROUP BY 1))
    )
    SELECT CAST(point.median_cents AS BIGINT) AS median_cents,
           CAST(count(*) AS BIGINT) AS n_replicates,
           CAST(min(rep_median) AS BIGINT) AS ci_lo_cents,
           CAST(max(rep_median) AS BIGINT) AS ci_hi_cents
    FROM med CROSS JOIN point
    GROUP BY point.median_cents
"""


# ---------------------------------------------------------------------------
# KL divergence of each day's event-type mix against the global mix —
# the information-theoretic drift monitor next to psi_drift/tv_distance.
# Each of the <=|event types| terms is ONE ln of an exact integer
# ratio, rounded at source to micro-nats; the per-day sum is then a
# BIGINT — no float accumulation crosses the engines.
# ---------------------------------------------------------------------------


def q_kl_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: event count and KL(day mix ‖ global mix) in micro-nats
    (terms rounded at source; zero-count categories contribute 0 by
    the 0·ln0 = 0 convention — the global mix has every category)."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    cell = ev.groupBy("day", "event_type").agg(F.count("*").alias("c"))
    w_day = Window.partitionBy("day")
    w_type = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    terms = cell.select(
        "day",
        "c",
        F.sum("c").over(w_day).alias("n_day"),
        F.sum("c").over(w_type).alias("c_type"),
        F.sum("c").over(w_all).alias("n_all"),
    ).select(
        "day",
        "n_day",
        # KL term: (c/n_day) · ln( (c·n_all) / (n_day·c_type) ),
        # rounded to micro-nats BEFORE summation
        F.round(
            (F.col("c").cast("double") / F.col("n_day").cast("double"))
            * F.log(
                (F.col("c") * F.col("n_all")).cast("double")
                / (F.col("n_day") * F.col("c_type")).cast("double")
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("t"),
    )
    return terms.groupBy("day").agg(
        F.max("n_day").cast("bigint").alias("n_events"),
        F.sum("t").cast("bigint").alias("kl_micro_nats"),
    )


_KL_DAILY_SQL = """
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    terms AS (
        SELECT day,
               sum(c) OVER (PARTITION BY day) AS n_day,
               CAST(round(
                   (CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY day)
                                             AS DOUBLE))
                   * ln(CAST(c * sum(c) OVER () AS DOUBLE)
                        / CAST(sum(c) OVER (PARTITION BY day)
                               * sum(c) OVER (PARTITION BY event_type)
                               AS DOUBLE))
                   * 1000000) AS BIGINT) AS t
        FROM cell
    )
    SELECT day, CAST(max(n_day) AS BIGINT) AS n_events,
           CAST(sum(t) AS BIGINT) AS kl_micro_nats
    FROM terms GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Local-peak detection on the monthly revenue series: strict local
# maxima with an integer prominence floor (>= 105% of the neighbor
# max, cross-multiplied — no float ratio).
# ---------------------------------------------------------------------------


def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: number of monthly revenue peaks (strictly above
    both neighbors AND >= 1.05× the larger neighbor, decided by
    20·rev >= 21·max(neighbors)), the peak months, and the tallest
    peak's month.

    ``peak_months`` is emitted as a comma-joined STRING (sorted
    ascending), not array<int>: the driver's pandas canonicalizer
    cannot hash list cells (r07 red), and every registry output must
    be scalar-typed (see tests/test_registry.py scalar-schema guard).
    """
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    flagged = monthly.select(
        "o_orderpriority",
        "month",
        "rev",
        F.lag("rev").over(w).alias("prev"),
        F.lead("rev").over(w).alias("nxt"),
    ).withColumn(
        "is_peak",
        (
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("rev") * 20 >= F.greatest("prev", "nxt") * 21)
        ).cast("int"),
    )
    peaks = flagged.filter(F.col("is_peak") == 1)
    return (
        flagged.groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_months"))
        .join(
            peaks.groupBy("o_orderpriority").agg(
                F.count("*").cast("bigint").alias("n_peaks"),
                F.sort_array(F.collect_list("month")).alias("peak_months"),
                F.expr("max_by(month, struct(rev, -month))").alias(
                    "tallest_peak_month"
                ),
            ),
            "o_orderpriority",
            "left",
        )
        .select(
            "o_orderpriority",
            "n_months",
            F.coalesce("n_peaks", F.lit(0)).alias("n_peaks"),
            F.coalesce(
                F.concat_ws(",", F.col("peak_months").cast("array<string>")),
                F.lit(""),
            ).alias("peak_months"),
            F.col("tallest_peak_month").cast("int").alias(
                "tallest_peak_month"
            ),
        )
    )


_PEAK_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2
    ),
    flagged AS (
        SELECT *,
               CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                         AND rev * 20 >= greatest(prev, nxt) * 21
                    THEN 1 ELSE 0 END AS is_peak
        FROM (SELECT o_orderpriority, month, rev,
                     lag(rev) OVER (PARTITION BY o_orderpriority
                                    ORDER BY month) AS prev,
                     lead(rev) OVER (PARTITION BY o_orderpriority
                                     ORDER BY month) AS nxt
              FROM monthly)
    ),
    peaks AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_peaks,
               array_to_string(list_sort(list(month)), ',') AS peak_months
        FROM flagged WHERE is_peak = 1 GROUP BY 1
    ),
    tallest AS (
        SELECT o_orderpriority, month AS tallest_peak_month FROM (
            SELECT o_orderpriority, month,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY rev DESC, month ASC) AS rn
            FROM flagged WHERE is_peak = 1
        ) WHERE rn = 1
    )
    SELECT f.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_months,
           COALESCE(max(p.n_peaks), 0) AS n_peaks,
           COALESCE(max(p.peak_months), '') AS peak_months,
           CAST(max(t.tallest_peak_month) AS INT) AS tallest_peak_month
    FROM flagged f
    LEFT JOIN peaks p USING (o_orderpriority)
    LEFT JOIN tallest t USING (o_orderpriority)
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Incremental variance maintenance: (n, Σx, Σx²) moments stored for
# history, a delta batch folded in by pure addition, variance derived
# from the MERGED moments — the parallel/incremental variance rule
# (sum-form of Chan et al.). The oracle computes from the full table
# in one shot: hash equality proves the merge is lossless.  Values
# quantized to KILO-dollars so n·Σx² stays inside int64 through the
# ×8 scale probe and ~SF 10 (documented — coarser units are the
# correct knob for the exact-integer moment path; beyond that, the
# mergeable property is identical in DECIMAL(38)).
# ---------------------------------------------------------------------------


def q_incremental_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: count, milli-mean and milli-sample-variance of
    order value in kilo-dollars, computed by MERGING pre-1997 stored
    moments with the 1997+ delta batch — never rescanning history."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            "cast(round(o_totalprice) as bigint) div 1000"
        ).alias("h"),
        (F.col("o_orderdate") < F.lit("1997-01-01")).alias("is_hist"),
    )

    def moments(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum("h").alias("s1"),
            F.sum(F.col("h") * F.col("h")).alias("s2"),
        )

    hist = moments(orders.filter(F.col("is_hist")))
    delta = moments(orders.filter(~F.col("is_hist")))
    merged = (
        hist.alias("a")
        .join(delta.alias("b"), "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            *[
                (
                    F.coalesce(F.col(f"a.{c}"), F.lit(0))
                    + F.coalesce(F.col(f"b.{c}"), F.lit(0))
                ).alias(c)
                for c in ("n", "s1", "s2")
            ],
        )
    )
    return merged.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        F.expr("s1 * 1000L div n").alias("mean_kilo_milli"),
        F.when(
            F.col("n") > 1,
            F.expr("(n * s2 - s1 * s1) * 1000L div (n * (n - 1))"),
        ).alias("var_kilo2_milli"),
    )


_INCR_VARIANCE_SQL = """
    WITH m AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT) // 1000)
                    AS BIGINT) AS s1,
               CAST(sum((CAST(round(o_totalprice) AS BIGINT) // 1000)
                        * (CAST(round(o_totalprice) AS BIGINT) // 1000))
                    AS BIGINT) AS s2
        FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, n,
           CAST(s1 * 1000 // n AS BIGINT) AS mean_kilo_milli,
           CASE WHEN n > 1 THEN
               CAST((n * s2 - s1 * s1) * 1000 // (n * (n - 1)) AS BIGINT)
           END AS var_kilo2_milli
    FROM m
"""


# ---------------------------------------------------------------------------
# Median of medians: per-customer median order value, then the median
# of those medians per segment — nested exact quantiles, both levels
# nearest-rank-lower with total tie orders.
# ---------------------------------------------------------------------------


def q_median_of_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: customers with orders, and the median of
    per-customer median order values (cents) — the robust two-level
    location estimate (per-entity median kills within-entity outliers,
    the cross-entity median kills entity outliers)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w_c = Window.partitionBy("o_custkey").orderBy("cents", "o_orderkey")
    w_cn = Window.partitionBy("o_custkey")
    per_cust = (
        orders.select(
            "o_custkey",
            "cents",
            F.row_number().over(w_c).alias("rn"),
            F.count("*").over(w_cn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("o_custkey", F.col("cents").alias("cust_median"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    w_s = Window.partitionBy("c_mktsegment").orderBy(
        "cust_median", "o_custkey"
    )
    w_sn = Window.partitionBy("c_mktsegment")
    return (
        per_cust.select(
            "c_mktsegment",
            "cust_median",
            F.row_number().over(w_s).alias("rn"),
            F.count("*").over(w_sn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "c_mktsegment",
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("cust_median").alias("median_of_medians_cents"),
        )
    )


_MEDIAN_OF_MEDIANS_SQL = """
    WITH per_cust AS (
        SELECT o_custkey, cents AS cust_median FROM (
            SELECT o_custkey, cents,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY cents, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_custkey) AS n
            FROM (SELECT o_custkey, o_orderkey,
                         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                  FROM orders)
        ) WHERE rn = (n + 1) // 2
    ),
    seg AS (
        SELECT c_mktsegment, cust_median, o_custkey
        FROM per_cust JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment,
           CAST(max(n) AS BIGINT) AS n_customers,
           max(CASE WHEN rn = (n + 1) // 2 THEN cust_median END)
               AS median_of_medians_cents
    FROM (SELECT c_mktsegment, cust_median,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY cust_median, o_custkey) AS rn,
                 count(*) OVER (PARTITION BY c_mktsegment) AS n
          FROM seg)
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Volume guardrail: day-over-day event volume change in exact ppm with
# a ±50% alarm — the first data-quality gate every ingest pipeline
# wants, kept engine-exact (integer change ppm, integer compare).
# ---------------------------------------------------------------------------


def q_volume_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: row count, signed day-over-day change ppm
    against the prior observed day, and the |change| > 50% alarm."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("day")
    flagged = daily.select(
        "day",
        F.col("n").cast("bigint").alias("n_rows"),
        F.lag("n").over(w).alias("prev"),
    )
    change = F.expr("(n_rows - prev) * 1000000L div prev")
    return flagged.select(
        "day",
        "n_rows",
        F.when(F.col("prev").isNotNull(), change).alias("change_ppm"),
        F.when(
            F.col("prev").isNotNull(),
            (F.abs(change) > 500_000).cast("int"),
        ).alias("volume_alarm"),
    )


_VOLUME_GUARDRAIL_SQL = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY 1
    ),
    flagged AS (
        SELECT day, n_rows,
               lag(n_rows) OVER (ORDER BY day) AS prev
        FROM daily
    )
    SELECT day, n_rows,
           CASE WHEN prev IS NOT NULL THEN
               CAST((n_rows - prev) * 1000000 // prev AS BIGINT)
           END AS change_ppm,
           CASE WHEN prev IS NOT NULL THEN
               CAST(abs((n_rows - prev) * 1000000 // prev) > 500000 AS INT)
           END AS volume_alarm
    FROM flagged
"""


# ---------------------------------------------------------------------------
# Out-of-orderness diagnostic: how late do events arrive relative to
# arrival order (event_id as the arrival sequence)? The lateness
# profile is THE input to watermark sizing — a "10 minutes" watermark
# is a claim about exactly this distribution.
# ---------------------------------------------------------------------------


def q_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: events, how many arrived LATE (event time behind
    the running event-time max in arrival order), the worst lateness
    in seconds, and the late share ppm."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = (
        Window.partitionBy("day")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "day",
        "us",
        F.max("us").over(w).alias("run_max"),
    ).select(
        "day",
        F.when(
            F.col("run_max").isNotNull() & (F.col("us") < F.col("run_max")),
            F.col("run_max") - F.col("us"),
        ).alias("late_us"),
    )
    return flagged.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("late_us").isNotNull()).cast("bigint")).alias("n_late"),
        F.coalesce(
            F.expr("max(late_us) div 1000000"), F.lit(0)
        ).cast("bigint").alias("max_lateness_s"),
        F.expr(
            "sum(case when late_us is not null then 1 else 0 end)"
            " * 1000000L div count(*)"
        ).alias("late_ppm"),
    )


_OUT_OF_ORDER_SQL = """
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(epoch_us(ts) AS BIGINT) AS us, event_id
        FROM events
    ),
    flagged AS (
        SELECT day,
               CASE WHEN run_max IS NOT NULL AND us < run_max
                    THEN run_max - us END AS late_us
        FROM (SELECT day, us,
                     max(us) OVER (PARTITION BY day ORDER BY event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS run_max
              FROM ev)
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(COALESCE(max(late_us) // 1000000, 0) AS BIGINT)
               AS max_lateness_s,
           CAST(sum(CASE WHEN late_us IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS late_ppm
    FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-nation mean balances toward the
# global mean with weight n/(n+λ) — the smoothing every per-group
# estimate (target encoding, small-cell rates) should get; exact
# integer blend of milli-quantized means.
# ---------------------------------------------------------------------------

_EB_LAMBDA = 50


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: raw mean balance (milli-cents), the λ=50 shrunk
    mean (n·raw + λ·global) div (n+λ), and the shrink weight in ppm."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    per_n = cust.groupBy("c_nationkey").agg(
        F.count("*").alias("n"), F.sum("cents").alias("s")
    )
    w_all = Window.partitionBy()
    with_g = per_n.select(
        "c_nationkey",
        "n",
        F.expr("s * 1000L div n").alias("raw_milli"),
        F.expr(
            "sum(s) over () * 1000L div sum(n) over ()"
        ).alias("global_milli"),
    )
    return with_g.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        "raw_milli",
        F.expr(
            f"(n * raw_milli + {_EB_LAMBDA}L * global_milli)"
            f" div (n + {_EB_LAMBDA})"
        ).alias("shrunk_milli"),
        F.expr(f"n * 1000000L div (n + {_EB_LAMBDA})").alias("weight_ppm"),
    )


_EB_SHRINKAGE_SQL = f"""
    WITH per_n AS (
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS s
        FROM customer GROUP BY 1
    ),
    with_g AS (
        SELECT c_nationkey, n,
               s * 1000 // n AS raw_milli,
               sum(s) OVER () * 1000 // sum(n) OVER () AS global_milli
        FROM per_n
    )
    SELECT c_nationkey, n AS n_customers,
           CAST(raw_milli AS BIGINT) AS raw_milli,
           CAST((n * raw_milli + {_EB_LAMBDA} * global_milli)
                // (n + {_EB_LAMBDA}) AS BIGINT) AS shrunk_milli,
           CAST(n * 1000000 // (n + {_EB_LAMBDA}) AS BIGINT) AS weight_ppm
    FROM with_g
"""


# ---------------------------------------------------------------------------
# Debounce: suppress repeat events of the same (user, type) within a
# 10-minute burst (keep the burst's FIRST event) — gaps-and-islands on
# the inter-arrival gap; reports kept/dropped per type.
# ---------------------------------------------------------------------------


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: events kept after 10-minute same-(user, type)
    debouncing, events dropped, and the drop share ppm."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts",
                                            "event_id")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    flagged = ev.select(
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= 600 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    return flagged.groupBy("event_type").agg(
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.sum(1 - F.col("keep")).cast("bigint").alias("n_dropped"),
        F.expr(
            "sum(1 - keep) * 1000000L div count(*)"
        ).alias("drop_ppm"),
    )


_DEBOUNCE_SQL = """
    WITH flagged AS (
        SELECT event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        >= 600 * 1000000::BIGINT
                    THEN 1 ELSE 0 END AS keep
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(1 - keep) AS BIGINT) AS n_dropped,
           CAST(sum(1 - keep) * 1000000 // count(*) AS BIGINT) AS drop_ppm
    FROM flagged GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Haar wavelet energy of the monthly revenue series (3 dyadic levels):
# pair-difference details computed by (rank div 2) self-grouping —
# exact kilo-dollar integers, energy = Σ detail² per level. The
# multi-resolution twin of the seasonal/trend decompositions: energy
# concentrated at level 1 = month-to-month noise, at level 3 =
# quarter-scale structure.
# ---------------------------------------------------------------------------


def q_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per priority: Haar detail energy at dyadic levels 1-3 of the
    monthly revenue series in kilo-dollars (odd tail months dropped
    per level, the standard truncation)."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("month"),
    ).agg(
        F.expr(
            "sum(cast(round(o_totalprice) as bigint)) div 1000"
        ).alias("v")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    lvl = monthly.select(
        "o_orderpriority",
        "month",
        "v",
        (F.row_number().over(w) - 1).alias("idx"),
    )
    out = None
    cur = lvl
    for level in (1, 2, 3):
        paired = cur.groupBy(
            "o_orderpriority", F.expr("idx div 2").alias("pidx")
        ).agg(
            F.count("*").alias("k"),
            F.min(F.struct("idx", "v")).alias("lo"),
            F.max(F.struct("idx", "v")).alias("hi"),
        ).filter(F.col("k") == 2)
        details = paired.select(
            "o_orderpriority",
            F.col("pidx").alias("idx"),
            (F.col("lo.v") + F.col("hi.v")).alias("v"),  # 2×average carry
            (F.col("lo.v") - F.col("hi.v")).alias("d"),
        )
        energy = details.groupBy("o_orderpriority").agg(
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias(
                f"energy_l{level}"
            )
        )
        out = energy if out is None else out.join(
            energy, "o_orderpriority", "left"
        )
        cur = details.select("o_orderpriority", "idx", "v")
    return out


_WAVELET_SQL = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) // 1000
                    AS BIGINT) AS v
        FROM orders GROUP BY 1, 2
    ),
    l0 AS (
        SELECT o_orderpriority, v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY month) - 1 AS idx
        FROM monthly
    ),
    p1 AS (
        SELECT o_orderpriority, idx // 2 AS idx,
               min(CASE WHEN idx % 2 = 0 THEN v END)
                   + min(CASE WHEN idx % 2 = 1 THEN v END) AS v,
               min(CASE WHEN idx % 2 = 0 THEN v END)
                   - min(CASE WHEN idx % 2 = 1 THEN v END) AS d
        FROM l0 GROUP BY 1, 2 HAVING count(*) = 2
    ),
    p2 AS (
        SELECT o_orderpriority, idx // 2 AS idx,
               min(CASE WHEN idx % 2 = 0 THEN v END)
                   + min(CASE WHEN idx % 2 = 1 THEN v END) AS v,
               min(CASE WHEN idx % 2 = 0 THEN v END)
                   - min(CASE WHEN idx % 2 = 1 THEN v END) AS d
        FROM p1 GROUP BY 1, 2 HAVING count(*) = 2
    ),
    p3 AS (
        SELECT o_orderpriority, idx // 2 AS idx,
               min(CASE WHEN idx % 2 = 0 THEN v END)
                   - min(CASE WHEN idx % 2 = 1 THEN v END) AS d
        FROM p2 GROUP BY 1, 2 HAVING count(*) = 2
    )
    SELECT e1.o_orderpriority,
           e1.energy_l1, e2.energy_l2, e3.energy_l3
    FROM (SELECT o_orderpriority, CAST(sum(d * d) AS BIGINT) AS energy_l1
          FROM p1 GROUP BY 1) e1
    LEFT JOIN (SELECT o_orderpriority,
                      CAST(sum(d * d) AS BIGINT) AS energy_l2
               FROM p2 GROUP BY 1) e2 USING (o_orderpriority)
    LEFT JOIN (SELECT o_orderpriority,
                      CAST(sum(d * d) AS BIGINT) AS energy_l3
               FROM p3 GROUP BY 1) e3 USING (o_orderpriority)
"""


# ---------------------------------------------------------------------------
# First-order Markov removal-effect attribution (round 6): the
# data-driven attribution model the positional family can't express —
# a channel's credit is how much journey-graph conversion probability
# drops when the channel is removed.  All-integer fixed-point
# absorption (operators/attribution.py), so the oracle replays the 40
# iteration rounds bit-for-bit in a recursive CTE.
# ---------------------------------------------------------------------------

def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per touch channel: base conversion ppm (identical across rows),
    removal-effect ppm, and the normalized attribution share ppm."""
    from sf_datalake_spark.operators.attribution import (
        markov_removal_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    return markov_removal_attribution(
        ev, touch_states=["view", "click", "signup", "error"]
    )


_MARKOV_SQL = """
WITH RECURSIVE ordered AS (
    SELECT user_id, event_id, ts, event_type,
           COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS journey,
           CASE WHEN event_type = 'purchase' THEN 'conv'
                ELSE event_type END AS state
    FROM events
),
st AS (
    SELECT *, COALESCE(lag(state) OVER (PARTITION BY user_id, journey
                                        ORDER BY ts, event_id), 'start')
              AS prev
    FROM ordered
),
last_state AS (
    SELECT s AS src, 'null' AS dst FROM (
        SELECT user_id, journey,
               max(ROW(ts, event_id, state))[3] AS s
        FROM st GROUP BY 1, 2
    ) WHERE s <> 'conv'
),
trans AS (
    SELECT prev AS src, state AS dst FROM st
    UNION ALL
    SELECT src, dst FROM last_state
),
cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY 1, 2),
outd AS (SELECT src, CAST(sum(n) AS BIGINT) AS o FROM cnt GROUP BY 1),
chans AS (
    SELECT * FROM (VALUES ('__none__'), ('click'), ('error'),
                          ('signup'), ('view')) t(removed)
),
states AS (
    SELECT * FROM (VALUES ('start'), ('click'), ('error'),
                          ('signup'), ('view')) t(s)
),
iter AS (
    SELECT removed, s, 0 AS it, CAST(0 AS BIGINT) AS v
    FROM chans, states
    UNION ALL
    SELECT c.removed, c.s, c.it + 1,
           CASE WHEN c.s = c.removed THEN 0 ELSE c.nv END AS v
    FROM (
        SELECT i.removed, st2.s, i.it,
               CASE WHEN COALESCE(o.o, 0) = 0 THEN CAST(0 AS BIGINT)
                    ELSE COALESCE(CAST(sum(
                        cn.n * (CASE
                                  WHEN cn.dst = i.removed THEN 0
                                  WHEN cn.dst = 'conv' THEN 1000000
                                  WHEN cn.dst = 'null' THEN 0
                                  ELSE iv.v END)
                    ) AS BIGINT), 0) // o.o END AS nv
        FROM (SELECT DISTINCT removed, it FROM iter WHERE it < 40) i
        CROSS JOIN states st2
        LEFT JOIN outd o ON o.src = st2.s
        LEFT JOIN cnt cn ON cn.src = st2.s
        LEFT JOIN iter iv ON iv.removed = i.removed AND iv.it = i.it
                         AND iv.s = cn.dst
        GROUP BY i.removed, st2.s, i.it, o.o
    ) c
),
finals AS (
    SELECT removed, v FROM iter WHERE it = 40 AND s = 'start'
),
base AS (SELECT v AS bv FROM finals WHERE removed = '__none__'),
eff AS (
    SELECT f.removed AS channel,
           CASE WHEN b.bv = 0 THEN 0
                ELSE ((b.bv - f.v) * 1000000) // b.bv END AS e
    FROM finals f, base b WHERE f.removed <> '__none__'
)
SELECT channel,
       CAST(b.bv AS BIGINT) AS base_conv_ppm,
       CAST(e AS BIGINT) AS removal_effect_ppm,
       CAST(CASE WHEN t.te = 0 THEN 0 ELSE (e * 1000000) // t.te END AS BIGINT)
           AS share_ppm
FROM eff, base b, (SELECT sum(e) AS te FROM eff) t
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Exact Shapley-value attribution (round 6): completes the attribution
# family (linear / position / decay / markov) with the coalition-game
# model — all-integer, so the oracle enumerates the same 2^k channel
# subsets and factorial weights.
# ---------------------------------------------------------------------------

def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per touch channel: Shapley value x k! (conversion-count units)
    and the normalized attribution share ppm."""
    from sf_datalake_spark.operators.attribution import shapley_attribution

    ev = _t(spark, sf_dir, "events")
    return shapley_attribution(
        ev, touch_states=["view", "click", "signup", "error"]
    )


_SHAPLEY_SQL = """
WITH ordered AS (
    SELECT user_id, event_id, ts, event_type,
           COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS journey
    FROM events
),
j AS (
    SELECT user_id, journey,
           bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                  WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS mask,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM ordered GROUP BY 1, 2
),
cm AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS c FROM j GROUP BY 1),
masks AS (SELECT range AS m FROM range(16)),
v AS (
    SELECT m.m, COALESCE(CAST(sum(cm.c) AS BIGINT), 0) AS v
    FROM masks m LEFT JOIN cm ON (cm.mask & (15 - m.m)) = 0
    GROUP BY 1
),
chan AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
                               ('signup', 4), ('view', 8)) t(channel, b)),
phi AS (
    SELECT c.channel,
           CAST(sum((CASE bit_count(s.m) WHEN 0 THEN 6 WHEN 1 THEN 2
                     WHEN 2 THEN 2 ELSE 6 END) * (v1.v - v0.v))
                AS BIGINT) AS phi_x_kfact
    FROM chan c
    JOIN masks s ON (s.m & c.b) = 0
    JOIN v v0 ON v0.m = s.m
    JOIN v v1 ON v1.m = (s.m | c.b)
    GROUP BY 1
)
SELECT channel, phi_x_kfact,
       CAST(CASE WHEN t.tot = 0 THEN 0
            ELSE (phi_x_kfact * 1000000) // t.tot END AS BIGINT) AS share_ppm
FROM phi, (SELECT sum(phi_x_kfact) AS tot FROM phi) t
ORDER BY channel
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "pettitt_changepoint": (q_pettitt_changepoint, _PETTITT_SQL),
    "weighted_median": (q_weighted_median, _WEIGHTED_MEDIAN_SQL),
    "bitmap_distinct": (q_bitmap_distinct, _BITMAP_DISTINCT_SQL),
    "decay_attribution": (q_decay_attribution, _DECAY_ATTRIBUTION_SQL),
    "nelson_aalen": (q_nelson_aalen, _NELSON_AALEN_SQL),
    "vocab_coverage": (q_vocab_coverage, _VOCAB_COVERAGE_SQL),
    "rrf_fusion": (q_rrf_fusion, _RRF_FUSION_SQL),
    "containment_screen": (q_containment_screen, _CONTAINMENT_SQL),
    "readability_scores": (q_readability_scores, _READABILITY_SQL),
    "seasonal_decomposition": (q_seasonal_decomposition, _SEASONAL_DECOMP_SQL),
    "time_to_convert": (q_time_to_convert, _TIME_TO_CONVERT_SQL),
    "streaming_bitmap_distinct": (q_streaming_bitmap_distinct, _STREAMING_BITMAP_SQL),
    "seasonal_anomaly": (q_seasonal_anomaly, _SEASONAL_ANOMALY_SQL),
    "trimmed_stats": (q_trimmed_stats, _TRIMMED_SQL),
    "hierarchy_shares": (q_hierarchy_shares, _HIERARCHY_SQL),
    "busday_latency": (q_busday_latency, _BUSDAY_SQL),
    "mmr_diverse_topk": (q_mmr_diverse_topk, _MMR_SQL),
    "proximity_search": (q_proximity_search, _PROXIMITY_SQL),
    "token_pmi": (q_token_pmi, _PMI_SQL),
    "sprt_decision": (q_sprt_decision, _SPRT_SQL),
    "chi_square_independence": (q_chi_square_independence, _CHI2_SQL),
    "growth_streaks": (q_growth_streaks, _GROWTH_STREAKS_SQL),
    "max_drawdown": (q_max_drawdown, _MAX_DRAWDOWN_SQL),
    "burstiness": (q_burstiness, _BURSTINESS_SQL),
    "logrank_test": (q_logrank_test, _LOGRANK_SQL),
    "did_estimate": (q_did_estimate, _DID_SQL),
    "stratified_att": (q_stratified_att, _STRATIFIED_ATT_SQL),
    "bootstrap_ci": (q_bootstrap_ci, _BOOTSTRAP_SQL),
    "kl_daily_mix": (q_kl_daily_mix, _KL_DAILY_SQL),
    "peak_detection": (q_peak_detection, _PEAK_SQL),
    "incremental_variance": (q_incremental_variance, _INCR_VARIANCE_SQL),
    "median_of_medians": (q_median_of_medians, _MEDIAN_OF_MEDIANS_SQL),
    "volume_guardrail": (q_volume_guardrail, _VOLUME_GUARDRAIL_SQL),
    "out_of_order_stats": (q_out_of_order_stats, _OUT_OF_ORDER_SQL),
    "eb_shrinkage": (q_eb_shrinkage, _EB_SHRINKAGE_SQL),
    "debounce_events": (q_debounce_events, _DEBOUNCE_SQL),
    "wavelet_energy": (q_wavelet_energy, _WAVELET_SQL),
    "markov_attribution": (q_markov_attribution, _MARKOV_SQL),
    "shapley_attribution": (q_shapley_attribution, _SHAPLEY_SQL),
}
