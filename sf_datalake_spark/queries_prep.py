"""Feature-prep / privacy-release batch (round 4c, beyond the
reference): hashing-trick text scoring, quantile normalization,
sliding exact-distinct windows, k-anonymity auditing, and
deterministic Laplace-noised counts.

Conventions follow ``queries.py``: identical column aliases in both
engines; money in integer cents, shares in ppm, hash weights in
integers; the only floats crossing the engine boundary are a single
``ln`` rounded at 6 (dp_noisy_counts) — everything else is BIGINT.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t


# ---------------------------------------------------------------------------
# Feature hashing: md5-weight linear score per document
# ---------------------------------------------------------------------------


def q_feature_hash_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: whitespace token count, hashing-trick linear score
    (functions/text.feature_hash_score — scan-stage JVM HOFs, zero
    joins), and the sign prediction. Empty documents score 0."""
    from sf_datalake_spark.functions.text import (
        feature_hash_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        feature_hash_score("text").alias("fh_score"),
        (feature_hash_score("text") > 0).cast("int").alias("fh_pred"),
    )


_FEATURE_HASH_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '\s+')) AS tok
        FROM documents
    ),
    w AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(
                   CAST(('0x' || substr(md5(tok || 'fh'), 1, 8))::BIGINT
                        % 2001 AS BIGINT) - 1000
               ) AS BIGINT) AS fh_score
        FROM toks WHERE tok <> '' GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(w.n_tokens, 0) AS n_tokens,
           COALESCE(w.fh_score, 0) AS fh_score,
           CAST(COALESCE(w.fh_score, 0) > 0 AS INT) AS fh_pred
    FROM documents d LEFT JOIN w USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Quantile normalization of order prices across priority groups
# ---------------------------------------------------------------------------


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's price mapped onto the POOLED price distribution at
    its within-priority quantile position (nearest-rank) — quantile
    normalization via the per-value histogram + exploded rank table,
    never a global row sort (operators/aggregates.quantile_normalize)."""
    from sf_datalake_spark.operators.aggregates import quantile_normalize

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    return quantile_normalize(
        base, ["prio"], "cents", "o_orderkey", out_col="norm_cents"
    )


_QUANTILE_NORMALIZE_SQL = """
    WITH base AS (
        SELECT o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY prio
                                  ORDER BY cents, o_orderkey) AS rg,
               count(*) OVER (PARTITION BY prio) AS ng,
               count(*) OVER () AS n
        FROM base
    ),
    pooled AS (
        SELECT cents AS norm_cents,
               row_number() OVER (ORDER BY cents, o_orderkey) AS p
        FROM base
    )
    SELECT r.prio, r.cents, r.o_orderkey, pooled.norm_cents
    FROM (SELECT *, (rg * n + ng - 1) // ng AS p FROM ranked) r
    JOIN pooled USING (p)
"""


# ---------------------------------------------------------------------------
# Sliding exact distinct: trailing-7-day distinct users per day
# ---------------------------------------------------------------------------


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event day: EXACT distinct users over the trailing 7 days,
    via bitmap words replicated to the windows they serve
    (operators/sketches.sliding_bitmap_distinct) — rows are scanned
    once; the oracle's range join rescans events per window."""
    from sf_datalake_spark.operators.sketches import sliding_bitmap_distinct

    ev = _t(spark, sf_dir, "events")
    return sliding_bitmap_distinct(ev, F.to_date("ts"), "user_id", 7)


_SLIDING_DISTINCT_SQL = """
    WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM ev)
    SELECT days.d AS window_day,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT e.user_id // 64) AS BIGINT) AS n_words
    FROM days JOIN ev e ON e.d BETWEEN days.d - 6 AND days.d
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# k-anonymity audit over (segment, balance-bucket) per nation
# ---------------------------------------------------------------------------

_KANON_K = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: k=5 anonymity audit of the (market segment,
    $1000-balance-bucket) quasi-identifier — classes, unsafe classes,
    rows needing suppression, exact ppm suppression rate
    (operators/privacy.k_anonymity_audit). Buckets shift cents by
    +$100k so truncating division equals floor for negative balances."""
    from sf_datalake_spark.operators.privacy import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "(cast(round(c_acctbal * 100) as bigint) + 10000000) div 100000"
        ).alias("bal_bucket"),
    )
    return k_anonymity_audit(
        cust, ["c_mktsegment", "bal_bucket"], _KANON_K, by=["c_nationkey"]
    )


_KANON_SQL = f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000
                   AS bal_bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unsafe_classes,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
               AS rows_unsafe,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END)
                * 1000000 // sum(n) AS BIGINT) AS suppress_ppm
    FROM classes GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Laplace-noised counts per order priority (deterministic noise — see
# operators/privacy.py for the mechanism-vs-guarantee caveat)
# ---------------------------------------------------------------------------


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per priority released through the Laplace mechanism
    (scale b = 20 ⇒ ε = 0.05 for a count), noise derived from md5 of
    the group key so the release is engine-reproducible
    (operators/privacy.laplace_noisy_counts)."""
    from sf_datalake_spark.operators.privacy import laplace_noisy_counts

    orders = _t(spark, sf_dir, "orders")
    return laplace_noisy_counts(orders, ["o_orderpriority"], 20.0, "dp")


_DP_SQL = """
    WITH agg AS (
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS true_n
        FROM orders GROUP BY 1
    ),
    nz AS (
        SELECT *,
               (CAST(('0x' || substr(md5(o_orderpriority || 'dp'), 1, 8))
                     ::BIGINT % 1000000 AS BIGINT) + 0.5) / 1000000.0 AS u
        FROM agg
    )
    SELECT o_orderpriority, true_n,
           round(true_n + (-20.0 * sign(u - 0.5)
                           * ln(1 - 2 * abs(u - 0.5))), 6) AS noisy_n
    FROM nz
"""


# ---------------------------------------------------------------------------
# Exact integer Gram matrix of the embedding corpus
# ---------------------------------------------------------------------------


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle X^T X of the micro-quantized embedding corpus
    (operators/similarity.gram_matrix_int): per-partition BLAS
    accumulation, D^2-cell merge — rows touched once, shuffle carries
    kilobytes. The integer quantization is what keeps a distributed
    X^T X reproducible (float partial sums are partitioning-dependent)."""
    from sf_datalake_spark.operators.similarity import gram_matrix_int

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix_int(emb, "embedding", 1_000_000)


_EMBEDDING_GRAM_SQL = """
    WITH q AS (
        SELECT list_transform(
                   embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
               ) AS v
        FROM embeddings
    )
    SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
           CAST(sum(v[i.i] * v[j.j]) AS BIGINT) AS gram
    FROM q, generate_series(1, 64) i(i), generate_series(1, 64) j(j)
    WHERE j.j >= i.i
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Grid-density clustering of the embedding corpus (DBSCAN-on-grid)
# ---------------------------------------------------------------------------

_GDC_CELL = 100_000  # 0.1 in micro-units
_GDC_MINPTS = 5


def q_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding labeled with its grid-density cluster over the
    first two dimensions (cells of 0.1, core = ≥5 rows, clusters =
    connected core cells) or -1 noise
    (operators/clustering.grid_density_clusters). The oracle computes
    the same cells and takes the transitive closure of the core-cell
    adjacency in a recursive CTE — cell-sized, so closure is fine
    there and the engine side still never touches anything bigger
    than the occupied-cell list."""
    from sf_datalake_spark.operators.clustering import grid_density_clusters

    emb = _t(spark, sf_dir, "embeddings")
    return grid_density_clusters(
        emb, "vec_id", "embedding", _GDC_CELL, _GDC_MINPTS
    )


_GDC_SQL = f"""
    WITH RECURSIVE pts AS (
        SELECT vec_id,
               ((CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000)
                      AS BIGINT) + 1000000000) // {_GDC_CELL}) * 1000000
               + ((CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000)
                        AS BIGINT) + 1000000000) // {_GDC_CELL}) AS cell_key
        FROM embeddings
    ),
    cells AS (SELECT cell_key, count(*) AS n FROM pts GROUP BY 1),
    core AS (SELECT cell_key FROM cells WHERE n >= {_GDC_MINPTS}),
    adj AS (
        SELECT a.cell_key AS u, b.cell_key AS v
        FROM core a JOIN core b
          ON abs(a.cell_key // 1000000 - b.cell_key // 1000000) <= 1
         AND abs(a.cell_key % 1000000 - b.cell_key % 1000000) <= 1
    ),
    reach(orig, cur) AS (
        SELECT cell_key, cell_key FROM core
        UNION
        SELECT r.orig, a.v FROM reach r JOIN adj a ON a.u = r.cur
    ),
    comp AS (SELECT orig AS cell_key, min(cur) AS cluster
             FROM reach GROUP BY 1)
    SELECT p.vec_id,
           CAST(COALESCE(c.cluster, -1) AS BIGINT) AS cluster
    FROM pts p LEFT JOIN comp c USING (cell_key)
"""


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals for account balances per segment
# ---------------------------------------------------------------------------


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: split-conformal 90% interval around the
    train-fold median balance — calibration-fold residual quantile as
    half-width, test-fold realized coverage in exact ppm
    (ml/evaluation.split_conformal_intervals; folds via the
    deterministic md5 bucket, so the whole procedure replays in SQL)."""
    from sf_datalake_spark.ml.evaluation import split_conformal_intervals
    from sf_datalake_spark.operators.split import hash_bucket

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    return split_conformal_intervals(
        cust,
        "c_mktsegment",
        "cents",
        hash_bucket("c_custkey", 10_000, salt="conf"),
        alpha_ppm=100_000,
    )


_CONFORMAL_SQL = """
    WITH base AS (
        SELECT c_mktsegment AS g,
               CAST(round(c_acctbal * 100) AS BIGINT) AS v,
               CAST(('0x' || substr(md5(c_custkey::VARCHAR || 'conf'), 1, 8))
                    ::BIGINT % 10000 AS BIGINT) AS b
        FROM customer
    ),
    med AS (
        SELECT g, v AS med_cents, n AS n_train FROM (
            SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY g) AS n
            FROM base WHERE b < 6000
        ) WHERE rn = (n + 1) // 2
    ),
    qhat AS (
        SELECT g, med_cents, n_train, n_cal, r AS q_hat_cents FROM (
            SELECT c.g, m.med_cents, m.n_train,
                   abs(c.v - m.med_cents) AS r,
                   row_number() OVER (PARTITION BY c.g
                                      ORDER BY abs(c.v - m.med_cents)) AS rn,
                   count(*) OVER (PARTITION BY c.g) AS n_cal
            FROM base c JOIN med m USING (g)
            WHERE c.b >= 6000 AND c.b < 8000
        ) WHERE rn = least(((n_cal + 1) * 900000 + 999999) // 1000000, n_cal)
    )
    SELECT t.g AS c_mktsegment,
           CAST(q.n_train AS BIGINT) AS n_train,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           q.med_cents, q.q_hat_cents,
           CAST(sum(CASE WHEN abs(t.v - q.med_cents) <= q.q_hat_cents
                         THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
               AS coverage_ppm
    FROM base t JOIN qhat q USING (g)
    WHERE t.b >= 8000
    GROUP BY 1, 2, 3, 5, 6
"""


# ---------------------------------------------------------------------------
# Decision-stump best split: the threshold on l_quantity minimizing
# weighted Gini impurity for the returned-flag target.  Σc²/n terms are
# IEEE arithmetic on exactly-agreed integers with an identical op
# sequence in both engines; the per-split impurity is ppm-quantized
# before the argmin so the comparison is integer (threshold asc breaks
# quantization ties).
# ---------------------------------------------------------------------------


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The best single split of l_quantity for predicting returns
    (weighted two-class Gini, ppm), with the split sizes and the
    unsplit baseline impurity."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("int").alias("qty"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    per_v = li.groupBy("qty").agg(
        F.count("*").alias("n_v"), F.sum("pos").alias("p_v")
    )
    from pyspark.sql import Window

    w_cum = Window.orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = per_v.select(
        F.col("qty").alias("threshold"),
        F.sum("n_v").over(w_cum).alias("nl"),
        F.sum("p_v").over(w_cum).alias("pl"),
        F.sum("n_v").over(w_all).alias("n"),
        F.sum("p_v").over(w_all).alias("p"),
    ).filter(F.col("nl") < F.col("n"))
    f = (
        (F.col("pl") * F.col("pl")).cast("double") / F.col("nl")
        + ((F.col("nl") - F.col("pl")) * (F.col("nl") - F.col("pl")))
        .cast("double")
        / F.col("nl")
        + ((F.col("p") - F.col("pl")) * (F.col("p") - F.col("pl")))
        .cast("double")
        / (F.col("n") - F.col("nl"))
        + (
            (F.col("n") - F.col("nl") - F.col("p") + F.col("pl"))
            * (F.col("n") - F.col("nl") - F.col("p") + F.col("pl"))
        ).cast("double")
        / (F.col("n") - F.col("nl"))
    )
    base = (
        (F.col("p") * F.col("p")).cast("double") / F.col("n")
        + ((F.col("n") - F.col("p")) * (F.col("n") - F.col("p")))
        .cast("double")
        / F.col("n")
    )
    scored = cum.select(
        "threshold",
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.round((F.col("n").cast("double") - f) * 1_000_000 / F.col("n"))
        .cast("bigint")
        .alias("impurity_ppm"),
        F.round(
            (F.col("n").cast("double") - base) * 1_000_000 / F.col("n")
        )
        .cast("bigint")
        .alias("baseline_ppm"),
    )
    w_best = Window.orderBy(
        F.col("impurity_ppm").asc(), F.col("threshold").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "threshold", "n_left", "n_right", "impurity_ppm", "baseline_ppm"
        )
    )


_BEST_SPLIT_SQL = """
    WITH li AS (
        SELECT CAST(l_quantity AS INT) AS qty,
               CAST(l_returnflag = 'R' AS BIGINT) AS pos
        FROM lineitem
    ),
    per_v AS (
        SELECT qty, CAST(count(*) AS BIGINT) AS n_v,
               CAST(sum(pos) AS BIGINT) AS p_v
        FROM li GROUP BY 1
    ),
    cum AS (
        SELECT qty AS threshold,
               sum(n_v) OVER (ORDER BY qty ROWS UNBOUNDED PRECEDING) AS nl,
               sum(p_v) OVER (ORDER BY qty ROWS UNBOUNDED PRECEDING) AS pl,
               sum(n_v) OVER () AS n,
               sum(p_v) OVER () AS p
        FROM per_v
    ),
    scored AS (
        SELECT threshold,
               CAST(nl AS BIGINT) AS n_left,
               CAST(n - nl AS BIGINT) AS n_right,
               CAST(round((CAST(n AS DOUBLE)
                   - (CAST(pl * pl AS DOUBLE) / nl
                      + CAST((nl - pl) * (nl - pl) AS DOUBLE) / nl
                      + CAST((p - pl) * (p - pl) AS DOUBLE) / (n - nl)
                      + CAST((n - nl - p + pl) * (n - nl - p + pl) AS DOUBLE)
                        / (n - nl))) * 1000000 / n) AS BIGINT)
                   AS impurity_ppm,
               CAST(round((CAST(n AS DOUBLE)
                   - (CAST(p * p AS DOUBLE) / n
                      + CAST((n - p) * (n - p) AS DOUBLE) / n))
                   * 1000000 / n) AS BIGINT) AS baseline_ppm
        FROM cum WHERE nl < n
    )
    SELECT threshold, n_left, n_right, impurity_ppm, baseline_ppm
    FROM (SELECT *, row_number() OVER (ORDER BY impurity_ppm, threshold)
                        AS rn
          FROM scored)
    WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Weight-of-evidence / information value of the market segment for the
# positive-balance target — the credit-scoring encoding classic.
# ---------------------------------------------------------------------------


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: good/bad counts for the positive-balance
    target, WoE in micro-nats (single ln of an exact integer ratio,
    rounded at source), and the IV contribution in micro units."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (F.col("c_acctbal") > 0).cast("bigint").alias("good"),
    )
    seg = cust.groupBy("c_mktsegment").agg(
        F.sum("good").alias("n_good"),
        (F.count("*") - F.sum("good")).alias("n_bad"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()
    tot = seg.select(
        "c_mktsegment",
        "n_good",
        "n_bad",
        F.sum("n_good").over(w).alias("g"),
        F.sum("n_bad").over(w).alias("b"),
    )
    ratio = (F.col("n_good") * F.col("b")).cast("double") / (
        F.col("n_bad") * F.col("g")
    ).cast("double")
    woe = F.round(F.log(ratio) * 1_000_000).cast("bigint")
    iv = F.round(
        (
            F.col("n_good").cast("double") / F.col("g")
            - F.col("n_bad").cast("double") / F.col("b")
        )
        * F.log(ratio)
        * 1_000_000
    ).cast("bigint")
    return tot.select(
        "c_mktsegment",
        F.col("n_good").cast("bigint").alias("n_good"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.when((F.col("n_bad") > 0) & (F.col("n_good") > 0), woe).alias(
            "woe_micro"
        ),
        F.when((F.col("n_bad") > 0) & (F.col("n_good") > 0), iv).alias(
            "iv_contrib_micro"
        ),
    )


_WOE_IV_SQL = """
    WITH seg AS (
        SELECT c_mktsegment,
               CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_good,
               CAST(sum(CASE WHEN c_acctbal > 0 THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_bad
        FROM customer GROUP BY 1
    ),
    tot AS (
        SELECT *, sum(n_good) OVER () AS g, sum(n_bad) OVER () AS b FROM seg
    )
    SELECT c_mktsegment, n_good, n_bad,
           CASE WHEN n_bad > 0 AND n_good > 0 THEN
               CAST(round(ln(CAST(n_good * b AS DOUBLE)
                             / CAST(n_bad * g AS DOUBLE)) * 1000000)
                    AS BIGINT) END AS woe_micro,
           CASE WHEN n_bad > 0 AND n_good > 0 THEN
               CAST(round((CAST(n_good AS DOUBLE) / g
                           - CAST(n_bad AS DOUBLE) / b)
                          * ln(CAST(n_good * b AS DOUBLE)
                               / CAST(n_bad * g AS DOUBLE))
                          * 1000000) AS BIGINT) END AS iv_contrib_micro
    FROM tot
"""


# ---------------------------------------------------------------------------
# Leave-one-out target encoding of the market segment — the
# leakage-free categorical encoding: each row's code excludes itself.
# ---------------------------------------------------------------------------


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: the leave-one-out target rate of their segment in
    exact ppm — (segment positives − own) · 10⁶ div (segment size − 1);
    NULL for singleton segments (undefined, not 0)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") > 0).cast("bigint").alias("target"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "target",
        F.when(
            F.count("*").over(w) > 1,
            F.expr(
                "(sum(target) over (partition by c_mktsegment) - target)"
                " * 1000000L div"
                " (count(*) over (partition by c_mktsegment) - 1)"
            ),
        ).alias("loo_ppm"),
    )


_TARGET_ENCODING_SQL = """
    WITH cust AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal > 0 AS BIGINT) AS target
        FROM customer
    )
    SELECT c_custkey, c_mktsegment, target,
           CASE WHEN count(*) OVER (PARTITION BY c_mktsegment) > 1 THEN
               CAST((sum(target) OVER (PARTITION BY c_mktsegment) - target)
                    * 1000000
                    // (count(*) OVER (PARTITION BY c_mktsegment) - 1)
                    AS BIGINT) END AS loo_ppm
    FROM cust
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "feature_hash_score": (q_feature_hash_score, _FEATURE_HASH_SQL),
    "quantile_normalize": (q_quantile_normalize, _QUANTILE_NORMALIZE_SQL),
    "sliding_distinct": (q_sliding_distinct, _SLIDING_DISTINCT_SQL),
    "k_anonymity": (q_k_anonymity, _KANON_SQL),
    "dp_noisy_counts": (q_dp_noisy_counts, _DP_SQL),
    "embedding_gram": (q_embedding_gram, _EMBEDDING_GRAM_SQL),
    "grid_density_clusters": (q_grid_density_clusters, _GDC_SQL),
    "conformal_interval": (q_conformal_interval, _CONFORMAL_SQL),
    "best_split": (q_best_split, _BEST_SPLIT_SQL),
    "woe_iv": (q_woe_iv, _WOE_IV_SQL),
    "target_encoding": (q_target_encoding, _TARGET_ENCODING_SQL),
}
