"""Data exploration: PCA projection, one-way ANOVA, quantile summaries.

Reference behaviors replaced (``src/sf_datalake/exploration.py``):

- SVD/PCA over an RDD RowMatrix (``exploration.py:155-177,234-284``) →
  DataFrame-native ``pyspark.ml.feature.PCA`` (no RDD round-trip);
- one-way ANOVA with two Python UDFs for the squared terms
  (``exploration.py:103-152``) → pure Column arithmetic (the UDFs were
  flagged replaceable in SURVEY.md §2.11); F statistic computed
  distributed, p-value always emitted via the scipy-free regularized
  incomplete beta (:func:`f_sf`);
- quantile summaries (``exploration.py:392-401``) → exact
  ``F.percentile`` (distributed) instead of ``df.summary`` strings.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml.feature import PCA, VectorAssembler
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sf_datalake_spark.session import pinned


def pca_project(
    df: DataFrame,
    input_cols: Sequence[str],
    k: int = 2,
    output_col: str = "pca_features",
) -> tuple[DataFrame, list[float]]:
    """Project numeric columns onto the top-k principal components.

    Returns (projected df, explained variance ratios).
    """
    assembled = VectorAssembler(
        inputCols=list(input_cols), outputCol="__pca_input"
    ).transform(df)
    model = PCA(k=k, inputCol="__pca_input", outputCol=output_col).fit(assembled)
    return (
        model.transform(assembled).drop("__pca_input"),
        list(model.explainedVariance),
    )


def pca_trajectories(
    df: DataFrame,
    features: Sequence[str],
    start: str,
    end: str,
    entity_col: str = "siren",
    period_col: str = "période",
    k: int = 2,
) -> DataFrame:
    """Entity trajectories through a FIXED eigenspace over time
    (reference ``exploration.py:234-284``): fit the PCA basis on the
    FIRST period inside ``[start, end)``, then project EVERY period's
    observations through that one basis, yielding per-entity
    ``(cp1..cpk)`` coordinates per period — how each entity drifts in
    the first period's principal plane.

    The reference filters per period in a driver loop and unions one
    DataFrame per period (linear in #periods, all plans serialized
    through the driver).  Here the loop disappears: ONE fit on the
    first-period slice, then ONE distributed ``model.transform`` over
    the whole range — the projection is a per-row matrix multiply, so
    no groupBy, no union, no driver data path; scales to any number of
    periods and rows.
    """
    from pyspark.ml.functions import vector_to_array

    # df[...] resolution (not F.col): period columns like "période"
    # contain non-ASCII chars the SQL identifier parser rejects unquoted
    sliced = df.filter(
        (df[period_col] >= F.lit(start)) & (df[period_col] < F.lit(end))
    )
    first = sliced.agg(F.min(sliced[period_col]).alias("p0")).first()["p0"]
    if first is None:
        raise ValueError(f"pca_trajectories: no rows in [{start}, {end})")
    assembled = VectorAssembler(
        inputCols=list(features), outputCol="__pca_input"
    ).transform(sliced)
    model = PCA(k=k, inputCol="__pca_input", outputCol="__pca_out").fit(
        assembled.filter(assembled[period_col] == F.lit(first))
    )
    arr = vector_to_array(F.col("__pca_out"))
    return model.transform(assembled).select(
        entity_col,
        period_col,
        *[arr.getItem(i).alias(f"cp{i + 1}") for i in range(k)],
    )


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz) —
    the standard public-numerics evaluation (Numerical Recipes §6.4 /
    DLMF 8.17.22); converges in O(√(max(a,b))) iterations for
    x < (a+1)/(a+b+2)."""
    max_it, eps, fpmin = 500, 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, max_it + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b), pure stdlib math — no
    scipy.  Continued fraction on the rapidly-convergent side of the
    mean, symmetry I_x(a,b) = 1 − I_{1−x}(b,a) on the other."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def f_sf(f_stat: float, df1: float, df2: float) -> float:
    """Survival function (1 − CDF) of the F distribution:
    ``P(F > f) = I_{d2/(d2 + d1·f)}(d2/2, d1/2)`` — the p-value of an
    ANOVA F test, computable without scipy (the reference's
    ``exploration.py:103-152`` always emits it via driver scipy)."""
    if f_stat <= 0.0:
        return 1.0
    x = df2 / (df2 + df1 * f_stat)
    return reg_inc_beta(df2 / 2.0, df1 / 2.0, x)


def one_way_anova(
    df: DataFrame, group_col: str, value_col: str
) -> dict[str, float]:
    """One-way ANOVA F statistic across groups, fully distributed.

    Two aggregations (per-group stats, then the scalar combine on ≤
    n_groups rows).  Always emits ``p_value`` — via :func:`f_sf`'s
    pure-python regularized incomplete beta, matching the reference's
    scipy-based output (``exploration.py:103-152``) without the scipy
    dependency.
    """
    stats = (
        df.groupBy(group_col)
        .agg(
            F.count(value_col).alias("n"),
            F.avg(value_col).alias("mean"),
            F.var_samp(value_col).alias("var"),
        )
        .collect()
    )
    # all-null groups contribute nothing (mean is NULL); singleton groups
    # have NULL var_samp — zero within-group SS, not a crash
    stats = [r for r in stats if r["n"] > 0 and r["mean"] is not None]
    if len(stats) < 2:
        raise ValueError("one_way_anova needs at least two non-empty groups")
    n_total = sum(r["n"] for r in stats)
    k = len(stats)
    grand_mean = sum(r["n"] * r["mean"] for r in stats) / n_total
    ss_between = sum(r["n"] * (r["mean"] - grand_mean) ** 2 for r in stats)
    ss_within = sum((r["n"] - 1) * (r["var"] or 0.0) for r in stats)
    df_between, df_within = k - 1, n_total - k
    f_stat = (ss_between / df_between) / (ss_within / df_within)
    return {
        "f_stat": f_stat,
        "df_between": float(df_between),
        "df_within": float(df_within),
        "p_value": f_sf(f_stat, float(df_between), float(df_within)),
    }


def quantile_summary(
    df: DataFrame,
    cols: Sequence[str],
    quantiles: Sequence[float] = (0.05, 0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact quantiles per column (long format: column, quantile, value).

    Bit-identical to ``F.percentile`` (linear interpolation at
    ``position = q * (n - 1)``) but WITHOUT its single-buffer exact
    aggregate: Spark's ``Percentile`` holds a value→count map of the
    ENTIRE column in one aggregation buffer and merges every partial
    into ONE final reducer — 2.6 s serial at sf0.1 and a driver-sized
    OOM at 100 TB (r10 verdict #1).  Here the value→count map is an
    ordinary distributed ``groupBy(column, value)`` (partial map-side
    aggregation, shuffle bounded by the DISTINCT value domain, never
    the row count), the cumulative rank is a per-column window over
    those distinct values, and each quantile interpolates between the
    two bracketing order statistics with EXACTLY Spark's expression
    ``(ceil(pos) - pos) * lo + (pos - floor(pos)) * hi`` (including
    its lo==hi and equal-key short-circuits), so outputs match the old
    aggregate to the last ulp.

    All columns still travel in ONE scan (exploded to long format);
    values are compared/interpolated as doubles — the same
    ``toDoubleValue`` conversion the Percentile aggregate applies.
    Memory bound: the per-column sort is over distinct values (e.g. a
    DECIMAL(15,2) price domain), one window partition per column.
    """
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    long = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("double").alias("value"),
                        )
                        for c in cols
                    ]
                )
            ).alias("__s")
        )
        .select("__s.column", "__s.value")
        .filter(F.col("value").isNotNull())
    )
    cnt = long.groupBy("column", "value").agg(F.count("*").alias("__c"))
    w_cum = (
        Window.partitionBy("column")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("column")
    cum = cnt.select(
        "column",
        "value",
        F.sum("__c").over(w_cum).alias("__cum"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    # position = q * (n - 1), computed long→double exactly as the
    # Percentile aggregate does; the value at 0-based sorted index k is
    # the least value whose cumulative count reaches k + 1.
    pos = (F.col("__q") * (F.col("__n") - F.lit(1)).cast("double")).alias(
        "__pos"
    )
    qexp = cum.select(
        "column", "value", "__cum", "__n",
        F.posexplode(qarr).alias("__i", "__q"),
    ).select("column", "value", "__cum", "__i", pos)
    agg = qexp.groupBy("column", "__i").agg(
        F.min("__pos").alias("__pos"),
        F.min(
            F.when(F.col("__cum") >= F.floor("__pos") + 1, F.col("value"))
        ).alias("__lov"),
        F.min(
            F.when(F.col("__cum") >= F.ceil("__pos") + 1, F.col("value"))
        ).alias("__hiv"),
    )
    value = (
        F.when(F.ceil("__pos") == F.floor("__pos"), F.col("__lov"))
        .when(F.col("__hiv") == F.col("__lov"), F.col("__lov"))
        .otherwise(
            (F.ceil("__pos").cast("double") - F.col("__pos")) * F.col("__lov")
            + (F.col("__pos") - F.floor("__pos").cast("double"))
            * F.col("__hiv")
        )
    )
    # An all-NULL or empty column has no group after the isNotNull
    # filter; the left join onto the static (column x quantile) grid
    # gives it NULL-valued rows, as the Percentile aggregate did.
    grid = df.sparkSession.createDataFrame(
        [(c, i) for c in cols for i in range(len(quantiles))],
        "column string, __i int",
    )
    return grid.join(agg, ["column", "__i"], "left").select(
        "column",
        F.element_at(qarr, F.col("__i") + 1).alias("quantile"),
        value.alias("value"),
    )


# ---------------------------------------------------------------------------
# Integer fixed-point top-2 PCA (round-9 verdict #5): power iteration
# with micro-unit rounding per step — the pagerank_ppm discipline
# applied to the eigenproblem, so a DuckDB recursive CTE replays the
# component vectors and projections bit-for-bit and `pca_projection`
# graduates from rows-only to hash-oracled.  The float MLlib path
# (:func:`pca_project`) stays for users who want exact eigenvectors
# and explained-variance ratios.
# ---------------------------------------------------------------------------

#: micro-unit scale shared by feature quantization and component coords
_PCA_U = 1_000_000


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark ``div`` and
    DuckDB ``//`` semantics (Python's ``//`` floors, which differs on
    negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def pca_ppm_fragments(d: int, n_iter: int, div: str) -> dict[str, str]:
    """SQL fragments for the fixed-point power iteration, shared by the
    Spark operator (``div='div'``) and the DuckDB oracle (``div='//'``)
    — the :func:`~sf_datalake_spark.ml.grouped.irls_ppm_fragments`
    discipline.  Spec over centered integer features ``c0..c{d-1}``
    (micro-quantized, mean-subtracted with truncating integer division)
    and a micro-unit component vector ``v0..v{d-1}``:

    - per row: ``sd = (Σ ci·vi) div 1e6`` (the projection in feature
      units — exact int64: |c| ≲ 2e6 · |v| ≤ 1e6 · d ≤ 16 stays under
      2^53, and the division truncates toward zero in both engines);
    - per round: exact integer sums ``ti = Σ ci·sd`` (DECIMAL(38,0) /
      HUGEINT — order-free), then ``den = sqrt(Σ CAST(ti AS
      DOUBLE)²)`` (one fixed left-associated expression on exact
      integers — bit-identical cross-engine) and
      ``vi' = floor(ti/den · 1e6 + 0.5)`` (``den = 0`` keeps v);
    - start ``v = (1e6, 0, …)``; fixed ``n_iter`` rounds (no
      convergence test — both engines replay the same trajectory);
    - deflation for the second component: ``ci' = ci − (sd_final ·
      vi) div 1e6``, then the same iteration on the deflated matrix.
    """
    idx = range(d)
    sd = "(" + " + ".join(f"c{i} * v{i}" for i in idx) + f") {div} {_PCA_U}"
    sums = {f"t{i}": f"c{i} * sd" for i in idx}
    nn = " + ".join(f"CAST(t{i} AS DOUBLE) * CAST(t{i} AS DOUBLE)" for i in idx)
    newv = {
        f"v{i}": (
            f"CASE WHEN den = 0.0 THEN v{i} ELSE "
            f"CAST(floor(CAST(t{i} AS DOUBLE) / den * 1000000.0 + 0.5)"
            " AS BIGINT) END"
        )
        for i in idx
    }
    defl = {
        f"c{i}": f"c{i} - (sd * v{i}) {div} {_PCA_U}" for i in idx
    }
    return {"sd": sd, "sums": sums, "den": f"sqrt({nn})", "newv": newv,
            "defl": defl}


#: rounds the last :func:`_pca_power_iter_ppm` call actually executed
#: before hitting its exact integer fixed point (diagnostics/tests only)
_LAST_POWER_ROUNDS = 0


def _pca_power_iter_ppm(cen: DataFrame, d: int, n_iter: int) -> list[int]:
    """Driver loop of the fixed-point power iteration: per round ONE
    map-side-combined aggregation of d exact-integer sums (scalars —
    the only driver traffic, the pagerank/bpe iterative pattern), then
    the normalization in Python with the EXACT expression tree of
    :func:`pca_ppm_fragments` so the oracle replay cannot drift."""
    import math

    global _LAST_POWER_ROUNDS
    frag = pca_ppm_fragments(d, n_iter, div="div")
    v = [_PCA_U] + [0] * (d - 1)
    _LAST_POWER_ROUNDS = 0
    for _ in range(n_iter):
        _LAST_POWER_ROUNDS += 1
        sd = frag["sd"]
        for i in range(d):
            sd = sd.replace(f"v{i}", str(v[i]))
        agg = cen.selectExpr("*", f"{sd} AS sd").agg(
            *[
                F.expr(f"sum(CAST(c{i} * sd AS DECIMAL(38,0)))").alias(f"t{i}")
                for i in range(d)
            ]
        ).first()
        t = [int(agg[f"t{i}"] or 0) for i in range(d)]
        tf = [float(x) for x in t]
        nn = tf[0] * tf[0]
        for i in range(1, d):
            nn = nn + tf[i] * tf[i]  # left-associated, like the SQL twin
        den = math.sqrt(nn)
        if den == 0.0:
            # den = 0 keeps v, so every remaining round replays the same
            # (sd, t, den) — an exact fixed point; the oracle's full
            # n_iter replay lands on this same v. Skip the dead scans.
            break
        nv = [int(math.floor(tf[i] / den * 1000000.0 + 0.5))
              for i in range(d)]
        if nv == v:
            # exact integer fixed point: v' = f(v) = v, so rounds
            # k+1..n_iter all reproduce v bit-for-bit in BOTH engines —
            # early exit changes nothing the oracle can observe, only
            # the number of aggregation scans.
            break
        v = nv
    return v


def pca_top2_ppm(
    df: DataFrame,
    id_col: str,
    cols: Sequence[str],
    quant: int = _PCA_U,
    n_iter: int = 10,
) -> DataFrame:
    """Project rows onto the top-2 fixed-point principal components —
    ``(id, pc1_ppm, pc2_ppm)``, all integers, bit-replayable by the
    DuckDB oracle built from :func:`pca_ppm_fragments`.  Thin wrapper
    over :func:`pca_top2_fixed_basis_ppm` with the basis fit on the
    whole input."""
    return pca_top2_fixed_basis_ppm(
        df, [id_col], cols, fit_expr=None, quant=quant, n_iter=n_iter
    )


def pca_top2_fixed_basis_ppm(
    df: DataFrame,
    id_cols: Sequence[str],
    cols: Sequence[str],
    fit_expr: str | None = None,
    quant: int = _PCA_U,
    n_iter: int = 10,
) -> DataFrame:
    """Fixed-basis fixed-point PCA: fit means + top-2 components on the
    ``fit_expr`` slice (SQL boolean over ``df``'s columns; None = whole
    input), project EVERY row through that one basis — the trajectory
    shape (reference ``exploration.py:234-284``: basis from the first
    period, coordinates for all periods), in the oracle-exact integer
    arithmetic of :func:`pca_ppm_fragments`.

    Scale shape: quantize + center is one scan; means are one
    aggregation of d exact-integer sums over the fit slice (truncating
    integer division); each of the 2·``n_iter`` power-iteration rounds
    is one map-side-combined aggregation of d sums over the fit slice
    (driver sees d scalars per round, never data); projections are
    pure Catalyst integer arithmetic with the components as literals.
    The centered matrix is persisted across the iteration scans."""
    d = len(cols)
    if not 2 <= d <= 9:
        # single-digit indices only: literal substitution of v{i} in the
        # shared fragments would alias v1 into v10 beyond that
        raise ValueError(f"pca_top2_ppm supports 2..9 features, got {d}")
    id_cols = list(id_cols)
    xq = df.select(
        *id_cols,
        F.expr(fit_expr if fit_expr else "TRUE").alias("__fit"),
        *[
            F.expr(
                f"CAST(round(CAST({c} AS DOUBLE) * {quant}.0) AS BIGINT)"
            ).alias(f"x{i}")
            for i, c in enumerate(cols)
        ],
    )
    stats = xq.filter("__fit").agg(
        F.count("*").alias("n"),
        *[
            F.expr(f"sum(CAST(x{i} AS DECIMAL(38,0)))").alias(f"s{i}")
            for i in range(d)
        ],
    ).first()
    n = int(stats["n"])
    if n == 0:
        raise ValueError("pca fit slice is empty")
    means = [_tdiv(int(stats[f"s{i}"] or 0), n) for i in range(d)]
    # Right-size the iteration cache (r10, the fit_ready policy, guide
    # §2.2): the centered matrix inherits the upstream width (32
    # near-empty partitions for a ≤15k-row panel/embedding slice) and
    # every one of the 2·n_iter power rounds re-pays those task
    # launches — same measured pathology as the grouped-IRLS cache
    # (9 rounds on 32 partitions ≈ 10 s vs ≈ 4.3 s on 4 at sf0.1).
    # Size-derived, not a constant: a billion-row matrix still gets
    # thousands of partitions.
    from sf_datalake_spark.ml.models import fit_ready

    cen = xq.select(
        *id_cols, "__fit",
        *[(F.col(f"x{i}") - F.lit(means[i])).alias(f"c{i}") for i in range(d)],
    )
    # min_partitions=1, not the IRLS loop's 4: every power round is a
    # KEYLESS global aggregation, and a 1-partition cache satisfies
    # AllTuples so the partial→final exchange (and its extra AQE job
    # per round) disappears — measured 2 jobs/round → 1.  Still
    # size-derived: a billion-row matrix gets thousands of partitions
    # and the exchange cost is then negligible against the scan.
    with fit_ready(cen, target_rows_per_partition=250_000,
                   min_partitions=1) as (cen, _):
        if cen.rdd.getNumPartitions() == 1:
            # a cached scan reports UNKNOWN partitioning even with one
            # partition, so the planner still inserts the partial→final
            # exchange; Coalesce(1) advertises SinglePartition and the
            # per-round agg plans as ONE stage (measured: 2 jobs/round → 1,
            # plan loses the Exchange).  Data-wise a no-op.
            cen = cen.coalesce(1)
        frag = pca_ppm_fragments(d, n_iter, div="div")
        v1 = _pca_power_iter_ppm(cen.filter("__fit"), d, n_iter)

        def lit_sd(v):
            sd = frag["sd"]
            for i in range(d):
                sd = sd.replace(f"v{i}", str(v[i]))
            return sd

        p1 = cen.selectExpr("*", f"{lit_sd(v1)} AS sd")
        # deflated matrix: already narrow after cen's coalesce (it reads
        # the cen cache partition-for-partition), so a plain pin keeps
        # the width fit_ready chose above
        with pinned(p1.selectExpr(
            *id_cols, "__fit", "sd AS pc1q",
            *[
                frag["defl"][f"c{i}"].replace(f"v{i}", str(v1[i])) + f" AS c{i}"
                for i in range(d)
            ],
        )) as defl:
            v2 = _pca_power_iter_ppm(defl.filter("__fit"), d, n_iter)
            out = defl.selectExpr(
                *id_cols, "pc1q", f"{lit_sd(v2)} AS pc2q"
            ).select(
                *id_cols,
                F.col("pc1q").alias("pc1_ppm"),
                F.col("pc2q").alias("pc2_ppm"),
            ).localCheckpoint(eager=True)
    return out


def pca_top2_ppm_sql(d: int, n_iter: int, src_sql: str,
                     id_cols: Sequence[str] = ("vec_id",),
                     fit_where: str | None = None) -> str:
    """DuckDB twin of :func:`pca_top2_fixed_basis_ppm`: ``src_sql`` must
    yield the ``id_cols`` plus ``x0..x{d-1}`` with the SAME quantization
    the operator applied; ``fit_where`` (a boolean over src columns)
    selects the basis-fit slice (None = all rows).  The replay centers
    with truncating integer division over the fit slice, runs the two
    recursive power iterations from the shared fragments over the fit
    slice, and projects every row — bit-identical to the Spark
    output."""
    frag = pca_ppm_fragments(d, n_iter, div="//")
    idx = range(d)
    ids = ", ".join(id_cols)
    fit = fit_where if fit_where else "TRUE"
    vs = ", ".join(f"v{i}" for i in idx)
    v_init = ", ".join(
        "CAST(1000000 AS BIGINT)" if i == 0 else "CAST(0 AS BIGINT)"
        for i in idx
    )
    means = ", ".join(f"sum(x{i}) // count(*) AS m{i}" for i in idx)
    cen_cols = ", ".join(f"x{i} - m{i} AS c{i}" for i in idx)
    sums = ", ".join(f"sum(c{i} * sd) AS t{i}" for i in idx)
    newv = ", ".join(frag["newv"][f"v{i}"] for i in idx)
    carry_v = ", ".join(f"p.v{i} AS v{i}" for i in idx)
    carry_c = ", ".join(f"c.c{i} AS c{i}" for i in idx)
    ts = ", ".join(f"t{i}" for i in idx)
    defl = ", ".join(
        frag["defl"][f"c{i}"] + f" AS c{i}" for i in idx
    )
    cs = ", ".join(f"c{i}" for i in idx)

    def power(name: str, src: str) -> str:
        return f"""
    {name}(it, {vs}) AS (
        SELECT 0, {v_init}
        UNION ALL
        SELECT it + 1, {newv}
        FROM (
            SELECT it, {vs}, {ts}, {frag['den']} AS den
            FROM (
                SELECT it, {vs}, {sums}
                FROM (
                    SELECT p.it AS it, {carry_v}, {carry_c},
                           {frag['sd']} AS sd
                    FROM {name} p CROSS JOIN {src} c
                    WHERE p.it < {n_iter}
                )
                GROUP BY ALL
            )
        )
    )"""

    return f"""
    WITH RECURSIVE src AS MATERIALIZED ({src_sql}),
    m AS (SELECT {means} FROM src WHERE {fit}),
    cen AS MATERIALIZED (SELECT {ids}, ({fit}) AS fit_row, {cen_cols}
            FROM src CROSS JOIN m),
    cenf AS MATERIALIZED (SELECT * FROM cen WHERE fit_row),
    {power('pw1', 'cenf')},
    v1f AS (SELECT {vs} FROM pw1 WHERE it = {n_iter}),
    proj1 AS (
        SELECT {ids}, fit_row, {frag['sd']} AS sd, {cs}
        FROM cen CROSS JOIN v1f
    ),
    cen2 AS MATERIALIZED (
        SELECT {ids}, fit_row, sd AS pc1q, {defl}
        FROM proj1 CROSS JOIN v1f
    ),
    cen2f AS MATERIALIZED (SELECT * FROM cen2 WHERE fit_row),
    {power('pw2', 'cen2f')},
    v2f AS (SELECT {vs} FROM pw2 WHERE it = {n_iter})
    SELECT {ids}, CAST(pc1q AS BIGINT) AS pc1_ppm,
           CAST({frag['sd']} AS BIGINT) AS pc2_ppm
    FROM cen2 CROSS JOIN v2f
"""
