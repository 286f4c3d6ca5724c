"""Per-group model fitting — the "many small models" pattern.

MLlib fits ONE distributed model over all rows; a segmented business
(one risk model per sector, one demand model per store, one forecast
per SKU) instead needs thousands of INDEPENDENT small fits.  The scale
shape for that is the opposite of MLlib's: ship each group's rows to
one task (``applyInPandas`` — a single hash shuffle on the group key)
and fit in-process with numpy, embarrassingly parallel across groups.
At 100 TB the constraint is the LARGEST group (document skew: a group
must fit one executor's memory; pre-aggregate or sample oversized
groups), never the group count — 10 M tiny models cost one shuffle.

The solver is plain IRLS (Newton) on L2-regularized logistic
regression — closed-form-ish, deterministic, no sklearn dependency —
and the test suite cross-checks coefficients against MLlib's
LogisticRegression on a single group to pin the semantics
(reference = same model family the engine's global path uses,
``ml/models.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sf_datalake_spark.session import scoped_confs


def _irls_logistic(
    X: np.ndarray,
    y: np.ndarray,
    reg: float = 0.0,
    max_iter: int = 50,
    tol: float = 1e-10,
) -> tuple[np.ndarray, float, int]:
    """L2-regularized logistic regression by IRLS.  Returns
    (coefficients, intercept, iterations).  ``reg`` matches MLlib's
    ``regParam`` with ``standardization=False``: the penalty is
    ``reg · n · ½‖w‖²`` in the summed-loss form (MLlib regularizes the
    MEAN loss, so its regParam scales by n here), intercept
    unpenalized.
    """
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1)
    pen = np.full(d + 1, reg * n)
    pen[-1] = 0.0  # intercept unpenalized
    for it in range(1, max_iter + 1):
        z = Xb @ w
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = Xb.T @ (p - y) + pen * w
        s = np.maximum(p * (1 - p), 1e-12)
        H = (Xb * s[:, None]).T @ Xb + np.diag(pen)
        step = np.linalg.solve(H, g)
        w -= step
        if float(np.abs(step).max()) < tol:
            break
    return w[:-1], float(w[-1]), it


def fit_predict_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    feature_cols: Sequence[str],
    label_col: str,
    reg: float = 1e-6,
    min_rows: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Fit one logistic model PER GROUP and score the group's own rows.

    Output: group cols + feature cols + ``label`` + ``p1`` (the group
    model's probability) + ``group_n`` + ``converged_iter``.  Groups
    with fewer than ``min_rows`` rows or a single label class emit
    ``p1 = base rate`` (a degenerate-but-safe model) with
    ``converged_iter = 0``.

    One shuffle on the group key; each fit is local numpy (Arrow
    batch in, Arrow batch out).  IRLS from zeros has no random state,
    but numpy's float reductions depend on ROW ORDER, which the
    shuffle does not fix — pass ``sort_cols`` (a per-group unique key)
    whenever bit-reproducible output matters.

    EXECUTOR-MEMORY BOUND (SCALE.md round-5 "many small models"): the
    scale constraint is the LARGEST single group — ``applyInPandas``
    materializes each group's rows as ONE pandas frame in ONE task, so
    a whale group (≳ a few tens of millions of rows × width) is a
    per-task OOM regardless of cluster size.  Pre-aggregate or sample
    oversized groups upstream, or — when the model is the repo's
    2-feature logistic — use :func:`irls_logistic_groups_ppm`, whose
    per-iteration ``groupBy`` aggregation never materializes a group
    and is additionally oracle-exact.
    """
    import pandas as pd

    group_cols = list(group_cols)
    feature_cols = list(feature_cols)
    schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*group_cols).dtypes]
        + [f"`{c}` double" for c in feature_cols]
        + ["label double", "p1 double", "group_n bigint", "converged_iter int"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if sort_cols:
            pdf = pdf.sort_values(list(sort_cols), kind="mergesort")
        X = pdf[feature_cols].to_numpy(dtype=float)
        y = pdf[label_col].to_numpy(dtype=float)
        n = len(pdf)
        out = pdf[group_cols].copy()
        for c in feature_cols:
            out[c] = X[:, feature_cols.index(c)]
        out["label"] = y
        out["group_n"] = n
        if n < min_rows or y.min() == y.max():
            out["p1"] = float(y.mean())
            out["converged_iter"] = 0
            return out[
                group_cols + feature_cols
                + ["label", "p1", "group_n", "converged_iter"]
            ]
        coef, intercept, it = _irls_logistic(X, y, reg=reg)
        z = X @ coef + intercept
        out["p1"] = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        out["converged_iter"] = it
        return out[
            group_cols + feature_cols
            + ["label", "p1", "group_n", "converged_iter"]
        ]

    return (
        df.select(
            *dict.fromkeys(
                [*group_cols, *feature_cols, label_col, *(sort_cols or [])]
            )
        )
        .groupBy(*group_cols)
        .applyInPandas(fit, schema=schema)
    )


# ---------------------------------------------------------------------------
# Distributed oracle-exact IRLS (round-9 verdict #1): per-group logistic
# fits with NO per-group materialization — each Newton round is ONE
# groupBy aggregation of exact-integer normal-equation sums, and the
# 3×3 solve is the same double expression tree in Catalyst and DuckDB.
# ---------------------------------------------------------------------------

#: fixed-point unit for coefficients and probabilities (micro-units)
_U = 1_000_000
#: |w| clamp (coefficient micro-units; |w| <= 50 keeps every z term
#: inside int64 for features quantized below ~1e5)
_W_CLAMP = 50_000_000
#: |z| clamp in micro-units (sigmoid saturates far earlier; the clamp
#: bounds exp() inputs and the scoring arithmetic)
_Z_CLAMP = 30_000_000


def irls_ppm_fragments(
    fx1: int, fx2: int, reg: float, div: str
) -> dict[str, str]:
    """SQL fragments for one fixed-point IRLS round, shared VERBATIM by
    the Spark operator (``div='div'``) and the DuckDB oracle
    (``div='//'``) so the two replays cannot drift (the
    ``pagerank_ppm`` discipline, ``operators/components.py:319``).

    Spec (all names refer to columns in scope at each layer):

    - features are caller-quantized integers ``x1q = round(x1 * fx1)``,
      ``x2q = round(x2 * fx2)``; label ``y`` is 0/1; coefficients
      ``w0u/w1u/w2u`` are micro-units (start 0).
    - per row: ``z = clamp(w0u + x1q*w1u div fx1 + x2q*w2u div fx2)``
      (micro-units, truncating integer division — Spark ``div`` and
      DuckDB ``//`` both truncate toward zero);
      ``p = floor(1e6 / (1 + exp(-z/1e6)) + 0.5)`` (the only float step
      per row — exp of the SAME double in both engines; the µ-rounding
      makes a cross-engine last-ulp disagreement matter only within
      ~2e-10 of a rounding boundary);
      ``s = max((p * (1e6 - p)) div 1e6, 1)`` (Newton weight in
      µ-units; the floor of 1 keeps the Hessian nonsingular on
      saturated groups); ``r = p - 1e6*y`` (µ-residual).
    - per group: exact integer sums of ``r·x``/``s·x·x`` terms
      (DECIMAL(38,0) in Spark, HUGEINT in DuckDB — both exact and
      summation-order-free, so the two engines agree bit-for-bit at
      any parallelism); every per-row product is bounded inside int64
      by the clamps above.
    - solve: the L2-penalized Newton system (penalty ``reg·n`` on the
      non-intercept diagonal, intercept unpenalized — the
      :func:`_irls_logistic` convention) via explicit 3×3 Cramer in
      DOUBLE.  Exact integers in, one fixed parenthesization through
      det/det0..2 — correctly-rounded IEEE ops on identical inputs
      give bit-identical doubles in both engines (the
      ``q_trend_slopes`` argument, ``queries_rel.py``).
    - re-quantize: ``w' = floor(clamp(w - delta) * 1e6 + 0.5)``;
      ``det = 0`` keeps the old coefficients (cannot occur with the
      ``s >= 1`` floor, guarded anyway so both engines take the same
      branch).
    """
    c0 = "1000000.0"
    c1 = f"{_U * fx1:.1f}"
    c2 = f"{_U * fx2:.1f}"
    c11 = f"{_U * fx1 * fx1:.1f}"
    c12 = f"{_U * fx1 * fx2:.1f}"
    c22 = f"{_U * fx2 * fx2:.1f}"
    regl = repr(float(reg))
    z = (
        f"greatest(-{_Z_CLAMP}, least({_Z_CLAMP}, "
        f"w0u + (x1q * w1u) {div} {fx1} + (x2q * w2u) {div} {fx2}))"
    )
    p = (
        "CAST(floor(1000000.0 / "
        "(1.0 + exp(-(CAST(z AS DOUBLE) / 1000000.0))) + 0.5) AS BIGINT)"
    )
    s = f"greatest((p * (1000000 - p)) {div} 1000000, 1)"
    r = "p - 1000000 * y"
    # exact-integer per-group sums (term expressions; the engine-side
    # SUM wrapper differs: DECIMAL(38,0) cast in Spark, native HUGEINT
    # accumulation in DuckDB)
    terms = {
        "g0": "r",
        "g1": "r * x1q",
        "g2": "r * x2q",
        "h00": "s",
        "h01": "s * x1q",
        "h02": "s * x2q",
        "h11": "s * x1q * x1q",
        "h12": "s * x1q * x2q",
        "h22": "s * x2q * x2q",
    }
    solve_a = {
        "a00": f"CAST(h00 AS DOUBLE) / {c0}",
        "a01": f"CAST(h01 AS DOUBLE) / {c1}",
        "a02": f"CAST(h02 AS DOUBLE) / {c2}",
        "a11": f"CAST(h11 AS DOUBLE) / {c11} + {regl} * CAST(n AS DOUBLE)",
        "a12": f"CAST(h12 AS DOUBLE) / {c12}",
        "a22": f"CAST(h22 AS DOUBLE) / {c22} + {regl} * CAST(n AS DOUBLE)",
        "b0": f"CAST(g0 AS DOUBLE) / {c0}",
        "b1": (
            f"CAST(g1 AS DOUBLE) / {c1} + {regl} * CAST(n AS DOUBLE)"
            " * (CAST(w1u AS DOUBLE) / 1000000.0)"
        ),
        "b2": (
            f"CAST(g2 AS DOUBLE) / {c2} + {regl} * CAST(n AS DOUBLE)"
            " * (CAST(w2u AS DOUBLE) / 1000000.0)"
        ),
    }
    dets = {
        "det": (
            "a00 * (a11 * a22 - a12 * a12)"
            " - a01 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * a12 - a11 * a02)"
        ),
        "det0": (
            "b0 * (a11 * a22 - a12 * a12)"
            " - a01 * (b1 * a22 - a12 * b2)"
            " + a02 * (b1 * a12 - a11 * b2)"
        ),
        "det1": (
            "a00 * (b1 * a22 - a12 * b2)"
            " - b0 * (a01 * a22 - a12 * a02)"
            " + a02 * (a01 * b2 - b1 * a02)"
        ),
        "det2": (
            "a00 * (a11 * b2 - b1 * a12)"
            " - a01 * (a01 * b2 - b1 * a02)"
            " + b0 * (a01 * a12 - a11 * a02)"
        ),
    }

    def _next(wu: str, det_j: str) -> str:
        return (
            f"CASE WHEN det = 0.0 THEN {wu} ELSE "
            f"CAST(floor(greatest(-{float(_W_CLAMP)!r}, "
            f"least({float(_W_CLAMP)!r}, "
            f"(CAST({wu} AS DOUBLE) / 1000000.0 - {det_j} / det)"
            " * 1000000.0)) + 0.5) AS BIGINT) END"
        )

    return {
        "z": z,
        "p": p,
        "s": s,
        "r": r,
        "terms": terms,
        "solve_a": solve_a,
        "dets": dets,
        "w0_next": _next("w0u", "det0"),
        "w1_next": _next("w1u", "det1"),
        "w2_next": _next("w2u", "det2"),
    }


#: rounds the last :func:`irls_logistic_groups_ppm` call actually ran
#: before the all-groups exact fixed point (diagnostics/tests only)
_LAST_IRLS_ROUNDS = 0


def irls_logistic_groups_ppm(
    df: DataFrame,
    group_col: str,
    x1q_col: str,
    fx1: int,
    x2q_col: str,
    fx2: int,
    label_col: str,
    reg: float = 1e-6,
    n_iter: int = 8,
) -> DataFrame:
    """One L2-penalized logistic model PER GROUP, fit by distributed
    fixed-point IRLS — the oracle-exact, whale-safe sibling of
    :func:`fit_predict_per_group` (round-9 verdict #1).

    Scale shape: NOTHING materializes a group.  Each of the ``n_iter``
    Newton rounds is one map-side-combined ``groupBy(group)``
    aggregation of 9 exact-integer normal-equation sums + a count
    (X'WX and X'Wr are 9+3 numbers per group for 2 features), and the
    3×3 Cramer solve runs INSIDE Catalyst on the per-group aggregate
    row — coefficients stay a |groups|-row DataFrame broadcast back
    into the next round, so the operator handles 5 groups or 10
    million identically, bounded by shuffle width, never by group
    size.  ``localCheckpoint`` per round cuts the iterative lineage
    (the ``pagerank_ppm`` discipline).

    Determinism: see :func:`irls_ppm_fragments` — integer sums are
    order-free, the solve is one fixed double expression tree, and the
    DuckDB oracle replays the identical trajectory from the same
    fragments.

    Input: ``df`` with integer fixed-point features ``x1q_col``
    (= round(x1 · fx1)), ``x2q_col`` (= round(x2 · fx2)) and a 0/1
    ``label_col``.  Output: one row per group —
    ``(group, group_n, w0_ppm, w1_ppm, w2_ppm)`` with coefficients in
    micro-units (w0 = intercept).
    """
    frag = irls_ppm_fragments(fx1, fx2, reg, div="div")
    data = df.select(
        F.col(group_col).alias("grp"),
        F.col(x1q_col).cast("bigint").alias("x1q"),
        F.col(x2q_col).cast("bigint").alias("x2q"),
        F.col(label_col).cast("bigint").alias("y"),
    )
    spark = df.sparkSession
    grp_type = dict(data.dtypes)["grp"]
    coef_schema = (
        f"grp {grp_type}, group_n bigint, w0u bigint, w1u bigint, w2u bigint"
    )
    sums = [
        (name, f"sum(CAST({expr} AS DECIMAL(38,0)))")
        for name, expr in frag["terms"].items()
    ]
    global _LAST_IRLS_ROUNDS
    _LAST_IRLS_ROUNDS = 0
    # Coefficients live on the DRIVER between rounds (r10, guide
    # §2.4/§5): they are |groups| rows of 4 integers — collecting
    # them costs nothing, and rebuilding each round's input as a
    # literal LocalRelation removes BOTH per-round coordination
    # jobs the old DataFrame-resident loop paid (the
    # localCheckpoint(eager) materialization and the broadcast
    # build over a checkpointed frame): each Newton round is now
    # exactly ONE job — scan the cached matrix, map-side-combine
    # the 9 exact-integer sums, Cramer-solve the 5-row aggregate
    # inside Catalyst, collect.  Numerically NOTHING changes: the
    # round map is the same Catalyst expression tree over the same
    # exact integers, only the transport of the tiny coefficient
    # frame differs (bigint → Python int → bigint, exact).
    # Right-size the cached matrix before the rounds (r10, the
    # fit_ready policy, guide §2.2/§2.6): the projection inherits
    # the upstream shuffle width (32 near-empty partitions for a
    # ~150k-row panel slice), and every Newton round re-pays that
    # many task launches for microseconds of compute each —
    # measured at sf0.1: 9 rounds on 32 partitions ≈ 10 s vs
    # ≈ 4.3 s on 4.  ~250k rows/partition ≈ 10 MB of 4-bigint rows;
    # the floor of 4 keeps the partial aggregation parallel.  At
    # cluster scale a billion-row matrix still gets thousands of
    # partitions — the coalesce is size-derived, not a constant.  The
    # cache itself matters as much: every Newton round (and nothing
    # else) re-scans the matrix, so without it the upstream plan —
    # typically a join tree — re-executes n_iter+1 times (26 s → ~7 s
    # at sf0.1).
    from sf_datalake_spark.ml.models import fit_ready

    with fit_ready(
        data, target_rows_per_partition=250_000, min_partitions=1
    ) as (data, _):
        if data.rdd.getNumPartitions() == 1:
            # Coalesce(1) advertises SinglePartition (a cached scan
            # reports UNKNOWN partitioning even at one partition), and
            # SinglePartition satisfies the groupBy's clustered
            # distribution — every Newton round's 9-sum aggregation
            # plans as ONE stage with no exchange (the PCA power loop's
            # r10 finding; measured there: 2 jobs/round → 1).  At any
            # real size the cache is many partitions and this is a
            # no-op.
            data = data.coalesce(1)
        counts = data.groupBy("grp").agg(
            F.count("*").alias("group_n")
        ).collect()
        coef_rows = sorted(
            (r["grp"], r["group_n"], 0, 0, 0) for r in counts
        )
        # Inline the coefficients as CASE literals when the group set is
        # small (r10, guide §2.4): the broadcast-join transport paid a
        # per-round broadcast build + AQE stage materialization that
        # dominated the round (measured at sf0.1, identical outputs
        # asserted: join+AQE ≈ 0.70 s/round, CASE literals with AQE
        # pinned off ≈ 0.29 s/round; execution itself is ~0.07 s).  AQE
        # is re-planning a 3-node projection+agg per round here — pure
        # coordination latency on a plan whose shape never changes —
        # so it is pinned off for the loop and restored after.  Both
        # transports evaluate the SAME fragment arithmetic on the SAME
        # exact integers; beyond _IRLS_LIT_MAX_GROUPS the broadcast
        # join remains (a CASE over millions of groups would explode
        # the plan).
        use_lit = (
            len(coef_rows) <= _IRLS_LIT_MAX_GROUPS
            and all(isinstance(r[0], (str, int)) for r in coef_rows)
        )
        # CONTRACT (r10 verdict #3): the AQE flip below is a
        # session-wide conf — Spark has no per-DataFrame AQE scope — so
        # this operator assumes SINGLE-THREADED driver execution, which
        # is how the bench, the oracle drive, and the driver contract
        # all run queries.  A concurrent query submitted from another
        # driver thread during the (sub-second) loop window would plan
        # without AQE; callers running multi-threaded drivers must
        # serialize around grouped-IRLS or accept that.  The previous
        # state is restored on exit, also on error.
        with scoped_confs(spark, {"spark.sql.adaptive.enabled": "false"}):
            for _ in range(n_iter):
                _LAST_IRLS_ROUNDS += 1
                if use_lit:
                    rnd = _irls_round_lit(data, coef_rows, frag, sums)
                else:
                    rnd = _irls_round(
                        data,
                        spark.createDataFrame(coef_rows, coef_schema),
                        frag,
                        sums,
                    )
                nxt_rows = sorted(
                    (r["grp"], r["group_n"], r["w0u"], r["w1u"], r["w2u"])
                    for r in rnd.collect()
                )
                # Early exit at the exact all-groups fixed point: the
                # round map is deterministic per group, so if EVERY
                # group's µ-unit coefficients came back unchanged,
                # rounds k+1..n_iter are bit-for-bit no-ops in BOTH
                # engines and the oracle's full-n_iter recursion lands
                # on these same coefficients.  With driver-resident
                # coefficients the check is a free tuple comparison, so
                # it runs EVERY round (the old frame-resident check
                # cost a join job and only ran past the halfway round).
                stable = nxt_rows == coef_rows
                coef_rows = nxt_rows
                if stable:
                    break
    return spark.createDataFrame(
        coef_rows,
        f"grp {grp_type}, group_n bigint, "
        "w0_ppm bigint, w1_ppm bigint, w2_ppm bigint",
    )


#: CASE-literal coefficient transport is used up to this many groups;
#: beyond it the broadcast-join path keeps the plan size bounded
_IRLS_LIT_MAX_GROUPS = 64


def _sql_lit(v) -> str:
    """SQL literal for a group key / µ-unit coefficient (str or int)."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return f"{int(v)}L"


def _irls_round_lit(data, coef_rows, frag, sums):
    """One Newton round with the (small) coefficient table inlined as
    CASE literals instead of a broadcast join — same rows, same
    arithmetic, no per-round broadcast build.  The explicit IN filter
    replicates the inner join's semantics exactly (rows whose group is
    not in the coefficient table — e.g. a NULL key — drop out)."""
    keys = ", ".join(_sql_lit(r[0]) for r in coef_rows)

    def case(idx):
        return (
            "CASE "
            + " ".join(
                f"WHEN grp = {_sql_lit(r[0])} THEN {_sql_lit(r[idx])}"
                for r in coef_rows
            )
            + " END"
        )

    rows = (
        data.where(f"grp IN ({keys})")
        .selectExpr(
            "grp", "x1q", "x2q", "y",
            case(1) + " AS group_n", case(2) + " AS w0u",
            case(3) + " AS w1u", case(4) + " AS w2u",
        )
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u", frag["z"] + " AS z")
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u", frag["p"] + " AS p")
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u",
                    frag["s"] + " AS s", frag["r"] + " AS r")
    )
    return _irls_solve(rows, frag, sums)


def _irls_round(data, coefs, frag, sums):
    """One Newton round: rows → exact-integer sums → Catalyst Cramer.
    Returns the next coefficients as a LAZY frame over the cached
    design matrix and the literal ``coefs`` LocalRelation — the caller
    collects it (one job), so no checkpoint is needed: lineage never
    compounds because each round starts from driver-resident rows."""
    rows = (
        data.join(F.broadcast(coefs), "grp")
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u", frag["z"] + " AS z")
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u", frag["p"] + " AS p")
        .selectExpr("grp", "x1q", "x2q", "y", "group_n",
                    "w0u", "w1u", "w2u",
                    frag["s"] + " AS s", frag["r"] + " AS r")
    )
    return _irls_solve(rows, frag, sums)


def _irls_solve(rows, frag, sums):
    """Shared tail of a Newton round: 9 exact-integer sums per group,
    then the 3×3 Cramer solve inside Catalyst."""
    agg = rows.groupBy("grp").agg(
        F.expr("max(group_n)").alias("n"),
        F.expr("max(w0u)").alias("w0u"),
        F.expr("max(w1u)").alias("w1u"),
        F.expr("max(w2u)").alias("w2u"),
        *[F.expr(expr).alias(name) for name, expr in sums],
    )
    return (
        agg.selectExpr(
            "grp", "n", "w0u", "w1u", "w2u",
            *[f"{expr} AS {name}" for name, expr in frag["solve_a"].items()],
        )
        .selectExpr(
            "grp", "n", "w0u", "w1u", "w2u",
            *[f"{expr} AS {name}" for name, expr in frag["dets"].items()],
        )
        .selectExpr(
            "grp",
            "n AS group_n",
            frag["w0_next"] + " AS w0u",
            frag["w1_next"] + " AS w1u",
            frag["w2_next"] + " AS w2u",
        )
    )


def irls_ppm_score_expr(fx1: int, fx2: int, div: str) -> str:
    """The decision expression paired with the fit: ``z`` in micro-units
    from the FINAL coefficients (same fragment as training), classify
    1 iff ``z > 0`` (⇔ p > 0.5 — exact integer comparison, no float)."""
    return irls_ppm_fragments(fx1, fx2, 0.0, div)["z"]


def irls_ppm_recursive_sql(
    fx1: int, fx2: int, reg: float, n_iter: int,
    data_cte: str = "data", name: str = "coefs",
) -> str:
    """The DuckDB recursive-CTE body replaying
    :func:`irls_logistic_groups_ppm` over a CTE/view ``data_cte`` with
    columns ``(grp, x1q, x2q, y)`` — shared by the grouped_models and
    calibration_curve oracles and the cross-engine unit test, so every
    replay derives from the same fragments.  Embed inside a
    ``WITH RECURSIVE`` list; final coefficients are the rows
    ``WHERE it = {n_iter}``."""
    f = irls_ppm_fragments(fx1, fx2, reg, div="//")
    sums = ", ".join(f"sum({e}) AS {n}" for n, e in f["terms"].items())
    solve_a = ", ".join(f"{e} AS {n}" for n, e in f["solve_a"].items())
    dets = ", ".join(f"{e} AS {n}" for n, e in f["dets"].items())
    return f"""
    {name}(it, grp, group_n, w0u, w1u, w2u) AS (
        SELECT 0, grp, count(*),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM {data_cte} GROUP BY 2
        UNION ALL
        SELECT it + 1, grp, n, {f['w0_next']}, {f['w1_next']}, {f['w2_next']}
        FROM (
            SELECT it, grp, n, w0u, w1u, w2u, {dets}
            FROM (
                SELECT it, grp, n, w0u, w1u, w2u, {solve_a}
                FROM (
                    SELECT it, grp, max(group_n) AS n, max(w0u) AS w0u,
                           max(w1u) AS w1u, max(w2u) AS w2u, {sums}
                    FROM (
                        SELECT it, grp, group_n, w0u, w1u, w2u, x1q, x2q, y,
                               {f['s']} AS s, {f['r']} AS r
                        FROM (
                            SELECT it, grp, group_n, w0u, w1u, w2u,
                                   x1q, x2q, y, {f['p']} AS p
                            FROM (
                                SELECT c.it AS it, c.grp AS grp,
                                       c.group_n AS group_n, c.w0u AS w0u,
                                       c.w1u AS w1u, c.w2u AS w2u,
                                       d.x1q AS x1q, d.x2q AS x2q,
                                       d.y AS y, {f['z']} AS z
                                FROM {name} c JOIN {data_cte} d
                                  ON d.grp = c.grp
                                WHERE c.it < {n_iter}
                            )
                        )
                    ) GROUP BY 1, 2
                )
            )
        )
    )"""
