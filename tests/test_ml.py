"""ML-layer tests, ending with the SURVEY.md §7.2 end-to-end slice:
panel → target → lag features → fill → assemble → logistic regression →
grouped split → predictions → threshold tuning → alert levels."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml import Pipeline
from pyspark.sql import functions as F

from sf_datalake_spark.ml import (
    binary_metrics,
    confusion_matrix,
    encoding_scaling_stages,
    feature_names_from_metadata,
    linear_contributions,
    make_classifier,
    optimal_fbeta_thresholds,
    vector_disassembler,
    with_alert_levels,
)
from sf_datalake_spark.ml.stages import SCALERS
from sf_datalake_spark.operators.split import hash_split
from sf_datalake_spark.operators.windows import with_lag
from sf_datalake_spark.transformers import MissingValuesHandler, TargetVariable

from tests.conftest import d


def test_stage_synthesis_shapes(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0, "A"), (2.0, 30.0, "B"), (3.0, 100.0, "A")],
        "ca double, effectif double, naf string",
    )
    stages = encoding_scaling_stages(
        {
            "ca": ["standard_scaler"],
            "effectif": ["bins"],
            "naf": ["string_indexer", "onehot"],
        },
        bins={"effectif": ["-inf", 10.0, 50.0, "inf"]},
    )
    out = Pipeline(stages=stages).fit(df).transform(df)
    assert "features" in out.columns
    names = feature_names_from_metadata(out)
    # effectif_bin + naf onehot slots + scaled ca
    assert any(n.startswith("effectif_bin") for n in names)
    assert any("naf_ix_onehot" in n for n in names)
    assert any("standard_scaler_output" in n for n in names)


def test_make_classifier_factory():
    lr = make_classifier("LogisticRegression", regParam=0.1)
    assert lr.getRegParam() == 0.1
    with pytest.raises(ValueError):
        make_classifier("SVM")


def test_fbeta_thresholds_match_reference_algorithm(spark):
    """Distributed histogram tuning == the reference's dense scan
    (sklearn-equivalent numpy reimplementation, tie → lowest)."""
    rng = np.random.RandomState(7)
    scores = rng.rand(500)
    labels = (scores + rng.normal(0, 0.3, 500) > 0.6).astype(int)
    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in zip(scores, labels)], "probability double, failure int"
    )
    got = optimal_fbeta_thresholds(df, betas=(0.5, 2.0), n_thr=101)

    thr = np.linspace(0, 1, 101)
    for beta in (0.5, 2.0):
        fs = []
        for t in thr:
            pred = scores >= t
            tp = int(np.sum(pred & (labels == 1)))
            fp = int(np.sum(pred & (labels == 0)))
            fn = int(np.sum(~pred & (labels == 1)))
            b2 = beta * beta
            denom = (1 + b2) * tp + fp + b2 * fn
            fs.append((1 + b2) * tp / denom if denom else 0.0)
        assert abs(got[beta] - thr[int(np.argmax(fs))]) < 1e-12


def test_threshold_histogram_exact_at_grid_scores(spark):
    """Scores EXACTLY equal to grid thresholds (0.29, 0.57, 0.58 compute
    score·100 as k−1e-14) must count as ≥ that threshold — the ULP guard
    regression (a score equal to t was counted below t)."""
    from sf_datalake_spark.ml.evaluation import _threshold_histogram

    tricky = [0.29, 0.57, 0.58, 0.0, 1.0, 0.005]
    df = spark.createDataFrame([(s, 1) for s in tricky], "probability double, failure int")
    got = dict(
        (b, p) for b, p, _ in _threshold_histogram(df, "probability", "failure", 101)
    )
    assert got == {29: 1, 57: 1, 58: 1, 0: 2, 100: 1}  # 0.005 → bucket 0

    # the converse trap: a score genuinely BELOW double(0.29) by less
    # than the ULP guard must NOT be promoted into bucket 29
    below = [0.29 - 1e-12, 0.57 - 1e-12]
    assert all(s < t for s, t in zip(below, (0.29, 0.57)))
    df2 = spark.createDataFrame([(s, 1) for s in below], "probability double, failure int")
    got2 = dict(
        (b, p) for b, p, _ in _threshold_histogram(df2, "probability", "failure", 101)
    )
    assert got2 == {28: 1, 56: 1}


def test_alert_levels(spark):
    df = spark.createDataFrame(
        [(0.1,), (0.5,), (0.9,)], "probability double"
    )
    out = with_alert_levels(df, {0.5: 0.8, 2.0: 0.3})
    got = {r["probability"]: r["alert_level"] for r in out.collect()}
    assert got == {0.1: 0, 0.5: 1, 0.9: 2}


def test_confusion_matrix(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.2, 1), (0.1, 0)], "probability double, failure int"
    )
    cm = confusion_matrix(df, threshold=0.5)
    assert cm == {"tp": 1, "fp": 1, "tn": 1, "fn": 1}


@pytest.fixture(scope="module")
def mock_panel(spark):
    """Randomized two-class panel: failing entities see revenue decay."""
    rng = np.random.RandomState(42)
    rows = []
    for e in range(60):
        fails = e % 3 == 0
        base = 1000 + 100 * rng.rand()
        for m in range(1, 13):
            decay = 0.85 ** m if fails else 1.0
            rows.append(
                (
                    f"{e:09d}",
                    d(f"2023-{m:02d}-01"),
                    float(base * decay * (1 + 0.05 * rng.randn())),
                    d("2024-03-01") if fails else None,
                )
            )
    return spark.createDataFrame(
        rows, "siren string, `période` date, ca double, date_jugement date"
    )


def test_end_to_end_slice(mock_panel):
    """SURVEY.md §7.2: every architectural boundary in ~40 lines."""
    labeled = TargetVariable(n_months=18).transform(mock_panel)
    feats = with_lag(labeled, "ca", [1], keys=["siren"], period_col="période")
    feats = MissingValuesHandler(strategy="value", value={"ca_lag1m": 0.0}).transform(feats)

    prep = Pipeline(stages=encoding_scaling_stages({"ca": ["standard_scaler"],
                                                    "ca_lag1m": ["standard_scaler"]}))
    model_input = prep.fit(feats).transform(feats)

    train, test = hash_split(model_input, "siren", test_fraction=0.3)
    lr = make_classifier("LogisticRegression", maxIter=20)
    model = lr.fit(train)
    preds = model.transform(test)

    # vector plumbing
    names = feature_names_from_metadata(preds)
    assert len(names) == 2
    disassembled = vector_disassembler(preds, names, keep=["siren"])
    assert set(disassembled.columns) == {"siren"} | set(names)
    contribs = linear_contributions(preds, model, keep=["siren"])
    assert len(contribs.columns) == 3

    # probability column + metrics + thresholds + alerts
    from pyspark.ml.functions import vector_to_array

    scored = preds.withColumn(
        "probability_1", F.element_at(vector_to_array("probability"), 2)
    )
    m = binary_metrics(preds)
    assert m["auc_roc"] > 0.8      # decaying revenue is very separable
    thresholds = optimal_fbeta_thresholds(scored, score_col="probability_1")
    assert set(thresholds) == {0.5, 2.0}
    alerts = with_alert_levels(scored, thresholds, score_col="probability_1")
    levels = {r["alert_level"] for r in alerts.collect()}
    assert levels <= {0, 1, 2}
    # failing entities should skew to higher alert levels
    mean_fail = alerts.groupBy("failure").agg(F.avg("alert_level").alias("a")).collect()
    by_label = {r["failure"]: r["a"] for r in mean_fail}
    assert by_label[1] > by_label[0]


def test_fit_ready_right_sizes_partitions(spark):
    from sf_datalake_spark.ml import fit_ready

    df = spark.range(0, 1000).repartition(32)
    with fit_ready(df, target_rows_per_partition=250) as (out, n):
        assert n == 1000
        assert out.rdd.getNumPartitions() == 4
        assert out.count() == 1000

    # already narrow enough: returned as-is (no widening coalesce)
    small = spark.range(0, 10).coalesce(2)
    with fit_ready(small, target_rows_per_partition=1) as (out2, n2):
        assert n2 == 10
        assert out2.rdd.getNumPartitions() == 2


def test_calibration_buckets_hand_case(spark):
    from sf_datalake_spark.ml.evaluation import calibration_buckets

    rows = [(0.05, 0), (0.08, 0), (0.55, 1), (0.52, 0), (1.0, 1)]
    df = spark.createDataFrame(rows, "probability double, failure int")
    out = {r["bin"]: r for r in calibration_buckets(df, n_bins=10).collect()}
    assert out[0]["n"] == 2 and out[0]["frac_positive"] == 0.0
    assert out[5]["n"] == 2 and out[5]["frac_positive"] == 0.5
    # score exactly 1.0 clamps into the top bin, not bin 10
    assert out[9]["n"] == 1 and out[9]["mean_score"] == 1.0
    # brier decomposition: sum of bucket sums equals total brier
    total = sum(r["brier_sum"] for r in out.values())
    expect = sum((p - y) ** 2 for p, y in rows)
    assert total == pytest.approx(expect, abs=1e-5)


def test_population_stability_properties(spark):
    from sf_datalake_spark.ml.evaluation import population_stability

    rows = (
        [("base", float(v % 100)) for v in range(1000)]
        + [("same", float(v % 100)) for v in range(1000)]
        + [("shifted", 50.0 + (v % 50)) for v in range(1000)]
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {r["grp"]: r["psi"] for r in population_stability(
        df, "v", "grp", "base", lo=0.0, hi=100.0, n_bins=10
    ).collect()}
    assert "base" not in out
    # identical distribution -> PSI ~ 0; half-range shift -> PSI >> 0.25
    assert out["same"] == pytest.approx(0.0, abs=1e-6)
    assert out["shifted"] > 0.25
    # PSI is finite even when a group has empty bins (smoothing)
    assert all(abs(v) < float("inf") for v in out.values())


def test_grouped_logistic_matches_mllib_single_group(spark):
    """The per-group IRLS fit must reproduce MLlib's LogisticRegression
    (same family, standardization off) on one group — pins the solver
    semantics to the engine's global path."""
    import numpy as np
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from sf_datalake_spark.ml.grouped import fit_predict_per_group

    rng = np.random.RandomState(3)
    X = rng.normal(size=(300, 2))
    y = (X @ np.array([1.5, -2.0]) + 0.3 + rng.normal(0, 0.8, 300) > 0)
    rows = [("g1", float(a), float(b), float(lbl)) for (a, b), lbl in zip(X, y)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, label double")

    got = fit_predict_per_group(
        df, ["g"], ["x1", "x2"], "label", reg=0.1 / 300
    )
    assembled = VectorAssembler(inputCols=["x1", "x2"], outputCol="features")
    ml = LogisticRegression(
        regParam=0.1 / 300, standardization=False, maxIter=200, tol=1e-12
    ).fit(assembled.transform(df))
    from pyspark.ml.functions import vector_to_array

    preds = ml.transform(assembled.transform(df)).withColumn(
        "ref_p1", F.element_at(vector_to_array("probability"), 2)
    ).select("x1", "x2", "ref_p1")
    joined = got.join(preds, ["x1", "x2"]).collect()
    assert len(joined) == 300
    for r in joined:
        assert abs(r["p1"] - r["ref_p1"]) < 1e-4, (r["p1"], r["ref_p1"])


def test_grouped_logistic_degenerate_groups(spark):
    from sf_datalake_spark.ml.grouped import fit_predict_per_group

    df = spark.createDataFrame(
        [("tiny", 1.0, 1.0)] * 3                       # < min_rows
        + [("onelabel", float(i), 1.0) for i in range(20)],  # single class
        "g string, x1 double, label double",
    )
    out = fit_predict_per_group(df, ["g"], ["x1"], "label", min_rows=8)
    rows = {(r["g"], r["converged_iter"], r["p1"]) for r in out.collect()}
    assert all(it == 0 for _, it, _ in rows)
    assert {p for g, _, p in rows if g == "onelabel"} == {1.0}


def _irls_ppm_duck_sql(fx1, fx2, reg, n_iter):
    """Generic DuckDB replay of irls_logistic_groups_ppm over a `data`
    view (grp, x1q, x2q, y) — built from the SAME shared recursive-CTE
    builder the production oracles use."""
    from sf_datalake_spark.ml.grouped import irls_ppm_recursive_sql

    return f"""
    WITH RECURSIVE {irls_ppm_recursive_sql(fx1, fx2, reg, n_iter)}
    SELECT grp, group_n, w0u AS w0_ppm, w1u AS w1_ppm, w2u AS w2_ppm
    FROM coefs WHERE it = {n_iter} ORDER BY grp
    """


def test_irls_ppm_matches_duckdb_exactly(spark):
    """Cross-engine bit-exactness of the distributed fixed-point IRLS:
    the Catalyst trajectory and the DuckDB recursive-CTE replay (same
    fragments, `div` vs `//`) must agree on every coefficient integer
    after 8 rounds — the guard behind the grouped_models oracle."""
    import duckdb
    import numpy as np
    import pandas as pd

    from sf_datalake_spark.ml.grouped import irls_logistic_groups_ppm

    rng = np.random.RandomState(9)
    frames = []
    for g in ("a", "b", "c"):
        n = 200
        x1 = rng.randint(0, 60000, n)          # price-like, fx1=10000
        x2 = rng.randint(0, 400, n)            # qty-like,  fx2=100
        z = 0.8 * (x1 / 10000.0) - 1.2 * (x2 / 100.0) + rng.normal(0, 1, n)
        frames.append(pd.DataFrame({
            "grp": g, "x1q": x1, "x2q": x2,
            "y": (z > np.median(z)).astype("int64"),
        }))
    pdf = pd.concat(frames, ignore_index=True)

    df = spark.createDataFrame(pdf)
    got = {
        r["grp"]: (r["group_n"], r["w0_ppm"], r["w1_ppm"], r["w2_ppm"])
        for r in irls_logistic_groups_ppm(
            df, "grp", "x1q", 10000, "x2q", 100, "y", reg=1e-6, n_iter=8
        ).collect()
    }
    con = duckdb.connect()
    con.register("data", pdf)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(_irls_ppm_duck_sql(10000, 100, 1e-6, 8)).fetchall()
    }
    assert got == want, (got, want)


def test_irls_ppm_early_exit_is_oracle_invisible(spark):
    """Round-10 trim: the Spark IRLS loop breaks once EVERY group's
    µ-unit coefficients come back unchanged (exact fixed point ⇒ all
    later rounds replay bit-for-bit in both engines), while the DuckDB
    oracle always runs the full recursion.  At n_iter=14 the trajectory
    on this data pins well before the end, so the exit must actually
    fire AND the coefficients must equal the full 14-round replay."""
    import duckdb
    import numpy as np
    import pandas as pd

    import sf_datalake_spark.ml.grouped as gm

    rng = np.random.RandomState(3)
    frames = []
    for g in ("a", "b"):
        n = 150
        x1 = rng.randint(0, 60000, n)
        x2 = rng.randint(0, 400, n)
        # labels independent of x → both groups' µ-unit coefficients pin
        # by round 4 (DuckDB-probed); the exit check starts at round 8
        # (past n_iter//2) and must fire there
        frames.append(pd.DataFrame({
            "grp": g, "x1q": x1, "x2q": x2,
            "y": rng.randint(0, 2, n).astype("int64"),
        }))
    pdf = pd.concat(frames, ignore_index=True)

    got = {
        r["grp"]: (r["group_n"], r["w0_ppm"], r["w1_ppm"], r["w2_ppm"])
        for r in gm.irls_logistic_groups_ppm(
            spark.createDataFrame(pdf), "grp", "x1q", 10000, "x2q", 100,
            "y", reg=1e-6, n_iter=14,
        ).collect()
    }
    assert gm._LAST_IRLS_ROUNDS < 14, (
        "all-groups early exit never fired by round 14 — the trim is "
        f"dead code (ran {gm._LAST_IRLS_ROUNDS} rounds)"
    )
    con = duckdb.connect()
    con.register("data", pdf)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(_irls_ppm_duck_sql(10000, 100, 1e-6, 14)).fetchall()
    }
    assert got == want, (gm._LAST_IRLS_ROUNDS, got, want)


def test_irls_ppm_close_to_float_irls(spark):
    """Model-quality pin: the fixed-point trajectory lands within the
    quantization band of the float IRLS optimum on separable-ish data
    (|Δw| ≲ 1e-2 per coefficient — µ-rounding + 8 fixed rounds)."""
    import numpy as np
    import pandas as pd

    from sf_datalake_spark.ml.grouped import (
        _irls_logistic,
        irls_logistic_groups_ppm,
    )

    rng = np.random.RandomState(4)
    n = 500
    x1 = rng.randint(0, 60000, n)
    x2 = rng.randint(0, 400, n)
    X = np.column_stack([x1 / 10000.0, x2 / 100.0])
    z = 1.1 * X[:, 0] - 0.7 * X[:, 1] - 0.5 + rng.normal(0, 1.0, n)
    y = (z > 0).astype("int64")
    pdf = pd.DataFrame({"grp": "g", "x1q": x1, "x2q": x2, "y": y})

    out = irls_logistic_groups_ppm(
        spark.createDataFrame(pdf), "grp", "x1q", 10000, "x2q", 100, "y",
        reg=1e-6, n_iter=8,
    ).collect()[0]
    coef, intercept, _ = _irls_logistic(X, y.astype(float), reg=1e-6)
    assert abs(out["w0_ppm"] / 1e6 - intercept) < 1e-2
    assert abs(out["w1_ppm"] / 1e6 - coef[0]) < 1e-2
    assert abs(out["w2_ppm"] / 1e6 - coef[1]) < 1e-2


def test_irls_ppm_lit_and_join_transports_identical(spark):
    """r10: the CASE-literal coefficient transport (small group sets)
    and the broadcast-join transport (big group sets) must walk the
    identical integer trajectory — same fragments, same exact
    arithmetic, only the plumbing differs.  Forcing the join path via
    the group-count threshold and comparing against the default (lit)
    path guards the equivalence; also asserts the AQE pin is restored."""
    import numpy as np
    import pandas as pd

    import sf_datalake_spark.ml.grouped as G

    rng = np.random.RandomState(17)
    n = 300
    pdf = pd.DataFrame({
        "grp": rng.choice(["g'1", "g2", "g3"], n),  # quote exercises escaping
        "x1q": rng.randint(0, 60000, n),
        "x2q": rng.randint(0, 400, n),
        "y": rng.randint(0, 2, n),
    })
    df = spark.createDataFrame(pdf)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")

    def run():
        return sorted(
            map(tuple, G.irls_logistic_groups_ppm(
                df, "grp", "x1q", 10000, "x2q", 100, "y",
                reg=1e-6, n_iter=4,
            ).collect())
        )

    lit_rows = run()
    saved = G._IRLS_LIT_MAX_GROUPS
    G._IRLS_LIT_MAX_GROUPS = 0  # force the broadcast-join transport
    try:
        join_rows = run()
    finally:
        G._IRLS_LIT_MAX_GROUPS = saved
    assert lit_rows == join_rows
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before


def test_irls_ppm_degenerate_single_class(spark):
    """A single-class group must stay finite and deterministic: the
    s >= 1 Newton-weight floor keeps the Hessian nonsingular and the
    ±50 coefficient clamp bounds the drift — no NaN/overflow, and the
    decision rule still classifies the group correctly."""
    import pandas as pd

    from sf_datalake_spark.ml.grouped import irls_logistic_groups_ppm

    pdf = pd.DataFrame({
        "grp": ["one"] * 30,
        "x1q": list(range(0, 60000, 2000)),
        "x2q": [100] * 30,
        "y": [1] * 30,
    })
    out = irls_logistic_groups_ppm(
        spark.createDataFrame(pdf), "grp", "x1q", 10000, "x2q", 100, "y",
        reg=1e-6, n_iter=8,
    ).collect()
    assert len(out) == 1
    r = out[0]
    for c in ("w0_ppm", "w1_ppm", "w2_ppm"):
        assert abs(r[c]) <= 50_000_000


def test_fit_ready_coalesce_paths_leak_no_cache(spark):
    """r10 advice-verified leak: at small scale both iterative-loop
    operators take the coalesce(1) SinglePartition branch, which
    rebinds the frame fit_ready cached — unpersist() on the coalesced
    wrapper is not sameResult with the cache entry, so each call leaked
    one persisted frame in the shared session.  Both operators must
    now release every block they persist."""
    import pandas as pd

    from sf_datalake_spark.ml.exploration import pca_top2_ppm
    from sf_datalake_spark.ml.grouped import irls_logistic_groups_ppm

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()

    pdf = pd.DataFrame({
        "rid": [f"r{i}" for i in range(40)],
        "e0": [float(i % 7) for i in range(40)],
        "e1": [float((3 * i) % 11) for i in range(40)],
        "e2": [float((5 * i) % 13) for i in range(40)],
    })
    pca_top2_ppm(
        spark.createDataFrame(pdf), "rid", ["e0", "e1", "e2"], n_iter=3
    ).write.format("noop").mode("overwrite").save()
    # Exactly ONE entry may remain: the eager localCheckpoint of the
    # returned frame (intentional — the caller/bench releases it).
    # Before the fix this was 2: checkpoint + the leaked fit_ready
    # cache.
    assert jsc.getPersistentRDDs().size() <= before + 1, \
        "pca_top2_fixed_basis_ppm leaked a persisted frame"
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    # the blanket release above also drops any pre-test leftovers from
    # the shared session — re-baseline for the IRLS half
    before = jsc.getPersistentRDDs().size()

    ipdf = pd.DataFrame({
        "grp": ["a"] * 30 + ["b"] * 30,
        "x1q": [(i * 997) % 60000 for i in range(60)],
        "x2q": [(i * 37) % 400 for i in range(60)],
        "y": [i % 2 for i in range(60)],
    })
    irls_logistic_groups_ppm(
        spark.createDataFrame(ipdf), "grp", "x1q", 10000, "x2q", 100, "y",
        reg=1e-6, n_iter=3,
    ).write.format("noop").mode("overwrite").save()
    assert jsc.getPersistentRDDs().size() == before, \
        "irls_logistic_groups_ppm leaked a persisted frame"
