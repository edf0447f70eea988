"""Metamorphic: the distributed SparkBackend produces the same fits as
the LocalBackend (same operator contract, different execution). This is
the core 100 TB claim — data-sized work as Spark passes only."""

import numpy as np
import pandas as pd
import pytest

from golem_spark.path import owl
from golem_spark.predict import predict
from golem_spark.score import score
from tests.conftest import random_problem


def _to_spark(spark, x, y, label_name="label"):
    cols = {f"x{j}": x[:, j] for j in range(x.shape[1])}
    cols[label_name] = y
    return spark.createDataFrame(pd.DataFrame(cols)), [f"x{j}" for j in range(x.shape[1])]


@pytest.mark.parametrize("family,response", [
    ("gaussian", "gaussian"),
    ("binomial", "binomial"),
    ("poisson", "poisson"),
])
def test_spark_equals_local(spark, family, response):
    x, y, _ = random_problem(n=200, p=5, response=response, seed=21,
                             amplitude=0.5 if response == "poisson" else 3.0)
    df, feats = _to_spark(spark, x, y)
    local = owl(x, y, family=family, n_sigma=8)
    dist = owl(df=df, feature_cols=feats, label_col="label",
               family=family, n_sigma=8)
    K = min(local.n_sigma, dist.n_sigma)
    # local runs reference-parity FISTA, distributed runs prox-Newton;
    # both stop at tol_rel_gap=1e-5, so cross-solver agreement is ~1e-3
    # (the same tolerance the reference uses for cross-implementation
    # oracles, test-lasso.R:22-23)
    np.testing.assert_allclose(local.coefficients[:, :, :K],
                               dist.coefficients[:, :, :K], atol=2e-3)
    np.testing.assert_allclose(local.sigma[:K], dist.sigma[:K], rtol=1e-9)


def test_fused_lambda_max_gradient_equals_scan(spark):
    """The grouped stats pass derives the binomial/multinomial
    sigma_max gradient (and null means) driver-side with zero extra
    scans; it must equal the dedicated aggregation pass it replaces."""
    from golem_spark.backends import build_spark_backend

    for fam, resp, m in (("binomial", "binomial", 1),
                         ("multinomial", "multinomial", 2)):
        x, y, _ = random_problem(n=300, p=5, n_targets=max(m, 2),
                                 response=resp, seed=17)
        df, feats = _to_spark(spark, x, y.astype(float))
        backend, _ = build_spark_backend(df, feats, "label", fam)
        try:
            fused = getattr(backend, "_lam_max_grad", None)
            assert fused is not None, f"{fam}: gradient not fused"
            fused_mu = backend._null_mu.copy()
            # force the scan path and compare
            backend._lam_max_grad = None
            scanned = backend.lambda_max_gradient()
            np.testing.assert_allclose(fused, scanned, rtol=1e-9,
                                       atol=1e-12, err_msg=fam)
            np.testing.assert_allclose(fused_mu, backend._null_mu,
                                       rtol=1e-12, err_msg=fam)
        finally:
            backend.unpersist()


@pytest.mark.parametrize("layout", ["dense", "sparse"])
def test_owl_releases_persisted_frame_on_error(spark, monkeypatch, layout):
    """A df-mode fit that raises after its backend was built must not
    leave the backend's frame in the session's CacheManager. The frame
    is never materialized before the error, so getPersistentRDDs() would
    not show it; DataFrame.storageLevel asks the CacheManager."""
    from pyspark.sql import functions as F

    x, y, _ = random_problem(n=120, p=2, response="binomial", seed=29)
    df, feats = _to_spark(spark, x, y)
    if layout == "dense":
        kwargs = {"feature_cols": feats}
    else:
        df = df.select(F.array(F.lit(0), F.lit(1)).alias("idx"),
                       F.array(*[F.col(c) for c in feats]).alias("val"),
                       "label")
        kwargs = {"sparse_features": ("idx", "val"), "sparse_p": 2}
    persisted = []
    orig = type(df).persist

    def spy(self, *a, **kw):
        persisted.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(df), "persist", spy)
    with pytest.raises(ValueError, match="user lambda length 3"):
        owl(df=df, label_col="label", family="binomial",
            lam=[3.0, 2.0, 1.0], **kwargs)
    assert persisted, "the backend build persisted nothing"
    for frame in persisted:
        assert not frame.storageLevel.useMemory
        assert not frame.storageLevel.useDisk


def test_sparse_build_releases_projection_on_error(spark, monkeypatch):
    """build_sparse_backend persists its (idx, val, label) projection
    before the stats pass; a response it rejects inside the build must
    not leave that projection in the CacheManager."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({
        "v0": np.linspace(0.1, 6.0, 60),
        "label": ["a", "b", "c"] * 20}))
    df = df.select(F.array(F.lit(0)).alias("idx"),
                   F.array("v0").alias("val"), "label")
    persisted = []
    orig = type(df).persist

    def spy(self, *a, **kw):
        persisted.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(df), "persist", spy)
    with pytest.raises(ValueError, match="exactly 2 classes, got 3"):
        owl(df=df, label_col="label", family="binomial",
            sparse_features=("idx", "val"), sparse_p=1)
    assert persisted, "the sparse build persisted nothing"
    for frame in persisted:
        assert not frame.storageLevel.useMemory
        assert not frame.storageLevel.useDisk


def test_grouped_stats_rejects_nulls(spark):
    """The grouped binomial/multinomial stats pass must reject null
    labels (a null GROUP, not a null-count aggregate) and null
    features exactly like the flat dense pass (R/owl.R:350-351)."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(pd.DataFrame({
        "x0": [1.0, 2.0, 3.0, 4.0],
        "x1": [0.5, 0.25, 0.125, 1.5],
        "label": ["a", "b", "a", "b"]}))
    null_lab = base.withColumn(
        "label", F.when(F.col("x0") < 2, None).otherwise(F.col("label")))
    with pytest.raises(ValueError, match="label"):
        owl(df=null_lab, feature_cols=["x0", "x1"], label_col="label",
            family="binomial", n_sigma=2)
    null_feat = base.withColumn(
        "x1", F.when(F.col("x0") < 2, None).otherwise(F.col("x1")))
    with pytest.raises(ValueError, match="x1"):
        owl(df=null_feat, feature_cols=["x0", "x1"], label_col="label",
            family="binomial", n_sigma=2)


def test_grouped_stats_bounds_label_cardinality(spark):
    """A mistakenly continuous label under family='binomial' must raise
    the class-cardinality error from a LIMIT-capped collect — never
    ship n_distinct x 3p grouped aggregate rows to the driver."""
    import pyspark.sql.functions as F

    cont = spark.range(0, 2000).select(
        (F.col("id") % 7).cast("double").alias("x0"),
        (F.col("id") % 11).cast("double").alias("x1"),
        (F.col("id") / 10.0).alias("label"))  # 2000 distinct values
    with pytest.raises(ValueError, match="distinct label values"):
        owl(df=cont, feature_cols=["x0", "x1"], label_col="label",
            family="binomial", n_sigma=2)
    with pytest.raises(ValueError, match="distinct label values"):
        owl(df=cont, feature_cols=["x0", "x1"], label_col="label",
            family="multinomial", n_sigma=2)


def test_spark_multinomial_equals_local(spark):
    x, y, _ = random_problem(n=200, p=4, n_targets=2,
                             response="multinomial", seed=22)
    df, feats = _to_spark(spark, x, y.astype(int))
    local = owl(x, y.astype(int), family="multinomial", n_sigma=5)
    dist = owl(df=df, feature_cols=feats, label_col="label",
               family="multinomial", n_sigma=5)
    K = min(local.n_sigma, dist.n_sigma)
    np.testing.assert_allclose(local.coefficients[:, :, :K],
                               dist.coefficients[:, :, :K], atol=2e-3)


def test_spark_multinomial_6class_structured_equals_local(spark):
    """Path-level exercise of the _KronH structured solver at m = 5
    (6 classes): p_total*m = 15*5 = 75 > PN_LOCAL_H_LIMIT['multinomial']
    = 60, so the distributed fit takes the Bohning fixed-majorization
    path whose subproblems run through _KronH eigensystems — cross-
    checked against the independent local FISTA solver. Guards the
    m-generic eigendecomposition algebra beyond its m = 2 production
    uses (VERDICT r11 item 6)."""
    from golem_spark.solvers import pn_local_hessian

    x, y, _ = random_problem(n=300, p=13, n_targets=5, q=0.15,
                             amplitude=1.0, response="multinomial",
                             seed=61)
    assert len(np.unique(y)) == 6
    # the gate that routes this shape onto the structured path
    assert not pn_local_hessian("multinomial", 14 * 5)
    df, feats = _to_spark(spark, x, y.astype(int))
    # short 2-point path: the Bohning bound's linear rate at m = 5
    # costs one distributed pass per outer iteration, so a deep path
    # here is test-suite poison; 2 points exercise warm starts +
    # the structured subproblem without it
    local = owl(x, y.astype(int), family="multinomial", n_sigma=2,
                lambda_min_ratio=0.5)
    dist = owl(df=df, feature_cols=feats, label_col="label",
               family="multinomial", n_sigma=2, lambda_min_ratio=0.5)
    assert dist.coefficients.shape[1] == 5  # m-1 targets, 6 classes
    K = min(local.n_sigma, dist.n_sigma)
    np.testing.assert_allclose(local.coefficients[:, :, :K],
                               dist.coefficients[:, :, :K], atol=2e-3)
    np.testing.assert_allclose(local.sigma[:K], dist.sigma[:K],
                               rtol=1e-9)


def test_spark_multinomial_kron_kkt_reentry(spark):
    """VERDICT r12 item 6: exercise the subset-keyed kron-eig cache
    (path.py fit_subset) under KKT RE-ENTRY at m >= 3. Seed 0's pinned
    sigmas force the strong rule to miss (verified: the local fit
    records 18 and 7 violations with active sets 19 and 18 of 21), so
    fit_subset re-runs on a GROWN subset mid-point — the one
    cache-interaction path the 6-class test leaves implicit (there the
    screening pass happens to be clean). Asserts a violation actually
    occurred on a STRICT subset AND structured (Bohning/_KronH)
    distributed coefficients match the independent local FISTA
    solutions."""
    from golem_spark.solvers import pn_local_hessian

    x, y, _ = random_problem(n=250, p=20, n_targets=3, q=0.2,
                             amplitude=1.2, response="multinomial",
                             seed=0)
    assert len(np.unique(y)) == 4
    # p_total*m = 21*3 = 63 > 60: the distributed fit routes onto the
    # _KronH structured path
    assert not pn_local_hessian("multinomial", 21 * 3)
    sigmas = [0.3818181906638856, 0.14066302411596354]
    df, feats = _to_spark(spark, x, y.astype(int))
    local = owl(x, y.astype(int), family="multinomial", screening=True,
                sigma=sigmas)
    dist = owl(df=df, feature_cols=feats, label_col="label",
               family="multinomial", screening=True, sigma=sigmas)
    p_total = 21
    for fit in (local, dist):
        assert any(
            sum(v) > 0 and len(a) < p_total
            for v, a in zip(fit.violations, fit.active_sets)), (
            "expected a KKT violation on a strict subset; got "
            f"violations={fit.violations} "
            f"sizes={[len(a) for a in fit.active_sets]}")
    np.testing.assert_allclose(dist.coefficients, local.coefficients,
                               atol=2e-3)


def test_spark_predict_and_score(spark):
    x, y, _ = random_problem(n=150, p=4, seed=23)
    df, feats = _to_spark(spark, x, y)
    fit = owl(x, y, family="gaussian", n_sigma=6)
    # Spark-side predictions equal numpy predictions
    pdf = (predict(fit, df=df, feature_cols=feats,
                   path_idx=fit.n_sigma - 1, type="response")
           .select("pred_0").toPandas())
    np_pred = predict(fit, x, path_idx=fit.n_sigma - 1, type="response")[:, 0]
    np.testing.assert_allclose(np.sort(pdf["pred_0"].to_numpy()),
                               np.sort(np_pred), atol=1e-9)
    # Spark-side scores equal numpy scores
    s_spark = score(fit, df=df, feature_cols=feats, label_col="label",
                    measure="mse")
    s_np = score(fit, x, y, measure="mse")
    np.testing.assert_allclose(s_spark, s_np, atol=1e-9)


def test_spark_auc_matches_numpy(spark):
    x, y, _ = random_problem(n=200, p=4, response="binomial", seed=24)
    df, feats = _to_spark(spark, x, y.astype(float))
    fit = owl(x, y.astype(float), family="binomial", n_sigma=5)
    a_spark = score(fit, df=df, feature_cols=feats, label_col="label", measure="auc")
    a_np = score(fit, x, y.astype(float), measure="auc")
    np.testing.assert_allclose(a_spark, a_np, atol=1e-12)


def test_spark_null_rejection(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0], "label": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="missing"):
        owl(df=df, feature_cols=["a"], label_col="label", family="gaussian")


def test_lineitem_regression(spark):
    """Flagship distributed fit on real test data: predict l_quantity
    from price/discount/tax features of lineitem at sf0.001."""
    from golem_spark.session import load_tables

    tables = load_tables(spark, "/root/testdata/sf0.001")
    li = tables["lineitem"]
    fit = owl(df=li, feature_cols=["l_extendedprice", "l_discount", "l_tax"],
              label_col="l_quantity", family="gaussian", n_sigma=10)
    assert fit.n_sigma >= 1
    assert fit.coefficients.shape == (4, 1, fit.n_sigma)
    mse = score(fit, df=li, feature_cols=["l_extendedprice", "l_discount", "l_tax"],
                label_col="l_quantity", measure="mse")
    assert np.all(np.isfinite(mse))


def _wauc_direct(y01, prob, w):
    """O(n^2) weighted Mann-Whitney with 0.5 tie credit — independent of
    the engine's formulation."""
    num = W1 = W0 = 0.0
    for i in range(len(prob)):
        if y01[i] != 1.0:
            continue
        W1 += w[i]
        for j in range(len(prob)):
            if y01[j] != 0.0:
                continue
            if prob[i] > prob[j]:
                num += w[i] * w[j]
            elif prob[i] == prob[j]:
                num += 0.5 * w[i] * w[j]
    W0 = sum(w[j] for j in range(len(prob)) if y01[j] == 0.0)
    return num / (W1 * W0)


def test_weighted_auc_matches_direct(spark):
    """R/score.R:137-166 weighted AUC, deterministic average-rank ties."""
    from golem_spark.score import _auc_np

    rng = np.random.default_rng(7)
    n = 120
    prob = np.round(rng.uniform(size=n), 1)  # force ties
    y01 = (rng.uniform(size=n) < 0.4).astype(float)
    w = rng.uniform(0.5, 3.0, size=n)
    direct = _wauc_direct(y01, prob, w)
    np.testing.assert_allclose(_auc_np(y01, prob, w), direct, rtol=1e-12)
    # unweighted == all-ones weights
    np.testing.assert_allclose(_auc_np(y01, prob),
                               _auc_np(y01, prob, np.ones(n)), rtol=0)


def test_spark_weighted_auc_matches_numpy(spark):
    x, y, _ = random_problem(n=200, p=4, response="binomial", seed=31)
    rng = np.random.default_rng(31)
    w = rng.uniform(0.5, 2.0, size=200)
    cols = {f"x{j}": x[:, j] for j in range(x.shape[1])}
    cols["label"] = y.astype(float)
    cols["w"] = w
    df = spark.createDataFrame(pd.DataFrame(cols))
    feats = [f"x{j}" for j in range(x.shape[1])]
    fit = owl(x, y.astype(float), family="binomial", n_sigma=4)
    a_np = score(fit, x, y.astype(float), measure="auc", weights=w)
    a_spark = score(fit, df=df, feature_cols=feats, label_col="label",
                    measure="auc", weights="w")
    np.testing.assert_allclose(a_spark, a_np, atol=1e-12)


def test_spark_auc_plan_has_no_window(spark):
    """Scale gate (VERDICT r4 item 4): the distributed AUC must not rank
    via an unpartitioned window (single-task sort); its frame is
    range-partitioned and window-free."""
    from pyspark.sql import functions as F

    from golem_spark.score import _auc_ranged_frame

    x, y, _ = random_problem(n=50, p=3, response="binomial", seed=5)
    df, feats = _to_spark(spark, x, y.astype(float))
    probs = [F.col(feats[0]).cast("double"), F.col(feats[1]).cast("double")]
    ranged = _auc_ranged_frame(df, F.col("label"), probs, None)
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "rangepartitioning" in plan.lower()


def test_spark_auc_partitioning_invariant(spark):
    """The one-pass AUC's partials are counts/half-integers, so the
    result must be BITWISE identical under any input partitioning —
    the determinism property the oracle hash relies on."""
    from pyspark.sql import functions as F

    from golem_spark.score import _spark_auc_all

    x, y, _ = random_problem(n=300, p=3, response="binomial", seed=41)
    cols = {f"x{j}": x[:, j] for j in range(3)}
    cols["label"] = y.astype(float)
    base = spark.createDataFrame(pd.DataFrame(cols))
    probs = [F.col("x0").cast("double"),
             (F.col("x1") + F.col("x2")).cast("double")]
    a = _spark_auc_all(base.repartition(7), F.col("label"), probs)
    b = _spark_auc_all(base.repartition(2), F.col("label"), probs)
    assert a.tolist() == b.tolist()


def test_segment_auc_matches_numpy_per_segment(spark):
    from pyspark.sql import functions as F

    from golem_spark.score import _auc_np, segment_auc

    rng = np.random.default_rng(13)
    n = 240
    seg = rng.choice(["a", "b", "c"], size=n)
    prob = np.round(rng.uniform(size=n), 1)  # force ties
    y01 = (rng.uniform(size=n) < 0.5).astype(float)
    df = spark.createDataFrame(pd.DataFrame(
        {"seg": seg, "prob": prob, "label": y01}))
    out = {r["segment"]: r["auc"] for r in
           segment_auc(df, F.col("label"), F.col("prob"), "seg").collect()}
    for sv in ("a", "b", "c"):
        m = seg == sv
        np.testing.assert_allclose(out[sv], _auc_np(y01[m], prob[m]),
                                   atol=1e-12)
