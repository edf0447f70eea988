"""Sparse-native backend (per-row (indices, values) arrays): the
reference's dgCMatrix role (R/owl.R:353-360, tests/testthat/
test-sparsity.R). Metamorphic: sparse == dense on the same data, with
the sparse path never densifying and centering rejected."""

import numpy as np
import pandas as pd
import pytest

from golem_spark.path import owl
from tests.conftest import random_problem


def _sparse_frames(spark, X, y):
    n = X.shape[0]
    idx = [list(np.flatnonzero(X[i]).astype(int)) for i in range(n)]
    val = [[float(v) for v in X[i, np.flatnonzero(X[i])]] for i in range(n)]
    return spark.createDataFrame(pd.DataFrame({"idx": idx, "val": val,
                                               "label": list(y)}))


def _dense_frame(spark, X, y):
    cols = {f"x{j}": X[:, j] for j in range(X.shape[1])}
    cols["label"] = list(y)
    return spark.createDataFrame(pd.DataFrame(cols)), \
        [f"x{j}" for j in range(X.shape[1])]


@pytest.fixture(scope="module")
def half_dense():
    x, y, _ = random_problem(n=300, p=20, density=0.5, seed=71)
    return x, y


def test_sparse_equals_dense_gaussian(spark, half_dense):
    """density-0.5 metamorphic (mirrors test-sparsity.R:1-23)."""
    X, y = half_dense
    df = _sparse_frames(spark, X, y)
    fs = owl(df=df, sparse_features=("idx", "val"), sparse_p=20,
             label_col="label", family="gaussian", n_sigma=5)
    fl = owl(X, y, family="gaussian", n_sigma=5, center=False, scale="l2")
    K = min(fs.n_sigma, fl.n_sigma)
    np.testing.assert_allclose(fs.coefficients[:, :, :K],
                               fl.coefficients[:, :, :K], atol=1e-9)


@pytest.mark.parametrize("family,response", [("binomial", "binomial"),
                                             ("poisson", "poisson"),
                                             ("multinomial", "multinomial")])
def test_sparse_equals_dense_spark(spark, family, response):
    """Same solver (prox-Newton) on both representations: tight match."""
    x, y, _ = random_problem(n=250, p=12, density=0.5, response=response,
                             n_targets=2 if family == "multinomial" else 1,
                             seed=72)
    if family == "binomial":
        y = np.where(y > 0, "b", "a")
    elif family == "multinomial":
        y = np.asarray([str(v) for v in y])
    dfs = _sparse_frames(spark, x, y)
    dfd, feats = _dense_frame(spark, x, y)
    fs = owl(df=dfs, sparse_features=("idx", "val"), sparse_p=12,
             label_col="label", family=family, n_sigma=4)
    fd = owl(df=dfd, feature_cols=feats, label_col="label", family=family,
             n_sigma=4, center=False, scale="l2")
    K = min(fs.n_sigma, fd.n_sigma)
    np.testing.assert_allclose(fs.coefficients[:, :, :K],
                               fd.coefficients[:, :, :K],
                               rtol=1e-6, atol=1e-8)


def test_sparse_wide_one_hot_fit(spark):
    """Hashed one-hot features p=400, 3 nnz/row: screening + active-set
    subsetting run through the sparse kernels end to end."""
    rng = np.random.default_rng(73)
    n, p = 3000, 400
    idx = [sorted(rng.choice(p, size=3, replace=False).astype(int).tolist())
           for _ in range(n)]
    val = [[1.0, 1.0, 1.0]] * n
    signal = np.array([5.0 if j < 5 else 0.0 for j in range(p)])
    y = [float(sum(signal[j] for j in ix) + rng.standard_normal())
         for ix in idx]
    df = spark.createDataFrame(pd.DataFrame({"idx": idx, "val": val,
                                             "label": y}))
    fit = owl(df=df, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="gaussian", n_sigma=6,
              lambda_min_ratio=1e-2)
    assert fit.coefficients.shape[0] == p + 1
    assert np.all(np.isfinite(fit.coefficients))
    assert fit.deviance_ratio[-1] > 0.5
    # the planted one-hot signals dominate the tail solution
    tail = np.abs(fit.coefficients[1:, 0, -1])
    top5 = set(np.argsort(tail)[-5:])
    assert top5 == {0, 1, 2, 3, 4}


def test_sparse_center_rejected(spark, half_dense):
    X, y = half_dense
    df = _sparse_frames(spark, X, y)
    with pytest.raises(ValueError, match="destroy sparsity"):
        owl(df=df, sparse_features=("idx", "val"), sparse_p=20,
            label_col="label", family="gaussian", center=True)


def test_sparse_bad_index_rejected(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "idx": [[0, 5]], "val": [[1.0, 1.0]], "label": [1.0]}))
    with pytest.raises(ValueError, match="outside"):
        owl(df=df, sparse_features=("idx", "val"), sparse_p=3,
            label_col="label", family="gaussian")


def test_vector_udt_to_sparse_arrays_roundtrip(spark):
    """MLlib SparseVector columns feed the sparse backend without
    densifying: unwrap_udt keeps exactly the stored nonzeros."""
    from pyspark.ml.linalg import Vectors

    from golem_spark.vectors import vector_to_sparse_arrays

    rows = [
        (Vectors.sparse(5, [1, 3], [2.0, -1.0]), 1.0),
        (Vectors.dense([0.0, 1.0, 0.0, 0.0, 4.0]), 2.0),
        (Vectors.sparse(5, [], []), 3.0),
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    out, dim = vector_to_sparse_arrays(df, "features")
    assert dim == 5
    got = {tuple(r["idx"]): list(r["val"]) for r in out.collect()}
    assert got[(1, 3)] == [2.0, -1.0]
    assert got[(0, 1, 2, 3, 4)] == [0.0, 1.0, 0.0, 0.0, 4.0]
    assert got[()] == []

    x, y, _ = random_problem(n=200, p=5, density=0.5, seed=74)
    sdf = spark.createDataFrame(
        [(Vectors.sparse(5, list(np.flatnonzero(x[i]).astype(int)),
                         list(x[i][np.flatnonzero(x[i])])), float(y[i]))
         for i in range(200)], ["features", "label"])
    arr_df, p = vector_to_sparse_arrays(sdf, "features")
    # pin screening: auto mode differs between local and narrow
    # distributed fits, which shifts the sigma_max point within solver
    # tolerance
    fit = owl(df=arr_df, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="gaussian", n_sigma=4,
              screening=True)
    fl = owl(x, y, family="gaussian", n_sigma=4, center=False, scale="l2",
             screening=True)
    K = min(fit.n_sigma, fl.n_sigma)
    np.testing.assert_allclose(fit.coefficients[:, :, :K],
                               fl.coefficients[:, :, :K], atol=1e-9)


def test_sparse_scoring_matches_numpy(spark, half_dense):
    """One-Arrow-pass sparse scoring == local numpy scoring, every
    path point, multiple measures and families."""
    from golem_spark.score import score

    X, y = half_dense
    df = _sparse_frames(spark, X, y)
    fit = owl(df=df, sparse_features=("idx", "val"), sparse_p=20,
              label_col="label", family="gaussian", n_sigma=5,
              screening=True)
    for measure in ("mse", "mae"):
        s_sparse = score(fit, df=df, sparse_features=("idx", "val"),
                         label_col="label", measure=measure)
        s_np = score(fit, X, y, measure=measure)
        np.testing.assert_allclose(s_sparse, s_np, rtol=1e-9, atol=1e-12)

    yb = np.where(X @ np.linspace(-1, 1, 20) > 0, "b", "a")
    dfb = _sparse_frames(spark, X, yb)
    fitb = owl(df=dfb, sparse_features=("idx", "val"), sparse_p=20,
               label_col="label", family="binomial", n_sigma=4)
    for measure in ("mse", "deviance", "misclass"):
        s_sparse = score(fitb, df=dfb, sparse_features=("idx", "val"),
                         label_col="label", measure=measure)
        s_np = score(fitb, X, yb, measure=measure)
        np.testing.assert_allclose(s_sparse, s_np, rtol=1e-9, atol=1e-12)


def test_sparse_cv_runs(spark, half_dense):
    from pyspark.sql import functions as F

    from golem_spark.cv import train_owl_spark

    X, y = half_dense
    df = _sparse_frames(spark, X, y).withColumn(
        "rid", F.monotonically_increasing_id())
    trained = train_owl_spark(df, None, "label", "rid", q=(0.2,),
                              number=3, n_sigma=4, max_workers=1,
                              sparse_features=("idx", "val"), sparse_p=20)
    assert "mse" in trained.optima
    assert np.isfinite(trained.optima["mse"]["mean"])


def test_sparse_predict_matches_numpy(spark, half_dense):
    from golem_spark.predict import predict

    X, y = half_dense
    df = _sparse_frames(spark, X, y)
    fit = owl(df=df, sparse_features=("idx", "val"), sparse_p=20,
              label_col="label", family="gaussian", n_sigma=4)
    out = predict(fit, df=df, sparse_features=("idx", "val"),
                  path_idx=fit.n_sigma - 1, type="response")
    got = {round(r["label"], 9): r["pred_0"] for r in out.collect()}
    expect = predict(fit, X, path_idx=fit.n_sigma - 1, type="response")[:, 0]
    for yi, pi in zip(y, expect):
        assert abs(got[round(float(yi), 9)] - pi) < 1e-9

    yb = np.where(X @ np.linspace(-1, 1, 20) > 0, "b", "a")
    dfb = _sparse_frames(spark, X, yb)
    fitb = owl(df=dfb, sparse_features=("idx", "val"), sparse_p=20,
               label_col="label", family="binomial", n_sigma=4)
    cls = predict(fitb, df=dfb, sparse_features=("idx", "val"),
                  path_idx=fitb.n_sigma - 1, type="class")
    assert set(r["pred_class"] for r in cls.collect()) <= {"a", "b"}


def test_sparse_scoring_poisson_multinomial(spark):
    from golem_spark.score import score

    x, yp, _ = random_problem(n=200, p=8, density=0.6, response="poisson",
                              seed=75)
    dfp = _sparse_frames(spark, x, yp.astype(float))
    fitp = owl(df=dfp, sparse_features=("idx", "val"), sparse_p=8,
               label_col="label", family="poisson", n_sigma=3)
    for measure in ("mse", "mae"):
        s = score(fitp, df=dfp, sparse_features=("idx", "val"),
                  label_col="label", measure=measure)
        np.testing.assert_allclose(s, score(fitp, x, yp, measure=measure),
                                   rtol=1e-9, atol=1e-12)

    xm, ym, _ = random_problem(n=240, p=6, density=0.6,
                               response="multinomial", n_targets=2, seed=76)
    dfm = _sparse_frames(spark, xm, [str(v) for v in ym])
    fitm = owl(df=dfm, sparse_features=("idx", "val"), sparse_p=6,
               label_col="label", family="multinomial", n_sigma=3)
    for measure in ("mse", "deviance", "misclass"):
        s = score(fitm, df=dfm, sparse_features=("idx", "val"),
                  label_col="label", measure=measure)
        np.testing.assert_allclose(
            s, score(fitm, xm, [str(v) for v in ym], measure=measure),
            rtol=1e-9, atol=1e-12)
    # sparse predict classes agree with numpy predict
    from golem_spark.predict import predict

    cls = predict(fitm, df=dfm, sparse_features=("idx", "val"),
                  path_idx=fitm.n_sigma - 1, type="class")
    assert set(r["pred_class"] for r in cls.collect()) <= set(fitm.class_names)


def test_sparse_multitarget_scoring_and_null_labels(spark):
    from golem_spark.score import score

    x, y, _ = random_problem(n=150, p=6, n_targets=2, density=0.6, seed=77)
    n = x.shape[0]
    idx = [list(np.flatnonzero(x[i]).astype(int)) for i in range(n)]
    val = [[float(v) for v in x[i, np.flatnonzero(x[i])]] for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame({
        "idx": idx, "val": val, "ya": y[:, 0], "yb": y[:, 1]}))
    fit = owl(df=df, sparse_features=("idx", "val"), sparse_p=6,
              label_col=["ya", "yb"], family="gaussian", n_sigma=4)
    s_sparse = score(fit, df=df, sparse_features=("idx", "val"),
                     label_col=["ya", "yb"], measure="mse")
    s_np = score(fit, x, y, measure="mse")
    np.testing.assert_allclose(s_sparse, s_np, rtol=1e-9, atol=1e-12)
    # single label col for a multi-target fit is an error, not target 0
    with pytest.raises(ValueError, match="label"):
        score(fit, df=df, sparse_features=("idx", "val"),
              label_col="ya", measure="mse")

    # null labels are rejected like the dense path
    dfn = spark.createDataFrame(pd.DataFrame({
        "idx": [[0], [1]], "val": [[1.0], [1.0]],
        "label": [1.0, None]}))
    with pytest.raises(Exception, match="missing values"):
        owl(df=dfn, sparse_features=("idx", "val"), sparse_p=3,
            label_col="label", family="gaussian")


def test_fused_sigma_max_gradient_matches_pass(spark):
    """The stats-pass X'y ride-along must reproduce the dedicated
    lambda_max_gradient pass bit-for-bit (up to float summation order)
    for every family."""
    import numpy as np
    from pyspark.sql import functions as F

    from golem_spark.backends import build_sparse_backend
    from golem_spark.session import load_tables

    li = load_tables(spark, "/root/testdata/sf0.001")["lineitem"]

    def frame(fam):
        if fam == "binomial":
            lab = F.when(F.col("l_returnflag") == "R", "R").otherwise("o")
        elif fam == "multinomial":
            lab = F.col("l_returnflag")
        else:
            lab = F.col("l_quantity")
        return li.select(
            F.array((F.col("l_linenumber") - 1).cast("int")).alias("idx"),
            F.array(F.lit(1.0)).alias("val"), lab.alias("label"))

    for fam in ("binomial", "poisson", "multinomial"):
        be, _ = build_sparse_backend(frame(fam), "idx", "val", "label",
                                     fam, 7, intercept=True)
        try:
            fused = be._lam_max_grad
            assert fused is not None
            be._lam_max_grad = None
            by_pass = be.lambda_max_gradient()
            assert np.allclose(fused, by_pass, rtol=1e-10), fam
        finally:
            be.unpersist()


def test_sparse_ultrawide_local_equals_spark(spark):
    """p = 10^4 certification (VERDICT r4 item 7): the distributed CSR
    Arrow backend and the driver-local sparse backend run the SAME
    pure-numpy kernels through the same wide-p prox-Newton path
    (p_total > 2000 so gaussian routes off ADMM) — coefficients must
    agree tightly well beyond the p=807 wide queries."""
    rng = np.random.default_rng(77)
    n, p, nnz = 400, 10_000, 6
    idx = [sorted(rng.choice(p, size=nnz, replace=False).tolist())
           for _ in range(n)]
    val = [rng.uniform(0.5, 2.0, size=nnz).tolist() for _ in range(n)]
    beta_true = np.zeros(p)
    hot = rng.choice(p, size=12, replace=False)
    beta_true[hot] = rng.normal(0.0, 2.0, size=12)
    y = np.array([sum(v * beta_true[j] for j, v in zip(ix, vv))
                  for ix, vv in zip(idx, val)])
    y += rng.normal(0.0, 0.1, size=n)

    fl = owl(x=list(zip(idx, val)), y=y, sparse_p=p, family="gaussian",
             n_sigma=3)
    df = spark.createDataFrame(pd.DataFrame({"idx": idx, "val": val,
                                             "label": list(y)}))
    fs = owl(df=df, sparse_features=("idx", "val"), sparse_p=p,
             label_col="label", family="gaussian", sigma=fl.sigma)
    assert fl.coefficients.shape[0] == p + 1
    K = min(fl.n_sigma, fs.n_sigma)
    np.testing.assert_allclose(fs.coefficients[:, :, :K],
                               fl.coefficients[:, :, :K],
                               rtol=1e-6, atol=1e-8)
    # the path actually selects features at this width
    assert (np.abs(fl.coefficients[1:, :, K - 1]) > 0).sum() > 0
