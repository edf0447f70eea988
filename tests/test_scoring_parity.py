"""Cross-plane parity of score() and predict(): the local numpy plane,
the dense Spark (Catalyst) plane and the sparse Spark (Arrow) plane
evaluate the same fit on the same rows, so every non-auc measure and
every prediction type must agree between them to summation-order
precision. A two-target gaussian fit scores against one label column
per target on every plane."""

import numpy as np
import pandas as pd
import pytest

from golem_spark.path import owl
from golem_spark.predict import predict
from golem_spark.score import _measures_for, score
from tests.conftest import random_problem

_FAMILIES = {
    "gaussian": dict(response="gaussian"),
    "binomial": dict(response="binomial"),
    "poisson": dict(response="poisson", amplitude=0.5),
    "multinomial": dict(response="multinomial", n_targets=2),
    "gaussian_2targets": dict(response="gaussian", n_targets=2),
}
_CASES = [(fam, meas) for fam in _FAMILIES
          for meas in _measures_for(fam.split("_")[0]) if meas != "auc"]
_SPARSE = ("idx", "val")


def _problem(spark, case):
    family = case.split("_")[0]
    x, y, _ = random_problem(n=160, p=5, density=0.7, seed=31,
                             **_FAMILIES[case])
    if family == "binomial":
        y = np.where(y > 0, "pos", "neg")
    elif family == "multinomial":
        y = np.asarray([f"c{int(v)}" for v in y])
    fit = owl(x, y, family=family, n_sigma=4)
    n, p = x.shape
    feats = [f"x{j}" for j in range(p)]
    cols = {"id": np.arange(n)}
    cols.update({c: x[:, j] for j, c in enumerate(feats)})
    cols["idx"] = [list(np.flatnonzero(x[i]).astype(int)) for i in range(n)]
    cols["val"] = [[float(v) for v in x[i, np.flatnonzero(x[i])]]
                   for i in range(n)]
    if y.ndim == 2:
        labels = [f"y{t}" for t in range(y.shape[1])]
        cols.update({c: y[:, t] for t, c in enumerate(labels)})
    else:
        labels = "label"
        cols["label"] = list(y)
    return (fit, x, y, spark.createDataFrame(pd.DataFrame(cols)), feats,
            labels)


@pytest.fixture(scope="module")
def problems(spark):
    return {case: _problem(spark, case) for case in _FAMILIES}


@pytest.mark.parametrize("family,measure", _CASES)
def test_score_agrees_across_planes(problems, family, measure):
    fit, x, y, df, feats, labels = problems[family]
    local = score(fit, x, y, measure=measure)
    dense = score(fit, df=df, feature_cols=feats, label_col=labels,
                  measure=measure)
    sparse = score(fit, df=df, sparse_features=_SPARSE, label_col=labels,
                   measure=measure)
    assert local.shape == (fit.n_sigma,)
    np.testing.assert_allclose(dense, local, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(sparse, local, rtol=1e-9, atol=1e-12)


def _types(case):
    return (["link", "response", "class"]
            if case in ("binomial", "multinomial") else ["link", "response"])


@pytest.mark.parametrize("family,type_", [(f, t) for f in _FAMILIES
                                          for t in _types(f)])
def test_predict_agrees_across_planes(problems, family, type_):
    fit, x, y, df, feats, _ = problems[family]
    k = 1
    local = predict(fit, x, path_idx=k, type=type_)
    dense = predict(fit, df=df, feature_cols=feats, path_idx=k, type=type_)
    sparse = predict(fit, df=df, sparse_features=_SPARSE, path_idx=k,
                     type=type_)
    for frame in (dense, sparse):
        pdf = frame.toPandas().sort_values("id")
        if type_ == "class":
            assert list(pdf["pred_class"]) == list(local)
            continue
        cols = sorted((c for c in pdf.columns if c.startswith("pred_")),
                      key=lambda c: int(c.split("_")[1]))
        got = pdf[cols].to_numpy(dtype=np.float64)
        np.testing.assert_allclose(got, local, rtol=1e-9, atol=1e-12)


def test_multitarget_gaussian_needs_every_label(problems):
    """One label column for a two-target fit is an error on both Spark
    planes, never a silent score of target 0."""
    fit, x, y, df, feats, labels = problems["gaussian_2targets"]
    assert fit.coefficients.shape[1] == 2
    with pytest.raises(ValueError, match="label"):
        score(fit, df=df, feature_cols=feats, label_col=labels[0])
    with pytest.raises(ValueError, match="label"):
        score(fit, df=df, sparse_features=_SPARSE, label_col=labels[0])
