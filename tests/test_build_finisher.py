"""The shared build finisher: a build assembled from shared or grouped
sums must equal a standalone build over the same rows.

Existing tests pin each standalone builder's stash against its own
fallback pass; these pin the two builds that never run standalone — the
fused CV complements and the wide queries' shared context — against the
public builders, in the scale, the σ_max gradient and the null model.
"""

import numpy as np
import pytest

from golem_spark.backends import build_spark_backend, build_sparse_backend
from golem_spark.cv import _fused_cv_setup, fold_expr
from test_fused_cv import SF_DIR

_RTOL = 1e-12


def _assert_same_build(bk, meta, ref, ref_meta, what):
    np.testing.assert_allclose(meta["x_center"], ref_meta["x_center"],
                               rtol=_RTOL, atol=0, err_msg=what)
    np.testing.assert_allclose(meta["x_scale"], ref_meta["x_scale"],
                               rtol=_RTOL, atol=0, err_msg=what)
    assert bk.n == ref.n, what
    np.testing.assert_allclose(bk.lambda_max_gradient(),
                               ref.lambda_max_gradient(),
                               rtol=_RTOL, atol=0, err_msg=what)
    np.testing.assert_allclose(bk.null_intercepts(), ref.null_intercepts(),
                               rtol=_RTOL, atol=0, err_msg=what)


def _cv_frame(spark, family):
    """Integer-valued features and labels: every sum is exact, so any
    summation order gives the same moments and the comparison isolates
    the finisher's arithmetic."""
    rng = np.random.default_rng(3)
    n = 600
    x = rng.integers(-4, 9, size=(n, 3)).astype(float)
    lp = x[:, 0] - 0.5 * x[:, 1]
    if family == "poisson":
        y = np.minimum(rng.poisson(2.0, size=n), 5)
    elif family == "binomial":
        y = (lp + rng.normal(size=n) > 1).astype(int)
    else:
        y = np.digitize(lp + rng.normal(size=n), [-1.0, 2.0])
    rows = [(i, *map(float, xi), int(yi)) for i, (xi, yi) in
            enumerate(zip(x, y))]
    return spark.createDataFrame(
        rows, "id long, x0 double, x1 double, x2 double, y long")


@pytest.mark.parametrize("family", ["binomial", "poisson", "multinomial"])
def test_fused_cv_complement_equals_standalone_build(spark, family):
    df = _cv_frame(spark, family)
    feats = ["x0", "x1", "x2"]
    fused = _fused_cv_setup(df, feats, "y", "id", 3, 1, family,
                            {"sigma": [0.1]})
    assert fused is not None, "the fused route did not engage"
    try:
        for (fold, rep), (bk, meta) in sorted(fused["backends"].items()):
            train = df.filter(fold_expr("id", 3, rep) != fold)
            ref, ref_meta = build_spark_backend(train, feats, "y", family)
            try:
                _assert_same_build(bk, meta, ref, ref_meta,
                                   f"{family} fold {fold}")
            finally:
                ref.unpersist()
    finally:
        fused["src"].unpersist()


@pytest.mark.parametrize("family",
                         ["gaussian", "binomial", "poisson", "multinomial"])
def test_wide_context_equals_standalone_sparse_build(spark, family):
    from golem_spark.glm_queries import (WIDE_P, _wide_shared_context,
                                         _wide_sparse_frame)
    from golem_spark.session import load_tables

    ctx = _wide_shared_context(spark, SF_DIR)
    li = load_tables(spark, SF_DIR)["lineitem"]
    ref, ref_meta = build_sparse_backend(_wide_sparse_frame(li, family),
                                         "idx", "val", "label", family,
                                         WIDE_P)
    try:
        _assert_same_build(ctx["backends"][family], ctx["metas"][family],
                           ref, ref_meta, family)
        assert ctx["metas"][family]["class_names"] == ref_meta["class_names"]
    finally:
        ref.unpersist()


def test_wide_dense_build_takes_a_string_label(spark):
    """The wide (p > 200) dense stats pass coerces the label to numbers
    for poisson's minimum; a string label coerces to all-NaN, whose
    minimum must not arrive as a null. Same build as with 0/1 labels."""
    rng = np.random.default_rng(4)
    p, n = 201, 80
    x = rng.normal(size=(n, p))
    y = (x[:, 0] + rng.normal(size=n) > 0).astype(int)
    feats = [f"f{j}" for j in range(p)]
    schema = ", ".join([f"{c} double" for c in feats]
                       + ["ys string", "yi long"])
    df = spark.createDataFrame(
        [(*map(float, xi), "ab"[t], int(t)) for xi, t in zip(x, y)], schema)
    by_str, meta = build_spark_backend(df, feats, "ys", "binomial")
    by_int, _ = build_spark_backend(df, feats, "yi", "binomial")
    try:
        assert meta["class_names"] == ["a", "b"]
        np.testing.assert_array_equal(by_str.lambda_max_gradient(),
                                      by_int.lambda_max_gradient())
        np.testing.assert_array_equal(by_str.null_intercepts(),
                                      by_int.null_intercepts())
    finally:
        by_str.unpersist()
        by_int.unpersist()
