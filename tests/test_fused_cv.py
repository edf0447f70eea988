"""Fused non-gaussian CV route (r15): metamorphic pins.

The fused route replaces, per warm pinned-sigma CV query, k x (stats +
persist + warm-prefetch + scoring) corpus scans with ONE grouped stats
pass + ONE masked prefetch-and-score pass. These tests pin that it
produces the per-cell route's results: identical coefficients (warm
cells return their golden start unchanged in both routes) and held-out
scores equal to aggregation-order precision.
"""

import numpy as np
import pytest

from golem_spark.cv import train_owl_spark
from golem_spark.glm_queries import CV_SPECS, _cv_source, _cv_warm_starts

SF_DIR = "/root/testdata/sf0.01"


def _run(spark, fam, grouped):
    sp = CV_SPECS[fam]
    li = _cv_source(spark, SF_DIR, fam)
    by_cell, full_bi = _cv_warm_starts(fam, li.count(), sp.get("m", 1),
                                       len(sp["sigmas"]))
    assert by_cell is not None, "test requires the frozen warm starts"
    return train_owl_spark(
        li, sp["features"], sp["label"], sp["key"], q=(sp["q"],),
        number=sp["number"], measure=sp.get("measure", "mse"), family=fam,
        sigma=sp["sigmas"], keep_cell_fits=True, beta_init_by_cell=by_cell,
        full_beta_init=full_bi, max_workers=sp["number"], _grouped=grouped)


@pytest.mark.parametrize("fam", ["binomial", "poisson", "multinomial"])
def test_fused_equals_per_cell(spark, fam):
    fused = _run(spark, fam, None)       # default: fused route
    percell = _run(spark, fam, False)    # _grouped=False: per-cell route

    # near-identical cell coefficients: warm cells return the golden
    # start unchanged in both routes (prox_newton's entry gap test),
    # but each route standardizes with ITS OWN stats-pass summation
    # order, so the unrescale->rescale round trip can differ by an ulp
    # (observed max 2e-25 absolute). The tolerance sits ~6 orders below
    # the query's 1e-6 emission rounding.
    for cell, fit in percell.cell_fits.items():
        np.testing.assert_allclose(
            fused.cell_fits[cell].coefficients, fit.coefficients,
            rtol=1e-12, atol=1e-15, err_msg=f"{fam} cell {cell}")

    # held-out scores: same per-row expressions, different aggregation
    # order (numpy partials vs per-cell Catalyst aggregation) — equal
    # far below the 1e-6 rounding the query emits
    key = lambda d: (d["q"], d["fold"], d["repeat"], d["measure"])
    a = {key(d): d["scores"] for d in fused.data}
    b = {key(d): d["scores"] for d in percell.data}
    assert a.keys() == b.keys()
    for k in a:
        np.testing.assert_allclose(a[k], b[k], rtol=1e-9, atol=1e-12,
                                   err_msg=f"{fam} {k}")

    # and the aggregated optima agree
    for meas, opt in percell.optima.items():
        f_opt = fused.optima[meas]
        assert f_opt["q"] == opt["q"]
        assert f_opt["path_idx"] == opt["path_idx"]
        np.testing.assert_allclose(f_opt["mean"], opt["mean"], rtol=1e-9)


def test_fused_route_engaged(spark):
    """The gate must actually select the fused route for the bench CV
    shape — catch silent fallbacks to the per-cell path."""
    import golem_spark.cv as cv

    called = {}
    orig = cv._fused_cv_setup

    def spy(*a, **kw):
        r = orig(*a, **kw)
        called["setup"] = r is not None
        return r

    cv._fused_cv_setup = spy
    try:
        _run(spark, "binomial", None)
    finally:
        cv._fused_cv_setup = orig
    assert called.get("setup"), "fused CV setup did not engage"


# -- error paths and degenerate folds (small synthetic frames) -------------

_SIGMAS = np.array([2.0, 1.0, 0.5])


def _zero_warm(qv, fold, rep):
    return np.zeros((3, 1, len(_SIGMAS)))


def _frame(spark, keys, y, seed=0):
    rng = np.random.default_rng(seed)
    rows = [(int(k), float(a), float(b), int(c)) for k, a, b, c in
            zip(keys, rng.normal(size=len(keys)),
                rng.normal(size=len(keys)), y)]
    return spark.createDataFrame(rows, "id long, x1 double, x2 double, "
                                       "y long")


def test_fused_setup_unpersists_on_negative_poisson_response(
        spark, monkeypatch):
    """A negative poisson response raises inside the fused set-up, after
    the shared frame was persisted: the frame must not outlive the
    error."""
    n = 240
    df = _frame(spark, np.arange(n), np.tile([0, 1, 2, -1], n // 4))
    persisted = []
    orig = type(df).persist

    def spy(self, *a, **kw):
        persisted.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(df), "persist", spy)
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="negative responses"):
        train_owl_spark(df, ["x1", "x2"], "y", "id", q=(0.2,), number=3,
                        family="poisson", sigma=_SIGMAS,
                        beta_init_by_cell=_zero_warm, max_workers=1)
    assert persisted, "the fused set-up did not run"
    assert jsc.getPersistentRDDs().size() == baseline
    for frame in persisted:
        assert not frame.storageLevel.useMemory
        assert not frame.storageLevel.useDisk


def _empty_fold_frame(spark):
    from golem_spark.cv import fold_ids

    keys = np.arange(2000)
    keys = keys[fold_ids(keys, 3) != 2][:300]  # fold 2 holds no row
    rng = np.random.default_rng(1)
    y = (rng.normal(size=len(keys)) > 0).astype(int)
    return _frame(spark, keys, y, seed=2)


def test_empty_fold_has_no_speculative_score(spark):
    """The speculative held-out mean of an empty fold is undefined: no
    entry, so the cell goes to the grouped scoring."""
    from golem_spark.cv import _fused_cv_setup, _fused_warm_prefetch

    df = _empty_fold_frame(spark)
    fused = _fused_cv_setup(df, ["x1", "x2"], "y", "id", 3, 1, "binomial",
                            {"sigma": _SIGMAS})
    try:
        _fused_warm_prefetch(
            fused, {(f, 0): _zero_warm(0.2, f, 0) for f in range(3)},
            ["deviance"])
        assert sorted(fused["spec_scores"]) == [(0, 0), (1, 0)]
    finally:
        fused["src"].unpersist()


def test_empty_fold_fails_alike_on_both_routes(spark):
    """An empty held-out fold has no score: every Spark CV route raises
    the same ValueError naming the fold and the repeat."""
    df = _empty_fold_frame(spark)
    for family, measure, grouped in [
            ("binomial", "deviance", None),   # fused route
            ("binomial", "deviance", False),  # per-cell route
            ("gaussian", "mse", None),        # grouped-moments route
            ("gaussian", "mse", False)]:      # per-cell route
        with pytest.raises(ValueError,
                           match="CV fold 2 of repeat 0 holds no rows"):
            train_owl_spark(df, ["x1", "x2"], "y", "id", q=(0.2,), number=3,
                            family=family, measure=measure, sigma=_SIGMAS,
                            beta_init_by_cell=_zero_warm, max_workers=1,
                            _grouped=grouped)


def _fold_backend(spark, family, p, y_cols):
    from golem_spark.cv import _make_fold_backend

    cols = [f"__f{j}" for j in range(p)]
    src = spark.createDataFrame(
        [(0,) + (1.0,) * (p + len(y_cols))],
        ", ".join(["__fold_0 long"] + [f"{c} double"
                                       for c in cols + y_cols]))
    return _make_fold_backend(src, "__fold_0", 1, cols, y_cols, family,
                              True, 10, 0.0, np.zeros(p), np.ones(p))


def test_fold_backend_without_stash_raises(spark):
    bk = _fold_backend(spark, "binomial", 3, ["__y0"])
    with pytest.raises(RuntimeError):
        bk.lambda_max_gradient()
    with pytest.raises(RuntimeError):
        bk.null_intercepts()
    with pytest.raises(RuntimeError):
        bk.subset(np.array([0, 2])).lambda_max_gradient()


def test_fold_backend_subset_slices_stash(spark):
    # multinomial, m = 2 targets: the gradient is (p, m) raveled per target
    bk = _fold_backend(spark, "multinomial", 3, ["__y0", "__y1"])
    grad = np.array([1.0, 2.0, 3.0, 10.0, 20.0, 30.0])
    bk._lam_max_grad = grad
    bk._stash_null_mu("multinomial", np.array([0.3, 0.5]))
    sub = bk.subset(np.array([0, 1, 3]))  # intercept + features 0 and 2
    assert sub.feat_cols == ["__f0", "__f2"]
    np.testing.assert_array_equal(sub.lambda_max_gradient(),
                                  [1.0, 3.0, 10.0, 30.0])
    np.testing.assert_array_equal(sub.null_intercepts(),
                                  bk.null_intercepts())
    np.testing.assert_array_equal(bk.lambda_max_gradient(), grad)
