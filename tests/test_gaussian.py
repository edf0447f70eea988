"""Gaussian SLOPE end-to-end (SURVEY §7 step 5, mirrors
tests/testthat/test-gaussian.R and test-lasso.R).

Oracles (scipy/sklearn unavailable): numpy lstsq for the unregularized
limit; an independent proximal-gradient lasso (plain ISTA + soft
threshold) for the constant-lambda case.
"""

import numpy as np
import pytest

from golem_spark.path import owl
from golem_spark.predict import predict
from golem_spark.score import score
from tests.conftest import random_problem


def ols_oracle(x, y, intercept=True):
    n = x.shape[0]
    A = np.hstack([np.ones((n, 1)), x]) if intercept else x
    coef, *_ = np.linalg.lstsq(A, y, rcond=None)
    return coef


def lasso_ista_oracle(x, y, lam, intercept=True, iters=200000, tol=1e-12):
    """Independent lasso solver: plain ISTA on 0.5||y-Xb||^2 + lam*||b||_1
    (intercept unpenalized), standardization-free."""
    n, p = x.shape
    A = np.hstack([np.ones((n, 1)), x]) if intercept else x
    L = np.linalg.eigvalsh(A.T @ A).max()
    b = np.zeros(A.shape[1])
    start = 1 if intercept else 0
    for _ in range(iters):
        g = A.T @ (A @ b - y)
        b_new = b - g / L
        b_new[start:] = np.sign(b_new[start:]) * np.maximum(np.abs(b_new[start:]) - lam / L, 0)
        if np.max(np.abs(b_new - b)) < tol:
            b = b_new
            break
        b = b_new
    return b


def test_unregularized_matches_ols():
    x, y, _ = random_problem(n=200, p=8, seed=1)
    fit = owl(x, y, family="gaussian", sigma=1e-7, scale="l2", center=True)
    coef = fit.coefficients[:, 0, 0]
    oracle = ols_oracle(x, y)
    np.testing.assert_allclose(coef, oracle, atol=1e-3)


def test_unregularized_no_intercept():
    x, y, _ = random_problem(n=150, p=5, seed=2)
    fit = owl(x, y, family="gaussian", sigma=1e-7, intercept=False,
              center=False, scale="none")
    # the reference ALWAYS centers y for gaussian (preProcessResponse.R:
    # 10-13); with intercept=False nothing absorbs the mean back, so the
    # comparable oracle is OLS on centered y
    oracle = ols_oracle(x, y - np.mean(y), intercept=False)
    np.testing.assert_allclose(fit.coefficients[:, 0, 0], oracle, atol=1e-3)


def test_constant_lambda_matches_lasso():
    """SLOPE with a flat lambda sequence IS the lasso
    (test-lasso.R:1-24)."""
    x, y, _ = random_problem(n=120, p=10, seed=3)
    n, p = x.shape
    lam_flat = np.full(p, 1.0)  # in reference convention, x n internally
    fit = owl(x, y, family="gaussian", sigma=[0.5], lam=lam_flat,
              center=False, scale="none")
    # objective: 0.5||y_c - Xb||^2 + sigma * n * 1.0 * ||b||_1 ; y centered
    # internally, intercept absorbs the mean
    oracle = lasso_ista_oracle(x, y, lam=0.5 * n)
    np.testing.assert_allclose(fit.coefficients[:, 0, 0], oracle, atol=1e-3)


def test_path_shapes_and_monotone_deviance():
    x, y, _ = random_problem(n=100, p=10, seed=4)
    fit = owl(x, y, family="gaussian", n_sigma=30)
    assert fit.coefficients.shape[0] == 11
    assert fit.coefficients.shape[2] == fit.sigma.size
    assert fit.sigma[0] > fit.sigma[-1]
    # deviance ratio grows (less regularized = better train fit)
    assert np.all(np.diff(fit.deviance_ratio) > -1e-8)
    # the first path point (sigma near sigma_max) is (nearly) all-zero
    assert np.sum(np.abs(fit.coefficients[1:, 0, 0]) > 1e-8) <= 1


def test_screening_on_equals_off():
    """Metamorphic: screening is work-avoidance, not an approximation
    (test-screening-rules.R:1-12)."""
    x, y, _ = random_problem(n=100, p=20, seed=5)
    tight = dict(tol_abs=1e-8, tol_rel=1e-7)
    fit_on = owl(x, y, family="gaussian", n_sigma=20, screening=True, **tight)
    fit_off = owl(x, y, family="gaussian", n_sigma=20, screening=False, **tight)
    K = min(fit_on.n_sigma, fit_off.n_sigma)
    np.testing.assert_allclose(fit_on.coefficients[:, :, :K],
                               fit_off.coefficients[:, :, :K], atol=1e-4)


def test_standardization_modes():
    x, y, _ = random_problem(n=100, p=6, seed=6)
    x[:, 0] *= 100  # wildly different scales
    for scale in ("l2", "l1", "sd", "max", "none"):
        fit = owl(x, y, family="gaussian", sigma=1e-7, scale=scale)
        oracle = ols_oracle(x, y)
        np.testing.assert_allclose(fit.coefficients[:, 0, 0], oracle, atol=1e-2,
                                   err_msg=f"scale={scale}")


def test_predict_and_score():
    x, y, _ = random_problem(n=100, p=5, seed=7)
    fit = owl(x, y, family="gaussian", n_sigma=10)
    pred = predict(fit, x, path_idx=fit.n_sigma - 1, type="response")
    assert pred.shape == (100, 1)
    mse = score(fit, x, y, measure="mse")
    assert mse.shape == (fit.n_sigma,)
    # the least-regularized point fits best on train data
    assert mse[-1] <= mse[0] + 1e-10


def test_unrescale_inverts_rescale():
    """_unrescale (the beta_init warm-start transform, VERDICT r12
    item 4) is the exact inverse of _rescale at every path point."""
    from golem_spark.path import _rescale, _unrescale

    rng = np.random.default_rng(5)
    p_total, m, K = 7, 3, 4
    betas = rng.standard_normal((p_total, m, K))
    x_center = rng.standard_normal(p_total - 1)
    x_scale = rng.uniform(0.5, 3.0, p_total - 1)
    y_center = rng.standard_normal(m)
    y_scale = rng.uniform(0.5, 3.0, m)
    raw = _rescale(betas, x_center, x_scale, y_center, y_scale, True)
    for k in range(K):
        back = _unrescale(raw[:, :, k], x_center, x_scale,
                          y_center, y_scale, True)
        np.testing.assert_allclose(back, betas[:, :, k], rtol=1e-12,
                                   atol=1e-12)
    # and without an intercept row
    xc = np.zeros(p_total)
    xs = rng.uniform(0.5, 3.0, p_total)
    raw_ni = _rescale(betas, xc, xs, y_center, y_scale, False)
    for k in range(K):
        back = _unrescale(raw_ni[:, :, k], xc, xs, y_center, y_scale, False)
        np.testing.assert_allclose(back, betas[:, :, k], rtol=1e-12,
                                   atol=1e-12)


def test_warm_start_fixed_point_unchanged():
    """beta_init is initialization only: warm-starting every path point
    from a prior fit's own solutions (the frozen-golden pattern the
    wide bench queries use) must reproduce the same fixed points, and
    a wrong warm start must be corrected, not trusted."""
    x, y, _ = random_problem(n=150, p=8, seed=31)
    sigmas = [0.3, 0.1, 0.03]
    tight = {"tol_abs": 1e-10, "tol_rel": 1e-9}
    cold = owl(x, y, family="gaussian", sigma=sigmas, **tight)
    # per-point (p_total, m, K) warm start from the cold solutions
    warm = owl(x, y, family="gaussian", sigma=sigmas,
               beta_init=cold.coefficients, **tight)
    np.testing.assert_allclose(warm.coefficients, cold.coefficients,
                               atol=1e-7)
    np.testing.assert_allclose(warm.deviance_ratio, cold.deviance_ratio,
                               rtol=1e-8)
    # first-point-only (p_total, m) form
    warm0 = owl(x, y, family="gaussian", sigma=sigmas,
                beta_init=cold.coefficients[:, :, 0], **tight)
    np.testing.assert_allclose(warm0.coefficients, cold.coefficients,
                               atol=1e-7)
    # an adversarially WRONG warm start still converges to the optimum
    bad = cold.coefficients.copy()
    bad[1:, :, :] += 3.0  # push every penalized coef far off
    rec = owl(x, y, family="gaussian", sigma=sigmas, beta_init=bad,
              **tight)
    np.testing.assert_allclose(rec.coefficients, cold.coefficients,
                               atol=1e-6)


def test_warm_point_polishes_in_one_pass(monkeypatch):
    """A path point warm-started from its own optimum starts ADMM from
    the dual consistent with that z, so it converges in one iteration
    and never inverts gram + rho I. p > 48 keeps residual balancing
    and the power-iteration rho active."""
    x, y, _ = random_problem(n=400, p=120, seed=7)
    sigmas = [0.3, 0.1, 0.03]
    tight = {"tol_abs": 1e-10, "tol_rel": 1e-9}
    cold = owl(x, y, family="gaussian", sigma=sigmas, **tight)
    assert all(pk > 1 for pk in cold.passes), cold.passes

    inv_calls = []
    real_inv = np.linalg.inv

    def counting_inv(a):
        inv_calls.append(a.shape)
        return real_inv(a)

    monkeypatch.setattr(np.linalg, "inv", counting_inv)
    warm = owl(x, y, family="gaussian", sigma=sigmas,
               beta_init=cold.coefficients, **tight)
    assert [int(pk) for pk in warm.passes] == [1] * len(sigmas)
    assert inv_calls == []
    np.testing.assert_allclose(warm.coefficients, cold.coefficients,
                               atol=1e-7)


def test_wrong_warm_start_recovers_on_wide_problem():
    """A dual derived from a wrong z is only a start: with residual
    balancing active (p > 48) the fit still converges to the optimum."""
    x, y, _ = random_problem(n=400, p=120, seed=7)
    sigmas = [0.3, 0.1, 0.03]
    tight = {"tol_abs": 1e-10, "tol_rel": 1e-9}
    cold = owl(x, y, family="gaussian", sigma=sigmas, **tight)
    bad = cold.coefficients.copy()
    bad[1:, :, :] += 3.0  # push every penalized coef far off
    rec = owl(x, y, family="gaussian", sigma=sigmas, beta_init=bad,
              **tight)
    np.testing.assert_allclose(rec.coefficients, cold.coefficients,
                               atol=1e-6)
    # first-point-only form: later points carry (z, u) from point 0
    rec0 = owl(x, y, family="gaussian", sigma=sigmas,
               beta_init=bad[:, :, 0], **tight)
    np.testing.assert_allclose(rec0.coefficients, cold.coefficients,
                               atol=1e-6)


@pytest.mark.parametrize("p", [20, 120])
def test_admm_consistent_dual_matches_explicit_dual(p):
    """u=None is the dual (xty - gram @ z) / rho taken without the
    first solve: same beta, z, u and pass count as passing that dual
    explicitly, on both the fixed-rho (p <= 48) and residual-balancing
    (p > 48) routes."""
    from golem_spark.solvers import admm_gaussian

    rng = np.random.default_rng(11)
    x, y, _ = random_problem(n=300, p=p, seed=12)
    x = (x - x.mean(axis=0)) / x.std(axis=0)
    y = y - y.mean()
    gram, xty = x.T @ x, (x.T @ y)[:, None]
    lam = np.sort(rng.uniform(0.2, 1.0, p))[::-1] * float(
        np.abs(xty).max())
    z = rng.standard_normal((p, 1))
    rho = 7.0
    kw = {"n": x.shape[0], "intercept": False, "rho": rho,
          "tol_abs": 1e-9, "tol_rel": 1e-8}
    res_n, z_n, u_n, rho_n = admm_gaussian(gram, xty, z, z, None, lam, **kw)
    res_e, z_e, u_e, rho_e = admm_gaussian(
        gram, xty, z, z, (xty - gram @ z) / rho, lam, **kw)
    assert res_n.passes == res_e.passes > 1
    assert rho_n == rho_e
    np.testing.assert_allclose(res_n.beta, res_e.beta, rtol=0, atol=1e-12)
    np.testing.assert_allclose(z_n, z_e, rtol=0, atol=1e-12)
    np.testing.assert_allclose(u_n, u_e, rtol=0, atol=1e-12)
