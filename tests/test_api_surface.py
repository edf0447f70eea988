"""API-surface tests mirroring the reference's test files:
coef interpolation (test-coef.R), path behavior (test-path-behavior.R),
assertions (test-assertions.R), diagnostics (test-diagnostics.R),
fixtures (R/data.R roles), ml-Pipeline adapter (caret adapter O43)."""

import numpy as np
import pytest

from golem_spark import data as fixtures
from golem_spark.diagnostics import diagnostics_frame, path_plot_data, print_path
from golem_spark.path import owl
from golem_spark.predict import coef_at, predict
from golem_spark.score import deviance, score
from tests.conftest import random_problem


# -- coef interpolation (test-coef.R:1-47) ----------------------------------

def test_coef_on_path_is_exact():
    x, y, _ = random_problem(n=100, p=5, seed=50)
    fit = owl(x, y, family="gaussian", n_sigma=10)
    k = fit.n_sigma // 2
    np.testing.assert_allclose(coef_at(fit, fit.sigma[k]),
                               fit.coefficients[:, :, k], atol=1e-10)


def test_coef_interpolates_between_points():
    x, y, _ = random_problem(n=100, p=5, seed=51)
    fit = owl(x, y, family="gaussian", n_sigma=10)
    s_mid = np.sqrt(fit.sigma[2] * fit.sigma[3])  # geometric midpoint
    c = coef_at(fit, s_mid)
    lo = np.minimum(fit.coefficients[:, :, 2], fit.coefficients[:, :, 3])
    hi = np.maximum(fit.coefficients[:, :, 2], fit.coefficients[:, :, 3])
    assert np.all(c >= lo - 1e-10) and np.all(c <= hi + 1e-10)


def test_coef_clamps_outside_path():
    x, y, _ = random_problem(n=100, p=5, seed=52)
    fit = owl(x, y, family="gaussian", n_sigma=5)
    np.testing.assert_allclose(coef_at(fit, fit.sigma[0] * 100),
                               fit.coefficients[:, :, 0], atol=1e-10)
    np.testing.assert_allclose(coef_at(fit, fit.sigma[-1] / 100),
                               fit.coefficients[:, :, -1], atol=1e-10)


def test_coef_exact_refit_matches_direct_fit():
    """exact=True re-fits at the requested sigma (R/coef.R:40-42): the
    result must equal a direct owl() fit there, and differ from the
    linear interpolation between path neighbors."""
    x, y, _ = random_problem(n=100, p=10, seed=1624)
    fit = owl(x, y, family="gaussian", n_sigma=8)
    s_mid = np.sqrt(fit.sigma[2] * fit.sigma[3])

    exact = coef_at(fit, s_mid, exact=True, x=x, y=y)
    direct = owl(x, y, family="gaussian", sigma=[s_mid]).coefficients[:, :, 0]
    np.testing.assert_allclose(exact, direct, rtol=1e-6, atol=1e-8)

    interp = coef_at(fit, s_mid)
    assert not np.allclose(exact, interp, atol=1e-10)


def test_coef_exact_on_path_needs_no_data():
    """On-path sigmas slice the stored cube even with exact=True (the
    reference's `value %in% penalty` branch)."""
    x, y, _ = random_problem(n=100, p=5, seed=1625)
    fit = owl(x, y, family="gaussian", n_sigma=6)
    c = coef_at(fit, fit.sigma[3], exact=True)
    np.testing.assert_allclose(c, fit.coefficients[:, :, 3], atol=1e-12)


def test_coef_exact_offpath_requires_data():
    x, y, _ = random_problem(n=80, p=4, seed=1626)
    fit = owl(x, y, family="gaussian", n_sigma=5)
    with pytest.raises(ValueError, match="exact"):
        coef_at(fit, float(np.sqrt(fit.sigma[1] * fit.sigma[2])), exact=True)


# -- path behavior (test-path-behavior.R:1-17) ------------------------------

def test_path_stops_at_max_variables():
    x, y, _ = random_problem(n=100, p=20, q=0.5, seed=53)
    fit = owl(x, y, family="gaussian", n_sigma=50, max_variables=3)
    assert fit.n_unique[-1] <= 20
    assert fit.n_sigma < 50  # stopped early


def test_user_sigma_disables_early_stop():
    x, y, _ = random_problem(n=80, p=5, seed=54)
    sig = np.geomspace(1.0, 1e-4, 12)
    fit = owl(x, y, family="gaussian", sigma=sig)
    assert fit.n_sigma == 12


# -- assertions (test-assertions.R:1-17) ------------------------------------

def test_input_assertions():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((20, 3))
    y = rng.standard_normal(20)
    with pytest.raises(ValueError):
        owl(x[:10], y, family="gaussian")          # shape mismatch
    with pytest.raises(ValueError):
        owl(np.empty((0, 3)), np.empty(0))          # empty
    xb = x.copy()
    xb[0, 0] = np.nan
    with pytest.raises(ValueError, match="missing"):
        owl(xb, y)                                  # NA rejection
    with pytest.raises(ValueError):
        owl(x, y, lam=np.array([1.0, 2.0, 3.0]))    # increasing lambda
    with pytest.raises(ValueError):
        owl(x, y, lam=np.array([-1.0, -2.0, -3.0]))  # negative lambda
    with pytest.raises(ValueError):
        owl(x, y, lam=np.array([1.0]))              # wrong length
    with pytest.raises(ValueError):
        owl(x, y, family="nope")
    # multi-column responses: only gaussian supports the multi-task
    # role; the others reject cleanly instead of silently reshaping
    ym = np.column_stack([y, y])
    with pytest.raises(ValueError, match="one-dimensional"):
        owl(x, np.abs(ym), family="poisson")
    with pytest.raises(ValueError, match="one-dimensional"):
        owl(x, (ym > 0).astype(float), family="binomial")


# -- diagnostics (test-diagnostics.R:1-9) -----------------------------------

def test_diagnostics_schema():
    x, y, _ = random_problem(n=80, p=4, seed=55)
    fit = owl(x, y, family="binomial" if False else "gaussian",
              n_sigma=5, diagnostics=True)
    rows = diagnostics_frame(fit)
    assert rows, "diagnostics should be collected"
    k, it, tm, pr, du = rows[0]
    assert tm >= 0 and isinstance(it, int)
    fit2 = owl(x, y, family="gaussian", n_sigma=5)
    with pytest.raises(ValueError):
        diagnostics_frame(fit2)


def test_plot_diagnostics_data():
    """O46 parity (R/plotDiagnostics.R:22-73): primal/dual curves for
    one path point, xvar in {iteration, time}, default ind = last
    collected path point."""
    from golem_spark.diagnostics import plot_diagnostics

    x, y, _ = random_problem(n=80, p=4, seed=55)
    fit = owl(x, y, family="gaussian", n_sigma=5, diagnostics=True)
    d = plot_diagnostics(fit)  # no matplotlib here -> returns the data
    rows = diagnostics_frame(fit)
    assert d["ind"] == max(r[0] for r in rows)
    n_last = sum(1 for r in rows if r[0] == d["ind"])
    assert len(d["x"]) == len(d["primal"]) == len(d["dual"]) == n_last
    assert d["xvar"] == "time"
    assert all(t >= 0 for t in d["x"])
    di = plot_diagnostics(fit, ind=0, xvar="iteration")
    assert di["x"] == sorted(di["x"])  # iterations ascend
    # primal approaches dual from above as the solver converges
    assert d["primal"][-1] >= d["dual"][-1] - 1e-8
    with pytest.raises(ValueError):
        plot_diagnostics(fit, xvar="nope")
    fit2 = owl(x, y, family="gaussian", n_sigma=5)
    with pytest.raises(ValueError):
        plot_diagnostics(fit2)


def test_print_and_plotdata():
    x, y, _ = random_problem(n=80, p=4, seed=56)
    fit = owl(x, y, family="gaussian", n_sigma=5)
    s = print_path(fit)
    assert "dev_ratio" in s and str(fit.n_sigma - 1) in s
    d = path_plot_data(fit)
    assert len(d["sigma"]) == fit.n_sigma


def test_deviance_accessor():
    x, y, _ = random_problem(n=80, p=4, seed=57)
    fit = owl(x, y, family="gaussian", n_sigma=5)
    dev = deviance(fit)
    assert dev.shape == (fit.n_sigma,)
    assert np.all(np.diff(dev) <= 1e-8)  # non-increasing along the path


# -- reference dataset fixtures (R/data.R roles) ----------------------------

@pytest.mark.parametrize("name", list(fixtures.FIXTURES))
def test_fixture_fits(name):
    gen, family = fixtures.FIXTURES[name]
    x, y, names = gen()
    fit = owl(x, y, family=family, n_sigma=10)
    assert fit.n_sigma >= 1
    assert fit.coefficients.shape[0] == x.shape[1] + 1
    if name == "student":  # multi-task gaussian: both targets fit
        assert fit.coefficients.shape[1] == y.shape[1] == 2
    assert np.all(np.isfinite(fit.coefficients))
    m = "misclass" if family in ("binomial", "multinomial") else "mse"
    s = score(fit, x, y, measure=m)
    assert np.all(np.isfinite(s))


def test_wine_standardization_matters():
    """proline is ~100x the scale of other features; standardization keeps
    it from dominating (A4's declared role)."""
    x, y, names = fixtures.wine()
    fit = owl(x, y, family="multinomial", n_sigma=15)
    cls = predict(fit, x, path_idx=fit.n_sigma - 1, type="class")
    assert (cls == y).mean() > 0.5


# -- ml Pipeline adapter (O43) ----------------------------------------------

def test_slope_estimator_in_pipeline(spark):
    import pandas as pd
    from pyspark.ml import Pipeline

    from golem_spark.estimator import SlopeEstimator

    x, y, _ = random_problem(n=150, p=4, seed=58)
    pdf = pd.DataFrame({f"x{j}": x[:, j] for j in range(4)})
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    est = SlopeEstimator(featureCols=[f"x{j}" for j in range(4)],
                         labelCol="label", family="gaussian", nSigma=8)
    model = Pipeline(stages=[est]).fit(df)
    out = model.transform(df)
    assert "prediction" in out.columns
    preds = out.select("prediction").toPandas()["prediction"]
    assert np.isfinite(preds).all()
    slope_model = model.stages[0]
    assert slope_model.coefficients().shape[0] == 5


def test_feature_importances_ranks_planted_signal(spark):
    """caret varImp hook (R/caretOwl.R:228-245): |beta|-based
    importances rank the planted-signal features of a random_problem
    fit above the noise features."""
    import pandas as pd

    from golem_spark.estimator import SlopeEstimator

    x, y, beta = random_problem(n=400, p=8, seed=59)
    pdf = pd.DataFrame({f"x{j}": x[:, j] for j in range(8)})
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    est = SlopeEstimator(featureCols=[f"x{j}" for j in range(8)],
                         labelCol="label", family="gaussian", nSigma=12)
    model = est.fit(df)
    imp = model.feature_importances()
    assert set(imp) == {f"x{j}" for j in range(8)}
    vals = np.array([float(imp[f"x{j}"][0]) for j in range(8)])
    assert abs(vals.sum() - 1.0) < 1e-9  # normalized per target
    signal = np.flatnonzero(np.asarray(beta).ravel() != 0)
    noise = np.flatnonzero(np.asarray(beta).ravel() == 0)
    assert signal.size and noise.size, "fixture must plant both kinds"
    assert vals[signal].min() > vals[noise].max()
    # raw (reference-exact) variant is plain |beta|, unnormalized
    raw = model.feature_importances(normalize=False)
    co = model.coefficients()
    co = co[:, :, -1] if co.ndim == 3 else co
    np.testing.assert_allclose(
        np.array([raw[f"x{j}"][0] for j in range(8)]),
        np.abs(co[1:, 0]))


def test_freeze_guard_refuses_on_failing_stat_oracles(monkeypatch):
    """tools/freeze_glm.py must not refreeze goldens when the
    independent statistical oracles fail (a regressed solver could
    otherwise freeze its own wrong output as the 'oracle')."""
    import subprocess
    import sys
    import types
    from pathlib import Path

    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import importlib

    import freeze_glm

    importlib.reload(freeze_glm)

    def fake_run(*a, **k):
        return types.SimpleNamespace(returncode=1)

    monkeypatch.setattr(subprocess, "run", fake_run)
    with pytest.raises(SystemExit, match="refusing"):
        freeze_glm.run_stat_oracles()


def test_driver_rotation_puts_unverified_first():
    """The driver's correctness gate checks only the HEAD of queries();
    ordering must put never-driver-verified AND changed-since-verified
    queries first (effective rank -1, from the content-fingerprint
    stamps), then least-recently-verified (VERDICT r4 item 3 + r6
    item 3)."""
    import __spark_entry__ as entry

    names = list(entry.queries())
    fns, sql = entry._bases()
    rank = entry._verification_rank()
    stored = entry._stored_fingerprints()
    eff = [-1 if stored.get(n) != entry.query_fingerprint(n, fns[n],
                                                          sql.get(n))
           else rank.get(n, -1) for n in names]
    assert eff == sorted(eff)
    # the front group must fit the driver's verification window
    assert sum(1 for r in eff if r == -1) <= entry.DRIVER_WINDOW
    assert set(names) == set(entry.oracle_sql())
    assert names == list(entry.oracle_sql())


def test_score_weights_only_for_auc():
    import numpy as np
    import pytest

    from golem_spark.path import owl
    from golem_spark.score import score
    from tests.conftest import random_problem

    x, y, _ = random_problem(n=80, p=3, response="binomial", seed=9)
    fit = owl(x, y.astype(float), family="binomial", n_sigma=2)
    with pytest.raises(ValueError, match="weights"):
        score(fit, x, y.astype(float), measure="mse", weights=np.ones(80))
    with pytest.raises(ValueError, match="match the number"):
        score(fit, x, y.astype(float), measure="auc", weights=np.ones(3))


def test_entry_imports_its_own_checkout(tmp_path):
    """A second checkout (a copy of ``__spark_entry__.py`` and
    ``golem_spark/``) must import its OWN package, not the one of the
    checkout these tests run from."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    shutil.copy(root / "__spark_entry__.py", tmp_path)
    shutil.copytree(root / "golem_spark", tmp_path / "golem_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = ("import sys; sys.path.append(sys.argv[1]); "
            "import __spark_entry__, golem_spark; "
            "print(golem_spark.__file__)")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code, str(tmp_path)],
                         cwd=tmp_path.parent, env=env, capture_output=True,
                         text=True, check=True).stdout.strip()
    assert Path(out).resolve().is_relative_to(tmp_path.resolve())


def test_workers_import_golem_spark_from_any_directory(tmp_path):
    """A driver run outside the checkout, with the root only on its own
    sys.path and no PYTHONPATH, must still fit: its Python workers
    unpickle golem_spark helpers, so get_spark ships them the root."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import numpy as np\n"
        "from golem_spark import owl\n"
        "from golem_spark.session import get_spark\n"
        "spark = get_spark('workers_path', shuffle_partitions=2)\n"
        "rng = np.random.default_rng(0)\n"
        "x = rng.normal(size=(200, 3))\n"
        "y = (x[:, 0] + rng.normal(size=200) > 0).astype(int)\n"
        "df = spark.createDataFrame([(float(a), float(b), float(c), int(t))\n"
        "                            for (a, b, c), t in zip(x, y)],\n"
        "                           'a double, b double, c double, y long')\n"
        "fit = owl(df=df, feature_cols=['a', 'b', 'c'], label_col='y',\n"
        "          family='binomial', n_sigma=3)\n"
        "print('fit ok', fit.coefficients.shape[0])\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", code, str(root)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert "fit ok 4" in res.stdout
