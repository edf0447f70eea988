"""coef()/predict(): path interpolation, link functions, class decisions.

Reference parity: R/coef.R:23-54, R/interpolatePenalty.R:10-37,
R/interpolateCoefficients.R:9-27, R/predict.R:32-197.

predict() works on numpy arrays or Spark DataFrames. The Spark path
computes every requested path point's linear predictor in ONE select with
beta entering as literals (broadcast-equivalent: the plan ships the
p-sized constants, never the data), then applies the family link as
column expressions — sigmoid/exp in whole-stage codegen, softmax/argmax
via array expressions.

This module owns the linear predictor and the inverse link for every
plane: ``_lp_cols``/``_mean_cols`` build them as Catalyst Columns and
``_lp_np``/``_mean_np`` compute them in numpy (the sparse plane's lp is
``SparseArrowBackend._lp``). score() and the CV held-out scoring call
the same builders.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from golem_spark.path import OwlFit


# ---------------------------------------------------------------------------
# Coefficient interpolation along the path
# ---------------------------------------------------------------------------

def _interpolation_weights(path_sigma: np.ndarray, want: np.ndarray):
    """glmnet-style lambda.interp (R/interpolatePenalty.R:10-37): for each
    requested sigma, the two adjacent path indices and the blend fraction."""
    s = np.asarray(path_sigma, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if s.size == 1:
        left = np.zeros(want.size, dtype=int)
        right = np.zeros(want.size, dtype=int)
        frac = np.ones(want.size)
        return left, right, frac
    smax, smin = float(s.max()), float(s.min())
    want_c = np.clip(want, smin, smax)
    # interpolate on the normalized scale like the reference
    sfrac = (smax - want_c) / (smax - smin)
    k = (smax - s) / (smax - smin)
    idx = np.interp(sfrac, k, np.arange(s.size))
    left = np.floor(idx).astype(int)
    right = np.ceil(idx).astype(int)
    denom = k[right] - k[left]
    with np.errstate(divide="ignore", invalid="ignore"):
        frac = np.where(denom != 0, (sfrac - k[left]) / denom, 1.0)
    # frac is the weight on the RIGHT point
    return left, right, 1.0 - frac


def coef_at(fit: OwlFit, sigma=None, simplify: bool = True, *,
            exact: bool = False, x=None, y=None,
            df=None, feature_cols=None, label_col=None,
            sparse_features=None, sparse_p=None) -> np.ndarray:
    """Coefficients at the requested sigma value(s) (R/coef.R:23-54).

    Off-path sigmas are linearly interpolated between adjacent path
    points by default; with ``exact=True`` the model is REFIT at the
    requested sigmas (the reference's ``stats::update`` path,
    R/coef.R:40-42) — the caller must re-supply the training data
    (numpy ``x, y`` or Spark ``df/feature_cols/label_col``), exactly
    like the reference requires ``x`` and ``y`` in the dots."""
    if sigma is None:
        out = fit.coefficients
        return out[:, :, 0] if (simplify and out.shape[2] == 1) else out
    want = np.atleast_1d(np.asarray(sigma, dtype=np.float64))

    on_path = np.all([np.any(np.isclose(w, fit.sigma, rtol=1e-12)) for w in want])
    if exact and not on_path:
        if x is None and df is None:
            raise ValueError(
                "coef_at(..., exact=True) refits the model: pass the training "
                "data (x, y) or (df, feature_cols, label_col)")
        from golem_spark.path import owl

        opts = dict(fit.meta.get("fit_options", {}))
        opts.setdefault("family", fit.family)
        opts.setdefault("intercept", fit.intercept)
        refit = owl(x, y, df=df, feature_cols=feature_cols,
                    label_col=label_col, sparse_features=sparse_features,
                    sparse_p=sparse_p, sigma=want, **opts)
        out = refit.coefficients
        return out[:, :, 0] if (simplify and out.shape[2] == 1) else out

    left, right, wl = _interpolation_weights(fit.sigma, want)
    out = (fit.coefficients[:, :, left] * wl[None, None, :]
           + fit.coefficients[:, :, right] * (1.0 - wl)[None, None, :])
    return out[:, :, 0] if (simplify and out.shape[2] == 1) else out


# ---------------------------------------------------------------------------
# Linear predictor and inverse link: the one Catalyst builder and the one
# numpy kernel that predict(), score() and the CV held-out scoring share
# ---------------------------------------------------------------------------

def _lp_cols(beta: np.ndarray, features: list, intercept: bool) -> list:
    """One linear-predictor Column per target of ``beta`` (p_total, m):
    the intercept plus ``lit(b) * feature`` for every NONZERO b, in
    feature order. ``features`` are Columns, so each caller keeps its
    own cast (or a pre-cast column)."""
    off = 1 if intercept else 0
    lps = []
    for t in range(beta.shape[1]):
        expr = F.lit(float(beta[0, t])) if intercept else F.lit(0.0)
        for j, c in enumerate(features):
            b = float(beta[j + off, t])
            if b != 0.0:
                expr = expr + F.lit(b) * c
        lps.append(expr)
    return lps


def _mean_cols(family: str, lps: list) -> list:
    """Inverse link as Columns: the fitted mean per target, or for
    multinomial the m + 1 class probabilities (implicit reference class
    last, max-shifted softmax)."""
    if family == "binomial":
        return [F.lit(1.0) / (F.lit(1.0) + F.exp(-lps[0]))]
    if family == "poisson":
        return [F.exp(lps[0])]
    if family == "multinomial":
        mx = F.greatest(*lps, F.lit(0.0))
        denom = F.exp(F.lit(0.0) - mx)
        for lp in lps:
            denom = denom + F.exp(lp - mx)
        return ([F.exp(lp - mx) / denom for lp in lps]
                + [F.exp(F.lit(0.0) - mx) / denom])
    return lps


def _argmax_class_col(cols: list, names) -> Column:
    """The class name of the largest of ``cols`` (first one on ties)."""
    arr = F.array(*cols)
    idx = F.array_position(arr, F.array_max(arr)) - 1
    name_arr = F.array(*[F.lit(nm) for nm in names])
    return F.element_at(name_arr, (idx + 1).cast("int"))


def _lp_np(x: np.ndarray, betas: np.ndarray, intercept: bool) -> np.ndarray:
    """Dense linear predictor: x (n, p) and betas (p_total, m, K) give
    lp (n, m, K)."""
    off = 1 if intercept else 0
    lp = np.stack([x @ betas[off:, :, k] for k in range(betas.shape[2])],
                  axis=2)
    if intercept:
        lp += betas[0][None, :, :]
    return lp


def _mean_np(family: str, lp: np.ndarray) -> np.ndarray:
    """Inverse link over lp (n, m, ...): the target axis is axis 1, and
    multinomial gains the implicit reference class as its last entry.
    No mean overflows: lp is clipped to +-700 before the sigmoid and exp
    links, and the softmax is max-shifted."""
    if family == "binomial":
        return 1.0 / (1.0 + np.exp(-np.clip(lp, -700, 700)))
    if family == "poisson":
        return np.exp(np.clip(lp, -700, 700))
    if family == "multinomial":
        full = np.concatenate([lp, np.zeros_like(lp[:, :1])], axis=1)
        full -= full.max(axis=1, keepdims=True)
        e = np.exp(full)
        return e / e.sum(axis=1, keepdims=True)
    return lp


def _predict_np(family: str, names, lp: np.ndarray, type: str) -> np.ndarray:
    """lp (n, m, K) -> link (n, m, K), response (n, m or m + 1, K) or
    class names (n, K)."""
    if type == "link":
        return lp
    if type == "response":
        return _mean_np(family, lp)
    if family == "binomial":
        idx = (lp[:, 0] > 0).astype(int)
    else:
        idx = np.argmax(np.concatenate(
            [lp, np.zeros_like(lp[:, :1])], axis=1), axis=1)
    return np.asarray(names)[idx]


# ---------------------------------------------------------------------------
# Prediction
# ---------------------------------------------------------------------------

def _point_beta(fit: OwlFit, sigma, path_idx) -> np.ndarray:
    """(p_total, m) coefficients of ONE path point."""
    if sigma is not None:
        return coef_at(fit, float(np.atleast_1d(sigma)[0]), simplify=False)[:, :, 0]
    return fit.coefficients[:, :, path_idx if path_idx is not None else fit.n_sigma - 1]


def predict(fit: OwlFit, x=None, *, df: DataFrame | None = None,
            feature_cols: list[str] | None = None,
            sparse_features: tuple[str, str] | None = None, sigma=None,
            type: str = "link", path_idx: int | None = None):
    """Predict from a fitted path.

    type: 'link' (linear predictor), 'response' (family inverse link),
    'class' (binomial/multinomial decision).

    numpy mode returns an ndarray (n, m) for a single sigma or (n, m, K);
    Spark mode (df=...) returns the DataFrame with appended prediction
    columns pred_0..pred_{m-1} / pred_class for ONE path point (pass
    sigma or path_idx). ``sparse_features=(idx_col, val_col)`` predicts
    over sparse rows via one Arrow map pass (no literal expression per
    feature — survives wide p).
    """
    if type not in ("link", "response", "class"):
        raise ValueError(f"unknown type {type!r}")
    if type == "class" and fit.family not in ("binomial", "multinomial"):
        raise ValueError(f"type='class' not defined for family {fit.family!r}")
    if df is not None and sparse_features is not None:
        return _predict_sparse(fit, df, sparse_features,
                               _point_beta(fit, sigma, path_idx), type)
    if df is not None:
        return _predict_spark(fit, df, feature_cols,
                              _point_beta(fit, sigma, path_idx), type)

    x = np.asarray(x, dtype=np.float64)
    if sigma is not None:
        betas = coef_at(fit, sigma, simplify=False)
    elif path_idx is not None:
        betas = fit.coefficients[:, :, [path_idx]]
    else:
        betas = fit.coefficients
    out = _predict_np(fit.family, fit.class_names,
                      _lp_np(x, betas, fit.intercept), type)
    return out[..., 0] if betas.shape[2] == 1 else out


def _predict_sparse(fit: OwlFit, df: DataFrame, sparse_features, beta, type):
    """Arrow map pass appending pred_* columns for ONE path point from
    (indices, values) rows — the coefficient vector rides in the
    closure as a CSR matvec, never as per-feature literals."""
    B = np.ascontiguousarray(beta)[:, :, None]
    m = B.shape[1]
    fam, names, intercept = fit.family, fit.class_names, fit.intercept
    idx_col, val_col = sparse_features

    if type == "class":
        out_fields = "pred_class string"
    else:
        width = m + 1 if type == "response" and fam == "multinomial" else m
        out_fields = ", ".join(f"pred_{t} double" for t in range(width))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields) + ", " + out_fields

    def op(batches):
        from golem_spark.backends import SparseArrowBackend, _csr_batch

        for pdf in batches:
            nrow, lens, rows, fi, fv = _csr_batch(pdf, idx_col, val_col)
            lp = SparseArrowBackend._lp(nrow, rows, fi, fv, B, intercept)
            vals = _predict_np(fam, names, lp, type)[..., 0]
            out = pdf.copy()
            if type == "class":
                out["pred_class"] = vals
            else:
                for t in range(vals.shape[1]):
                    out[f"pred_{t}"] = vals[:, t]
            yield out

    return df.mapInPandas(op, schema)


def _predict_spark(fit: OwlFit, df: DataFrame, feature_cols, beta, type):
    features = [F.col(c).cast("double")
                for c in feature_cols or fit.feature_names]
    lps = _lp_cols(beta, features, fit.intercept)
    names = fit.class_names
    if type == "class":
        if fit.family == "binomial":
            pred = F.when(lps[0] > 0, F.lit(names[1])).otherwise(F.lit(names[0]))
        else:
            pred = _argmax_class_col(lps + [F.lit(0.0)], names)
        return df.withColumn("pred_class", pred)
    out = df
    for t, col in enumerate(lps if type == "link" else _mean_cols(fit.family, lps)):
        out = out.withColumn(f"pred_{t}", col)
    return out
