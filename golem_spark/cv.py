"""train_owl() — repeated k-fold cross-validation over (q, sigma) grids.

Reference parity: R/trainOwl.R:44-201, with two Spark-first changes:
- fold assignment is a DETERMINISTIC key hash (Knuth multiplicative,
  kernel K15) instead of the reference's in-memory shuffle — reproducible
  and shuffle-free at any scale;
- grid cells run concurrently from a driver thread pool; on a cluster the
  FAIR scheduler shares executors across the concurrent fits (the
  reference forks a PSOCK cluster instead, trainOwl.R:134-144).
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from golem_spark.path import OwlFit, owl
from golem_spark.score import score, _measures_for

# two-sided t-distribution 97.5% quantiles for small df (df>=30 -> normal);
# avoids a scipy dependency for the CI half-width (trainOwl.R:158-160)
_T975 = [12.706, 4.303, 3.182, 2.776, 2.571, 2.447, 2.365, 2.306, 2.262,
         2.228, 2.201, 2.179, 2.160, 2.145, 2.131, 2.120, 2.110, 2.101,
         2.093, 2.086, 2.080, 2.074, 2.069, 2.064, 2.060, 2.056, 2.052,
         2.048, 2.045, 2.042]


def _t975(df: int) -> float:
    if df < 1:
        return float("nan")
    return _T975[df - 1] if df <= 30 else 1.96


@dataclass
class TrainedOwl:
    summary: list[dict]                  # rows: measure, q, sigma, mean, se, lo, hi
    optima: dict[str, dict]              # per-measure best cell
    measure: list[str]
    # refit on the full data at best q — or a zero-arg thunk that
    # produces it on first access (pinned-sigma Spark CV: the full fit
    # is k+1 corpus scans a consumer that only reads the cell grid
    # never needs, so it is deferred until someone asks for it)
    fit: OwlFit
    data: list[dict] = field(default_factory=list)
    cell_fits: dict = field(default_factory=dict)  # (q, fold, rep) -> OwlFit (opt-in)

    def __getattribute__(self, name):
        val = object.__getattribute__(self, name)
        if name == "fit" and callable(val):
            val = val()
            object.__setattr__(self, "fit", val)
        return val

    def __repr__(self) -> str:
        lines = ["TrainedOwl:"]
        for m, o in self.optima.items():
            lines.append(f"  {m}: q={o['q']:.3g} sigma={o['sigma']:.4e} "
                         f"mean={o['mean']:.6g} (se {o['se']:.3g})")
        return "\n".join(lines)


def fold_ids(keys: np.ndarray, n_folds: int, repeat: int = 0) -> np.ndarray:
    """Deterministic fold assignment via Knuth multiplicative hashing of a
    row key (kernel K15); `repeat` offsets the hash for repeated CV."""
    h = (keys.astype(np.uint64) + np.uint64(repeat * 1_000_003)) * np.uint64(2654435761)
    return ((h % np.uint64(4294967296)) % np.uint64(n_folds)).astype(np.int64)


def train_owl(x=None, y=None, *, q=(0.2,), number: int = 10, repeats: int = 1,
              measure: str | list[str] | None = None,
              family: str = "gaussian", n_sigma: int = 100,
              max_workers: int = 4, **owl_kwargs) -> TrainedOwl:
    """Repeated k-fold CV over the q grid with a shared sigma path.

    Local (numpy) mode. Each (q, fold, repeat) cell fits on the training
    folds with the full-data sigma grid and scores the held-out fold on
    every applicable measure (trainOwl.R:102-123).
    """
    x = np.asarray(x, dtype=np.float64)
    y_arr = np.asarray(y)
    n = x.shape[0]
    qs = [float(v) for v in np.atleast_1d(q)]

    measures = _measures_for(family)
    if measure is not None:
        want = [measure] if isinstance(measure, str) else list(measure)
        bad = [m for m in want if m not in measures]
        if bad:
            raise ValueError(f"measures {bad} not applicable to family {family!r}")
        measures = want

    # shared sigma grid from a full-data fit at each q (trainOwl.R:69-84)
    full_fits = {qv: owl(x, y_arr, family=family, q=qv, n_sigma=n_sigma, **owl_kwargs)
                 for qv in qs}

    keys = np.arange(n, dtype=np.int64)
    cells = [(qv, fold, rep) for qv in qs for rep in range(repeats)
             for fold in range(number)]

    # cell fits always reuse the full fit's sigma grid — drop a
    # user-pinned sigma so it isn't passed twice
    cell_kwargs = {k: v for k, v in owl_kwargs.items() if k != "sigma"}

    def run_cell(cell):
        qv, fold, rep = cell
        folds = fold_ids(keys, number, rep)
        train = folds != fold
        test = ~train
        sig = full_fits[qv].sigma
        cell_fit = owl(x[train], y_arr[train], family=family, q=qv,
                       sigma=sig, **cell_kwargs)
        out = {}
        for m in measures:
            out[m] = score(cell_fit, x[test], y_arr[test], measure=m)
        return cell, out

    if max_workers > 1:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            results = list(pool.map(run_cell, cells))
    else:
        results = [run_cell(c) for c in cells]

    # aggregate mean/se/95% CI per (measure, q, sigma) (trainOwl.R:146-161)
    return _aggregate_cv(results, full_fits, qs, measures, number * repeats)


def fold_expr(key_col: str, number: int, rep: int = 0):
    """Deterministic CV fold id as a column expression: the same Knuth
    multiplicative hash as :func:`fold_ids` (kernel K15) — ((key + off)
    * 2654435761) mod 2^32 mod number — but computed with every
    intermediate < 2^63 so it is ANSI-mode safe (a raw 64-bit multiply
    would rely on silent wraparound and throw under
    spark.sql.ansi.enabled). Split the 32-bit operand into 16-bit
    halves: k*C = k_hi*(C<<16) + k_lo*C (mod 2^32), each term < 2^48."""
    from pyspark.sql import functions as F

    C = 2654435761
    M32 = 4294967296
    c16 = (C << 16) % M32
    k32 = F.pmod(F.pmod(F.col(key_col).cast("long"), F.lit(M32))
                 + F.lit(rep * 1_000_003), F.lit(M32))
    k_lo = F.pmod(k32, F.lit(65536))
    k_hi = F.floor(k32 / F.lit(65536.0)).cast("long")
    h32 = F.pmod(k_hi * F.lit(c16) + k_lo * F.lit(C), F.lit(M32))
    return F.pmod(h32, F.lit(number))


class _GaussianStatsBackend:
    """Driver-side sufficient-statistics backend for the grouped-CV
    gaussian route: the slice of the backend contract the ADMM path
    consumes (gram/xty/yty + shape attributes), built from per-fold
    raw moments with ZERO data passes. ``owl`` accepts it through
    ``_prebuilt``; its non-SparkBackend type routes the fit onto the
    same driver-local sufficient-statistics ADMM the dense gaussian
    path already uses."""

    def __init__(self, n: int, p: int, intercept: bool,
                 gram_std: np.ndarray, xty_std: np.ndarray, yty_c: float):
        self.n = int(n)
        self.p_orig = int(p)
        self.intercept = bool(intercept)
        self.p_total = int(p) + (1 if intercept else 0)
        self.m = 1
        self._gram = gram_std
        self._xty = xty_std
        self._yty_precomputed = float(yty_c)

    def gram(self) -> np.ndarray:
        return self._gram

    def xty(self) -> np.ndarray:
        return self._xty

    def lambda_max_gradient(self) -> np.ndarray:
        off = 1 if self.intercept else 0
        return np.abs(self._xty[off:, :]).ravel(order="F")


def _gaussian_fold_moments(df, feature_cols, label_col, key_col,
                           number: int, rep: int = 0) -> list[dict]:
    """ONE mapInArrow pass over (key, features, label) → per-fold RAW
    moments {n, sy, yy, sx, xy, G}: everything k-fold gaussian CV needs.
    Each cell's training complement is total − fold (exact algebra, see
    :func:`_gaussian_stats_backend`), and the held-out mse is
    closed-form from the fold's own moments — so the entire CV grid
    costs ONE corpus scan per repeat instead of 2(k+1) stats/Gram scans
    plus k scoring scans. Fold ids are the same Knuth hash as
    :func:`fold_ids`, computed per batch in numpy. Payload is
    number x O(p^2) doubles — bounded by the caller's p cap."""
    from pyspark.sql import functions as F

    p = len(feature_cols)
    S = 4 + 3 * p + p * p  # n, sy, yy, nan_y, nanx(p), sx(p), xy(p), G(p^2)

    sel = df.select(F.col(key_col).cast("long").alias("__k"),
                    *[F.col(c).cast("double") for c in feature_cols],
                    F.col(label_col).cast("double").alias("__y"))

    def op(batches):
        import numpy as np
        import pyarrow as pa

        acc = np.zeros(number * S)
        for rb in batches:
            keys = np.asarray(rb.column(0).to_numpy(zero_copy_only=False),
                              dtype=np.int64)
            X = np.column_stack(
                [np.asarray(rb.column(1 + j).to_numpy(zero_copy_only=False),
                            dtype=np.float64) for j in range(p)])
            y = np.asarray(rb.column(1 + p).to_numpy(zero_copy_only=False),
                           dtype=np.float64)
            folds = fold_ids(keys, number, rep)
            for f in np.unique(folds):
                mask = folds == f
                Xf, yf = X[mask], y[mask]
                # missing values (arrow nulls arrive as NaN) are
                # counted per column and rejected driver-side exactly
                # like the flat stats pass (R/owl.R:350-351)
                nanx = np.isnan(Xf).sum(axis=0)
                nany = int(np.isnan(yf).sum())
                if nany:
                    yf = np.nan_to_num(yf)
                if nanx.any():
                    Xf = np.nan_to_num(Xf)
                off = int(f) * S
                acc[off] += Xf.shape[0]
                acc[off + 1] += float(yf.sum())
                acc[off + 2] += float(yf @ yf)
                acc[off + 3] += nany
                acc[off + 4:off + 4 + p] += nanx
                acc[off + 4 + p:off + 4 + 2 * p] += Xf.sum(axis=0)
                acc[off + 4 + 2 * p:off + 4 + 3 * p] += Xf.T @ yf
                acc[off + 4 + 3 * p:off + S] += (Xf.T @ Xf).ravel()
        yield pa.RecordBatch.from_arrays(
            [pa.array([acc], type=pa.list_(pa.float64()))], ["part"])

    tot = np.zeros(number * S)
    for row in sel.mapInArrow(op, "part array<double>").collect():
        tot += np.asarray(row["part"])

    out = []
    for f in range(number):
        v = tot[f * S:(f + 1) * S]
        nan_cols = [c for j, c in enumerate(feature_cols) if v[4 + j] > 0]
        if v[3] > 0:
            nan_cols.append(label_col)
        if nan_cols:
            raise ValueError(f"missing values in columns: {nan_cols}")
        out.append({"n": float(v[0]), "sy": float(v[1]), "yy": float(v[2]),
                    "sx": v[4 + p:4 + 2 * p].copy(),
                    "xy": v[4 + 2 * p:4 + 3 * p].copy(),
                    "G": v[4 + 3 * p:S].reshape((p, p)).copy()})
    return out


def _moments_sub(a: dict, b: dict | None) -> dict:
    """Training-complement moments: total − fold (b=None → total)."""
    if b is None:
        return a
    return {k: a[k] - b[k] for k in ("n", "sy", "yy", "sx", "xy", "G")}


def _gaussian_stats_backend(mom: dict, feature_cols: list[str],
                            intercept: bool, center: bool, scale: str):
    """(backend, meta) from raw moments — the zero-pass analogue of
    build_spark_backend's gaussian route, standardized by the same
    ``_scale_from_moments``; the standardized Gram / X'y / ||y_c||^2
    follow from the centering algebra
    X_std'X_std = D^{-1}(X'X − c sx' − sx c' + n c c')D^{-1}."""
    from golem_spark.backends import _meta, _scale_from_moments

    n = mom["n"]
    sx, xy, G = mom["sx"], mom["xy"], mom["G"]
    c, x_scale = _scale_from_moments(n, sx / n, np.diag(G), center, scale)
    ymean = mom["sy"] / n

    off = 1 if intercept else 0
    p_total = len(feature_cols) + off
    gram = np.empty((p_total, p_total))
    Gc = (G - np.outer(c, sx) - np.outer(sx, c) + n * np.outer(c, c))
    gram[off:, off:] = Gc / np.outer(x_scale, x_scale)
    xty = np.empty((p_total, 1))
    xy_c = (xy - c * mom["sy"] - ymean * sx + n * c * ymean) / x_scale
    xty[off:, 0] = xy_c
    if intercept:
        col = (sx - n * c) / x_scale
        gram[0, 0] = n
        gram[0, 1:] = col
        gram[1:, 0] = col
        xty[0, 0] = mom["sy"] - n * ymean
    yty_c = mom["yy"] - 2.0 * ymean * mom["sy"] + n * ymean * ymean

    backend = _GaussianStatsBackend(int(n), len(feature_cols), intercept,
                                    gram, xty, yty_c)
    return backend, _meta(c, x_scale, np.array([ymean]), None, feature_cols)


def _mse_from_moments(mom: dict, fit) -> np.ndarray:
    """Held-out gaussian mse per path point, closed-form from the
    fold's raw moments: mean((y − b0 − x·b)^2) = (yy − 2(b0 sy + b·xy)
    + b0^2 n + 2 b0 b·sx + b'Gb)/n, with the fit's RAW-unit
    coefficients — the zero-pass equivalent of scoring the held-out
    fold row by row."""
    n = mom["n"]
    out = np.empty(fit.n_sigma)
    for k in range(fit.n_sigma):
        co = fit.coefficients[:, 0, k]
        b0, b = (float(co[0]), co[1:]) if fit.intercept else (0.0, co)
        out[k] = (mom["yy"] - 2.0 * (b0 * mom["sy"] + b @ mom["xy"])
                  + b0 * b0 * n + 2.0 * b0 * (b @ mom["sx"])
                  + b @ (mom["G"] @ b)) / n
    return out


# ---------------------------------------------------------------------------
# Fused non-gaussian CV route (VERDICT r14 item 1 / guide §2.2): the
# per-cell route pays, per fold cell, a stats pass + a persisted-frame
# materialization + the fused warm-point pass + a held-out scoring
# pass — k x 4 corpus scans per repeat. Everything a warm-started
# narrow dense binomial/poisson/multinomial CV needs is either
# additive over (fold, label) groups (standardization stats, class
# sums, lambda_max gradients, poisson lgamma/X'y ride-alongs) or a
# per-fold-masked evaluation over the SAME rows — so ONE grouped stats
# pass + ONE fused masked warm-point pass + ONE grouped scoring pass
# serve every cell. Each cell still runs the unchanged owl()/
# prox_newton solver to its own stopping criteria (through a backend
# whose passes mask its own held-out fold), so the fixed points — and
# the warm-start contract that a golden already satisfying the duality
# gap is returned UNCHANGED — are preserved.
# ---------------------------------------------------------------------------


def _make_fold_backend(src, fold_col, fold, feat_cols, y_cols, family_name,
                       intercept, n, lgamma_sum, x_center, x_scale):
    from golem_spark.backends import SparkBackend
    from golem_spark.families import get_family

    class _Backend(SparkBackend):
        def __init__(self):
            super().__init__(src, feat_cols, y_cols, get_family(family_name),
                             intercept, n, lgamma_sum, persist=False)
            self._fold_col = fold_col
            self._fold = fold
            self._x_center = np.ascontiguousarray(x_center, dtype=np.float64)
            self._x_scale = np.ascontiguousarray(x_scale, dtype=np.float64)
            self._hess_stash = None  # (betas, finished results)

        def _map_partials(self, frame, build_batch_fn):
            import pandas as pd

            fcols = list(self.feat_cols)
            ycols = list(self.y_cols)
            fcol, f = self._fold_col, self._fold
            c, s = self._x_center, self._x_scale

            def op(batches):
                for pdf in batches:
                    keep = pdf[fcol].to_numpy() != f
                    X = pdf[fcols].to_numpy(dtype=np.float64)[keep]
                    Y = pdf[ycols].to_numpy(dtype=np.float64)[keep]
                    yield pd.DataFrame({"part": [build_batch_fn((X - c) / s,
                                                                Y)]})

            # explicit projection: mapInPandas is opaque to column
            # pruning (guide §4.1), and the shared frame carries other
            # repeats' fold columns this pass must not ship
            return (frame.select(fcol, *fcols, *ycols)
                    .mapInPandas(op, "part array<double>"))

        def eval_hess_multi(self, betas):
            st = self._hess_stash
            if (st is not None and len(st[0]) == len(betas)
                    and all(np.array_equal(a, b)
                            for a, b in zip(st[0], betas))):
                self._hess_stash = None
                return st[1]
            return super().eval_hess_multi(betas)

        # the inherited fallbacks aggregate self.df directly: the raw,
        # unmasked, unstandardized shared frame, held-out rows included.
        # Every fold backend is built with both stashes set, so a missing
        # one is a wiring bug, never a reason to scan. (The narrow
        # gaussian_sufficient_stats aggregation reads self.df too; fold
        # backends serve non-gaussian families only, so none calls it.)
        def lambda_max_gradient(self):
            pre = getattr(self, "_lam_max_grad", None)
            if pre is None:
                raise RuntimeError("fold backend has no lambda_max "
                                   "gradient stash")
            return pre

        def null_intercepts(self):
            if getattr(self, "_null_mu", None) is None:
                raise RuntimeError("fold backend has no null-model stash")
            return super().null_intercepts()

        def subset(self, cols):
            cols = np.asarray(cols)
            if cols.size == self.p_total:
                return self
            off = 1 if self.intercept else 0
            if self.intercept:
                assert cols[0] == 0, "active set must contain the intercept"
            idx = cols[off:] - off
            sub = _make_fold_backend(
                src, fold_col, fold, [feat_cols[j] for j in idx], y_cols,
                family_name, intercept, n, lgamma_sum,
                self._x_center[idx], self._x_scale[idx])
            # the stashes travel with the columns: the gradient is
            # (p, m) raveled per target, the null model is column-free
            grad = getattr(self, "_lam_max_grad", None)
            if grad is not None:
                sub._lam_max_grad = (
                    grad.reshape((len(feat_cols), -1), order="F")[idx]
                    .ravel(order="F"))
            sub._null_mu = getattr(self, "_null_mu", None)
            return sub

        def unpersist(self):
            # the shared source frame's lifecycle belongs to the CV
            # driver (train_owl_spark releases it after scoring)
            pass

    return _Backend()


# fused scoring derives its response terms from the ENCODED y columns
# (values exactly the per-cell label expressions': binomial y01 =
# (__y0+1)/2 over {-1,1}, multinomial indicators are the __yk columns
# with the reference class = 1 - sum, poisson y = __y0) so the shared
# frame never persists or ships the label string; misclass (multinomial
# needs the label value itself) keeps the per-cell route
_FUSED_CV_SCORE_MEASURES = ("mse", "mae", "deviance")


def _fused_cv_setup(df, feature_cols, label_col, key_col, number: int,
                    repeats: int, family: str, owl_kwargs: dict):
    """Build the shared frame + per-(fold, rep) complement backends for
    the fused non-gaussian CV route, or return None when any guard
    fails (caller falls back to the per-cell route, which handles every
    case). ONE grouped stats pass per repeat replaces k per-cell stats
    passes; class discovery, standardization, sigma_max gradients,
    null-model means and the poisson lgamma/X'y constants all come from
    the grouped rows with zero extra scans (the per-cell
    build_spark_backend finisher over complement sums)."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from golem_spark.backends import (_grouped_stats_aggs, _grouped_stats_sum,
                                      _label_xr, _meta, _modeled_classes,
                                      _response_cols, _scale_from_moments,
                                      _sized, _stash_null_model)

    scale = owl_kwargs.get("scale", "l2")
    center = owl_kwargs.get("center") in (None, True)
    intercept = bool(owl_kwargs.get("intercept", True))
    p = len(feature_cols)
    label_numeric = isinstance(df.schema[label_col].dataType, T.NumericType)
    if family in ("gaussian", "poisson") and not label_numeric:
        return None  # per-cell route raises the canonical error

    # ---- ONE grouped stats pass per repeat --------------------------------
    aggs = _grouped_stats_aggs(feature_cols)
    cap = 8192  # (fold x label) groups; a high-cardinality label bails out
    stats_rows: dict[int, list[dict]] = {}
    for rep in range(repeats):
        rows = (df.groupBy(fold_expr(key_col, number, rep).alias("__fold"),
                           F.col(label_col).alias("__lab"))
                .agg(*aggs).limit(cap + 1).collect())
        if len(rows) > cap:
            return None
        stats_rows[rep] = [r.asDict() for r in rows]

    # global class set; every complement must see the same classes or
    # the per-cell route's per-complement discovery is not reproduced
    classes = sorted({r["__lab"] for r in stats_rows[0]
                      if r["__lab"] is not None})
    if family == "binomial" and len(classes) != 2:
        return None
    if family == "multinomial" and len(classes) < 3:
        return None
    enc_classes = None if family == "poisson" else classes
    # held-out row count per (fold, rep): an empty fold has no held-out
    # mean, which the scoring raises on
    held = {(fold, rep): sum(r["__n"] for r in rows if r["__fold"] == fold)
            for rep, rows in stats_rows.items() for fold in range(number)}

    # ---- shared frame: fold ids + double features + encoded response ------
    sel = [fold_expr(key_col, number, rep).alias(f"__fold_{rep}")
           for rep in range(repeats)]
    fcols = [f"__f{j}" for j in range(p)]
    sel += [F.col(c).cast("double").alias(fc)
            for c, fc in zip(feature_cols, fcols)]
    sel.append(F.col(label_col).alias("__lab"))
    enc = df.select(*sel)
    ycs = _response_cols(family, ["__lab"], enc_classes, None)
    y_cols = [f"__y{k}" for k in range(len(ycs))]
    for name, col in zip(y_cols, ycs):
        enc = enc.withColumn(name, col)
    m = len(y_cols)
    # the label string's job ends at the encoding: everything downstream
    # (masked passes, fused scoring) reads the encoded y columns, so the
    # persisted frame stays all-numeric — nothing ships a string through
    # the Arrow boundary (guide §4.1/§2.3). The fused passes are Arrow
    # partial reductions whose parallelism IS the partition count, so
    # the frame is sized like every built backend's.
    n_total = int(sum(r["__n"] for r in stats_rows[0]))
    enc = _sized(enc.drop("__lab"), n_total).persist()

    backends: dict[tuple, tuple] = {}
    try:
        for rep in range(repeats):
            for fold in range(number):
                n, sums, ss, cstats = _grouped_stats_sum(
                    [r for r in stats_rows[rep] if r["__fold"] != fold],
                    feature_cols, label_col)
                if sorted(cstats) != classes:
                    raise LookupError  # complement missing a class
                mu = sums / max(n, 1)
                x_center, x_scale = _scale_from_moments(n, mu, ss, center,
                                                        scale)
                lgamma_sum = 0.0
                if family == "poisson":
                    ymin = min(float(c_) for c_ in cstats)
                    if ymin < 0:
                        raise ValueError("cannot have negative responses "
                                         "in poisson model")
                    ysum = sum(float(c_) * cn for c_, (cn, _) in
                               cstats.items())
                    lgamma_sum = float(sum(
                        cn * math.lgamma(float(c_) + 1.0)
                        for c_, (cn, _) in cstats.items()))
                    xy = np.zeros(p)
                    for c_, (cn, cs) in cstats.items():
                        xy += float(c_) * cs
                    xr, ybar = _label_xr(family, n * mu, xy,
                                         np.array([ysum / max(n, 1)]))
                else:
                    gcls = _modeled_classes(family, classes)
                    xr = np.stack([cstats[c_][1] for c_ in gcls], axis=1)
                    ybar = np.array([cstats[c_][0] / n for c_ in gcls])
                bk = _make_fold_backend(
                    enc, f"__fold_{rep}", fold, fcols, y_cols, family,
                    intercept, n, lgamma_sum, x_center, x_scale)
                _stash_null_model(bk, family, n, sums, xr, ybar, x_center,
                                  x_scale)
                backends[(fold, rep)] = (bk, _meta(
                    x_center, x_scale, np.zeros(m), enc_classes,
                    feature_cols))
    except LookupError:
        enc.unpersist()
        return None  # a complement misses a class: per-cell route
    except BaseException:
        # any other exit (a negative poisson response) re-raises, never
        # with the shared frame still persisted
        enc.unpersist()
        raise
    return {"src": enc, "backends": backends, "classes": classes,
            "y_cols": y_cols, "fcols": fcols, "m": m, "held": held,
            "intercept": intercept, "family": family, "number": number,
            "repeats": repeats}


def _empty_fold(fold, rep) -> ValueError:
    """The one error every Spark CV route raises for an empty held-out
    fold: its scores are means over no rows."""
    return ValueError(f"CV fold {fold} of repeat {rep} holds no rows to "
                      "score; use fewer folds or a key with more distinct "
                      "values")


def _encoded_response(family: str, ys: list) -> list:
    """The scoring kernels' response from the ENCODED y columns, as
    Columns (fused Catalyst scoring) or arrays (speculative numpy
    scoring): binomial y01 = (y + 1) / 2 over {-1, 1}, multinomial
    indicators = the one-hots plus the reference class 1 - their sum,
    poisson y as is. Over those exact values each term equals the
    per-cell route's label expression bit for bit."""
    if family == "binomial":
        return [(ys[0] + 1.0) / 2.0]
    if family == "multinomial":
        ref = 1.0
        for y in ys:
            ref = ref - y
        return list(ys) + [ref]
    return list(ys)


def _fused_warm_prefetch(fused: dict, warm_by_cell: dict,
                         measures: list) -> None:
    """ONE masked pass per repeat evaluating EVERY fold cell's warm
    path points (primal/dual/grad/Hessian — what owl's per-cell fused
    warm-point prefetch would compute in k separate scans) AND, riding
    the same batches, the speculative held-out scores at the
    round-tripped warm coefficients. Per batch, each fold's closures
    run over the complement rows standardized with that complement's
    center/scale; per-fold partials concatenate so each cell's segments
    accumulate exactly as its own pass would. Eval results are stashed
    on each backend; owl's eval_hess_multi call consumes the stash when
    its betas match bitwise (they are built by the same _unrescale on
    the same cubes), else falls through to a live pass — the stash can
    redirect WHERE the numbers come from, never WHAT they are.
    Speculative scores land in fused["spec_scores"][(fold, rep)] with
    their coefficient basis; the caller uses them ONLY for cells whose
    fit returned that exact basis (zero-pass warm cells) and recomputes
    the rest through the grouped scoring aggregation."""
    import pandas as pd

    from golem_spark.backends import _collect_partials
    from golem_spark.path import _rescale, _unrescale
    from golem_spark.predict import _lp_np
    from golem_spark.score import _score_finish, _score_sums

    fam = fused["family"]
    by_rep: dict[int, list] = {}
    for (fold, rep), (bk, meta) in fused["backends"].items():
        cube = warm_by_cell.get((fold, rep))
        if cube is None:
            continue
        bi = np.asarray(cube, dtype=np.float64)
        if bi.ndim != 3:
            continue
        warm = np.stack(
            [_unrescale(bi[:, :, k], meta["x_center"], meta["x_scale"],
                        meta["y_center"], meta["y_scale"], bk.intercept)
             for k in range(bi.shape[2])], axis=2)
        betas = [np.ascontiguousarray(warm[:, :, k])
                 for k in range(warm.shape[2])]
        built = [bk._eval_hess_closure(b) for b in betas]
        # the raw coefficients a zero-pass warm cell will return: the
        # standardized warm points rescaled back (owl's exact pipeline)
        base = _rescale(warm, meta["x_center"], meta["x_scale"],
                        meta["y_center"], meta["y_scale"], bk.intercept)
        # held-out (raw) rows -> every measure's per-point term sums at
        # those coefficients, one lp for all measures
        def held_out_sums(Xh, Yh, base=base, intercept=bk.intercept):
            lp = _lp_np(Xh, base, intercept)
            resp = np.column_stack(_encoded_response(fam, list(Yh.T)))
            return np.array([_score_sums(fam, meas, lp, resp)
                             for meas in measures]).ravel()

        built.append((held_out_sums, base.shape[2] * len(measures)))
        by_rep.setdefault(rep, []).append((bk, betas, built, base))

    for rep, plan in by_rep.items():
        fcol = f"__fold_{rep}"
        fcols = list(plan[0][0].feat_cols)
        ycols = list(plan[0][0].y_cols)
        # eval closures consume the complement (standardized); score
        # closures consume the HELD-OUT slice (raw) — split per fold
        info = [(bk._fold, bk._x_center, bk._x_scale,
                 [fn for fn, _ in built[:len(betas)]],
                 [fn for fn, _ in built[len(betas):]])
                for bk, betas, built, _ in plan]
        lens = [[ln for _, ln in built] for _, _, built, _ in plan]
        out_len = sum(sum(ls) for ls in lens) + len(plan)  # + held counts

        def op(batches, info=info, fcol=fcol, fcols=fcols, ycols=ycols):
            for pdf in batches:
                folds = pdf[fcol].to_numpy()
                Xr = pdf[fcols].to_numpy(dtype=np.float64)
                Yr = pdf[ycols].to_numpy(dtype=np.float64)
                parts = []
                for f, c, s, eval_fns, score_fns_ in info:
                    keep = folds != f
                    X = (Xr[keep] - c) / s
                    Y = Yr[keep]
                    for fn in eval_fns:
                        parts.append(fn(X, Y))
                    held = ~keep
                    Xh, Yh = Xr[held], Yr[held]
                    for fn in score_fns_:
                        parts.append(fn(Xh, Yh))
                    parts.append(np.array([float(Xh.shape[0])]))
                yield pd.DataFrame({"part": [np.concatenate(parts)]})

        total = _collect_partials(
            fused["src"].select(fcol, *fcols, *ycols)
            .mapInPandas(op, "part array<double>"), out_len)
        pos = 0
        spec = fused.setdefault("spec_scores", {})
        for (bk, betas, built, base), ls in zip(plan, lens):
            finished = []
            for ln in ls[:-1]:
                finished.append(bk._eval_hess_finish(total[pos:pos + ln]))
                pos += ln
            bk._hess_stash = (betas, finished)
            sums = total[pos:pos + ls[-1]].reshape(len(measures),
                                                   base.shape[2])
            n_held = float(total[pos + ls[-1]])
            pos += ls[-1] + 1
            if n_held == 0:
                # an empty held-out fold has no mean: leave the cell to
                # the grouped scoring, which raises _empty_fold on it
                continue
            spec[(bk._fold, rep)] = {
                "base": base,
                "scores": {meas: _score_finish(fam, meas, sums[mi], n_held,
                                               fused["m"])
                           for mi, meas in enumerate(measures)}}


def _fused_cv_scores(fused: dict, cells: list, fits: dict,
                     measures: list) -> dict:
    """Held-out scores for EVERY (cell, measure, path point) from ONE
    flat aggregation: each per-cell _score_spark aggregate column
    becomes avg(when(fold == f, <same row expression>)) — the same
    row values, restricted to the cell's held-out fold by the
    null-skipping aggregate instead of a per-cell filtered scan. The
    response terms come from the ENCODED y columns
    (``_encoded_response``)."""
    from pyspark.sql import functions as F

    from golem_spark.score import _score_agg

    for _, fold, rep in cells:
        if fused["held"][(fold, rep)] == 0:
            raise _empty_fold(fold, rep)
    fam = fused["family"]
    features = [F.col(c) for c in fused["fcols"]]
    response = _encoded_response(fam, [F.col(c) for c in fused["y_cols"]])
    aggs = []
    index = []
    for cell in cells:
        qv, fold, rep = cell
        cond = F.col(f"__fold_{rep}") == fold
        coefs = fits[cell].coefficients
        for mi, meas in enumerate(measures):
            for k in range(coefs.shape[2]):
                a = f"s_{len(aggs)}"
                index.append((cell, mi, k, a))
                aggs.append(_score_agg(fam, meas, coefs[:, :, k], features,
                                       fused["intercept"], response,
                                       cond=cond).alias(a))
    row = fused["src"].agg(*aggs).collect()[0]
    out: dict = {}
    for (cell, mi, k, a) in index:
        arr = out.setdefault(cell, {}).setdefault(
            measures[mi], np.empty(fits[cell].coefficients.shape[2]))
        arr[k] = float(row[a])
    return out


def train_owl_spark(df, feature_cols, label_col, key_col, *, q=(0.2,),
                    number: int = 5, repeats: int = 1,
                    measure: str | list[str] | None = None,
                    family: str = "gaussian", n_sigma: int = 50,
                    max_workers: int = 2,
                    sparse_features: tuple[str, str] | None = None,
                    sparse_p: int | None = None,
                    keep_cell_fits: bool = False,
                    beta_init_by_cell=None,
                    full_beta_init=None,
                    _grouped: bool | None = None, **owl_kwargs) -> TrainedOwl:
    """Distributed repeated k-fold CV: folds are a deterministic Knuth
    hash of ``key_col`` (kernel K15) computed as a column expression —
    no shuffle, no sampling; each grid cell is a filtered-DataFrame fit.

    Cells run concurrently from a driver thread pool; on a cluster the
    FAIR scheduler shares executors between the concurrent fits (the
    Spark answer to the reference's PSOCK cluster, trainOwl.R:134-144).

    ``sparse_features``/``sparse_p``: run every cell through the sparse
    backend (feature_cols is ignored); held-out scoring evaluates the
    whole path in one Arrow pass per cell.

    ``beta_init_by_cell``: optional ``(qv, fold, rep) -> array | None``
    giving each cell fit a raw-unit warm start (owl's ``beta_init``
    contract — initialization only, the fixed point is unchanged);
    ``full_beta_init`` likewise seeds the full-data fits. Used by the
    bench/gate CV queries to polish from the frozen per-fold goldens
    instead of re-solving from cold (the CV analogue of the wide
    queries' warm certification, VERDICT r12 item 4).
    """
    from golem_spark.score import _NoRowsToScore, _score_spark
    from golem_spark.score import score as _score

    qs = [float(v) for v in np.atleast_1d(q)]
    measures = _measures_for(family)
    if measure is not None:
        want = [measure] if isinstance(measure, str) else list(measure)
        bad = [m for m in want if m not in measures]
        if bad:
            raise ValueError(f"measures {bad} not applicable to family {family!r}")
        measures = want
    if sparse_features is not None and "auc" in measures:
        if measure is not None:
            # explicitly requested: fail fast, BEFORE any cluster work
            raise ValueError("auc is not available for sparse-features CV; "
                             "request a different measure")
        measures = [m for m in measures if m != "auc"]

    fit_kw = (dict(sparse_features=sparse_features, sparse_p=sparse_p)
              if sparse_features is not None else dict(feature_cols=feature_cols))

    # when the caller pins sigma, the sigma grid is known WITHOUT the
    # full-data fit, so that fit no longer gates the fold cells — it
    # joins the same thread pool instead of running as a serial prefix
    # (the full fit is still produced: TrainedOwl.fit refits at best q)
    pinned_sigma = owl_kwargs.get("sigma") is not None
    sig_pinned = (np.atleast_1d(np.asarray(owl_kwargs["sigma"],
                                           dtype=np.float64))
                  if pinned_sigma else None)

    # gaussian narrow-dense grid: ONE grouped mapInArrow pass per repeat
    # yields per-fold raw moments; every cell's training complement is
    # total − fold and the held-out mse is closed-form from the fold's
    # own moments, so the whole (q x fold x rep) grid — full fits
    # included — touches the data once per repeat (plus scans only for
    # non-moment measures like mae). The per-cell route pays
    # 2 stats/Gram scans per cell plus a scoring scan; at 100 TB with
    # k folds that is 3k + 2 corpus reads collapsed into 1. The p cap
    # matches the ADMM eligibility bound (p x p Gram driver-storable);
    # l1/max scales need a centered data pass per cell, so they (and
    # sparse/local frames) keep the per-cell route.
    grouped: dict[int, list[dict]] | None = None
    if _grouped is not False and (
            family == "gaussian" and sparse_features is None
            and feature_cols is not None and hasattr(df, "sparkSession")
            and len(feature_cols) + 1 <= 2000
            # per-partition moments payload is k x (p^2+3p+4) doubles;
            # bound it at ~32 MB so the driver collect stays small even
            # at the ADMM p cap with many folds
            and number * (len(feature_cols) ** 2
                          + 3 * len(feature_cols) + 4) <= 4_000_000
            and owl_kwargs.get("scale", "l2") in ("l2", "sd", "none")):
        grouped = {rep: _gaussian_fold_moments(df, feature_cols, label_col,
                                               key_col, number, rep)
                   for rep in range(repeats)}
        for rep, folds in grouped.items():
            for fold, mom in enumerate(folds):
                if mom["n"] == 0:
                    raise _empty_fold(fold, rep)
    # dense default center=None resolves to True inside owl
    g_center = owl_kwargs.get("center") in (None, True)
    g_scale = owl_kwargs.get("scale", "l2")
    g_intercept = bool(owl_kwargs.get("intercept", True))
    # moments are fold-partition sums of the same rows, so every
    # repeat's total is the same quantity up to summation order; rep 0's
    # serves the full fits
    g_totals = ({k: sum(f[k] for f in grouped[0])
                 for k in ("n", "sy", "yy", "sx", "xy", "G")}
                if grouped else None)

    # fused non-gaussian route (see the block comment above
    # _make_fold_backend): gated to the warm pinned-sigma narrow
    # dense bench/gate shape; anything else keeps the per-cell route
    fused: dict | None = None
    if (grouped is None and _grouped is not False
            and family in ("binomial", "poisson", "multinomial")
            and sparse_features is None and feature_cols is not None
            and hasattr(df, "sparkSession") and pinned_sigma
            and beta_init_by_cell is not None and len(qs) == 1
            and len(feature_cols) <= 16
            and owl_kwargs.get("screening") is None
            and owl_kwargs.get("scale", "l2") in ("l2", "sd", "none")
            and all(mm in _FUSED_CV_SCORE_MEASURES for mm in measures)):
        fused = _fused_cv_setup(df, feature_cols, label_col, key_col,
                                number, repeats, family, owl_kwargs)
    if fused is not None:
        from golem_spark.solvers import pn_local_hessian

        p_tot = len(feature_cols) + (1 if fused["intercept"] else 0)
        if pn_local_hessian(family, p_tot * fused["m"]):
            warm_by_cell = {
                (fold, rep): beta_init_by_cell(qs[0], fold, rep)
                for rep in range(repeats) for fold in range(number)}
            _fused_warm_prefetch(fused, warm_by_cell, measures)
    def full_fit(qv):
        if grouped is not None:
            # center/scale/intercept are baked into the prebuilt stats;
            # owl's _prebuilt branch only echoes them into fit_options
            bk, bmeta = _gaussian_stats_backend(g_totals, feature_cols,
                                                intercept=g_intercept,
                                                center=g_center,
                                                scale=g_scale)
            return owl(_prebuilt=(bk, bmeta), family=family, q=qv,
                       n_sigma=n_sigma, beta_init=full_beta_init,
                       **owl_kwargs)
        return owl(df=df, label_col=label_col, family=family, q=qv,
                   n_sigma=n_sigma, beta_init=full_beta_init,
                   **fit_kw, **owl_kwargs)

    full_fits: dict = {}
    if not pinned_sigma:
        full_fits = {qv: full_fit(qv) for qv in qs}

    cells = [(qv, fold, rep) for qv in qs for rep in range(repeats)
             for fold in range(number)]

    # cell fits always reuse the full fit's sigma grid — drop a
    # user-pinned sigma so it isn't passed twice
    cell_kwargs = {k: v for k, v in owl_kwargs.items() if k != "sigma"}

    def run_cell(cell):
        qv, fold, rep = cell
        sig = sig_pinned if pinned_sigma else full_fits[qv].sigma
        bi = (beta_init_by_cell(qv, fold, rep)
              if beta_init_by_cell is not None else None)
        if grouped is not None:
            comp = _moments_sub(g_totals, grouped[rep][fold])
            bk, bmeta = _gaussian_stats_backend(comp, feature_cols,
                                               intercept=g_intercept,
                                               center=g_center,
                                               scale=g_scale)
            cell_fit = owl(_prebuilt=(bk, bmeta), family=family, q=qv,
                           sigma=sig, beta_init=bi, **cell_kwargs)
        elif fused is not None:
            bk, bmeta = fused["backends"][(fold, rep)]
            # owl's df mode resolves screening=None to (p_feat > 16) =
            # False under the fused gate (p <= 16); _prebuilt mode
            # would resolve it to True (df is None), so state it
            ckw = dict(cell_kwargs)
            ckw["screening"] = False
            cell_fit = owl(_prebuilt=(bk, bmeta), family=family, q=qv,
                           sigma=sig, beta_init=bi, **ckw)
            # held-out scores come from ONE grouped pass after the pool
            return cell, {}, cell_fit
        else:
            fc = fold_expr(key_col, number, rep)
            train = df.filter(fc != fold)
            cell_fit = owl(df=train, label_col=label_col,
                           family=family, q=qv, sigma=sig, beta_init=bi,
                           **fit_kw, **cell_kwargs)
        try:
            out = {}
            test = None
            fuse: list[str] = []
            for m in measures:
                if grouped is not None and m == "mse":
                    # held-out mse closed-form from the fold's own moments
                    out[m] = _mse_from_moments(grouped[rep][fold], cell_fit)
                    continue
                if test is None:
                    test = df.filter(fold_expr(key_col, number, rep) == fold)
                if sparse_features is not None:
                    out[m] = _score(cell_fit, df=test,
                                    sparse_features=sparse_features,
                                    label_col=label_col, measure=m)
                elif m == "auc":
                    out[m] = _score(cell_fit, df=test, feature_cols=feature_cols,
                                    label_col=label_col, measure=m)
                else:
                    # non-auc dense measures fuse into ONE held-out pass:
                    # every measure's agg columns become siblings of a
                    # single aggregation (identical per-measure expressions
                    # — see _score_spark), k-1 scans saved per cell
                    fuse.append(m)
            if fuse:
                vals = _score_spark(cell_fit, test, feature_cols, label_col,
                                    fuse, None)
                for mi, m in enumerate(fuse):
                    out[m] = vals[mi]
        except _NoRowsToScore as e:
            # the held-out aggregate is NULL: the fold holds no rows
            raise _empty_fold(fold, rep) from e
        return cell, out, cell_fit

    if max_workers > 1:
        with ThreadPoolExecutor(max_workers=max(max_workers, 2)) as pool:
            raw = list(pool.map(run_cell, cells))
    else:
        raw = [run_cell(c) for c in cells]
    if fused is not None:
        # speculative scores (computed in the prefetch pass at the
        # round-tripped warm coefficients) apply exactly to the cells
        # whose fit RETURNED that basis — i.e. warm starts the solver
        # verified optimal at entry. Any cell that moved (extra passes,
        # or no warm start) gets its scores from the grouped
        # aggregation over its actual coefficients.
        fits_by_cell = {cell: fit for cell, _, fit in raw}
        spec = fused.get("spec_scores", {})
        scores: dict = {}
        recompute = []
        for cell, _, fit in raw:
            qv, fold, rep = cell
            sp_ = spec.get((fold, rep))
            if sp_ is not None and np.array_equal(fit.coefficients,
                                                  sp_["base"]):
                scores[cell] = sp_["scores"]
            else:
                recompute.append(cell)
        if recompute:
            scores.update(_fused_cv_scores(fused, recompute,
                                           fits_by_cell, measures))
        raw = [(cell, scores[cell], fit) for cell, _, fit in raw]
        fused["src"].unpersist()
    results = [(cell, out) for cell, out, _ in raw]

    if pinned_sigma:
        # the sigma grid is the pinned one, so nothing downstream NEEDS
        # the full-data fits to aggregate: defer them behind
        # TrainedOwl.fit (k+1 corpus scans skipped for consumers that
        # only read the cell grid; .fit still refits on first access)
        def lazy_full(qv):
            def thunk():
                if qv not in full_fits:
                    full_fits[qv] = full_fit(qv)
                return full_fits[qv]
            return thunk
        trained = _aggregate_cv(results, {qv: lazy_full(qv) for qv in qs},
                                qs, measures, number * repeats,
                                sigma_by_q={qv: sig_pinned for qv in qs})
    else:
        trained = _aggregate_cv(results, full_fits, qs, measures,
                                number * repeats)
    if keep_cell_fits:
        trained.cell_fits = {cell: fit for cell, _, fit in raw}
    return trained


def _aggregate_cv(results, full_fits, qs, measures, n_cells,
                  sigma_by_q=None) -> TrainedOwl:
    """``full_fits`` values are OwlFit objects, or zero-arg thunks when
    the caller pinned sigma (then ``sigma_by_q`` supplies the grid and
    the thunk is only resolved if someone reads ``TrainedOwl.fit``)."""
    summary: list[dict] = []
    data: list[dict] = []
    optima: dict[str, dict] = {}
    tq = _t975(n_cells - 1)
    for m in measures:
        for qv in qs:
            sig = (sigma_by_q[qv] if sigma_by_q is not None
                   else full_fits[qv].sigma)
            scores = np.stack([out[m] for (cell, out) in results if cell[0] == qv])
            sig = sig[:scores.shape[1]]
            means = scores.mean(axis=0)
            ses = scores.std(axis=0, ddof=1) / math.sqrt(n_cells) if n_cells > 1 \
                else np.zeros(scores.shape[1])
            for j in range(sig.size):
                summary.append({"measure": m, "q": qv, "sigma": float(sig[j]),
                                "mean": float(means[j]), "se": float(ses[j]),
                                "lo": float(means[j] - tq * ses[j]),
                                "hi": float(means[j] + tq * ses[j])})
            best_j = int(np.argmax(means)) if m == "auc" else int(np.argmin(means))
            cand = {"q": qv, "sigma": float(sig[best_j]), "mean": float(means[best_j]),
                    "se": float(ses[best_j]), "path_idx": best_j}
            cur = optima.get(m)
            better = (cur is None or
                      (cand["mean"] > cur["mean"] if m == "auc" else cand["mean"] < cur["mean"]))
            if better:
                optima[m] = cand
    for (qv, fold, rep), out in results:
        for m in measures:
            data.append({"q": qv, "fold": fold, "repeat": rep, "measure": m,
                         "scores": out[m].tolist()})
    primary = measures[0]
    return TrainedOwl(summary=summary, optima=optima, measure=measures,
                      fit=full_fits[optima[primary]["q"]], data=data)
