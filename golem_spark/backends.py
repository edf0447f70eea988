"""Data backends: where the data-sized work happens.

The solvers (FISTA/ADMM, path loop) are backend-agnostic: per iteration
they need a handful of scalar losses and a p×m gradient for a given
driver-side beta. One implementation per data layout and place:

- ``LocalBackend``: X, Y as numpy arrays on the driver. Used when n·p fits
  in driver memory (all reference-scale fixtures) — identical operator
  contract, no cluster round-trips.

- ``SparkBackend``: X, Y as columns of a cached standardized DataFrame
  — the one dense distributed backend. Every pass that carries beta is
  ONE mapInPandas partial reduction (one local numpy compute per Arrow
  batch, one driver-side sum of the p-sized partials), so the plan never
  depends on beta. Only the beta-free one-shot passes stay Catalyst
  aggregations: the builder's stats passes, the null-model mean
  fallback and the narrow gaussian sufficient statistics. This is the
  100 TB path: nothing data-sized is ever collected.

- ``SparseArrowBackend``: the same contract over per-row (indices,
  values) array columns, with CSR kernels in mapInArrow batches
  (``LocalSparseBackend`` runs those kernels on driver-local arrays).

Feature standardization (reference src/standardize.h:8-71) lives here too:
center by mean, scale by l1/l2/sd/max with a zero-variance guard.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from golem_spark.families import Family, get_family, _lgamma

# Driver-collect bound for the grouped-by-label stats pass: each class
# row carries 3p+1 aggregate columns, so the collect must be capped
# before a high-cardinality (mistakenly continuous) label can exhaust
# driver memory. 1024 classes x ~600 columns at p=200 is ~5 MB —
# comfortably driver-sized — and far beyond any real multinomial use
# of a sorted-L1 GLM; binomial is capped at its legal 2 classes.
_MAX_MULTINOMIAL_CLASSES = 1024


# ---------------------------------------------------------------------------
# Standardization statistics
# ---------------------------------------------------------------------------

def _apply_scale_guard(scale_vals: np.ndarray) -> np.ndarray:
    out = np.asarray(scale_vals, dtype=np.float64).copy()
    out[out == 0.0] = 1.0
    return out


def standardize_local(x: np.ndarray, center: bool, scale: str):
    """Returns (x_std, x_center, x_scale). x excludes the intercept col."""
    x = np.asarray(x, dtype=np.float64)
    p = x.shape[1]
    x_center = np.zeros(p)
    x_scale = np.ones(p)
    x_std = x.copy()
    if center:
        x_center = np.mean(x_std, axis=0)
        x_std = x_std - x_center
    if scale == "l1":
        x_scale = np.sum(np.abs(x_std), axis=0)
    elif scale == "l2":
        x_scale = np.sqrt(np.sum(x_std * x_std, axis=0))
    elif scale == "sd":
        x_scale = np.std(x_std, axis=0, ddof=1)
    elif scale == "max":
        x_scale = np.max(x_std, axis=0)
    elif scale != "none":
        raise ValueError(f"unknown scale {scale!r}")
    if scale != "none":
        x_scale = _apply_scale_guard(x_scale)
        x_std = x_std / x_scale
    return x_std, x_center, x_scale


class LocalBackend:
    """Driver-local numpy execution of the data-plane contract.

    ``x`` is the standardized feature matrix INCLUDING the intercept
    column of ones at position 0 when intercept=True.
    """

    def __init__(self, x: np.ndarray, y: np.ndarray, family: Family, intercept: bool):
        self.x = np.ascontiguousarray(x, dtype=np.float64)
        self.y = np.ascontiguousarray(y, dtype=np.float64)
        self.family = family
        self.intercept = intercept
        self.n = x.shape[0]
        self.p_total = x.shape[1]
        self.m = y.shape[1]

    def eval(self, beta: np.ndarray):
        """(primal, dual, gradient p_total×m) at beta — one 'pass'."""
        lp = self.x @ beta
        fam = self.family
        return (
            fam.primal(self.y, lp),
            fam.dual(self.y, lp),
            self.x.T @ fam.pseudo_gradient(self.y, lp),
        )

    def primal(self, beta: np.ndarray) -> float:
        return self.family.primal(self.y, self.x @ beta)

    def gram(self) -> np.ndarray:
        return self.x.T @ self.x

    def xty(self) -> np.ndarray:
        return self.x.T @ self.y

    def subset(self, cols: np.ndarray) -> "LocalBackend":
        return LocalBackend(self.x[:, cols], self.y, self.family, self.intercept)

    def eval_hess(self, beta: np.ndarray):
        """(primal, dual, gradient, hessian) — local mirror of
        SparkBackend.eval_hess."""
        fam = self.family
        lp = self.x @ beta
        primal = fam.primal(self.y, lp)
        dual = fam.dual(self.y, lp)
        grad = self.x.T @ fam.pseudo_gradient(self.y, lp)
        if fam.name == "multinomial":
            H = self.multinomial_hessian(beta)
        else:
            w = _curvature_weights(fam.name, self.y, lp)
            H = (self.x * w[:, None]).T @ self.x
        return primal, dual, grad, H

    def multinomial_hessian(self, beta: np.ndarray) -> np.ndarray:
        """Exact softmax block Hessian H[(j,k),(i,l)] =
        sum_r x_rj x_ri p_rk (delta_kl - p_rl), returned (p*m, p*m) in
        column-major block order."""
        lp = self.x @ beta
        m = beta.shape[1]
        p = self.p_total
        lp_max = np.max(lp, axis=1, keepdims=True)
        lse = np.log(np.exp(-lp_max) + np.sum(np.exp(lp - lp_max), axis=1, keepdims=True)) + lp_max
        P = np.exp(lp - lse)  # (n, m), implicit class excluded
        H = np.zeros((p * m, p * m))
        for k in range(m):
            for l in range(k, m):
                w = P[:, k] * ((1.0 if k == l else 0.0) - P[:, l])
                blk = (self.x * w[:, None]).T @ self.x
                H[k * p:(k + 1) * p, l * p:(l + 1) * p] = blk
                if l != k:
                    H[l * p:(l + 1) * p, k * p:(k + 1) * p] = blk
        return H

    def lambda_max_gradient(self) -> np.ndarray:
        from golem_spark.families import lambda_max_gradient

        xs = self.x[:, 1:] if self.intercept else self.x
        return lambda_max_gradient(self.family, xs, self.y)

    def null_intercepts(self) -> np.ndarray:
        return self.family.fit_null_model(self.y)


# ---------------------------------------------------------------------------
# Spark backend
# ---------------------------------------------------------------------------

def _curvature_weights(fam: str, y: np.ndarray, lp: np.ndarray) -> np.ndarray:
    """Per-row second-derivative weights for the prox-Newton solver."""
    if fam == "binomial":
        s = 1.0 / (1.0 + np.exp(-np.clip(lp[:, 0], -700, 700)))
        return s * (1 - s)
    if fam == "poisson":
        return np.exp(np.clip(lp[:, 0], -700, 700))
    raise ValueError(f"no scalar curvature weights for family {fam!r}")



def _null_intercepts_from_mu(fam: str, mu: np.ndarray) -> np.ndarray:
    """Closed-form intercept-only optimum from the response means."""
    if fam == "binomial":
        mu01 = np.clip(0.5 * mu + 0.5, 1e-9, 1 - 1e-9)
        return np.log(mu01 / (1 - mu01))
    if fam == "poisson":
        return np.log(np.maximum(mu, 1e-300))
    if fam == "multinomial":
        # implicit-reference parameterization: b_k = log(mu_k/mu_ref)
        return (np.log(np.maximum(mu, 1e-300))
                - math.log(max(1 - float(np.sum(mu)), 1e-300)))
    return mu


class SparkBackend:
    """Distributed execution of the data-plane contract.

    ``df`` must already contain standardized feature columns ``feat_cols``
    (NOT including an intercept column — the intercept is a column of
    ones added batch-side) and encoded response columns ``y_cols``
    (length m). The DataFrame is cached.

    Every pass that carries beta is a mapInPandas partial reduction
    (Arrow batches -> numpy -> one partial-sum row per batch, summed on
    the driver): one local compute and one reduce per pass. The JVM
    side is a generic PythonMapInPandas node whose plan does not depend
    on beta, so pass N reuses pass 1's compiled classes; baking beta
    into Column literals instead generated fresh code on every pass
    (2 classes compiled per call; cold binomial eval at p = 30 and
    n = 60,000 on 4 cores: 993 ms against 413 ms). Collected partials are
    O(#partitions x p*m) doubles — fine up to p ~ 100k. The closures
    call module-level helpers such as ``_family_numpy``, which pickle by
    reference, so Python workers must be able to import golem_spark.
    """

    def __init__(self, df: DataFrame, feat_cols: list[str], y_cols: list[str],
                 family: Family, intercept: bool, n: int,
                 lgamma_sum: float = 0.0, persist: bool = True):
        self.df = df
        self.feat_cols = list(feat_cols)
        self.y_cols = list(y_cols)
        self.family = family
        self.intercept = intercept
        self.n = n
        self.p_total = len(feat_cols) + (1 if intercept else 0)
        self.m = len(y_cols)
        # constant sum(lgamma(y+1)) for poisson; may be a ZERO-ARG THUNK
        # (lazy: the closures compute lgamma in-batch, and only the
        # closed-form null deviance, path._spark_primal_at_zero, reads
        # the constant — a fit that never asks never pays the scan)
        self._lgamma_sum = lgamma_sum
        if persist:
            self.df = self.df.persist()

    @property
    def _lgs(self) -> float:
        v = self._lgamma_sum
        if callable(v):
            v = float(v())
            self._lgamma_sum = v
        return v

    # -- partial-reduction plumbing ------------------------------------------

    def _partial_reduce(self, build_batch_fn, out_len: int) -> np.ndarray:
        if not hasattr(self, "_n_parts_cache"):
            self._n_parts_cache = []
        src = _bounded_partials_src(self.df, out_len, self._n_parts_cache)
        return _collect_partials(self._map_partials(src, build_batch_fn),
                                 out_len)

    def _multi_reduce(self, built: list) -> list[np.ndarray]:
        """ONE distributed pass evaluating several closures (guide §2.4:
        K warm-start evaluations fused into a single scan). Per batch the
        per-beta partials are computed by the SAME closures the
        single-beta passes use and concatenated, so each beta's segment
        accumulates over identical batches in identical order. The
        coalesce bound uses the PER-BETA partial size so the fused pass
        keeps the exact partition/batch grouping of the single passes
        (a grouping change would shift partial-sum rounding by an ulp)."""
        fns = [f for f, _ in built]
        lens = [l for _, l in built]

        def batch(*args):
            return np.concatenate([f(*args) for f in fns])

        if not hasattr(self, "_n_parts_cache"):
            self._n_parts_cache = []
        max_single = max(lens)
        saved = _bounded_partials_src(self.df, max_single,
                                      self._n_parts_cache)
        out_len = sum(lens)
        out = _collect_partials(
            self._map_partials(saved, batch), out_len)
        parts, pos = [], 0
        for l in lens:
            parts.append(out[pos:pos + l])
            pos += l
        return parts

    def _map_partials(self, src: DataFrame, build_batch_fn) -> DataFrame:
        import pandas as pd

        feat_cols = list(self.feat_cols)
        y_cols = list(self.y_cols)

        def op(batches):
            for pdf in batches:
                X = pdf[feat_cols].to_numpy(dtype=np.float64)
                Y = pdf[y_cols].to_numpy(dtype=np.float64)
                yield pd.DataFrame({"part": [build_batch_fn(X, Y)]})

        return src.mapInPandas(op, "part array<double>")

    # -- contract ------------------------------------------------------------

    def _eval_closure(self, beta: np.ndarray):
        """(batch_fn, out_len) for one beta — the exact per-batch
        arithmetic of :meth:`eval`, shared by the single and fused
        multi-beta passes so both produce identical partials."""
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept = self.intercept
        m = self.m
        p_total = self.p_total

        def batch(X, Y):
            lp = (b[0][None, :] + X @ b[1:]) if intercept else X @ b
            primal, dual, g = _family_numpy(fam, Y, lp)
            grad = X.T @ g
            if intercept:
                grad = np.vstack([g.sum(axis=0), grad])
            return np.concatenate([[primal, dual], grad.ravel(order="F")])

        return batch, 2 + p_total * m

    def _eval_finish(self, out: np.ndarray):
        grad = out[2:].reshape((self.p_total, self.m), order="F")
        return float(out[0]), float(out[1]), grad

    def eval(self, beta: np.ndarray):
        """(primal, dual, gradient p_total×m) at beta — one pass."""
        batch, out_len = self._eval_closure(beta)
        return self._eval_finish(self._partial_reduce(batch, out_len))

    def eval_multi(self, betas: list) -> list:
        """[(primal, dual, grad)] for every beta from ONE data pass."""
        built = [self._eval_closure(b) for b in betas]
        return [self._eval_finish(out)
                for out in self._multi_reduce(built)]

    def eval_hess_multi(self, betas: list) -> list:
        """[(primal, dual, grad, hess)] for every beta from ONE pass."""
        built = [self._eval_hess_closure(b) for b in betas]
        return [self._eval_hess_finish(out)
                for out in self._multi_reduce(built)]

    def primal(self, beta: np.ndarray) -> float:
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept = self.intercept

        def batch(X, Y):
            lp = (b[0][None, :] + X @ b[1:]) if intercept else X @ b
            primal, _, _ = _family_numpy(fam, Y, lp, need_dual=False, need_grad=False)
            return np.array([primal])

        return float(self._partial_reduce(batch, 1)[0])

    def _eval_hess_closure(self, beta: np.ndarray):
        """(batch_fn, out_len) for one beta — the exact per-batch
        arithmetic of :meth:`eval_hess` (single and fused passes share
        it, so per-beta partials are identical either way)."""
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept = self.intercept
        m = self.m
        p_total = self.p_total
        if fam == "multinomial":
            # exact block softmax Hessian (narrow fits; wide multinomial
            # uses the Bohning bound and never calls this): block (k,l)
            # is X' diag(P_k (delta_kl - P_l)) X over the m-1 modeled
            # classes, P from the max-shifted softmax with the implicit
            # reference class
            n_blk = m * (m + 1) // 2

            def mbatch(X, Y):
                lp = (b[0][None, :] + X @ b[1:]) if intercept else X @ b
                primal, dual, g = _family_numpy(fam, Y, lp)
                grad = X.T @ g
                if intercept:
                    grad = np.vstack([g.sum(axis=0), grad])
                lp_max = np.maximum(np.max(lp, axis=1, keepdims=True), 0.0)
                e = np.exp(np.clip(lp - lp_max, -700, 700))
                denom = np.exp(-lp_max[:, 0]) + e.sum(axis=1)
                P = e / denom[:, None]
                Xi = (np.hstack([np.ones((X.shape[0], 1)), X])
                      if intercept else X)
                blocks = []
                for k in range(m):
                    for l in range(k, m):
                        w = P[:, k] * ((1.0 - P[:, l]) if k == l
                                       else -P[:, l])
                        blocks.append(((Xi * w[:, None]).T @ Xi).ravel())
                return np.concatenate([[primal, dual],
                                       grad.ravel(order="F"), *blocks])

            return mbatch, 2 + p_total * m + n_blk * p_total * p_total

        def batch(X, Y):
            lp = (b[0][None, :] + X @ b[1:]) if intercept else X @ b
            primal, dual, g = _family_numpy(fam, Y, lp)
            grad = X.T @ g
            if intercept:
                grad = np.vstack([g.sum(axis=0), grad])
            if fam == "binomial":
                s = 1.0 / (1.0 + np.exp(-np.clip(lp[:, 0], -700, 700)))
                w = s * (1 - s)
            else:
                w = np.exp(np.clip(lp[:, 0], -700, 700))
            Xi = np.hstack([np.ones((X.shape[0], 1)), X]) if intercept else X
            H = (Xi * w[:, None]).T @ Xi
            return np.concatenate([[primal, dual], grad.ravel(order="F"),
                                   H.ravel()])

        return batch, 2 + p_total * m + p_total * p_total

    def _eval_hess_finish(self, out: np.ndarray):
        m = self.m
        p_total = self.p_total
        grad = out[2:2 + p_total * m].reshape((p_total, m), order="F")
        if self.family.name == "multinomial":
            H = np.zeros((p_total * m, p_total * m))
            pos = 2 + p_total * m
            for k in range(m):
                for l in range(k, m):
                    blk = out[pos:pos + p_total * p_total].reshape(
                        (p_total, p_total))
                    pos += p_total * p_total
                    H[k * p_total:(k + 1) * p_total,
                      l * p_total:(l + 1) * p_total] = blk
                    if l != k:
                        H[l * p_total:(l + 1) * p_total,
                          k * p_total:(k + 1) * p_total] = blk
        else:
            H = out[2 + p_total * m:].reshape((p_total, p_total))
        return float(out[0]), float(out[1]), grad, H

    def eval_hess(self, beta: np.ndarray):
        """(primal, dual, gradient, hessian) in ONE data pass — the
        prox-Newton hot loop. hessian is X' diag(w) X for binomial/
        poisson, the exact block Hessian for multinomial (caller gates
        on m*p)."""
        batch, out_len = self._eval_hess_closure(beta)
        return self._eval_hess_finish(self._partial_reduce(batch, out_len))

    def gram(self) -> np.ndarray:
        """X^T X including the intercept column — one pass, p×p to the
        driver."""
        intercept = self.intercept
        p_total = self.p_total

        def batch(X, Y):
            Xi = np.hstack([np.ones((X.shape[0], 1)), X]) if intercept else X
            return (Xi.T @ Xi).ravel()

        return self._partial_reduce(batch, p_total * p_total).reshape(
            (p_total, p_total))

    def xty(self) -> np.ndarray:
        intercept = self.intercept
        p_total = self.p_total
        m = self.m

        def batch(X, Y):
            Xi = np.hstack([np.ones((X.shape[0], 1)), X]) if intercept else X
            return (Xi.T @ Y).ravel(order="F")

        return self._partial_reduce(batch, p_total * m).reshape(
            (p_total, m), order="F")

    # The one Catalyst aggregation left on this plane: the pass carries
    # no beta and runs once per gaussian fit, so its generated code is
    # compiled once per design, and on the unpersisted frame a narrow
    # fit reads it is faster than the Arrow closure (lineitem, p = 4, 4
    # cores: 346 against 526 ms at sf0.01, 820 against 1,073 ms at sf0.1).
    # Past a few dozen columns the p(p+1)/2 expression list stops
    # scaling, so the choice follows the input's p.
    _CATALYST_STATS_MAX_P = 48

    def gaussian_sufficient_stats(self):
        """(gram, xty, yty) in ONE distributed pass — the complete data
        dependence of the gaussian path (factorize-once design,
        src/owl.cpp:171-215). After this single pass the entire ADMM
        path loop, including lambda_max (= |xty| rows sans intercept),
        is driver-local: one data pass for the whole fit."""
        p = self.p_total
        m = self.m
        if p > self._CATALYST_STATS_MAX_P:
            intercept = self.intercept

            def batch(X, Y):
                Xi = np.hstack([np.ones((X.shape[0], 1)), X]) if intercept else X
                return np.concatenate([(Xi.T @ Xi).ravel(),
                                       (Xi.T @ Y).ravel(order="F"),
                                       [float(np.sum(Y * Y))]])

            out = self._partial_reduce(batch, p * p + p * m + 1)
            gram = out[:p * p].reshape((p, p))
            xty = out[p * p:-1].reshape((p, m), order="F")
            return gram, xty, float(out[-1])
        cols = ([F.lit(1.0)] if self.intercept else []) + [F.col(c) for c in self.feat_cols]
        aggs = []
        for i in range(p):
            for j in range(i, p):
                aggs.append(F.sum(cols[i] * cols[j]).alias(f"__xx_{i}_{j}"))
        for k, yc in enumerate(self.y_cols):
            for i, c in enumerate(cols):
                aggs.append(F.sum(c * F.col(yc)).alias(f"__xty_{i}_{k}"))
            aggs.append(F.sum(F.col(yc) * F.col(yc)).alias(f"__yy_{k}"))
        row = self.df.agg(*aggs).collect()[0]
        g = np.zeros((p, p))
        for i in range(p):
            for j in range(i, p):
                g[i, j] = g[j, i] = row[f"__xx_{i}_{j}"]
        xty = np.zeros((p, m))
        yty = 0.0
        for k in range(m):
            for i in range(p):
                xty[i, k] = row[f"__xty_{i}_{k}"]
            yty += float(row[f"__yy_{k}"])
        return g, xty, yty

    def subset(self, cols: np.ndarray) -> "SparkBackend":
        """Backend over a column subset (active set). Intercept position 0
        must be included when intercept=True (mirrors src/owl.cpp:221)."""
        cols = np.asarray(cols)
        if self.intercept:
            assert cols[0] == 0, "active set must contain the intercept"
            feat = [self.feat_cols[j - 1] for j in cols[1:]]
        else:
            feat = [self.feat_cols[j] for j in cols]
        return SparkBackend(self.df, feat, self.y_cols, self.family,
                            self.intercept, self.n, self._lgamma_sum, persist=False)

    def lambda_max_gradient(self) -> np.ndarray:
        """|X^T y~| (lambdaMax.h:8-60) — ZERO passes when
        build_spark_backend already derived it from its stats pass
        (poisson's X'y ride-along, the binomial/multinomial grouped
        per-class sums: the common path), else one pass.

        Per batch the closure returns [X'y~, sum(y~), X'1]. The centered
        binomial/multinomial form distributes over the sum,
        sum(x*(y~ - mu)) = X'y~ - mu*X'1, and the multinomial's
        standardize-then-rescale (divide by sd, multiply back) cancels,
        so the response means come from the same pass — and with them
        null_intercepts() needs no pass of its own."""
        pre = getattr(self, "_lam_max_grad", None)
        if pre is not None:
            return pre
        fam = self.family.name
        m = self.m
        p = len(self.feat_cols)

        def batch(X, Y):
            if fam == "binomial":
                yt = (Y + 1) / 2.0
            elif fam == "poisson":
                yt = 1.0 - Y
            else:
                yt = Y
            return np.concatenate([(X.T @ yt).ravel(order="F"),
                                   yt.sum(axis=0), X.sum(axis=0)])

        out = self._partial_reduce(batch, p * m + m + p)
        g = out[:p * m].reshape((p, m), order="F")
        yt_mean = out[p * m:p * m + m] / self.n
        if fam in ("binomial", "multinomial"):
            g = g - np.outer(out[p * m + m:], yt_mean)
        self._stash_null_mu(fam, yt_mean)
        return np.abs(g.ravel(order="F"))

    def _stash_null_mu(self, fam: str, yt_mean: np.ndarray) -> None:
        """Decode the gradient pass's transformed-response means back to
        encoded-y means (binomial yt=(y+1)/2, poisson yt=1-y)."""
        if fam == "binomial":
            self._null_mu = 2.0 * yt_mean - 1.0
        elif fam == "poisson":
            self._null_mu = 1.0 - yt_mean
        else:
            self._null_mu = yt_mean.copy()

    def null_intercepts(self) -> np.ndarray:
        mu = getattr(self, "_null_mu", None)
        if mu is None:  # lambda_max_gradient not called (e.g. user sigma_max)
            # beta-free one-shot Catalyst pass over the y columns only
            means = self.df.agg(*[F.avg(F.col(c)).alias(f"m{k}")
                                  for k, c in enumerate(self.y_cols)]).collect()[0]
            mu = np.array([means[f"m{k}"] for k in range(self.m)])
        return _null_intercepts_from_mu(self.family.name, np.asarray(mu))

    def unpersist(self):
        self.df.unpersist()


def _flatten_lists(arrs, dtype) -> np.ndarray:
    """Concatenate a pandas object column of per-row sequences. Arrow
    delivers ndarray elements, which concatenate C-speed; generic
    sequences fall back to a per-row conversion."""
    seq = list(arrs)
    if not seq:
        return np.zeros(0, dtype=dtype)
    if isinstance(seq[0], np.ndarray):
        return np.concatenate(seq).astype(dtype, copy=False)
    out = [np.asarray(v, dtype=dtype) for v in seq]
    return np.concatenate(out) if out else np.zeros(0, dtype=dtype)


def _csr_batch(pdf, idx_col: str, val_col: str):
    """Shared CSR row-building for every sparse Arrow closure:
    (nrow, lens, rows, flat_idx, flat_val). Null array cells are
    rejected (the dense path rejects null features the same way)."""
    il = pdf[idx_col].to_numpy()
    vl = pdf[val_col].to_numpy()
    nrow = len(il)
    if any(v is None for v in il) or any(v is None for v in vl):
        raise ValueError(f"missing values in columns: ['{idx_col}', '{val_col}']")
    lens = np.fromiter((len(v) for v in il), dtype=np.int64, count=nrow)
    flat_idx = _flatten_lists(il, np.int64)
    flat_val = _flatten_lists(vl, np.float64)
    rows = np.repeat(np.arange(nrow), lens)
    return nrow, lens, rows, flat_idx, flat_val


def _bounded_partials_src(df: DataFrame, out_len: int,
                          cached_n_parts: list) -> DataFrame:
    """Cap the bytes of partial rows a reduction pass sends the driver.

    A Gram partial is out_len = p_total^2 doubles (~5 MB at p=807); with
    31 partitions the driver would ingest ~160 MB of task results, which
    the py4j collect path handles badly (measured 7-52 s, high variance,
    vs 1.4-3 s after coalescing to ~40 MB). Coalesce is a narrow
    dependency, so the map work itself runs in the merged tasks — fine
    here because per-batch CPU is small next to the transfer. A
    two-stage tree reduce (full-parallel map, then a repartition-sum
    stage) measured slower than coalesce locally, because of its extra
    shuffle, so ingress is bounded to ~40 MB this simple way."""
    part_bytes = out_len * 8
    if part_bytes <= (1 << 20):
        return df
    if not cached_n_parts:
        cached_n_parts.append(df.rdd.getNumPartitions())
    n_in = cached_n_parts[0]
    fanin = max(1, min(n_in, (40 << 20) // part_bytes))
    return df.coalesce(fanin) if fanin < n_in else df


def _collect_partials(df: DataFrame, out_len: int) -> np.ndarray:
    """Sum array<double> partial rows on the driver WITHOUT collect()'s
    per-element Python float materialization: Arrow transfer keeps the
    values in one contiguous buffer (a p^2-sized Gram partial from 30
    partitions is ~20M doubles — Row conversion alone costs seconds).
    A failing pass raises after its one job; nothing re-runs it."""
    total = np.zeros(out_len)
    for chunk in df.toArrow().column("part").chunks:
        flat = chunk.flatten().to_numpy(zero_copy_only=False)
        if flat.size:
            total += flat.reshape(-1, out_len).sum(axis=0)
    return total


class SparseArrowBackend(SparkBackend):
    """Sparse-native wide-p backend: features arrive as per-row
    (indices, values) array columns — hashed one-hots / CSR rows, the
    reference's dgCMatrix role (R/owl.R:353-360). Standardization is
    scale-only (centering would densify — rejected exactly like the
    reference) and is FOLDED into every pass as values * inv_scale[idx]
    instead of rewriting the arrays. All kernels are pure-numpy CSR
    reductions (bincount matvecs / per-row outer accumulation) inside
    mapInPandas Arrow batches — no scipy, nothing densifies to n x p.

    ``col_sel``: optional sorted array of ORIGINAL feature ids this
    backend exposes (active-set subsetting); indices outside it are
    masked out batch-side and survivors remapped to 0..len-1.
    """

    def __init__(self, df: DataFrame, idx_col: str, val_col: str,
                 y_cols: list[str], family: Family, intercept: bool, n: int,
                 p_feat: int, inv_scale: np.ndarray,
                 lgamma_sum: float = 0.0, persist: bool = True,
                 col_sel: np.ndarray | None = None):
        self.df = df.persist() if persist else df
        self.idx_col = idx_col
        self.val_col = val_col
        self.y_cols = list(y_cols)
        self.family = family
        self.intercept = intercept
        self.n = n
        self.m = len(y_cols)
        self._lgamma_sum = lgamma_sum
        self.inv_scale_full = np.ascontiguousarray(inv_scale, dtype=np.float64)
        self.col_sel = None if col_sel is None else np.asarray(col_sel, dtype=np.int64)
        self.p_feat = p_feat if self.col_sel is None else int(self.col_sel.size)
        self.p_total = self.p_feat + (1 if intercept else 0)
        self.p_orig = p_feat
        self.feat_cols = [f"s{j}" for j in range(self.p_feat)]  # names only

    # -- batch plumbing ------------------------------------------------------

    def _map_partials(self, src: DataFrame, build_batch_fn) -> DataFrame:
        """mapInArrow partial reduction: the (indices, values) list
        columns are consumed as raw Arrow buffers — values + offsets of
        the ListArray, zero-copy — instead of pandas object columns of
        600k per-row ndarrays (whose list()+concatenate dominated the
        pass CPU; measured ~2x faster per pass at sf0.1)."""
        import pyarrow as pa

        idx_col, val_col, y_cols = self.idx_col, self.val_col, list(self.y_cols)
        inv_scale = self.inv_scale_full
        col_map = None
        if self.col_sel is not None:
            col_map = np.full(self.p_orig, -1, dtype=np.int64)
            col_map[self.col_sel] = np.arange(self.col_sel.size)

        def op(batches):
            for rb in batches:
                nrow = rb.num_rows
                ia = rb.column(rb.schema.get_field_index(idx_col))
                va = rb.column(rb.schema.get_field_index(val_col))
                if (ia.null_count or va.null_count
                        or ia.values.null_count or va.values.null_count):
                    raise ValueError(
                        f"missing values in columns: ['{idx_col}', '{val_col}']")
                # .values ignores the slice offset; .offsets are absolute
                # into it, so index values by [offsets[0], offsets[-1])
                ioff = ia.offsets.to_numpy()
                voff = va.offsets.to_numpy()
                cols = ia.values.to_numpy(zero_copy_only=False)[
                    ioff[0]:ioff[-1]].astype(np.int64, copy=False)
                flat_val = va.values.to_numpy(zero_copy_only=False)[
                    voff[0]:voff[-1]].astype(np.float64, copy=False)
                rows = np.repeat(np.arange(nrow), np.diff(ioff))
                vals = flat_val * inv_scale[cols]
                if col_map is not None:
                    remap = col_map[cols]
                    keep = remap >= 0
                    rows, cols, vals = rows[keep], remap[keep], vals[keep]
                Y = np.column_stack([
                    rb.column(rb.schema.get_field_index(c)).to_numpy(
                        zero_copy_only=False) for c in y_cols]
                ).astype(np.float64, copy=False)
                part = np.asarray(build_batch_fn(nrow, rows, cols, vals, Y),
                                  dtype=np.float64)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([part], type=pa.list_(pa.float64()))], ["part"])

        return src.mapInArrow(op, "part array<double>")

    @staticmethod
    def _lp(nrow, rows, cols, vals, b, intercept):
        """Sparse X @ b (+ intercept row of b), b is (p_total, m)."""
        m = b.shape[1]
        bf = b[1:] if intercept else b
        lp = np.zeros((nrow, m))
        for k in range(m):
            lp[:, k] = np.bincount(rows, weights=vals * bf[cols, k],
                                   minlength=nrow)
        if intercept:
            lp += b[0][None, :]
        return lp

    @staticmethod
    def _xtg(p_feat, rows, cols, vals, g, intercept):
        """Sparse X^T g with optional intercept row (column of ones)."""
        m = g.shape[1]
        out = np.zeros((p_feat + (1 if intercept else 0), m))
        off = 1 if intercept else 0
        for k in range(m):
            out[off:, k] = np.bincount(cols, weights=vals * g[rows, k],
                                       minlength=p_feat)
            if intercept:
                out[0, k] = g[:, k].sum()
        return out

    # -- contract ------------------------------------------------------------

    def _eval_closure(self, beta: np.ndarray):
        """(batch_fn, out_len) for one beta — the exact per-batch
        arithmetic of :meth:`eval` (single and fused multi-beta passes
        share it, so per-beta partials are identical either way)."""
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept, m, p_feat = self.intercept, self.m, self.p_feat
        lpf, xtgf = self._lp, self._xtg

        def batch(nrow, rows, cols, vals, Y):
            lp = lpf(nrow, rows, cols, vals, b, intercept)
            primal, dual, g = _family_numpy(fam, Y, lp)
            grad = xtgf(p_feat, rows, cols, vals, g, intercept)
            return np.concatenate([[primal, dual], grad.ravel(order="F")])

        return batch, 2 + self.p_total * m

    def primal(self, beta: np.ndarray) -> float:
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept = self.intercept
        lpf = self._lp

        def batch(nrow, rows, cols, vals, Y):
            lp = lpf(nrow, rows, cols, vals, b, intercept)
            p, _, _ = _family_numpy(fam, Y, lp, need_dual=False, need_grad=False)
            return np.array([p])

        return float(self._partial_reduce(batch, 1)[0])

    @staticmethod
    def _accum_gram(H, nrow, rows, cols, vals, w=None, intercept=False):
        """H += X^T diag(w) X over one batch (H is (p_total, p_total),
        intercept row/col included when intercept). Fully vectorized
        pair expansion + np.add.at — cost sum(nnz_row^2) flat array
        ops, never n x p and never a per-row Python loop."""
        off = 1 if intercept else 0
        order = np.argsort(rows, kind="stable")
        rs, cs, vs = rows[order], cols[order], vals[order]
        L = np.bincount(rs, minlength=nrow)          # nnz per row
        starts = np.concatenate([[0], np.cumsum(L)[:-1]])
        L2 = L * L
        total = int(L2.sum())
        if total:
            # p-th pair of row r (p in [0, L_r^2)) -> (p // L_r, p % L_r)
            pair_off = np.concatenate([[0], np.cumsum(L2)[:-1]])
            k = np.arange(total) - np.repeat(pair_off, L2)
            Lr = np.repeat(L, L2)
            so = np.repeat(starts, L2)
            ia = so + k // Lr
            ib = so + k % Lr
            pw = (vs[ia] * vs[ib] if w is None
                  else vs[ia] * vs[ib] * np.repeat(w, L2))
            # scatter-add via bincount on the flattened (row, col) code:
            # an order of magnitude faster than np.add.at's per-element
            # ufunc loop (the Gram pass dropped ~14s -> ~3s at sf0.1)
            ncol = H.shape[0]
            H += np.bincount((cs[ia] + off) * ncol + (cs[ib] + off),
                             weights=pw, minlength=ncol * ncol
                             ).reshape(ncol, ncol)
        if intercept:
            cw = vs if w is None else vs * w[rs]
            csum = np.bincount(cs, weights=cw, minlength=H.shape[0] - 1)
            H[0, 1:] += csum
            H[1:, 0] += csum
            H[0, 0] += float(nrow) if w is None else float(np.sum(w))

    def gram(self) -> np.ndarray:
        intercept, p_total = self.intercept, self.p_total
        accum = self._accum_gram

        def batch(nrow, rows, cols, vals, Y):
            H = np.zeros((p_total, p_total))
            accum(H, nrow, rows, cols, vals, None, intercept)
            return H.ravel()

        return self._partial_reduce(batch, p_total * p_total).reshape(
            (p_total, p_total))

    def xty(self) -> np.ndarray:
        intercept, p_feat, m = self.intercept, self.p_feat, self.m
        xtgf = self._xtg

        def batch(nrow, rows, cols, vals, Y):
            return xtgf(p_feat, rows, cols, vals, Y, intercept).ravel(order="F")

        return self._partial_reduce(batch, self.p_total * m).reshape(
            (self.p_total, m), order="F")

    def gaussian_sufficient_stats(self):
        intercept, p_total, p_feat, m = (self.intercept, self.p_total,
                                         self.p_feat, self.m)
        accum, xtgf = self._accum_gram, self._xtg

        def batch(nrow, rows, cols, vals, Y):
            H = np.zeros((p_total, p_total))
            accum(H, nrow, rows, cols, vals, None, intercept)
            xty = xtgf(p_feat, rows, cols, vals, Y, intercept)
            return np.concatenate([H.ravel(), xty.ravel(order="F"),
                                   [float(np.sum(Y * Y))]])

        out = self._partial_reduce(batch, p_total * p_total + p_total * m + 1)
        gram = out[:p_total * p_total].reshape((p_total, p_total))
        xty = out[p_total * p_total:-1].reshape((p_total, m), order="F")
        return gram, xty, float(out[-1])

    def xty_yty(self):
        """The non-Gram two-thirds of ``gaussian_sufficient_stats`` —
        for fits whose shared gram_cache already holds the p^2 matrix.
        Per-batch arithmetic is identical to the fused pass; the small
        partial skips the Gram pass's coalesce, so when the fused pass
        WOULD have coalesced (large sf) the batch grouping differs and
        sums can drift by an ulp — below every tolerance in play, and
        at the oracle-checked scales no coalesce happens on either
        path, so frozen goldens see bitwise-identical values."""
        intercept, p_total, p_feat, m = (self.intercept, self.p_total,
                                         self.p_feat, self.m)
        xtgf = self._xtg

        def batch(nrow, rows, cols, vals, Y):
            xty = xtgf(p_feat, rows, cols, vals, Y, intercept)
            return np.concatenate([xty.ravel(order="F"),
                                   [float(np.sum(Y * Y))]])

        out = self._partial_reduce(batch, p_total * m + 1)
        return (out[:-1].reshape((p_total, m), order="F"), float(out[-1]))

    def _eval_hess_closure(self, beta: np.ndarray):
        """(batch_fn, out_len) for one beta — the exact per-batch
        arithmetic of :meth:`eval_hess` (single and fused passes share
        it, so per-beta partials are identical either way)."""
        fam = self.family.name
        b = np.ascontiguousarray(beta, dtype=np.float64)
        intercept, m, p_feat, p_total = (self.intercept, self.m, self.p_feat,
                                         self.p_total)
        lpf, xtgf, accum = self._lp, self._xtg, self._accum_gram

        if fam == "multinomial":
            # exact block softmax Hessian (the caller gates on small
            # p*m): m(m+1)/2 weighted-Gram blocks per batch
            pm = p_total * m

            def batch(nrow, rows, cols, vals, Y):
                lp = lpf(nrow, rows, cols, vals, b, intercept)
                primal, dual, g = _family_numpy(fam, Y, lp)
                grad = xtgf(p_feat, rows, cols, vals, g, intercept)
                lp_max = np.maximum(np.max(lp, axis=1, keepdims=True), 0.0)
                e = np.exp(lp - lp_max)
                denom = np.exp(-lp_max[:, 0]) + e.sum(axis=1)
                P = e / denom[:, None]
                H = np.zeros((pm, pm))
                for k in range(m):
                    for l in range(k, m):
                        w = P[:, k] * ((1.0 if k == l else 0.0) - P[:, l])
                        blk = np.zeros((p_total, p_total))
                        accum(blk, nrow, rows, cols, vals, w, intercept)
                        H[k * p_total:(k + 1) * p_total,
                          l * p_total:(l + 1) * p_total] = blk
                        if l != k:
                            H[l * p_total:(l + 1) * p_total,
                              k * p_total:(k + 1) * p_total] = blk
                return np.concatenate([[primal, dual],
                                       grad.ravel(order="F"), H.ravel()])

            return batch, 2 + pm + pm * pm

        def batch(nrow, rows, cols, vals, Y):
            lp = lpf(nrow, rows, cols, vals, b, intercept)
            primal, dual, g = _family_numpy(fam, Y, lp)
            grad = xtgf(p_feat, rows, cols, vals, g, intercept)
            if fam == "binomial":
                s = 1.0 / (1.0 + np.exp(-np.clip(lp[:, 0], -700, 700)))
                w = s * (1 - s)
            else:
                w = np.exp(np.clip(lp[:, 0], -700, 700))
            H = np.zeros((p_total, p_total))
            accum(H, nrow, rows, cols, vals, w, intercept)
            return np.concatenate([[primal, dual], grad.ravel(order="F"),
                                   H.ravel()])

        return batch, 2 + p_total * m + p_total * p_total

    def _eval_hess_finish(self, out: np.ndarray):
        m, p_total = self.m, self.p_total
        pm = p_total * m
        grad = out[2:2 + pm].reshape((p_total, m), order="F")
        if self.family.name == "multinomial":
            H = out[2 + pm:].reshape((pm, pm))
        else:
            H = out[2 + pm:].reshape((p_total, p_total))
        return float(out[0]), float(out[1]), grad, H

    def lambda_max_gradient(self) -> np.ndarray:
        """|X_std^T ytilde| per family (lambdaMax.h:8-60). The centered
        forms need column sums too (features are NOT centered, so
        sum(x_j) != 0); everything comes from one pass — or from ZERO
        passes when build_sparse_backend already derived it from the
        stats pass's X'y ride-alongs (the common path)."""
        pre = getattr(self, "_lam_max_grad", None)
        if pre is not None and self.col_sel is None:
            return pre
        fam = self.family.name
        m, p_feat = self.m, self.p_feat
        intercept = self.intercept
        xtgf = self._xtg

        def batch(nrow, rows, cols, vals, Y):
            if fam == "binomial":
                yt = (Y + 1) / 2.0
            elif fam == "poisson":
                yt = 1.0 - Y
            else:
                yt = Y
            xy = xtgf(p_feat, rows, cols, vals, yt, False)
            colsum = np.bincount(cols, weights=vals, minlength=p_feat)
            ysum = yt.sum(axis=0)
            return np.concatenate([xy.ravel(order="F"), colsum, ysum, [nrow]])

        out = self._partial_reduce(batch, p_feat * m + p_feat + m + 1)
        xy = out[:p_feat * m].reshape((p_feat, m), order="F")
        colsum = out[p_feat * m:p_feat * m + p_feat]
        ysum = out[p_feat * m + p_feat:-1]
        n = out[-1]
        if fam in ("binomial", "multinomial"):
            xy = xy - np.outer(colsum, ysum / n)
        self._stash_null_mu(fam, ysum / n)
        return np.abs(xy.ravel(order="F"))

    def subset(self, cols: np.ndarray) -> "SparseArrowBackend":
        cols = np.asarray(cols)
        if self.intercept:
            assert cols[0] == 0, "active set must contain the intercept"
            feat_ids = cols[1:] - 1
        else:
            feat_ids = cols
        base_sel = (feat_ids if self.col_sel is None
                    else self.col_sel[feat_ids])
        return SparseArrowBackend(
            self.df, self.idx_col, self.val_col, self.y_cols, self.family,
            self.intercept, self.n, self.p_orig, self.inv_scale_full,
            self._lgamma_sum, persist=False, col_sel=base_sel)


def build_sparse_backend(df: DataFrame, idx_col: str, val_col: str,
                         label_col, family_name: str, p: int, *,
                         intercept: bool = True, center: bool = False,
                         scale: str = "l2"):
    """Assemble a SparseArrowBackend from (indices, values) array columns.

    Centering is rejected exactly like the reference's sparse path
    (R/owl.R:359-360: 'centering would destroy sparsity'); scale modes
    l2/sd/none compute from one sparse stats pass and are applied
    lazily inside every kernel."""
    import pandas as pd

    if center:
        raise ValueError("centering would destroy sparsity in x (predictors)")
    if scale not in ("l2", "sd", "none"):
        raise ValueError("sparse mode supports scale in ('l2','sd','none')")
    fam = get_family(family_name)

    label_cols = [label_col] if isinstance(label_col, str) else list(label_col)
    if len(label_cols) > 1 and family_name != "gaussian":
        raise ValueError(f"family {family_name!r} takes a single label column")

    # one stats pass: n, per-column sum/sumsq (scale), label sums/min
    # (numeric-label families only), out-of-range index checks
    need_y_stats = family_name in ("gaussian", "poisson")

    is_poisson = family_name == "poisson"

    def statop(batches):
        # zero-copy Arrow path (same buffer plumbing as
        # SparseArrowBackend._partial_reduce): the list columns are read
        # as flat values + offsets, never as pandas object columns
        import math as _math

        import pyarrow as pa

        for rb in batches:
            nrow = rb.num_rows
            ia = rb.column(rb.schema.get_field_index(idx_col))
            va = rb.column(rb.schema.get_field_index(val_col))
            if (ia.null_count or va.null_count
                    or ia.values.null_count or va.values.null_count):
                raise ValueError(
                    f"missing values in columns: ['{idx_col}', '{val_col}']")
            ioff = ia.offsets.to_numpy()
            voff = va.offsets.to_numpy()
            fi = ia.values.to_numpy(zero_copy_only=False)[
                ioff[0]:ioff[-1]].astype(np.int64, copy=False)
            fv = va.values.to_numpy(zero_copy_only=False)[
                voff[0]:voff[-1]].astype(np.float64, copy=False)
            bad = float(((fi < 0) | (fi >= p)).sum())
            fi2 = np.clip(fi, 0, p - 1)
            sums = np.bincount(fi2, weights=fv, minlength=p)
            sqs = np.bincount(fi2, weights=fv * fv, minlength=p)
            # row index per nonzero, for the X'y ride-along below
            row_idx = np.repeat(np.arange(nrow), np.diff(ioff))
            xys: list[np.ndarray] = []
            ysums = np.zeros(len(label_cols))
            ymin = np.inf
            ynull = 0.0
            lgsum = 0.0
            if need_y_stats and nrow:
                for j, c in enumerate(label_cols):
                    col = rb.column(rb.schema.get_field_index(c)).to_numpy(
                        zero_copy_only=False).astype(np.float64, copy=False)
                    ynull += float(np.isnan(col).sum())
                    ysums[j] = np.nansum(col)
                    if j == 0 and not np.all(np.isnan(col)):
                        ymin = float(np.nanmin(col))
                    if is_poisson and j == 0:
                        # SUM(lgamma(y+1)) folded into the same pass —
                        # never a groupBy(label) histogram (whose
                        # distinct count is unbounded for double labels).
                        # lgamma over the UNIQUE values only: count-data
                        # labels have few distincts, and the worst case
                        # (all-distinct doubles) just degrades to the
                        # per-element cost.
                        ok = ~np.isnan(col) & (col >= 0)
                        uq, inv = np.unique(col[ok], return_inverse=True)
                        lg = np.array([_math.lgamma(u + 1.0) for u in uq])
                        lgsum = float(lg[inv].sum()) if uq.size else 0.0
                    # raw X'y rides along: with the column sums it gives
                    # the sigma_max gradient with NO separate data pass
                    xys.append(np.bincount(
                        fi2, weights=fv * np.nan_to_num(col)[row_idx],
                        minlength=p))
            elif nrow:
                ynull = float(sum(
                    rb.column(rb.schema.get_field_index(c)).null_count
                    for c in label_cols))
            # classification families: batch-distinct label values ride
            # along (a handful of strings), so class discovery costs no
            # second job over the cached projection
            labels: list[str] = []
            lcnts: list[float] = []
            if label_is_string and nrow:
                import pyarrow.compute as pc

                lcol = rb.column(rb.schema.get_field_index(label_cols[0]))
                labels = sorted(v for v in pc.unique(lcol).to_pylist()
                                if v is not None)
                lvals = np.asarray(lcol.to_pandas())
                for c in labels:
                    ind = (lvals == c).astype(np.float64)
                    lcnts.append(float(ind.sum()))
                    # per-class raw X'1[label=c]: the classification
                    # sigma_max gradient's ingredient
                    xys.append(np.bincount(fi2, weights=fv * ind[row_idx],
                                           minlength=p))
            part = np.concatenate([[float(nrow), bad, ynull], sums, sqs,
                                   ysums, [lgsum, ymin], lcnts,
                                   *(xys or [np.zeros(0)])])
            yield pa.RecordBatch.from_arrays(
                [pa.array([part], type=pa.list_(pa.float64())),
                 pa.array([labels], type=pa.list_(pa.string()))],
                ["part", "labels"])

    # the slim (idx, val, labels) projection is read by the stats pass,
    # the class-discovery distinct (binomial/multinomial), and the
    # encoded-frame materialization below: persist it so the source is
    # scanned ONCE, not three times (at 100 TB each extra scan is a full
    # corpus read; locally this halved wide-fit build time). Released
    # before returning — the backend keeps only the repartitioned
    # encoded frame.
    proj = df.select(idx_col, val_col, *label_cols).persist()
    try:
        # string classification labels: class discovery rides along in the
        # stats pass (batch-distinct sets); other label types fall back to a
        # distinct() job so class values keep their native type/ordering
        label_is_string = (not need_y_stats
                           and dict(proj.dtypes)[label_cols[0]] == "string")
        parts = proj.mapInArrow(
            statop, "part array<double>, labels array<string>").collect()
        seen_labels = sorted({v for r in parts for v in (r["labels"] or [])})
        nlab = len(label_cols)
        # fixed prefix: [n, bad, ynull] + sums(p) + sqs(p) + ysums + [lg, ymin];
        # the variable tail carries per-batch-label counts and raw X'y
        # vectors (classification) or per-label-col X'y (numeric labels)
        plen = 3 + 2 * p + nlab + 2
        tot = np.zeros(plen)
        ymin = np.inf
        xy_num = np.zeros((p, nlab))
        lab_cnt: dict = {}
        lab_xy: dict = {}
        for r in parts:
            arr = np.asarray(r["part"])
            head = arr[:plen].copy()
            ymin = min(ymin, head[-1])
            head[-1] = 0.0
            tot += head
            blabels = list(r["labels"] or [])
            if blabels:
                k = len(blabels)
                cnts = arr[plen:plen + k]
                for i, c in enumerate(blabels):
                    lab_cnt[c] = lab_cnt.get(c, 0.0) + float(cnts[i])
                    seg = arr[plen + k + i * p:plen + k + (i + 1) * p]
                    lab_xy[c] = lab_xy.get(c, 0.0) + seg
            elif arr.size > plen:
                xy_num += arr[plen:plen + nlab * p].reshape((nlab, p)).T
        lgamma_sum = float(tot[-2])
        n = int(tot[0])
        if tot[1] > 0:
            raise ValueError(f"{int(tot[1])} feature indices outside [0, {p})")
        if tot[2] > 0:
            raise ValueError(f"missing values in columns: {label_cols}")
        sums = tot[3:3 + p]
        sqs = tot[3 + p:3 + 2 * p]
        ysums = tot[3 + 2 * p:3 + 2 * p + nlab]

        if scale == "l2":
            x_scale = _apply_scale_guard(np.sqrt(sqs))
        elif scale == "sd":
            x_scale = _apply_scale_guard(
                np.sqrt(np.maximum(sqs - sums ** 2 / max(n, 1), 0.0) / max(n - 1, 1)))
        else:
            x_scale = np.ones(p)
        inv_scale = 1.0 / x_scale

        # response encoding (same semantics as build_spark_backend)
        class_names = None
        n_targets = 1
        y_center = np.zeros(1)
        y_scale = np.ones(1)
        enc = proj
        if family_name == "gaussian":
            n_targets = len(label_cols)
            y_center = ysums / max(n, 1)
            y_scale = np.ones(n_targets)
            for k, c in enumerate(label_cols):
                enc = enc.withColumn(
                    f"__y{k}", F.col(c).cast("double") - F.lit(float(y_center[k])))
            y_cols = [f"__y{k}" for k in range(n_targets)]
        elif family_name == "binomial":
            classes = [r[0] for r in
                       proj.select(label_col).distinct().orderBy(label_col).collect()]
            if len(classes) != 2:
                raise ValueError("binomial response needs exactly 2 classes, "
                                 f"got {len(classes)}")
            class_names = [str(c) for c in classes]
            enc = proj.withColumn("__y0", F.when(F.col(label_col) == classes[0], -1.0)
                                  .otherwise(1.0))
            y_cols = ["__y0"]
        elif family_name == "poisson":
            if ymin < 0:
                raise ValueError("cannot have negative responses in poisson model")
            enc = proj.withColumn("__y0", F.col(label_col).cast("double"))
            y_cols = ["__y0"]
        elif family_name == "multinomial":
            classes = (seen_labels if label_is_string else
                       [r[0] for r in proj.select(label_col).distinct()
                        .orderBy(label_col).collect()])
            if len(classes) == 2:
                raise ValueError("only two classes in response; use family='binomial'")
            class_names = [str(c) for c in classes]
            n_targets = len(classes) - 1
            for k in range(n_targets):
                enc = enc.withColumn(f"__y{k}", F.when(F.col(label_col) == classes[k],
                                                       1.0).otherwise(0.0))
            y_cols = [f"__y{k}" for k in range(n_targets)]
            y_center = np.zeros(n_targets)
            y_scale = np.ones(n_targets)
        else:
            raise ValueError(family_name)

        std_df = enc.select(idx_col, val_col, *y_cols)
        target_parts = max(1, min(df.sparkSession.sparkContext.defaultParallelism,
                                  n // 20_000 + 1))
        cur_parts = std_df.rdd.getNumPartitions()
        if cur_parts > target_parts:
            # reducing: coalesce merges partitions with NO shuffle (the
            # upstream is already materialized in the projection cache, so
            # pipelined-parallelism loss doesn't apply)
            std_df = std_df.coalesce(target_parts)
        elif cur_parts < target_parts:
            std_df = std_df.repartition(target_parts)

        backend = SparseArrowBackend(std_df, idx_col, val_col, y_cols, fam,
                                     intercept, n, p, inv_scale, lgamma_sum)
        # sigma_max gradient + null-model means from the SAME stats pass
        # (raw X'y ride-alongs above): zero additional data passes for
        # lambda_max_gradient / null_intercepts
        if family_name == "gaussian":
            g = np.column_stack([
                inv_scale * (xy_num[:, j] - (ysums[j] / max(n, 1)) * sums)
                for j in range(nlab)])
            backend._null_mu = np.zeros(nlab)  # encoded y is centered
        elif family_name == "poisson":
            g = (inv_scale * (sums - xy_num[:, 0]))[:, None]
            backend._null_mu = np.array([ysums[0] / max(n, 1)])
        elif family_name == "binomial" and label_is_string:
            c1 = class_names[1]
            g = (inv_scale * (lab_xy[c1] - (lab_cnt[c1] / n) * sums))[:, None]
            backend._null_mu = np.array([(n - 2.0 * lab_cnt[class_names[0]]) / n])
        elif family_name == "multinomial" and label_is_string:
            g = np.column_stack([
                inv_scale * (lab_xy[c] - (lab_cnt[c] / n) * sums)
                for c in class_names[:n_targets]])
            backend._null_mu = np.array([lab_cnt[c] / n
                                         for c in class_names[:n_targets]])
        else:  # non-string classification labels: fall back to the pass
            g = None
        if g is not None:
            backend._lam_max_grad = np.abs(g.ravel(order="F"))
        # materialize the backend's persisted frame FROM the proj cache (a
        # cache-local shuffle, not a second source scan), then release proj
        backend.df.count()
    except BaseException:
        # a rejected response or index must not leave proj cached; the
        # success path releases it after materializing the backend frame
        proj.unpersist()
        raise
    proj.unpersist()
    meta = {
        "x_center": np.zeros(p),
        "x_scale": x_scale,
        "y_center": y_center,
        "y_scale": y_scale,
        "class_names": class_names,
        "n_targets": n_targets,
        "feature_names": [f"V{j+1}" for j in range(p)],
    }
    return backend, meta


class LocalSparseBackend(SparseArrowBackend):
    """Driver-local sparse input: the reference's in-memory dgCMatrix
    mode (R/owl.R:353-357) without a scipy dependency. Runs the SAME
    pure-numpy CSR kernels as the distributed sparse backend — every
    eval/gram/Hessian method is inherited from SparseArrowBackend
    unchanged; only the batch plumbing differs (`_partial_reduce` feeds
    each kernel the in-memory COO arrays as a single batch)."""

    def __init__(self, rows: np.ndarray, cols: np.ndarray, vals: np.ndarray,
                 Y: np.ndarray, family: Family, intercept: bool, n: int,
                 p_feat: int, inv_scale: np.ndarray, lgamma_sum: float = 0.0,
                 col_sel: np.ndarray | None = None):
        # no DataFrame / no persist: plain arrays instead of self.df
        self._rows = np.ascontiguousarray(rows, dtype=np.int64)
        self._cols = np.ascontiguousarray(cols, dtype=np.int64)
        self._vals = np.ascontiguousarray(vals, dtype=np.float64)
        self._Y = np.ascontiguousarray(Y, dtype=np.float64)
        self.family = family
        self.intercept = intercept
        self.n = n
        self.m = Y.shape[1]
        self._lgamma_sum = lgamma_sum
        self.inv_scale_full = np.ascontiguousarray(inv_scale, dtype=np.float64)
        self.col_sel = None if col_sel is None else np.asarray(col_sel, dtype=np.int64)
        self.p_feat = p_feat if self.col_sel is None else int(self.col_sel.size)
        self.p_total = self.p_feat + (1 if intercept else 0)
        self.p_orig = p_feat
        self.feat_cols = [f"s{j}" for j in range(self.p_feat)]

    def _partial_reduce(self, build_batch_fn, out_len: int) -> np.ndarray:
        rows, cols = self._rows, self._cols
        vals = self._vals * self.inv_scale_full[cols]
        if self.col_sel is not None:
            col_map = np.full(self.p_orig, -1, dtype=np.int64)
            col_map[self.col_sel] = np.arange(self.col_sel.size)
            remap = col_map[cols]
            keep = remap >= 0
            rows, cols, vals = rows[keep], remap[keep], vals[keep]
        return np.asarray(build_batch_fn(self.n, rows, cols, vals, self._Y),
                          dtype=np.float64)

    def subset(self, cols: np.ndarray) -> "LocalSparseBackend":
        cols = np.asarray(cols)
        if self.intercept:
            assert cols[0] == 0, "active set must contain the intercept"
            feat_ids = cols[1:] - 1
        else:
            feat_ids = cols
        base_sel = (feat_ids if self.col_sel is None
                    else self.col_sel[feat_ids])
        return LocalSparseBackend(
            self._rows, self._cols, self._vals, self._Y, self.family,
            self.intercept, self.n, self.p_orig, self.inv_scale_full,
            self._lgamma_sum, col_sel=base_sel)

    def null_intercepts(self) -> np.ndarray:
        return _null_intercepts_from_mu(self.family.name,
                                        self._Y.mean(axis=0))

    def unpersist(self):
        pass


def build_local_sparse_backend(x, y, family_name: str, p: int, *,
                               intercept: bool = True, center: bool = False,
                               scale: str = "l2"):
    """Assemble a LocalSparseBackend from an in-memory sparse matrix
    given as an iterable of per-row ``(indices, values)`` pairs (the
    same shape as one row of the distributed sparse-features frame).
    Validation, scaling and response encoding mirror
    :func:`build_sparse_backend` exactly."""
    import math

    if center:
        raise ValueError("centering would destroy sparsity in x (predictors)")
    if scale not in ("l2", "sd", "none"):
        raise ValueError("sparse mode supports scale in ('l2','sd','none')")
    fam = get_family(family_name)

    idx_parts, val_parts, lens = [], [], []
    for pair in x:
        idx, vals = pair
        idx = np.asarray(idx, dtype=np.int64)
        vals = np.asarray(vals, dtype=np.float64)
        if idx.shape != vals.shape or idx.ndim != 1:
            raise ValueError("each sparse row must be a 1-d (indices, values) "
                             "pair of equal length")
        idx_parts.append(idx)
        val_parts.append(vals)
        lens.append(idx.size)
    n = len(lens)
    if n == 0:
        raise ValueError("empty sparse input")
    cols = np.concatenate(idx_parts) if idx_parts else np.zeros(0, np.int64)
    vals = np.concatenate(val_parts) if val_parts else np.zeros(0)
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    if cols.size and (cols.min() < 0 or cols.max() >= p):
        bad = int(((cols < 0) | (cols >= p)).sum())
        raise ValueError(f"{bad} feature indices outside [0, {p})")
    if not np.all(np.isfinite(vals)):
        raise ValueError("missing or non-finite values in x")

    if scale == "l2":
        x_scale = _apply_scale_guard(
            np.sqrt(np.bincount(cols, weights=vals * vals, minlength=p)))
    elif scale == "sd":
        sums = np.bincount(cols, weights=vals, minlength=p)
        sqs = np.bincount(cols, weights=vals * vals, minlength=p)
        x_scale = _apply_scale_guard(
            np.sqrt(np.maximum(sqs - sums ** 2 / max(n, 1), 0.0)
                    / max(n - 1, 1)))
    else:
        x_scale = np.ones(p)

    resp = fam.preprocess_response(y)
    Y = resp["y"]
    lgamma_sum = 0.0
    if family_name == "poisson":
        lgamma_sum = float(sum(math.lgamma(v + 1.0) for v in Y[:, 0]))

    backend = LocalSparseBackend(rows, cols, vals, Y, fam, intercept, n, p,
                                 1.0 / x_scale, lgamma_sum)
    meta = {
        "x_center": np.zeros(p),
        "x_scale": x_scale,
        "y_center": resp["y_center"],
        "y_scale": resp["y_scale"],
        "class_names": resp["class_names"],
        "n_targets": resp["n_targets"],
        "feature_names": [f"V{j+1}" for j in range(p)],
    }
    return backend, meta


def _family_numpy(fam: str, Y: np.ndarray, lp: np.ndarray,
                  need_dual: bool = True, need_grad: bool = True):
    """Self-contained family math for executor-side closures (kept free
    of golem_spark imports; semantics mirror families.py)."""
    if fam == "gaussian":
        r = Y - lp
        primal = 0.5 * float(np.sum(r * r))
        dual = 0.5 * float(np.sum(Y * Y)) - 0.5 * float(np.sum(lp * lp)) if need_dual else 0.0
        g = lp - Y if need_grad else None
    elif fam == "binomial":
        z = -Y * lp
        primal = float(np.sum(np.maximum(z, 0) + np.log1p(np.exp(-np.abs(z)))))
        if need_dual:
            r = 1.0 / (1.0 + np.exp(np.clip(Y * lp, -700, 700)))
            tiny = np.finfo(np.float64).tiny
            dual = float(np.sum((r - 1.0) * np.log(np.maximum(1.0 - r, tiny)))
                         - np.sum(r * np.log(np.maximum(r, tiny))))
        else:
            dual = 0.0
        g = -Y / (1.0 + np.exp(np.clip(Y * lp, -700, 700))) if need_grad else None
    elif fam == "poisson":
        e = np.exp(np.clip(lp, -700, 700))
        lg = np.vectorize(__import__("math").lgamma)(Y + 1.0)
        primal = -float(np.sum(Y * lp - e - lg))
        dual = -float(np.sum(e * (lp - 1.0) - lg)) if need_dual else 0.0
        g = e - Y if need_grad else None
    elif fam == "multinomial":
        lp_max = np.max(lp, axis=1, keepdims=True)
        lse = np.log(np.exp(-lp_max)
                     + np.sum(np.exp(np.clip(lp - lp_max, -700, 700)), axis=1,
                              keepdims=True)) + lp_max
        primal = float(np.sum(lse)) - float(np.sum(Y * lp))
        dual = (float(np.sum(lse)) - float(np.sum(lp * np.exp(lp - lse)))
                if need_dual else 0.0)
        g = np.exp(lp - lse) - Y if need_grad else None
    else:
        raise ValueError(fam)
    return primal, dual, g


def _label_classes(df: DataFrame, label_col: str, stats) -> list:
    """Sorted distinct label values — from the fused stats pass when
    available (non-wide), else one distinct() job. Python's sort matches
    Spark's ascending orderBy for the homogeneous str/numeric label
    columns a GLM accepts."""
    try:
        vals = stats["__classes"]
    except (KeyError, ValueError, TypeError):
        return [r[0] for r in df.select(label_col).distinct().orderBy(label_col).collect()]
    return sorted(vals)


def build_spark_backend(df: DataFrame, feature_cols: list[str], label_col: str,
                        family_name: str, intercept: bool = True,
                        center: bool = True, scale: str = "l2",
                        persist: bool = True):
    """Assemble a SparkBackend from a raw DataFrame.

    One aggregation pass computes n + per-column center/scale + response
    stats; a second select produces the standardized, encoded, cached
    DataFrame. Returns (backend, meta) where meta carries the
    center/scale/encoding needed by rescale() and predict().
    """
    fam = get_family(family_name)
    from pyspark.sql import types as T

    # gaussian accepts a LIST of label columns (multi-task role, the
    # reference's student dataset); every other family takes exactly one
    label_cols = [label_col] if isinstance(label_col, str) else list(label_col)
    if len(label_cols) > 1 and family_name != "gaussian":
        raise ValueError(f"family {family_name!r} takes a single label column")
    label_col = label_cols[0]

    label_numeric = all(isinstance(df.schema[c].dataType, T.NumericType)
                        for c in label_cols)
    wide = len(feature_cols) > 200
    if wide and len(label_cols) > 1:
        raise ValueError("wide-p mode supports a single label column")

    class_stats: dict | None = None
    if not wide and family_name in ("binomial", "multinomial"):
        # ONE fused pass, GROUPED BY the label (class cardinality is
        # tiny, so the grouped aggregation costs what the flat one
        # does, map-side combined): row count, null counts, per-feature
        # sum + raw second moment — PER CLASS. Class discovery is the
        # group keys, and the per-class feature sums make the sigma_max
        # gradient AND the null-model means closed-form driver-side
        # (stashed below once x_scale is known), so these families
        # never pay the separate lambda_max_gradient scan. The
        # reference's factorize-once shape (src/owl.cpp:171-215) for
        # every dense family: gaussian's comes from the ADMM Gram pass,
        # poisson's from the X'y ride-along, these two from the groups.
        # Like the flat pass below it carries no beta and runs once per
        # build, so it stays a Catalyst aggregation.
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in feature_cols:
            aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}"))
            aggs.append(F.sum(F.col(c).cast("double")).alias(f"__sum_{c}"))
            aggs.append(F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(f"__ss_{c}"))
        # Bound the driver collect (each grouped row carries 3p+1
        # aggregate columns): a mistakenly continuous / high-cardinality
        # label — the classic family='binomial' user error — would
        # otherwise ship n_distinct x ~3p values to the driver before
        # the class-count validation below ever ran. The LIMIT caps the
        # rows fetched at the legal class count (+1 for a possible
        # null-label group, +1 to detect overflow) with zero extra
        # scans; overflow raises the class-cardinality error here, on
        # at most cap+2 collected rows.
        cap = 2 if family_name == "binomial" else _MAX_MULTINOMIAL_CLASSES
        grows = [r.asDict() for r in
                 df.groupBy(F.col(label_col).alias("__lab")).agg(*aggs)
                 .limit(cap + 2).collect()]
        if len(grows) > cap + 1:
            raise ValueError(
                f"family {family_name!r} found more than {cap} distinct "
                f"label values in {label_col!r} — is the label continuous?")
        n = int(sum(r["__n"] for r in grows))
        null_lab = int(sum(r["__n"] for r in grows if r["__lab"] is None))
        stats = {"__n": n, f"__null_{label_col}": null_lab}
        for c in feature_cols:
            stats[f"__null_{c}"] = int(sum(r[f"__null_{c}"] for r in grows))
            stats[f"__mean_{c}"] = sum(r[f"__sum_{c}"] for r in grows) / max(n, 1)
            stats[f"__ss_{c}"] = sum(r[f"__ss_{c}"] for r in grows)
        class_stats = {
            r["__lab"]: (int(r["__n"]),
                         np.array([float(r[f"__sum_{c}"]) for c in feature_cols]))
            for r in grows if r["__lab"] is not None}
        stats["__classes"] = list(class_stats)
        if label_numeric:
            stats["__ymean"] = sum(float(k) * v[0]
                                   for k, v in class_stats.items()) / max(n, 1)
            stats["__ymin"] = min((float(k) for k in class_stats),
                                  default=float("inf"))
        bad = [c for c in feature_cols if stats[f"__null_{c}"] > 0]
        if null_lab > 0:
            bad.append(label_col)
        if bad:
            raise ValueError(f"missing values in columns: {bad}")
    elif not wide:
        # ONE fused pass: null counts (rejected like the reference,
        # R/owl.R:350-351), row count, per-feature mean + raw second
        # moment (closed-form l2/sd scales), label mean/min. A beta-free
        # one-shot Catalyst aggregation.
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in [*feature_cols, *label_cols]:
            aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}"))
        for c in feature_cols:
            aggs.append(F.avg(F.col(c)).alias(f"__mean_{c}"))
            aggs.append(F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(f"__ss_{c}"))
        if label_numeric:
            aggs.append(F.avg(F.col(label_col).cast("double")).alias("__ymean"))
            aggs.append(F.min(F.col(label_col).cast("double")).alias("__ymin"))
            for k, c in enumerate(label_cols[1:], start=1):
                aggs.append(F.avg(F.col(c).cast("double")).alias(f"__ymean_{k}"))
        if family_name == "poisson" and label_numeric:
            # X'y rides along: with the feature means it yields the
            # sigma_max gradient driver-side (no dedicated pass)
            for c in feature_cols:
                aggs.append(F.sum(F.col(c).cast("double")
                                  * F.col(label_col).cast("double"))
                            .alias(f"__xy_{c}"))
        stats = df.agg(*aggs).collect()[0]
        n = int(stats["__n"])
        bad = [c for c in [*feature_cols, *label_cols] if stats[f"__null_{c}"] > 0]
        if bad:
            raise ValueError(f"missing values in columns: {bad}")
    else:
        # wide-p: expression lists would blow up Catalyst planning —
        # Arrow-batched partial reduction instead (same statistics)
        import pandas as pd

        fcols = list(feature_cols)
        p_ = len(fcols)

        def statop(batches):
            for pdf in batches:
                Xb = pdf[fcols].to_numpy(dtype=np.float64)
                nulls = np.isnan(Xb).sum(axis=0).astype(np.float64)
                yv = pd.to_numeric(pdf[label_col], errors="coerce").to_numpy(dtype=np.float64)
                ynull = float(pdf[label_col].isna().sum())
                Xz = np.nan_to_num(Xb)
                part = np.concatenate([
                    [float(len(pdf))], nulls, Xz.sum(axis=0), (Xz * Xz).sum(axis=0),
                    [np.nansum(yv), np.nanmin(yv) if len(yv) else np.inf, ynull]])
                yield pd.DataFrame({"part": [part.tolist()]})

        rows = df.mapInPandas(statop, "part array<double>").collect()
        tot = np.zeros(1 + 3 * p_ + 3)
        ymin_acc = np.inf
        for r in rows:
            arr = np.asarray(r["part"])
            ymin_acc = min(ymin_acc, arr[1 + 3 * p_ + 1])
            arr[1 + 3 * p_ + 1] = 0.0
            tot += arr
        n = int(tot[0])
        nullcounts = tot[1:1 + p_]
        if nullcounts.sum() > 0 or tot[-1] > 0:
            bad = [c for c, cnt in zip(fcols, nullcounts) if cnt > 0]
            if tot[-1] > 0:
                bad.append(label_col)
            raise ValueError(f"missing values in columns: {bad}")
        sums = tot[1 + p_:1 + 2 * p_]
        sqsums = tot[1 + 2 * p_:1 + 3 * p_]
        stats = {"__n": n, "__ymean": tot[1 + 3 * p_] / max(n, 1), "__ymin": ymin_acc}
        for j, c in enumerate(fcols):
            stats[f"__mean_{c}"] = sums[j] / max(n, 1)
            stats[f"__ss_{c}"] = sqsums[j]
        if scale in ("l1", "max"):
            raise ValueError("wide-p mode supports scale in ('l2','sd','none')")

    # response encoding
    y_cols: list[str] = []
    class_names = None
    n_targets = 1
    y_center = np.array([0.0])
    y_scale = np.array([1.0])
    if family_name in ("gaussian", "poisson") and not label_numeric:
        raise ValueError(f"family {family_name!r} requires a numeric label column")

    enc = df
    if family_name == "gaussian":
        y_means = [float(stats["__ymean"])] + [
            float(stats[f"__ymean_{k}"]) for k in range(1, len(label_cols))]
        y_center = np.array(y_means)
        for k, (c, mu_) in enumerate(zip(label_cols, y_means)):
            enc = enc.withColumn(f"__y{k}", F.col(c).cast("double") - F.lit(mu_))
        y_cols = [f"__y{k}" for k in range(len(label_cols))]
        n_targets = len(label_cols)
        y_scale = np.ones(n_targets)
    elif family_name == "binomial":
        classes = _label_classes(df, label_col, stats)
        if len(classes) != 2:
            raise ValueError(f"binomial response needs exactly 2 classes, got {len(classes)}")
        class_names = [str(c) for c in classes]
        enc = df.withColumn("__y0", F.when(F.col(label_col) == classes[0], -1.0).otherwise(1.0))
        y_cols = ["__y0"]
    elif family_name == "poisson":
        ymin = stats["__ymin"]
        if ymin < 0:
            raise ValueError("cannot have negative responses in poisson model")
        enc = df.withColumn("__y0", F.col(label_col).cast("double"))
        y_cols = ["__y0"]
    elif family_name == "multinomial":
        classes = _label_classes(df, label_col, stats)
        if len(classes) == 2:
            raise ValueError("only two classes in response; use family='binomial'")
        class_names = [str(c) for c in classes]
        n_targets = len(classes) - 1
        enc = df
        for k in range(n_targets):
            enc = enc.withColumn(f"__y{k}",
                                 F.when(F.col(label_col) == classes[k], 1.0).otherwise(0.0))
        y_cols = [f"__y{k}" for k in range(n_targets)]
        y_center = np.zeros(n_targets)
        y_scale = np.ones(n_targets)
    else:
        raise ValueError(family_name)

    # standardization statistics: l2/sd come closed-form from the fused
    # pass (sum((x-c)^2) = sum(x^2) - n*c^2); l1/max need one centered pass
    p = len(feature_cols)
    x_center = np.array([float(stats[f"__mean_{c}"]) for c in feature_cols]) if center else np.zeros(p)
    mu = np.array([float(stats[f"__mean_{c}"]) for c in feature_cols])
    ss = np.array([float(stats[f"__ss_{c}"]) for c in feature_cols])
    if scale in ("l2", "sd"):
        if scale == "sd":
            # stddev subtracts the mean regardless of the center flag
            css = np.maximum(ss - n * mu ** 2, 0.0)
            x_scale = _apply_scale_guard(np.sqrt(css / max(n - 1, 1)))
        else:
            css = np.maximum(ss - n * x_center ** 2, 0.0)
            x_scale = _apply_scale_guard(np.sqrt(css))
    elif scale in ("l1", "max"):
        centered = [(F.col(c).cast("double") - F.lit(float(x_center[j])))
                    for j, c in enumerate(feature_cols)]
        saggs = [(F.sum(F.abs(e)) if scale == "l1" else F.max(e)).alias(f"s{j}")
                 for j, e in enumerate(centered)]
        srow = enc.agg(*saggs).collect()[0]
        x_scale = _apply_scale_guard(np.array([float(srow[f"s{j}"]) for j in range(p)]))
    elif scale == "none":
        x_scale = np.ones(p)
    else:
        raise ValueError(f"unknown scale {scale!r}")

    feat_std = [f"__f{j}" for j in range(p)]
    sel = [((F.col(c).cast("double") - F.lit(float(x_center[j]))) / F.lit(float(x_scale[j])))
           .alias(feat_std[j]) for j, c in enumerate(feature_cols)]
    std_df = enc.select(*sel, *[F.col(c) for c in y_cols])
    # the solver hits this cache with many small aggregation passes; a
    # narrow parquet (few splits) would serialize them on 1-2 cores,
    # while over-splitting tiny data pays per-partition overhead on
    # every pass (worst for Arrow/mapInPandas). Target ~20k rows per
    # partition, capped at the core count.
    target_parts = max(1, min(df.sparkSession.sparkContext.defaultParallelism,
                              n // 20_000 + 1))
    cur_parts = std_df.rdd.getNumPartitions()
    if cur_parts > target_parts:
        # reducing: coalesce merges partitions with NO shuffle (the
        # upstream is already materialized in the projection cache, so
        # pipelined-parallelism loss doesn't apply)
        std_df = std_df.coalesce(target_parts)
    elif cur_parts < target_parts:
        std_df = std_df.repartition(target_parts)

    lgamma_sum: float | object = 0.0
    if family_name == "poisson":
        # Spark SQL has no lgamma; sum(lgamma(y+1)) is a constant offset.
        # One column-pruned Arrow partial per partition (ships a single
        # double each) — bounded even for adversarial high-cardinality
        # double labels, where a distinct-value histogram would collect
        # n rows. Within each batch the unique-value table keeps the
        # Python lgamma loop at O(distinct-per-batch).
        def _lgsum(batches):
            import pyarrow as pa

            tot = 0.0
            for b in batches:
                vals = np.asarray(b.column(0).to_numpy(zero_copy_only=False),
                                  dtype=np.float64)
                if vals.size:
                    u, counts = np.unique(vals, return_counts=True)
                    tot += float(sum(c * math.lgamma(v + 1.0)
                                     for v, c in zip(u, counts)))
            yield pa.RecordBatch.from_arrays(
                [pa.array([tot], type=pa.float64())], ["s"])

        # DEFERRED (r14): the constant is first read at null-deviance
        # time, after the backend's cache exists — running the scan
        # then rides (or fills) the cache instead of paying a separate
        # pre-persist source scan per poisson fit
        lg_src = std_df

        def lgamma_sum():
            parts = (lg_src.select(F.col("__y0").cast("double").alias("y"))
                     .mapInArrow(_lgsum, "s double").collect())
            return float(sum(r["s"] for r in parts))

    backend = SparkBackend(std_df, feat_std, y_cols, fam, intercept, n,
                           lgamma_sum, persist=persist)
    if family_name == "poisson":
        # read through the persisted frame so the deferred scan is
        # cache-local (or IS the materializing scan)
        lg_src = backend.df
    if family_name == "poisson" and not wide:
        # sigma_max gradient from the fused stats pass: X_std'(1-y) =
        # (X'1 - X'y - c*(n - sum_y)) / s, all terms already aggregated
        ymean = float(stats["__ymean"])
        xy = np.array([float(stats[f"__xy_{c}"]) for c in feature_cols])
        g = (n * mu - xy - x_center * (n - n * ymean)) / x_scale
        backend._lam_max_grad = np.abs(g)
        backend._null_mu = np.array([ymean])
    elif class_stats is not None:
        # binomial/multinomial sigma_max gradient from the grouped
        # stats pass: for an indicator response yt = [label = c_k],
        # X_std'(yt - mean(yt)) = (xsum_k - (n_k/n) * X'1) / s — the
        # centering terms cancel identically, so the gradient (and the
        # null-model class means) come from the per-class feature sums
        # with ZERO additional scans
        gcls = classes[1:2] if family_name == "binomial" \
            else classes[:n_targets]
        sx = n * mu
        G = np.stack(
            [(class_stats[c][1] - (class_stats[c][0] / n) * sx) / x_scale
             for c in gcls], axis=1)
        backend._lam_max_grad = np.abs(G.ravel(order="F"))
        backend._stash_null_mu(
            family_name,
            np.array([class_stats[c][0] / n for c in gcls]))
    meta = {
        "x_center": x_center,
        "x_scale": x_scale,
        "y_center": y_center,
        "y_scale": y_scale,
        "class_names": class_names,
        "n_targets": n_targets,
        "feature_names": list(feature_cols),
    }
    return backend, meta
