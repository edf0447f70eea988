"""Driver-coordinated solvers: FISTA (all families) and ADMM (gaussian).

FISTA (accelerated proximal gradient with backtracking line search,
duality-gap + infeasibility stopping) mirrors the reference's generic
solver (/root/reference/src/families/family.h:87-223). Each iteration
costs one backend ``eval`` (primal+dual+gradient in a single distributed
pass on SparkBackend) plus one backend ``primal`` per line-search
backtrack; the learning rate persists across iterations so backtracks are
rare after warm-up.

ADMM for the gaussian family (src/families/gaussian.h:48-139) needs the
data only through Gram = X^T X and X^T y — both computed ONCE per active
set — so the whole iteration loop is driver-local numpy: the 100 TB sweet
spot (n >> p, one data pass per path point at most).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np

from golem_spark.prox import prox_sorted_l1, sorted_l1_norm
from golem_spark.screening import infeasibility

_SMALL = math.sqrt(np.finfo(np.float64).eps)


@dataclass
class SolverResult:
    beta: np.ndarray
    passes: int
    primals: list[float] = field(default_factory=list)
    duals: list[float] = field(default_factory=list)
    time: list[float] = field(default_factory=list)
    deviance: float = 0.0
    # final-evaluation state at the returned beta (subset space), when
    # the solver's last evaluation already produced it — lets the path
    # loop skip a full-gradient KKT pass when the active set spans all
    # columns, and warm-chain the next fit's first evaluation
    grad: np.ndarray | None = None
    hess: np.ndarray | None = None
    primal: float | None = None
    dual: float | None = None


def fista(backend, beta: np.ndarray, lam: np.ndarray, *,
          max_passes: int = 10**6, tol_rel_gap: float = 1e-5,
          tol_infeas: float = 1e-3, diagnostics: bool = False,
          learning_rate: float = 1.0) -> SolverResult:
    """beta: (p_total, m) start value. lam: penalties for the penalized
    rows only (length p_pen*m, non-increasing); when backend.intercept the
    first row of beta is unpenalized."""
    m = beta.shape[1]
    pen0 = 1 if backend.intercept else 0  # first penalized row

    beta = beta.copy()
    beta_tilde = beta.copy()
    eta = 0.5
    t = 1.0
    final_grad = None  # set when converged (grad matches returned beta)
    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = time.monotonic()

    passes = 0
    while passes < max_passes:
        primal_val, dual_val, grad = backend.eval(beta)
        g = primal_val
        h = sorted_l1_norm(beta[pen0:, :], lam)
        f = g + h
        infeas = infeasibility(grad[pen0:, :], lam) if lam.size else 0.0

        optimal = abs(f - dual_val) / max(_SMALL, abs(f)) < tol_rel_gap
        feasible = infeas <= max(_SMALL, tol_infeas * lam[0]) if lam.size else True

        if diagnostics:
            times.append(time.monotonic() - t0)
            primals.append(f)
            duals.append(dual_val)

        if optimal and feasible:
            final_grad = grad
            break

        beta_tilde_old = beta_tilde
        g_old = g
        t_old = t

        # backtracking line search on the smooth part
        while True:
            cand = beta - learning_rate * grad
            cand[pen0:, :] = prox_sorted_l1(
                cand[pen0:, :].ravel(order="F"), lam * learning_rate
            ).reshape(cand[pen0:, :].shape, order="F")
            d = (cand - beta).ravel(order="F")
            g_new = backend.primal(cand)
            q = (g_old + float(d @ grad.ravel(order="F"))
                 + float(d @ d) / (2 * learning_rate))
            if q >= g_new * (1 - 1e-12):
                beta_tilde = cand
                break
            learning_rate *= eta

        # FISTA momentum
        t = 0.5 * (1.0 + math.sqrt(1.0 + 4.0 * t_old * t_old))
        beta = beta_tilde + (t_old - 1.0) / t * (beta_tilde - beta_tilde_old)
        passes += 1

    deviance = 2.0 * backend.primal(beta)
    return SolverResult(beta, passes, primals, duals, times, deviance,
                        grad=final_grad)


def _power_eig_max(G: np.ndarray, iters: int = 16) -> float:
    """Deterministic power-iteration estimate of the top eigenvalue of a
    PSD matrix — a dozen O(p^2) matmuls instead of O(p^3) eigvalsh."""
    v = np.ones(G.shape[0])
    v /= np.linalg.norm(v)
    for _ in range(iters):
        w = G @ v
        nw = float(np.linalg.norm(w))
        if nw <= 0.0:
            return 0.0
        v = w / nw
    return float(v @ (G @ v))


class _KronH:
    """Structured fixed-majorization Hessian H = S (x) G under the
    column-major vec convention: H @ vec_F(D) = vec_F(G @ D @ S), with
    S a small symmetric m x m target-space factor (identity for
    multi-target gaussian, the Bohning 0.5*(I - 11'/(m+1)) for
    multinomial) and G the p x p active-set Gram.

    Exists so _prox_quadratic never has to materialize the (p*m)^2
    Kronecker product (np.kron allocated ~2 GB PER OUTER ITERATION at
    the p=100k audit's 8k-wide active sets) or invert the
    (p*m) x (p*m) matrix (O(m^3 p^3), redone on every ADMM rho
    rebalance). The spectral split (H + rho I)^-1 =
    (Q (x) U) diag(1 / (s_m (x) s_p + rho)) (Q (x) U)' needs ONE eigh
    of G per (subset, lambda) cache entry plus the trivial m x m
    eigensystem; every rho change after that is a diagonal update."""

    def __init__(self, G: np.ndarray, S: np.ndarray):
        self.G = G
        self.S = S
        self.p = G.shape[0]
        self.m = S.shape[0]

    def matvec(self, v: np.ndarray) -> np.ndarray:
        D = v.reshape((self.p, self.m), order="F")
        return (self.G @ D @ self.S).ravel(order="F")

    def eig(self, cache: dict | None):
        """(s_p, U, s_m, Q) with PSD clipping on the Gram spectrum
        (eigh round-off can dip tiny eigenvalues below zero)."""
        if cache is not None and "kron_eig" in cache:
            return cache["kron_eig"]
        s_p, U = np.linalg.eigh(self.G)
        s_m, Q = np.linalg.eigh(self.S)
        out = (np.clip(s_p, 0.0, None), U, np.clip(s_m, 0.0, None), Q)
        if cache is not None:
            cache["kron_eig"] = out
        return out


def _kron_solve(eig, rho: float, q: np.ndarray, p: int,
                m: int) -> np.ndarray:
    """(H + rho I)^-1 q for H = S (x) G via the cached eigensystems —
    two thin (p x p)(p x m) gemms and one elementwise scale, the same
    per-iteration flops as the dense (p*m)^2 matvec it replaces."""
    s_p, U, s_m, Q = eig
    W = U.T @ q.reshape((p, m), order="F") @ Q
    W /= (s_p[:, None] * s_m[None, :] + rho)
    return (U @ W @ Q.T).ravel(order="F")


def _prox_quadratic(H: np.ndarray, lin: np.ndarray, beta0: np.ndarray,
                    lam: np.ndarray, pen0: int, *, max_iter: int = 5000,
                    tol: float = 1e-8, alpha: float = 1.5,
                    cache: dict | None = None,
                    fixed_h: bool = True) -> np.ndarray:
    """Driver-local ADMM on the quadratic model
        min_d  0.5 <d, H d> + <lin, d> + J(beta0 + d; lam)
    with ``H`` the explicit (p*m, p*m) column-major-flattened quadratic
    operator. The (H + rho I) inverse is computed ONCE (and reused
    across calls via ``cache`` when the majorization strategy keeps H
    fixed, e.g. gaussian / Bohning bounds), so every iteration is one
    O((p*m)^2) matmul — never an O(p^3) re-solve. Returns d.

    ``fixed_h=False`` (local-Hessian strategies: H changes every call):
    the factorization is rebuilt, but the splitting state (z, u) and
    the rho scale still warm-start from ``cache`` — successive outer
    iterations' subproblems are close, so the inner loop converges in
    a handful of iterations instead of hundreds."""
    p, m = beta0.shape
    pm = p * m
    b0 = beta0.ravel(order="F")
    structured = isinstance(H, _KronH)
    if structured:
        # kron-structured fixed majorizations (always fixed_h): the
        # eigensystem replaces the dense inverse, and rho changes cost
        # nothing — see _KronH
        q0 = H.matvec(b0) - lin.ravel(order="F")
        kr_eig = H.eig(cache)
        Hinv = None
        if cache is not None and "rho" in cache:
            rho = cache["rho"]
        else:
            eig_max = float(kr_eig[0].max() * kr_eig[2].max())
            rho = (eig_max ** (1.0 / 3.0)) * (float(lam.max()) ** (2.0 / 3.0)) \
                if lam.size and lam.max() > 0 else max(eig_max, 1.0)
            rho = max(rho, 1e-12)
            if cache is not None:
                cache["rho"] = rho
    else:
        q0 = H @ b0 - lin.ravel(order="F")
        if cache is not None and fixed_h and "Hinv" in cache:
            rho = cache["rho"]
            Hinv = cache["Hinv"]
        else:
            if cache is not None and "rho" in cache:
                rho = cache["rho"]  # preseeded (full-Gram eig bound)
            else:
                # power iteration: the rho heuristic only needs the top
                # eigenvalue's scale, never the full O(p^3) spectrum
                eig_max = _power_eig_max(H) if pm > 1 else float(H[0, 0])
                rho = (eig_max ** (1.0 / 3.0)) * \
                    (float(lam.max()) ** (2.0 / 3.0)) \
                    if lam.size and lam.max() > 0 else max(eig_max, 1.0)
                rho = max(rho, 1e-12)
            Hinv = np.linalg.inv(H + rho * np.eye(pm))
            if cache is not None:
                if fixed_h:
                    cache["rho"] = rho
                    cache["Hinv"] = Hinv
                else:
                    cache.setdefault("rho", rho)
    # warm-start the splitting state across outer iterations (cache'd
    # fixed-H strategies only): successive subproblems differ only in
    # the linear term, so the previous (z, u) is near-optimal
    adaptive = cache is not None
    if adaptive and cache.get("z") is not None and cache["z"].size == pm:
        z = cache["z"].copy()
        u = cache["u"].copy()
    else:
        z = b0.copy()
        u = np.zeros(pm)
    b = b0.copy()
    for it in range(max_iter):
        q = q0 + rho * (z - u)
        b = _kron_solve(kr_eig, rho, q, p, m) if structured else Hinv @ q
        z_old = z
        b_hat = alpha * b + (1 - alpha) * z_old
        z = b_hat + u
        if pm - pen0 * m:
            zm = z.reshape((p, m), order="F")
            zm[pen0:, :] = prox_sorted_l1(
                zm[pen0:, :].ravel(order="F"), lam / rho
            ).reshape((p - pen0, m), order="F")
            z = zm.ravel(order="F")
        u = u + (b_hat - z)
        r = float(np.linalg.norm(b - z))
        s = float(np.linalg.norm(rho * (z - z_old)))
        eps_p = math.sqrt(pm) * 1e-10 + tol * max(
            float(np.linalg.norm(b)), float(np.linalg.norm(z)))
        eps_d = math.sqrt(pm) * 1e-10 + tol * float(np.linalg.norm(rho * u))
        if r < eps_p and s < eps_d:
            break
        # residual balancing (Boyd et al. 2011, sec 3.4.1) — cached
        # strategies only, so the uncached narrow paths stay bitwise
        # identical; u is the SCALED dual, so it rescales with rho
        if adaptive and (it + 1) % 25 == 0 and cache.get("n_rho", 0) < 12:
            rho_new = rho * 2.0 if r > 10.0 * s else (
                rho / 2.0 if s > 10.0 * r else rho)
            if rho_new != rho:
                u *= rho / rho_new
                rho = rho_new
                cache["rho"] = rho
                if not structured:  # kron path: diagonal update, free
                    Hinv = np.linalg.inv(H + rho * np.eye(pm))
                    if fixed_h:
                        cache["Hinv"] = Hinv
                cache["n_rho"] = cache.get("n_rho", 0) + 1
    if adaptive:
        cache["z"] = z.copy()
        cache["u"] = u.copy()
    return z.reshape((p, m), order="F") - beta0


# exact-local-Hessian vs fixed-majorization crossover, per family: use
# the true weighted Hessian (near-quadratic outer convergence, but a
# (p*m)^2 partial payload every pass) while p*m is below the limit;
# above it, the fixed Bohning bound (one Gram pass for the whole fit,
# p-vector gradient passes, linear rate). Module-level so the crossover
# can be tuned/measured in one place (see tools/ab_wide_hessian.py).
#
# binomial history: raised 200 -> 1000 in round 4 after a local A/B
# (12.5s -> 9.1s at p=807), but the independent driver bench REGRESSED
# 12.2s -> 34.4s: the per-pass p^2 partial collect rides the py4j/Arrow
# ingress path whose latency is machine-variant (backends.py
# _bounded_partials_src: "measured 7-52s, high variance"). The Bohning
# bound's p-vector passes have no such payload, so its wall-clock is
# stable across machines — keep the crossover below wide-p (807).
PN_LOCAL_H_LIMIT = {"binomial": 200, "multinomial": 60}


def pn_local_hessian(fam: str, pm: int) -> bool:
    """True when prox_newton will use the exact local Hessian for this
    family at p_total*m == pm (poisson always does; gaussian never)."""
    if fam == "poisson":
        return True
    if fam in PN_LOCAL_H_LIMIT:
        return pm <= PN_LOCAL_H_LIMIT[fam]
    return False


def prox_newton(backend, beta: np.ndarray, lam: np.ndarray, *,
                gram: np.ndarray | None,
                max_passes: int = 10**6, tol_rel_gap: float = 1e-5,
                tol_infeas: float = 1e-3, max_outer: int = 1000,
                diagnostics: bool = False,
                init_eval: tuple | None = None,
                solver_cache: dict | None = None) -> SolverResult:
    """Distributed-friendly solver: ONE aggregation pass per outer
    iteration (plus line-search passes for poisson).

    Majorizes the smooth loss with a fixed quadratic upper bound built
    from the Gram matrix (Bohning 1992): binomial H <= 0.25 X'X,
    multinomial H <= 0.5 (I - 11'/(m+1)) (x) X'X; poisson has no global
    bound so the local weighted Gram X' diag(exp(lp)) X is refreshed per
    iteration with a step-halving safeguard. The sorted-L1 subproblem is
    solved exactly on the driver against the small p x p matrix.

    Same stopping criteria (duality gap + infeasibility) and therefore
    the same solutions as the reference FISTA — only the iteration
    strategy is re-designed for cluster latency.
    """
    fam = backend.family.name
    m = beta.shape[1]
    pen0 = 1 if backend.intercept else 0
    beta = beta.copy()

    if fam == "gaussian":
        # the quadratic model IS the loss: one subproblem solve against
        # the (active-set) Gram reaches the optimum; the loop only
        # re-checks the duality gap. Used for wide-p gaussian where the
        # ADMM path's full p x p Gram is not precomputable.
        local_hessian = False
        B = None
    elif fam == "binomial":
        # true local Hessian X' diag(w) X (near-quadratic convergence)
        # while the per-pass p^2 payload is affordable; above that, the
        # Bohning (1992) global bound H <= 0.25 X'X — ONE Gram pass for
        # the whole fit, p-vector gradients per iteration
        local_hessian = pn_local_hessian("binomial", beta.shape[0] * m)
        B = None
    elif fam == "poisson":
        # no global curvature bound exists: local weighted Gram,
        # refreshed per outer iteration with a step-halving safeguard
        local_hessian = True
        B = None
    elif fam == "multinomial":
        # exact block Hessian when the pass is affordable (m*p modest),
        # else the Bohning (1992) global bound
        # H <= 0.5 (I - 11'/(m+1)) (x) X'X (guaranteed descent, 1 pass
        # per iteration, linear rate)
        local_hessian = pn_local_hessian("multinomial", beta.shape[0] * m)
        B = np.eye(m) - np.ones((m, m)) / (m + 1)
    else:
        raise ValueError(f"prox_newton does not handle family {fam!r}")

    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = time.monotonic()

    p_tot = beta.shape[0]
    if not local_hessian and gram is None:
        raise ValueError("prox_newton majorization strategies need the Gram")
    passes = 0
    optimal = False
    # fixed-Hessian strategies factorize (H + rho I) exactly once; the
    # caller may pass a (subset, lambda)-keyed cache that survives KKT
    # re-entries, optionally preseeded with "rho" from a full-Gram
    # eigenvalue bound (skips the O(p^3) eigvalsh entirely)
    fixed_h_cache: dict = {} if solver_cache is None else solver_cache

    def evaluate(b):
        """One combined pass; hessian only when the local-Hessian
        strategy needs it (Bohning reuses the fixed Gram)."""
        nonlocal passes
        passes += 1
        if local_hessian:
            return backend.eval_hess(b)
        pr, du, g = backend.eval(b)
        return pr, du, g, None

    # init_eval = (primal, dual, grad, hess|None) already computed at the
    # start beta (e.g. by the path loop's KKT check) — skips the first
    # data pass; unusable when the local-Hessian strategy needs H and the
    # caller could not supply it
    if init_eval is not None and (not local_hessian or init_eval[3] is not None):
        primal_val, dual_val, grad, H = init_eval
    else:
        primal_val, dual_val, grad, H = evaluate(beta)
    for _ in range(max_outer):
        f = primal_val + sorted_l1_norm(beta[pen0:, :], lam)
        infeas = infeasibility(grad[pen0:, :], lam) if lam.size else 0.0
        optimal = abs(f - dual_val) / max(_SMALL, abs(f)) < tol_rel_gap
        feasible = infeas <= max(_SMALL, tol_infeas * lam[0]) if lam.size else True
        if diagnostics:
            times.append(time.monotonic() - t0)
            primals.append(f)
            duals.append(dual_val)
        if (optimal and feasible) or passes >= max_passes:
            break

        if local_hessian:
            Hmat = H + 1e-9 * np.eye(p_tot * m)
        elif fam == "gaussian":
            # multi-target: Hessian of 0.5||Y-XB||_F^2 is I_m (x) X'X —
            # kron-structured, never materialized (see _KronH)
            Hmat = gram if m == 1 else _KronH(gram, np.eye(m))
        elif fam == "binomial":
            Hmat = 0.25 * gram
        else:
            # Bohning bound 0.5 (I - 11'/(m+1)) (x) X'X; vec_F(G d B) =
            # (B (x) G) vec_F(d) for symmetric B — kron-structured: one
            # eigh of the active Gram instead of an O((p*m)^3) inverse
            # per (path point x rho rebalance), and no (p*m)^2 buffer
            Hmat = _KronH(gram, 0.5 * B)

        # inexact subproblem solves (cached strategies only, so narrow
        # uncached paths stay bitwise identical): while the outer gap is
        # large, the majorization model itself is inaccurate and a
        # 1e-8-precise inner solution is wasted driver work — scale the
        # inner tolerance to the current outer gap (classic inexact
        # prox-Newton), tightening as the outer loop converges
        gap_rel = abs(f - dual_val) / max(_SMALL, abs(f))
        inner_tol = (min(1e-8, max(1e-9, 0.02 * gap_rel))
                     if solver_cache is not None else 1e-8)
        d = _prox_quadratic(Hmat, grad, beta, lam, pen0,
                            tol=inner_tol,
                            cache=fixed_h_cache,
                            fixed_h=not local_hessian)

        if local_hessian:
            # the local quadratic is not a global bound: step-halving
            # safeguard, with the accepted step's evaluation CARRIED into
            # the next outer iteration (one pass per accepted step)
            alpha = 1.0
            for _ in range(30):
                cand = beta + alpha * d
                p_new, du_new, g_new, H_new = evaluate(cand)
                f_new = p_new + sorted_l1_norm(cand[pen0:, :], lam)
                if f_new <= f + 1e-12 * abs(f) or alpha < 1e-8:
                    beta = cand
                    primal_val, dual_val, grad, H = p_new, du_new, g_new, H_new
                    break
                alpha *= 0.5
        else:
            # majorization guarantees descent at full step
            beta = beta + d
            primal_val, dual_val, grad, H = evaluate(beta)

    deviance = 2.0 * primal_val
    # grad/H were produced by the same evaluation that set primal_val/beta
    return SolverResult(beta, passes, primals, duals, times, deviance,
                        grad=grad, hess=H, primal=primal_val, dual=dual_val)


def admm_gaussian(gram: np.ndarray, xty: np.ndarray, beta: np.ndarray,
                  z: np.ndarray, u: np.ndarray | None, lam: np.ndarray, *,
                  n: int, intercept: bool, rho: float | None = None,
                  max_passes: int = 10**6, tol_abs: float = 1e-5,
                  tol_rel: float = 1e-4, alpha: float = 1.5,
                  diagnostics: bool = False) -> tuple[SolverResult, np.ndarray, np.ndarray, float]:
    """Gaussian SLOPE via ADMM on precomputed sufficient statistics.

    gram: X^T X (p×p), xty: X^T Y (p, m) — the only data-dependent
    inputs, each one distributed pass. Multi-target (m > 1, the
    reference's p×m×K cube, src/owl.cpp:88) shares ONE Cholesky factor
    across all targets: the β-step is a single matrix-RHS solve, and the
    sorted-L1 prox couples all p·m penalized entries (column-major, like
    the reference's vectorized cube slice). z, u: warm-started ADMM state
    (p, m). Returns (result, z, u, rho).

    ``u=None`` means "the scaled dual consistent with z": u = (xty -
    gram @ z) / rho at this call's own rho, the value u takes at the
    optimum (Boyd et al. 2011, sec 3.3). The first beta-step's right-hand
    side is then (gram + rho I) z, so its solution is z itself and is
    taken without a solve; a z that is already optimal converges in
    one iteration. Callers pass it only when z was just reset from a
    warm start, never for a carried (z, u) pair.

    gram + rho I is inverted lazily: at the first beta-step that needs
    it and, after a residual-balancing rho change, only once another
    beta-step needs it. A call with an explicit u inverts at the same
    rho before the same first use, so its trajectory is unchanged.

    rho heuristic: eig_max(gram)^(1/3) * lam_max^(2/3)
    (reference src/owl.cpp:190-192).
    """
    p = gram.shape[0]
    xty = np.asarray(xty, dtype=np.float64)
    if xty.ndim == 1:
        xty = xty[:, None]
    m = xty.shape[1]
    lam = np.asarray(lam, dtype=np.float64)
    pen0 = 1 if intercept else 0

    if rho is None:
        eig_max = float(np.linalg.eigvalsh(gram).max())
        rho = (eig_max ** (1.0 / 3.0)) * (float(lam.max()) ** (2.0 / 3.0)) if lam.size else max(eig_max, 1.0)
        rho = max(rho, 1e-12)
    # one O(p^3) factorization per rho, made on first use; every
    # iteration is then one O(p^2) matmul (an np.linalg.solve per
    # iteration would redo LU each time)
    Hinv = None

    beta = np.asarray(beta, dtype=np.float64).reshape(p, m).copy()
    z = np.asarray(z, dtype=np.float64).reshape(p, m).copy()
    consistent_u = u is None
    if consistent_u:
        u = (xty - gram @ z) / rho
    else:
        u = np.asarray(u, dtype=np.float64).reshape(p, m).copy()

    primals: list[float] = []
    duals: list[float] = []
    times: list[float] = []
    t0 = time.monotonic()

    # residual balancing for wide problems only (p <= 48 keeps the
    # exact reference-heuristic trajectory)
    adaptive = p > 48
    n_rho = 0

    passes = 0
    while passes < max_passes:
        passes += 1
        if consistent_u and passes == 1:
            beta = z.copy()  # solves (gram + rho I) beta = (gram + rho I) z
        else:
            if Hinv is None:
                Hinv = np.linalg.inv(gram + rho * np.eye(p))
            beta = Hinv @ (xty + rho * (z - u))

        z_old = z
        beta_hat = alpha * beta + (1 - alpha) * z_old

        z = beta_hat + u
        if lam.size:
            z[pen0:, :] = prox_sorted_l1(
                z[pen0:, :].ravel(order="F"), lam / rho
            ).reshape((p - pen0, m), order="F")

        u = u + (beta_hat - z)

        r_norm = float(np.linalg.norm(beta - z))
        s_norm = float(np.linalg.norm(rho * (z - z_old)))
        eps_primal = math.sqrt(n) * tol_abs + tol_rel * max(
            float(np.linalg.norm(beta)), float(np.linalg.norm(z)))
        eps_dual = math.sqrt(n) * tol_abs + tol_rel * float(np.linalg.norm(rho * u))

        if diagnostics:
            primals.append(r_norm)
            duals.append(s_norm)
            times.append(time.monotonic() - t0)

        if r_norm < eps_primal and s_norm < eps_dual:
            break

        if adaptive and passes % 25 == 0 and n_rho < 12:
            rho_new = rho * 2.0 if r_norm > 10.0 * s_norm else (
                rho / 2.0 if s_norm > 10.0 * r_norm else rho)
            if rho_new != rho:
                u *= rho / rho_new  # scaled dual rescales with rho
                rho = rho_new
                Hinv = None
                n_rho += 1

    res = SolverResult(z.copy(), passes, primals, duals, times, 0.0)
    return res, z, u, rho
