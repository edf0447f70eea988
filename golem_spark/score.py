"""score()/deviance(): model evaluation along the path.

Reference parity: R/score.R:24-166, R/deviance.R:13-18.

Measures by family (same compatibility matrix as the reference):
- gaussian/poisson: mse, mae
- binomial: mse, mae, deviance (clamped log-loss ×2), misclass, auc
- multinomial: mse, mae, deviance, misclass

Spark mode computes every path point's score in ONE aggregation pass
(all path points' linear predictors are independent column expressions);
AUC uses the exact Mann-Whitney rank statistic computed by a
range-partitioned two-phase reduction (no global window, all K path
points in one job) with deterministic average-rank ties instead of the
reference's randomized jitter (R/score.R:153).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from golem_spark.path import OwlFit
from golem_spark.predict import (_argmax_class_col, _lp_cols, _lp_np,
                                 _mean_cols, _mean_np, coef_at)

_CLAMP = 1e-15


class _NoRowsToScore(ValueError):
    """Distributed scoring over no rows: every measure is a mean, which
    is undefined there (the CV routes re-raise it naming the fold)."""

    def __init__(self):
        super().__init__("no rows to score")


def _measures_for(family: str) -> list[str]:
    return {
        "gaussian": ["mse", "mae"],
        "poisson": ["mse", "mae"],
        "binomial": ["mse", "mae", "deviance", "misclass", "auc"],
        "multinomial": ["mse", "mae", "deviance", "misclass"],
    }[family]


def score(fit: OwlFit, x=None, y=None, *, df: DataFrame | None = None,
          feature_cols: list[str] | None = None, label_col: str | None = None,
          sparse_features: tuple[str, str] | None = None,
          measure: str = "mse", sigma=None, weights=None) -> np.ndarray:
    """Score the fit at every path point (or at ``sigma``); returns an
    array of scores, one per evaluated path point.

    ``weights`` (measure="auc" only, mirroring R/score.R:137-166):
    observation weights — an array on the numpy path, a column name on
    the Spark path. Ties get the deterministic average-rank credit
    rather than the reference's runif tie-break (same expectation).

    ``sparse_features=(idx_col, val_col)``: score a sparse-features
    DataFrame — ONE Arrow pass evaluates every path point (the
    coefficient cube rides in the closure; a per-point literal
    expression list would not survive wide p)."""
    if measure not in _measures_for(fit.family):
        raise ValueError(f"measure {measure!r} not available for family {fit.family!r}")
    if weights is not None and measure != "auc":
        raise ValueError("weights are only supported for measure='auc'")
    if df is not None and sparse_features is not None:
        return _score_sparse(fit, df, sparse_features, label_col, measure, sigma)
    if df is not None:
        return _score_spark(fit, df, feature_cols, label_col, measure, sigma,
                            weight_col=weights)
    return _score_np(fit, np.asarray(x, dtype=np.float64), y, measure, sigma,
                     weights=weights)


def deviance(fit: OwlFit) -> np.ndarray:
    """(1 - deviance_ratio) * null_deviance (R/deviance.R:13-18)."""
    return (1.0 - fit.deviance_ratio) * fit.null_deviance


# ---------------------------------------------------------------------------
# Score measures: the one numpy kernel and the one Catalyst builder that
# every plane (numpy, dense Spark, sparse Spark, fused CV) goes through
# ---------------------------------------------------------------------------

def _label_cols(family: str, m: int, label_col) -> list[str]:
    """The label column(s) a fit with m targets scores against: one per
    target for gaussian, exactly one for every other family."""
    cols = [label_col] if isinstance(label_col, str) else list(label_col)
    want = m if family == "gaussian" else 1
    if len(cols) != want:
        raise ValueError(f"scoring this {m}-target {family} fit needs "
                         f"{want} label column(s), got {len(cols)}")
    return cols


def _response_np(family: str, class_names, y) -> np.ndarray:
    """The kernel's response from raw labels: y (n, m) for
    gaussian/poisson, the 0/1 indicator y01 (n, 1) for binomial, a
    one-hot (n, classes) for multinomial."""
    if family in ("gaussian", "poisson"):
        yv = np.asarray(y, dtype=np.float64)
        return yv.reshape(yv.shape[0], -1)
    lab = [str(v) for v in np.asarray(y).ravel()]
    names = [str(c) for c in class_names]
    if family == "binomial":
        return np.asarray([[0.0 if v == names[0] else 1.0] for v in lab])
    Y = np.zeros((len(lab), len(names)))
    Y[np.arange(len(lab)), [names.index(v) for v in lab]] = 1.0
    return Y


def _score_sums(family: str, measure: str, lp: np.ndarray,
                response: np.ndarray) -> np.ndarray:
    """Per-path-point sums of one measure's row terms: lp (n, m, K) and
    a ``_response_np``-shaped response give (K,). ``_score_finish``
    turns the sums over all n rows into the score."""
    mu = _mean_np(family, lp)  # (n, m or m + 1, K)
    obs = response[:, :, None]
    if measure in ("mse", "mae"):
        d = mu - obs
        return np.sum(d * d if measure == "mse" else np.abs(d), axis=(0, 1))
    if measure == "deviance":
        pc = np.clip(mu, _CLAMP, 1 - _CLAMP)
        ll = obs * np.log(pc)
        if family == "binomial":
            ll = ll + (1 - obs) * np.log(1 - pc)
        return np.sum(ll, axis=(0, 1))
    if measure == "misclass":
        if family == "binomial":
            wrong = (mu[:, 0] > 0.5) != (response[:, :1] == 1.0)
        else:
            wrong = (np.argmax(mu, axis=1)
                     != np.argmax(response, axis=1)[:, None])
        return wrong.sum(axis=0).astype(np.float64)
    raise ValueError(f"unknown measure {measure!r}")


def _score_finish(family: str, measure: str, sums: np.ndarray, n: float,
                  m: int) -> np.ndarray:
    """Scores from ``_score_sums`` over n rows of a fit with m targets:
    the mean, x-2 for deviance, and mse/mae averaged over the response
    columns (targets, or the m + 1 multinomial classes)."""
    vals = sums / n
    if measure == "deviance":
        return -2.0 * vals
    width = m + 1 if family == "multinomial" else m
    if measure in ("mse", "mae") and width > 1:
        return vals / float(width)
    return vals


def _score_agg(family: str, measure: str, beta: np.ndarray, features: list,
               intercept: bool, response: list, *, cond=None, label=None,
               names=None) -> Column:
    """The aggregate Column of one measure at ONE path point ``beta``
    (p_total, m). ``features`` are Columns; ``response`` is the y Column
    per target (gaussian/poisson), [y01] (binomial) or one 0/1
    indicator per class (multinomial). ``cond`` restricts the average
    to the rows where it holds (avg skips the nulls ``when`` leaves);
    multinomial misclass compares the predicted class name against the
    ``label`` Column."""
    mu = _mean_cols(family, _lp_cols(beta, features, intercept))
    if measure in ("mse", "mae"):
        term = None
        for pr, obs in zip(mu, response):
            d = pr - obs
            t_ = d * d if measure == "mse" else F.abs(d)
            term = t_ if term is None else term + t_
    elif measure == "deviance":
        if family == "binomial":
            y01 = response[0]
            pc = F.least(F.greatest(mu[0], F.lit(_CLAMP)), F.lit(1 - _CLAMP))
            term = (y01 * F.log(pc)
                    + (F.lit(1.0) - y01) * F.log(F.lit(1.0) - pc))
        else:
            term = None
            for pr, obs in zip(mu, response):
                pc = F.least(F.greatest(pr, F.lit(_CLAMP)), F.lit(1 - _CLAMP))
                t_ = obs * F.log(pc)
                term = t_ if term is None else term + t_
    elif measure == "misclass":
        if family == "binomial":
            wrong = (mu[0] > 0.5) != (response[0] == 1.0)
        else:
            wrong = _argmax_class_col(mu, names) != label
        term = F.when(wrong, 1.0).otherwise(0.0)
    else:
        raise ValueError(f"unknown measure {measure!r}")
    agg = F.avg(term if cond is None else F.when(cond, term))
    if measure == "deviance":
        return F.lit(-2.0) * agg
    if measure in ("mse", "mae") and len(mu) > 1:
        return agg / F.lit(float(len(mu)))
    return agg


# ---------------------------------------------------------------------------
# numpy scoring
# ---------------------------------------------------------------------------

def _score_np(fit: OwlFit, x: np.ndarray, y, measure: str, sigma,
              weights=None) -> np.ndarray:
    betas = fit.coefficients if sigma is None else coef_at(fit, sigma, simplify=False)
    lp = _lp_np(x, betas, fit.intercept)
    resp = _response_np(fit.family, fit.class_names, y)
    if measure == "auc":
        prob = _mean_np(fit.family, lp)[:, 0]
        return np.array([_auc_np(resp[:, 0], prob[:, k], weights)
                         for k in range(prob.shape[1])])
    return _score_finish(fit.family, measure,
                         _score_sums(fit.family, measure, lp, resp),
                         x.shape[0], betas.shape[1])


def _auc_np(y01: np.ndarray, prob: np.ndarray,
            weights: np.ndarray | None = None) -> float:
    """(Weighted) Mann-Whitney rank AUC (R/score.R:137-166).

    Pairs formulation: sum over distinct probability values v of
    ``w1_v * W0_below(v) + 0.5 * w1_v * w0_v`` divided by ``W1 * W0``,
    where ``w1_v``/``w0_v`` are the positive/negative weight tied at v
    and ``W0_below`` the negative weight strictly below. Unweighted this
    is exactly the average-rank U statistic. Deviation from the
    reference's weighted branch (R/score.R:152-165, which RANDOMIZES
    ties via runif): ties get the 0.5 credit — the expected value of
    the randomized tie-break — so the result is deterministic.
    """
    if weights is None:
        w = np.ones_like(prob)
    else:
        w = np.asarray(weights, dtype=np.float64)
        if w.shape != prob.shape:
            raise ValueError("weights must match the number of observations")
    order = np.argsort(prob, kind="stable")
    sorted_p = prob[order]
    w1 = np.where(y01 == 1.0, w, 0.0)[order]
    w0 = np.where(y01 == 0.0, w, 0.0)[order]
    num = 0.0
    below0 = 0.0
    i = 0
    n = prob.size
    while i < n:
        j = i
        while j + 1 < n and sorted_p[j + 1] == sorted_p[i]:
            j += 1
        g1 = float(np.sum(w1[i:j + 1]))
        g0 = float(np.sum(w0[i:j + 1]))
        num += g1 * below0 + 0.5 * g1 * g0
        below0 += g0
        i = j + 1
    W1 = float(np.sum(w1))
    W0 = float(np.sum(w0))
    if W1 == 0 or W0 == 0:
        return float("nan")
    return num / (W1 * W0)


# ---------------------------------------------------------------------------
# Sparse Spark scoring (one Arrow pass, all path points)
# ---------------------------------------------------------------------------

def _score_sparse(fit: OwlFit, df: DataFrame, sparse_features, label_col,
                  measure: str, sigma) -> np.ndarray:
    import pandas as pd

    from golem_spark.backends import _collect_partials

    if measure == "auc":
        raise ValueError("auc over sparse features is not implemented; "
                         "use a dense scoring frame")
    fam = fit.family
    betas = fit.coefficients if sigma is None else coef_at(fit, sigma, simplify=False)
    _, m, K = betas.shape
    B = np.ascontiguousarray(betas)
    intercept = fit.intercept
    idx_col, val_col = sparse_features
    class_names = fit.class_names
    label_cols = _label_cols(fam, m, label_col)

    def op(batches):
        from golem_spark.backends import SparseArrowBackend, _csr_batch

        for pdf in batches:
            nrow, lens, rows, fi, fv = _csr_batch(pdf, idx_col, val_col)
            lp = SparseArrowBackend._lp(nrow, rows, fi, fv, B, intercept)
            resp = _response_np(fam, class_names, pdf[label_cols].to_numpy())
            part = np.append(_score_sums(fam, measure, lp, resp), float(nrow))
            yield pd.DataFrame({"part": [part]})

    out = _collect_partials(
        df.select(idx_col, val_col, *label_cols).mapInPandas(
            op, "part array<double>"), K + 1)
    if out[K] == 0:
        raise _NoRowsToScore()
    return _score_finish(fam, measure, out[:K], out[K], m)


# ---------------------------------------------------------------------------
# Spark scoring
# ---------------------------------------------------------------------------

def _auc_ranged_frame(df: DataFrame, y01, probs: list, weight_col,
                      weights_per_k: list | None = None):
    """Build the range-partitioned (k, prob, pos, w) frame the one-pass
    AUC reduction runs over — exposed separately so plan tests can
    assert it contains NO WindowExec (a naive rank needs
    ``Window.orderBy(prob)``, which collapses the corpus onto one
    task). ``weights_per_k`` gives each stacked entry its OWN weight
    expression — several weightings of the same scores reduce in one
    job (e.g. weighted + unweighted AUC)."""
    if weights_per_k is None:
        w = (F.col(weight_col).cast("double") if weight_col is not None
             else F.lit(1.0))
        weights_per_k = [w] * len(probs)
    scored = df.select(y01.cast("double").alias("pos"),
                       *[probs[k].alias(f"p{k}") for k in range(len(probs))],
                       *[weights_per_k[k].cast("double").alias(f"w{k}")
                         for k in range(len(probs))])
    stacked = scored.select(
        "pos",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("k"), F.col(f"p{k}").alias("prob"),
                     F.col(f"w{k}").alias("w"))
            for k in range(len(probs))])).alias("kp")
    ).select("pos", F.col("kp.k").alias("k"), F.col("kp.prob").alias("prob"),
             F.col("kp.w").alias("w"))
    # equal (k, prob) keys land in ONE partition under range
    # partitioning, so every tie group is partition-local and the
    # per-partition scan below sees complete groups
    return (stacked.repartitionByRange("k", "prob")
            .sortWithinPartitions("k", "prob")
            .withColumn("pid", F.spark_partition_id()))


def _spark_auc_all(df: DataFrame, y01, probs: list,
                   weight_col: str | None = None,
                   weights_per_k: list | None = None) -> np.ndarray:
    """(Weighted) rank AUC for ALL K path points in ONE distributed pass.

    Scale shape: the naive form ranks via an unpartitioned
    ``Window.orderBy(prob)`` — Spark moves the entire scored dataset to
    a single task, once per path point. Here the K probability columns
    are stacked into (k, prob) rows, range-partitioned on (k, prob)
    (ties co-located), sorted within partitions, and reduced by a
    streaming Arrow pass to #partitions x K tiny partial rows:
    per partition and path point, (sum_v w1_v * W0_local_below(v)
    + 0.5 * w1_v * w0_v, W0_part, W1_part). The driver combines
    partials in partition order — cross-partition pairs are
    ``W0_offset * W1_part`` because every positive in this partition
    outranks every negative in earlier ones. Unweighted, all partials
    are counts/half-integers, so double summation is EXACT and
    order-independent — bitwise equal to the numpy path. Same
    average-rank tie treatment as ``_auc_np``.
    """
    K = len(probs)
    ranged = _auc_ranged_frame(df, y01, probs, weight_col, weights_per_k)
    stats = _auc_reduce(ranged)
    out = np.full(K, np.nan)
    for k, (auc, _, _) in stats.items():
        out[k] = auc
    return out


def _auc_reduce(ranged: DataFrame) -> dict:
    """Streaming per-partition Mann-Whitney reduction over a
    (pos, w, k, prob, pid) frame sorted by (k, prob) within range
    partitions; returns {k: (auc, W1, W0)}. Shared by the path-point
    form (k = path point) and the segment form (k = segment index)."""
    import pandas as pd

    def op(batches):
        # rows arrive sorted by (k, prob); carry the open tie group
        # across batch boundaries
        pid = None
        acc: dict[int, list[float]] = {}  # k -> [num, W0, W1]
        cur_k = None
        cur_p = None
        g1 = g0 = 0.0     # weight tied at the open value
        below0 = 0.0      # negative weight strictly below, this partition

        def flush():
            nonlocal below0, g1, g0
            if cur_k is not None and (g1 or g0):
                a = acc.setdefault(cur_k, [0.0, 0.0, 0.0])
                a[0] += g1 * below0 + 0.5 * g1 * g0
                a[1] += g0
                a[2] += g1
                below0 += g0
            g1 = g0 = 0.0

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["pid"].iloc[0])
            ks = pdf["k"].to_numpy()
            ps = pdf["prob"].to_numpy()
            pos = pdf["pos"].to_numpy()
            ws = pdf["w"].to_numpy()
            w1s = np.where(pos == 1.0, ws, 0.0)
            w0s = np.where(pos == 0.0, ws, 0.0)
            # vectorize over runs of equal (k, prob)
            change = np.empty(len(ks), dtype=bool)
            change[0] = (cur_k is None or ks[0] != cur_k or ps[0] != cur_p)
            change[1:] = (ks[1:] != ks[:-1]) | (ps[1:] != ps[:-1])
            starts = np.flatnonzero(change)
            if starts.size == 0:
                g1 += float(w1s.sum())
                g0 += float(w0s.sum())
                continue
            # close the carried group with any leading rows of it
            if starts[0] != 0:
                g1 += float(w1s[:starts[0]].sum())
                g0 += float(w0s[:starts[0]].sum())
            c1 = np.add.reduceat(w1s, starts)
            c0 = np.add.reduceat(w0s, starts)
            for i, s in enumerate(starts):
                flush()
                if ks[s] != cur_k:
                    below0 = 0.0
                    cur_k = int(ks[s])
                cur_p = ps[s]
                g1 = float(c1[i])
                g0 = float(c0[i])
        flush()
        yield pd.DataFrame(
            {"pid": [pid if pid is not None else -1] * len(acc),
             "k": list(acc),
             "num": [a[0] for a in acc.values()],
             "w0": [a[1] for a in acc.values()],
             "w1": [a[2] for a in acc.values()]})

    parts = ranged.mapInPandas(
        op, "pid int, k int, num double, w0 double, w1 double").collect()

    by_k: dict[int, list] = {}
    for r in parts:
        by_k.setdefault(r["k"], []).append(r)
    out: dict = {}
    for k, rows in by_k.items():
        rows.sort(key=lambda r: r["pid"])
        num = off0 = W0 = W1 = 0.0
        for r in rows:
            num += r["num"] + off0 * r["w1"]
            off0 += r["w0"]
            W0 += r["w0"]
            W1 += r["w1"]
        auc = num / (W1 * W0) if W1 > 0 and W0 > 0 else float("nan")
        out[k] = (auc, W1, W0)
    return out


def segment_auc(df: DataFrame, y01, prob, segment_col: str,
                weight_col: str | None = None) -> DataFrame:
    """Per-SEGMENT rank AUC in one distributed pass — the standard
    per-slice model-evaluation table (fairness / cohort monitoring).
    Each row joins its segment's reduction instead of a global one:
    rows are keyed (segment index, prob), range-partitioned so every
    segment's tie groups are partition-local, and reduced by the same
    streaming Mann-Whitney pass as the path-point form. Segment
    cardinality is assumed dashboard-sized (it is collected to build
    the index map); the DATA is never collected.

    Returns a DataFrame (segment, n_pos, n_neg, auc) — auc weighted
    when ``weight_col`` is given, NaN segments (single-class) omitted.
    """
    segs = sorted(r[0] for r in df.select(segment_col).distinct().collect()
                  if r[0] is not None)
    kmap = F.create_map(*[x for i, sv in enumerate(segs)
                          for x in (F.lit(sv), F.lit(i))])
    w = (F.col(weight_col).cast("double") if weight_col is not None
         else F.lit(1.0))
    stacked = df.filter(F.col(segment_col).isNotNull()).select(
        y01.cast("double").alias("pos"), w.alias("w"),
        kmap[F.col(segment_col)].alias("k"), prob.cast("double").alias("prob"))
    ranged = (stacked.repartitionByRange("k", "prob")
              .sortWithinPartitions("k", "prob")
              .withColumn("pid", F.spark_partition_id()))
    stats = _auc_reduce(ranged)
    spark = df.sparkSession
    rows = [(segs[k], float(w1), float(w0), float(auc))
            for k, (auc, w1, w0) in sorted(stats.items())
            if w1 > 0 and w0 > 0]
    return spark.createDataFrame(
        rows, "segment string, n_pos double, n_neg double, auc double")


def _score_spark(fit: OwlFit, df: DataFrame, feature_cols, label_col, measure, sigma,
                 weight_col: str | None = None) -> np.ndarray:
    fam = fit.family
    betas = fit.coefficients if sigma is None else coef_at(fit, sigma, simplify=False)
    K = betas.shape[2]
    label_cols = _label_cols(fam, betas.shape[1], label_col)
    features = [F.col(c).cast("double")
                for c in feature_cols or fit.feature_names]
    names = fit.class_names
    y = F.col(label_cols[0])
    if fam == "binomial":
        response = [F.when(y == names[0], 0.0).otherwise(1.0)
                    if names else y.cast("double")]
    elif fam == "multinomial":
        response = [F.when(y == nm, 1.0).otherwise(0.0) for nm in names]
    else:
        response = [F.col(c).cast("double") for c in label_cols]

    if measure == "auc":
        probs = [_mean_cols(fam, _lp_cols(betas[:, :, k], features,
                                          fit.intercept))[0]
                 for k in range(K)]
        return _spark_auc_all(df, response[0], probs, weight_col)

    # measure may be a LIST of non-auc measures: every measure's agg
    # columns are siblings of ONE aggregation, so a serving query that
    # reports mse+deviance+misclass pays one data pass instead of three
    # (each column's value is computed by the same expression either way)
    measures = [measure] if isinstance(measure, str) else list(measure)
    aggs = [_score_agg(fam, meas, betas[:, :, k], features, fit.intercept,
                       response, label=y, names=names).alias(f"s{mi}_{k}")
            for mi, meas in enumerate(measures) for k in range(K)]
    row = df.agg(*aggs).collect()[0]
    if row[0] is None:  # an average over no rows
        raise _NoRowsToScore()
    out = np.array([[float(row[f"s{mi}_{k}"]) for k in range(K)]
                    for mi in range(len(measures))])
    return out[0] if isinstance(measure, str) else out
