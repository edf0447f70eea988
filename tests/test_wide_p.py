"""Dense distributed backend: its Arrow partial-reduction passes at
narrow and wide p. Metamorphic: distributed == numpy reference ==
local fit."""

import numpy as np
import pandas as pd
import pytest

from golem_spark.backends import LocalBackend, SparkBackend, build_spark_backend
from golem_spark.path import owl
from tests.conftest import random_problem


def _to_spark(spark, x, y):
    cols = {f"x{j}": x[:, j] for j in range(x.shape[1])}
    cols["label"] = y
    return spark.createDataFrame(pd.DataFrame(cols)), [f"x{j}" for j in range(x.shape[1])]


def _local_reference(be: SparkBackend) -> LocalBackend:
    """LocalBackend over the backend's own standardized, encoded frame,
    collected to the driver: the numpy reference for every pass."""
    pdf = be.df.toPandas()
    x = pdf[be.feat_cols].to_numpy(dtype=np.float64)
    if be.intercept:
        x = np.hstack([np.ones((x.shape[0], 1)), x])
    return LocalBackend(x, pdf[be.y_cols].to_numpy(dtype=np.float64),
                        be.family, be.intercept)


def test_spark_backend_matches_local_backend(spark):
    x, y, _ = random_problem(n=150, p=6, response="binomial", seed=60)
    df, feats = _to_spark(spark, x, y)
    be, _ = build_spark_backend(df, feats, "label", "binomial")
    try:
        ref = _local_reference(be)
        beta = np.linspace(-0.5, 0.5, 7).reshape(7, 1)
        p1, d1, g1 = ref.eval(beta)
        p2, d2, g2 = be.eval(beta)
        assert abs(p1 - p2) < 1e-8 * max(1, abs(p1))
        assert abs(d1 - d2) < 1e-6 * max(1, abs(d1))
        np.testing.assert_allclose(g1, g2, rtol=1e-9, atol=1e-9)
        np.testing.assert_allclose(ref.gram(), be.gram(), rtol=1e-9, atol=1e-9)
        _, _, _, H1 = ref.eval_hess(beta)
        _, _, _, H2 = be.eval_hess(beta)
        np.testing.assert_allclose(H1, H2, rtol=1e-9, atol=1e-9)
    finally:
        be.unpersist()


def test_multinomial_hess_matches_local(spark):
    rng = np.random.RandomState(63)
    x = rng.randn(200, 4)
    y = rng.randint(0, 3, size=200)  # 3 classes
    df, feats = _to_spark(spark, x, y)
    be, _ = build_spark_backend(df, feats, "label", "multinomial")
    try:
        ref = _local_reference(be)
        m = be.m
        beta = np.linspace(-0.3, 0.3, be.p_total * m).reshape(be.p_total, m)
        p1, d1, g1, H1 = ref.eval_hess(beta)
        p2, d2, g2, H2 = be.eval_hess(beta)
        assert abs(p1 - p2) < 1e-8 * max(1, abs(p1))
        assert abs(d1 - d2) < 1e-6 * max(1, abs(d1))
        np.testing.assert_allclose(g1, g2, rtol=1e-9, atol=1e-9)
        np.testing.assert_allclose(H1, H2, rtol=1e-9, atol=1e-9)
    finally:
        be.unpersist()


@pytest.mark.parametrize("family,response", [("gaussian", "gaussian"),
                                             ("binomial", "binomial")])
def test_wide_p_fit_matches_local(spark, family, response):
    x, y, _ = random_problem(n=260, p=210, q=0.01, response=response, seed=61)
    df, feats = _to_spark(spark, x, y)
    local = owl(x, y, family=family, n_sigma=3, lambda_min_ratio=1e-1)
    dist = owl(df=df, feature_cols=feats, label_col="label",
               family=family, n_sigma=3, lambda_min_ratio=1e-1)
    K = min(local.n_sigma, dist.n_sigma)
    np.testing.assert_allclose(local.coefficients[:, :, :K],
                               dist.coefficients[:, :, :K], atol=5e-3)


def test_tree_reduce_collect_partials_bitwise(spark):
    """_collect_partials sums the partial rows exactly, at partial rows
    above 1 MiB (the Gram-sized partials _bounded_partials_src
    coalesces). The values are integer-valued doubles, so the sum is
    BITWISE exact in float64 (up to 2^53), whatever the chunk order."""
    from golem_spark.backends import _collect_partials

    out_len = 140_000  # > (1 << 20) / 8
    n_parts = 12
    rows = [np.arange(out_len, dtype=np.float64) % 97 + i
            for i in range(n_parts)]
    expected = np.sum(rows, axis=0)
    df = spark.createDataFrame(
        pd.DataFrame({"part": [r.tolist() for r in rows]})).repartition(6)
    assert np.array_equal(_collect_partials(df, out_len), expected)


def test_collect_partials_fails_after_one_job(spark):
    """A failing partials pass raises after exactly one failed job: the
    error is not answered by re-running the whole lineage through a
    second collect path."""
    import uuid

    from golem_spark.backends import _collect_partials

    def boom(batches):
        for _ in batches:
            raise RuntimeError("partials closure failed")
        yield from ()

    df = spark.range(4, numPartitions=2).mapInArrow(boom,
                                                    "part array<double>")
    sc = spark.sparkContext
    group = f"collect_partials_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "failing partials pass")
    try:
        with pytest.raises(Exception, match="partials closure failed"):
            _collect_partials(df, 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert tracker.getJobInfo(jobs[0]).status == "FAILED"


def test_wide_p_uses_arrow_backend(spark):
    x, y, _ = random_problem(n=120, p=250, seed=62)
    df, feats = _to_spark(spark, x, y)
    be, _ = build_spark_backend(df, feats, "label", "gaussian")
    try:
        assert type(be) is SparkBackend
        # a small active set stays on the same partial-reduction plane
        sub = be.subset(np.arange(5))
        assert type(sub) is SparkBackend
    finally:
        be.unpersist()


def test_eval_multi_bitwise_matches_single_passes(spark):
    """The fused multi-beta pass (warm-point prefetch, r14) must return
    EXACTLY what the per-beta passes return: same closures over the
    same batch grouping means the per-element float summation sequence
    is identical, so the contract is bitwise, not approximate."""
    for fam, m in (("binomial", 1), ("poisson", 1), ("multinomial", 2)):
        if fam == "binomial":
            x, y, _ = random_problem(n=180, p=9, response="binomial", seed=71)
        elif fam == "poisson":
            x, y, _ = random_problem(n=180, p=9, seed=72)
            y = np.floor(np.abs(y) * 3).astype(float)
        else:
            x, y, _ = random_problem(n=180, p=9, seed=73)
            y = (np.digitize(y, np.quantile(y, [0.33, 0.66]))).astype(float)
        df, feats = _to_spark(spark, x, y)
        be, _ = build_spark_backend(df, feats, "label", fam)
        try:
            rng = np.random.default_rng(17)
            betas = [rng.standard_normal((be.p_total, be.m)) * 0.1
                     for _ in range(3)]
            singles = [be.eval(b) for b in betas]
            fused = be.eval_multi(betas)
            for (p1, d1, g1), (p2, d2, g2) in zip(singles, fused):
                assert p1 == p2 and d1 == d2, fam
                assert np.array_equal(g1, g2), fam
            singles_h = [be.eval_hess(b) for b in betas]
            fused_h = be.eval_hess_multi(betas)
            for (p1, d1, g1, H1), (p2, d2, g2, H2) in zip(singles_h, fused_h):
                assert p1 == p2 and d1 == d2, fam
                assert np.array_equal(g1, g2), fam
                assert np.array_equal(H1, H2), fam
        finally:
            be.unpersist()


def test_sparse_eval_multi_bitwise_matches_single_passes(spark):
    """Sparse twin of the fused-pass bitwise contract."""
    from pyspark.sql import functions as F

    from golem_spark.backends import build_sparse_backend
    from golem_spark.session import load_tables

    li = load_tables(spark, "/root/testdata/sf0.001")["lineitem"]
    for fam in ("binomial", "poisson", "multinomial"):
        if fam == "binomial":
            lab = F.when(F.col("l_returnflag") == "R", "R").otherwise("o")
        elif fam == "multinomial":
            lab = F.col("l_returnflag")
        else:
            lab = F.col("l_quantity")
        sdf = li.select(
            F.array((F.col("l_linenumber") - 1).cast("int")).alias("idx"),
            F.array(F.lit(1.0)).alias("val"), lab.alias("label"))
        be, _ = build_sparse_backend(sdf, "idx", "val", "label", fam, 7,
                                     intercept=True)
        try:
            rng = np.random.default_rng(23)
            betas = [rng.standard_normal((be.p_total, be.m)) * 0.1
                     for _ in range(3)]
            singles = [be.eval(b) for b in betas]
            for (p1, d1, g1), (p2, d2, g2) in zip(singles,
                                                  be.eval_multi(betas)):
                assert p1 == p2 and d1 == d2, fam
                assert np.array_equal(g1, g2), fam
            singles_h = [be.eval_hess(b) for b in betas]
            for (p1, d1, g1, H1), (p2, d2, g2, H2) in zip(
                    singles_h, be.eval_hess_multi(betas)):
                assert p1 == p2 and d1 == d2, fam
                assert np.array_equal(g1, g2), fam
                assert np.array_equal(H1, H2), fam
        finally:
            be.unpersist()
