"""Generated classes compile once per session and are reused after.

Spark keeps compiled whole-stage classes in a JVM-wide LRU cache keyed by
the generated source. get_spark sizes it above the engine's working set:
at Spark's default of 100 entries, one round of the three graph and dedup
queries below (about 147 classes at sf0.01) evicts every class before its
next use, and every call compiles all of its classes again.
"""

import pytest

import __spark_entry__ as entrymod
from golem_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compile_count
from perfbench.run import data_dir

SF_DIR = data_dir("0.001")
OPS = ("p59_pagerank", "p06_jaccard_pairs", "p102_triangle_count")


def _cached_sources(spark) -> set:
    """One (hash, identity) pair per entry of Spark's compiled-class
    cache. An entry that stays cached keeps both, so the difference of
    two snapshots is exactly the classes compiled in between and still
    cached."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    cache = field.get(cls.getDeclaredField("MODULE$").get(None))
    identity = jvm.java.lang.System.identityHashCode
    return {(k.hashCode(), identity(k))
            for k in cache.loadingCache().asMap().keySet()}


@pytest.fixture(scope="module")
def rounds(spark):
    """Three rounds of the three ops, interleaved the way a session runs
    them: (per-op compile counts of each call, classes compiled over the
    rounds, of those the ones still cached at the end)."""
    qs = entrymod.queries()
    before = _cached_sources(spark)
    c0 = codegen_compile_count(spark)
    per_call = {op: [] for op in OPS}
    for _ in range(3):
        for op in OPS:
            c = codegen_compile_count(spark)
            qs[op](spark, SF_DIR).toPandas()
            per_call[op].append(codegen_compile_count(spark) - c)
    compiled = codegen_compile_count(spark) - c0
    kept = len(_cached_sources(spark) - before)
    return per_call, compiled, kept


def test_get_spark_sizes_codegen_cache(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) \
        == CODEGEN_CACHE_ENTRIES


def test_no_class_is_evicted_and_compiled_again(rounds):
    per_call, compiled, kept = rounds
    # a class evicted before its next use would be compiled twice (or
    # be missing at the end): every compile must still be cached
    assert compiled > 0
    assert kept == compiled, per_call


# p06 is left out of the strict per-call check: AQE picks its join build
# sides and numbers its codegen stages from runtime statistics of the
# persisted token frames, which can differ from call to call, so a later
# call may generate a new class variant (never a recompiled one: the
# eviction test above covers p06).
@pytest.mark.parametrize("op", ["p59_pagerank", "p102_triangle_count"])
def test_third_call_compiles_nothing(rounds, op):
    per_call, _, _ = rounds
    assert per_call[op][0] > 0
    assert per_call[op][2] == 0, per_call[op]


def test_beta_changes_compile_nothing(spark):
    """A dense backend's beta passes keep one plan whatever beta is, so
    after one warm pass, passes at new betas compile no class."""
    import numpy as np
    import pandas as pd

    from golem_spark.backends import build_spark_backend
    from tests.conftest import random_problem

    x, y, _ = random_problem(n=2000, p=30, response="binomial", seed=41)
    cols = {f"x{j}": x[:, j] for j in range(x.shape[1])}
    cols["label"] = y
    be, _ = build_spark_backend(spark.createDataFrame(pd.DataFrame(cols)),
                                list(cols)[:-1], "label", "binomial")
    try:
        rng = np.random.default_rng(5)
        be.eval(np.zeros((be.p_total, be.m)))
        compiled = []
        for _ in range(3):
            c = codegen_compile_count(spark)
            be.eval(rng.standard_normal((be.p_total, be.m)) * 0.1)
            compiled.append(codegen_compile_count(spark) - c)
        assert compiled == [0, 0, 0], compiled
    finally:
        be.unpersist()
