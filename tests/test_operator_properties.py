"""Hypothesis property tests for driver-side operator math that has a
clean independent formulation — no Spark session needed (the Spark
expressions are checked against DuckDB by the oracle gate; these pin
the *semantics* the expressions implement)."""

import math

import numpy as np
from hypothesis import given, settings, strategies as st


@given(st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=200),
       st.lists(st.floats(0.001, 0.999), min_size=1, max_size=6, unique=True))
@settings(max_examples=200, deadline=None)
def test_percentile_disc_position_rule(values, qs):
    """group_quantiles' selection rule (element at max(1, ceil(q*n)))
    equals the cume_dist definition: the smallest value whose cumulative
    share reaches q."""
    s = sorted(values)
    n = len(s)
    for q in qs:
        pos = max(1, math.ceil(q * n))
        by_rule = s[pos - 1]
        by_def = next(v for i, v in enumerate(s, 1) if i / n >= q)
        assert by_rule == by_def


@given(st.integers(1, 10**9), st.integers(1, 10**9), st.integers(1, 15))
@settings(max_examples=300, deadline=None)
def test_zorder_bit_interleave_roundtrip(a, b, bits):
    """Morton key decodes back to the masked inputs, and ordering on the
    key groups nearby (a, b) cells."""
    def z(a, b, bits):
        out = 0
        for i in range(bits):
            out += ((a >> i) & 1) << (2 * i)
            out += ((b >> i) & 1) << (2 * i + 1)
        return out

    k = z(a, b, bits)
    mask = (1 << bits) - 1
    da = sum(((k >> (2 * i)) & 1) << i for i in range(bits))
    db = sum(((k >> (2 * i + 1)) & 1) << i for i in range(bits))
    assert da == (a & mask) and db == (b & mask)


@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=500),
       st.integers(16, 128))
@settings(max_examples=100, deadline=None)
def test_hll_register_math(values, m_raw):
    """The register/rank layout used by hll_distinct: bucket/remainder
    decompose the hash losslessly and rho is in [1, 55]."""
    m = 1 << (m_raw.bit_length() - 1)  # power of two
    log2m = m.bit_length() - 1
    for v in values:
        h = v % (1 << 60)
        bucket, w = h & (m - 1), h >> log2m
        assert (w << log2m) | bucket == h
        rho = 55 if w == 0 else 55 - w.bit_length()
        assert 1 <= rho <= 55


@given(st.lists(st.tuples(st.integers(0, 50), st.floats(-100, 100)),
                min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_pava_prox_is_isotonic_and_feasible(pairs):
    """prox_sorted_l1 output (on |v| sorted order) is non-increasing —
    the defining constraint of the sorted-L1 prox — for arbitrary
    lambda shapes including the cascade-inducing near-constant ones."""
    from golem_spark.prox import prox_sorted_l1

    v = np.array([x for _, x in pairs], dtype=np.float64)
    p = v.size
    lam = np.sort(np.abs(np.array([float(k) for k, _ in pairs])))[::-1]
    out = prox_sorted_l1(v, lam)
    order = np.argsort(-np.abs(v), kind="stable")
    mags = np.abs(out)[order]
    assert np.all(mags[:-1] >= mags[1:] - 1e-12)


def test_global_quantiles_matches_constant_group_and_empty(spark):
    """relational.global_quantiles (two-phase parallel rank) must equal
    the windowed group_quantiles run with a constant group, and handle
    empty input."""
    import pandas as pd
    from pyspark.sql import functions as F

    from golem_spark.operators.relational import (global_quantiles,
                                                  group_quantiles)

    import numpy as np
    rng = np.random.default_rng(3)
    vals = np.round(rng.uniform(0, 100, size=500), 2)  # with ties
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    qs = [0.1, 0.5, 0.9, 1.0]
    a = {r["q"]: r["value"] for r in
         global_quantiles(df.repartition(7), "v", qs).collect()}
    b = {r["q"]: r["value"] for r in
         group_quantiles(df.withColumn("__g", F.lit(1)), "__g", "v",
                         qs).collect()}
    assert a == b
    empty = global_quantiles(df.filter(F.col("v") < -1), "v", [0.5])
    assert empty.count() == 0


def test_triangle_count_known_graphs(spark):
    import pandas as pd

    from golem_spark.operators.graph import triangle_count

    # K4 (complete graph on 4 vertices): 6 edges, 4 triangles; edges
    # given in mixed orientation with duplicates to exercise dedup
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(pd.DataFrame(k4, columns=["src", "dst"]))
    r = triangle_count(df).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (6, 4)
    # a 4-cycle has 4 edges, no triangles
    cyc = [(0, 1), (1, 2), (2, 3), (3, 0)]
    df2 = spark.createDataFrame(pd.DataFrame(cyc, columns=["src", "dst"]))
    r2 = triangle_count(df2).collect()[0]
    assert (r2["n_edges"], r2["n_triangles"]) == (4, 0)


def test_triangle_half_fast_path_identical(spark):
    """triangle_count/node_triangle_counts(half=...) must reproduce the
    symmetric-edges path exactly: the half frame is the src < dst
    distinct edge set, which the edges path re-derives internally with
    least/greatest + DISTINCT. Random graph + duplicate/mirrored rows
    on the edges side to exercise the dedup the half path skips."""
    import random

    import pandas as pd

    from golem_spark.operators.graph import (node_triangle_counts,
                                             triangle_count)

    rng = random.Random(7)
    half_pairs = sorted({(a, b) for a, b in
                         ((rng.randrange(30), rng.randrange(30))
                          for _ in range(150)) if a < b})
    sym = half_pairs + [(b, a) for a, b in half_pairs] + half_pairs[:20]
    edges = spark.createDataFrame(pd.DataFrame(sym, columns=["src", "dst"]))
    half = spark.createDataFrame(
        pd.DataFrame(half_pairs, columns=["src", "dst"]))
    r_e = triangle_count(edges).collect()[0]
    r_h = triangle_count(half=half).collect()[0]
    assert tuple(r_e) == tuple(r_h)
    n_e = [tuple(r) for r in node_triangle_counts(edges, top_k=10).collect()]
    n_h = [tuple(r) for r in
           node_triangle_counts(half=half, top_k=10).collect()]
    assert n_e == n_h


def test_triangle_half_contract_checked_under_debug_switch(spark,
                                                           monkeypatch):
    """GOLEM_SPARK_DEBUG_CHECKS=1 makes a half= frame that breaks the
    strict src < dst contract (here a symmetric one, every edge in both
    directions) raise instead of silently double-counting wedges."""
    import pandas as pd
    import pytest

    from golem_spark.operators.graph import triangle_count

    tri = [(0, 1), (1, 2), (0, 2)]
    sym = spark.createDataFrame(pd.DataFrame(
        tri + [(b, a) for a, b in tri], columns=["src", "dst"]))
    monkeypatch.setenv("GOLEM_SPARK_DEBUG_CHECKS", "1")
    with pytest.raises(ValueError, match="3 rows with src >= dst"):
        triangle_count(half=sym).collect()


def test_triangle_wedges_bounded_at_hub(spark):
    """Degree-rank edge orientation must neutralize a hub: a 200-spoke
    star whose hub id sits MID-RANGE (the worst case for plain
    id-ordering, which would direct ~d/2 edges in and ~d/2 out through
    the hub and pay ~(d/2)^2 wedges) generates ZERO wedges, because
    the hub out-ranks every spoke and so has oriented out-degree 0.
    This is the graph shape (power-law hub) a real co-purchase or
    citation corpus contains at scale."""
    import pandas as pd

    from golem_spark.operators.graph import triangle_count

    hub = 100
    star = [(hub, i) for i in range(201) if i != hub]
    df = spark.createDataFrame(pd.DataFrame(star, columns=["src", "dst"]))
    r = triangle_count(df).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (200, 0)
    assert r["n_wedges"] == 0, \
        f"hub generated {r['n_wedges']} wedges — orientation not degree-ranked"
    # closing one pair of spokes creates exactly one triangle and only
    # wedge mass proportional to the closing edge, not the hub degree
    df3 = spark.createDataFrame(
        pd.DataFrame(star + [(0, 1)], columns=["src", "dst"]))
    r3 = triangle_count(df3).collect()[0]
    assert r3["n_triangles"] == 1
    assert r3["n_wedges"] <= 4, r3["n_wedges"]


@given(st.integers(1, 10**14), st.integers(0, 10**14))
@settings(max_examples=500, deadline=None)
def test_mix_corpus_split_division_identity(mass, target):
    """mix_corpus's overflow-safe ppm rate — two chained div/mod steps
    of 1000x — equals floor(1e6 * target / mass) exactly, while every
    intermediate stays <= 1000 * mass (no int64 wrap at 10^13+ token
    masses where the naive 1e6 multiply would overflow)."""
    target = min(target, mass)  # targets never exceed the source mass
    a = 1000 * target
    two_step = (a // mass) * 1000 + (1000 * (a % mass)) // mass
    assert two_step == (10**6 * target) // mass
    assert max(a, 1000 * (a % mass)) <= 1000 * mass
