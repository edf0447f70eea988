"""Round-2 hygiene gates: ANSI-safe fold hashing, integer-precision
as-of ordering, bounded executor-cache growth across repeated pipeline
calls."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_fold_hash_matches_numpy_under_ansi(spark):
    """train_owl_spark's fold column must equal fold_ids() bit-for-bit,
    including with ANSI mode ON (the raw 64-bit multiply would throw)."""
    from golem_spark.cv import fold_ids

    keys = np.array([0, 1, 7, 12345, 2**31 - 1, 2**31, 2**40 + 17,
                     2**52 + 3, 2**62 + 11], dtype=np.int64)
    want = {rep: fold_ids(keys.copy(), 10, rep) for rep in (0, 1, 3)}

    pdf = pd.DataFrame({"k": keys})
    df = spark.createDataFrame(pdf)
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        C, M32 = 2654435761, 4294967296
        c16 = (C << 16) % M32
        for rep in (0, 1, 3):
            k32 = F.pmod(F.pmod(F.col("k"), F.lit(M32))
                         + F.lit(rep * 1_000_003), F.lit(M32))
            k_lo = F.pmod(k32, F.lit(65536))
            k_hi = F.floor(k32 / F.lit(65536.0)).cast("long")
            h32 = F.pmod(k_hi * F.lit(c16) + k_lo * F.lit(C), F.lit(M32))
            fold = F.pmod(h32, F.lit(10))
            got = np.array([r["f"] for r in df.select(F.col("k"), fold.alias("f"))
                            .orderBy("k").collect()])  # keys are ascending
            np.testing.assert_array_equal(got, want[rep])
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_asof_join_preserves_nanosecond_order(spark):
    """Two right rows 1 ns apart near 2^60 must resolve correctly — a
    double cast collapses them (~256 ns granularity at epoch-nanos)."""
    from golem_spark.operators.relational import asof_join

    t0 = (1 << 60) + 123456789
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": [t0 + 1]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [t0, t0 + 1], "v": [10.0, 20.0]}))
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                    right_cols=["v"]).collect()
    # the row AT t0+1 (== left ts) wins, not the one 1 ns earlier
    assert out[0]["v_asof"] == 20.0

    left2 = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [t0]}))
    out2 = asof_join(left2, right, key="k", left_ts="ts", right_ts="ts",
                     right_cols=["v"]).collect()
    assert out2[0]["v_asof"] == 10.0


def test_pipeline_cache_growth_is_bounded(spark):
    """Repeated similarity calls must not accumulate persisted frames
    (the swap-slot pattern unpersists the previous call's cache)."""
    from golem_spark.session import load_tables
    from golem_spark.pipeline.similarity import (
        ann_lsh_topk, ann_ivf_topk, embedding_near_dup_pairs)

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    jsc = spark.sparkContext._jsc.sc()
    # one warm-up round establishes the operators' steady-state cache
    # slots; other operators run earlier in the session may hold their
    # own bounded slots, so assert NO GROWTH rather than a global count
    ann_lsh_topk(emb, query_ids=(0,), k=3).count()
    ann_ivf_topk(emb, query_ids=(0,), k=3, n_seeds=4).count()
    embedding_near_dup_pairs(emb, threshold=0.99).count()
    steady = jsc.getPersistentRDDs().size()
    for _ in range(3):
        ann_lsh_topk(emb, query_ids=(0,), k=3).count()
        ann_ivf_topk(emb, query_ids=(0,), k=3, n_seeds=4).count()
        embedding_near_dup_pairs(emb, threshold=0.99).count()
    n_cached = jsc.getPersistentRDDs().size()
    assert n_cached <= steady, \
        f"cache leak: {steady} -> {n_cached} persisted RDDs"


def test_pipeline_cache_sweeps_dead_threads(spark):
    """Frames persisted from short-lived worker threads (the per-call
    ThreadPoolExecutor pattern in cv.py) must be swept once their thread
    exits — otherwise each pool creation pins frames until SparkContext
    shutdown."""
    import threading

    from golem_spark.pipeline import _cache
    from golem_spark.session import load_tables
    from golem_spark.pipeline.similarity import ann_lsh_topk

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]

    def _work():
        ann_lsh_topk(emb, query_ids=(0,), k=3).count()

    for _ in range(3):
        t = threading.Thread(target=_work)
        t.start()
        t.join()

    dead_keys = [k for k in _cache._LIVE_CACHES
                 if k[1] not in {t.ident for t in threading.enumerate()}]
    # entries from the dead threads linger until the next swap...
    _work()  # ...which runs on this (live) thread and sweeps them
    live = {t.ident for t in threading.enumerate()}
    assert all(k[1] in live for k in _cache._LIVE_CACHES), \
        f"dead-thread cache entries not swept: {dead_keys}"


def test_pagerank_repeated_calls_release_snapshots(spark):
    """Each pagerank call's final persisted rank snapshot must be
    released by the next call — repeated graph queries must not
    accumulate persisted frames."""
    import threading

    from golem_spark.operators.graph import pagerank
    from golem_spark.pipeline import _cache

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        ["src", "dst"])
    for _ in range(3):
        pagerank(edges, iterations=3).count()
    key_slots = [k[0] for k in _cache._LIVE_CACHES
                 if k[1] == threading.get_ident()
                 and k[0].startswith("pagerank")]
    # one live frame per pagerank slot at most, regardless of call count
    assert len(key_slots) == len(set(key_slots))


def test_shared_caches_survive_concurrent_verifiers(spark):
    """Two concurrent verifier threads (the verify_oracle --jobs=2
    shape) racing the SAME first-build must (a) return identical
    results — no cross-contamination — and (b) leave exactly one
    shared build behind: re-running serially afterwards persists
    nothing new (a lost build race would pin an orphaned frame for the
    session lifetime)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    # covers every session_cached frame: the MinHash pairs / components
    # (p08 / p92) and the wide GLM context (wide stats + encoded frame +
    # gram_cache)
    names = ["p08_minhash_lsh_pairs", "p92_dup_cluster_stats",
             "glm_gaussian_wide_sparse", "glm_poisson_wide_sparse"]

    def run(name):
        return tuple(sorted(map(str, qs[name](spark, sf).collect())))

    # race each query against itself AND the others (8 concurrent jobs)
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = [(n, pool.submit(run, n), pool.submit(run, n))
                for n in names]
        results = {n: (a.result(), b.result()) for n, a, b in futs}
    for n, (a, b) in results.items():
        assert a == b, f"concurrent runs of {n} disagree"

    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    for n, (a, _) in results.items():
        assert run(n) == a, f"serial re-run of {n} disagrees"
    assert jsc.getPersistentRDDs().size() <= baseline, \
        "serial re-run after concurrent warm-up persisted new frames"


def test_session_cached_builds_each_key_once_under_contention():
    """session_cached under more threads than cores and a shortened
    switch interval: every key is built exactly once and every caller
    gets that one value; a build that calls the helper again (the
    components-from-pairs shape) does not deadlock; another session
    object gets its own build."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from golem_spark.session import session_cached

    session, other = object(), object()
    builds = []

    def build(tag):
        builds.append(tag)
        time.sleep(0.01)  # widen the check-then-build window
        return [tag]

    def outer():
        inner = session_cached(session, ("stress", "inner"),
                               lambda: build("inner"))
        return build("outer") + inner

    def call(i):
        if i % 2:
            return session_cached(session, ("stress", "outer"), outer)
        return session_cached(session, ("stress", "inner"),
                              lambda: build("inner"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futs = [pool.submit(call, i) for i in range(64)]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert sorted(builds) == ["inner", "outer"], builds
    assert len({id(v) for v in got[0::2]}) == 1
    assert len({id(v) for v in got[1::2]}) == 1
    assert got[1] == ["outer", "inner"]

    mine = session_cached(session, ("stress", "inner"), lambda: ["rebuilt"])
    theirs = session_cached(other, ("stress", "inner"), lambda: ["rebuilt"])
    assert mine == ["inner"] and theirs == ["rebuilt"]


def test_lsh_bucket_skew_bounded_on_adversarial_corpus(spark):
    """The load-bearing measurement behind the '100 TB-shaped dedup'
    claim (VERDICT r5 item 4 / r6 item 1): on a corpus engineered to
    concentrate LSH buckets — one dominant language, a single length
    bucket, identical boilerplate prefix in EVERY document (>=100x
    hotter than any organic token) — the (block, band, bkey) shuffle
    keys must still spread candidate generation:

    - candidate-pair work stays a few percent of the block-quadratic
      worst case (what blocking without band keys would pay);
    - the hottest single bucket holds only documents that genuinely
      share >=6/16 of their tokens (MinHash groups by real similarity,
      not key collision) and stays far below corpus size;
    - the join emits exactly the bucket-pair mass (no post-join blowup);
    - a boilerplate-free corpus of the same shape collapses to
      singleton buckets and ZERO candidates (the skew comes from real
      content overlap, not from the hashing).

    The fractions are n-invariant (measured 0.0265 / 0.136 at n=2000
    and 0.0263 / 0.1355 at n=4000), so the same bound holds at any
    corpus scale."""
    from golem_spark.pipeline.skewstress import (adversarial_documents,
                                                 lsh_bucket_stats)

    adv = lsh_bucket_stats(adversarial_documents(spark, 2000))
    assert adv["pair_fraction"] <= 0.05, adv
    assert adv["max_bucket_fraction"] <= 0.20, adv
    # the join's output is bounded by the bucket histogram's pair mass
    assert adv["candidate_pairs"] <= adv["bucket_pairs"], adv
    # keys spread: many buckets, not a handful of megabuckets
    assert adv["n_buckets"] >= adv["n_docs"], adv

    uni = lsh_bucket_stats(adversarial_documents(spark, 1000, n_boiler=0,
                                                 n_unique=16))
    assert uni["candidate_pairs"] == 0, uni
    assert uni["max_bucket"] == 1, uni


def test_ivf_cell_skew_learned_seeds_split_hot_cluster(spark):
    """The cell-bounded family (semantic_dedup p116 / hard_negatives
    p117) relies on bounded IVF cells the way LSH relies on bounded
    buckets — this is the adversarial measurement for THAT routing
    (VERDICT r7 item 5): a corpus with one dominant cluster (80% of
    vectors around one direction, which IS seed 0) concentrates ~80%
    of the corpus into one cell under first-n seeding, and the
    quadratic pair pass degrades toward block-quadratic (~0.65 of
    all-pairs). Learned k-means seeds (kmeans_seed_centroids, the
    documented production seeding) must SPLIT the hot cluster: max
    cell and pair mass drop by ~5x. Fractions are n-invariant
    (measured 0.804/0.649 -> 0.136/0.100 at n=2000 and
    0.8075/0.655 -> 0.133/0.099 at n=4000), so the same bound holds
    at any corpus scale."""
    from golem_spark.pipeline.similarity import (hard_negatives,
                                                 kmeans_seed_centroids,
                                                 semantic_dedup)
    from golem_spark.pipeline.skewstress import (adversarial_cell_embeddings,
                                                 ivf_cell_stats)

    vecs = adversarial_cell_embeddings(spark, 2000).persist()
    try:
        first = ivf_cell_stats(vecs, n_seeds=16)
        # the fixture genuinely defeats first-n seeding...
        assert first["max_cell_fraction"] >= 0.5, first
        learned = ivf_cell_stats(
            vecs, seed_centroids=kmeans_seed_centroids(vecs, n_seeds=16))
        # ...and learned seeds split the hot cell
        assert learned["max_cell_fraction"] <= 0.25, learned
        assert learned["pair_fraction"] <= 0.15, learned
        assert learned["cell_pairs"] <= first["cell_pairs"] * 0.25, \
            (first, learned)
        # the p116/p117 operators accept the learned quantizer directly
        C = kmeans_seed_centroids(vecs, n_seeds=16)
        hn = hard_negatives(vecs, k=2, seed_centroids=C)
        assert hn.count() > 0
        sd = semantic_dedup(vecs, threshold=0.95, seed_centroids=C)
        assert sd.count() == 2000
    finally:
        vecs.unpersist()


def test_embedding_bucket_skew_bounded_on_hot_cluster(spark):
    """Same measurement for the SRP-bucketed embedding near-dup join:
    90% of vectors share one direction (a hot SRP cell by design).
    Within-bucket pair work must stay ~6-7% of quadratic and the
    hottest bucket ~10% of the cloud — the noise component flips signs
    on low-|projection| planes, so even a single-direction cloud
    spreads across cells. Survivors of the 0.95 threshold are GENUINE
    near-duplicates by construction (two hot vectors have expected
    cosine ~0.96), so a large survivor count is correct output, not
    join blowup."""
    from golem_spark.pipeline.skewstress import (adversarial_embeddings,
                                                 embedding_bucket_stats)

    st = embedding_bucket_stats(adversarial_embeddings(spark, 2000))
    assert st["pair_fraction"] <= 0.12, st
    assert st["max_bucket_fraction"] <= 0.20, st
    assert st["n_buckets"] >= 16, st
    assert st["near_dup_pairs"] <= st["bucket_pairs"], st


def test_bpe_learner_scales_to_hundreds_of_merges(spark):
    """Tokenizer-training scale gate (VERDICT r8 item 1): the batched
    learner must run n_merges=256 at sf0.1 — the old one-merge-per-
    round loop both chained 256 lineage levels (measured superlinear
    Catalyst blowup by round ~13) and needed 256 driver rounds. Gates:
    (a) completes, (b) driver rounds strictly sublinear in merges,
    (c) EXACTLY equals the independent classic greedy reference at
    this scale (the corpus exhausts at its natural merge count, which
    the learner must hit, not overshoot)."""
    from golem_spark.pipeline import text as t
    from tests.test_pipeline import _classic_bpe

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    ref = _classic_bpe(texts, 256)
    stats = {}
    got = [tuple(r) for r in
           t.bpe_merges(docs, n_merges=256, _stats=stats)
           .orderBy("step").collect()]
    assert got == ref
    assert stats["merges"] == len(ref)
    assert stats["rounds"] < stats["merges"], stats
    # encode path with a >16-rule list (Arrow encode, not fold chain)
    enc = t.bpe_encode(docs.limit(200), n_merges=24)
    row = enc.agg(F.sum("n_subwords").alias("s"),
                  F.sum("n_chars").alias("c")).collect()[0]
    assert 0 < row["s"] <= row["c"]


def test_ivf_auto_seed_count_bounds_hot_cell_without_tuning(spark):
    """VERDICT r8 item 2: the learned quantizer must bound the hot
    cell WITHOUT anyone passing n_seeds — the default is now
    'auto' (sqrt-of-corpus, similarity.auto_n_seeds), so a caller at
    n=4k and n=16k gets a max_cell_fraction in the same band the
    hand-tuned 16-seed run achieved, and the seed count actually
    grows with the corpus."""
    from golem_spark.pipeline.similarity import (auto_n_seeds,
                                                 kmeans_seed_centroids)
    from golem_spark.pipeline.skewstress import (adversarial_cell_embeddings,
                                                 ivf_cell_stats)

    import warnings

    assert auto_n_seeds(100) == 16            # floor: demo corpora
    assert auto_n_seeds(4000) == 63
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert auto_n_seeds(10**10) == 16384  # broadcast-budget cap
    # beyond the cap the caller must know cells stop shrinking
    assert any("two-level" in str(w.message) for w in caught), caught
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert auto_n_seeds(16384**2) == 16384   # largest quiet corpus
    assert not caught, [str(w.message) for w in caught]

    stats = {}
    for n in (4000, 16000):
        vecs = adversarial_cell_embeddings(spark, n).persist()
        try:
            C = kmeans_seed_centroids(vecs)   # <- no n_seeds anywhere
            assert len(C) == auto_n_seeds(n)
            stats[n] = ivf_cell_stats(vecs, seed_centroids=C)
        finally:
            vecs.unpersist()
        assert stats[n]["max_cell_fraction"] <= 0.25, stats[n]
        assert stats[n]["pair_fraction"] <= 0.15, stats[n]
    # more corpus -> more cells, not bigger ones
    assert stats[16000]["n_cells"] > stats[4000]["n_cells"], stats


def test_lloyd_blockwise_matches_per_seed_reference():
    """ADVICE r9 (medium): the memory-bounded Lloyd's (blockwise argmax
    + np.add.at scatter) must produce the same centroids as the
    original per-seed mask-loop formulation — including across block
    boundaries and with empty cells that keep their previous seed."""
    import numpy as np

    from golem_spark.pipeline.similarity import _lloyd_spherical

    def reference(X, n_seeds, n_iter):
        C = X[:n_seeds].copy()
        for _ in range(n_iter):
            assign = np.argmax(X @ C.T, axis=1)
            for j in range(n_seeds):
                members = X[assign == j]
                if len(members):
                    c = members.sum(axis=0)
                    nrm = np.linalg.norm(c)
                    if nrm > 1e-12:
                        C[j] = c / nrm
        return C

    rng = np.random.default_rng(7)
    # 900 rows, block=256 -> 4 blocks with a ragged tail; duplicate a
    # hot direction so some of the 48 seeds end with empty cells
    X = rng.normal(size=(900, 12))
    X[:300] = X[0] + rng.normal(scale=1e-3, size=(300, 12))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    got = _lloyd_spherical(X.copy(), n_seeds=48, n_iter=8, block=256)
    want = reference(X.copy(), n_seeds=48, n_iter=8)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


def test_gate_refuses_disabled_glm_certificates(monkeypatch):
    """VERDICT r9 item 4: a stray SPARK_GRAFT_GLM_CERTIFICATES=0 (set
    by bench.py for timing windows) must make the correctness gate
    raise instead of silently recording fabricated kkt_ok=True rows —
    and a clean session must leave the gate with the flag pinned on."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "verify_oracle_guard_test",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "verify_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    monkeypatch.setenv("SPARK_GRAFT_GLM_CERTIFICATES", "0")
    import pytest

    with pytest.raises(AssertionError, match="correctness-gate"):
        mod.require_certificates()

    monkeypatch.delenv("SPARK_GRAFT_GLM_CERTIFICATES", raising=False)
    mod.require_certificates()
    assert os.environ["SPARK_GRAFT_GLM_CERTIFICATES"] == "1"


def test_library_reads_only_the_known_env_switches():
    """Every environment variable golem_spark reads is one of these
    four. A new switch must be added here on purpose, with a test that
    turns it on: a default-off switch that no test or benchmark sets
    is an untested code path."""
    import ast
    import pathlib

    def env_name(node):
        # os.environ.get("X"...), os.getenv("X"...), os.environ["X"]
        if (isinstance(node, ast.Call) and node.args and ast.unparse(
                node.func) in ("os.environ.get", "os.getenv")):
            return node.args[0]
        if (isinstance(node, ast.Subscript)
                and ast.unparse(node.value) == "os.environ"):
            return node.slice
        return None

    names = set()
    root = pathlib.Path(__file__).resolve().parent.parent / "golem_spark"
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            arg = env_name(node)
            if arg is not None:
                assert isinstance(arg, ast.Constant), \
                    f"{path}: env var name is not a literal"
                names.add(arg.value)
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                     "SPARK_GRAFT_GLM_CERTIFICATES",
                     "GOLEM_SPARK_DEBUG_CHECKS"}


def test_two_level_semdedup_subdivides_hot_cells(spark):
    """semantic_dedup_two_level is the documented scale path past the
    auto_n_seeds broadcast cap: on the adversarial clustered corpus
    the (cell, subcell) groups must be strictly finer than the coarse
    cells — hot-group size and the quadratic pair budget both drop —
    while keep semantics stay the SemDeDup contract (verified against
    the DuckDB oracle by the p124 gate; here we check the skew claim
    and that sub_k=1 degenerates to the one-level keep-list)."""
    from collections import Counter

    from golem_spark.pipeline.similarity import (semantic_dedup,
                                                 semantic_dedup_two_level)
    from golem_spark.pipeline.skewstress import adversarial_cell_embeddings

    vecs = adversarial_cell_embeddings(spark, 4000).persist()
    try:
        one = semantic_dedup(vecs, n_seeds=16, threshold=0.95).collect()
        two = semantic_dedup_two_level(vecs, n_seeds=16, sub_k=8,
                                       threshold=0.95).collect()
        deg = semantic_dedup_two_level(vecs, n_seeds=16, sub_k=1,
                                       threshold=0.95).collect()
    finally:
        vecs.unpersist()

    cells = Counter(r["cell"] for r in one)
    groups = Counter((r["cell"], r["subcell"]) for r in two)
    assert len(groups) > len(cells)
    assert max(groups.values()) < max(cells.values())
    pairs = lambda c: sum(v * (v - 1) // 2 for v in c.values())  # noqa: E731
    assert pairs(groups) < pairs(cells) / 2, (pairs(groups), pairs(cells))

    # sub_k=1 puts every cell member in subcell 1: exactly one-level
    assert ({r["vec_id"]: (r["cell"], r["keep"]) for r in deg}
            == {r["vec_id"]: (r["cell"], r["keep"]) for r in one})
    # two-level only ever MISSES boundary-straddling dup pairs: its
    # drop set is a subset of one-level's
    dropped_two = {r["vec_id"] for r in two if not r["keep"]}
    dropped_one = {r["vec_id"] for r in one if not r["keep"]}
    assert dropped_two <= dropped_one


def test_learned_sub_seeds_bound_hot_subcell(spark):
    """VERDICT r10 item 5: on a clustered cell the first-n sub-seed
    convention is the level-2 analogue of the first-n level-1 seeds —
    the pure hot-direction vector is the cluster MEAN, so as a
    sub-seed it out-cosines the jittered sub-seeds for most members
    and one subcell absorbs a quarter of the corpus. The learned
    per-cell mini-Lloyd sub-quantizer must bound the hot subcell
    (and the pair budget) strictly below the first-n profile, and
    both are recorded per round by tools/scale_audit.py."""
    from golem_spark.pipeline.skewstress import (adversarial_cell_embeddings,
                                                 two_level_subcell_stats)

    vecs = adversarial_cell_embeddings(spark, 4000).persist()
    try:
        first = two_level_subcell_stats(vecs, learned=False)
        learned = two_level_subcell_stats(vecs, learned=True)
    finally:
        vecs.unpersist()
    # measured on the deterministic fixture: first-n max_group 1033
    # (0.258 of corpus), learned 574 (0.144)
    assert learned["max_group"] < first["max_group"]
    assert learned["max_group_fraction"] < 0.2 < first["max_group_fraction"]
    assert learned["group_pairs"] < first["group_pairs"]


def test_zipfian_fixture_deterministic_and_zipf_shaped(spark):
    """The Zipfian BPE fixture must be reproducible (md5-derived token
    draws — same corpus every call, so recorded batch factors are
    comparable across rounds) and actually Zipf-shaped (top word ~5%
    of tokens, head dominates the tail)."""
    from collections import Counter

    from golem_spark.pipeline.skewstress import (zipfian_documents,
                                                 zipfian_vocabulary)

    a = zipfian_documents(spark, n_docs=50, words_per_doc=40,
                          vocab_size=500).collect()
    b = zipfian_documents(spark, n_docs=50, words_per_doc=40,
                          vocab_size=500).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    toks = Counter(w for r in a for w in r["text"].split())
    total = sum(toks.values())
    top = toks.most_common(10)
    assert top[0][0] in ("the", "of", "and")
    assert 0.02 <= top[0][1] / total <= 0.10
    # head-heaviness: top-10 words cover well over a uniform share
    assert sum(c for _, c in top) / total > 0.15
    # vocabulary words are learner-compatible (alnum only)
    assert all(w.isalnum() for w, _ in zipfian_vocabulary(300))
