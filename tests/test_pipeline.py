"""Pipeline operators: dedup finds planted duplicates, similarity finds
planted neighbors, text metrics behave, multimodal plumbing round-trips."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from golem_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1", 44),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en", "s2", 44),  # near dup of 0
        (3, "der schnelle braune fuchs springt", "de", "s0", 33),
        (4, "completely different content about spark sql engines", "en", "s3", 52),
        (5, "la zorra marron rapida salta sobre el perro", "es", "s1", 43),
        (6, "the quick brown fox jumps over the lazy dog", "en", "s4", 44),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_finds_planted(docs):
    groups = dedup.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3
    assert groups[0]["min_doc_id"] == 0


def test_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in pairs               # near dup (one word changed)
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs           # different content


def test_minhash_lsh_recovers_exact_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared_bands"]
             for r in dedup.minhash_lsh_pairs(docs).collect()}
    # identical docs share all 4 bands
    assert pairs[(0, 1)] == 4
    assert pairs[(1, 6)] == 4


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[6]       # identical text -> identical fingerprint
    ham02 = bin(sh[0] ^ sh[2]).count("1")
    ham04 = bin(sh[0] ^ sh[4]).count("1")
    assert ham02 <= ham04                # near dup closer than unrelated


def test_text_metrics(docs):
    out = {r["doc_id"]: r for r in text.token_count(docs).collect()}
    assert out[0]["n_tokens"] == 9
    q = {r["doc_id"]: r for r in text.quality_score(docs).collect()}
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["q_stop_ratio"] > 0      # 'the' appears twice
    lang = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[3] == "de"
    fp = {r["doc_id"]: r["fingerprint"] for r in text.doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1]                # content-identical
    assert fp[0] != fp[2]                # order/content sensitive


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near dup of 0
    rows = [(int(i), [float(v) for v in base[i]], int(i % 3)) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_finds_planted_neighbor(vecs):
    top = similarity.cosine_topk(vecs, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 1
    assert top[0]["cos"] > 0.99


def test_ann_lsh_contains_near_neighbor(vecs):
    out = similarity.ann_lsh_topk(vecs, query_ids=(0,), k=5, n_planes=3).collect()
    ids = [r["vec_id"] for r in out]
    assert 1 in ids  # near-identical vector lands in the same bucket


def test_embedding_near_dup(vecs):
    pairs = similarity.embedding_near_dup_pairs(vecs, threshold=0.95, n_planes=3).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1 for r in pairs)


def test_ann_ivf_contains_near_neighbor(vecs):
    """The planted near-dup of vector 0 shares vector 0's nearest-seed
    cell (cos(0,1) ~ 1 so their seed rankings agree), so probing the
    query's own cell must surface it."""
    out = similarity.ann_ivf_topk(vecs, query_ids=(0,), k=5,
                                  n_seeds=4, n_probe=2).collect()
    ids = [r["vec_id"] for r in out]
    assert 1 in ids
    assert len(ids) == len(set(ids)) <= 5
    # every result carries a valid cosine
    assert all(-1.0 - 1e-9 <= r["cos"] <= 1.0 + 1e-9 for r in out)


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.extract_features(media)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 7
    assert rows[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert rows[0]["byte_entropy"] > 0
    assert len(rows[0]["feat"]) == 8
    # identical payloads -> identical features (deterministic)
    assert rows[0]["feat"] == rows[1]["feat"]
    # real decode is explicitly stubbed
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"x", "image/png")
    plan = multimodal.frame_sample_plan(media.limit(2))
    assert plan.count() > 0


def test_feature_extract_prunes_blob_column(spark, docs):
    out = multimodal.extract_features(multimodal.attach_fake_media(docs))
    assert "payload" not in out.columns


def test_registered_codec_drives_real_decode_path(spark, docs):
    """Codec plug point (VERDICT r4 item 10): a registered codec flows
    through decode_media AND the distributed decoded_features
    mapInPandas path; unregistering restores the honest stub."""
    import numpy as np

    def codec(payload, meta):
        # deterministic "decoder": bytes -> scaled float array
        return np.frombuffer(payload, dtype=np.uint8).astype(np.float32) / 255.0

    multimodal.register_codec("image/", codec)
    multimodal.register_codec("audio/", codec)
    try:
        # driver-side decode resolves via longest prefix
        arr = multimodal.decode_media(b"abc", "image/png")
        np.testing.assert_allclose(arr, np.array([97, 98, 99]) / 255.0,
                                   rtol=1e-6)
        # distributed path: every row decoded inside the Arrow pass
        media = multimodal.attach_fake_media(docs)
        out = {r["doc_id"]: r for r in
               multimodal.decoded_features(media).collect()}
        assert len(out) == 7
        payload = "the quick brown fox jumps over the lazy dog".encode()
        expect = codec(payload, {}).astype(np.float64)
        np.testing.assert_allclose(out[0]["feat"][0], expect.mean(),
                                   rtol=1e-6)
        np.testing.assert_allclose(out[0]["feat"][1], expect.std(),
                                   rtol=1e-6)
        assert len(out[0]["feat"]) == 8
        # identical payloads -> identical decoded features
        assert out[0]["feat"] == out[1]["feat"]
    finally:
        multimodal.unregister_codec("image/")
        multimodal.unregister_codec("audio/")
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"x", "image/png")
    with pytest.raises(Exception):
        multimodal.decoded_features(
            multimodal.attach_fake_media(docs)).collect()


def test_ivf_kmeans_seeds_beat_first_n_on_clustered_data(spark):
    """Learned IVF seeds (driver-sample spherical k-means) must beat the
    first-n-vectors seeding on clustered embeddings when queries are NOT
    part of the seed prefix — the realistic ANN setting. (On uniform
    data the first-n fixture wins trivially because each query IS a
    seed, which is why it stays the oracle variant only.)"""
    import numpy as np
    import pandas as pd

    from golem_spark.pipeline import similarity as sim

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 32)) * 3
    X = np.vstack([c + rng.standard_normal((250, 32)) for c in centers])
    X = X[rng.permutation(len(X))]
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(len(X)),
        "embedding": [list(map(float, v)) for v in X]})).cache()
    df.count()

    qids = tuple(range(100, 108))
    k = 10
    truth = {q: {r["vec_id"] for r in
                 sim.cosine_topk(df, query_vec_id=q, k=k).collect()}
             for q in qids}

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return float(np.mean([len(got.get(q, set()) & truth[q]) / k
                              for q in qids]))

    r_first = recall(sim.ann_ivf_topk(df, query_ids=qids, k=k,
                                      n_seeds=16, n_probe=2))
    C = sim.kmeans_seed_centroids(df, n_seeds=16, sample_n=1024)
    assert C.shape == (16, 32)
    r_kmeans = recall(sim.ann_ivf_topk(df, query_ids=qids, k=k, n_seeds=16,
                                       n_probe=2, seed_centroids=C))
    df.unpersist()
    assert r_kmeans > r_first, (r_kmeans, r_first)
    assert r_kmeans >= 0.95


def test_dup_components_chain_and_cliques(spark):
    """Pointer-jumping min-label propagation: a 40-node chain (worst
    case for plain propagation) and two separate cliques resolve to
    per-component minima in O(log n) rounds."""
    import pandas as pd

    from golem_spark.pipeline.dedup import dup_components

    chain = [(i, i + 1) for i in range(100, 140)]          # one long chain
    cliq1 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    cliq2 = [(200, 201), (201, 202), (200, 202)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain + cliq1 + cliq2, columns=["doc_a", "doc_b"]))
    # driver_max_edges=0 forces the distributed pointer-jumping path
    out = {r["doc_id"]: r["rep"]
           for r in dup_components(pairs, driver_max_edges=0).collect()}
    assert all(out[i] == 100 for i in range(100, 141))
    assert all(out[i] == 10 for i in range(10, 14))
    assert all(out[i] == 200 for i in (200, 201, 202))
    # the driver union-find endgame (default for small edge sets)
    # produces the identical labeling
    out_drv = {r["doc_id"]: r["rep"] for r in dup_components(pairs).collect()}
    assert out_drv == out


def test_dup_components_durable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir= switches the per-round label snapshots from
    localCheckpoint to reliable checkpoint() (VERDICT r8 item 5 — the
    executor-loss-safe mode for real clusters): identical labels, and
    the snapshots actually land in the directory."""
    import os

    import pandas as pd

    from golem_spark.pipeline.dedup import dup_components

    chain = [(i, i + 1) for i in range(100, 140)]
    cliq = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain + cliq, columns=["doc_a", "doc_b"]))
    ckpt = str(tmp_path / "cc_ckpt")
    # base first: a LATER call releases the durable call's parked
    # snapshot (and its files — see test_dup_components_checkpoint_hygiene)
    base = {r["doc_id"]: r["rep"]
            for r in dup_components(pairs, driver_max_edges=0).collect()}
    out = {r["doc_id"]: r["rep"]
           for r in dup_components(pairs, driver_max_edges=0,
                                   checkpoint_dir=ckpt).collect()}
    assert out == base
    assert all(out[i] == 100 for i in range(100, 141))
    # the fixed point's reliable checkpoint is on disk under the dir
    written = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt)
               for f in fs]
    assert written, "no reliable checkpoint files under checkpoint_dir"


def test_dup_components_checkpoint_hygiene(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 7 + ADVICE r9: reliable checkpoints must not
    accumulate — after every round's prune at most 2 label snapshots
    exist (current + predecessor; the k-th write itself lands before
    k-2 is deleted), the fixed point keeps exactly 1, the context's
    global checkpoint dir is restored on return, and the NEXT call
    deletes the previous call's whole private subdir."""
    import os

    import pandas as pd

    from golem_spark.pipeline import dedup

    ckpt = str(tmp_path / "cc_ckpt")

    def count_rdd_dirs():
        return sum(1 for dp, dns, _ in os.walk(ckpt)
                   for d in dns if d.startswith("rdd-"))

    observed = []
    real = dedup._prune_reliable_checkpoints

    def spy(sc, dir_str, keep):
        real(sc, dir_str, keep)
        observed.append(count_rdd_dirs())

    monkeypatch.setattr(dedup, "_prune_reliable_checkpoints", spy)

    chain = [(i, i + 1) for i in range(100, 140)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain, columns=["doc_a", "doc_b"]))
    out = {r["doc_id"]: r["rep"]
           for r in dedup.dup_components(pairs, driver_max_edges=0,
                                         checkpoint_dir=ckpt).collect()}
    assert all(rep == 100 for rep in out.values())
    assert len(observed) >= 4, "expected a multi-round run"
    assert max(observed) <= 2, observed
    assert count_rdd_dirs() == 1          # fixed point only

    # the global side effect is undone: later checkpoint() callers do
    # not silently inherit this call's directory
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert (not opt.isDefined()) or ckpt not in opt.get()

    # a second call drops the parked final frame AND its subdir
    dedup.dup_components(pairs, driver_max_edges=0,
                         checkpoint_dir=ckpt).collect()
    assert count_rdd_dirs() == 1, "previous call's snapshots leaked"


def test_dup_components_previous_result_survives_next_call(spark, tmp_path):
    """ADVICE r10: a caller may hold the FIRST durable-checkpoint
    result across a SECOND dup_components call and act on it
    afterwards — release of the first call's private subdir is
    weakref-gated on the returned frame, so the files must still be
    there (the old unconditional delete made this pattern fail with
    missing-checkpoint-file errors). Once the first result is dropped,
    the deferred release actually fires."""
    import gc
    import os

    import pandas as pd

    from golem_spark.pipeline import dedup

    chain = [(i, i + 1) for i in range(100, 124)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain, columns=["doc_a", "doc_b"]))
    ckpt1, ckpt2 = str(tmp_path / "cc1"), str(tmp_path / "cc2")

    def rdd_dirs(root):
        return sum(1 for dp, dns, _ in os.walk(root)
                   for d in dns if d.startswith("rdd-"))

    first = dedup.dup_components(pairs, driver_max_edges=0,
                                 checkpoint_dir=ckpt1)
    dedup.dup_components(pairs, driver_max_edges=0,
                         checkpoint_dir=ckpt2).collect()
    assert rdd_dirs(ckpt1) == 1, "held result's snapshot was deleted"
    out = {r["doc_id"]: r["rep"] for r in first.collect()}  # still usable
    assert all(rep == 100 for rep in out.values())
    del first, out
    gc.collect()
    dedup._gc_cc_snapshots()  # deferred release fires once dropped
    assert rdd_dirs(ckpt1) == 0, "dropped result's snapshot leaked"


def test_dup_components_restore_is_user_facing_dir(spark, tmp_path):
    """ADVICE r10: restoring the RESOLVED <dir>/<uuid> child would
    nest later checkpoint() callers one UUID deeper per call; the
    restore must strip back to the user-facing directory, so the
    post-call dir is a direct child of the original argument."""
    import pandas as pd

    from golem_spark.pipeline import dedup

    sc = spark.sparkContext
    user_dir = str(tmp_path / "user_ckpt")
    sc.setCheckpointDir(user_dir)
    resolved_before = sc._jsc.sc().getCheckpointDir().get()
    try:
        chain = [(i, i + 1) for i in range(100, 116)]
        pairs = spark.createDataFrame(
            pd.DataFrame(chain, columns=["doc_a", "doc_b"]))
        dedup.dup_components(pairs, driver_max_edges=0,
                             checkpoint_dir=str(tmp_path / "cc")).collect()
        resolved_after = sc._jsc.sc().getCheckpointDir().get()
        # direct child of user_dir (a sibling uuid), NOT nested under
        # the previous resolved child
        assert not resolved_after.startswith(resolved_before.rstrip("/")
                                             + "/")
        import os
        parent = os.path.dirname(resolved_after.rstrip("/"))
        assert parent.endswith("user_ckpt")
    finally:
        try:
            sc._jsc.sc().setCheckpointDir(None)
        except Exception:  # noqa: BLE001
            pass

    # the strip helper itself
    strip = dedup._user_ckpt_dir
    assert strip(None) is None
    u = "01234567-89ab-cdef-0123-456789abcdef"
    assert strip(f"/data/ck/{u}") == "/data/ck"
    assert strip(f"hdfs://nn/ck/{u}/") == "hdfs://nn/ck"
    assert strip("/data/ck/not-a-uuid") == "/data/ck/not-a-uuid"


def test_dup_components_concurrent_durable_calls(spark, tmp_path):
    """ADVICE r10: concurrent dup_components(checkpoint_dir=...) calls
    serialize on the module lock instead of redirecting each other's
    round snapshots into a subdir the other call's pruner owns. Both
    must finish with correct labels and no missing-file errors."""
    import threading

    import pandas as pd

    from golem_spark.pipeline.dedup import dup_components

    chain = [(i, i + 1) for i in range(100, 116)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain, columns=["doc_a", "doc_b"]))
    results, errors = {}, []

    def run(tag):
        try:
            out = dup_components(pairs, driver_max_edges=0,
                                 checkpoint_dir=str(tmp_path / tag))
            results[tag] = {r["doc_id"]: r["rep"] for r in out.collect()}
        except Exception as exc:  # noqa: BLE001
            errors.append((tag, exc))

    ts = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    for tag in ("a", "b"):
        assert all(rep == 100 for rep in results[tag].values())


def test_two_level_auto_suppresses_cap_warning(spark, monkeypatch):
    """ADVICE r10: semantic_dedup_two_level IS the remedy the
    auto_n_seeds cap warning recommends, so its own auto resolution
    must not fire that warning (self-referential noise on the
    documented scale path). The warning still fires for flat callers."""
    import warnings

    from golem_spark.pipeline import similarity

    # unit level: warn_cap toggles the RuntimeWarning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert similarity.auto_n_seeds(10**10, cap=16,
                                       warn_cap=False) == 16
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        similarity.auto_n_seeds(10**10, cap=16)
    assert any(issubclass(w.category, RuntimeWarning) for w in rec)

    # integration: the two-level path resolves with warn_cap=False
    seen = []
    real = similarity._resolve_n_seeds

    def spy(df, n_seeds, warn_cap=True):
        seen.append((n_seeds, warn_cap))
        return real(df, n_seeds, warn_cap=warn_cap)

    monkeypatch.setattr(similarity, "_resolve_n_seeds", spy)
    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(64)
    similarity.semantic_dedup_two_level(vecs, n_seeds="auto",
                                        sub_k=2).collect()
    # the 'auto' resolution (the only one that can warn) ran with the
    # cap warning suppressed; int pass-throughs never warn
    autos = [wc for (ns, wc) in seen if ns == "auto"]
    assert autos and all(wc is False for wc in autos)


def test_dup_components_nonconvergence_raises(spark):
    import pandas as pd

    import pytest

    from golem_spark.pipeline.dedup import dup_components

    chain = [(i, i + 1) for i in range(1000, 1064)]
    pairs = spark.createDataFrame(
        pd.DataFrame(chain, columns=["doc_a", "doc_b"]))
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_components(pairs, max_iter=2, driver_max_edges=0)


def test_tfidf_feeds_sparse_owl(spark):
    """The tf-idf (idx, val) arrays drive a sparse GLM fit end-to-end:
    documents -> tfidf_vectors -> owl(sparse_features=...) — the
    text-pipeline-to-model bridge."""
    import numpy as np
    from pyspark.sql import functions as F

    from golem_spark.path import owl
    from golem_spark.pipeline.text import tfidf_vectors
    from golem_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    vec = tfidf_vectors(docs)
    p = int(vec.select(F.explode("idx").alias("i")).agg(F.max("i")).collect()[0][0]) + 1
    data = vec.join(docs.select("doc_id", F.length("text").alias("label")), "doc_id")
    fit = owl(df=data, sparse_features=("idx", "val"), sparse_p=p,
              label_col="label", family="gaussian", n_sigma=3)
    assert fit.coefficients.shape[0] == p + 1
    assert np.isfinite(fit.deviance_ratio).all()
    assert fit.deviance_ratio[-1] > 0  # tf-idf explains some length variance


def test_hash_sample_deterministic_and_partition_invariant(spark):
    """Same rows kept across reruns AND across repartitionings — the
    reproducibility property df.sample lacks."""
    from golem_spark.pipeline.text import tokens_col  # noqa: F401
    from golem_spark.operators.relational import hash_sample
    from golem_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    a = sorted(r["doc_id"] for r in
               hash_sample(docs, "doc_id", 0.3, seed=1).select("doc_id").collect())
    b = sorted(r["doc_id"] for r in
               hash_sample(docs.repartition(7), "doc_id", 0.3, seed=1)
               .select("doc_id").collect())
    assert a == b and 0 < len(a) < docs.count()
    c = sorted(r["doc_id"] for r in
               hash_sample(docs, "doc_id", 0.3, seed=2).select("doc_id").collect())
    assert a != c  # seed changes the subset


def test_stratified_hash_sample_matches_per_stratum(spark):
    """Union of per-stratum hash samples == stratified sample; unlisted
    strata dropped."""
    from golem_spark.operators.relational import (hash_sample,
                                                  stratified_hash_sample)
    from golem_spark.session import load_tables
    from pyspark.sql import functions as F

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    frac = {"en": 0.5, "de": 0.2}
    strat = stratified_hash_sample(docs, "doc_id", "lang", frac, seed=3)
    got = sorted(r["doc_id"] for r in strat.select("doc_id").collect())
    want = []
    for lang, fr in frac.items():
        sub = hash_sample(docs.filter(F.col("lang") == lang), "doc_id", fr, seed=3)
        want += [r["doc_id"] for r in sub.select("doc_id").collect()]
    assert got == sorted(want)
    assert strat.filter(~F.col("lang").isin(*frac)).count() == 0


def test_knn_join_is_exact_ground_truth(spark):
    """knn_join equals per-query cosine_topk (the exact baseline the
    ANN operators approximate), in one batched plan."""
    from golem_spark.pipeline import similarity as sim
    from golem_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    qids = (0, 1, 2)
    k = 5
    batched = {}
    for r in sim.knn_join(emb, query_ids=qids, k=k).collect():
        batched.setdefault(r["query_id"], []).append((r["vec_id"], r["cos"]))
    for q in qids:
        single = [(r["vec_id"], r["cos"])
                  for r in sim.cosine_topk(emb, query_vec_id=q, k=k).collect()]
        assert batched[q] == single


def test_knn_join_plan_gate(spark):
    """Broadcast query side + partial top-k (WindowGroupLimit) before
    the per-query shuffle — the shuffle never carries the corpus."""
    from golem_spark.pipeline import similarity as sim
    from golem_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    plan = (sim.knn_join(emb, query_ids=(0, 1, 2), k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


# -- round-4 operators: repetition, vocab, index, keep-list, contamination,
#    quantization, random projection --------------------------------------

def test_repetition_stats(spark):
    rows = [(0, "spam spam spam spam", "en", "s0", 19),
            (1, "all words are unique here", "en", "s0", 25)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[0]["dup_token_frac"] == 0.75      # 4 tokens, 1 distinct
    assert out[0]["top_bigram_frac"] == 1.0      # "spam spam" is every bigram
    assert round(out[0]["dup_bigram_frac"], 4) == round(2 / 3, 4)
    assert out[1]["dup_token_frac"] == 0.0
    assert out[1]["dup_bigram_frac"] == 0.0
    assert out[1]["top_bigram_frac"] == 0.25     # 4 bigrams, each once


def test_bigram_vocab(docs):
    top = text.bigram_vocab(docs, top_k=10).collect()
    counts = {r["bigram"]: r["n"] for r in top}
    # "the quick" opens docs 0, 1, 2, 6
    assert counts["the quick"] == 4
    # ordered by count desc then bigram asc
    ns = [r["n"] for r in top]
    assert ns == sorted(ns, reverse=True)


def test_inverted_index(docs):
    idx = {r["tok"]: r for r in text.inverted_index(docs).collect()}
    assert idx["the"]["df"] == 4
    assert idx["the"]["postings"] == "0,1,2,6"
    capped = {r["tok"]: r for r in text.inverted_index(docs, max_postings=2).collect()}
    assert capped["the"]["df"] == 4              # df unaffected by the cap
    assert capped["the"]["postings"] == "0,1"    # first 2 doc ids only


def test_dedup_keep_list(docs):
    out = dedup.dedup_keep_list(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    # identical docs 0/1/6 tie on quality -> smallest doc_id kept
    assert by_id[0]["keep"] is True
    assert by_id[1]["keep"] is False and by_id[6]["keep"] is False
    # exactly one keeper per component
    reps = {}
    for r in out:
        reps.setdefault(r["rep"], 0)
        reps[r["rep"]] += int(r["keep"])
    assert all(v == 1 for v in reps.values())


def test_contamination_check(spark, docs):
    probe = docs.filter(F.col("doc_id") == 0)
    out = {(r["doc_id"], r["probe_id"]): r["overlap"]
           for r in dedup.contamination_check(docs, probe, n=3,
                                              min_overlap=0.5).collect()}
    assert out[(1, 0)] == 1.0                    # exact dup fully contaminated
    assert out[(6, 0)] == 1.0
    assert (4, 0) not in out                     # unrelated doc clean
    # near dup (one word changed) exceeds 0.5 but is below 1.0
    assert 0.5 <= out[(2, 0)] < 1.0


def test_quantize_embeddings(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.0]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    assert abs(out[0]["scale"] - 1.0 / 127.0) < 1e-6
    # q = [127, -63, 0] (floor(-63.5 + .5) = -63)
    assert out[0]["q_l1"] == 190
    # per-element reconstruction error bounded by scale/2
    assert out[0]["rmse"] <= out[0]["scale"] / 2 + 1e-9
    assert out[1]["q_l1"] == 0 and out[1]["rmse"] == 0.0


def test_srp_project_linearity(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    v = rng.standard_normal(64).astype(np.float32)
    df = spark.createDataFrame(
        [(0, [float(x) for x in v]), (1, [float(2 * x) for x in v])],
        "vec_id long, embedding array<float>")
    out = similarity.srp_project(df, out_dim=16).collect()
    p0 = {r["dim"]: r["proj"] for r in out if r["vec_id"] == 0}
    p1 = {r["dim"]: r["proj"] for r in out if r["vec_id"] == 1}
    assert len(p0) == 16 and len(p1) == 16
    for d in range(16):
        assert abs(p1[d] - 2 * p0[d]) < 1e-3     # projection is linear


def test_rollup_agg_levels_and_grand_total(spark):
    """Rollup emits per-group rows, per-prefix subtotals, and one grand
    total; grouping() relabels subtotal slots without touching data."""
    from golem_spark.operators.relational import rollup_agg

    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 2.0), ("y", "p", 4.0)], ["a", "b", "v"])
    out = rollup_agg(df, ["a", "b"], [F.sum("v").alias("s")])
    rows = {(r["a"], r["b"]): r["s"] for r in out.collect()}
    assert rows[("(all)", "(all)")] == 7.0
    assert rows[("x", "(all)")] == 3.0
    assert rows[("x", "p")] == 1.0
    assert len(rows) == 6


def test_running_totals_sequential(spark):
    from golem_spark.operators.relational import running_totals

    df = spark.createDataFrame(
        [(1, 10, 2.0), (1, 20, 3.0), (1, 15, 1.0), (2, 5, 9.0)],
        ["k", "t", "v"])
    out = running_totals(df, "k", ["t"], "v")
    got = {(r["k"], r["t"]): (r["run_n"], r["run_sum"]) for r in out.collect()}
    assert got[(1, 10)] == (1, 2.0)
    assert got[(1, 15)] == (2, 3.0)
    assert got[(1, 20)] == (3, 6.0)
    assert got[(2, 5)] == (1, 9.0)


def test_group_quantiles_exact_positions(spark):
    """percentile_disc semantics: element at max(1, ceil(q*n))."""
    import pytest as _pytest

    from golem_spark.operators.relational import group_quantiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)], ["grp", "v"])
    out = group_quantiles(df, "grp", "v", [0.1, 0.25, 0.5, 0.91, 1.0])
    got = {r["q"]: r["value"] for r in out.collect()}
    assert got == {0.1: 1.0, 0.25: 3.0, 0.5: 5.0, 0.91: 10.0, 1.0: 10.0}
    with _pytest.raises(ValueError):
        group_quantiles(df, "grp", "v", [0.0])


def test_split_assign_deterministic_partition_invariant(spark):
    import pytest as _pytest

    from golem_spark.operators.relational import split_assign
    from golem_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    a = sorted((r["doc_id"], r["split"])
               for r in split_assign(docs, "doc_id", seed=7).collect())
    b = sorted((r["doc_id"], r["split"])
               for r in split_assign(docs.repartition(5), "doc_id",
                                     seed=7).collect())
    assert a == b
    counts = {}
    for _, s in a:
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]
    with _pytest.raises(ValueError):
        split_assign(docs, "doc_id", [("a", 0.5), ("b", 0.6)])


def test_bigram_lm_favors_in_distribution(spark):
    """Docs made of corpus-frequent bigrams must score higher than a
    doc of unseen bigrams; single-token docs drop out (no bigrams)."""
    from golem_spark.pipeline.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a b"), (3, "x q"), (4, "only")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}
    assert 4 not in rows
    assert rows[1]["n_bigrams"] == 5 and rows[2]["n_bigrams"] == 3
    assert rows[1]["avg_logp"] > rows[3]["avg_logp"]


def test_group_zscore_properties(spark):
    from golem_spark.pipeline.text import group_zscore

    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4)] + [("h", 7.0)],
        ["lang", "n_chars"])
    rows = group_zscore(df, "lang", "n_chars").collect()
    zs = sorted(r["z"] for r in rows if r["lang"] == "g")
    assert abs(sum(zs)) < 1e-9
    assert abs(zs[0] + zs[-1]) < 1e-9
    # singleton group: sd undefined -> z = 0
    assert [r["z"] for r in rows if r["lang"] == "h"] == [0.0]


def test_histogram_bins_and_clipping(spark):
    import pytest as _pytest

    from golem_spark.operators.relational import histogram

    df = spark.createDataFrame(
        [(v,) for v in (-5.0, 0.0, 10.0, 24.9, 25.0, 1000.0)], ["value"])
    rows = {r["bin"]: r for r in
            histogram(df, "value", lo=0.0, width=25.0, n_bins=4).collect()}
    assert rows[0]["n"] == 4  # -5 clipped into bin 0
    assert rows[1]["n"] == 1 and rows[3]["n"] == 1  # 1000 clipped to last
    assert rows[1]["bin_lo"] == 25.0


def test_sparse_cosine_pairs_identical_docs(spark):
    from golem_spark.pipeline.text import sparse_cosine_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta"), (4, "unrelated words here")],
        ["doc_id", "text"])
    rows = {(r["doc_a"], r["doc_b"]): r["cos"] for r in
            sparse_cosine_pairs(df, threshold=0.9, max_df_frac=0.9).collect()}
    assert rows == {(1, 2): 1.0}


def test_token_entropy_bounds(spark):
    """Uniform tokens maximize entropy (ln V); constant tokens give 0."""
    import math

    from golem_spark.pipeline.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a"), (3, "a a b b")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert abs(rows[1]["entropy"] - math.log(4)) < 1e-6
    assert rows[2]["entropy"] == 0.0
    assert abs(rows[3]["entropy"] - math.log(2)) < 1e-6


def test_percentile_rank_range(spark):
    from golem_spark.operators.relational import percentile_rank

    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 5)], ["grp", "id", "v"])
    rows = sorted(r["pct_rank"] for r in
                  percentile_rank(df, "grp", ["v", "id"]).collect())
    assert rows == [0.25, 0.5, 0.75, 1.0]


def test_bigram_pmi_finds_collocation(spark):
    """A pair that always co-occurs scores higher PMI than independent
    pairs."""
    from golem_spark.pipeline.text import bigram_pmi

    rows = [(i, "hong kong " + ("a b c d e " * 3)) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bigram_pmi(df, top_k=5, min_count=3).collect()
    assert out[0]["bigram"] == "hong kong"
    assert all(out[0]["pmi"] >= r["pmi"] for r in out)


def test_quota_sample_exact_counts_and_determinism(spark):
    from golem_spark.operators.relational import quota_sample
    from golem_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    out = quota_sample(docs, "doc_id", "lang", k=3, seed=2)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(3, sizes[lang])
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               quota_sample(docs.repartition(7), "doc_id", "lang",
                            k=3, seed=2).collect())
    assert a == b


def test_pagerank_sums_to_one_and_converges_toward_degree(spark):
    from golem_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (4, 1)], ["src", "dst"])
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iterations=5).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[1] == max(pr.values())  # hub node
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_pagerank_outlinks_carry_no_broadcast_hint(spark):
    """The degree side is node-sized: forcing its broadcast fails once a
    graph has billions of nodes, so the join leaves the choice to AQE."""
    from golem_spark.operators.graph import _pagerank_outlinks

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (4, 1)], "src long, dst long")
    outlinks = _pagerank_outlinks(edges)
    analyzed = outlinks._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "broadcast" not in analyzed.lower()
    assert sorted(tuple(r) for r in outlinks.collect()) == [
        (1, 2, 2), (1, 3, 2), (2, 1, 1), (3, 1, 1), (4, 1, 1)]


def test_upsert_snapshot_latest_wins_and_deletes(spark):
    from golem_spark.operators.relational import upsert_snapshot

    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], ["k", "v", "ver"])
    changes = spark.createDataFrame(
        [(2, "B", 1, "upsert"), (3, "c", 1, "delete"),
         (4, "d", 1, "upsert")], ["k", "v", "ver", "op"])
    out = {r["k"]: r["v"] for r in
           upsert_snapshot(base, changes, "k", "ver", op_col="op").collect()}
    assert out == {1: "a", 2: "B", 4: "d"}


def test_salted_join_equals_plain_join(spark):
    from golem_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(40)], ["id", "k", "v"])
    right = spark.createDataFrame([(0, "even"), (1, "odd")], ["k", "name"])
    plain = sorted((r["id"], r["name"]) for r in
                   left.join(right, "k").collect())
    salted = sorted((r["id"], r["name"]) for r in
                    salted_join(left, right, "k", n_salts=4,
                                salt_src="id").collect())
    assert plain == salted and len(plain) == 40


def test_salted_join_spreads_hot_key(spark):
    """All rows share ONE key; salting must spread them over multiple
    sub-keys (the skew split that un-serializes the reducer)."""
    from golem_spark.operators.relational import salted_join
    from pyspark.sql import functions as F2

    left = spark.createDataFrame([(i, 1) for i in range(64)], ["id", "k"])
    src = F2.col("id")
    salt = (F2.conv(F2.substring(F2.md5(F2.concat_ws("_", src.cast("string"),
                                                     F2.lit("salt"))), 1, 15),
                    16, 10).cast("long") % 4)
    n_subkeys = left.select(salt.alias("s")).distinct().count()
    assert n_subkeys > 1


def test_latest_by_key_max_by(spark):
    from golem_spark.operators.relational import latest_by_key

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (1, 20, "d")],
        ["k", "t", "v"])
    out = {r["k"]: r["v"] for r in
           latest_by_key(df, "k", "t", tiebreak_col="v").collect()}
    assert out == {1: "d", 2: "c"}


def test_gapfill_daily_emits_zero_days(spark):
    from golem_spark.operators.relational import gapfill_daily

    df = spark.createDataFrame(
        [("g", "2024-01-01 10:00:00", 1.0), ("g", "2024-01-04 10:00:00", 2.0)],
        ["grp", "ts", "v"]).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {str(r["day"]): (r["n"], r["sum_v"]) for r in
            gapfill_daily(df, "ts", "v", group_col="grp").collect()}
    assert len(rows) == 4  # 1st..4th inclusive
    assert rows["2024-01-02"] == (0, 0.0)
    assert rows["2024-01-01"] == (1, 1.0)


def test_rolling_mean_days_range_frame(spark):
    """RANGE frame: the window spans by day distance, so a gap day
    still bounds the trailing frame correctly."""
    from golem_spark.operators.relational import (gapfill_daily,
                                                  rolling_mean_days)

    df = spark.createDataFrame(
        [("g", f"2024-01-0{d} 00:00:00", float(d)) for d in range(1, 6)],
        ["grp", "ts", "v"]).withColumn("ts", F.col("ts").cast("timestamp"))
    daily = gapfill_daily(df, "ts", "v", group_col="grp")
    out = {str(r["day"]): r["roll_avg"] for r in
           rolling_mean_days(daily, "day", "sum_v", n_days=3,
                             group_col="grp").collect()}
    assert out["2024-01-01"] == 1.0
    assert abs(out["2024-01-03"] - 2.0) < 1e-9  # (1+2+3)/3
    assert abs(out["2024-01-05"] - 4.0) < 1e-9  # (3+4+5)/3


def test_zorder_key_interleaves_bits(spark):
    import pytest as _pytest

    from golem_spark.operators.relational import zorder_key

    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3), (0, 0)], ["a", "b"])
    out = [r["z"] for r in df.select(zorder_key("a", "b", 4).alias("z"))
           .collect()]
    # bit i of a -> 2i, bit i of b -> 2i+1
    assert out == [1, 2, 15, 0]
    with _pytest.raises(ValueError):
        zorder_key("a", "b", 0)


def test_suggest_range_bounds_equalizes(spark):
    from golem_spark.operators.relational import suggest_range_bounds

    df = spark.range(1, 101).selectExpr("CAST(id AS DOUBLE) AS v")
    rows = {r["q"]: r["bound"] for r in
            suggest_range_bounds(df, "v", n_partitions=4).collect()}
    assert rows == {0.25: 25.0, 0.5: 50.0, 0.75: 75.0}


def test_bm25_prefers_matching_docs(spark):
    import pytest as _pytest

    from golem_spark.pipeline.text import bm25_score

    df = spark.createDataFrame(
        [(1, "join join hash other words here"),
         (2, "join unrelated text padding tokens now"),
         (3, "completely different content with padding")],
        ["doc_id", "text"])
    rows = bm25_score(df, ["join", "hash"], top_k=3).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 1           # both terms, higher tf
    assert 3 not in ids          # no matching terms -> no score row
    with _pytest.raises(ValueError):
        bm25_score(df, [])


def test_rrf_fusion_rewards_agreement(spark):
    from golem_spark.pipeline.text import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(2, 1), (1, 2), (4, 3)], ["doc_id", "rank"])
    rows = rrf_fuse(a, b, k=60, top_k=4).collect()
    got = {r["doc_id"]: r["rrf"] for r in rows}
    # docs in BOTH lists beat single-list docs
    assert got[1] > got[3] and got[2] > got[4]
    assert rows[0]["doc_id"] in (1, 2)


def test_mad_outliers_flags_extremes_only(spark):
    from golem_spark.operators.relational import mad_outliers

    vals = [float(v) for v in [10, 11, 12, 13, 14, 1000]]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "v"])
    rows = {r["v"]: r["is_outlier"] for r in
            mad_outliers(df, "grp", "v").collect()}
    assert rows[1000.0] is True
    assert all(rows[v] is False for v in vals[:-1])


def test_weighted_sample_respects_weights_and_determinism(spark):
    from golem_spark.operators.relational import weighted_sample

    rows = ([(i, 1000.0) for i in range(20)]        # heavy
            + [(i, 0.001) for i in range(20, 200)])  # light
    df = spark.createDataFrame(rows, ["id", "w"])
    picked = sorted(r["id"] for r in
                    weighted_sample(df, "id", "w", k=15, seed=1).collect())
    # with a 10^6 weight ratio, essentially every pick is a heavy row
    assert sum(1 for i in picked if i < 20) >= 14
    again = sorted(r["id"] for r in
                   weighted_sample(df.repartition(7), "id", "w",
                                   k=15, seed=1).collect())
    assert picked == again


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC property: inserting a token at the START of a document
    leaves the chunks after the first boundary identical — a fixed
    window would shift every chunk."""
    from golem_spark.pipeline.dedup import cdc_dup_fraction

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi")
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED " + base)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in cdc_dup_fraction(df, divisor=4).collect()}
    # most chunks are shared despite the prefix edit
    assert rows[1]["n_shared"] > 0
    assert rows[2]["n_shared"] > 0
    assert rows[1]["dup_frac"] >= 0.5


def test_assoc_rules_lift_definition(spark):
    """Items that ALWAYS co-occur have confidence 1 and lift =
    n_orders / c_other."""
    from golem_spark.session import load_tables

    # tiny synthetic baskets: items 1,2 always together; 3 independent
    rows = [(k, i) for k in range(10) for i in (1, 2)] + [(1, 3), (2, 3)]
    df = spark.createDataFrame(rows, ["k", "item"])
    n_orders = 10
    pair = (df.alias("a").join(df.alias("b"),
                               (F.col("a.k") == F.col("b.k"))
                               & (F.col("a.item") < F.col("b.item")))
            .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
            .agg(F.count(F.lit(1)).alias("c")))
    got = {(r["x"], r["y"]): r["c"] for r in pair.collect()}
    assert got[(1, 2)] == 10


def test_fuzzy_vocab_pairs_finds_all_dist1(spark):
    """The deletion index must find EVERY distance-<=1 pair (insertion,
    deletion, substitution) — completeness is the SymSpell guarantee."""
    from golem_spark.pipeline.text import fuzzy_vocab_pairs

    df = spark.createDataFrame(
        [(1, "cat cart bat cast hello hullo zzz")], ["id", "t"])
    pairs = {(r["word_a"], r["word_b"]) for r in
             fuzzy_vocab_pairs(df, "t").collect()}
    assert ("bat", "cat") in pairs        # substitution
    assert ("cart", "cast") in pairs      # substitution
    assert ("cart", "cat") in pairs       # deletion
    assert ("hello", "hullo") in pairs    # substitution
    assert not any("zzz" in p for p in pairs)


def test_benchmark_containment_bounds_and_self(spark, docs):
    """Containment is in [0,1]; benchmark members contain themselves
    fully (every gram of a benchmark doc is in the benchmark set)."""
    out = {r["doc_id"]: r for r in dedup.benchmark_containment(
        docs, docs.filter(docs.doc_id < 3), n=3).collect()}
    for r in out.values():
        assert 0.0 <= r["containment"] <= 1.0
        assert 0 <= r["n_matched"] <= r["n_grams"]
    for d in (0, 1, 2):
        assert out[d]["containment"] == 1.0


def test_token_budget_pack_respects_budget(spark, docs):
    from golem_spark.pipeline.text import token_budget_pack

    budget = 150
    rows = token_budget_pack(docs.select("doc_id", "source", "n_chars"),
                             budget=budget).collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, rs in by_source.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            assert r["cum_before"] == cum
            assert r["kept"] == (1 if cum < budget else 0)
            cum += r["n_chars"]
        kept_mass = sum(r["n_chars"] for r in rs if r["kept"])
        # kept mass exceeds the budget by at most the final admitted doc
        assert kept_mass < budget + max(r["n_chars"] for r in rs)


def test_cluster_stats_consistent_with_components(spark, docs):
    comps = dedup.dup_components(dedup.minhash_lsh_pairs(docs))
    stats = dedup.cluster_stats(comps).collect()
    n_docs = comps.count()
    assert sum(r["size"] for r in stats) == n_docs
    for r in stats:
        assert r["min_doc"] == r["rep"]  # rep is the min label
        assert r["n_dropped"] == r["size"] - 1
        assert r["size"] >= 2  # components only exist for paired docs


@pytest.mark.parametrize("shape", [
    "all_ties",        # every df equal: rank decided entirely by tok
    "zipf_head",       # heavy head + long tied tail crossing boundaries
    "singleton",       # 1 token: no boundaries -> all-one-bucket path
    "tiny",            # vocab smaller than n_buckets
    "two_values",      # df in {1, 2} only: boundary rows are ties
])
def test_two_phase_vocab_rank_equals_global_window(spark, shape):
    """The two-phase distributed term ranking (text._rank_vocab: sampled
    literal boundaries + per-bucket row_number + broadcast offsets) must
    equal the single global window it replaced, on vocab shapes chosen
    to stress the boundary logic (VERDICT r6 item 5): ties everywhere,
    ties straddling bucket boundaries, empty boundary lists, buckets of
    size one."""
    from golem_spark.pipeline.text import _rank_vocab

    if shape == "all_ties":
        rows = [(f"t{i:03d}", 1) for i in range(300)]
    elif shape == "zipf_head":
        rows = [(f"w{i:04d}", max(1, 300 // (i + 1))) for i in range(500)]
    elif shape == "singleton":
        rows = [("only", 7)]
    elif shape == "tiny":
        rows = [("b", 2), ("a", 2), ("c", 1)]
    else:  # two_values
        rows = [(f"x{i:03d}", 1 + (i % 2)) for i in range(257)]
    pdf = pd.DataFrame(rows, columns=["tok", "df"])
    vocab = spark.createDataFrame(pdf)

    got = {r["tok"]: r["term_idx"]
           for r in _rank_vocab(vocab, n_buckets=8).collect()}
    want = {tok: i for i, (tok, _) in enumerate(
        sorted(rows, key=lambda t: (-t[1], t[0])))}
    assert got == want


def test_pii_scrub_order_and_counts(spark):
    """Redaction must not half-consume another category's match (emails
    carry digits; SSN vs phone digit shapes are disjoint), counts are
    taken on the ORIGINAL text, and clean text passes through
    untouched."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "mail bob.smith+x@sub.example.org now",
            "call (415)-555-0134 or 415 555 0134 ip 10.12.0.255 end",
            "ssn 987-65-4320 vs phone 987-654-4320 mixed",
            "no pii here just text 3.14 and 1,000 numbers",
        ]})
    out = {r["doc_id"]: r for r in
           text.pii_scrub(spark.createDataFrame(pdf)).collect()}
    assert (out[0]["n_email"], out[0]["text_scrubbed"]) == \
        (1, "mail <EMAIL> now")
    assert out[1]["n_phone"] == 2 and out[1]["n_ipv4"] == 1
    assert out[1]["text_scrubbed"] == "call <PHONE> or <PHONE> ip <IP> end"
    assert (out[2]["n_ssn"], out[2]["n_phone"]) == (1, 1)
    assert out[2]["text_scrubbed"] == "ssn <SSN> vs phone <PHONE> mixed"
    assert all(out[3][c] == 0 for c in
               ("n_email", "n_ssn", "n_phone", "n_ipv4"))
    assert out[3]["text_scrubbed"] == pdf["text"][3]


def test_mix_corpus_hits_targets_and_is_deterministic(spark):
    """The binding source keeps everything (rate 1e6), every other
    source's kept token mass lands near its target (doc-level Bernoulli
    noise only), and the keep rule is partitioning-invariant."""
    # sf0.1 (250 docs/source): enough mass for the Bernoulli kept token
    # count to concentrate near its target
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    weights = {"src0": 50, "src1": 30, "src2": 20}
    out = {r["source"]: r for r in text.mix_corpus(docs, weights).collect()}
    assert set(out) == set(weights)
    # T = min(100*mass/w) makes at least one source binding
    assert any(r["rate_ppm"] == 1000000 for r in out.values())
    for r in out.values():
        assert r["kept_tokens"] <= r["mass"]
        if r["rate_ppm"] == 1000000:
            assert (r["kept_docs"], r["kept_tokens"]) == \
                (r["n_docs"], r["mass"])
        else:
            # within ~35% of target at these tiny doc counts (Bernoulli)
            assert abs(r["kept_tokens"] - r["target_tokens"]) \
                <= max(0.35 * r["target_tokens"], 200)
    again = {r["source"]: r for r in
             text.mix_corpus(docs.repartition(13), weights).collect()}
    assert {k: tuple(v) for k, v in out.items()} == \
        {k: tuple(v) for k, v in again.items()}


def test_bpe_merges_match_classic_reference(spark):
    """bpe_merges must reproduce the classic Sennrich et al. algorithm
    exactly: same merge rules, same counts, same (count DESC, pair ASC)
    tie-break — checked against an independent pure-Python reference on
    a corpus with repeated-symbol runs (the case where naive string
    replace diverges from the greedy fold)."""
    import re
    from collections import Counter

    corpus = ["low lower lowest low low",
              "newest newer new width wider",
              "aaa aaaa aa baaab",  # runs: greedy LTR merge order matters
              "mississippi missive"]

    def classic_bpe(texts, n_merges):
        words = Counter()
        for tx in texts:
            for w in tx.split():
                if re.fullmatch(r"[A-Za-z0-9]+", w):
                    words[w] += 1
        seqs = {w: list(w) for w in words}
        rules = []
        for step in range(1, n_merges + 1):
            pc = Counter()
            for w, syms in seqs.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += words[w]
            if not pc:
                break
            (s1, s2), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            rules.append((step, s1, s2, n))
            for w, syms in seqs.items():
                out, i = [], 0
                while i < len(syms):  # greedy left-to-right
                    if (i + 1 < len(syms) and syms[i] == s1
                            and syms[i + 1] == s2):
                        out.append(s1 + s2)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                seqs[w] = out
        return rules

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus}))
    got = [tuple(r) for r in
           text.bpe_merges(docs, n_merges=8).orderBy("step").collect()]
    assert got == classic_bpe(corpus, 8)


def test_bpe_encode_matches_per_word_replay(spark):
    """bpe_encode's per-doc subword counts must equal replaying the
    learned rules word-by-word with the classic greedy merge, and the
    compression ratio must be chars/subwords exactly."""
    corpus = ["low lower lowest low low",
              "aaa aaaa aa baaab lowest"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus}))
    rules = [(r["lhs"], r["rhs"]) for r in
             text.bpe_merges(docs, n_merges=6).orderBy("step").collect()]

    def encode(word):
        syms = list(word)
        for s1, s2 in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r["doc_id"]: r for r in
           text.bpe_encode(docs, n_merges=6).collect()}
    for doc_id, tx in enumerate(corpus):
        words = tx.split()
        n_sub = sum(len(encode(w)) for w in words)
        n_chars = sum(len(w) for w in words)
        assert got[doc_id]["n_words"] == len(words)
        assert got[doc_id]["n_subwords"] == n_sub
        assert got[doc_id]["n_chars"] == n_chars
        assert got[doc_id]["chars_per_subword"] == round(n_chars / n_sub, 6)


def test_winnowing_guarantee_and_shift_robustness(spark):
    """Schleimer et al.'s detection guarantee: two documents sharing a
    run of >= w+k-1 tokens (here 6) must share at least one selected
    fingerprint, even when the run sits at different positions; and
    identical docs fingerprint identically. Disjoint docs share
    nothing (md5 grams)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            f"{shared} filler one two",
            f"pre1 pre2 pre3 {shared}",     # same run, shifted
            f"{shared} filler one two",     # identical to 0
            "totally different words here nothing shared at all ok",
        ]})
    out = {r["doc_id"]: r for r in text.winnow_fingerprints(
        spark.createDataFrame(pdf), return_set=True).collect()}
    assert out[0]["fps"] == out[2]["fps"]
    assert out[0]["fp_checksum"] == out[2]["fp_checksum"]
    assert set(out[0]["fps"]) & set(out[1]["fps"])      # guarantee
    assert not set(out[0]["fps"]) & set(out[3]["fps"])  # disjoint
    assert out[0]["n_selected"] <= out[0]["n_windows"]


def test_expectation_report_null_semantics_and_single_scan(spark):
    """A NULL rule result must count as a violation (null-aware
    validation — a null row silently passes 'x > 0' under plain SQL
    semantics), rule order is preserved, and the whole report runs in
    ONE table scan no matter how many rules ride along."""
    from golem_spark.operators.profiling import (expectation_report,
                                                 profile_columns)

    pdf = pd.DataFrame({"a": [1.0, -2.0, None, 4.0],
                        "b": ["x", "y", "x", None]})
    df = spark.createDataFrame(pdf)
    rules = [("a_positive", "a > 0"), ("b_in_domain", "b IN ('x', 'y')"),
             ("a_big", "a >= 100")]
    out = expectation_report(df, rules).collect()
    assert [r["rule"] for r in out] == [n for n, _ in rules]
    by = {r["rule"]: r for r in out}
    # -2.0 fails, NULL fails (null-aware), 1.0/4.0 pass
    assert by["a_positive"]["n_violations"] == 2
    assert by["b_in_domain"]["n_violations"] == 1  # NULL b
    assert by["a_big"]["n_violations"] == 4 and not by["a_big"]["passed"]
    assert by["a_positive"]["violation_rate"] == 0.5

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = expectation_report(
        li, [("q", "l_quantity >= 1"), ("p", "l_extendedprice > 0"),
             ("t", "l_tax >= 0")])._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan parquet") == 1

    prof = {r["column"]: r for r in profile_columns(
        df, ["a", "b"]).collect()}
    assert prof["a"]["n_nulls"] == 1 and prof["a"]["n_distinct"] == 3
    assert prof["b"]["min_value"] == "x" and prof["b"]["max_value"] == "y"
    assert prof["a"]["null_rate"] == 0.25


def test_apply_merge_fold_matches_python_greedy_on_random_runs(spark):
    """_apply_merge (the F.aggregate fold behind BPE learn/encode) must
    equal the classic greedy left-to-right merge on randomized
    symbol sequences over a tiny alphabet — the regime dense with
    overlapping-run edge cases ('a a a a', 'b a b a b', ...). 300
    random sequences x 3 merge pairs, one Spark job per pair."""
    import random

    from golem_spark.pipeline.text import _apply_merge

    rng = random.Random(42)
    seqs = [[rng.choice("ab") for _ in range(rng.randint(1, 12))]
            for _ in range(300)]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "i long, syms array<string>")

    def greedy(syms, s1, s2):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                out.append(s1 + s2)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    from golem_spark.pipeline.text import _merge_word

    for s1, s2 in (("a", "a"), ("a", "b"), ("b", "a")):
        got = {r["i"]: list(r["m"]) for r in df.select(
            "i", _apply_merge(F.col("syms"), s1, s2).alias("m")).collect()}
        for i, s in enumerate(seqs):
            assert got[i] == greedy(s, s1, s2), (i, s, s1, s2)
            # the Arrow-side twin used by the batched learner/encoder
            assert _merge_word(list(s), [(s1, s2, s1 + s2)]) == \
                greedy(s, s1, s2), (i, s, s1, s2)


def _classic_bpe(texts, n_merges):
    """Independent pure-Python Sennrich reference (count DESC, pair ASC
    tie-break, greedy LTR merge) — the oracle for learner tests."""
    import re
    from collections import Counter

    words = Counter()
    for tx in texts:
        for w in tx.split():
            if re.fullmatch(r"[A-Za-z0-9]+", w):
                words[w] += 1
    seqs = {w: list(w) for w in words}
    rules = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        (s1, s2), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((step, s1, s2, n))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == s1
                        and syms[i + 1] == s2):
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return rules


def test_bpe_encode_with_precomputed_rules(spark):
    """rules= applies a persisted merge table without re-learning (the
    production learn-once/encode-many shape): identical output to the
    learn-inline path on the training corpus, and correct greedy
    left-to-right application on a corpus the rules were NOT learned
    on, verified by a per-word Python replay."""
    train = ["the theme thesis there " * 3] * 4
    docs_a = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(train)), "text": train}))
    rules = [(r["lhs"], r["rhs"]) for r in
             text.bpe_merges(docs_a, n_merges=6).orderBy("step").collect()]

    inline = sorted(map(tuple, text.bpe_encode(docs_a, n_merges=6).collect()))
    pre = sorted(map(tuple, text.bpe_encode(docs_a, rules=rules).collect()))
    assert inline == pre

    other = ["theory thermos python zebra", "the the the unrelated"]
    docs_b = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(other)), "text": other}))
    got = {r["doc_id"]: r["n_subwords"]
           for r in text.bpe_encode(docs_b, rules=rules).collect()}

    def apply_rules(w):
        syms = list(w)
        for s1, s2 in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    import re
    for doc_id, tx in enumerate(other):
        want = sum(len(apply_rules(w)) for w in tx.split()
                   if re.fullmatch(r"[A-Za-z0-9]+", w))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_bpe_batched_learner_stays_exactly_greedy(spark):
    """The batched learner (top-B provably-safe prefix per round) must
    remain EXACTLY greedy-equivalent on corpora engineered to stress
    every unsafe-commit channel: merge chains assembling one dominant
    word (inherently sequential — batch must degrade to 1/round), tied
    counts (lexicographic order), tiny-alphabet runs (overlap + merged-
    string collisions like 'ab' vs 'a'+'b'), and random mixes."""
    import random

    rng = random.Random(7)
    corpora = [
        # dominant-word chain: merges build 'abcdefgh' symbol by symbol
        ["abcdefgh " * 50 + "xy xz zy"],
        # tie-heavy: all words same count, order decided lexically
        ["dog cat owl elk bee ant fox"] * 3,
        # tiny-alphabet runs: dense with overlap + collision cases
        [" ".join("".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
                  for _ in range(30)) for _ in range(3)],
        # random 3-letter alphabet with skewed repeats
        [" ".join(rng.choice(["abc", "cab", "bca", "aabbcc", "cba"])
                  for _ in range(40)) for _ in range(2)],
    ]
    for corpus in corpora:
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus}))
        stats = {}
        got = [tuple(r) for r in
               text.bpe_merges(docs, n_merges=7, _stats=stats)
               .orderBy("step").collect()]
        assert got == _classic_bpe(corpus, 7), corpus[0][:40]
        assert stats["rounds"] <= max(stats["merges"], 1)


def test_bpe_batched_learner_commits_multiple_merges_per_round(spark):
    """On a corpus of many disjoint high-count words the safe-prefix
    walk must actually batch (driver rounds strictly fewer than
    merges) — the scale property that lets tokenizer training run
    thousands of merges without thousands of driver rounds."""
    corpus = ["quick brown vixen jumps over lazy hounds " * 4] * 5
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus}))
    stats = {}
    got = [tuple(r) for r in
           text.bpe_merges(docs, n_merges=12, _stats=stats)
           .orderBy("step").collect()]
    assert got == _classic_bpe(corpus, 12)
    assert stats["merges"] == 12
    assert stats["rounds"] < 12, stats  # genuinely batched


def test_bpe_band_mode_bounded_approximation(spark):
    """The documented approximate mode (band=delta, VERDICT r9 item 2)
    must honor its bounded contract on every corpus, verified by an
    independent pure-Python replay of each driver round:

    * every emitted pair_count is the TRUE round-start count (symbol-
      disjointness is kept under the batch, so counts stay exact);
    * every committed pair is within (1-delta) of its round's max;
    * per-round commits are pairwise symbol-disjoint incl. merged
      tokens;
    * round max counts are monotone non-increasing (created pairs
      never exceed their creator), so the band threshold never rises;
    * delta=0 commits exact count-ties only;
    * the first merge is exact greedy's first merge."""
    import random
    import re
    from collections import Counter

    rng = random.Random(11)
    corpora = [
        # near-tie-rich: many disjoint words with close counts
        ["quick brown vixen jumps over lazy hounds " * 4] * 5,
        # dominant-word chain (stays sequential: disjointness is kept)
        ["abcdefgh " * 50 + "xy xz zy"],
        # random 3-letter mix with skewed repeats
        [" ".join(rng.choice(["abc", "cab", "bca", "aabbcc", "cba"])
                  for _ in range(40)) for _ in range(2)],
    ]
    for corpus in corpora:
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(corpus)), "text": corpus}))
        exact_stats = {}
        text.bpe_merges(docs, n_merges=10, _stats=exact_stats).collect()
        for delta in (0.0, 0.25, 0.6):
            stats = {}
            got = [tuple(r) for r in
                   text.bpe_merges(docs, n_merges=10, band=delta,
                                   _stats=stats)
                   .orderBy("step").collect()]
            assert got[0] == _classic_bpe(corpus, 1)[0]
            log = stats["round_log"]
            assert sum(len(r["committed"]) for r in log) == len(got)

            words = Counter()
            for tx in corpus:
                for w in tx.split():
                    if re.fullmatch(r"[A-Za-z0-9]+", w):
                        words[w] += 1
            seqs = {w: list(w) for w in words}
            it = iter(got)
            c_prev = float("inf")
            for rnd in log:
                pc = Counter()
                for w, syms in seqs.items():
                    for i in range(len(syms) - 1):
                        pc[(syms[i], syms[i + 1])] += words[w]
                c_max = max(pc.values())
                assert rnd["c_max"] == c_max
                assert c_max <= c_prev, "band threshold rose"
                c_prev = c_max
                if delta == 0.0:
                    assert all(c == c_max for c in rnd["committed"])
                touched: set = set()
                for n_rec in rnd["committed"]:
                    step, s1, s2, n = next(it)
                    assert n == n_rec
                    assert pc[(s1, s2)] == n, "stale committed count"
                    assert n >= (1.0 - delta) * c_max - 1e-9
                    assert not ({s1, s2, s1 + s2} & touched)
                    touched |= {s1, s2, s1 + s2}
                    for w, syms in seqs.items():
                        out, i = [], 0
                        while i < len(syms):
                            if (i + 1 < len(syms) and syms[i] == s1
                                    and syms[i + 1] == s2):
                                out.append(s1 + s2)
                                i += 2
                            else:
                                out.append(syms[i])
                                i += 1
                        seqs[w] = out
            # a wide band on the near-tie corpus must genuinely batch
            # (exact and tight bands may differ either way: exact's
            # dominance bound can out-batch a delta=0 tie-only band)
            if corpus is corpora[0] and delta == 0.6:
                assert stats["rounds"] < len(got), \
                    (stats["rounds"], exact_stats["rounds"])

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["ab ab ba"]}))
    for bad in (1.0, -0.1, 2.5):
        with pytest.raises(ValueError, match="band"):
            text.bpe_merges(docs, n_merges=2, band=bad)


# -- product quantization ----------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _np_pq(vecs, ids, n_sub=4, sub_dim=16, k_codes=16):
    """Independent numpy replay of the PQ contract: 6-dp-rounded
    squared L2, argmin ties -> lowest code id."""
    import numpy as np

    order = np.argsort(ids)
    ids = ids[order]
    vecs = vecs[order]
    cb = vecs[ids < k_codes]
    cb_ids = ids[ids < k_codes]
    codes = {}
    for vid, v in zip(ids, vecs):
        for s in range(n_sub):
            lo, hi = s * sub_dim, (s + 1) * sub_dim
            d2 = np.round(((v[lo:hi] - cb[:, lo:hi]) ** 2).sum(axis=1), 6)
            j = np.lexsort((cb_ids, d2))[0]
            codes[(vid, s)] = (int(cb_ids[j]), float(d2[j]))
    return codes


def test_pq_encode_matches_numpy_replay(emb):
    pdf = emb.toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64)
                     for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    expect = _np_pq(vecs, ids)
    got = similarity.pq_encode(emb).collect()
    assert len(got) == 4 * len(ids)
    for r in got:
        code, d2 = expect[(r["vec_id"], r["sub"])]
        assert r["code"] == code, (r, code)
        assert abs(r["d2"] - d2) < 1e-9


def test_pq_arrow_encode_matches_expressions(emb):
    """The Arrow-vectorized encode (r14) must be BITWISE what the
    array-expression formulation computes: left-to-right accumulation,
    Spark HALF_UP rounding, first-argmin ties — pinned here against an
    inline rebuild of the old expression pipeline."""
    from golem_spark.pipeline.similarity import (
        _as_double, _dot, _ivf_seeds_row, _norm, _pq_codebook_row,
        _pq_encode_arrow, _sq_dist)

    n_sub, sub_dim, k_codes, n_seeds = 4, 16, 16, 16
    cb = _pq_codebook_row(emb, k_codes, "embedding", "vec_id")
    e = _as_double(F.col("embedding"))

    def best_for(sub):
        lo = sub * sub_dim + 1
        cand = F.transform(
            F.col("codebook"),
            lambda c: F.struct(
                F.round(_sq_dist(F.slice(e, lo, sub_dim),
                                 F.slice(c["cv"], lo, sub_dim)), 6)
                .alias("d2"),
                c["code_id"].alias("code")))
        return F.array_min(cand)

    old = (emb.crossJoin(F.broadcast(cb))
           .select(F.col("vec_id"),
                   F.array(*[best_for(s) for s in range(n_sub)])
                   .alias("bests"))
           .select("vec_id", F.posexplode("bests").alias("sub", "b"))
           .select("vec_id", F.col("sub").cast("long").alias("sub"),
                   F.col("b.code").alias("code"), F.col("b.d2").alias("d2"))
           .orderBy("vec_id", "sub").collect())
    new = (similarity.pq_encode(emb).orderBy("vec_id", "sub").collect())
    assert old == new

    srow = _ivf_seeds_row(emb, n_seeds, "embedding", "vec_id")
    nrm = _norm(e)
    neg_cos = F.transform(
        F.col("seeds"),
        lambda s: F.struct((-(_dot(e, s["sv"]) / (nrm * s["snrm"])))
                           .alias("ncos"), s["seed_id"].alias("seed_id")))
    old_cells = (emb.crossJoin(F.broadcast(srow))
                 .select("vec_id", F.array_min(neg_cos)["seed_id"]
                         .alias("cell")).orderBy("vec_id").collect())
    new_cells = (_pq_encode_arrow(emb, n_sub, sub_dim, k_codes,
                                  "embedding", "vec_id", n_seeds=n_seeds)
                 .filter(F.col("sub") == 0).select("vec_id", "cell")
                 .orderBy("vec_id").collect())
    assert old_cells == new_cells


def test_with_cells_arrow_matches_expressions(emb):
    """The Arrow-vectorized IVF routing (r14) must be BITWISE the old
    broadcast-seed array-expression argmax — first-n seeds and learned
    centroids both."""
    import numpy as np

    from golem_spark.pipeline.similarity import (
        _as_double, _dot, _ivf_seeds_row, _norm, _with_cells)

    def old_with_cells(df, n_seeds, seed_centroids=None):
        srow = _ivf_seeds_row(df, n_seeds, "embedding", "vec_id",
                              seed_centroids)
        e = _as_double(F.col("embedding"))
        nrm = _norm(e)
        neg_cos = F.transform(
            F.col("seeds"),
            lambda s: F.struct((-(_dot(e, s["sv"]) / (nrm * s["snrm"])))
                               .alias("ncos"), s["seed_id"].alias("seed_id")))
        return (df.crossJoin(F.broadcast(srow))
                .select(F.col("vec_id"),
                        F.array_min(neg_cos)["seed_id"].alias("cell"),
                        e.alias("ev"), nrm.alias("nrm")))

    old = old_with_cells(emb, 16).orderBy("vec_id").collect()
    new = (_with_cells(emb, 16, "embedding", "vec_id")
           .orderBy("vec_id").collect())
    assert old == new

    rng = np.random.default_rng(5)
    cent = rng.standard_normal((8, 64))
    old_l = old_with_cells(emb, 8, cent).orderBy("vec_id").collect()
    new_l = (_with_cells(emb, 8, "embedding", "vec_id", cent)
             .orderBy("vec_id").collect())
    assert old_l == new_l


def test_semdedup_and_hard_negatives_arrow_match_joins(emb):
    """The grouped Arrow pair kernels (r14) must reproduce the old
    self-join formulations EXACTLY: same unrounded-cosine threshold
    tests, same smaller-id drop rule, same (cos desc, neg_id) top-k."""
    from golem_spark.pipeline.similarity import (
        _dot, _with_cells, hard_negatives, semantic_dedup,
        semantic_dedup_two_level)

    assigned = _with_cells(emb, 16, "embedding", "vec_id")
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _dot(F.col("a.ev"), F.col("b.ev")) / (F.col("a.nrm") * F.col("b.nrm"))

    # old semantic_dedup drop rule
    dropped = (a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                             F.col("a.vec_id") < F.col("b.vec_id")])
               .filter(cos >= 0.9)
               .select(F.col("b.vec_id").alias("vec_id")).distinct())
    d = dropped.withColumn("__dropped", F.lit(True))
    old_sd = (assigned.join(d, on="vec_id", how="left")
              .select("vec_id", "cell",
                      F.coalesce(~F.col("__dropped"), F.lit(True))
                      .alias("keep")).orderBy("vec_id").collect())
    new_sd = semantic_dedup(emb, n_seeds=16).collect()
    assert old_sd == new_sd

    # old hard_negatives join + window
    from pyspark.sql import Window

    pairs = (a.join(b, on=[F.col("a.cell") == F.col("b.cell"),
                           F.col("a.vec_id") != F.col("b.vec_id")])
             .filter(cos < 0.95)
             .select(F.col("a.vec_id").alias("anchor_id"),
                     F.col("b.vec_id").alias("neg_id"), cos.alias("__cos")))
    w = Window.partitionBy("anchor_id").orderBy(F.col("__cos").desc(),
                                                F.col("neg_id"))
    old_hn = (pairs.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= 2)
              .select("anchor_id", "neg_id",
                      F.round(F.col("__cos"), 6).alias("cos"),
                      F.col("rk").cast("long").alias("rk"))
              .orderBy("anchor_id", "rk").collect())
    new_hn = hard_negatives(emb, n_seeds=16).collect()
    assert old_hn == new_hn

    # two-level: both sub-seed conventions still produce a valid
    # partition + keep flags (cross-checked end-to-end by p124/p126
    # oracles; here just pin schema/determinism across two runs)
    for learned in (False, True):
        r1 = semantic_dedup_two_level(emb, n_seeds=16,
                                      learned_sub_seeds=learned).collect()
        r2 = semantic_dedup_two_level(emb, n_seeds=16,
                                      learned_sub_seeds=learned).collect()
        assert r1 == r2 and len(r1) == emb.count()


def test_pq_seeds_encode_to_themselves(emb):
    """Every seed vector's nearest codeword in every subspace is itself
    (d2 = 0) — the basic sanity of a codebook drawn from the data."""
    rows = (similarity.pq_encode(emb)
            .filter(F.col("vec_id") < 16).collect())
    assert len(rows) == 16 * 4
    for r in rows:
        assert r["d2"] == 0.0
        assert r["code"] == r["vec_id"]


def test_pq_topk_adc_matches_numpy_lut(emb):
    """ADC distances are exactly the micro-int LUT sums of the numpy
    replay — the full triangle (Spark == numpy here, Spark == DuckDB in
    the oracle gate)."""
    pdf = emb.toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64)
                     for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    codes = _np_pq(vecs, ids)
    by_id = {int(i): v for i, v in zip(ids, vecs)}
    qids, k, n_sub, sub_dim, k_codes = (0, 1, 2), 5, 4, 16, 16
    cb_ids = sorted(i for i in by_id if i < k_codes)
    expect = {}
    for q in qids:
        lut = {}
        for s in range(n_sub):
            lo, hi = s * sub_dim, (s + 1) * sub_dim
            for c in cb_ids:
                d2 = round(float(((by_id[q][lo:hi] - by_id[c][lo:hi]) ** 2)
                                 .sum()), 6)
                lut[(s, c)] = int(np.floor(d2 * 1e6 + 0.5))
        dist = {}
        for v in by_id:
            if v == q:
                continue
            dist[v] = sum(lut[(s, codes[(v, s)][0])] for s in range(n_sub))
        top = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        expect[q] = [(v, round(m / 1e6, 6)) for v, m in top]
    got = similarity.pq_topk(emb, query_ids=qids, k=k).collect()
    assert len(got) == len(qids) * k
    for r in got:
        assert (r["vec_id"], r["approx_d2"]) in expect[r["query_id"]]


def test_ivfpq_topk_matches_numpy_replay(emb):
    """Full IVFADC replay: cosine-nearest cell (ties -> lowest seed),
    top-n_probe probed cells per query, ADC micro-int LUT sums over
    candidates restricted to probed cells, per-query top-k. The Spark
    result must equal the replay exactly, order included."""
    pdf = emb.toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64)
                     for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    by_id = {int(i): v for i, v in zip(ids, vecs)}
    qids, k, n_seeds, n_probe = (0, 1, 2), 5, 16, 2
    n_sub, sub_dim, k_codes = 4, 16, 16

    def cos(a, b):
        return float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    seeds = {i: by_id[i] for i in by_id if i < n_seeds}

    def ranked_cells(x):
        return [sid for _, sid in
                sorted((-cos(x, sv), sid) for sid, sv in seeds.items())]

    cell = {v: ranked_cells(x)[0] for v, x in by_id.items()}
    codes = _np_pq(vecs, ids)
    cb_ids = sorted(i for i in by_id if i < k_codes)
    expect = {}
    for q in qids:
        probed = set(ranked_cells(by_id[q])[:n_probe])
        lut = {}
        for s in range(n_sub):
            lo, hi = s * sub_dim, (s + 1) * sub_dim
            for c in cb_ids:
                d2 = round(float(((by_id[q][lo:hi] - by_id[c][lo:hi]) ** 2)
                                 .sum()), 6)
                lut[(s, c)] = int(np.floor(d2 * 1e6 + 0.5))
        dist = {v: sum(lut[(s, codes[(v, s)][0])] for s in range(n_sub))
                for v in by_id if v != q and cell[v] in probed}
        top = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        expect[q] = [(v, round(m / 1e6, 6)) for v, m in top]

    got = similarity.ivfpq_topk(emb, query_ids=qids, k=k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["approx_d2"]))
    assert by_q == expect


def test_dsir_weights_matches_python_replay(docs):
    """Exact DSIR replay: hashed-unigram counts (md5 60-bit % 64),
    add-0.5 smoothed target/raw models, 6-dp micro-int log-ratios,
    per-doc integer sums. Docs from source s0 are the target."""
    import hashlib
    import math

    pdf = docs.toPandas()
    B, k = 64, 0.5

    def bkt(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    ct, cr = {}, {}
    for _, r in pdf.iterrows():
        side = ct if r["source"] == "s0" else cr
        for tok in r["text"].strip().split():
            side[bkt(tok)] = side.get(bkt(tok), 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    lam = {b: int(math.floor(
        round(math.log(((ct.get(b, 0) + k) / (tt + k * B))
                       / ((cr.get(b, 0) + k) / (tr + k * B))), 6)
        * 1e6 + 0.5))
        for b in set(ct) | set(cr)}
    expect = {}
    for _, r in pdf.iterrows():
        s = sum(lam[bkt(tok)] for tok in r["text"].strip().split())
        expect[r["doc_id"]] = (round(s / 1e6, 6), s > 0)

    got = text.dsir_weights(docs, target_source="s0").collect()
    assert len(got) == len(pdf)
    for r in got:
        assert (r["logw"], r["target_like"]) == expect[r["doc_id"]], r
    # target docs should on average look more target-like
    tgt = [r["logw"] for r in got
           if pdf.set_index("doc_id")["source"][r["doc_id"]] == "s0"]
    raw = [r["logw"] for r in got
           if pdf.set_index("doc_id")["source"][r["doc_id"]] != "s0"]
    assert sum(tgt) / len(tgt) > sum(raw) / len(raw)


def test_semantic_dedup_drops_planted_near_dup(vecs):
    """vec 1 is a planted near-copy of vec 0: with one cell they share
    it, vec 1 (the larger id) must be dropped, vec 0 kept; all vectors
    appear exactly once in the output. (With more seeds a vector that
    IS a seed always routes to itself — cos(v,v)=1 — which is why the
    planted pair needs n_seeds=1 to collide.)"""
    out = {r["vec_id"]: r for r in
           similarity.semantic_dedup(vecs, n_seeds=1,
                                     threshold=0.99).collect()}
    assert len(out) == 20
    assert out[0]["cell"] == out[1]["cell"]
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False
    # nothing else is a 0.99-near-dup in a 16-dim gaussian sample
    assert sum(1 for r in out.values() if not r["keep"]) == 1


def test_semantic_dedup_matches_numpy_replay(vecs):
    """Full replay: cosine-argmax cell (ties -> lowest seed id), in-cell
    pairs >= threshold drop the larger id."""
    pdf = vecs.toPandas()
    by_id = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
             for _, r in pdf.iterrows()}
    n_seeds, thr = 4, 0.5

    def cos(a, b):
        return float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    seeds = {i: by_id[i] for i in by_id if i < n_seeds}
    cell = {v: min(((-cos(x, sv), sid) for sid, sv in seeds.items()))[1]
            for v, x in by_id.items()}
    dropped = {b for a in by_id for b in by_id
               if a < b and cell[a] == cell[b]
               and cos(by_id[a], by_id[b]) >= thr}
    got = similarity.semantic_dedup(vecs, n_seeds=n_seeds,
                                    threshold=thr).collect()
    assert {(r["vec_id"], r["cell"], r["keep"]) for r in got} \
        == {(v, cell[v], v not in dropped) for v in by_id}


def test_hard_negatives_excludes_near_dups_and_ranks(vecs):
    """The planted near-copy (cos>0.99) must be EXCLUDED as a negative;
    ranks are dense from 1, capped at k, and every reported cos is
    below the near-dup threshold; numpy replay confirms the exact
    (anchor, rank) -> neg assignment."""
    n_seeds, k, thr = 1, 3, 0.95
    got = similarity.hard_negatives(vecs, n_seeds=n_seeds, k=k,
                                    near_dup=thr).collect()
    pdf = vecs.toPandas()
    by_id = {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
             for _, r in pdf.iterrows()}

    def cos(a, b):
        return float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    # single cell: candidates = everyone else below the threshold
    expect = {}
    for v in by_id:
        cands = sorted(((-cos(by_id[v], by_id[u]), u) for u in by_id
                        if u != v and cos(by_id[v], by_id[u]) < thr))
        for i, (nc, u) in enumerate(cands[:k], start=1):
            expect[(v, i)] = (u, round(-nc, 6))
    assert {(r["anchor_id"], r["rk"]): (r["neg_id"], r["cos"])
            for r in got} == expect
    # vec 1 is a near-dup of vec 0 -> never a negative for it
    assert all(r["neg_id"] != 1 for r in got if r["anchor_id"] == 0)
    assert all(r["cos"] < thr for r in got)


def test_quality_proxy_model_beats_constant_predictor(spark):
    """The quality-proxy OLS must extract real signal: its
    doc-count-weighted MAE has to be below the MAE of the best constant
    predictor (the label mean) — otherwise the 'model-based filter' is
    routing on noise. Also sanity: every source appears once and
    predictions are finite."""
    from golem_spark.pipeline.kernels import PIPELINE_QUERIES
    from golem_spark.pipeline.text import dsir_weights

    sf_dir = "/root/testdata/sf0.001"
    out = PIPELINE_QUERIES["p119_quality_proxy_model"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lw = dsir_weights(docs).select("logw").toPandas()["logw"]
    const_mae = float((lw - lw.mean()).abs().mean())
    n = sum(r["n_docs"] for r in out)
    model_mae = sum(r["mae"] * r["n_docs"] for r in out) / n
    assert n == docs.count()
    assert all(np.isfinite(r["avg_pred"]) and np.isfinite(r["mae"])
               for r in out)
    assert model_mae < const_mae


def test_intra_doc_chunk_dedup_removes_planted_repeat(spark):
    """A document whose second half repeats its first half must lose
    the repeated chunks; a no-repeat doc keeps everything; the scrubbed
    hash equals the md5 of the hand-built expectation."""
    import hashlib

    base = " ".join(f"w{i}" for i in range(8))
    rows = [
        (0, base + " " + base, "en", "s0", 0),           # 2 chunks, dup
        (1, " ".join(f"u{i}" for i in range(20)), "en", "s0", 0),  # no dup
        (2, "solo", "en", "s0", 0),                      # tail-only doc
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {r["doc_id"]: r for r in
           text.intra_doc_chunk_dedup(docs, chunk=8).collect()}
    assert (out[0]["n_chunks"], out[0]["n_kept"],
            out[0]["n_tokens_kept"]) == (2, 1, 8)
    assert out[0]["scrub_hash"] == hashlib.md5(base.encode()).hexdigest()
    assert (out[1]["n_chunks"], out[1]["n_kept"],
            out[1]["n_tokens_kept"]) == (3, 3, 20)
    assert (out[2]["n_chunks"], out[2]["n_kept"],
            out[2]["n_tokens_kept"]) == (1, 1, 1)
    assert out[2]["scrub_hash"] == hashlib.md5(b"solo").hexdigest()


def test_intra_doc_chunk_dedup_matches_python_replay_randomized(spark):
    """One batch of 80 randomized docs (sizes straddling chunk
    multiples, small alphabet so repeats occur naturally, plus planted
    full-chunk repeats) replayed in pure Python: counts AND scrubbed
    content hash must match for every doc and several chunk sizes."""
    import hashlib

    rng = np.random.default_rng(11)
    docs = []
    for i in range(80):
        n = int(rng.integers(1, 40))
        toks = [f"t{rng.integers(0, 4)}" for _ in range(n)]
        if i % 3 == 0 and n >= 8:  # planted repeat of the first chunk
            toks = toks + toks[:8]
        docs.append((i, " ".join(toks), "en", "s0", len(" ".join(toks))))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")

    for chunk in (1, 3, 8):
        got = {r["doc_id"]: r for r in
               text.intra_doc_chunk_dedup(df, chunk=chunk).collect()}
        for i, txt, *_ in docs:
            toks = txt.strip().split()
            chunks = [" ".join(toks[j:j + chunk])
                      for j in range(0, len(toks), chunk)]
            kept, seen = [], set()
            for c in chunks:
                if c not in seen:
                    seen.add(c)
                    kept.append(c)
            r = got[i]
            assert r["n_chunks"] == len(chunks)
            assert r["n_kept"] == len(kept)
            assert r["n_tokens_kept"] == sum(len(c.split()) for c in kept)
            assert r["scrub_hash"] == hashlib.md5(
                " ".join(kept).encode()).hexdigest()


def test_auto_n_seeds_resolution_and_validation(spark):
    """The 'auto' quantizer sizing: bad strings rejected, explicit ints
    pass through, and the auto default actually runs end-to-end on the
    embeddings table (semantic_dedup emits one row per vector with a
    corpus-scaled cell count)."""
    import pytest

    from golem_spark.pipeline.similarity import (_resolve_n_seeds,
                                                 auto_n_seeds,
                                                 semantic_dedup)

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = vecs.count()
    with pytest.raises(ValueError, match="auto"):
        _resolve_n_seeds(vecs, "sqrt")
    assert _resolve_n_seeds(vecs, 7) == 7
    assert _resolve_n_seeds(vecs, "auto") == auto_n_seeds(n)

    out = semantic_dedup(vecs, threshold=0.99)  # auto default end-to-end
    assert out.count() == n
    n_cells = out.select("cell").distinct().count()
    assert 1 <= n_cells <= auto_n_seeds(n)


def test_bpe_learner_edge_cases(spark):
    """Degenerate corpora must terminate cleanly, not loop or throw:
    no alphanumeric words at all, single-character words (no adjacent
    pairs ever), and natural exhaustion before n_merges."""
    empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["!!! ???"]}))
    assert text.bpe_merges(empty, n_merges=4).collect() == []

    singles = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b c a b"]}))
    assert text.bpe_merges(singles, n_merges=4).collect() == []

    tiny = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["ab ab ab"]}))
    stats = {}
    rules = [tuple(r) for r in
             text.bpe_merges(tiny, n_merges=8, _stats=stats).collect()]
    assert rules == [(1, "a", "b", 3)]      # exhausts after one merge
    assert stats["merges"] == 1
    enc = text.bpe_encode(tiny, n_merges=1).collect()
    assert [tuple(r) for r in enc] == [(0, 3, 3, 6, 2.0)]
