"""Physical-plan quality gates: these assert the properties that make
the operators scale — pruned scans, pushed filters, broadcast joins,
map-side partial aggregation. A plan regression here is a 100 TB
performance bug even when results stay correct."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from golem_spark.session import load_tables


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns_and_pushes_filters(tables):
    q = (tables["lineitem"].filter(F.col("l_orderkey") < 40)
         .select("l_orderkey", "l_quantity"))
    plan = _plan(q)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # only the two needed columns are read
    assert "l_quantity" in scan and "l_extendedprice" not in scan
    # the key-range filter reached the scan
    assert "l_orderkey" in scan and "40" in scan


def test_small_dim_join_broadcasts(spark, tables):
    q = spark.sql("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1""")
    assert "BroadcastHashJoin" in _plan(q)


def test_backend_eval_is_one_map_in_pandas(spark, tables):
    """A beta pass is one local compute per batch and one reduce on the
    driver: a single MapInPandas over the cached frame, with no shuffle
    and no Catalyst aggregation."""
    from golem_spark.backends import build_spark_backend

    be, _ = build_spark_backend(
        tables["lineitem"], ["l_extendedprice", "l_discount", "l_tax"],
        "l_quantity", "gaussian")
    try:
        batch, _ = be._eval_closure(np.ones((4, 1)))
        plan = _plan(be._map_partials(be.df, batch))
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan
    finally:
        be.unpersist()


def test_predict_is_scan_plus_project(tables):
    """Spark-side prediction must not shuffle: it's select-only."""
    from golem_spark.path import owl
    from golem_spark.predict import predict

    li = tables["lineitem"]
    fit = owl(df=li, feature_cols=["l_extendedprice", "l_discount"],
              label_col="l_quantity", family="gaussian", n_sigma=3)
    pred = predict(fit, df=li, feature_cols=["l_extendedprice", "l_discount"],
                   path_idx=0, type="response").select("pred_0")
    plan = _plan(pred)
    assert "Exchange" not in plan  # no shuffle anywhere in a pure map plan


def test_cosine_topk_broadcasts_query_vector(tables):
    from golem_spark.pipeline.similarity import cosine_topk

    q = cosine_topk(tables["embeddings"], query_vec_id=0, k=5)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # top-k is TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def _join_conditions(plan: str) -> list[str]:
    return [l for l in plan.splitlines()
            if ("SortMergeJoin" in l or "BroadcastHashJoin" in l
                or "ShuffledHashJoin" in l)]


def test_jaccard_pairs_join_is_token_keyed(tables):
    """p06's candidate self-join must be keyed on a prefix TOKEN, not on
    the (lang, len_bucket) block alone — a block-only self-join is
    quadratic in block size and dies at 100 TB."""
    from golem_spark.pipeline.dedup import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(tables["documents"], threshold=0.5))
    for cond in _join_conditions(plan):
        if "len_bucket" in cond:  # the candidate self-join
            assert "tok" in cond, cond


def test_simhash_pairs_join_is_chunk_keyed(tables):
    """Pigeonhole chunk index: the self-join key must include the chunk
    value, never the block alone."""
    from golem_spark.pipeline.dedup import simhash_pairs

    plan = _plan(simhash_pairs(tables["documents"], max_hamming=2))
    for cond in _join_conditions(plan):
        if "len_bucket" in cond:
            assert "cval" in cond, cond


def test_minhash_lsh_single_signature_pass(spark, tmp_path):
    """p08 must compute the minhash signature aggregation once per join
    side (2 subtrees), not once per band per side (8 with 4 bands) —
    the posexplode banding replaced the per-band union.

    Scans an ISOLATED copy of the table: the plan-string count is
    order-sensitive otherwise — a persisted frame left by another
    test's shared-cache run canonically matches one join subtree and
    changes how the aggregate nodes print."""
    from golem_spark.pipeline.dedup import MINHASH_A, minhash_lsh_pairs

    path = str(tmp_path / "docs_iso.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .write.parquet(path)
    docs = spark.read.parquet(path)
    plan = _plan(minhash_lsh_pairs(docs))
    # each signature aggregation contributes one partial_min(...) batch
    # of 8 hashes; allow partial+final per side = 8*2*2
    assert plan.count("partial_min") <= 2 * len(MINHASH_A)


def test_ann_ivf_assignment_broadcasts_seeds_no_global_sort(tables):
    """IVF assignment must broadcast the tiny seed set against one scan
    and reduce to cells via hash aggregation — a SortExchange-based
    assignment (global window) would not survive a 100 TB corpus."""
    from golem_spark.pipeline.similarity import ann_ivf_topk

    q = ann_ivf_topk(tables["embeddings"], query_ids=(0,), k=3,
                     n_seeds=4, n_probe=2)
    plan = _plan(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # nearest-cell reduction has map-side combine on the n x n_seeds
    # expansion: a partial max(struct) BEFORE the exchange (structs
    # aren't Tungsten-hashable, so it plans as SortAggregate — the
    # partial/final split is what matters at scale)
    assert "partial_max(struct" in plan
    # top-k per query is rank-limited before the shuffle, not a global
    # sort of all candidates
    assert "WindowGroupLimit" in plan


def test_bloom_probe_join_is_broadcast(tables):
    """The bit set is m_bits-bounded: the probe join must broadcast it
    (a shuffled probe join would defeat the sketch's purpose)."""
    from golem_spark.pipeline.sketch import bloom_probe

    docs = tables["documents"]
    q = bloom_probe(docs.filter(F.col("doc_id") % 2 == 0),
                    docs.filter(F.col("doc_id") % 2 == 1),
                    n=5, m_bits=4096, depth=3)
    assert "BroadcastHashJoin" in _plan(q)


def test_kmeans_step_broadcasts_seeds_and_combines(tables):
    """Seeds broadcast; the per-vector argmax must be a combinable
    partial max(struct), not a sort or window over the corpus."""
    from golem_spark.pipeline.similarity import kmeans_step

    plan = _plan(kmeans_step(tables["embeddings"], k=8))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_max" in plan
    assert "GlobalSort" not in plan


def test_sparse_cosine_pairs_join_keyed_on_term(tables):
    """The candidate self-join must be keyed on the token (inverted
    index), never a doc-level cross product."""
    from golem_spark.pipeline.text import sparse_cosine_pairs

    plan = _plan(sparse_cosine_pairs(tables["documents"], threshold=0.5))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines() if "SortMergeJoin" in l
             or ("HashJoin" in l and "tok" in l)]
    assert any("tok" in l for l in joins)


def test_split_assign_and_histogram_no_shuffle_scan(tables):
    """split_assign is a pure column expression (no Exchange at all);
    histogram's only exchange carries bin-count-sized partials."""
    from golem_spark.operators.relational import histogram, split_assign

    plan = _plan(split_assign(tables["documents"], "doc_id"))
    assert "Exchange" not in plan

    hplan = _plan(histogram(tables["events"], "value", 0.0, 25.0, 20))
    assert hplan.count("HashAggregate") >= 2  # partial + final
    assert "partial_count" in hplan or "partial" in hplan


def test_passage_scrub_shuffles_on_passage_key(tables):
    """First-occurrence selection must partition by the passage string
    (the exact-dedup shuffle shape), not collect or cross-join."""
    from golem_spark.pipeline.dedup import passage_scrub

    plan = _plan(passage_scrub(tables["documents"], n=4))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(chunk" in plan


def test_bm25_broadcasts_scalars_and_filters_query_tokens(tables):
    """The tf pass must filter to the query token set at the scan (a
    pushed In filter), and the df/avglen sides must broadcast."""
    from golem_spark.pipeline.text import bm25_score

    plan = _plan(bm25_score(tables["documents"], ["join", "hash", "scan"]))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_benchmark_containment_broadcasts_benchmark(spark):
    """p89 scale gate: the benchmark gram set must broadcast (map-side
    membership join) — a SortMergeJoin here would shuffle the entire
    exploded corpus gram frame at 100 TB."""
    from golem_spark.pipeline.dedup import benchmark_containment
    from golem_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    q = benchmark_containment(docs, docs.filter(docs.doc_id < 10), n=3)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_join_estimate_uses_partial_topk(spark):
    """p94 scale gate: every k-min sketch must compile to
    TakeOrderedAndProject (per-partition partial top-k, k rows per
    partition cross the network) — a global Sort before the limit would
    shuffle both key sets in full. kmv_join_estimate evaluates eagerly
    (to release its persisted sketches), so the gate audits the shared
    sketch builder it is assembled from."""
    from golem_spark.pipeline.sketch import kmv_key_sketch
    from golem_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    q = kmv_key_sketch(t["orders"], "o_orderkey", k=16)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_pii_scrub_and_winnowing_are_shuffle_free(tables):
    """The round-7 per-row text operators must compile to pure map
    plans: pii_scrub (regex redaction) and winnow_fingerprints (k-gram
    window minima) are embarrassingly parallel by design — any Exchange
    here is a plan regression that turns a linear 100 TB scrub into a
    shuffle."""
    from golem_spark.pipeline.text import pii_scrub, winnow_fingerprints

    assert "Exchange" not in _plan(pii_scrub(tables["documents"]))
    assert "Exchange" not in _plan(winnow_fingerprints(tables["documents"]))


def test_expectation_report_single_scan_single_exchange(tables):
    """The Deequ-style report reduces N rules in ONE aggregation: one
    parquet scan, one single-partition exchange for the final scalar
    merge (the aggregate is map-side partial first)."""
    from golem_spark.operators.profiling import expectation_report

    plan = _plan(expectation_report(
        tables["lineitem"],
        [("q", "l_quantity >= 1"), ("p", "l_extendedprice > 0"),
         ("t", "l_tax >= 0.0 AND l_tax <= 0.08")]))
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()  # map-side combine before the merge


def test_pq_encode_no_corpus_shuffle(tables):
    """PQ encode is ONE Arrow-vectorized projection over the corpus
    scan (the codebook is driver-collected and closure-captured, model-
    sized): never a hashpartitioning shuffle of the corpus, and the
    per-row work is a single MapInArrow node, not per-element
    interpreted expression evaluation."""
    from golem_spark.pipeline.similarity import pq_encode

    plan = _plan(pq_encode(tables["embeddings"]))
    assert "Exchange hashpartitioning" not in plan
    assert "MapInArrow" in plan


def test_pq_topk_broadcasts_lut_and_combines(tables):
    """ADC search joins the corpus codes to the model-sized LUT with a
    broadcast hash join (never a shuffled join), and the per-
    (query, vector) distance sum has map-side partial aggregation."""
    from golem_spark.pipeline.similarity import pq_topk

    plan = _plan(pq_topk(tables["embeddings"]))
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()
    # corpus-sized shuffles: the distance-sum groupBy and the per-query
    # top-k window — anything beyond those two is a plan regression
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivfpq_routes_and_scores_without_corpus_shuffle(tables):
    """IVFADC: cell assignment + PQ encode happen in one projection
    against broadcast seed/codebook rows; the probed-cell restriction
    and the ADC LUT are broadcast joins. The only corpus-sized shuffles
    allowed are the candidate distance-sum groupBy (map-side partial
    first) and the per-query top-k window."""
    from golem_spark.pipeline.similarity import ivfpq_topk

    plan = _plan(ivfpq_topk(tables["embeddings"]))
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()
    assert plan.count("Exchange hashpartitioning") <= 2


def test_dsir_scoring_is_broadcast_and_bucket_bounded(tables):
    """DSIR: the only hash shuffles are the bounded (<= 2*n_buckets
    keys) bucket-count groupBy; per-document scoring is an array fold
    against a broadcast one-row map literal — no corpus-sized explode
    survives to a shuffle and no per-doc groupBy exists at all."""
    from golem_spark.pipeline.text import dsir_weights

    plan = _plan(dsir_weights(tables["documents"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial" in plan.lower()
    # bucket-count groupBy only; a doc_id groupBy would add a third
    assert plan.count("Exchange hashpartitioning") <= 1


def test_semantic_dedup_cell_bounded_join(tables):
    """SemDeDup: routing is a per-row argmax against a broadcast seed
    row (no shuffle); the quadratic pass is a cell-keyed self-join so
    shuffles are bounded to the cell hash exchanges + the drop-list
    distinct + the keep left-join."""
    from golem_spark.pipeline.similarity import semantic_dedup

    plan = _plan(semantic_dedup(tables["embeddings"]))
    # the quadratic pass is a cell-keyed grouped Arrow kernel: the only
    # corpus exchange is the hash partition on the cell key — never an
    # unkeyed corpus x corpus product, and no pair-sized shuffle at all
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsIn" in plan
    exch = [l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l]
    assert exch and all("cell" in l for l in exch)


def test_hard_negatives_cell_bounded_window(tables):
    """Hard-negative mining: Arrow routing, then ONE cell-keyed grouped
    kernel emitting per-anchor top-k directly — no pair-sized shuffle,
    no global window, no cartesian product."""
    from golem_spark.pipeline.similarity import hard_negatives

    plan = _plan(hard_negatives(tables["embeddings"]))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsIn" in plan
    exch = [l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l]
    assert exch and all("cell" in l for l in exch)
    assert "Window" not in plan
