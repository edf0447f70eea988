"""Oracle-checked pipeline kernels: each entry pairs a Spark DataFrame
operator (golem_spark.pipeline.*) with the equivalent DuckDB SQL.

Hash-match determinism relies on the shared md5->60-bit-int primitive
(Spark CONV(SUBSTRING(MD5(x),1,15),16,10) == DuckDB
('0x'||substr(md5(x),1,15))::BIGINT, verified bit-identical) and on
double-cast accumulation for embedding math.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from golem_spark.session import load_tables, session_cached
from golem_spark.operators import graph, relational
from golem_spark.pipeline import dedup, similarity, text

_DUCK_TOKS = r"list_distinct(string_split_regex(trim(text), '\s+'))"
_DUCK_MD5INT = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _q(fn):
    """Adapt an operator over loaded tables into a (spark, sf_dir) query.
    Functions that also want the session/sf_dir (for cross-query shared
    caches) declare keyword params ``spark``/``sf_dir``."""
    import inspect

    wants_ctx = "spark" in inspect.signature(fn).parameters

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = load_tables(spark, sf_dir)
        if wants_ctx:
            return fn(tables, spark=spark, sf_dir=sf_dir)
        return fn(tables)

    run.__wrapped__ = fn  # the rotation fingerprints the real impl
    return run


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
PIPELINE_ORACLES: dict[str, str] = {}


def _add(name: str, fn, duck_sql: str | None):
    PIPELINE_QUERIES[name] = _q(fn)
    if duck_sql is not None:
        PIPELINE_ORACLES[name] = duck_sql


# The dedup stack (p08 pairs, p18 components, p25 keep-list, p92
# cluster stats) derives from ONE MinHash-signature/LSH-pair
# computation; recomputing signatures per query repeats the corpus
# tokenize+hash four times in a bench session. Cache the small pairs /
# components frames per session and sf_dir — values are identical
# (persist changes nothing), each query stays independently runnable,
# and at 100 TB this is the difference between one signature scan and
# four.
def _minhash_pairs_cached(spark, sf_dir: str):
    return session_cached(spark, (sf_dir, "minhash_pairs"), lambda: (
        dedup.minhash_lsh_pairs(load_tables(spark, sf_dir)["documents"])
        .persist()))


def _components_cached(spark, sf_dir: str):
    return session_cached(spark, (sf_dir, "dup_components"), lambda: (
        dedup.dup_components(_minhash_pairs_cached(spark, sf_dir))
        .persist()))


# -- text analysis ----------------------------------------------------------

_add(
    "p01_token_count",
    lambda t: (text.token_count(t["documents"])
               .select("doc_id", "n_tokens", "n_chars_calc", "n_subword_est")
               .orderBy("doc_id")),
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
           length(text)::BIGINT AS n_chars_calc,
           ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0)::BIGINT AS n_subword_est
    FROM documents ORDER BY doc_id
    """,
)

_add(
    "p02_quality_score",
    lambda t: (text.quality_score(t["documents"])
               .select("doc_id", "q_punct_ratio", "q_stop_ratio",
                       "q_mean_wordlen", "quality")
               .orderBy("doc_id")),
    """
    WITH q AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS n_tok,
             length(text)::DOUBLE AS n_char,
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE AS punct,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> list_contains(['the','a','of','to','and','in','is','it','that','for'], x)))::DOUBLE AS n_stop
      FROM documents)
    SELECT doc_id,
           ROUND(punct / greatest(n_char, 1.0), 6) AS q_punct_ratio,
           ROUND(n_stop / greatest(n_tok, 1.0), 6) AS q_stop_ratio,
           ROUND((n_char - (n_tok - 1)) / n_tok, 6) AS q_mean_wordlen,
           ROUND(least(n_tok / 100.0, 1.0) * 0.4
                 + (1.0 - least(punct / greatest(n_char, 1.0) * 10.0, 1.0)) * 0.3
                 + least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3, 6) AS quality
    FROM q ORDER BY doc_id
    """,
)

_LANG_CASES = []
for _lang, _markers in sorted(text.LANG_MARKERS.items()):
    _lst = ",".join(f"'{w}'" for w in _markers)
    _LANG_CASES.append(
        f"len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains([{_lst}], x)))::BIGINT AS h_{_lang}")

_add(
    "p03_lang_id",
    lambda t: (text.lang_id(t["documents"])
               .select("doc_id", "lang_pred", "lang_hits")
               .orderBy("doc_id")),
    f"""
    WITH h AS (SELECT doc_id, {', '.join(_LANG_CASES)} FROM documents)
    SELECT doc_id,
           CASE
             WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0 AND h_zh = 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
             WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
             WHEN h_fr >= h_zh THEN 'fr'
             ELSE 'zh' END AS lang_pred,
           greatest(h_de, h_en, h_es, h_fr, h_zh) AS lang_hits
    FROM h ORDER BY doc_id
    """,
)

_add(
    "p04_fingerprint",
    lambda t: (text.doc_fingerprint(t["documents"])
               .select("doc_id", "fingerprint")
               .orderBy("doc_id")),
    f"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents)
    SELECT doc_id,
           (list_sum(list_transform(range(1, len(toks) + 1),
             i -> ({_DUCK_MD5INT.format(x='toks[i]')} % 1000000000) * i))
            % 2147483648)::BIGINT AS fingerprint
    FROM w ORDER BY doc_id
    """,
)

_add(
    "p23_normalize_text",
    lambda t: (text.normalize_text(t["documents"])
               .select("doc_id", "text_norm", F.md5("text_norm").alias("norm_hash"))
               .orderBy("doc_id")),
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[.,!?;:''"()\[\]{}]', '', 'g'), '\s+', ' ', 'g')) AS text_norm,
           md5(trim(regexp_replace(regexp_replace(lower(text),
                '[.,!?;:''"()\[\]{}]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash
    FROM documents ORDER BY doc_id
    """,
)

_add(
    "p19_tfidf_vectors",
    lambda t: (text.tfidf_vectors(t["documents"])
               .select("doc_id", F.posexplode(F.arrays_zip("idx", "val")))
               .select("doc_id",
                       F.col("col.idx").cast("long").alias("term_idx"),
                       F.col("col.val").alias("weight"))
               .orderBy("doc_id", "term_idx")),
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (
      SELECT tok, COUNT(*)::DOUBLE AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    vocab AS (
      SELECT tok, df, ROW_NUMBER() OVER (ORDER BY df DESC, tok) - 1 AS term_idx
      FROM dfreq WHERE df >= 2)
    SELECT t.doc_id, v.term_idx::BIGINT AS term_idx,
           ROUND(t.tf * (LN((n.n + 1.0) / (v.df + 1.0)) + 1.0), 6) AS weight
    FROM tf t JOIN vocab v USING (tok), n
    ORDER BY doc_id, term_idx
    """,
)

# -- dedup ------------------------------------------------------------------

_add(
    "p05_exact_dedup",
    lambda t: exact_sorted(dedup.exact_dup_groups(t["documents"])),
    """
    SELECT md5(text) AS text_hash,
           COUNT(*)::BIGINT AS n_dups,
           MIN(doc_id) AS min_doc_id
    FROM documents
    GROUP BY md5(text) HAVING COUNT(*) > 1
    ORDER BY text_hash
    """,
)


def exact_sorted(df: DataFrame) -> DataFrame:
    return df.orderBy("text_hash")


_add(
    "p06_jaccard_pairs",
    lambda t: dedup.ngram_jaccard_pairs(t["documents"], threshold=0.5)
    .orderBy("doc_a", "doc_b"),
    f"""
    WITH d AS (
      SELECT doc_id, lang, (n_chars // 100) AS len_bucket,
             {_DUCK_TOKS} AS toks
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE, 6) AS jaccard
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks)))::DOUBLE >= 0.5
    ORDER BY doc_a, doc_b
    """,
)

_MINHASH_AGGS_DUCK = ",\n           ".join(
    f"MIN((({_DUCK_MD5INT.format(x='tok')} % {dedup.MINHASH_P}) * {a % dedup.MINHASH_P} + {i * 40503}) % {dedup.MINHASH_P}) AS mh{i}"
    for i, a in enumerate(dedup.MINHASH_A))

_add(
    "p07_minhash_signatures",
    lambda t: dedup.minhash_signatures(t["documents"]).orderBy("doc_id"),
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
    SELECT doc_id,
           {_MINHASH_AGGS_DUCK}
    FROM toks GROUP BY doc_id ORDER BY doc_id
    """,
)

_BAND_SELECTS_DUCK = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, lang, len_bucket, {b} AS band, "
    f"concat_ws('_', mh{b * dedup.ROWS_PER_BAND}::VARCHAR, mh{b * dedup.ROWS_PER_BAND + 1}::VARCHAR) AS bkey FROM sig"
    for b in range(dedup.N_BANDS))

# the MinHash band CTE chain + pair select, shared by p08 (the pairs
# themselves) and p18 (connected components over those pairs)
_MINHASH_PAIR_CTES = f"""toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    sig0 AS (
      SELECT doc_id,
           {_MINHASH_AGGS_DUCK}
      FROM toks GROUP BY doc_id),
    sig AS (
      SELECT sig0.*, d.lang, (d.n_chars // 100) AS len_bucket
      FROM sig0 JOIN documents d USING (doc_id)),
    bands AS (
{_BAND_SELECTS_DUCK}
    )"""

_MINHASH_PAIRS_SELECT = """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id"""

_add(
    "p08_minhash_lsh_pairs",
    lambda t, spark=None, sf_dir=None: (
        _minhash_pairs_cached(spark, sf_dir).orderBy("doc_a", "doc_b")),
    f"""
    WITH {_MINHASH_PAIR_CTES}
    {_MINHASH_PAIRS_SELECT}
    ORDER BY doc_a, doc_b
    """,
)

_add(
    "p18_dedup_components",
    lambda t, spark=None, sf_dir=None: (
        _components_cached(spark, sf_dir).orderBy("doc_id")),
    f"""
    WITH RECURSIVE {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs),
    reach AS (
      SELECT x AS node, x AS r FROM (SELECT DISTINCT x FROM edges) t
      UNION
      SELECT e.x AS node, reach.r
      FROM edges e JOIN reach ON reach.node = e.y)
    SELECT node AS doc_id, MIN(r)::BIGINT AS rep
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)

_SIMHASH_BITS_DUCK = ",\n           ".join(
    f"SUM(CASE WHEN (h >> {j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16))
_SIMHASH_FP_DUCK = " + ".join(
    f"CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(16))

_add(
    "p09_simhash",
    lambda t: dedup.simhash(t["documents"]).orderBy("doc_id"),
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_MD5INT.format(x='tok')} AS h
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)),
    bits AS (
      SELECT doc_id,
           {_SIMHASH_BITS_DUCK}
      FROM toks GROUP BY doc_id)
    SELECT doc_id, ({_SIMHASH_FP_DUCK})::BIGINT AS simhash
    FROM bits ORDER BY doc_id
    """,
)

_add(
    "p17_simhash_pairs",
    lambda t: dedup.simhash_pairs(t["documents"], max_hamming=2)
    .orderBy("doc_a", "doc_b"),
    f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_MD5INT.format(x='tok')} AS h
      FROM (SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)),
    bits AS (
      SELECT doc_id,
           {_SIMHASH_BITS_DUCK}
      FROM toks GROUP BY doc_id),
    sh AS (
      SELECT b.doc_id, ({_SIMHASH_FP_DUCK})::BIGINT AS simhash,
             d.lang, (d.n_chars // 100) AS len_bucket
      FROM bits b JOIN documents d USING (doc_id))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    ORDER BY doc_a, doc_b
    """,
)

_add(
    "p24_repetition_stats",
    lambda t: (text.repetition_stats(t["documents"])
               .select("doc_id", "dup_token_frac", "dup_bigram_frac",
                       "top_bigram_frac")
               .orderBy("doc_id")),
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks), 1)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS grams
      FROM w)
    SELECT doc_id,
           ROUND((len(toks) - len(list_distinct(toks)))::DOUBLE
                 / greatest(len(toks), 1), 6) AS dup_token_frac,
           ROUND((len(grams) - len(list_distinct(grams)))::DOUBLE
                 / greatest(len(grams), 1), 6) AS dup_bigram_frac,
           ROUND(COALESCE(list_max(list_transform(list_distinct(grams),
                     x -> len(list_filter(grams, b -> b = x))))::DOUBLE, 0.0)
                 / greatest(len(grams), 1), 6) AS top_bigram_frac
    FROM g ORDER BY doc_id
    """,
)

_add(
    "p27_bigram_vocab",
    lambda t: text.bigram_vocab(t["documents"], top_k=100),
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM w)
    SELECT bigram, COUNT(*)::BIGINT AS n
    FROM g GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 100
    """,
)

_add(
    "p28_inverted_index",
    lambda t: text.inverted_index(t["documents"], max_postings=20)
    .orderBy("tok"),
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents),
    d AS (
      SELECT tok, COUNT(*)::BIGINT AS df FROM toks GROUP BY tok),
    p AS (
      SELECT tok,
             array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20),
                             ',') AS postings
      FROM toks GROUP BY tok)
    SELECT tok, df, postings FROM d JOIN p USING (tok) ORDER BY tok
    """,
)

_PLANE_DUCK = ("list_transform(range(0, 64), d -> CASE WHEN (d * 2654435761 + {j} * 40503) % 97 < 48 "
               "THEN 1.0 ELSE -1.0 END)")

# quality formula shared with p02 (documents CTE form), reused by the
# p25 representative-selection oracle
_QUALITY_CTE = """q AS (
      SELECT doc_id,
             ROUND(least(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0) * 0.4
                   + (1.0 - least((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                                  / greatest(length(text), 1.0) * 10.0, 1.0)) * 0.3
                   + least(len(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> list_contains(['the','a','of','to','and','in','is','it','that','for'], x)))
                           / greatest(len(string_split_regex(trim(text), '\\s+')), 1.0) * 5.0, 1.0) * 0.3,
                   6) AS quality
      FROM documents)"""

_add(
    "p25_dedup_keep",
    lambda t, spark=None, sf_dir=None: dedup.dedup_keep_list(
        t["documents"],
        pairs=_minhash_pairs_cached(spark, sf_dir)).orderBy("doc_id"),
    f"""
    WITH RECURSIVE {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs),
    reach AS (
      SELECT x AS node, x AS r FROM (SELECT DISTINCT x FROM edges) t
      UNION
      SELECT e.x AS node, reach.r
      FROM edges e JOIN reach ON reach.node = e.y),
    comp AS (
      SELECT node AS doc_id, MIN(r)::BIGINT AS rep FROM reach GROUP BY node),
    {_QUALITY_CTE},
    wq AS (
      SELECT c.doc_id, c.rep, q.quality FROM comp c JOIN q USING (doc_id)),
    best AS (
      SELECT rep, doc_id AS keep_id FROM (
        SELECT rep, doc_id,
               ROW_NUMBER() OVER (PARTITION BY rep
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM wq) WHERE rn = 1)
    SELECT wq.doc_id, wq.rep, wq.quality,
           (wq.doc_id = best.keep_id) AS keep
    FROM wq JOIN best USING (rep)
    ORDER BY doc_id
    """,
)

_add(
    "p26_contamination",
    lambda t: dedup.contamination_check(
        t["documents"],
        t["documents"].filter(F.col("doc_id") % 13 == 0),
        n=3, min_overlap=0.3)
    .orderBy("doc_id", "probe_id"),
    r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
      FROM tok),
    probe AS (
      SELECT doc_id AS probe_id, gram FROM g WHERE doc_id % 13 = 0),
    psize AS (
      SELECT probe_id, COUNT(*)::DOUBLE AS n_probe FROM probe GROUP BY probe_id),
    hits AS (
      SELECT g.doc_id, p.probe_id, COUNT(*)::DOUBLE AS n_hits
      FROM g JOIN probe p USING (gram)
      WHERE g.doc_id <> p.probe_id
      GROUP BY 1, 2)
    SELECT doc_id, probe_id, ROUND(n_hits / n_probe, 6) AS overlap
    FROM hits JOIN psize USING (probe_id)
    WHERE n_hits / n_probe >= 0.3
    ORDER BY doc_id, probe_id
    """,
)

_add(
    "p29_embed_quantize",
    lambda t: similarity.quantize_embeddings(t["embeddings"]).orderBy("vec_id"),
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    s AS (
      SELECT vec_id, ev,
             greatest(list_max(list_transform(ev, x -> abs(x))) / 127.0,
                      1e-12) AS scale
      FROM e),
    q AS (
      SELECT vec_id, scale, ev,
             list_transform(ev, x -> floor(x / scale + 0.5)::BIGINT) AS qs
      FROM s)
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           list_sum(list_transform(qs, x -> abs(x)))::BIGINT AS q_l1,
           ROUND(sqrt(list_sum(list_transform(range(1, len(ev) + 1),
                     i -> (ev[i] - qs[i] * scale) * (ev[i] - qs[i] * scale)))
                 / len(ev)), 6) AS rmse
    FROM q ORDER BY vec_id
    """,
)

_add(
    "p30_srp_project",
    lambda t: (similarity.srp_project(t["embeddings"], out_dim=16)
               .select("vec_id", F.col("dim").cast("long").alias("dim"), "proj")
               .orderBy("vec_id", "dim")),
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings)
    SELECT vec_id, j::BIGINT AS dim,
           ROUND(list_dot_product(ev, {_PLANE_DUCK.format(j='j')}), 6) AS proj
    FROM e, range(0, 16) t(j)
    ORDER BY vec_id, dim
    """,
)

# -- similarity search ------------------------------------------------------

_add(
    "p10_cosine_topk",
    lambda t: similarity.cosine_topk(t["embeddings"], query_vec_id=0, k=10),
    """
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings WHERE vec_id <> 0)
    SELECT vec_id,
           ROUND(list_dot_product(ev, qv)
                 / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
    FROM e, q
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """,
)

_add(
    "p22_knn_join",
    lambda t: similarity.knn_join(t["embeddings"], query_ids=(0, 1, 2), k=5),
    """
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2)),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_dot_product(ev, qv)
                   / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM e, q WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rk
      FROM scored)
    SELECT query_id, vec_id, cos FROM ranked WHERE rk <= 5
    ORDER BY query_id, cos DESC, vec_id
    """,
)

_SIG_DUCK = " + ".join(
    f"CASE WHEN list_dot_product(ev, {_PLANE_DUCK.format(j=j)}) > 0 THEN {2 ** j} ELSE 0 END"
    for j in range(6))
_SIG10_DUCK = " + ".join(
    f"CASE WHEN list_dot_product(ev, {_PLANE_DUCK.format(j=j)}) > 0 THEN {2 ** j} ELSE 0 END"
    for j in range(10))

_add(
    "p11_ann_lsh_topk",
    lambda t: similarity.ann_lsh_topk(t["embeddings"], query_ids=(0, 1, 2), k=5)
    .orderBy("query_id", F.col("cos").desc(), "vec_id"),
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    sig AS (
      SELECT vec_id, ev, ({_SIG_DUCK})::BIGINT AS bucket FROM e),
    q AS (
      SELECT vec_id AS query_id, ev AS qv, bucket AS qbucket
      FROM sig WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, s.vec_id,
             ROUND(list_dot_product(s.ev, q.qv)
                   / (sqrt(list_dot_product(s.ev, s.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
      FROM sig s JOIN q ON s.bucket = q.qbucket AND s.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, cos FROM ranked WHERE rn <= 5
    ORDER BY query_id, cos DESC, vec_id
    """,
)

_add(
    "p16_ann_ivf_topk",
    # n_seeds pinned to the oracle fixture size (library default is
    # 'auto' = corpus-scaled, similarity.auto_n_seeds)
    lambda t: similarity.ann_ivf_topk(t["embeddings"], query_ids=(0, 1, 2),
                                      k=5, n_seeds=16)
    .orderBy("query_id", F.col("cos").desc(), "vec_id"),
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev FROM embeddings),
    n AS (
      SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (
      SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n WHERE vec_id < 16),
    x AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                                         s.seed_id) AS rn
      FROM n, s),
    cells AS (
      SELECT x.vec_id, x.seed_id AS cell, n.ev, n.nrm
      FROM x JOIN n ON x.vec_id = n.vec_id WHERE x.rn = 1),
    qp AS (
      SELECT x.vec_id AS query_id, x.seed_id AS qcell, n.ev AS qv, n.nrm AS qnrm
      FROM x JOIN n ON x.vec_id = n.vec_id
      WHERE x.vec_id IN (0, 1, 2) AND x.rn <= 2),
    scored AS (
      SELECT q.query_id, c.vec_id,
             ROUND(list_dot_product(c.ev, q.qv) / (c.nrm * q.qnrm), 6) AS cos
      FROM cells c JOIN qp q ON c.cell = q.qcell AND c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, cos FROM ranked WHERE rn <= 5
    ORDER BY query_id, cos DESC, vec_id
    """,
)

_add(
    "p12_embedding_near_dup",
    lambda t: similarity.embedding_near_dup_pairs(t["embeddings"], threshold=0.95)
    .orderBy("id_a", "id_b"),
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    sig AS (
      SELECT vec_id, ev, ({_SIG10_DUCK})::BIGINT AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.ev, b.ev)
                 / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.ev, b.ev)
          / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) >= 0.95
    ORDER BY id_a, id_b
    """,
)

# -- relational operators (operators/relational.py) -------------------------

def _sessionize_query(t):
    # ts is TIMESTAMP_NTZ (parquet timestamp[us]); session tz is UTC so
    # the cast to TIMESTAMP is identity and matches DuckDB's epoch_ms
    ev = t["events"].withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
    sess = relational.sessionize(ev, "user_id", "ts_ms", gap=600_000)
    return (sess.groupBy("user_id")
            .agg((F.max("session_id") + 1).alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events"))
            .orderBy("user_id"))


_add(
    "p13_sessionize",
    _sessionize_query,
    """
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ts_ms,
             LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) AS prev
      FROM events),
    s AS (
      SELECT user_id,
             SUM(CASE WHEN prev IS NULL OR ts_ms - prev > 600000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_ms
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
      FROM e)
    SELECT user_id,
           (MAX(session_id) + 1)::BIGINT AS n_sessions,
           COUNT(*)::BIGINT AS n_events
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)


def _topk_query(t):
    o = t["orders"].withColumn("cust_bucket", (F.col("o_custkey") % 10).cast("long"))
    top = relational.topk_per_group(o, ["cust_bucket"], "o_totalprice", 3,
                                    tiebreak_cols=["o_orderkey"])
    return (top.select("cust_bucket", "o_orderkey",
                       F.round("o_totalprice", 2).alias("price"))
            .orderBy("cust_bucket", "o_orderkey"))


_add(
    "p14_topk_per_group",
    _topk_query,
    """
    WITH r AS (
      SELECT (o_custkey % 10)::BIGINT AS cust_bucket, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey % 10
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    SELECT cust_bucket, o_orderkey, ROUND(o_totalprice, 2) AS price
    FROM r WHERE rn <= 3
    ORDER BY cust_bucket, o_orderkey
    """,
)


def _asof_query(t):
    ev = (t["events"]
          .withColumn("event_date",
                      F.date_add(F.lit("1997-06-01").cast("date"),
                                 (F.col("event_id") % 365).cast("int")))
          .select("event_id", "user_id", "event_date"))
    orders = t["orders"].select(F.col("o_custkey").alias("user_id"),
                                F.col("o_orderdate").cast("date").alias("odate"),
                                "o_totalprice", "o_orderkey")
    # deterministic right side: keep the max-price order per (cust, date)
    orders = (orders.groupBy("user_id", "odate")
              .agg(F.max("o_totalprice").alias("best_price")))
    joined = relational.asof_join(
        ev.withColumn("ts_d", F.unix_date(F.col("event_date"))),
        orders.withColumn("ts_d", F.unix_date(F.col("odate"))),
        key="user_id", left_ts="ts_d", right_ts="ts_d",
        right_cols=["best_price"])
    return (joined.select("event_id", "user_id",
                          F.round("best_price_asof", 2).alias("price_asof"))
            .orderBy("event_id"))


_add(
    "p15_asof_join",
    _asof_query,
    """
    WITH ev AS (
      SELECT event_id, user_id,
             (DATE '1997-06-01' + INTERVAL ((event_id % 365)::INT) DAY)::DATE AS event_date
      FROM events),
    ords AS (
      SELECT o_custkey AS user_id, o_orderdate::DATE AS odate,
             MAX(o_totalprice) AS best_price
      FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id,
           ROUND((SELECT o.best_price FROM ords o
                  WHERE o.user_id = e.user_id AND o.odate <= e.event_date
                  ORDER BY o.odate DESC LIMIT 1), 2) AS price_asof
    FROM ev e
    ORDER BY e.event_id
    """,
)

# -- deterministic sampling -------------------------------------------------

_add(
    "p20_hash_sample",
    lambda t: (relational.hash_sample(t["documents"], "doc_id", 0.25, seed=7)
               .select("doc_id", "lang").orderBy("doc_id")),
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_DUCK_MD5INT.format(x="concat(doc_id::VARCHAR, '_7')")}
          < CAST(0.25 * 1152921504606846976 AS BIGINT)
    ORDER BY doc_id
    """,
)

_add(
    "p21_stratified_sample",
    lambda t: (relational.stratified_hash_sample(
        t["documents"], "doc_id", "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.1}, seed=7)
               .groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
               .orderBy("lang")),
    f"""
    SELECT lang, COUNT(*)::BIGINT AS n_kept FROM documents
    WHERE {_DUCK_MD5INT.format(x="concat(doc_id::VARCHAR, '_7')")}
          < CASE lang WHEN 'en' THEN CAST(0.5  * 1152921504606846976 AS BIGINT)
                      WHEN 'de' THEN CAST(0.25 * 1152921504606846976 AS BIGINT)
                      WHEN 'fr' THEN CAST(0.1  * 1152921504606846976 AS BIGINT)
                      END
    GROUP BY lang ORDER BY lang
    """,
)

# -- sketches / packing / semi-structured (round-4 additions) ---------------

from golem_spark.pipeline import sketch  # noqa: E402

_add(
    "p31_kmv_distinct",
    lambda t: sketch.kmv_distinct(t["lineitem"], "l_partkey", k=64),
    sketch.kmv_distinct_sql("lineitem", "l_partkey", 64, 0),
)

_add(
    "p32_cms_token_freq",
    lambda t: sketch.cms_token_freq(t["documents"]),
    sketch.cms_token_freq_sql(),
)

_add(
    "p33_lm_score",
    lambda t: (text.lm_score(t["documents"])
               .select("doc_id", "lm_logprob", "n_tokens")
               .orderBy("doc_id")),
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    counts AS (
      SELECT tok, COUNT(*)::DOUBLE AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT COUNT(*)::DOUBLE AS total FROM toks)
    SELECT doc_id,
           ROUND(AVG(LN(cnt / total)), 6) AS lm_logprob,
           COUNT(*)::BIGINT AS n_tokens
    FROM toks JOIN counts USING (tok), tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)

_add(
    "p34_chunk_tokens",
    lambda t: (text.chunk_tokens(t["documents"], chunk_size=32, overlap=8)
               .orderBy("doc_id", "chunk_id")),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CAST(ceil(greatest(len(toks) - 8, 1) / 24.0) AS INT) AS n_chunks
      FROM w),
    u AS (
      SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id FROM c)
    SELECT doc_id, chunk_id::BIGINT AS chunk_id,
           len(list_slice(toks, chunk_id * 24 + 1,
                          least(chunk_id * 24 + 32, n)))::BIGINT AS chunk_tokens,
           md5(array_to_string(list_slice(toks, chunk_id * 24 + 1,
                                          least(chunk_id * 24 + 32, n)), ' '))
             AS chunk_hash
    FROM u ORDER BY doc_id, chunk_id
    """,
)

_add(
    "p35_pack_sequences",
    lambda t: (relational.pack_sequences(
        text.token_count(t["documents"]), "n_tokens", "doc_id",
        capacity=2048)
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("bin_tokens"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
        .orderBy("bin_id")),
    """
    WITH tc AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             (SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens) AS cum_before
      FROM tc)
    SELECT CAST(floor(cum_before / 2048.0) AS BIGINT) AS bin_id,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM c GROUP BY 1 ORDER BY bin_id
    """,
)

_add(
    "p36_dup_ngram_fraction",
    lambda t: (dedup.dup_ngram_fraction(t["documents"], n=5)
               .orderBy("doc_id")),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 4, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
      FROM w),
    gdf AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS gdf FROM g GROUP BY gram)
    SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN gdf > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           ROUND(SUM(CASE WHEN gdf > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(COUNT(*), 1)::DOUBLE, 6) AS dup_frac
    FROM g JOIN gdf USING (gram)
    GROUP BY doc_id ORDER BY doc_id
    """,
)

_add(
    "p37_json_extract",
    lambda t: (t["events"]
               .select("event_type", "value",
                       F.get_json_object("props", "$.k").cast("long")
                       .alias("k"))
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.avg(F.col("k").cast("double")), 6)
                    .alias("avg_k"),
                    F.round(F.sum(F.col("value") * F.col("k")), 4)
                    .alias("sum_vk"))
               .orderBy("event_type")),
    """
    WITH e AS (
      SELECT event_type, value,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, COUNT(*)::BIGINT AS n,
           ROUND(AVG(k::DOUBLE), 6) AS avg_k,
           ROUND(SUM(value * k), 4) AS sum_vk
    FROM e GROUP BY event_type ORDER BY event_type
    """,
)

# -- relational OLAP breadth: rollup, running windows, exact quantiles ------

def _rollup_query(t):
    out = relational.rollup_agg(
        t["lineitem"], ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n"),
         F.round(F.sum("l_quantity") / 1000, 4).alias("sum_qty_k"),
         F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 / 1000000, 4).alias("rev_mm")])
    return (out.select("l_returnflag", "l_linestatus", "n", "sum_qty_k",
                       "rev_mm")
            .orderBy("l_returnflag", "l_linestatus"))


_add(
    "p38_rollup_metrics",
    _rollup_query,
    """
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
           ELSE l_returnflag END AS l_returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
           ELSE l_linestatus END AS l_linestatus,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(l_quantity) / 1000, 4) AS sum_qty_k,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) / 1000000, 4) AS rev_mm
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY l_returnflag, l_linestatus
    """,
)


def _running_query(t):
    run = relational.running_totals(
        t["orders"], "o_custkey", ["o_orderdate", "o_orderkey"],
        "o_totalprice")
    return (run.select("o_custkey", "o_orderkey", "run_n",
                       F.round("run_sum", 2).alias("run_sum"))
            .orderBy("o_custkey", "o_orderkey"))


_add(
    "p39_running_totals",
    _running_query,
    """
    SELECT o_custkey, o_orderkey,
           COUNT(*) OVER w AS run_n,
           ROUND(SUM(o_totalprice) OVER w, 2) AS run_sum
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)


_QUANTILE_QS = [0.25, 0.5, 0.75, 0.9]

_add(
    "p40_group_quantiles",
    lambda t: (relational.group_quantiles(t["events"], "event_type",
                                          "value", _QUANTILE_QS)
               .orderBy("event_type", "q")),
    f"""
    SELECT event_type, unnest({_QUANTILE_QS}) AS q,
           unnest(percentile_disc({_QUANTILE_QS})
                  WITHIN GROUP (ORDER BY value)) AS value
    FROM events GROUP BY event_type
    ORDER BY event_type, q
    """,
)


_SPLIT_THRESH = {"train": int(0.8 * (1 << 60)), "val": int(0.9 * (1 << 60))}

_add(
    "p41_split_assign",
    lambda t: (relational.split_assign(t["documents"], "doc_id",
                                       [("train", 0.8), ("val", 0.1),
                                        ("test", 0.1)], seed=7)
               .select("doc_id", "split").orderBy("doc_id")),
    f"""
    SELECT doc_id,
           CASE WHEN {_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_7'")}
                     < {_SPLIT_THRESH["train"]} THEN 'train'
                WHEN {_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_7'")}
                     < {_SPLIT_THRESH["val"]} THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
)

# -- vocabulary coverage + HLL sketch ---------------------------------------

_add(
    "p42_vocab_coverage",
    lambda t: (text.vocab_coverage(t["documents"], top_k=100)
               .orderBy("rank")),
    """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    c AS (SELECT tok, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT SUM(cnt)::DOUBLE AS total FROM c),
    top AS (
      SELECT tok, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, tok
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cnt
      FROM c)
    SELECT rank::BIGINT AS rank, tok, cnt,
           ROUND(cum_cnt / total, 6) AS cum_frac
    FROM top, tot WHERE rank <= 100 ORDER BY rank
    """,
)

_add(
    "p43_hll_distinct",
    lambda t: sketch.hll_distinct(t["lineitem"], "l_partkey", n_buckets=64),
    sketch.hll_distinct_sql("lineitem", "l_partkey", 64, 0),
)

# -- passage-level exact dedup (C4-style) -----------------------------------

_add(
    "p44_passage_scrub",
    lambda t: (dedup.passage_scrub(t["documents"], n=4)
               .orderBy("doc_id")),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    ch AS (
      SELECT doc_id, (i - 1)::BIGINT AS pos,
             array_to_string(list_slice(toks, (i-1)*4 + 1, (i-1)*4 + 4), ' ')
               AS chunk
      FROM w, unnest(range(1, len(toks) // 4 + 1)) AS t(i)),
    k AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM ch),
    body AS (
      SELECT doc_id,
             COUNT(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1)
               AS body
      FROM k GROUP BY doc_id)
    SELECT w.doc_id, (len(toks) // 4)::BIGINT AS n_chunks,
           COALESCE(n_kept, 0) AS n_kept,
           md5(trim(concat_ws(' ', COALESCE(body, ''),
             CASE WHEN len(toks) % 4 > 0
                  THEN array_to_string(list_slice(toks, (len(toks)//4)*4 + 1,
                                                  len(toks)), ' ')
                  ELSE '' END))) AS clean_md5
    FROM w LEFT JOIN body ON w.doc_id = body.doc_id
    ORDER BY w.doc_id
    """,
)

# -- embedding cluster statistics -------------------------------------------

_add(
    "p45_label_centroids",
    lambda t: (similarity.label_centroids(t["embeddings"])
               .orderBy("label")),
    """
    WITH ex AS (
      SELECT label, vec_id, i::BIGINT AS pos, embedding[i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
    cent AS (
      SELECT label, pos, ROUND(AVG(val), 6) AS cval
      FROM ex GROUP BY label, pos),
    pv AS (
      SELECT ex.label, ex.vec_id,
             SUM(val * cval) AS dot,
             SQRT(SUM(val * val)) AS vnorm,
             SQRT(SUM(cval * cval)) AS cnorm
      FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
      GROUP BY ex.label, ex.vec_id)
    SELECT label, COUNT(*)::BIGINT AS n_members,
           ROUND(MAX(cnorm), 6) AS centroid_norm,
           ROUND(SUM(ROUND(dot / (vnorm * cnorm) * 1e6, 0)::BIGINT)
                 / (COUNT(*) * 1e6), 6) AS avg_cos
    FROM pv GROUP BY label ORDER BY label
    """,
)

_add(
    "p46_kmeans_step",
    lambda t: (similarity.kmeans_step(t["embeddings"], k=8)
               .orderBy("seed_id")),
    """
    WITH s AS (
      SELECT vec_id AS seed_id,
             list_transform(embedding, x -> x::DOUBLE) AS sv
      FROM embeddings WHERE vec_id < 8),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    scored AS (
      SELECT vec_id, seed_id,
             ROUND(list_dot_product(ev, sv)
                   / (sqrt(list_dot_product(ev, ev))
                      * sqrt(list_dot_product(sv, sv))), 6) AS cos
      FROM e, s),
    best AS (
      SELECT vec_id, seed_id, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, seed_id) AS rn
      FROM scored)
    SELECT seed_id, COUNT(*)::BIGINT AS n_assigned,
           ROUND(SUM(ROUND(cos * 1e6, 0)::BIGINT) / (COUNT(*) * 1e6), 6)
             AS mean_cos,
           ROUND((COUNT(*) * 1000000 - SUM(ROUND(cos * 1e6, 0)::BIGINT))
                 / 1e6, 6) AS inertia
    FROM best WHERE rn = 1
    GROUP BY seed_id ORDER BY seed_id
    """,
)


# -- bloom-filter membership + quantile-window breadth ----------------------

def _bloom_query(t):
    docs = t["documents"]
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    return sketch.bloom_probe(corpus, probe, n=5, m_bits=8192, depth=3)


_add(
    "p47_bloom_probe",
    _bloom_query,
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 4, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
      FROM w),
    cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
    pg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 1),
    bits AS (
      SELECT DISTINCT unnest([(('0x' || substr(md5('b0_' || gram), 1, 15))::BIGINT) % 8192, (('0x' || substr(md5('b1_' || gram), 1, 15))::BIGINT) % 8192, (('0x' || substr(md5('b2_' || gram), 1, 15))::BIGINT) % 8192]) AS pos FROM cg),
    probe_pos AS (
      SELECT gram, unnest([(('0x' || substr(md5('b0_' || gram), 1, 15))::BIGINT) % 8192, (('0x' || substr(md5('b1_' || gram), 1, 15))::BIGINT) % 8192, (('0x' || substr(md5('b2_' || gram), 1, 15))::BIGINT) % 8192]) AS pos FROM pg),
    passes AS (
      SELECT gram FROM probe_pos JOIN bits USING (pos)
      GROUP BY gram HAVING COUNT(*) = 3),
    truth AS (SELECT gram FROM pg WHERE gram IN (SELECT gram FROM cg)),
    s AS (
      SELECT (SELECT COUNT(*) FROM bits) AS n_bits_set,
             (SELECT COUNT(*) FROM pg) AS n_probe,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM passes) AS n_pass)
    SELECT 8192::BIGINT AS m_bits, 3::BIGINT AS depth,
           n_bits_set::BIGINT AS n_bits_set, n_probe::BIGINT AS n_probe,
           n_true::BIGINT AS n_true, n_pass::BIGINT AS n_pass,
           (n_pass - n_true)::BIGINT AS n_false_pos,
           ROUND((n_pass - n_true)::DOUBLE
                 / greatest(n_probe - n_true, 1)::DOUBLE, 6) AS fpr
    FROM s
    """,
)


def _ntile_query(t):
    out = relational.ntile_buckets(
        t["orders"], "o_orderpriority", ["o_totalprice", "o_orderkey"],
        n_tiles=4)
    return (out.groupBy("o_orderpriority", "tile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price"))
            .orderBy("o_orderpriority", "tile"))


_add(
    "p48_ntile_buckets",
    _ntile_query,
    """
    WITH b AS (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS tile
      FROM orders)
    SELECT o_orderpriority, tile, COUNT(*)::BIGINT AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM b GROUP BY o_orderpriority, tile
    ORDER BY o_orderpriority, tile
    """,
)


def _winsor_query(t):
    out = relational.winsorize_by_group(
        t["orders"], "o_orderpriority", "o_totalprice", lo=0.05, hi=0.95)
    return (out.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice") / 1000, 4).alias("sum_raw_k"),
                 F.round(F.sum("o_totalprice_w") / 1000, 4)
                 .alias("sum_wins_k"))
            .orderBy("o_orderpriority"))


_add(
    "p49_winsorize",
    _winsor_query,
    """
    WITH b AS (
      SELECT o_orderpriority,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo_v,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi_v
      FROM orders GROUP BY o_orderpriority)
    SELECT o.o_orderpriority, COUNT(*)::BIGINT AS n,
           ROUND(SUM(o_totalprice) / 1000, 4) AS sum_raw_k,
           ROUND(SUM(least(greatest(o_totalprice, lo_v), hi_v)) / 1000, 4)
             AS sum_wins_k
    FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)

# -- bigram LM scoring, group z-scores, histogram ---------------------------

_add(
    "p50_bigram_lm_score",
    lambda t: (text.bigram_lm_score(t["documents"])
               .orderBy("doc_id")),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    eb AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram, toks[i] AS w1
      FROM w, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)),
    bc AS (SELECT bigram, COUNT(*) AS c12 FROM eb GROUP BY bigram),
    uni AS (SELECT unnest(toks) AS tok FROM w),
    uc AS (SELECT tok, COUNT(*) AS c1 FROM uni GROUP BY tok),
    v AS (SELECT COUNT(*) AS v FROM uc)
    SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(AVG(ln((c12 + 0.5) / (c1 + 0.5 * v))), 6) AS avg_logp
    FROM eb JOIN bc USING (bigram) JOIN uc ON eb.w1 = uc.tok, v
    GROUP BY doc_id ORDER BY doc_id
    """,
)

_add(
    "p51_group_zscore",
    lambda t: (text.group_zscore(t["documents"], "lang", "n_chars")
               .select("doc_id", "lang", F.round("z", 6).alias("z"))
               .orderBy("doc_id")),
    """
    SELECT doc_id, lang,
           ROUND(CASE WHEN stddev_samp(n_chars) OVER (PARTITION BY lang) > 0
                 THEN (n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                      / stddev_samp(n_chars) OVER (PARTITION BY lang)
                 ELSE 0.0 END, 6) AS z
    FROM documents ORDER BY doc_id
    """,
)

_add(
    "p52_value_histogram",
    lambda t: (relational.histogram(t["events"], "value", lo=0.0,
                                    width=25.0, n_bins=20)
               .select("bin", "bin_lo", "n", F.round("sum_v", 4)
                       .alias("sum_v"))
               .orderBy("bin")),
    """
    WITH b AS (
      SELECT least(greatest(floor(value / 25.0), 0), 19)::BIGINT AS bin,
             value
      FROM events)
    SELECT bin, ROUND(bin * 25.0, 6) AS bin_lo, COUNT(*)::BIGINT AS n,
           ROUND(SUM(value), 4) AS sum_v
    FROM b GROUP BY bin ORDER BY bin
    """,
)

# -- sparse TF-IDF cosine pair join -----------------------------------------

_add(
    "p53_sparse_cosine_pairs",
    lambda t: (text.sparse_cosine_pairs(t["documents"], threshold=0.5,
                                        max_df_frac=0.5)
               .orderBy("doc_a", "doc_b")),
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*)::DOUBLE AS tf
           FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    kept AS (SELECT tok, df FROM dfreq, nd WHERE df <= 0.5 * n),
    cells AS (
      SELECT doc_id, tf.tok, tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS w
      FROM tf JOIN kept ON tf.tok = kept.tok, nd),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm
              FROM cells GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM cells a JOIN cells b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cos
    FROM dots JOIN norms na ON dots.doc_a = na.doc_id
              JOIN norms nb ON dots.doc_b = nb.doc_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)

# -- token entropy + percentile rank ----------------------------------------

_add(
    "p54_token_entropy",
    lambda t: text.token_entropy(t["documents"]).orderBy("doc_id"),
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    c AS (SELECT doc_id, tok, COUNT(*)::DOUBLE AS c
          FROM toks GROUP BY doc_id, tok)
    SELECT doc_id, SUM(c)::BIGINT AS n_tokens,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
)

_add(
    "p55_percentile_rank",
    lambda t: (relational.percentile_rank(t["documents"], "lang",
                                          ["n_chars", "doc_id"])
               .select("doc_id", "lang",
                       F.round("pct_rank", 6).alias("pct_rank"))
               .orderBy("doc_id")),
    """
    SELECT doc_id, lang,
           ROUND(CUME_DIST() OVER (PARTITION BY lang
                                   ORDER BY n_chars, doc_id), 6) AS pct_rank
    FROM documents ORDER BY doc_id
    """,
)

# -- multimodal feature extraction (binary payload plumbing) ----------------

from golem_spark.pipeline import multimodal  # noqa: E402


def _media_query(t):
    media = multimodal.attach_fake_media(t["documents"])
    return (multimodal.extract_features(media, with_feat=False)
            .orderBy("doc_id"))


_add(
    "p56_media_features",
    _media_query,
    """
    WITH b AS (
      SELECT doc_id, ord(substr(text, i, 1))::DOUBLE AS byte
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
    c AS (
      SELECT doc_id, byte, COUNT(*)::DOUBLE AS c
      FROM b GROUP BY doc_id, byte)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                ELSE 'audio/wav' END AS media_type,
           SUM(c)::BIGINT AS n_bytes,
           ROUND(SUM(byte * c) / SUM(c), 6) AS byte_mean,
           ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
             AS byte_entropy
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
)

# -- PMI collocations + fixed-quota sampling --------------------------------

_add(
    "p57_bigram_pmi",
    lambda t: text.bigram_pmi(t["documents"], top_k=20, min_count=5),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    eb AS (
      SELECT toks[i] || ' ' || toks[i+1] AS bigram
      FROM w, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)),
    bc AS (SELECT bigram, COUNT(*)::BIGINT AS c12 FROM eb GROUP BY bigram),
    uni AS (
      SELECT tok, COUNT(*)::BIGINT AS c
      FROM (SELECT unnest(toks) AS tok FROM w) GROUP BY tok),
    tot AS (SELECT COUNT(*)::DOUBLE AS n_big FROM eb)
    SELECT bigram, c12, u1.c AS c1, u2.c AS c2,
           ROUND(ln(c12 * n_big / (u1.c * u2.c)), 6) AS pmi
    FROM bc
    JOIN uni u1 ON u1.tok = string_split(bigram, ' ')[1]
    JOIN uni u2 ON u2.tok = string_split(bigram, ' ')[2], tot
    WHERE c12 >= 5
    ORDER BY pmi DESC, bigram LIMIT 20
    """,
)

_add(
    "p58_quota_sample",
    lambda t: (relational.quota_sample(t["documents"], "doc_id", "lang",
                                       k=5, seed=11)
               .select("doc_id", "lang").orderBy("doc_id")),
    f"""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_11'")},
                        doc_id) AS rn
      FROM documents)
    SELECT doc_id, lang FROM r WHERE rn <= 5 ORDER BY doc_id
    """,
)

# -- PageRank over the part co-purchase graph -------------------------------

from golem_spark.operators import graph  # noqa: E402


def _pagerank_query(t):
    edges = graph.copurchase_edges(t["lineitem"])
    pr = graph.pagerank(edges, iterations=2, damping=0.85)
    out = pr.select(F.col("node").alias("l_partkey"),
                    F.round(F.col("pr") * 1e6, 4).alias("pr_ppm"))
    return out.orderBy(F.desc("pr_ppm"), "l_partkey").limit(20)


_add(
    "p59_pagerank",
    _pagerank_query,
    """
    WITH parts AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    edges AS (
      SELECT DISTINCT a.p AS src, b.p AS dst
      FROM parts a JOIN parts b ON a.k = b.k AND a.p <> b.p),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, COUNT(*)::DOUBLE AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n AS pr FROM nodes, nn),
    c1 AS (
      SELECT e.dst, SUM(r.pr / d.deg) AS inflow
      FROM edges e JOIN deg d ON e.src = d.src
                   JOIN r0 r ON r.node = e.src
      GROUP BY e.dst),
    d1 AS (
      SELECT COALESCE(SUM(r.pr), 0.0) AS dmass
      FROM r0 r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL),
    r1 AS (
      SELECT nodes.node,
             (0.15 + 0.85 * dmass) / n + 0.85 * COALESCE(inflow, 0.0) AS pr
      FROM nodes LEFT JOIN c1 ON c1.dst = nodes.node, nn, d1),
    c2 AS (
      SELECT e.dst, SUM(r.pr / d.deg) AS inflow
      FROM edges e JOIN deg d ON e.src = d.src
                   JOIN r1 r ON r.node = e.src
      GROUP BY e.dst),
    d2 AS (
      SELECT COALESCE(SUM(r.pr), 0.0) AS dmass
      FROM r1 r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL),
    r2 AS (
      SELECT nodes.node,
             (0.15 + 0.85 * dmass) / n + 0.85 * COALESCE(inflow, 0.0) AS pr
      FROM nodes LEFT JOIN c2 ON c2.dst = nodes.node, nn, d2)
    SELECT node AS l_partkey, ROUND(pr * 1e6, 4) AS pr_ppm
    FROM r2
    ORDER BY pr_ppm DESC, l_partkey LIMIT 20
    """,
)

# -- CDC upsert, pivot, unpivot ---------------------------------------------

def _upsert_query(t):
    # prices ride as EXACT integer cents end-to-end: ROUND(x*1.1, 2) on
    # doubles is engine-specific at half-cent boundaries (49 differing
    # rows at sf0.1), and double sums are order-sensitive — integer
    # cents with an integer-division reprice are identical everywhere
    orders = t["orders"].withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    base = orders.select("o_orderkey", "o_orderstatus", "cents",
                         F.lit(0).alias("ver"))
    # synthetic change set: odd keys repriced +10% (half-up on cents,
    # pure integer arithmetic), keys % 100 == 0 deleted
    changes = (orders.filter((F.col("o_orderkey") % 2 == 1)
                             | (F.col("o_orderkey") % 100 == 0))
               .select("o_orderkey", "o_orderstatus",
                       F.expr("(cents * 11 + 5) div 10").alias("cents"),
                       F.lit(1).alias("ver"))
               .withColumn("op", F.when(F.col("o_orderkey") % 100 == 0,
                                        "delete").otherwise("upsert")))
    merged = relational.upsert_snapshot(base, changes, "o_orderkey", "ver",
                                        op_col="op")
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("cents") / F.lit(100000.0), 3).alias("sum_k"),
                 F.sum(F.col("ver")).alias("n_changed"))
            .orderBy("o_orderstatus"))


_add(
    "p60_upsert_snapshot",
    _upsert_query,
    """
    WITH src AS (
      SELECT *, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    base AS (
      SELECT o_orderkey, o_orderstatus, cents, 0 AS ver,
             'upsert' AS op, 0 AS src
      FROM src),
    changes AS (
      SELECT o_orderkey, o_orderstatus,
             (cents * 11 + 5) // 10 AS cents, 1 AS ver,
             CASE WHEN o_orderkey % 100 = 0 THEN 'delete'
                  ELSE 'upsert' END AS op, 1 AS src
      FROM src
      WHERE o_orderkey % 2 = 1 OR o_orderkey % 100 = 0),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY ver DESC, src DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM changes))
    SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
           ROUND(SUM(cents) / 100000.0, 3) AS sum_k,
           SUM(ver)::BIGINT AS n_changed
    FROM merged WHERE rn = 1 AND op <> 'delete'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_add(
    "p61_pivot_events",
    lambda t: (t["events"]
               .withColumn("bucket", (F.col("user_id") % 10).cast("long"))
               .groupBy("bucket")
               .pivot("event_type", _EVENT_TYPES)
               .agg(F.count(F.lit(1)))
               .na.fill(0)
               .orderBy("bucket")),
    """
    SELECT (user_id % 10)::BIGINT AS bucket,
           COUNT(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')::BIGINT AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')::BIGINT AS view
    FROM events GROUP BY bucket ORDER BY bucket
    """,
)

_add(
    "p62_unpivot_lineitem",
    lambda t: (t["lineitem"]
               .unpivot("l_returnflag",
                        ["l_quantity", "l_discount", "l_tax"],
                        "measure", "v")
               .groupBy("l_returnflag", "measure")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.avg("v"), 6).alias("avg_v"))
               .orderBy("l_returnflag", "measure")),
    """
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
    SELECT l_returnflag, measure, COUNT(*)::BIGINT AS n,
           ROUND(AVG(v), 6) AS avg_v
    FROM long GROUP BY l_returnflag, measure
    ORDER BY l_returnflag, measure
    """,
)

# -- skew-safe join + latest-per-key ----------------------------------------

def _salted_join_query(t):
    # 3-way hot-key skew: every lineitem row maps to one of 3 join keys
    li = t["lineitem"].withColumn("hot", (F.col("l_orderkey") % 3).cast("long"))
    dim = (t["events"].select((F.col("event_id") % 3).cast("long").alias("hot"),
                              F.col("value"))
           .groupBy("hot").agg(F.round(F.avg("value"), 6).alias("dim_avg")))
    joined = relational.salted_join(li, dim, "hot", n_salts=8,
                                    salt_src="l_orderkey")
    return (joined.groupBy("hot")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("l_quantity") * F.col("dim_avg")), 4)
                 .alias("weighted_qty"))
            .orderBy("hot"))


_add(
    "p63_salted_join",
    _salted_join_query,
    """
    WITH li AS (
      SELECT (l_orderkey % 3)::BIGINT AS hot, l_quantity FROM lineitem),
    dim AS (
      SELECT (event_id % 3)::BIGINT AS hot, ROUND(AVG(value), 6) AS dim_avg
      FROM events GROUP BY hot)
    SELECT li.hot, COUNT(*)::BIGINT AS n,
           ROUND(SUM(l_quantity * dim_avg), 4) AS weighted_qty
    FROM li JOIN dim ON li.hot = dim.hot
    GROUP BY li.hot ORDER BY li.hot
    """,
)

_add(
    "p64_latest_event",
    lambda t: (relational.latest_by_key(
                   t["events"].select("user_id", "event_id", "event_type",
                                      "value",
                                      F.unix_millis(F.col("ts")
                                                    .cast("timestamp"))
                                      .alias("ts_ms")),
                   "user_id", "ts_ms", tiebreak_col="event_id")
               .select("user_id", "event_id", "event_type",
                       F.round("value", 2).alias("value"))
               .orderBy("user_id")),
    """
    WITH r AS (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts) DESC,
                                         event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id, event_type, ROUND(value, 2) AS value
    FROM r WHERE rn = 1 ORDER BY user_id
    """,
)

# -- time-series: gap-fill, rolling range window, cohorts, funnel -----------

_add(
    "p65_gapfill_daily",
    lambda t: (relational.gapfill_daily(t["events"], "ts", "value",
                                        group_col="event_type")
               .select("event_type",
                       F.date_format("day", "yyyy-MM-dd").alias("day"),
                       "n", F.round("sum_v", 4).alias("sum_v"))
               .orderBy("event_type", "day")),
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, COUNT(*)::BIGINT AS n,
             SUM(value) AS sum_v
      FROM events GROUP BY event_type, day),
    span AS (SELECT MIN(ts::DATE) AS lo, MAX(ts::DATE) AS hi FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM span),
    groups AS (SELECT DISTINCT event_type FROM events)
    SELECT g.event_type, strftime(s.day, '%Y-%m-%d') AS day,
           COALESCE(d.n, 0)::BIGINT AS n,
           ROUND(COALESCE(d.sum_v, 0.0), 4) AS sum_v
    FROM spine s CROSS JOIN groups g
    LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = s.day
    ORDER BY g.event_type, s.day
    """,
)


def _rolling_query(t):
    daily = relational.gapfill_daily(t["events"], "ts", "value",
                                     group_col="event_type")
    out = relational.rolling_mean_days(daily, "day", "sum_v", n_days=7,
                                       group_col="event_type")
    return (out.select("event_type",
                       F.date_format("day", "yyyy-MM-dd").alias("day"),
                       F.round("roll_avg", 4).alias("roll_avg"))
            .orderBy("event_type", "day"))


_add(
    "p66_rolling_7d",
    _rolling_query,
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, SUM(value) AS sum_v
      FROM events GROUP BY event_type, day),
    span AS (SELECT MIN(ts::DATE) AS lo, MAX(ts::DATE) AS hi FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM span),
    groups AS (SELECT DISTINCT event_type FROM events),
    filled AS (
      SELECT g.event_type, s.day, COALESCE(d.sum_v, 0.0) AS sum_v
      FROM spine s CROSS JOIN groups g
      LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = s.day)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(AVG(sum_v) OVER (
             PARTITION BY event_type
             ORDER BY date_diff('day', DATE '1970-01-01', day)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS roll_avg
    FROM filled ORDER BY event_type, day
    """,
)


def _cohort_query(t):
    ev = t["events"].withColumn("week",
                                F.weekofyear(F.col("ts").cast("timestamp")))
    first = (ev.groupBy("user_id")
             .agg(F.min("week").alias("cohort_week")))
    return (ev.join(first, "user_id")
            .groupBy("cohort_week",
                     (F.col("week") - F.col("cohort_week")).alias("week_offset"))
            .agg(F.countDistinct("user_id").alias("active_users"))
            .orderBy("cohort_week", "week_offset"))


_add(
    "p67_cohort_retention",
    _cohort_query,
    """
    WITH ev AS (
      SELECT user_id, weekofyear(ts) AS week FROM events),
    first AS (
      SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
    SELECT cohort_week, (week - cohort_week)::BIGINT AS week_offset,
           COUNT(DISTINCT ev.user_id)::BIGINT AS active_users
    FROM ev JOIN first ON ev.user_id = first.user_id
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)


def _funnel_rate_query(t):
    from golem_spark.streaming.joins import funnel_join

    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    pairs = funnel_join(clicks, purchases, max_gap_minutes=60)
    conv = (pairs.select("click_id").distinct()
            .agg(F.count(F.lit(1)).alias("n_converted")))
    total = clicks.agg(F.count(F.lit(1)).alias("n_clicks"))
    return (total.crossJoin(F.broadcast(conv))
            .select("n_clicks", "n_converted",
                    F.round(F.col("n_converted") / F.col("n_clicks"), 6)
                    .alias("conversion_rate")))


_add(
    "p68_funnel_rate",
    _funnel_rate_query,
    """
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    conv AS (
      SELECT DISTINCT c.event_id
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE)
    SELECT (SELECT COUNT(*) FROM c)::BIGINT AS n_clicks,
           (SELECT COUNT(*) FROM conv)::BIGINT AS n_converted,
           ROUND((SELECT COUNT(*) FROM conv)::DOUBLE
                 / (SELECT COUNT(*) FROM c), 6) AS conversion_rate
    """,
)

# -- grouped KMV, source similarity, embedding covariance, calibration ------

_add(
    "p69_kmv_by_group",
    lambda t: (sketch.kmv_distinct_by_group(t["lineitem"], "l_returnflag",
                                            "l_partkey", k=32)
               .orderBy("l_returnflag")),
    f"""
    WITH hashes AS (
      SELECT DISTINCT l_returnflag,
             {_DUCK_MD5INT.format(x="l_partkey::VARCHAR || '_0'")} AS h
      FROM lineitem),
    kmin AS (
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM hashes),
    est AS (
      SELECT l_returnflag, COUNT(*)::BIGINT AS n_kept, MAX(h) AS kth_hash,
             ROUND(CASE WHEN COUNT(*) < 32 THEN COUNT(*)::DOUBLE
                   ELSE (31.0 * {float(1 << 60)}) / MAX(h)::DOUBLE END,
                   6) AS est_distinct
      FROM kmin WHERE rn <= 32 GROUP BY l_returnflag),
    ex AS (
      SELECT l_returnflag, COUNT(DISTINCT l_partkey)::BIGINT
               AS exact_distinct
      FROM lineitem GROUP BY l_returnflag)
    SELECT est.l_returnflag, n_kept, kth_hash, est_distinct, exact_distinct
    FROM est JOIN ex ON est.l_returnflag = ex.l_returnflag
    ORDER BY est.l_returnflag
    """,
)


def _source_jaccard_query(t):
    from golem_spark.pipeline.text import tokens_col as _tc

    toks = (t["documents"]
            .select("source", F.explode(_tc("text")).alias("tok"))
            .distinct())
    sizes = toks.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("source").alias("src_a"), "tok")
    b = toks.select(F.col("source").alias("src_b"), "tok")
    inter = (a.join(b, "tok")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    out = (inter.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
           .select("src_a", "src_b",
                   F.round(F.col("n_inter")
                           / (F.col("sz_a") + F.col("sz_b")
                              - F.col("n_inter")), 6).alias("jaccard")))
    return out.orderBy("src_a", "src_b")


_add(
    "p70_source_jaccard",
    _source_jaccard_query,
    """
    WITH toks AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    sizes AS (SELECT source, COUNT(*)::BIGINT AS sz FROM toks GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*)::BIGINT AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT src_a, src_b,
           ROUND(n_inter::DOUBLE / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON src_a = sa.source
               JOIN sizes sb ON src_b = sb.source
    ORDER BY src_a, src_b
    """,
)


def _embed_cov_query(t):
    ex = (t["embeddings"]
          .select("vec_id", F.posexplode(F.transform(
              F.col("embedding"), lambda x: x.cast("double")))
              .alias("pos", "val")))
    n_df = t["embeddings"].select(
        F.count(F.lit(1)).cast("double").alias("n"))
    means = ex.groupBy("pos").agg(F.avg("val").alias("mu"))
    a = (ex.join(F.broadcast(means), "pos")
         .select("vec_id", F.col("pos").alias("i"),
                 (F.col("val") - F.col("mu")).alias("ci")))
    b = a.select("vec_id", F.col("i").alias("j"), F.col("ci").alias("cj"))
    cov = (a.join(b, "vec_id")
           .filter(F.col("i") <= F.col("j"))
           .groupBy("i", "j")
           .agg(F.sum(F.col("ci") * F.col("cj")).alias("s")))
    return (cov.crossJoin(F.broadcast(n_df))
            .select("i", "j",
                    F.round(F.col("s") / (F.col("n") - 1), 6).alias("cov"))
            .filter(F.col("i") < 4)  # emit the first 4 rows of the triangle
            .orderBy("i", "j"))


_add(
    "p71_embed_covariance",
    _embed_cov_query,
    """
    WITH ex AS (
      SELECT vec_id, i - 1 AS pos, embedding[i]::DOUBLE AS val
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
    means AS (SELECT pos, AVG(val) AS mu FROM ex GROUP BY pos),
    c AS (
      SELECT vec_id, ex.pos, val - mu AS cv
      FROM ex JOIN means ON ex.pos = means.pos)
    SELECT a.pos::BIGINT AS i, b.pos::BIGINT AS j,
           ROUND(SUM(a.cv * b.cv) / (n - 1), 6) AS cov
    FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.pos <= b.pos, n
    WHERE a.pos < 4
    GROUP BY a.pos, b.pos, n.n
    ORDER BY i, j
    """,
)

# -- data-layout operators: Z-order keys, range-partition bounds ------------

_add(
    "p72_zorder_key",
    lambda t: (t["lineitem"]
               .select(relational.zorder_key("l_partkey", "l_suppkey", 12)
                       .alias("zkey"))
               .groupBy((F.col("zkey") % 1024).alias("zbucket"))
               .agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.desc("n"), "zbucket")
               .limit(20)),
    f"""
    WITH z AS (
      SELECT ({" + ".join(
          f"((((l_partkey >> {i}) & 1) << {2 * i})"
          f" + (((l_suppkey >> {i}) & 1) << {2 * i + 1}))"
          for i in range(12))}) AS zkey
      FROM lineitem)
    SELECT (zkey % 1024)::BIGINT AS zbucket, COUNT(*)::BIGINT AS n
    FROM z GROUP BY zbucket
    ORDER BY n DESC, zbucket LIMIT 20
    """,
)

_add(
    "p73_range_bounds",
    lambda t: (relational.suggest_range_bounds(t["orders"], "o_totalprice",
                                               n_partitions=8)
               .orderBy("q")),
    """
    SELECT ROUND(unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]), 6)
             AS q,
           unnest(percentile_disc([0.125, 0.25, 0.375, 0.5, 0.625, 0.75,
                                   0.875])
                  WITHIN GROUP (ORDER BY o_totalprice)) AS bound
    FROM orders ORDER BY q
    """,
)

# -- fixed-length collation (input_ids + attention mask) --------------------

_add(
    "p74_pad_collate",
    lambda t: text.pad_collate(t["documents"], max_len=64).orderBy("doc_id"),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    p AS (
      SELECT doc_id,
             least(len(toks), 64) AS n_real,
             list_concat(
               toks[1:least(len(toks), 64)],
               list_transform(range(1, 64 - least(len(toks), 64) + 1),
                              i -> '<pad>')) AS padded
      FROM w)
    SELECT doc_id, n_real::BIGINT AS n_real,
           md5(array_to_string(padded, ' ')) AS ids_md5,
           n_real::BIGINT AS mask_sum
    FROM p ORDER BY doc_id
    """,
)

# -- lexical retrieval: BM25 + reciprocal-rank fusion -----------------------

_BM25_QUERY = ["join", "hash", "scan"]

_add(
    "p75_bm25_topk",
    lambda t: text.bm25_score(t["documents"], _BM25_QUERY, top_k=10),
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS dl
      FROM documents),
    stats AS (
      SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM lens),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    qtf AS (
      SELECT doc_id, tok, COUNT(*)::DOUBLE AS tf
      FROM toks WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_QUERY)})
      GROUP BY doc_id, tok),
    qdf AS (SELECT tok, COUNT(*)::DOUBLE AS df FROM qtf GROUP BY tok)
    SELECT qtf.doc_id AS doc_id,
           ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
             AS score
    FROM qtf JOIN qdf ON qtf.tok = qdf.tok
             JOIN lens ON qtf.doc_id = lens.doc_id, stats
    GROUP BY qtf.doc_id
    ORDER BY score DESC, qtf.doc_id LIMIT 10
    """,
)


def _rrf_query(t):
    from pyspark.sql import Window

    docs = t["documents"]
    bm = text.bm25_score(docs, _BM25_QUERY, top_k=50)
    bm = bm.withColumn("rank", F.row_number().over(
        Window.orderBy(F.desc("score"), "doc_id")))
    lm = (text.lm_score(docs)
          .orderBy(F.desc("lm_logprob"), "doc_id").limit(50)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.desc("lm_logprob"), "doc_id"))))
    return text.rrf_fuse(bm, lm, k=60, top_k=10)


_add(
    "p76_rrf_fusion",
    _rrf_query,
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS dl
      FROM documents),
    stats AS (
      SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM lens),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents),
    qtf AS (
      SELECT doc_id, tok, COUNT(*)::DOUBLE AS tf
      FROM toks WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_QUERY)})
      GROUP BY doc_id, tok),
    qdf AS (SELECT tok, COUNT(*)::DOUBLE AS df FROM qtf GROUP BY tok),
    bm AS (
      SELECT qtf.doc_id,
             ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
               AS score
      FROM qtf JOIN qdf ON qtf.tok = qdf.tok
               JOIN lens ON qtf.doc_id = lens.doc_id, stats
      GROUP BY qtf.doc_id
      ORDER BY score DESC, qtf.doc_id LIMIT 50),
    bm_r AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM bm),
    uni AS (SELECT tok, COUNT(*)::DOUBLE AS c FROM toks GROUP BY tok),
    tot AS (SELECT COUNT(*)::DOUBLE AS total FROM toks),
    lm AS (
      SELECT doc_id,
             ROUND(AVG(ln(c / total)), 6) AS lm_logprob
      FROM toks JOIN uni USING (tok), tot
      GROUP BY doc_id
      ORDER BY lm_logprob DESC, doc_id LIMIT 50),
    lm_r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY lm_logprob DESC, doc_id) AS rank
      FROM lm),
    fused AS (
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM bm_r
      UNION ALL
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM lm_r)
    SELECT doc_id, ROUND(SUM(c), 6) AS rrf
    FROM fused GROUP BY doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)

# -- robust outliers + weighted sampling ------------------------------------

_add(
    "p77_mad_outliers",
    lambda t: (relational.mad_outliers(t["events"], "event_type", "value",
                                       n_mads=3.0)
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
                    .cast("long").alias("n_outliers"),
                    F.round(F.max("__med"), 6).alias("median"),
                    F.round(F.max("__mad"), 6).alias("mad"))
               .orderBy("event_type")),
    """
    WITH med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers,
           ROUND(MAX(d.med), 6) AS median,
           ROUND(MAX(mad.mad), 6) AS mad
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)

_add(
    "p78_weighted_sample",
    lambda t: (relational.weighted_sample(
                   t["documents"].withColumn(
                       "wt", (F.col("n_chars") + 1).cast("double")),
                   "doc_id", "wt", k=25, seed=5)
               .select("doc_id").orderBy("doc_id")),
    f"""
    WITH keyed AS (
      SELECT doc_id,
             -ln(({_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_5'")}::DOUBLE
                  + 1.0) / {float((1 << 60) + 2)!r})
               / (n_chars + 1)::DOUBLE AS k
      FROM documents)
    SELECT doc_id FROM keyed ORDER BY k, doc_id LIMIT 25
    """,
)

# -- set-operation and anti-join kernels ------------------------------------

def _setops_query(t):
    from golem_spark.pipeline.text import tokens_col as _tc

    toks = t["documents"].select("source",
                                 F.explode(_tc("text")).alias("tok"))
    a = toks.filter(F.col("source") == "src0").select("tok").distinct()
    b = toks.filter(F.col("source") == "src1").select("tok").distinct()
    inter = a.intersect(b).agg(F.count(F.lit(1)).alias("n_inter"))
    only_a = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n_only_a"))
    only_b = b.exceptAll(a).agg(F.count(F.lit(1)).alias("n_only_b"))
    return (inter.crossJoin(F.broadcast(only_a))
            .crossJoin(F.broadcast(only_b))
            .select(F.col("n_inter").cast("long"),
                    F.col("n_only_a").cast("long"),
                    F.col("n_only_b").cast("long")))


_add(
    "p79_vocab_setops",
    _setops_query,
    """
    WITH a AS (
      SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents WHERE source = 'src0'),
    b AS (
      SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents WHERE source = 'src1')
    SELECT (SELECT COUNT(*) FROM (SELECT tok FROM a INTERSECT
                                  SELECT tok FROM b))::BIGINT AS n_inter,
           (SELECT COUNT(*) FROM (SELECT tok FROM a EXCEPT
                                  SELECT tok FROM b))::BIGINT AS n_only_a,
           (SELECT COUNT(*) FROM (SELECT tok FROM b EXCEPT
                                  SELECT tok FROM a))::BIGINT AS n_only_b
    """,
)


def _antijoin_query(t):
    cust = t["customer"]
    orders = t["orders"]
    inactive = cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                         "left_anti")
    return (inactive.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_inactive"),
                 F.min("c_custkey").alias("min_key"))
            .orderBy("c_mktsegment"))


_add(
    "p80_inactive_customers",
    _antijoin_query,
    """
    SELECT c_mktsegment, COUNT(*)::BIGINT AS n_inactive,
           MIN(c_custkey) AS min_key
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)

# -- association rules + language consistency -------------------------------

def _assoc_rules_query(t):
    """Pair association rules over order baskets: support, confidence,
    lift for the top co-occurring part pairs (supermarket-basket mining
    on the co-purchase substrate). All counts are combinable groupBys;
    the pair join is keyed on the order (fan-out bounded by basket
    size)."""
    li = t["lineitem"]
    baskets = li.select(F.col("l_orderkey").alias("k"),
                        (F.col("l_partkey") % 50).alias("item")).distinct()
    n_orders = baskets.select("k").distinct().count()
    item_cnt = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c_item"))
    a = baskets.select("k", F.col("item").alias("x"))
    b = baskets.select("k", F.col("item").alias("y"))
    pair_cnt = (a.join(b, "k").filter(F.col("x") < F.col("y"))
                .groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_pair")))
    cx = item_cnt.select(F.col("item").alias("x"), F.col("c_item").alias("cx"))
    cy = item_cnt.select(F.col("item").alias("y"), F.col("c_item").alias("cy"))
    out = (pair_cnt.join(F.broadcast(cx), "x").join(F.broadcast(cy), "y")
           .select("x", "y", "c_pair",
                   F.round(F.col("c_pair") / n_orders, 6).alias("support"),
                   F.round(F.col("c_pair") / F.col("cx"), 6).alias("conf_xy"),
                   F.round(F.col("c_pair") * n_orders
                           / (F.col("cx") * F.col("cy")), 6).alias("lift")))
    return out.orderBy(F.desc("support"), "x", "y").limit(20)


_add(
    "p81_assoc_rules",
    _assoc_rules_query,
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS k, (l_partkey % 50) AS item
      FROM lineitem),
    n AS (SELECT COUNT(DISTINCT k)::DOUBLE AS n_orders FROM baskets),
    ic AS (SELECT item, COUNT(*)::DOUBLE AS c_item
           FROM baskets GROUP BY item),
    pc AS (
      SELECT a.item AS x, b.item AS y, COUNT(*)::BIGINT AS c_pair
      FROM baskets a JOIN baskets b ON a.k = b.k AND a.item < b.item
      GROUP BY a.item, b.item)
    SELECT x, y, c_pair,
           ROUND(c_pair / n_orders, 6) AS support,
           ROUND(c_pair / cx.c_item, 6) AS conf_xy,
           ROUND(c_pair * n_orders / (cx.c_item * cy.c_item), 6) AS lift
    FROM pc JOIN ic cx ON pc.x = cx.item
            JOIN ic cy ON pc.y = cy.item, n
    ORDER BY support DESC, x, y LIMIT 20
    """,
)


def _lang_consistency_query(t):
    pred = text.lang_id(t["documents"])
    return (pred.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1)
                       .otherwise(0)).cast("long").alias("n_match"),
                 F.round(F.avg(F.when(F.col("lang_pred") == F.col("lang"),
                                      1.0).otherwise(0.0)), 6)
                 .alias("match_rate"))
            .orderBy("source"))


_add(
    "p82_lang_consistency",
    _lang_consistency_query,
    f"""
    WITH h AS (SELECT doc_id, source, lang,
                      {', '.join(_LANG_CASES)} FROM documents),
    pred AS (
      SELECT source, lang,
             CASE
               WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0
                    AND h_zh = 0 THEN 'und'
               WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                    AND h_de >= h_zh THEN 'de'
               WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
               WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
               WHEN h_fr >= h_zh THEN 'fr'
               ELSE 'zh' END AS lang_pred
      FROM h)
    SELECT source, COUNT(*)::BIGINT AS n,
           SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)::BIGINT
             AS n_match,
           ROUND(AVG(CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END), 6)
             AS match_rate
    FROM pred GROUP BY source ORDER BY source
    """,
)

# -- content-defined chunking dedup -----------------------------------------

_add(
    "p83_cdc_chunks",
    lambda t: dedup.cdc_dup_fraction(t["documents"], divisor=8)
              .orderBy("doc_id"),
    f"""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents),
           unnest(range(1, len(toks) + 1)) AS t(i)),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN {_DUCK_MD5INT.format(x="tok")} % 8 = 0
                  THEN 1 ELSE 0 END AS flag
      FROM toks),
    chunked AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(flag) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
      FROM flagged),
    rel AS (
      SELECT doc_id, chunk_idx,
             {_DUCK_MD5INT.format(
                 x="(pos - MIN(pos) OVER (PARTITION BY doc_id, chunk_idx))"
                   "::VARCHAR || ':' || tok")} AS h
      FROM chunked),
    chunks AS (
      SELECT doc_id, chunk_idx,
             SUM(h % 1073741824) AS fp1,
             SUM(h // 1073741824) AS fp2,
             COUNT(*) AS fp_len
      FROM rel GROUP BY doc_id, chunk_idx),
    gdf AS (
      SELECT fp1, fp2, fp_len, COUNT(DISTINCT doc_id) AS gdf
      FROM chunks GROUP BY fp1, fp2, fp_len)
    SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN gdf > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           ROUND(SUM(CASE WHEN gdf > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(COUNT(*), 1), 6) AS dup_frac
    FROM chunks JOIN gdf USING (fp1, fp2, fp_len)
    GROUP BY doc_id ORDER BY doc_id
    """,
)

# -- SymSpell fuzzy vocabulary matching -------------------------------------

_add(
    "p84_fuzzy_vocab",
    lambda t: text.fuzzy_vocab_pairs(t["part"], "p_name", max_dist=1),
    """
    WITH w AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word
      FROM part WHERE p_name IS NOT NULL),
    idx AS (
      SELECT word, variant FROM (
        SELECT word, unnest(list_append(
          list_transform(range(1, len(word) + 1),
                         i -> substr(word, 1, i - 1)
                              || substr(word, i + 1)),
          word)) AS variant
        FROM w) WHERE len(variant) > 0 OR variant = ''),
    cand AS (
      SELECT DISTINCT a.word AS word_a, b.word AS word_b
      FROM idx a JOIN idx b ON a.variant = b.variant AND a.word < b.word)
    SELECT word_a, word_b,
           levenshtein(word_a, word_b)::INT AS dist
    FROM cand WHERE levenshtein(word_a, word_b) <= 1
    ORDER BY word_a, word_b
    """,
)

# -- day-over-day deltas + classic 3-table shipping-priority join -----------

def _dod_query(t):
    from pyspark.sql import Window

    daily = relational.gapfill_daily(t["events"], "ts", "value",
                                     group_col="event_type")
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("sum_v").over(w)
    return (daily
            .withColumn("delta", F.round(F.col("sum_v")
                                         - F.coalesce(prev, F.lit(0.0)), 4))
            .select("event_type",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.round("sum_v", 4).alias("sum_v"), "delta")
            .orderBy("event_type", "day"))


_add(
    "p85_day_over_day",
    _dod_query,
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, SUM(value) AS sum_v
      FROM events GROUP BY event_type, day),
    span AS (SELECT MIN(ts::DATE) AS lo, MAX(ts::DATE) AS hi FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM span),
    groups AS (SELECT DISTINCT event_type FROM events),
    filled AS (
      SELECT g.event_type, s.day, COALESCE(d.sum_v, 0.0) AS sum_v
      FROM spine s CROSS JOIN groups g
      LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = s.day)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(sum_v, 4) AS sum_v,
           ROUND(sum_v - COALESCE(LAG(sum_v) OVER (
             PARTITION BY event_type ORDER BY day), 0.0), 4) AS delta
    FROM filled ORDER BY event_type, day
    """,
)


def _shipping_priority_query(t):
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = t["lineitem"].filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
    joined = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
              .join(li, orders["o_orderkey"] == li["l_orderkey"]))
    return (joined.groupBy("o_orderkey", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "o_orderkey")
            .limit(10))


_add(
    "p86_shipping_priority",
    _shipping_priority_query,
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY o_orderkey, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)

# -- grouped closed-form linear regression ----------------------------------

def _grouped_regression_query(t):
    """Per-group simple OLS (slope/intercept/r2) from the five sufficient
    sums — the grouped-analytics classic, one combinable groupBy, no
    iteration. x = seconds since epoch, y = event value."""
    # EXACT integer sufficient statistics: x in whole seconds since a
    # fixed reference, y in value-cents (the data has two decimals) —
    # all five sums are BIGINTs, so they are independent of partition
    # summation order and both engines derive identical doubles. Raw
    # epoch-seconds x also cancels catastrophically in sxx - sx^2/n
    # (observed 4th-decimal drift before recentering).
    ref = F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ev = t["events"].select(
        "event_type",
        (F.unix_timestamp(F.col("ts").cast("timestamp")) - ref)
        .cast("long").alias("xs"),
        F.round(F.col("value") * 100, 0).cast("long").alias("yc"))
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xs").alias("sx"), F.sum("yc").alias("sy"),
        F.sum(F.col("xs") * F.col("xs")).alias("sxx"),
        F.sum(F.col("xs") * F.col("yc")).alias("sxy"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = (F.col(c).cast("double") for c in ("sxx", "sxy", "syy"))
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    slope = cxy / vx  # cents per second
    return (agg.select(
        "event_type", F.col("n"),
        F.round(slope * 86400.0 / 100.0, 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n / 100.0, 4).alias("intercept"),
        F.round(cxy * cxy / (vx * vy), 6).alias("r2"))
        .orderBy("event_type"))


_add(
    "p87_grouped_regression",
    _grouped_regression_query,
    """
    WITH ev AS (
      SELECT event_type,
             (floor(epoch(ts))::BIGINT
              - epoch(TIMESTAMP '2024-01-01 00:00:00')::BIGINT) AS xs,
             ROUND(value * 100, 0)::BIGINT AS yc FROM events),
    agg AS (
      SELECT event_type, COUNT(*)::BIGINT AS n,
             SUM(xs)::BIGINT AS sx, SUM(yc)::BIGINT AS sy,
             SUM(xs*xs)::BIGINT AS sxx, SUM(xs*yc)::BIGINT AS sxy,
             SUM(yc*yc)::BIGINT AS syy
      FROM ev GROUP BY event_type),
    f AS (
      SELECT event_type, n, n::DOUBLE AS nd, sx::DOUBLE AS sx,
             sy::DOUBLE AS sy, sxx::DOUBLE AS sxx, sxy::DOUBLE AS sxy,
             syy::DOUBLE AS syy
      FROM agg)
    SELECT event_type, n,
           ROUND((sxy - sx*sy/nd) / (sxx - sx*sx/nd) * 86400.0 / 100.0, 6)
             AS slope_per_day,
           ROUND((sy - (sxy - sx*sy/nd) / (sxx - sx*sx/nd) * sx)
                 / nd / 100.0, 4) AS intercept,
           ROUND(POW(sxy - sx*sy/nd, 2)
                 / ((sxx - sx*sx/nd) * (syy - sy*sy/nd)), 6) AS r2
    FROM f ORDER BY event_type
    """,
)

# -- above-segment-average spenders (windowed group-mean comparison) --------

def _above_avg_query(t):
    from pyspark.sql import Window

    spend = (t["orders"].groupBy("o_custkey")
             .agg(F.sum("o_totalprice").alias("spend")))
    seg = (t["customer"].select("c_custkey", "c_mktsegment")
           .join(spend, F.col("c_custkey") == F.col("o_custkey")))
    w = Window.partitionBy("c_mktsegment")
    flagged = seg.withColumn("seg_avg", F.avg("spend").over(w))
    return (flagged.filter(F.col("spend") > F.col("seg_avg"))
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_above"),
                 F.round(F.max("spend") / 1000, 3).alias("max_spend_k"))
            .orderBy("c_mktsegment"))


_add(
    "p88_above_segment_avg",
    _above_avg_query,
    """
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS spend
      FROM orders GROUP BY o_custkey),
    seg AS (
      SELECT c_mktsegment, spend,
             AVG(spend) OVER (PARTITION BY c_mktsegment) AS seg_avg
      FROM customer JOIN spend ON c_custkey = o_custkey)
    SELECT c_mktsegment, COUNT(*)::BIGINT AS n_above,
           ROUND(MAX(spend) / 1000, 3) AS max_spend_k
    FROM seg WHERE spend > seg_avg
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)


# -- round-5 additions: curation / decontamination bookkeeping --------------

_add(
    "p89_benchmark_containment",
    lambda t: dedup.benchmark_containment(
        t["documents"], t["documents"].filter(F.col("doc_id") < 10), n=3)
    .orderBy("doc_id"),
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
      FROM w),
    b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
    SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_matched,
           ROUND(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(COUNT(*), 1)::DOUBLE, 6) AS containment
    FROM g LEFT JOIN b ON g.gram = b.gram
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
)

_add(
    "p90_token_budget_pack",
    lambda t: text.token_budget_pack(
        t["documents"].select("doc_id", "source", "n_chars"), budget=3000)
    .orderBy("doc_id"),
    """
    SELECT doc_id, source, n_chars,
           (SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING)
            - n_chars)::BIGINT AS cum_before,
           CASE WHEN (SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                      - n_chars) < 3000 THEN 1 ELSE 0 END AS kept
    FROM documents ORDER BY doc_id
    """,
)

_add(
    "p91_corpus_mix_report",
    lambda t: text.corpus_mix_report(t["documents"])
    .orderBy("source", "lang"),
    """
    WITH per AS (
      SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
             SUM(n_chars)::BIGINT AS mass
      FROM documents GROUP BY source, lang)
    SELECT source, lang, n_docs, mass,
           ROUND(mass::DOUBLE / (SELECT SUM(mass) FROM per)::DOUBLE, 6)
             AS share
    FROM per ORDER BY source, lang
    """,
)

_add(
    "p92_dup_cluster_stats",
    lambda t, spark=None, sf_dir=None: dedup.cluster_stats(
        _components_cached(spark, sf_dir)).orderBy("rep"),
    f"""
    WITH RECURSIVE {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs),
    reach AS (
      SELECT x AS node, x AS r FROM (SELECT DISTINCT x FROM edges) t
      UNION
      SELECT e.x AS node, reach.r
      FROM edges e JOIN reach ON reach.node = e.y),
    comp AS (
      SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY node)
    SELECT rep::BIGINT AS rep, COUNT(*)::BIGINT AS size,
           MIN(doc_id)::BIGINT AS min_doc, MAX(doc_id)::BIGINT AS max_doc,
           (COUNT(*) - 1)::BIGINT AS n_dropped
    FROM comp GROUP BY rep ORDER BY rep
    """,
)


def _sampled_quantiles_query(t):
    """Sample-based quantile estimation — the scale pattern for 'what
    does the length/price distribution look like' over 100 TB: exact
    per-group quantiles on a DETERMINISTIC md5 unit sample (stable
    under rerun/repartition, unlike df.sample) audited against the
    exact full-data quantiles. The sample side is the production path;
    the exact side is the self-audit this query carries."""
    li = t["lineitem"]
    qs = [0.5, 0.9]
    exact = (relational.group_quantiles(li, "l_returnflag",
                                        "l_extendedprice", qs)
             .withColumnRenamed("value", "exact_value"))
    samp = (relational.group_quantiles(
        relational.hash_sample(li, "l_orderkey", 0.1, seed=3),
        "l_returnflag", "l_extendedprice", qs)
        .withColumnRenamed("value", "sample_value"))
    rel_err = (F.abs(F.col("sample_value") - F.col("exact_value"))
               / F.col("exact_value"))
    return (exact.join(samp, ["l_returnflag", "q"])
            .select("l_returnflag", "q", "exact_value", "sample_value",
                    F.round(rel_err, 6).alias("rel_err"))
            .orderBy("l_returnflag", "q"))


_add(
    "p93_sampled_quantiles",
    _sampled_quantiles_query,
    f"""
    WITH f AS (
      SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
    s AS (
      SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem
      WHERE {_DUCK_MD5INT.format(x="concat(l_orderkey::VARCHAR, '_3')")}
            < CAST(0.1 * 1152921504606846976 AS BIGINT)),
    ex AS (
      SELECT g, 0.5 AS q,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS exact_value
      FROM f GROUP BY g
      UNION ALL
      SELECT g, 0.9,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY v) FROM f GROUP BY g),
    sa AS (
      SELECT g, 0.5 AS q,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS sample_value
      FROM s GROUP BY g
      UNION ALL
      SELECT g, 0.9,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY v) FROM s GROUP BY g)
    SELECT g AS l_returnflag, q, exact_value, sample_value,
           ROUND(ABS(sample_value - exact_value) / exact_value, 6) AS rel_err
    FROM ex JOIN sa USING (g, q)
    ORDER BY l_returnflag, q
    """,
)


_add(
    "p94_join_size_estimate",
    lambda t: sketch.kmv_join_estimate(
        t["orders"], "o_orderkey", t["lineitem"], "l_orderkey", k=128),
    sketch.kmv_join_estimate_sql("orders", "o_orderkey",
                                 "lineitem", "l_orderkey", 128, 0),
)


def _cross_source_dup_query(t, spark=None, sf_dir=None):
    """Provenance-leakage audit: what fraction of near-duplicate pairs
    CROSS source boundaries (same content syndicated under different
    provenance — the pairs a per-source dedup would miss). Reuses the
    shared MinHash pair frame; two broadcast-sized joins to documents'
    (doc_id, source) projection."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    pairs = _minhash_pairs_cached(spark, sf_dir)
    lab = (pairs
           .join(docs.select(F.col("doc_id").alias("doc_a"),
                             F.col("source").alias("src_a")), "doc_a")
           .join(docs.select(F.col("doc_id").alias("doc_b"),
                             F.col("source").alias("src_b")), "doc_b"))
    return lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("src_a") != F.col("src_b"), 1).otherwise(0))
        .cast("long").alias("n_cross"),
        F.round(F.avg(F.when(F.col("src_a") != F.col("src_b"), 1.0)
                      .otherwise(0.0)), 6).alias("cross_rate"))


_add(
    "p95_cross_source_dups",
    _cross_source_dup_query,
    f"""
    WITH {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    lab AS (
      SELECT da.source AS src_a, db.source AS src_b
      FROM pairs
      JOIN documents da ON da.doc_id = pairs.doc_a
      JOIN documents db ON db.doc_id = pairs.doc_b)
    SELECT COUNT(*)::BIGINT AS n_pairs,
           SUM(CASE WHEN src_a <> src_b THEN 1 ELSE 0 END)::BIGINT
             AS n_cross,
           ROUND(AVG(CASE WHEN src_a <> src_b THEN 1.0 ELSE 0.0 END), 6)
             AS cross_rate
    FROM lab
    """,
)

_add(
    "p96_source_kl_drift",
    lambda t: text.unigram_kl(t["documents"], "src0", "src1"),
    r"""
    WITH t AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')),
    c AS (SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
    a AS (SELECT tok, cnt AS ca FROM c WHERE source = 'src0'),
    b AS (SELECT tok, cnt AS cb FROM c WHERE source = 'src1'),
    j AS (
      SELECT COALESCE(a.tok, b.tok) AS tok,
             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.tok = b.tok),
    tt AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS v FROM j),
    sm AS (
      SELECT (ca + 0.5) / (ta + 0.5 * v) AS pa,
             (cb + 0.5) / (tb + 0.5 * v) AS pb
      FROM j, tt)
    SELECT COUNT(*)::BIGINT AS vocab,
           ROUND(SUM(pa * LN(pa / pb)), 6) AS kl_ab,
           ROUND(SUM(pb * LN(pb / pa)), 6) AS kl_ba
    FROM sm
    """,
)


def _embedding_norm_outliers_query(t):
    """Embedding-quality gate: flag vectors whose L2 norm is a robust
    (median/MAD) outlier within their label group — the 'broken or
    collapsed embedding' check a feature store runs before indexing.
    Map-side norm expression, then the exact per-group median/MAD
    machinery (sort-based, spill-safe)."""
    from golem_spark.operators.relational import mad_outliers

    emb = t["embeddings"].select(
        "vec_id", "label",
        F.round(F.sqrt(F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x * x)), 6).alias("norm"))
    return (mad_outliers(emb, "label", "norm", n_mads=3.0)
            .select("vec_id", "label", "norm",
                    F.col("is_outlier").cast("int").alias("is_outlier"))
            .orderBy("vec_id"))


_add(
    "p97_embedding_norm_outliers",
    _embedding_norm_outliers_query,
    """
    WITH e AS (
      SELECT vec_id, label,
             ROUND(sqrt(list_dot_product(
               list_transform(embedding, x -> x::DOUBLE),
               list_transform(embedding, x -> x::DOUBLE))), 6) AS norm
      FROM embeddings),
    med AS (
      SELECT label,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY norm) AS m
      FROM e GROUP BY label),
    dev AS (
      SELECT e.*, ABS(norm - m) AS adev, m FROM e JOIN med USING (label)),
    mad AS (
      SELECT label,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY label)
    SELECT vec_id, label, norm,
           CASE WHEN ABS(norm - m) > 3.0 * mad THEN 1 ELSE 0 END
             AS is_outlier
    FROM dev JOIN mad USING (label)
    ORDER BY vec_id
    """,
)


def _dedup_impact_query(t, spark=None, sf_dir=None):
    """Dedup impact report: corpus mass before vs after applying the
    near-dup keep-list — docs and characters removed, as fractions.
    The summary a dedup pass publishes. Reuses the shared pair frame;
    one aggregate over documents left-joined to the drop set."""
    keep = dedup.dedup_keep_list(
        t["documents"], pairs=_minhash_pairs_cached(spark, sf_dir))
    drops = keep.filter(~F.col("keep")).select("doc_id")
    docs = t["documents"].select("doc_id", "n_chars")
    lab = docs.join(F.broadcast(drops.withColumn("__d", F.lit(1))),
                    "doc_id", "left")
    return lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col("__d"), F.lit(0))).cast("long")
        .alias("n_dropped"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.when(F.col("__d").isNotNull(), F.col("n_chars"))
              .otherwise(0)).cast("long").alias("chars_dropped"),
        F.round(F.avg(F.coalesce(F.col("__d"), F.lit(0)).cast("double")), 6)
        .alias("drop_rate"))


_add(
    "p98_dedup_impact",
    _dedup_impact_query,
    f"""
    WITH RECURSIVE {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    edges AS (
      SELECT doc_a AS x, doc_b AS y FROM pairs
      UNION
      SELECT doc_b AS x, doc_a AS y FROM pairs),
    reach AS (
      SELECT x AS node, x AS r FROM (SELECT DISTINCT x FROM edges) t
      UNION
      SELECT e.x AS node, reach.r
      FROM edges e JOIN reach ON reach.node = e.y),
    comp AS (
      SELECT node AS doc_id, MIN(r) AS rep FROM reach GROUP BY node),
    {_QUALITY_CTE},
    ranked AS (
      SELECT comp.doc_id, comp.rep, q.quality,
             ROW_NUMBER() OVER (
               PARTITION BY comp.rep
               ORDER BY q.quality DESC, comp.doc_id) AS rn
      FROM comp JOIN q ON q.doc_id = comp.doc_id),
    drops AS (SELECT doc_id FROM ranked WHERE rn > 1)
    SELECT COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_dropped,
           SUM(n_chars)::BIGINT AS chars_total,
           SUM(CASE WHEN d.doc_id IS NOT NULL THEN n_chars ELSE 0 END)::BIGINT
             AS chars_dropped,
           ROUND(AVG(CASE WHEN d.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS drop_rate
    FROM documents LEFT JOIN drops d USING (doc_id)
    """,
)


def _regional_revenue_query(t):
    """TPC-H Q5 shape: revenue by nation within one region for one
    year, customer and supplier BOTH local to the nation (the classic
    6-table join-order exercise). Declared as plain DataFrame joins —
    Catalyst broadcasts the region->nation dimension chain and AQE
    picks the big-side order; the only large shuffle is
    orders x lineitem on the join key."""
    region = t["region"].filter(F.col("r_name") == "ASIA")
    nat = (t["nation"].join(F.broadcast(region),
                            F.col("n_regionkey") == F.col("r_regionkey"))
           .select("n_nationkey", "n_name"))
    cust = t["customer"].select("c_custkey", "c_nationkey")
    sup = t["supplier"].select("s_suppkey", "s_nationkey")
    orders = (t["orders"]
              .filter((F.col("o_orderdate") >= "1994-01-01")
                      & (F.col("o_orderdate") < "1995-01-01"))
              .select("o_orderkey", "o_custkey"))
    li = t["lineitem"].select("l_orderkey", "l_suppkey",
                              "l_extendedprice", "l_discount")
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(cust, F.col("o_custkey") == F.col("c_custkey"))
         .join(sup, (F.col("l_suppkey") == F.col("s_suppkey"))
               & (F.col("c_nationkey") == F.col("s_nationkey")))
         .join(F.broadcast(nat),
               F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (F.lit(1.0) - F.col("l_discount"))) / 1000,
                         3).alias("revenue_k"),
                 F.count(F.lit(1)).cast("long").alias("n_items"))
            .orderBy("n_name"))


_add(
    "p99_regional_revenue",
    _regional_revenue_query,
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)) / 1000, 3)
             AS revenue_k,
           COUNT(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1994-01-01'
      AND o_orderdate < DATE '1995-01-01'
    GROUP BY n_name ORDER BY n_name
    """,
)


_add(
    "p100_cube_metrics",
    lambda t: relational.cube_agg(
        t["orders"], ["o_orderstatus", "o_orderpriority"],
        [F.count(F.lit(1)).cast("long").alias("n"),
         F.round(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 / F.lit(100000000.0), 4).alias("sum_mm")])
    .orderBy("o_orderstatus", "o_orderpriority"),
    """
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
           ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
           ELSE o_orderpriority END AS o_orderpriority,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 / 100000000.0, 4) AS sum_mm
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus, o_orderpriority
    """,
)


_GS_SQL = """
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
           ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
           ELSE o_orderpriority END AS o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 / CAST(100000000.0 AS DOUBLE), 4) AS sum_mm
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus, o_orderpriority
"""

_add(
    # explicit GROUPING SETS: the per-dimension marginal totals WITHOUT
    # the cross cells — the combination rollup/cube cannot express;
    # same single-shuffle Expand + shared partial aggregate execution
    "p101_grouping_sets",
    lambda t: t["orders"].sparkSession.sql(_GS_SQL),
    _GS_SQL.replace("COUNT(*) AS n", "COUNT(*)::BIGINT AS n"),
)


# degree-rank edge orientation shared by the two triangle oracles:
# rank = (degree, node id), every edge directed low-rank -> high-rank
# (Suri & Vassilvitskii WWW'11 — bounds wedge fan-out by O(sqrt(2m))
# even at a hub, which plain id-ordering does not)
_TRI_ORIENT_CTES = """
    parts AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
      WHERE l_orderkey % 20 = 0),
    und0 AS (
      SELECT DISTINCT LEAST(a.p, b.p) AS a, GREATEST(a.p, b.p) AS b
      FROM parts a JOIN parts b ON a.k = b.k AND a.p <> b.p),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und0 UNION ALL SELECT b FROM und0)
      GROUP BY node),
    und AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN u.a ELSE u.b END AS a,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN u.b ELSE u.a END AS b
      FROM und0 u
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b)
""".strip()

_add(
    # exact triangle count on the part co-purchase graph:
    # DEGREE-ordered oriented edges, wedge join on the middle vertex,
    # closing-edge semi-join (Suri & Vassilvitskii WWW'11) — each
    # triangle counted once, hub wedge fan-out bounded by O(sqrt(2m))
    "p102_triangle_count",
    # the persisted half-edge frame IS the undirected distinct edge set
    # (src < dst, deduplicated) — handing it over as half= skips the
    # least/greatest + DISTINCT re-derivation (one edge-sized shuffle)
    lambda t: graph.triangle_count(half=graph.copurchase_half_edges(
        t["lineitem"].filter(F.col("l_orderkey") % 20 == 0))),
    f"""
    WITH {_TRI_ORIENT_CTES},
    wedges AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1 JOIN und e2 ON e1.b = e2.a),
    closed AS (
      SELECT w.* FROM wedges w
      WHERE EXISTS (SELECT 1 FROM und e WHERE e.a = w.x AND e.b = w.z))
    SELECT (SELECT COUNT(*) FROM und)::BIGINT AS n_edges,
           (SELECT COUNT(*) FROM wedges)::BIGINT AS n_wedges,
           (SELECT COUNT(*) FROM closed)::BIGINT AS n_triangles
    """,
)


_add(
    # per-node triangle participation (embeddedness ranking): every
    # closed oriented wedge credits its three corners; corner explode +
    # combinable groupBy + partial top-k, deterministic (count desc,
    # node) tie-break
    "p103_node_triangles",
    lambda t: graph.node_triangle_counts(half=graph.copurchase_half_edges(
        t["lineitem"].filter(F.col("l_orderkey") % 20 == 0)), top_k=20),
    f"""
    WITH {_TRI_ORIENT_CTES},
    closed AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1 JOIN und e2 ON e1.b = e2.a
      WHERE EXISTS (SELECT 1 FROM und e WHERE e.a = e1.a AND e.b = e2.b)),
    corners AS (
      SELECT x AS node FROM closed
      UNION ALL SELECT y FROM closed
      UNION ALL SELECT z FROM closed)
    SELECT node, COUNT(*)::BIGINT AS n_triangles
    FROM corners GROUP BY node
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
)


# PII injection shared by p104's Spark and DuckDB sides: synthetic
# documents carry no organic PII, so the query plants one deterministic
# instance of each category per document — the oracle then checks both
# the counts AND the redacted text hash (a redaction off by one char
# flips the md5).
def _pii_injected(docs):
    return docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com call 555-123-4567 ssn 123-45-6789 "
                       "from 10.0.0.15")))


_add(
    "p104_pii_scrub",
    lambda t: (text.pii_scrub(_pii_injected(t["documents"]))
               .select("doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4",
                       F.md5("text_scrubbed").alias("scrub_hash"))
               .orderBy("doc_id")),
    r"""
    WITH inj AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR ||
             '@example.com call 555-123-4567 ssn 123-45-6789 from 10.0.0.15'
             AS text
      FROM documents),
    pats AS (
      SELECT doc_id, text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS p_email,
             '\b\d{3}-\d{2}-\d{4}\b' AS p_ssn,
             '(?:\(\d{3}\)|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b' AS p_phone,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b' AS p_ip
      FROM inj)
    SELECT doc_id,
           len(regexp_extract_all(text, p_email))::BIGINT AS n_email,
           len(regexp_extract_all(text, p_ssn))::BIGINT AS n_ssn,
           len(regexp_extract_all(text, p_phone))::BIGINT AS n_phone,
           len(regexp_extract_all(text, p_ip))::BIGINT AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text, p_email, '<EMAIL>', 'g'), p_ssn, '<SSN>', 'g'),
               p_phone, '<PHONE>', 'g'), p_ip, '<IP>', 'g')) AS scrub_hash
    FROM pats ORDER BY doc_id
    """,
)

_add(
    "p105_corpus_mix",
    lambda t: (text.mix_corpus(t["documents"],
                               {"src0": 50, "src1": 30, "src2": 20})
               .orderBy("source")),
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tok
      FROM documents WHERE source IN ('src0', 'src1', 'src2')),
    wt AS (SELECT * FROM (VALUES ('src0', 50), ('src1', 30), ('src2', 20))
           AS v(source, w)),
    mass AS (
      SELECT toks.source, wt.w::BIGINT AS w, SUM(n_tok)::BIGINT AS mass,
             COUNT(*)::BIGINT AS n_docs
      FROM toks JOIN wt ON toks.source = wt.source
      GROUP BY toks.source, wt.w),
    tt AS (SELECT MIN((100 * mass) // w)::BIGINT AS t FROM mass),
    rated AS (
      SELECT source, w, mass, n_docs,
             ((w * t) // 100)::BIGINT AS target_tokens
      FROM mass, tt),
    rr AS (
      SELECT *,
             LEAST(1000000,
                   ((1000 * target_tokens) // mass) * 1000
                   + (1000 * ((1000 * target_tokens) % mass)) // mass
                   )::BIGINT AS rate_ppm
      FROM rated),
    keep AS (
      SELECT toks.source, COUNT(*)::BIGINT AS kept_docs,
             SUM(n_tok)::BIGINT AS kept_tokens
      FROM toks JOIN rr ON toks.source = rr.source
      WHERE (('0x' || substr(md5(doc_id::VARCHAR || '_mix'), 1, 15))::BIGINT)
            % 1000000 < rate_ppm
      GROUP BY toks.source)
    SELECT rr.source, w, mass, n_docs, rate_ppm, target_tokens,
           COALESCE(kept_docs, 0)::BIGINT AS kept_docs,
           COALESCE(kept_tokens, 0)::BIGINT AS kept_tokens
    FROM rr LEFT JOIN keep ON rr.source = keep.source
    ORDER BY rr.source
    """,
)


def _bpe_fold_sql(pair_cte: str) -> str:
    """DuckDB twin of text._apply_merge's fold: DuckDB 1.0's two-arg
    list_reduce can't carry a struct accumulator, so the fold state is
    a STRING 'emitted tokens|pending symbol' (symbols are [A-Za-z0-9]+
    by the operator's contract, so ' ' and '|' are safe sentinels). The
    first element arrives as a raw symbol and is normalized into the
    state on every step."""
    st = "CASE WHEN strpos(acc,'|')=0 THEN '|'||acc ELSE acc END"
    out = f"split_part({st},'|',1)"
    prev = f"split_part({st},'|',2)"
    merged = f"{pair_cte}.s1 || {pair_cte}.s2"
    return f"""list_reduce(syms, (acc, x) ->
      CASE
        WHEN ({st}) LIKE '%|' THEN ({st}) || x
        WHEN {prev} = {pair_cte}.s1 AND x = {pair_cte}.s2 THEN
          (CASE WHEN {out} = '' THEN {merged}
                ELSE {out} || ' ' || {merged} END) || '|'
        ELSE
          (CASE WHEN {out} = '' THEN {prev}
                ELSE {out} || ' ' || {prev} END) || '|' || x
      END)"""


def _bpe_chain_ctes(n_merges: int, last_seq: bool = False) -> list[str]:
    """The unrolled BPE merge chain as CTEs — pair{k} picks iteration
    k's most frequent adjacent pair ((count DESC, s1, s2) tie-break,
    exactly the Spark side's), seq{k} rewrites the sequences with the
    string-state fold. ``last_seq`` also materializes seq{n_merges}
    (the fully-encoded vocabulary — the learning oracle stops at the
    last pair, the encoding oracle needs the final sequences). Every
    seq carries the word ``w`` so encoders can join back to documents.
    """
    final = ("(CASE WHEN strpos(stv,'|')=0 THEN stv "
             "WHEN split_part(stv,'|',2)='' THEN split_part(stv,'|',1) "
             "WHEN split_part(stv,'|',1)='' THEN split_part(stv,'|',2) "
             "ELSE split_part(stv,'|',1)||' '||split_part(stv,'|',2) END)")
    ctes = [r"""words AS (
      SELECT w, COUNT(*)::BIGINT AS cnt FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE regexp_matches(w, '^[A-Za-z0-9]+$') GROUP BY w)""",
            r"""seq0 AS (
      SELECT w, cnt,
             string_split(trim(regexp_replace(w, '(.)', '\1 ', 'g')), ' ')
             AS syms
      FROM words)"""]
    for k in range(1, n_merges + 1):
        ctes.append(f"""pair{k} AS (
      SELECT p[1] AS s1, p[2] AS s2, SUM(cnt)::BIGINT AS n
      FROM (SELECT cnt, unnest(list_zip(syms, syms[2:])) AS p
            FROM seq{k - 1}) u
      WHERE p[2] IS NOT NULL
      GROUP BY 1, 2 ORDER BY n DESC, s1, s2 LIMIT 1)""")
        if k < n_merges or last_seq:
            ctes.append(f"""seq{k} AS (
      SELECT w, cnt, string_split({final.replace("stv", f"f{k}")}, ' ')
             AS syms
      FROM (SELECT w, cnt, {_bpe_fold_sql(f"pair{k}")} AS f{k}
            FROM seq{k - 1}, pair{k}) ff)""")
    return ctes


def bpe_oracle_sql(n_merges: int) -> str:
    """Generated oracle for p106 (merge-rule learning)."""
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS step, s1 AS lhs, s2 AS rhs, n AS pair_count "
        f"FROM pair{k}" for k in range(1, n_merges + 1))
    return ("WITH " + ",\n    ".join(_bpe_chain_ctes(n_merges))
            + f"\n    {unions}\n    ORDER BY step")


def bpe_encode_oracle_sql(n_merges: int) -> str:
    """Generated oracle for p107 (corpus encoding with the learned
    merges): the final seq{n} CTE maps every distinct word to its
    subword sequence; documents join to that map and aggregate."""
    ctes = _bpe_chain_ctes(n_merges, last_seq=True)
    ctes.append(f"""enc AS (
      SELECT w, len(syms)::BIGINT AS n_sub FROM seq{n_merges})""")
    ctes.append(r"""docw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE regexp_matches(w, '^[A-Za-z0-9]+$'))""")
    return ("WITH " + ",\n    ".join(ctes) + """
    SELECT doc_id, COUNT(*)::BIGINT AS n_words,
           SUM(n_sub)::BIGINT AS n_subwords,
           SUM(length(w))::BIGINT AS n_chars,
           ROUND(SUM(length(w))::DOUBLE / SUM(n_sub), 6)
             AS chars_per_subword
    FROM docw JOIN enc USING (w)
    GROUP BY doc_id ORDER BY doc_id""")


def _bpe_band_fold_sql(plist_ref: str) -> str:
    """Multi-pair variant of _bpe_fold_sql: one left-to-right pass
    merging whichever of the round's committed pairs matches. Valid
    because a round's commits are pairwise symbol-DISJOINT (incl.
    merged tokens) — no commit can consume or extend another's output,
    so one simultaneous pass equals the engine's sequential per-pair
    application (_merge_word). ``plist_ref`` is a scalar 's1|s2 s1|s2'
    list ('' for an empty round)."""
    st = "CASE WHEN strpos(acc,'|')=0 THEN '|'||acc ELSE acc END"
    out = f"split_part({st},'|',1)"
    prev = f"split_part({st},'|',2)"
    hit = (f"strpos(' ' || {plist_ref} || ' ', "
           f"' ' || {prev} || '|' || x || ' ') > 0")
    merged = f"({prev} || x)"
    return f"""list_reduce(syms, (acc, x) ->
      CASE
        WHEN ({st}) LIKE '%|' THEN ({st}) || x
        WHEN {hit} THEN
          (CASE WHEN {out} = '' THEN {merged}
                ELSE {out} || ' ' || {merged} END) || '|'
        ELSE
          (CASE WHEN {out} = '' THEN {prev}
                ELSE {out} || ' ' || {prev} END) || '|' || x
      END)"""


def bpe_band_oracle_sql(n_merges: int, band: float,
                        max_batch: int = 64) -> str:
    """Generated oracle for p125: replay the BANDED BPE rounds
    (text.bpe_merges(band=...)) entirely in SQL and emit the same
    per-merge audit log — every value cross-derived, which certifies
    the approximate mode's bounded contract (true round-start counts,
    per-round band threshold, monotone maxima, band order) against an
    independent engine rather than an in-test replay (VERDICT r10
    item 3). Rounds are unrolled to the worst case (one merge per
    round); exhausted rounds commit nothing via the budget guard.
    Each round k mirrors the driver walk exactly:

    * rk: pairs ranked (count DESC, s1, s2), cut to the driver's
      collect limit max(2*budget, 8);
    * cut: the contiguous-prefix cuts — EXCLUSIVE at the first rank
      sharing a symbol (incl. merged tokens) with any earlier rank,
      INCLUSIVE at the budget or at a merged token colliding with a
      previously committed one (single-char initial symbols can never
      collide with length>=2 merged tokens);
    * com: prefix rows with count >= (1-band) * the round's top count
      (same IEEE double arithmetic as the driver);
    * seq: one fold pass applying the round's disjoint batch.
    """
    k_max = n_merges
    final = ("(CASE WHEN strpos(stv,'|')=0 THEN stv "
             "WHEN split_part(stv,'|',2)='' THEN split_part(stv,'|',1) "
             "WHEN split_part(stv,'|',1)='' THEN split_part(stv,'|',2) "
             "ELSE split_part(stv,'|',1)||' '||split_part(stv,'|',2) END)")
    ctes = list(_bpe_chain_ctes(0))  # words + seq0
    ctes.append(
        "cm0 AS MATERIALIZED (SELECT 0 AS rnd, 0::BIGINT AS step, '' AS s1, '' AS s2, "
        "0::BIGINT AS n, 0::BIGINT AS c_max, '' AS m "
        "FROM (VALUES (1)) _t(_x) WHERE FALSE)")
    for k in range(1, k_max + 1):
        j = k - 1
        ctes.append(f"""p{k} AS MATERIALIZED (
      SELECT pr[1] AS s1, pr[2] AS s2, SUM(cnt)::BIGINT AS n
      FROM (SELECT cnt, unnest(list_zip(syms, syms[2:])) AS pr
            FROM seq{j}) u
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2)""")
        ctes.append(f"""bud{k} AS MATERIALIZED (
      SELECT LEAST({max_batch}, {n_merges} -
                   (SELECT COUNT(*) FROM cm{j}))::BIGINT AS b)""")
        ctes.append(f"""rk{k} AS MATERIALIZED (
      SELECT s1, s2, n, s1 || s2 AS m,
             ROW_NUMBER() OVER (ORDER BY n DESC, s1, s2) AS rn
      FROM p{k}
      QUALIFY rn <= GREATEST(2 * (SELECT b FROM bud{k}), 8))""")
        ctes.append(f"""cth{k} AS MATERIALIZED (
      SELECT r.rn,
             EXISTS (SELECT 1 FROM rk{k} e WHERE e.rn < r.rn AND
                     (e.s1 IN (r.s1, r.s2, r.m)
                      OR e.s2 IN (r.s1, r.s2, r.m)
                      OR e.m IN (r.s1, r.s2, r.m))) AS conflict,
             (r.rn >= (SELECT b FROM bud{k})
              OR r.m IN (SELECT m FROM cm{j})) AS stop_inc
      FROM rk{k} r)""")
        ctes.append(f"""cut{k} AS MATERIALIZED (
      SELECT COALESCE(MIN(CASE WHEN conflict THEN rn END), 1000000)
               AS excl,
             COALESCE(MIN(CASE WHEN stop_inc THEN rn END), 1000000)
               AS incl
      FROM cth{k})""")
        ctes.append(f"""com{k} AS MATERIALIZED (
      SELECT r.rn, r.s1, r.s2, r.n, r.m
      FROM rk{k} r, cut{k} c, bud{k} b
      WHERE b.b > 0 AND r.rn < c.excl AND r.rn <= c.incl
        AND r.n::DOUBLE >= (1.0 - {band!r}) *
            (SELECT n FROM rk{k} WHERE rn = 1)::DOUBLE)""")
        ctes.append(f"""cm{k} AS MATERIALIZED (
      SELECT * FROM cm{j}
      UNION ALL
      SELECT {k} AS rnd,
             (SELECT COUNT(*) FROM cm{j}) + rn AS step,
             s1, s2, n,
             (SELECT n FROM rk{k} WHERE rn = 1) AS c_max, m
      FROM com{k})""")
        if k < k_max:
            ctes.append(f"""pl{k} AS MATERIALIZED (
      SELECT COALESCE(string_agg(s1 || '|' || s2, ' ' ORDER BY rn), '')
             AS s FROM com{k})""")
            ctes.append(f"""seq{k} AS MATERIALIZED (
      SELECT w, cnt,
             string_split({final.replace('stv', f'f{k}')}, ' ') AS syms
      FROM (SELECT w, cnt, {_bpe_band_fold_sql(f'pl{k}.s')} AS f{k}
            FROM seq{j}, pl{k}) ff)""")
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT step::INT AS step, rnd::INT AS "round",
           c_max::BIGINT AS c_max, s1 AS lhs, s2 AS rhs,
           n::BIGINT AS pair_count
    FROM cm{k_max} ORDER BY step""")


_add(
    "p106_bpe_merges",
    lambda t: text.bpe_merges(t["documents"], n_merges=4).orderBy("step"),
    bpe_oracle_sql(4),
)

_add(
    "p107_bpe_encode",
    lambda t: text.bpe_encode(t["documents"], n_merges=4).orderBy("doc_id"),
    bpe_encode_oracle_sql(4),
)

_add(
    "p125_bpe_band_log",
    lambda t: text.bpe_merge_log(t["documents"], n_merges=8, band=0.1),
    bpe_band_oracle_sql(8, 0.1),
)


_add(
    "p108_winnow_fingerprints",
    lambda t: text.winnow_fingerprints(t["documents"]).orderBy("doc_id"),
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    hs AS (
      SELECT doc_id, len(toks) - 2 AS n_grams,
             [('0x' || substr(md5(array_to_string(
                  list_slice(toks, i, i + 2), ' ')), 1, 15))::BIGINT
              FOR i IN range(1, len(toks) - 2 + 1)] AS h
      FROM t WHERE len(toks) >= 3),
    win AS (
      SELECT doc_id, n_grams,
             greatest(n_grams - 3, 1) AS n_windows,
             list_distinct([list_min(h[j:j+3])
                            FOR j IN range(1, greatest(n_grams - 3, 1) + 1)])
               AS sel
      FROM hs)
    SELECT doc_id, n_grams::BIGINT AS n_grams, n_windows::BIGINT AS n_windows,
           len(sel)::BIGINT AS n_selected,
           (list_aggregate([x % 2147483647 FOR x IN sel], 'sum')
            % 2147483647)::BIGINT AS fp_checksum
    FROM win ORDER BY doc_id
    """,
)


# -- data-quality validation / profiling (Deequ-style) ----------------------

from golem_spark.operators import profiling  # noqa: E402

_LINEITEM_RULES = [
    ("qty_in_range", "l_quantity >= 1 AND l_quantity <= 50"),
    ("price_positive", "l_extendedprice > 0"),
    ("discount_bounds", "l_discount >= 0.0 AND l_discount <= 0.1"),
    ("tax_bounds", "l_tax >= 0.0 AND l_tax <= 0.08"),
    ("shipdate_present", "l_shipdate IS NOT NULL"),
    ("keys_not_null", "l_orderkey IS NOT NULL AND l_partkey IS NOT NULL"),
    ("return_flag_domain", "l_returnflag IN ('A', 'N', 'R')"),
]


_add(
    "p109_expectation_report",
    lambda t: profiling.expectation_report(t["lineitem"], _LINEITEM_RULES),
    "SELECT * FROM (\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS rule_idx, '{name}' AS rule,"
        f" (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_rows,"
        f" (SELECT COUNT(*) FROM lineitem WHERE NOT COALESCE(({expr}),"
        f" FALSE))::BIGINT AS n_violations,"
        f" ROUND((SELECT COUNT(*) FROM lineitem WHERE NOT COALESCE(({expr}),"
        f" FALSE))::DOUBLE / greatest((SELECT COUNT(*) FROM lineitem), 1),"
        f" 6) AS violation_rate,"
        f" (SELECT COUNT(*) FROM lineitem WHERE NOT COALESCE(({expr}),"
        f" FALSE)) = 0 AS passed"
        for i, (name, expr) in enumerate(_LINEITEM_RULES))
    + "\n    ) ORDER BY rule_idx",
)

_PROFILE_COLS = ["l_returnflag", "l_linestatus", "l_quantity",
                 "l_suppkey", "l_linenumber"]

_add(
    "p110_profile_columns",
    lambda t: profiling.profile_columns(t["lineitem"], _PROFILE_COLS),
    "SELECT * FROM (\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i} AS col_idx, '{c}' AS \"column\","
        f" (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_rows,"
        f" (SELECT COUNT(*) FROM lineitem WHERE {c} IS NULL)::BIGINT"
        f" AS n_nulls,"
        f" ROUND((SELECT COUNT(*) FROM lineitem WHERE {c} IS NULL)::DOUBLE"
        f" / greatest((SELECT COUNT(*) FROM lineitem), 1), 6) AS null_rate,"
        f" (SELECT COUNT(DISTINCT {c}) FROM lineitem)::BIGINT AS n_distinct,"
        f" (SELECT MIN({c})::VARCHAR FROM lineitem) AS min_value,"
        f" (SELECT MAX({c})::VARCHAR FROM lineitem) AS max_value"
        for i, c in enumerate(_PROFILE_COLS))
    + "\n    ) ORDER BY col_idx",
)


def _curation_pipeline_query(t):
    """End-to-end curation composition — the showcase that the
    operators compose into the pipeline a corpus release actually runs:
    exact dedup (keep min doc_id per content hash) -> quality gate
    (text.quality_score >= 0.4) -> per-source token budget
    (text.token_budget_pack, 3000 chars, doc_id order) -> per-source
    data card (kept docs/chars, mean kept quality). Every stage is an
    already-oracle-verified operator (p05, p02, p90, p91 semantics);
    this query verifies their COMPOSITION end to end."""
    from pyspark.sql import Window

    docs = t["documents"]
    first = Window.partitionBy(F.md5("text"))
    deduped = (docs
               .withColumn("__keep_id", F.min("doc_id").over(first))
               .filter(F.col("doc_id") == F.col("__keep_id"))
               .drop("__keep_id"))
    scored = text.quality_score(deduped).filter(F.col("quality") >= 0.4)
    packed = text.token_budget_pack(scored, budget=3000).filter(
        F.col("kept") == 1)
    # mean quality in exact integer micro-units (floor division):
    # quality is 6-dp-rounded, so quality*1e6 is integral up to FP noise
    # — floor(+0.5) recovers the exact integer, and the per-source mean
    # divides integers, immune to the half-boundary ROUND(double) class
    micro = F.floor(F.col("quality") * 1e6 + F.lit(0.5)).cast("long")
    return (packed.withColumn("__qm", micro)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").cast("long").alias("chars_kept"),
                 F.sum("__qm").alias("__qsum"))
            .select("source", "n_kept", "chars_kept",
                    F.expr("__qsum div n_kept").cast("long")
                    .alias("mean_quality_micro"))
            .orderBy("source"))


_add(
    "p111_curation_pipeline",
    _curation_pipeline_query,
    r"""
    WITH dedup AS (
      SELECT * FROM (
        SELECT d.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM documents d) x
      WHERE doc_id = keep_id),
    q AS (
      SELECT doc_id, source, n_chars,
             len(string_split_regex(trim(text), '\s+'))::DOUBLE AS n_tok,
             length(text)::DOUBLE AS n_char,
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '',
                                                   'g')))::DOUBLE AS punct,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> list_contains(['the','a','of','to','and','in','is',
                                     'it','that','for'], x)))::DOUBLE
               AS n_stop
      FROM dedup),
    scored AS (
      SELECT doc_id, source, n_chars,
             ROUND(least(n_tok / 100.0, 1.0) * 0.4
                   + (1.0 - least(punct / greatest(n_char, 1.0) * 10.0,
                                  1.0)) * 0.3
                   + least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0) * 0.3,
                   6) AS quality
      FROM q),
    gated AS (SELECT * FROM scored WHERE quality >= 0.4),
    packed AS (
      SELECT *,
             (SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
              - n_chars) AS cum_before
      FROM gated)
    SELECT source, COUNT(*)::BIGINT AS n_kept,
           SUM(n_chars)::BIGINT AS chars_kept,
           (SUM(floor(quality * 1e6 + 0.5)::BIGINT)
            // COUNT(*))::BIGINT AS mean_quality_micro
    FROM packed WHERE cum_before < 3000
    GROUP BY source ORDER BY source
    """,
)


# -- product quantization (p112 codebook audit, p113 ADC search) ------------

_PQ_CTES = r"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    cb AS (SELECT vec_id AS code_id, ev AS cv FROM e WHERE vec_id < 16),
    d0 AS (
      SELECT e.vec_id, s.sub, cb.code_id,
             [e.ev[s.sub*16 + i] - cb.cv[s.sub*16 + i]
              FOR i IN range(1, 17)] AS dv
      FROM e CROSS JOIN cb
      CROSS JOIN (SELECT unnest(range(4)) AS sub) s),
    d AS (
      SELECT vec_id, sub, code_id,
             ROUND(list_dot_product(dv, dv), 6) AS d2
      FROM d0),
    best AS (
      SELECT vec_id, sub, code_id, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY d2, code_id) AS rn
      FROM d)
"""

_add(
    "p112_pq_assign",
    lambda t: similarity.pq_assignment_stats(t["embeddings"]),
    _PQ_CTES + r"""
    SELECT sub::BIGINT AS sub, code_id::BIGINT AS code,
           COUNT(*)::BIGINT AS n_assigned,
           SUM(vec_id)::BIGINT AS id_sum,
           SUM(floor(d2 * 1e6 + 0.5)::BIGINT)::BIGINT AS sse_micro
    FROM best WHERE rn = 1
    GROUP BY sub, code_id ORDER BY sub, code
    """,
)

_add(
    "p113_pq_topk",
    lambda t: similarity.pq_topk(t["embeddings"], query_ids=(0, 1, 2), k=5),
    _PQ_CTES + r""",
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             floor(d2 * 1e6 + 0.5)::BIGINT AS qm
      FROM d WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT l.query_id, b.vec_id, SUM(l.qm) AS dm
      FROM best b JOIN lut l ON b.sub = l.sub AND b.code_id = l.code_id
      WHERE b.rn = 1 AND b.vec_id <> l.query_id
      GROUP BY l.query_id, b.vec_id),
    ranked AS (
      SELECT query_id, vec_id, ROUND(dm / 1e6, 6) AS approx_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dm, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, approx_d2 FROM ranked WHERE rn <= 5
    ORDER BY query_id, approx_d2, vec_id
    """,
)

_add(
    "p114_ivfpq_topk",
    lambda t: similarity.ivfpq_topk(t["embeddings"], query_ids=(0, 1, 2), k=5),
    _PQ_CTES + r""",
    n AS (
      SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (
      SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n
      WHERE vec_id < 16),
    xr AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                        s.seed_id) AS rn
      FROM n, s),
    cells AS (SELECT vec_id, seed_id AS cell FROM xr WHERE rn = 1),
    qp AS (
      SELECT vec_id AS query_id, seed_id AS qcell FROM xr
      WHERE vec_id IN (0, 1, 2) AND rn <= 2),
    lut AS (
      SELECT vec_id AS query_id, sub, code_id,
             floor(d2 * 1e6 + 0.5)::BIGINT AS qm
      FROM d WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, b.vec_id, SUM(l.qm) AS dm
      FROM best b
      JOIN cells c ON b.vec_id = c.vec_id
      JOIN qp q ON c.cell = q.qcell AND b.vec_id <> q.query_id
      JOIN lut l ON l.query_id = q.query_id AND l.sub = b.sub
                AND l.code_id = b.code_id
      WHERE b.rn = 1
      GROUP BY q.query_id, b.vec_id),
    ranked AS (
      SELECT query_id, vec_id, ROUND(dm / 1e6, 6) AS approx_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dm, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, approx_d2 FROM ranked WHERE rn <= 5
    ORDER BY query_id, approx_d2, vec_id
    """,
)

_add(
    "p115_dsir_weights",
    lambda t: (text.dsir_weights(t["documents"], target_source="src0")
               .orderBy("doc_id")),
    r"""
    WITH w AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    tk AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 64 AS bkt
      FROM w, unnest(toks) AS t(tok)),
    cnt AS (
      SELECT bkt,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::DOUBLE AS ct,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)::DOUBLE AS cr
      FROM tk GROUP BY bkt),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
    lam AS (
      SELECT bkt,
             floor(round(ln(((ct + 0.5) / (tt + 0.5 * 64))
                            / ((cr + 0.5) / (tr + 0.5 * 64))), 6)
                   * 1e6 + 0.5)::BIGINT AS lm
      FROM cnt, tot),
    sc AS (
      SELECT tk.doc_id, SUM(lm) AS sm
      FROM tk JOIN lam USING (bkt)
      GROUP BY tk.doc_id)
    SELECT w.doc_id, w.source, len(toks)::BIGINT AS n_toks,
           ROUND(sm / 1e6, 6) AS logw, (sm > 0) AS target_like
    FROM w JOIN sc ON w.doc_id = sc.doc_id
    ORDER BY w.doc_id
    """,
)

_add(
    "p116_semantic_dedup",
    # 0.4 on the synthetic corpus so the drop path is exercised (max
    # in-cell cosine is ~0.49; real corpora use ~0.9); n_seeds pinned
    # to the oracle fixture size (library default is 'auto')
    lambda t: similarity.semantic_dedup(t["embeddings"], n_seeds=16,
                                        threshold=0.4),
    r"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    n AS (SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n
          WHERE vec_id < 16),
    xr AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                        s.seed_id) AS rn
      FROM n, s),
    cells AS (SELECT vec_id, seed_id AS cell FROM xr WHERE rn = 1),
    a AS (SELECT c.vec_id, c.cell, n.ev, n.nrm
          FROM cells c JOIN n USING (vec_id)),
    drops AS (
      SELECT DISTINCT y.vec_id
      FROM a AS x JOIN a AS y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) >= 0.4)
    SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
    FROM a LEFT JOIN drops d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id
    """,
)

_add(
    "p124_semantic_dedup_two_level",
    # same fixture conventions as p116: n_seeds pinned to 16 (library
    # default is 'auto'), threshold 0.4 so the drop path is exercised
    # even after the sub_k=3 split (verified: drops survive the split).
    # learned_sub_seeds=False pins the deterministic first-n sub-seed
    # convention this oracle certifies (the library default flipped to
    # learned in r13 — p126 certifies that one)
    lambda t: similarity.semantic_dedup_two_level(
        t["embeddings"], n_seeds=16, sub_k=3, threshold=0.4,
        learned_sub_seeds=False),
    r"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    n AS (SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n
          WHERE vec_id < 16),
    xr AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                        s.seed_id) AS rn
      FROM n, s),
    cells AS (SELECT vec_id, seed_id AS cell FROM xr WHERE rn = 1),
    a AS (SELECT c.vec_id, c.cell, n.ev, n.nrm
          FROM cells c JOIN n USING (vec_id)),
    s2 AS (
      SELECT cell, srk, ev AS sv, nrm AS snrm FROM (
        SELECT cell, ev, nrm,
               ROW_NUMBER() OVER (PARTITION BY cell
                                  ORDER BY vec_id) AS srk
        FROM a) WHERE srk <= 3),
    sxr AS (
      SELECT a.vec_id, s2.srk,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.ev, s2.sv)
                        / (a.nrm * s2.snrm) DESC,
                        s2.srk) AS rn
      FROM a JOIN s2 USING (cell)),
    b AS (
      SELECT a.vec_id, a.cell, sxr.srk::BIGINT AS subcell, a.ev, a.nrm
      FROM a JOIN sxr ON a.vec_id = sxr.vec_id AND sxr.rn = 1),
    drops AS (
      SELECT DISTINCT y.vec_id
      FROM b AS x JOIN b AS y
        ON x.cell = y.cell AND x.subcell = y.subcell
       AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) >= 0.4)
    SELECT b.vec_id, b.cell, b.subcell, (d.vec_id IS NULL) AS keep
    FROM b LEFT JOIN drops d ON b.vec_id = d.vec_id
    ORDER BY b.vec_id
    """,
)

def lloyd_semdedup2_oracle_sql(n_seeds: int = 16, sub_k: int = 3,
                               threshold: float = 0.4,
                               sample_cap: int = 512,
                               n_iter: int = 8) -> str:
    """Generated oracle for p126: the LEARNED-sub-seed two-level
    SemDeDup (similarity.semantic_dedup_two_level with
    learned_sub_seeds=True — the configuration the scale audit
    RECOMMENDS past the broadcast cap, VERDICT r11 item 3). DuckDB
    replays the per-cell spherical mini-Lloyd fit
    (similarity._learned_sub_seed_table -> _lloyd_spherical) exactly,
    the way p46 replays a Lloyd step and p125 replays the banded BPE
    rounds — nothing about the learned quantizer is memorized:

    * samp: the md5-of-id-ordered bounded sample (<= sample_cap rows
      per cell; Spark's row_number window is cell-bounded), rows
      normalized to unit vectors (X / max(||x||, 1e-12));
    * c0: init centroids = the sub_k smallest-id sample members
      (np.argsort(__id) then C = X[:k] — k = min(sub_k, |cell|)
      falls out of the id_rk <= sub_k filter);
    * n_iter unrolled Lloyd rounds, each assignment the argmax dot
      against current centroids (ties -> lowest srk, np.argmax's
      first-occurrence), each update the NORMALIZED per-centroid sum
      with empty/degenerate centroids keeping their previous value
      (the nrm > 1e-12 guard in _lloyd_spherical);
    * routing/pair/keep tail identical to p124, with the learned
      table in place of the first-n sub-seeds (snrm =
      max(||C||, 1e-12), _learned_sub_seed_table's output column).
    """
    head = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    n AS (SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n
          WHERE vec_id < {n_seeds}),
    xr AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                        s.seed_id) AS rn
      FROM n, s),
    cells AS (SELECT vec_id, seed_id AS cell FROM xr WHERE rn = 1),
    a AS MATERIALIZED (SELECT c.vec_id, c.cell, n.ev, n.nrm
          FROM cells c JOIN n USING (vec_id)),
    samp AS MATERIALIZED (
      SELECT cell, vec_id,
             list_transform(ev, x -> x / GREATEST(nrm, 1e-12)) AS xv
      FROM (SELECT cell, vec_id, ev, nrm,
                   ROW_NUMBER() OVER (PARTITION BY cell
                     ORDER BY md5(vec_id::VARCHAR), vec_id) AS smp_r
            FROM a)
      WHERE smp_r <= {sample_cap}),
    sd AS MATERIALIZED (SELECT cell, vec_id,
                  unnest(range(len(xv))) AS i, unnest(xv) AS v
           FROM samp),
    c0 AS MATERIALIZED (
      SELECT cell, id_rk AS srk, xv AS cv FROM (
        SELECT cell, vec_id, xv,
               ROW_NUMBER() OVER (PARTITION BY cell
                                  ORDER BY vec_id) AS id_rk
        FROM samp)
      WHERE id_rk <= {sub_k})"""
    rounds = []
    for t in range(n_iter):
        rounds.append(f""",
    asg{t} AS MATERIALIZED (
      SELECT cell, vec_id, srk FROM (
        SELECT s.cell, s.vec_id, c.srk,
               ROW_NUMBER() OVER (PARTITION BY s.cell, s.vec_id
                 ORDER BY list_dot_product(s.xv, c.cv) DESC, c.srk) AS rn
        FROM samp s JOIN c{t} c USING (cell))
      WHERE rn = 1),
    sm{t} AS MATERIALIZED (
      SELECT g.cell, g.srk, d.i, SUM(d.v) AS sv
      FROM asg{t} g JOIN sd d
        ON g.cell = d.cell AND g.vec_id = d.vec_id
      GROUP BY g.cell, g.srk, d.i),
    vv{t} AS MATERIALIZED (
      SELECT cell, srk, list(sv ORDER BY i) AS vec,
             sqrt(SUM(sv * sv)) AS nn
      FROM sm{t} GROUP BY cell, srk),
    c{t + 1} AS MATERIALIZED (
      SELECT c.cell, c.srk,
             CASE WHEN v.nn > 1e-12
                  THEN list_transform(v.vec, x -> x / v.nn)
                  ELSE c.cv END AS cv
      FROM c{t} c LEFT JOIN vv{t} v
        ON c.cell = v.cell AND c.srk = v.srk)"""[1:])
    tail = f""",
    s2 AS MATERIALIZED (SELECT cell, srk, cv AS sv,
                  GREATEST(sqrt(list_dot_product(cv, cv)), 1e-12) AS snrm
           FROM c{n_iter}),
    sxr AS (
      SELECT a.vec_id, s2.srk,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.ev, s2.sv)
                        / (a.nrm * s2.snrm) DESC,
                        s2.srk) AS rn
      FROM a JOIN s2 USING (cell)),
    b AS MATERIALIZED (
      SELECT a.vec_id, a.cell, sxr.srk::BIGINT AS subcell, a.ev, a.nrm
      FROM a JOIN sxr ON a.vec_id = sxr.vec_id AND sxr.rn = 1),
    drops AS (
      SELECT DISTINCT y.vec_id
      FROM b AS x JOIN b AS y
        ON x.cell = y.cell AND x.subcell = y.subcell
       AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) >= {threshold})
    SELECT b.vec_id, b.cell, b.subcell, (d.vec_id IS NULL) AS keep
    FROM b LEFT JOIN drops d ON b.vec_id = d.vec_id
    ORDER BY b.vec_id
    """
    return head + ",\n    " + ",\n    ".join(r.strip(",\n ")
                                             for r in rounds) + tail


_add(
    "p126_semantic_dedup_two_level_learned",
    # the scale-RECOMMENDED two-level configuration (the library
    # DEFAULT since r13): per-cell mini-Lloyd sub-seeds instead of the
    # first-n convention (p124 keeps certifying that one); same
    # fixture pins as p124 so the drop path stays exercised after the
    # sub_k=3 split
    lambda t: similarity.semantic_dedup_two_level(
        t["embeddings"], n_seeds=16, sub_k=3, threshold=0.4,
        learned_sub_seeds=True),
    lloyd_semdedup2_oracle_sql(16, 3, 0.4),
)

_add(
    "p117_hard_negatives",
    # near_dup=0.45 on the synthetic corpus so the exclusion branch is
    # exercised (4 in-cell pairs sit above 0.45; real corpora use
    # ~0.95); n_seeds pinned to the oracle fixture size
    lambda t: similarity.hard_negatives(t["embeddings"], n_seeds=16, k=2,
                                        near_dup=0.45),
    r"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev
      FROM embeddings),
    n AS (SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
    s AS (SELECT vec_id AS seed_id, ev AS sv, nrm AS snrm FROM n
          WHERE vec_id < 16),
    xr AS (
      SELECT n.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.ev, s.sv) / (n.nrm * s.snrm) DESC,
                        s.seed_id) AS rn
      FROM n, s),
    cells AS (SELECT vec_id, seed_id AS cell FROM xr WHERE rn = 1),
    a AS (SELECT c.vec_id, c.cell, n.ev, n.nrm
          FROM cells c JOIN n USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS anchor_id, y.vec_id AS neg_id,
             list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) AS cos
      FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id <> y.vec_id
      WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) < 0.45),
    ranked AS (
      SELECT anchor_id, neg_id, cos,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, neg_id) AS rk
      FROM pairs)
    SELECT anchor_id, neg_id, ROUND(cos, 6) AS cos, rk
    FROM ranked WHERE rk <= 2
    ORDER BY anchor_id, rk
    """,
)

_add(
    "p118_stratified_topn",
    lambda t: (relational.stratified_topn_sample(
        t["documents"].select("doc_id", "lang", "source", "n_chars"),
        "doc_id", ["lang", "source"], n=3)
        .select("doc_id", "lang", "source", "n_chars",
                F.col("__rk").cast("long").alias("rk"))
        .orderBy("lang", "source", "rk")),
    r"""
    WITH h AS (
      SELECT doc_id, lang, source, n_chars,
             (('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT)
             AS hv
      FROM documents),
    r AS (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY hv, doc_id) AS rk
      FROM h)
    SELECT doc_id, lang, source, n_chars, rk
    FROM r WHERE rk <= 3
    ORDER BY lang, source, rk
    """,
)


def _quality_proxy_query(t):
    """Model-based quality filtering (the CCNet/RefinedWeb recipe: train
    a cheap regressor to imitate an expensive quality signal, then gate
    the corpus on its predictions): OLS (gaussian GLM at sigma->0) from
    three closed-form text features onto the DSIR log-weight, scored
    back over the corpus in one pass. Composes the GLM stack (O43
    estimator) with the pipeline stack (p115) — features, labels, fit,
    and predictions are ALL re-derived in the DuckDB oracle (p115 CTEs
    + 3x3 Cramer normal equations, the glm_estimator_pipeline pattern).

    Scale shape: features and the DSIR label come from ONE corpus scan
    against the broadcast DSIR model row (no self-join); the OLS fit
    reduces to sufficient statistics via the GLM backend's combinable
    aggregates; scoring is a pure projection.
    """
    from golem_spark.path import owl
    from golem_spark.pipeline.text import (STOPWORDS, _md5_int, dsir_model,
                                           tokens_col)
    from golem_spark.predict import predict

    docs = t["documents"]
    toks = tokens_col("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(toks).cast("double")
    score = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, tok: acc + F.element_at(F.col("lam_map"),
                                            _md5_int(tok) % 64))
    from golem_spark.pipeline._cache import _swap_cache

    # the feature frame is read twice (the OLS sufficient-stats pass
    # via the backend build AND the scoring projection below): persist
    # it so the per-token HOF feature expressions evaluate ONCE
    train = _swap_cache("quality_proxy_train", (
        docs.crossJoin(F.broadcast(dsir_model(docs)))
        .select(
            "doc_id", "source",
            n.alias("f_ntoks"),
            (F.size(F.filter(
                toks, lambda x: F.exists(stop_arr, lambda s: s == x)))
             .cast("double") / n).alias("f_stop"),
            (F.aggregate(F.transform(toks, F.length), F.lit(0),
                         lambda a, x: a + x).cast("double") / n)
            .alias("f_wlen"),
            F.round(score.cast("double") / 1e6, 6).alias("logw"))))
    feats = ["f_ntoks", "f_stop", "f_wlen"]
    # sigma->0 with tight inner tolerances so the distributed fit agrees
    # with the oracle's exact Cramer OLS to well inside the 6-dp rounding
    fit = owl(df=train, feature_cols=feats, label_col="logw",
              family="gaussian", sigma=[1e-10],
              tol_abs=1e-12, tol_rel=1e-12, tol_rel_gap=1e-10)
    scored = (predict(fit, df=train, feature_cols=feats, path_idx=0,
                      type="response")
              .withColumnRenamed("pred_0", "prediction"))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.round(F.avg("prediction"), 6).alias("avg_pred"),
                 F.sum(F.when(F.col("prediction") > 0, 1).otherwise(0))
                 .cast("long").alias("n_pass"),
                 F.round(F.avg(F.abs(F.col("logw") - F.col("prediction"))),
                         6).alias("mae"))
            .orderBy("source"))


_DSIR_CTES = r"""
    WITH w AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    tk AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 64 AS bkt
      FROM w, unnest(toks) AS t(tok)),
    cnt AS (
      SELECT bkt,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::DOUBLE AS ct,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)::DOUBLE AS cr
      FROM tk GROUP BY bkt),
    tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
    lam AS (
      SELECT bkt,
             floor(round(ln(((ct + 0.5) / (tt + 0.5 * 64))
                            / ((cr + 0.5) / (tr + 0.5 * 64))), 6)
                   * 1e6 + 0.5)::BIGINT AS lm
      FROM cnt, tot),
    sc AS (
      SELECT tk.doc_id, SUM(lm) AS sm
      FROM tk JOIN lam USING (bkt)
      GROUP BY tk.doc_id)
""".strip()

_add(
    "p119_quality_proxy_model",
    _quality_proxy_query,
    _DSIR_CTES + r""",
    ft AS (
      SELECT w.doc_id, w.source,
             len(toks)::DOUBLE AS f1,
             len(list_filter(toks, x -> list_contains(
               ['the','a','of','to','and','in','is','it','that','for'], x)
             ))::DOUBLE / len(toks)::DOUBLE AS f2,
             list_sum(list_transform(toks, x -> len(x)))::DOUBLE
               / len(toks)::DOUBLE AS f3,
             ROUND(sm / 1e6, 6) AS y
      FROM w JOIN sc ON w.doc_id = sc.doc_id),
    st AS (
      SELECT COUNT(*)::DOUBLE AS n,
             AVG(f1) AS m1, AVG(f2) AS m2, AVG(f3) AS m3, AVG(y) AS my,
             SUM(f1*f1) AS s11, SUM(f1*f2) AS s12, SUM(f1*f3) AS s13,
             SUM(f2*f2) AS s22, SUM(f2*f3) AS s23, SUM(f3*f3) AS s33,
             SUM(f1*y) AS c1s, SUM(f2*y) AS c2s, SUM(f3*y) AS c3s
      FROM ft),
    ge AS (
      SELECT n, m1, m2, m3, my,
             s11 - n*m1*m1 AS a11, s12 - n*m1*m2 AS a12,
             s13 - n*m1*m3 AS a13, s22 - n*m2*m2 AS a22,
             s23 - n*m2*m3 AS a23, s33 - n*m3*m3 AS a33,
             c1s - n*m1*my AS c1, c2s - n*m2*my AS c2, c3s - n*m3*my AS c3
      FROM st),
    de AS (
      SELECT *, a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                + a13*(a12*a23 - a22*a13) AS det FROM ge),
    bs AS (
      SELECT my, m1, m2, m3,
        (c1*(a22*a33 - a23*a23) - a12*(c2*a33 - a23*c3)
         + a13*(c2*a23 - a22*c3)) / det AS b1,
        (a11*(c2*a33 - a23*c3) - c1*(a12*a33 - a23*a13)
         + a13*(a12*c3 - c2*a13)) / det AS b2,
        (a11*(a22*c3 - c2*a23) - a12*(a12*c3 - c2*a13)
         + c1*(a12*a23 - a22*a13)) / det AS b3
      FROM de),
    bb AS (SELECT my - m1*b1 - m2*b2 - m3*b3 AS b0, b1, b2, b3 FROM bs)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           ROUND(AVG(bb.b0 + bb.b1*f1 + bb.b2*f2 + bb.b3*f3), 6) AS avg_pred,
           SUM(CASE WHEN bb.b0 + bb.b1*f1 + bb.b2*f2 + bb.b3*f3 > 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           ROUND(AVG(ABS(y - (bb.b0 + bb.b1*f1 + bb.b2*f2 + bb.b3*f3))), 6)
             AS mae
    FROM ft, bb
    GROUP BY source ORDER BY source
    """,
)


def _split_leakage_query(t, spark=None, sf_dir=None):
    """Decontaminated-split audit: near-duplicate pairs that CROSS the
    deterministic train/val/test boundary are eval-set leakage (the
    contamination a random split bakes in; cf. Lee et al. 2022 on
    duplicate-driven eval inflation). Reuses the shared MinHash pair
    frame + the p41 hash-split rule; two broadcast-sized joins attach
    each side's split, then one tiny label-pair aggregate. At 100 TB
    the pair frame is the already-sub-quadratic LSH output and the
    split column is a pure hash expression — nothing new shuffles."""
    docs = load_tables(spark, sf_dir)["documents"]
    splits = (relational.split_assign(docs, "doc_id",
                                      [("train", 0.8), ("val", 0.1),
                                       ("test", 0.1)], seed=7)
              .select("doc_id", "split"))
    pairs = _minhash_pairs_cached(spark, sf_dir)
    lab = (pairs
           .join(splits.select(F.col("doc_id").alias("doc_a"),
                               F.col("split").alias("sp_a")), "doc_a")
           .join(splits.select(F.col("doc_id").alias("doc_b"),
                               F.col("split").alias("sp_b")), "doc_b")
           .select(F.least("sp_a", "sp_b").alias("split_a"),
                   F.greatest("sp_a", "sp_b").alias("split_b")))
    return (lab.groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .withColumn("leaks",
                        F.col("split_a") != F.col("split_b"))
            .orderBy("split_a", "split_b"))


_add(
    "p121_split_leakage",
    _split_leakage_query,
    f"""
    WITH {_MINHASH_PAIR_CTES},
    pairs AS (
    {_MINHASH_PAIRS_SELECT}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_7'")}
                       < {{train}} THEN 'train'
                  WHEN {_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_7'")}
                       < {{val}} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    lab AS (
      SELECT least(sa.split, sb.split) AS split_a,
             greatest(sa.split, sb.split) AS split_b
      FROM pairs
      JOIN sp sa ON sa.doc_id = pairs.doc_a
      JOIN sp sb ON sb.doc_id = pairs.doc_b)
    SELECT split_a, split_b, COUNT(*)::BIGINT AS n_pairs,
           (split_a <> split_b) AS leaks
    FROM lab GROUP BY split_a, split_b
    ORDER BY split_a, split_b
    """.replace("{train}", str(_SPLIT_THRESH["train"]))
       .replace("{val}", str(_SPLIT_THRESH["val"])),
)


def _shard_manifest_query(t):
    from golem_spark.sources.io import shard_manifest

    return shard_manifest(t["documents"], "doc_id", n_shards=16,
                          weight_col="n_chars")


_add(
    "p120_shard_manifest",
    _shard_manifest_query,
    f"""
    WITH s AS (
      SELECT ({_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_0'")}) % 16
               AS shard,
             doc_id, n_chars
      FROM documents),
    per AS (
      SELECT shard, COUNT(*)::BIGINT AS n_rows,
             SUM(n_chars)::BIGINT AS sum_weight,
             MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
      FROM s GROUP BY shard),
    tot AS (SELECT SUM(n_rows) AS t FROM per)
    SELECT shard, n_rows, sum_weight, min_key, max_key,
           (n_rows * 1000000 // t)::BIGINT AS load_ppm
    FROM per, tot
    ORDER BY shard
    """,
)

_add(
    "p122_intra_doc_dedup",
    lambda t: (text.intra_doc_chunk_dedup(t["documents"], chunk=8)
               .orderBy("doc_id")),
    rf"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CAST(ceil(len(toks)::DOUBLE / 8) AS INT) AS nc
      FROM w),
    tx AS (
      SELECT doc_id, n, nc,
             list_transform(range(1, nc + 1),
               j -> array_to_string(
                 list_slice(toks, (j - 1) * 8 + 1, (j - 1) * 8 + 8), ' '))
               AS texts
      FROM c),
    k AS (
      SELECT doc_id, n, nc, texts,
             list_filter(range(1, nc + 1),
                         j -> list_position(texts, texts[j]) = j) AS kept
      FROM tx)
    SELECT doc_id, nc::BIGINT AS n_chunks, len(kept)::BIGINT AS n_kept,
           list_sum(list_transform(kept,
             j -> least(8 * j, n) - (j - 1) * 8))::BIGINT AS n_tokens_kept,
           md5(array_to_string(list_transform(kept, j -> texts[j]), ' '))
             AS scrub_hash
    FROM k ORDER BY doc_id
    """,
)


def _curation_v2_query(t):
    """Curation pipeline v2 — composes this round's stages end to end:
    DSIR importance gate (keep logw > -0.5, p115 semantics) ->
    intra-document repetition scrub (p122) -> deterministic shard
    layout + token-load manifest (p120). Verifies the COMPOSITION of
    three independently-oracle-verified operators, the release
    pipeline a target-distribution-matched corpus actually runs.

    One corpus scan carries the broadcast DSIR model, the gate, and the
    per-row scrub; the only shuffle is the <=n_shards-key manifest
    groupBy."""
    from golem_spark.pipeline.text import (_dsir_select, dsir_model,
                                           intra_doc_chunk_dedup)
    from golem_spark.sources.io import shard_assign

    docs = t["documents"]
    scored = _dsir_select(
        docs.crossJoin(F.broadcast(dsir_model(docs))),
        F.col("lam_map"), 64, "text").select("doc_id", "logw")
    gated = (docs.join(scored, "doc_id")
             .filter(F.col("logw") > -0.5))
    scrub = intra_doc_chunk_dedup(gated, chunk=8)
    per = (shard_assign(scrub, "doc_id", 8)
           .groupBy("__shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens_kept").cast("long").alias("tokens_kept")))
    tot = per.agg(F.sum("n_docs").alias("__tot"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("__shard").alias("shard"), "n_docs", "tokens_kept",
                    # exact integer div (the oracle's `//`), not a float floor
                    F.expr("(n_docs * 1000000L) div __tot")
                    .cast("long").alias("load_ppm"))
            .orderBy("shard"))


_add(
    "p123_curation_v2",
    _curation_v2_query,
    _DSIR_CTES + rf""",
    gated AS (
      SELECT w.doc_id, w.toks
      FROM w JOIN sc ON w.doc_id = sc.doc_id
      WHERE ROUND(sm / 1e6, 6) > -0.5),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CAST(ceil(len(toks)::DOUBLE / 8) AS INT) AS nc
      FROM gated),
    tx AS (
      SELECT doc_id, n, nc,
             list_transform(range(1, nc + 1),
               j -> array_to_string(
                 list_slice(toks, (j - 1) * 8 + 1, (j - 1) * 8 + 8), ' '))
               AS texts
      FROM c),
    k AS (
      SELECT doc_id, n, nc,
             list_filter(range(1, nc + 1),
                         j -> list_position(texts, texts[j]) = j) AS kept
      FROM tx),
    scrub AS (
      SELECT doc_id,
             list_sum(list_transform(kept,
               j -> least(8 * j, n) - (j - 1) * 8))::BIGINT AS n_tokens_kept
      FROM k),
    per AS (
      SELECT ({_DUCK_MD5INT.format(x="doc_id::VARCHAR || '_0'")}) % 8
               AS shard,
             COUNT(*)::BIGINT AS n_docs,
             SUM(n_tokens_kept)::BIGINT AS tokens_kept
      FROM scrub GROUP BY shard),
    mtot AS (SELECT SUM(n_docs) AS t FROM per)
    SELECT shard, n_docs, tokens_kept,
           (n_docs * 1000000 // t)::BIGINT AS load_ppm
    FROM per, mtot ORDER BY shard
    """,
)
