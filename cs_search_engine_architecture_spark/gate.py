"""Driver correctness-gate queries: Spark implementations + DuckDB oracles.

Strategy (SURVEY.md §5): the DuckDB-checkable gate runs the REAL distributed
pipeline (mapInPandas tokenizer -> compressed block index -> join-algebra
compiler -> top-k) in the ``simple`` analyzer mode, whose tokenization is
expressible in ANSI SQL (``regexp_extract_all``). Reference-analyzer
fidelity (Porter2 truncation stemming, scan quirks) is covered by the
pytest golden suite against the pure-Python oracle instead — DuckDB has no
Snowball stemmer in this environment.

Float policy: every compared score is computed with the *same explicit
double expression tree* on both sides and then cast through float32
(Spark ``cast('float')`` / DuckDB ``CAST(... AS REAL)``), which absorbs
last-ulp libm differences; comparisons are exact after the cast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators.indexer import (
    build_index,
    tokenize_postings,
)

GATE_VERSION = "r5"  # bump to invalidate /tmp gate-index caches on layout changes
# (the _del/_add/_upd maintenance copies key off the base index path, so
# the bump also forces them to rebuild — r4's search_after_update runs a
# DOUBLE update whose first leg a stale r3 copy would silently skip)

# shared DuckDB CTE: simple-analyzer tokenization of the documents table
TOKS_CTE = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term "
    "FROM documents"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


_ENGINES: dict[tuple, SearchEngine] = {}


def gate_engine(spark: SparkSession, sf_dir: str, analyzer: str = "simple") -> SearchEngine:
    """Build (once, cached on disk + in-process) the gate index over the
    ``documents`` fixture and return an engine on it."""
    key = (sf_dir, analyzer)
    if key in _ENGINES:
        return _ENGINES[key]
    tag = f"{abs(hash(sf_dir)) % 10**8}_{analyzer}_{GATE_VERSION}"
    path = os.path.join("/tmp/spark_sea_gate", tag)
    if not os.path.exists(os.path.join(path, "meta.json")):
        build_index(
            spark,
            _docs(spark, sf_dir),
            path,
            fields=["text"],
            analyzer=analyzer,
            num_buckets=8,
            corpus_path=os.path.join(sf_dir, "documents.parquet"),
        )
    eng = SearchEngine(spark, path)
    _ENGINES[key] = eng
    return eng


# ---------------------------------------------------------------- queries

def q_postings_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenize_postings(_docs(spark, sf_dir), ["text"], analyzer="simple").select(
        "doc_id", "term", F.element_at("field_freqs", 1).alias("tf")
    )


SQL_POSTINGS_TF = f"""
SELECT doc_id, term, CAST(count(*) AS INT) AS tf
FROM ({TOKS_CTE}) toks
GROUP BY doc_id, term
"""


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = docs.count()
    postings = tokenize_postings(docs, ["text"], analyzer="simple")
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")).select(
        "term",
        "df",
        F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
        .cast("float")
        .cast("double")
        .alias("idf"),
    )


SQL_TERM_STATS = f"""
WITH toks AS ({TOKS_CTE}),
per AS (SELECT DISTINCT doc_id, term FROM toks),
n AS (SELECT count(*) AS n FROM documents)
SELECT term, count(*) AS df,
  CAST(CAST(ln(((SELECT n FROM n) - count(*) + 0.5) / (count(*) + 0.5)) AS REAL)
       AS DOUBLE) AS idf
FROM per GROUP BY term
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = gate_engine(spark, sf_dir)
    return eng.search("spark or data", top_k=10).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


# exact mirror of indexer.bm25_score_col (single field, boost 1.0, b 0.75,
# k 1.5) followed by the engine's OR sum + float32 casts
SQL_BM25_TOPK = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)
SELECT doc_id,
       CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


SQL_BOOL_AND_NOT = f"""
WITH toks AS ({TOKS_CTE})
SELECT DISTINCT doc_id FROM toks WHERE term = 'data'
EXCEPT
SELECT DISTINCT doc_id FROM toks WHERE term = 'slow'
"""


SQL_BOOL_PRECEDENCE = f"""
WITH toks AS ({TOKS_CTE})
SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'
UNION
(SELECT DISTINCT doc_id FROM toks WHERE term = 'data'
 INTERSECT
 SELECT DISTINCT doc_id FROM toks WHERE term = 'slow')
"""


def q_bool_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite boolean gate (round-5 consolidation of
    ``bool_and_not`` + ``bool_precedence`` under the driver's 50-row
    snapshot cap): the AND-NOT left-anti plan and the precedence
    algebra (``or(spark, and(data, slow))`` — and binds tighter,
    sea/query.pyx:71-74) as two arms of one row. Both arms keep their
    original standalone oracles as the UNION branches."""
    eng = gate_engine(spark, sf_dir)
    a = eng.search_df("data and not slow").select(
        F.lit("and_not").alias("arm"), "doc_id"
    )
    b = eng.search_df("spark or data and slow").select(
        F.lit("precedence").alias("arm"), "doc_id"
    )
    return a.unionByName(b)


SQL_BOOL_QUERIES = f"""
SELECT 'and_not' AS arm, doc_id FROM ({SQL_BOOL_AND_NOT}) a
UNION ALL
SELECT 'precedence' AS arm, doc_id FROM ({SQL_BOOL_PRECEDENCE}) b
"""


def q_phrase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite positional gate: the reference phrase window
    (``"window order"``, fixed char window 0..10) plus the two
    slop-parameterized proximity extensions over the SAME term pair —
    ordered slop=30 (phrase chain, widened window) and unordered
    slop=30 (|Δp| ≤ 30 — catches reversed-order occurrences the
    ordered arm can't). All three arms score sum-of-BM25 over the two
    terms (2 addends — order-insensitive on both sides) and rank by
    the engine's raw-double order."""
    eng = gate_engine(spark, sf_dir)
    fscore = F.col("score").cast("float").cast("double").alias("score")
    phrase = eng.search('"window order"', top_k=10).select(
        F.lit("phrase").alias("part"), "doc_id", fscore
    )
    prox_o = eng.proximity_search("window order", 30, top_k=10).select(
        F.lit("prox_ordered").alias("part"), "doc_id", fscore
    )
    prox_u = eng.proximity_search(
        "window order", 30, top_k=10, ordered=False
    ).select(F.lit("prox_unordered").alias("part"), "doc_id", fscore)
    return phrase.unionByName(prox_o).unionByName(prox_u)


def _pos_cte(name: str, term: str) -> str:
    """0-based char positions of ``term`` as a simple-analyzer token:
    an alnum run starting at i (predecessor not alnum) that equals the
    term and ends at a non-alnum boundary — reproducing the tokenizer's
    ``m.start()`` positions in pure SQL."""
    ln = len(term)
    return f"""
{name} AS (
  SELECT doc_id,
    unnest(list_filter(generate_series(1, length(text)),
      i -> substr(lower(text), i, {ln}) = '{term}'
        AND (i = 1 OR NOT substr(lower(text), i-1, 1) SIMILAR TO '[a-z0-9]')
        AND (i + {ln} > length(text)
             OR NOT substr(lower(text), i+{ln}, 1) SIMILAR TO '[a-z0-9]')
    )) - 1 AS p
  FROM documents)"""


# the reference's phrase constraint: consecutive phrase terms' char
# positions within 0 <= p2 - p1 <= 10 (sea/posting_list.pyx:23-44, k=10);
# the proximity arms replay the same join with the window widened to 30
# (ordered) / |Δp| <= 30 (unordered). Scored like every BM25 arm: per-term
# float32 score, raw-double sum drives the ranking.
SQL_PHRASE_WINDOW = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
{_pos_cte("w", "window")}, {_pos_cte("o", "order")},
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('window', 'order') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
m_phrase AS (SELECT DISTINCT w.doc_id FROM w JOIN o ON w.doc_id = o.doc_id
             WHERE o.p - w.p BETWEEN 0 AND 10),
m_prox_o AS (SELECT DISTINCT w.doc_id FROM w JOIN o ON w.doc_id = o.doc_id
             WHERE o.p - w.p BETWEEN 0 AND 30),
m_prox_u AS (SELECT DISTINCT w.doc_id FROM w JOIN o ON w.doc_id = o.doc_id
             WHERE abs(o.p - w.p) <= 30)
(SELECT 'phrase' AS part, doc_id,
        CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
 FROM sc WHERE doc_id IN (SELECT doc_id FROM m_phrase) GROUP BY doc_id
 ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC LIMIT 10)
UNION ALL
(SELECT 'prox_ordered' AS part, doc_id,
        CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
 FROM sc WHERE doc_id IN (SELECT doc_id FROM m_prox_o) GROUP BY doc_id
 ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC LIMIT 10)
UNION ALL
(SELECT 'prox_unordered' AS part, doc_id,
        CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
 FROM sc WHERE doc_id IN (SELECT doc_id FROM m_prox_u) GROUP BY doc_id
 ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC LIMIT 10)
"""


# batched-phrase gate: two 2-term phrases (order-insensitive sums)
MSP_PHRASES = {"pa": ("window", "order"), "pb": ("table", "scan")}


def q_msearch_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched pure-phrase serving: both phrases answered from ONE
    shared positional scan (``msearch`` routes them to
    ``phrase_batched_topk``); scores are the compiled chain's term-score
    sums for docs passing the char-window predicate."""
    eng = gate_engine(spark, sf_dir)
    return eng.msearch(
        {qid: f'"{a} {b}"' for qid, (a, b) in MSP_PHRASES.items()},
        top_k=10,
    ).select(
        "query_id",
        "doc_id",
        F.col("score").cast("float").cast("double").alias("score"),
    )


def _sql_msearch_phrase() -> str:
    score_expr = (
        "CAST(ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))"
        " * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl /"
        " (SELECT avgdl FROM avgdl))) * 2.5)"
        " / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl /"
        " (SELECT avgdl FROM avgdl))) + 1.5) AS REAL)"
    )
    ctes = [
        f"toks AS ({TOKS_CTE})",
        "n AS (SELECT count(*) AS n FROM documents)",
        "avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks)",
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id)",
    ]
    branches = []
    for qid, (t1, t2) in MSP_PHRASES.items():
        ctes.append(_pos_cte(f"{qid}_1", t1).strip().rstrip())
        ctes.append(_pos_cte(f"{qid}_2", t2).strip().rstrip())
        ctes.append(f"""
{qid}_m AS (SELECT DISTINCT a.doc_id FROM {qid}_1 a
            JOIN {qid}_2 b ON a.doc_id = b.doc_id
            WHERE b.p - a.p BETWEEN 0 AND 10)""")
        ctes.append(f"""
{qid}_tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             WHERE term IN ('{t1}', '{t2}') GROUP BY doc_id, term)""")
        ctes.append(
            f"{qid}_df AS (SELECT term, count(*) AS df FROM {qid}_tf "
            "GROUP BY term)"
        )
        ctes.append(f"""
{qid}_sc AS (SELECT t.doc_id, {score_expr} AS score
             FROM {qid}_tf t JOIN dl USING (doc_id)
             JOIN {qid}_df d ON d.term = t.term
             WHERE t.doc_id IN (SELECT doc_id FROM {qid}_m))""")
        branches.append(f"""
(SELECT '{qid}' AS query_id, doc_id,
   CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
 FROM {qid}_sc GROUP BY doc_id
 ORDER BY score DESC, doc_id ASC LIMIT 10)""")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(branches)


SQL_MSEARCH_PHRASE = _sql_msearch_phrase()


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings = tokenize_postings(_docs(spark, sf_dir), ["text"], analyzer="simple")
    return postings.groupBy("doc_id").agg(
        F.sum(F.element_at("field_freqs", 1)).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_terms"),
        F.max(F.length("term")).cast("int").alias("max_term_len"),
    )


SQL_DOC_TOKEN_STATS = f"""
WITH toks AS ({TOKS_CTE})
SELECT doc_id, count(*) AS n_tokens,
       count(DISTINCT term) AS n_distinct_terms,
       CAST(max(length(term)) AS INT) AS max_term_len
FROM toks GROUP BY doc_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the embedding of vec_id 0
    (R3 analog: exact, no ANN — ``sea/engine.pyx:555-565``)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with("embedding", qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_q = sum(float(x) * float(x) for x in qvec) ** 0.5
    norm_d = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda a: a.cast("double") * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = dot / (norm_d * F.lit(norm_q))
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", cos.cast("float").cast("double").alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, (SELECT qe FROM q)),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(e.embedding,
                  a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)))) AS nd,
         (SELECT sqrt(list_sum(list_transform(qe,
                  a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)))) FROM q) AS nq
  FROM embeddings e WHERE e.vec_id != 0
)
SELECT vec_id, CAST(CAST(dot / (nd * nq) AS REAL) AS DOUBLE) AS cos
FROM pairs
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


# ------------------------------------------------- training-pipeline ops
#
# Dedup / similarity / text-analysis / multimodal operators (the
# pretraining-pipeline extensions over SURVEY.md §2). Spark plans and
# DuckDB oracles are generated from the SAME fragment source
# (``functions/dialect.py``), so values are bit-identical by
# construction; see each operator module for the 100 TB scale notes.

from cs_search_engine_architecture_spark.functions import dialect as D  # noqa: E402
from cs_search_engine_architecture_spark.operators import (  # noqa: E402
    dedup as DD,
    multimodal as MM,
    similarity as SIM,
    sketches as SK,
    spans as SP,
    text_analysis as TA,
)

_DUCK_TOKS_CTE = (
    f"SELECT doc_id, text, {D.tokens(D.DUCKDB)} AS toks FROM documents"
)


SQL_LANG_ID = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) "
    f"SELECT doc_id, {TA.lang_id_sql(D.DUCKDB)} AS lang_pred FROM t"
)


SQL_QUALITY_SCORES = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) SELECT doc_id, "
    + ", ".join(f"{e} AS {k}" for k, e in TA.quality_sql(D.DUCKDB).items())
    + " FROM t"
)


SQL_REPETITION_SCORES = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) SELECT doc_id, "
    + ", ".join(f"{e} AS {k}" for k, e in TA.repetition_sql(D.DUCKDB).items())
    + " FROM t"
)


SQL_TOKEN_COUNTS = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) SELECT doc_id, "
    + ", ".join(f"{e} AS {k}" for k, e in TA.token_counts_sql(D.DUCKDB).items())
    + " FROM t"
)


SQL_FINGERPRINT = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) "
    f"SELECT doc_id, {D.rolling_fingerprint(D.DUCKDB)} AS fingerprint FROM t"
)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite text-analysis gate: language-ID + quality scores +
    repetition scores joined per doc — one registry row covering three
    row-local operators (the driver snapshot caps at 50 queries, so
    same-shaped metrics share a row; each operator keeps its own unit
    tests)."""
    docs = _docs(spark, sf_dir)
    return (
        TA.language_id(docs)
        .join(TA.quality_scores(docs), "doc_id")
        .join(TA.repetition_scores(docs), "doc_id")
    )


SQL_TEXT_QUALITY = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) SELECT doc_id, "
    f"{TA.lang_id_sql(D.DUCKDB)} AS lang_pred, "
    + ", ".join(f"{e} AS {k}" for k, e in TA.quality_sql(D.DUCKDB).items())
    + ", "
    + ", ".join(f"{e} AS {k}" for k, e in TA.repetition_sql(D.DUCKDB).items())
    + " FROM t"
)


def q_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: token counts + rolling-hash fingerprint per doc
    (same 50-row-snapshot consolidation as ``text_quality``)."""
    docs = _docs(spark, sf_dir)
    return TA.token_counts(docs).join(TA.fingerprints(docs), "doc_id")


SQL_TOKEN_FINGERPRINT = (
    f"WITH t AS ({_DUCK_TOKS_CTE}) SELECT doc_id, "
    + ", ".join(
        f"{e} AS {k}" for k, e in TA.token_counts_sql(D.DUCKDB).items()
    )
    + f", {D.rolling_fingerprint(D.DUCKDB)} AS fingerprint FROM t"
)


_DUCK_SIG_COLS = ", ".join(
    D.minhash_sig(D.DUCKDB, "shingles", i) + f" AS sig_{i}"
    for i in range(DD.NUM_MINHASHES)
)
_DUCK_SIGS_CTE = (
    f"t AS ({_DUCK_TOKS_CTE}), "
    f"sh AS (SELECT doc_id, {D.shingles(D.DUCKDB)} AS shingles FROM t), "
    f"sigs AS (SELECT doc_id, {_DUCK_SIG_COLS} FROM sh)"
)

_DUCK_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(sig_{b}) AS bucket FROM sigs"
    for b in range(DD.NUM_MINHASHES)
)
_DUCK_CAND_CTE = (
    f"{_DUCK_SIGS_CTE}, bands AS ({_DUCK_BANDS}), "
    f"cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b "
    f"FROM bands a JOIN bands b "
    f"ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"
)


def _gate_dedup_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached on disk like ``gate_engine``) the persisted
    incremental-dedup signature store over the ``documents`` fixture."""
    tag = f"{abs(hash(sf_dir)) % 10**8}_dedupstore_{GATE_VERSION}"
    path = os.path.join("/tmp/spark_sea_gate", tag)
    if not os.path.exists(os.path.join(path, "meta.json")):
        DD.build_dedup_store(_docs(spark, sf_dir), path)
    return path


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate (round-5 consolidation of ``dedup_minhash_sigs``
    + ``dedup_lsh_pairs`` under the 50-row snapshot cap): the raw
    MinHash signatures (``sig`` arm — all 8 signature components
    verified via one joined key string), the LSH self-join candidate
    pairs (``self`` arm, est=0), and the persisted-store incremental
    probe (``incr`` arm): batch = docs with doc_id % 7 == 0 probed
    against the full-corpus ``build_dedup_store``, with the
    MinHash-estimated Jaccard (integer agreement count / num_hashes —
    one double division, mirrored verbatim in the oracle)."""
    docs = _docs(spark, sf_dir)
    sig_df = DD.minhash_signatures(docs)
    sigs = sig_df.select(
        F.lit("sig").alias("part"),
        F.col("doc_id").alias("doc_a"),
        F.lit(0).cast("long").alias("doc_b"),
        F.concat_ws(
            "|", *[f"sig_{i}" for i in range(DD.NUM_MINHASHES)]
        ).alias("sig_key"),
        F.lit(0.0).alias("est"),
    )
    self_pairs = DD.lsh_candidate_pairs(sig_df).select(
        F.lit("self").alias("part"), "doc_a", "doc_b",
        F.lit("").alias("sig_key"),
        F.lit(0.0).alias("est"),
    )
    store = _gate_dedup_store(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 7 == 0)
    incr = DD.incremental_dup_pairs(spark, store, batch).select(
        F.lit("incr").alias("part"),
        F.col("corpus_doc").alias("doc_a"),
        F.col("batch_doc").alias("doc_b"),
        F.lit("").alias("sig_key"),
        F.col("est_jaccard").alias("est"),
    )
    return sigs.unionByName(self_pairs).unionByName(incr)


_DUCK_EST = (
    "CAST(("
    + " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(DD.NUM_MINHASHES)
    )
    + f") AS DOUBLE) / {DD.NUM_MINHASHES}"
)
_DUCK_SIG_KEY = "concat_ws('|', " + ", ".join(
    f"sig_{i}" for i in range(DD.NUM_MINHASHES)
) + ")"
SQL_DEDUP_MINHASH_LSH = f"""WITH {_DUCK_CAND_CTE},
sigrows AS (SELECT 'sig' AS part, doc_id AS doc_a, CAST(0 AS BIGINT) AS doc_b,
            {_DUCK_SIG_KEY} AS sig_key, 0.0 AS est FROM sigs),
selfp AS (SELECT 'self' AS part, doc_a, doc_b, '' AS sig_key, 0.0 AS est
          FROM cand),
bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
icand AS (
  SELECT DISTINCT s.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands s JOIN bb b
  ON s.band = b.band AND s.bucket = b.bucket AND s.doc_id <> b.doc_id
),
incr AS (
  SELECT 'incr' AS part, c.doc_a, c.doc_b, '' AS sig_key, {_DUCK_EST} AS est
  FROM icand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
)
SELECT part, doc_a, doc_b, sig_key, est FROM sigrows
UNION ALL SELECT part, doc_a, doc_b, sig_key, est FROM selfp
UNION ALL SELECT part, doc_a, doc_b, sig_key, est FROM incr"""


SIMHASH_NEAR_MAX_HAMMING = 3


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate (round-5 consolidation of ``dedup_simhash`` +
    ``dedup_simhash_near``): the per-doc 32-bit fingerprints (``fp``
    arm, val = simhash) plus the banded-byte near pairs at Hamming ≤ 3
    (``near`` arm, val = hamming). The near oracle is a BRUTE-FORCE
    Hamming scan, so the row still proves the banding's pigeonhole
    recall claim, not just self-consistency."""
    docs = _docs(spark, sf_dir)
    fp = DD.simhash(docs).select(
        F.lit("fp").alias("part"),
        F.col("doc_id").alias("doc_a"),
        F.lit(0).cast("long").alias("doc_b"),
        F.col("simhash").cast("long").alias("val"),
    )
    near = DD.simhash_near_pairs(
        docs, max_hamming=SIMHASH_NEAR_MAX_HAMMING
    ).select(
        F.lit("near").alias("part"),
        "doc_a",
        "doc_b",
        F.col("hamming").cast("long").alias("val"),
    )
    return fp.unionByName(near)


_DUCK_SIMHASH_SUMS = ", ".join(
    f"sum({D.simhash_bit_contrib(D.DUCKDB, 'term', j)}) AS s_{j}"
    for j in range(DD.SIMHASH_BITS)
)
_DUCK_SIMHASH_PACK = " + ".join(
    f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(DD.SIMHASH_BITS)
)
SQL_DEDUP_SIMHASH = f"""
WITH occ AS (SELECT doc_id, unnest({D.tokens(D.DUCKDB)}) AS term
             FROM documents),
s AS (SELECT doc_id, {_DUCK_SIMHASH_SUMS} FROM occ GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({_DUCK_SIMHASH_PACK} AS BIGINT) AS simhash FROM s)
SELECT 'fp' AS part, doc_id AS doc_a, CAST(0 AS BIGINT) AS doc_b,
       simhash AS val FROM sh
UNION ALL
SELECT 'near' AS part, a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS val
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_NEAR_MAX_HAMMING}
"""

SPAN_GATE_W = 8  # production W is ~50 (Lee et al.); 8 keeps the fixture non-vacuous


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: span-level exact-substring dedup
    (``operators/spans.py`` — the Lee et al. ACL'22 duplicate-W-gram
    pipeline). ``span`` arm = the merged duplicated token spans per
    doc (detection view, every occurrence); ``clean`` arm = the
    keep-first removal result per doc — kept/removed token counts plus
    the md5 of the rebuilt normalized text, so the oracle verifies the
    edited corpus byte-for-byte, not just the bookkeeping."""
    docs = _docs(spark, sf_dir)
    det = SP.duplicate_spans(docs, SPAN_GATE_W).select(
        F.lit("span").alias("part"),
        "doc_id",
        F.col("span_start").cast("long").alias("v1"),
        F.col("span_end").cast("long").alias("v2"),
        F.col("n_grams").cast("long").alias("v3"),
        F.lit("").alias("key"),
    )
    clean = SP.remove_duplicate_spans(docs, SPAN_GATE_W).select(
        F.lit("clean").alias("part"),
        "doc_id",
        F.col("n_tokens_kept").cast("long").alias("v1"),
        F.col("n_tokens_removed").cast("long").alias("v2"),
        F.lit(0).cast("long").alias("v3"),
        F.md5("text").alias("key"),
    )
    return det.unionByName(clean)


def _duck_islands(src: str, w: int, out: str) -> str:
    """Gaps-and-islands SQL mirroring ``spans._islands`` exactly
    (same window frames, same integer arithmetic)."""
    return f"""
{out}_f AS (SELECT doc_id, pos,
  CASE WHEN pos > coalesce(max(pos + {w - 1}) OVER (
       PARTITION BY doc_id ORDER BY pos
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       THEN 1 ELSE 0 END AS ni FROM {src}),
{out}_i AS (SELECT doc_id, pos, sum(ni) OVER (
  PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM {out}_f),
{out} AS (SELECT doc_id, min(pos) AS span_start,
  max(pos) + {w - 1} AS span_end, count(*) AS n_grams
  FROM {out}_i GROUP BY doc_id, island)"""


_DUCK_SPAN_GRAMS = f"""
t AS (SELECT doc_id, {D.tokens(D.DUCKDB, 'text')} AS toks FROM documents),
g AS (SELECT doc_id,
  unnest({D.int_range(D.DUCKDB, '1', f'len(toks) - {SPAN_GATE_W - 1}')}) AS pos,
  unnest({D.gram_hashes(D.DUCKDB, 'toks', SPAN_GATE_W)}) AS gram_hash
  FROM t),
r AS (SELECT doc_id, pos,
  row_number() OVER (PARTITION BY gram_hash ORDER BY doc_id, pos) AS rnk,
  count(*) OVER (PARTITION BY gram_hash) AS n_occ
  FROM g)"""

SQL_DUP_SPANS = f"""WITH {_DUCK_SPAN_GRAMS},
dup AS (SELECT doc_id, pos FROM r WHERE n_occ > 1),
{_duck_islands('dup', SPAN_GATE_W, 'spans_det')},
rem AS (SELECT doc_id, pos FROM r WHERE rnk > 1),
{_duck_islands('rem', SPAN_GATE_W, 'spans_rm')},
cut AS (SELECT doc_id,
        unnest(generate_series(span_start, span_end)) AS pos
        FROM spans_rm),
stream AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
           unnest(toks) AS tok FROM t),
kept AS (SELECT s.doc_id, s.pos, s.tok FROM stream s
         LEFT JOIN cut c ON s.doc_id = c.doc_id AND s.pos = c.pos
         WHERE c.doc_id IS NULL),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        count(*) AS nk FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(toks) AS n FROM t)
SELECT 'span' AS part, doc_id, CAST(span_start AS BIGINT) AS v1,
       CAST(span_end AS BIGINT) AS v2, CAST(n_grams AS BIGINT) AS v3,
       '' AS key
FROM spans_det
UNION ALL
SELECT 'clean' AS part, tot.doc_id, CAST(coalesce(nk, 0) AS BIGINT) AS v1,
       CAST(n - coalesce(nk, 0) AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3,
       md5(coalesce(reb.text, '')) AS key
FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id"""

SKETCH_GATE_K = 64


def q_agg_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: bottom-k (KMV) cardinality sketches
    (``operators/sketches.py``). ``vocab`` arm = distinct-token sketch
    on the small fixture vocabulary (n_sketch < k ⇒ exercises the
    exact branch); ``grams`` arm = distinct-8-gram sketch (thousands
    of values ⇒ exercises the (k-1)·2^60/h_k estimate branch, one
    IEEE division mirrored verbatim); ``grams_exact`` arm = the exact
    distinct count, so the artifact itself documents the sketch's
    error on real data."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.expr(D.tokens(D.SPARK, "text"))).alias("tok")
    )
    vocab = SK.approx_distinct(toks, "tok", SKETCH_GATE_K).select(
        F.lit("vocab").alias("part"), "n_sketch", "kth_hash",
        F.col("est_distinct").alias("est"),
    )
    grams = SP.gram_occurrences(docs, SPAN_GATE_W)
    gsk = SK.approx_distinct(grams, "gram_hash", SKETCH_GATE_K).select(
        F.lit("grams").alias("part"), "n_sketch", "kth_hash",
        F.col("est_distinct").alias("est"),
    )
    gex = grams.agg(
        F.count_distinct("gram_hash").alias("n_sketch")
    ).select(
        F.lit("grams_exact").alias("part"),
        "n_sketch",
        F.lit(0).cast("long").alias("kth_hash"),
        F.col("n_sketch").cast("double").alias("est"),
    )
    return vocab.unionByName(gsk).unionByName(gex)


def _duck_sketch(src: str, col: str, k: int) -> str:
    """Bottom-k sketch SELECT mirroring ``sketches.approx_distinct``."""
    return f"""(
  WITH bk AS (SELECT DISTINCT
                {D.md5_prefix60(D.DUCKDB, f'CAST({col} AS VARCHAR)')} AS h
              FROM {src} WHERE {col} IS NOT NULL ORDER BY h LIMIT {k})
  SELECT count(*) AS n_sketch, max(h) AS kth_hash,
    CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
         ELSE CAST({(k - 1) * (1 << 60)} AS DOUBLE) / CAST(max(h) AS DOUBLE)
    END AS est
  FROM bk)"""


SQL_AGG_SKETCHES = f"""WITH {_DUCK_SPAN_GRAMS},
occ AS (SELECT unnest({D.tokens(D.DUCKDB, 'text')}) AS tok FROM documents)
SELECT 'vocab' AS part, * FROM {_duck_sketch('occ', 'tok', SKETCH_GATE_K)}
UNION ALL
SELECT 'grams' AS part, *
FROM {_duck_sketch('g', 'gram_hash', SKETCH_GATE_K)}
UNION ALL
SELECT 'grams_exact' AS part, count(DISTINCT gram_hash) AS n_sketch,
       CAST(0 AS BIGINT) AS kth_hash,
       CAST(count(DISTINCT gram_hash) AS DOUBLE) AS est
FROM g"""

JACCARD_MIN = 0.2


SQL_DEDUP_JACCARD_PAIRS = f"""
WITH {_DUCK_CAND_CTE},
shl AS (SELECT doc_id, list_distinct({D.shingles(D.DUCKDB)}) AS sh
        FROM ({_DUCK_TOKS_CTE}))
SELECT doc_a, doc_b,
  CASE WHEN (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) > 0
  THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
  ELSE 0.0 END AS jaccard
FROM cand JOIN shl x ON x.doc_id = cand.doc_a
          JOIN shl y ON y.doc_id = cand.doc_b
WHERE jaccard >= {JACCARD_MIN}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite near-dup-cluster gate. ``cc`` arm — connected
    components over the verified near-dup pairs: every doc in a dup
    cluster labeled with the cluster's min doc_id (iterative min-label
    propagation in Spark; the oracle computes the transitive closure
    with a recursive CTE — genuinely different algorithms that must
    agree exactly). ``keep`` arm — the keep-best policy on those
    clusters: per cluster the (quality_score desc, doc_id asc) winner,
    computed as a skew-safe max(struct) aggregate in Spark vs the
    oracle's row_number window. ``split`` arm — leakage-safe split
    assignment over the SAME clusters: members hash their cluster id,
    everyone else their own id (``split_assign_leakage_safe``), so the
    oracle re-derives the whole cluster→bucket→split chain."""
    docs = _docs(spark, sf_dir)
    pairs = DD.ngram_jaccard_pairs(docs, min_jaccard=JACCARD_MIN)
    cl = DD.dup_clusters(pairs)
    null_split = F.lit(None).cast("string").alias("split")
    cc_arm = cl.select(
        F.lit("cc").alias("arm"), "doc_id", "cluster_id", null_split
    )
    qual = TA.quality_scores(docs).withColumn(
        "quality_score", TA.quality_score_col()
    ).select("doc_id", "quality_score")
    keep_arm = DD.cluster_keep_best(cl, qual).select(
        F.lit("keep").alias("arm"),
        F.col("keep_doc_id").alias("doc_id"),
        "cluster_id",
        null_split,
    )
    split_arm = TA.split_assign_leakage_safe(docs, cl).select(
        F.lit("split").alias("arm"),
        "doc_id",
        F.lit(None).cast("long").alias("cluster_id"),
        "split",
    )
    return cc_arm.unionByName(keep_arm).unionByName(split_arm)


_SQL_CC_CORE = f"""
WITH RECURSIVE prs AS (
  SELECT doc_a, doc_b FROM ({SQL_DEDUP_JACCARD_PAIRS}) jp
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM prs
  UNION
  SELECT doc_b AS s, doc_a AS d FROM prs
),
reach (node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.r FROM edges e JOIN reach r ON r.node = e.d
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def _sql_dedup_clusters() -> str:
    qsql = TA.quality_sql(D.DUCKDB)
    # the same quality_score_col tree the training_set oracle mirrors
    score = (
        "(least(1.0, qn / 200.0) * 0.4 + ar * 0.3"
        " + least(1.0, sr * 5.0) * 0.3)"
    )
    bucket = D.split_bucket(D.DUCKDB, "coalesce(cl.cluster_id, d.doc_id)")
    t_hi = int(0.8 * D.SPLIT_BUCKETS)
    v_hi = t_hi + int(0.1 * D.SPLIT_BUCKETS)
    return f"""
WITH cl AS (SELECT * FROM ({_SQL_CC_CORE}) z),
qt AS ({_DUCK_TOKS_CTE}),
qq AS (SELECT doc_id, {qsql['n_tokens']} AS qn, {qsql['alpha_ratio']} AS ar,
              {qsql['stopword_ratio']} AS sr FROM qt),
qs AS (SELECT doc_id, {score} AS score FROM qq),
r AS (SELECT cl.cluster_id, cl.doc_id,
      row_number() OVER (PARTITION BY cl.cluster_id
        ORDER BY qs.score DESC, cl.doc_id ASC) AS rn
      FROM cl JOIN qs USING (doc_id))
SELECT 'cc' AS arm, doc_id, cluster_id, NULL AS split FROM cl
UNION ALL
SELECT 'keep' AS arm, doc_id, cluster_id, NULL AS split FROM r WHERE rn = 1
UNION ALL
SELECT 'split' AS arm, d.doc_id, NULL AS cluster_id,
       CASE WHEN {bucket} < {t_hi} THEN 'train'
            WHEN {bucket} < {v_hi} THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
"""


SQL_DEDUP_CLUSTERS = _sql_dedup_clusters()

def q_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation over the events table —
    the BATCH form of the streaming windowed agg (one shared expression;
    ``tests/test_streaming_analytics.py`` pins stream == batch, this
    gate pins batch == DuckDB). Decimal sums: exact + associative, so
    aggregation order can't perturb the hash."""
    from cs_search_engine_architecture_spark.streaming.analytics import (
        event_window_counts,
    )

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return event_window_counts(events, "10 minutes").select(
        "window_start",
        "event_type",
        "n_events",
        F.col("sum_value").cast("string").alias("sum_value"),
    )


SQL_EVENT_WINDOW_COUNTS = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2))
            AS VARCHAR) AS sum_value
FROM events GROUP BY window_start, event_type
"""

CONTAINMENT_MIN = 0.5


# oracle is BRUTE FORCE over all pairs: the Spark side only scores
# prefix-filter candidates, so a hash match PROVES the prefix filter's
# completeness claim (like dedup_simhash_near's banding proof)
SQL_DEDUP_CONTAINMENT_PAIRS = f"""
WITH shl AS (SELECT doc_id, list_distinct({D.shingles(D.DUCKDB)}) AS sh
             FROM ({_DUCK_TOKS_CTE}))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CASE WHEN len(a.sh) > 0
       THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
       ELSE 0.0 END AS containment_a,
  CASE WHEN len(b.sh) > 0
       THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)
       ELSE 0.0 END AS containment_b
FROM shl a JOIN shl b ON a.doc_id < b.doc_id
WHERE containment_a >= {CONTAINMENT_MIN} OR containment_b >= {CONTAINMENT_MIN}
"""

def q_dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite of the two n-gram pair verifiers (one gate row, same
    coverage — the registry stays under the driver's 50-row snapshot
    cap): Jaccard pairs and asymmetric-containment pairs, tagged by
    ``kind`` with aligned (score1, score2) columns."""
    docs = _docs(spark, sf_dir)
    jac = DD.ngram_jaccard_pairs(docs, min_jaccard=JACCARD_MIN).select(
        F.lit("jaccard").alias("kind"),
        "doc_a",
        "doc_b",
        F.col("jaccard").alias("score1"),
        F.lit(0.0).alias("score2"),
    )
    cont = DD.ngram_containment_pairs(
        docs, min_containment=CONTAINMENT_MIN
    ).select(
        F.lit("containment").alias("kind"),
        "doc_a",
        "doc_b",
        F.col("containment_a").alias("score1"),
        F.col("containment_b").alias("score2"),
    )
    return jac.unionByName(cont)


SQL_DEDUP_NGRAM_PAIRS = f"""
SELECT 'jaccard' AS kind, doc_a, doc_b, jaccard AS score1, 0.0 AS score2
FROM ({SQL_DEDUP_JACCARD_PAIRS}) jp
UNION ALL
SELECT 'containment' AS kind, doc_a, doc_b,
       containment_a AS score1, containment_b AS score2
FROM ({SQL_DEDUP_CONTAINMENT_PAIRS}) cp
"""


EMB_DUP_MIN_COS = 0.4  # 24 bucketed pairs at sf0.01 (0.5 collides none)


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the SCALE path: banded-LSH candidates →
    exact-cosine verify (the crossJoin baseline is test-only). The
    oracle mirrors the banded candidate generation from the same
    dialect fragments, so the gate checks the operator's defined
    semantics exactly; recall vs the exhaustive baseline is covered by
    ``tests/test_pipeline_ops.py``."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return DD.embedding_dup_pairs_bucketed(emb, min_cosine=EMB_DUP_MIN_COS)


def _sql_dedup_embedding_pairs() -> str:
    p = DD.EMB_PLANES_PER_BAND
    bucket_cols = ", ".join(
        f"{D.lsh_bucket(D.DUCKDB, 'embedding', p, DD.EMB_DIMS, offset=b * p)}"
        f" AS b{b}"
        for b in range(DD.EMB_NUM_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT id, {b} AS band, b{b} AS bucket FROM w"
        for b in range(DD.EMB_NUM_BANDS)
    )
    return f"""
WITH w AS (SELECT vec_id AS id, embedding AS v,
           {D.l2_norm(D.DUCKDB, "embedding")} AS nrm,
           {bucket_cols}
           FROM embeddings),
bands AS ({band_union}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b
         ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b,
  CAST(CAST({D.dot_product(D.DUCKDB, "x.v", "y.v")} / (x.nrm * y.nrm)
       AS REAL) AS DOUBLE) AS cos
FROM cand JOIN w x ON x.id = cand.id_a JOIN w y ON y.id = cand.id_b
WHERE cos >= {EMB_DUP_MIN_COS}
"""


SQL_DEDUP_EMBEDDING_PAIRS = _sql_dedup_embedding_pairs()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    return SIM.lsh_topk(emb.where("vec_id != 0"), qvec, k=10).select(
        "id", "cos"
    )


def _sql_ann_lsh_topk() -> str:
    # the oracle needs the query vector + its bucket; read them with
    # duckdb-independent parquet access at call time is impossible in a
    # static string, so the qvec is inlined per-sf by the gate runner —
    # instead we recompute it INSIDE the SQL from vec_id 0
    qdot = D.dot_product(D.DUCKDB, "w.v", "(SELECT v FROM q)")
    return f"""
WITH q AS (SELECT embedding AS v,
           {D.l2_norm(D.DUCKDB, "embedding")} AS nrm,
           {D.lsh_bucket(D.DUCKDB, "embedding", SIM.NUM_PLANES, SIM.DIMS)} AS bucket
           FROM embeddings WHERE vec_id = 0),
w AS (SELECT vec_id AS id, embedding AS v,
      {D.l2_norm(D.DUCKDB, "embedding")} AS nrm,
      {D.lsh_bucket(D.DUCKDB, "embedding", SIM.NUM_PLANES, SIM.DIMS)} AS bucket
      FROM embeddings WHERE vec_id != 0)
SELECT id, CAST(CAST({qdot} / (w.nrm * (SELECT nrm FROM q)) AS REAL)
                AS DOUBLE) AS cos
FROM w WHERE bucket = (SELECT bucket FROM q)
ORDER BY cos DESC, id ASC LIMIT 10
"""


SQL_ANN_LSH_TOPK = _sql_ann_lsh_topk()

IVF_NUM_CENTROIDS = 16
IVF_N_PROBE = 4


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF probe: cells written ``partitionBy(cell)`` once
    per sf (cached in /tmp), query = partition-pruned scan of the 4
    nearest cells + exact cosine. Centroids are the embeddings of
    vec_ids 1..16 (deterministic + SQL-expressible; production swaps in
    ``kmeans_centroids`` with identical machinery)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    tag = f"{abs(hash(sf_dir)) % 10**8}_ivf_{GATE_VERSION}"
    path = os.path.join("/tmp/spark_sea_gate", tag)
    if not os.path.exists(os.path.join(path, "centroids.json")):
        cents = SIM.fixed_vec_centroids(emb, IVF_NUM_CENTROIDS)
        SIM.build_ivf_index(emb.where("vec_id != 0"), path, cents)
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    return SIM.ivf_search(spark, path, qvec, k=10, n_probe=IVF_N_PROBE)


def _sql_ann_ivf_topk() -> str:
    qdot = D.dot_product(D.DUCKDB, "w.v", "(SELECT v FROM q)")
    d2_assign = D.l2_dist_sq(D.DUCKDB, "e.embedding", "c.cv")
    d2_probe = D.l2_dist_sq(D.DUCKDB, "(SELECT v FROM q)", "c.cv")
    return f"""
WITH cents AS (SELECT vec_id - 1 AS cell, embedding AS cv FROM embeddings
               WHERE vec_id BETWEEN 1 AND {IVF_NUM_CENTROIDS}),
q AS (SELECT embedding AS v, {D.l2_norm(D.DUCKDB, "embedding")} AS nrm
      FROM embeddings WHERE vec_id = 0),
assign AS (
  SELECT e.vec_id AS id, e.embedding AS v, c.cell, {d2_assign} AS d2
  FROM embeddings e, cents c WHERE e.vec_id != 0
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY d2 ASC, c.cell ASC) = 1
),
probe AS (SELECT c.cell FROM cents c
          ORDER BY {d2_probe} ASC, c.cell ASC LIMIT {IVF_N_PROBE}),
w AS (SELECT id, v, {D.l2_norm(D.DUCKDB, "v")} AS nrm FROM assign
      WHERE cell IN (SELECT cell FROM probe))
SELECT id, CAST(CAST({qdot} / (w.nrm * (SELECT nrm FROM q)) AS REAL)
                AS DOUBLE) AS cos
FROM w ORDER BY cos DESC, id ASC LIMIT 10
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf_topk()


SQL_BLOB_METADATA = """
SELECT doc_id, 'image/fake' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


# the fixture text is pure ASCII, so byte values == ascii(char); the
# stub codec's integer-sum mean is reproduced exactly
SQL_BLOB_DECODE = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_bytes,
  CAST(1 + length(text) % 64 AS INT) AS fake_width,
  CAST(1 + (length(text) // 64) % 64 AS INT) AS fake_height,
  CASE WHEN length(text) = 0 THEN 0.0 ELSE
    CAST(list_sum(list_transform(generate_series(1, length(text)),
         i -> ascii(substr(text, i, 1)))) AS DOUBLE) / length(text)
  END AS mean_byte
FROM documents
"""


def q_blob_meta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite multimodal gate: blob-table metadata columns + stub
    decode features in one row per doc (50-row-snapshot consolidation;
    both operators keep their own unit tests)."""
    blobs = MM.to_blob_table(_docs(spark, sf_dir))
    meta = blobs.select("doc_id", "mime", "payload_sha256")
    feats = MM.decode_features(blobs).select(
        "doc_id", "n_bytes", "fake_width", "fake_height", "mean_byte"
    )
    return meta.join(feats, "doc_id")


SQL_BLOB_META_DECODE = """
SELECT doc_id, 'image/fake' AS mime, sha256(text) AS payload_sha256,
  CAST(length(text) AS BIGINT) AS n_bytes,
  CAST(1 + length(text) % 64 AS INT) AS fake_width,
  CAST(1 + (length(text) // 64) % 64 AS INT) AS fake_height,
  CASE WHEN length(text) = 0 THEN 0.0 ELSE
    CAST(list_sum(list_transform(generate_series(1, length(text)),
         i -> ascii(substr(text, i, 1)))) AS DOUBLE) / length(text)
  END AS mean_byte
FROM documents
"""


def q_blob_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over binary payloads (the video-path
    plumbing: decode -> posexplode one row per sampled frame)."""
    blobs = MM.to_blob_table(_docs(spark, sf_dir))
    return MM.frame_sample(blobs, num_frames=4)


# fixture text is ASCII so byte slices == char slices; stride and the
# <=4 sampled offsets mirror multimodal._fake_decode exactly
SQL_BLOB_FRAME_SAMPLE = """
WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) > 0),
fr AS (SELECT doc_id, text, n, greatest(1, n // 4) AS stride FROM b)
SELECT doc_id,
  CAST(unnest(generate_series(0, least(3, (n - 1) // stride))) AS INT)
    AS frame_no,
  unnest(list_transform(generate_series(0, least(3, (n - 1) // stride)),
         i -> md5(substr(text, i * stride + 1, stride)))) AS frame_hash
FROM fr
"""


# ------------------------------------------- secondary engine surfaces

SPELL_TOKENS = ["customerr", "windoww", "spak"]  # last one: no acceptable fix
SPELL_THRESHOLD = 10
SPELL_MIN_SIM = 0.75


def q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cs_search_engine_architecture_spark.operators import spelling

    eng = gate_engine(spark, sf_dir)
    return spelling.suggest_df(
        spark,
        eng.kgram_index(exclude_threshold=SPELL_THRESHOLD),
        SPELL_TOKENS,
        min_similarity=SPELL_MIN_SIM,
    )


def _sql_spell_suggest() -> str:
    from collections import Counter

    from cs_search_engine_architecture_spark.operators.spelling import bigrams

    vals = []
    for tok in sorted(set(SPELL_TOKENS)):
        for bg, c in sorted(Counter(bigrams(tok)).items()):
            vals.append(f"('{tok}', '{bg}', {c}, {len(tok) + 1})")
    values = ", ".join(vals)
    return f"""
WITH toks AS ({TOKS_CTE}),
per AS (SELECT DISTINCT doc_id, term FROM toks),
vocab AS (SELECT term FROM per GROUP BY term
          HAVING count(*) >= {SPELL_THRESHOLD}),
cand AS (SELECT term, length(term) + 1 AS term_len,
         unnest(list_transform(generate_series(1, length(term) + 1),
                i -> substr('$' || term || '$', i, 2))) AS bigram
         FROM vocab),
ccnt AS (SELECT term, term_len, bigram, count(*) AS c
         FROM cand GROUP BY term, term_len, bigram),
q AS (SELECT * FROM (VALUES {values}) t(token, bigram, q_count, q_size)),
inter AS (SELECT token, q_size, term, term_len,
          sum(least(q_count, c)) AS i
          FROM q JOIN ccnt USING (bigram) WHERE term != token
          GROUP BY token, q_size, term, term_len),
sims AS (SELECT token, term AS suggestion,
         CAST(i AS DOUBLE) / (q_size + term_len - i) AS similarity
         FROM inter
         WHERE CAST(i AS DOUBLE) / (q_size + term_len - i) >= {SPELL_MIN_SIM})
SELECT token, suggestion, similarity FROM sims
QUALIFY row_number() OVER (PARTITION BY token
                           ORDER BY similarity DESC, suggestion ASC) = 1
"""


SQL_SPELL_SUGGEST = _sql_spell_suggest()

HYBRID_QUERY_TERMS = ("spark", "data")
HYBRID_PRE_K = 10
HYBRID_TOP_K = 15
HYBRID_RRF_K = 60


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite hybrid gate: the score-sum union (``combined_search``
    without LTR — reference parity) UNION the Reciprocal-Rank-Fusion
    variant (``combined_search_rrf`` — rank-based fusion, score =
    1/(60+rank_exact) + 1/(60+rank_sem)). RRF scores are divisions on
    integer ranks summed in a fixed order, so the oracle mirrors them
    bit-for-bit; both parts rank on the raw double and project the
    float32 cast."""
    eng = gate_engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    fscore = F.col("score").cast("float").cast("double").alias("score")
    out = eng.combined_search(
        " or ".join(HYBRID_QUERY_TERMS), emb, qvec,
        top_k=HYBRID_TOP_K, pre_select_k=HYBRID_PRE_K,
    ).select(F.lit("union").alias("part"), "doc_id", fscore, "provenance")
    rrf = eng.combined_search_rrf(
        " or ".join(HYBRID_QUERY_TERMS), emb, qvec,
        top_k=HYBRID_TOP_K, pre_select_k=HYBRID_PRE_K, rrf_k=HYBRID_RRF_K,
    ).select(F.lit("rrf").alias("part"), "doc_id", fscore, "provenance")
    return out.unionByName(rrf)


def _hybrid_cte_prefix() -> str:
    """Shared oracle CTE chain: index-time BM25 scores -> exact top-k,
    semantic top-k, full-outer union with provenance (mirrors
    ``SearchEngine._hybrid_union``)."""
    terms = ", ".join(f"'{t}'" for t in HYBRID_QUERY_TERMS)
    qdot = D.dot_product(D.DUCKDB, "e.embedding", "(SELECT qe FROM qv)")
    return f"""toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ({terms}) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
exact AS (
  SELECT doc_id, SUM(CAST(score AS DOUBLE)) AS bm25
  FROM sc GROUP BY doc_id
  ORDER BY bm25 DESC, doc_id ASC LIMIT {HYBRID_PRE_K}
),
qv AS (SELECT embedding AS qe,
       {D.l2_norm(D.DUCKDB, "embedding")} AS qn
       FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT e.vec_id AS doc_id,
    CAST(CAST({qdot} / ({D.l2_norm(D.DUCKDB, "e.embedding")}
         * (SELECT qn FROM qv)) AS REAL) AS DOUBLE) AS similarity
  FROM embeddings e
  ORDER BY similarity DESC, doc_id ASC LIMIT {HYBRID_PRE_K}
),
joined AS (
  SELECT COALESCE(exact.doc_id, sem.doc_id) AS doc_id,
    COALESCE(bm25, 0.0) AS bm25, COALESCE(similarity, 0.0) AS similarity,
    CASE WHEN bm25 IS NOT NULL AND similarity IS NOT NULL THEN 'both'
         WHEN bm25 IS NOT NULL THEN 'exact' ELSE 'semantic' END AS provenance
  FROM exact FULL OUTER JOIN sem ON exact.doc_id = sem.doc_id
)"""


def _sql_hybrid_search() -> str:
    return f"""
WITH {_hybrid_cte_prefix()},
u AS (
  SELECT 'union' AS part, doc_id,
         CAST(CAST(bm25 + similarity AS REAL) AS DOUBLE) AS score,
         provenance
  FROM joined
  ORDER BY bm25 + similarity DESC, doc_id ASC LIMIT {HYBRID_TOP_K}
),
rex AS (SELECT doc_id,
        row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS re
        FROM exact),
rse AS (SELECT doc_id,
        row_number() OVER (ORDER BY similarity DESC, doc_id ASC) AS rs
        FROM sem),
rrf AS (
  SELECT COALESCE(rex.doc_id, rse.doc_id) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / CAST({HYBRID_RRF_K} + re AS DOUBLE),
                  CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / CAST({HYBRID_RRF_K} + rs AS DOUBLE),
                    CAST(0.0 AS DOUBLE)) AS score_raw,
         CASE WHEN re IS NOT NULL AND rs IS NOT NULL THEN 'both'
              WHEN re IS NOT NULL THEN 'exact' ELSE 'semantic'
         END AS provenance
  FROM rex FULL OUTER JOIN rse ON rex.doc_id = rse.doc_id
),
r AS (
  SELECT 'rrf' AS part, doc_id,
         CAST(CAST(score_raw AS REAL) AS DOUBLE) AS score, provenance
  FROM rrf
  ORDER BY score_raw DESC, doc_id ASC LIMIT {HYBRID_TOP_K}
)
SELECT * FROM u
UNION ALL SELECT * FROM r
"""


SQL_HYBRID_SEARCH = _sql_hybrid_search()


# ------------------------------------------- ListNet-reranked surfaces
#
# Reference parity for R2/R4: ``exact_search(..., ltr_enabled=True)``
# (sea/engine.pyx:584-607) and ``combined_search`` (sea/engine.pyx:
# 612-658, which ALWAYS re-ranks the exact∪semantic union with the
# ListNet MLP). The gate pins a deterministic 5->4->4->1 MLP whose
# weights are exact binary fractions; the Spark side scores through the
# production ``ltr.rerank`` (Arrow-batched left-fold numpy), the oracle
# through ``ltr.mlp_score_sql`` — the SAME literals and the SAME IEEE
# operation order, so the float64 scores are bit-identical.

from cs_search_engine_architecture_spark.operators import ltr as LTR  # noqa: E402

GATE_MLP_WEIGHTS = {
    "w0": [
        [(((i * 7 + j * 3) % 11) - 5) / 8.0 for j in range(4)]
        for i in range(5)
    ],
    "b0": [(j - 1.5) / 4.0 for j in range(4)],
    "w1": [
        [(((i * 5 + j * 7) % 9) - 4) / 8.0 for j in range(4)]
        for i in range(4)
    ],
    "b1": [(j - 2) / 8.0 for j in range(4)],
    "w2": [[((j * 3) % 5 - 2) / 4.0] for j in range(4)],
    "b2": [0.125],
    # plausible z-norm stats as exact binary fractions
    "means": [1.0, 96.0, 0.5, 32.0, 0.25],
    "stds": [2.0, 64.0, 0.5, 64.0, 0.5],
}

GATE_FEATURE_SQL = ["f_bm25", "f_len", "f_cov", "f_first", "f_sim"]
EXACT_LTR_PRE_K = 10
EXACT_LTR_TOP_K = 10


def _gate_mlp_npz() -> str:
    import numpy as np

    path = os.path.join("/tmp/spark_sea_gate", f"mlp_{GATE_VERSION}.npz")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        np.savez(
            path,
            **{
                k: np.array(v, dtype=np.float64)
                for k, v in GATE_MLP_WEIGHTS.items()
            },
        )
    return path


def q_hybrid_ltr(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = gate_engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    out = eng.combined_search(
        " or ".join(HYBRID_QUERY_TERMS), emb, qvec,
        top_k=HYBRID_TOP_K, pre_select_k=HYBRID_PRE_K,
        ltr_weights=_gate_mlp_npz(),
    )
    return out.select(
        "doc_id",
        F.col("ltr_score").cast("float").cast("double").alias("ltr_score"),
        "provenance",
    )


# feature CTEs shared by both LTR oracles: per-(doc, term) query-time
# BM25 (the STANDARD formula — R1's deliberate difference from the
# index-time B6 normalizer) + per-term first char positions
def _ltr_feature_ctes() -> str:
    t0, t1 = HYBRID_QUERY_TERMS
    return f"""{_pos_cte("sp", t0)},
{_pos_cte("da", t1)},
tpos AS (SELECT doc_id, '{t0}' AS term, MIN(p) AS fp FROM sp GROUP BY doc_id
         UNION ALL
         SELECT doc_id, '{t1}' AS term, MIN(p) AS fp FROM da GROUP BY doc_id),
qt AS (
  SELECT t.doc_id, t.term,
    ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.5
      / (t.tf + 1.5 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM avgdl)))
      AS bm25_term
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)"""


def _sql_hybrid_ltr() -> str:
    mlp = LTR.mlp_score_sql(GATE_MLP_WEIGHTS, GATE_FEATURE_SQL)
    return f"""
WITH {_hybrid_cte_prefix()},
{_ltr_feature_ctes()},
matched AS (
  SELECT j.doc_id, qt.term, qt.bm25_term, tp.fp,
         CASE WHEN j.provenance = 'both' THEN 2 ELSE 1 END AS w
  FROM joined j
  JOIN qt ON qt.doc_id = j.doc_id
  JOIN tpos tp ON tp.doc_id = j.doc_id AND tp.term = qt.term
),
feats AS (
  SELECT j.doc_id, j.provenance, j.similarity AS f_sim,
    COALESCE(SUM(m.bm25_term * m.w), 0.0) AS f_bm25,
    CAST(COALESCE(dl.dl, 0) AS DOUBLE) AS f_len,
    COALESCE(CAST(SUM(m.w) AS DOUBLE) / 3.0, 0.0) AS f_cov,
    CAST(COALESCE(MIN(m.fp), -1) AS DOUBLE) AS f_first
  FROM joined j
  LEFT JOIN matched m ON m.doc_id = j.doc_id
  LEFT JOIN dl ON dl.doc_id = j.doc_id
  GROUP BY j.doc_id, j.provenance, j.similarity, dl.dl
),
scored AS (SELECT doc_id, provenance, {mlp} AS s FROM feats)
SELECT doc_id, CAST(CAST(s AS REAL) AS DOUBLE) AS ltr_score, provenance
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {HYBRID_TOP_K}
"""


SQL_HYBRID_LTR = _sql_hybrid_ltr()


def q_exact_ltr(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = gate_engine(spark, sf_dir)
    out = eng.search(
        " or ".join(HYBRID_QUERY_TERMS),
        top_k=EXACT_LTR_TOP_K,
        ltr_enabled=True,
        ltr_weights=_gate_mlp_npz(),
        pre_select_k=EXACT_LTR_PRE_K,
    )
    return out.select(
        "doc_id",
        F.col("score").cast("float").cast("double").alias("score"),
        F.col("ltr_score").cast("float").cast("double").alias("ltr_score"),
    )


def _sql_exact_ltr() -> str:
    mlp = LTR.mlp_score_sql(GATE_MLP_WEIGHTS, GATE_FEATURE_SQL)
    return f"""
WITH {_hybrid_cte_prefix()},
{_ltr_feature_ctes()},
matched AS (
  SELECT e.doc_id, qt.term, qt.bm25_term, tp.fp
  FROM exact e
  JOIN qt ON qt.doc_id = e.doc_id
  JOIN tpos tp ON tp.doc_id = e.doc_id AND tp.term = qt.term
),
feats AS (
  SELECT e.doc_id, e.bm25,
    COALESCE(SUM(m.bm25_term), 0.0) AS f_bm25,
    CAST(COALESCE(dl.dl, 0) AS DOUBLE) AS f_len,
    COALESCE(CAST(SUM(1) AS DOUBLE) / 3.0, 0.0) AS f_cov,
    CAST(COALESCE(MIN(m.fp), -1) AS DOUBLE) AS f_first,
    0.0 AS f_sim
  FROM exact e
  LEFT JOIN matched m ON m.doc_id = e.doc_id
  LEFT JOIN dl ON dl.doc_id = e.doc_id
  GROUP BY e.doc_id, e.bm25, dl.dl
),
scored AS (SELECT doc_id, bm25, {mlp} AS s FROM feats)
SELECT doc_id,
       CAST(CAST(bm25 AS REAL) AS DOUBLE) AS score,
       CAST(CAST(s AS REAL) AS DOUBLE) AS ltr_score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {EXACT_LTR_TOP_K}
"""


SQL_EXACT_LTR = _sql_exact_ltr()

LTR_QUERY = "spark or data"


def q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 feature frame over the indexed postings (first_pos is omitted:
    token char positions are not derivable in ANSI SQL)."""
    eng = gate_engine(spark, sf_dir)
    feats = eng.ltr_features(LTR_QUERY)
    return feats.select(
        "doc_id",
        F.col("bm25_f0").cast("float").cast("double").alias("bm25"),
        F.col("len_f0").alias("dl"),
        F.col("coverage_f0").alias("coverage"),
    )


SQL_LTR_FEATURES = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
per AS (SELECT DISTINCT doc_id, term FROM toks),
dfs AS (SELECT term, count(*) AS df FROM per
        WHERE term IN ('spark', 'data') GROUP BY term),
feat AS (
  SELECT t.doc_id,
    ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.5
      / (t.tf + 1.5 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM avgdl)))
      AS bm25_term,
    dl.dl AS dl
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)
SELECT doc_id,
  CAST(CAST(SUM(bm25_term) AS REAL) AS DOUBLE) AS bm25,
  CAST(MIN(dl) AS DOUBLE) AS dl,
  -- denominator 3, not 2: query-mode tokenization keeps operator words
  -- ("spark or data" -> 3 tokens), the reference's coverage quirk
  -- (sea/tokenizer.pyx:21-23, feature_mapping.pyx:39,44)
  CAST(SUM(1) AS DOUBLE) / 3.0 AS coverage
FROM feat GROUP BY doc_id
"""


# batched-features gate: ≤2 distinct terms per query keeps the double
# sums order-insensitive (the gate-wide convention); nq counts operator
# words per the reference's query-mode coverage quirk
LTRB_QUERIES = {
    "qa": ("spark or data", ["spark", "data"], 3),
    "qb": ("table", ["table"], 1),
}


def q_ltr_features_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched R1 features: BOTH queries' feature frames from one
    shared pruned scan + broadcast query map (the offline LTR
    training-sweep shape) — values must equal the per-query path's,
    which the oracle replays per query and unions."""
    eng = gate_engine(spark, sf_dir)
    feats = eng.ltr_features_batch(
        {qid: q for qid, (q, _, _) in LTRB_QUERIES.items()}
    )
    return feats.select(
        "query_id",
        "doc_id",
        F.col("bm25_f0").cast("float").cast("double").alias("bm25"),
        F.col("len_f0").alias("dl"),
        F.col("coverage_f0").alias("coverage"),
    )


def _sql_ltr_features_batch() -> str:
    parts = []
    for qid, (_, terms, nq) in LTRB_QUERIES.items():
        tlist = ", ".join(f"'{t}'" for t in terms)
        parts.append(f"""
SELECT '{qid}' AS query_id, doc_id,
  CAST(CAST(SUM(bm25_term) AS REAL) AS DOUBLE) AS bm25,
  CAST(MIN(dl) AS DOUBLE) AS dl,
  CAST(SUM(1) AS DOUBLE) / {nq}.0 AS coverage
FROM (
  SELECT t.doc_id,
    ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * t.tf * 2.5
      / (t.tf + 1.5 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM avgdl)))
      AS bm25_term,
    dl.dl AS dl
  FROM (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ({tlist}) GROUP BY doc_id, term) t
  JOIN dl USING (doc_id)
  JOIN (SELECT term, count(*) AS df FROM per
        WHERE term IN ({tlist}) GROUP BY term) d ON d.term = t.term
) GROUP BY doc_id""")
    return (
        f"""WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
per AS (SELECT DISTINCT doc_id, term FROM toks)
"""
        + " UNION ALL ".join(parts)
    )


SQL_LTR_FEATURES_BATCH = _sql_ltr_features_batch()


def q_bm25_two_field_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-field index-time BM25 (the reference's B6 quirk formula with
    title/body boosts 1.0/0.5 and the non-standard ``1 + b + (1-b)*l/avg``
    normalizer) over (source=title, text=body), checked value-exact
    against DuckDB."""
    eng = gate_engine2(spark, sf_dir)
    return eng.search("spark or data", top_k=10).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


def gate_engine2(spark: SparkSession, sf_dir: str) -> SearchEngine:
    key = (sf_dir, "simple2f")
    if key in _ENGINES:
        return _ENGINES[key]
    tag = f"{abs(hash(sf_dir)) % 10**8}_simple2f_{GATE_VERSION}"
    path = os.path.join("/tmp/spark_sea_gate", tag)
    if not os.path.exists(os.path.join(path, "meta.json")):
        build_index(
            spark,
            _docs(spark, sf_dir),
            path,
            fields=["source", "text"],  # title/body analog
            analyzer="simple",
            num_buckets=8,
            corpus_path=os.path.join(sf_dir, "documents.parquet"),
        )
    eng = SearchEngine(spark, path)
    _ENGINES[key] = eng
    return eng


# field 0 = source (boost 1.0), field 1 = text (boost 0.5); b = 0.75 both;
# k = 1.5. Index-time normalizer: tf_f / (1 + b + (1-b) * len_f / avg_f);
# df counts docs containing the term in ANY field.
SQL_BM25_TWO_FIELD_TOPK = """
WITH t0 AS (SELECT doc_id,
            unnest(regexp_extract_all(lower(source), '[a-z0-9]+')) AS term
            FROM documents),
t1 AS (SELECT doc_id,
       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       FROM documents),
n AS (SELECT count(*) AS n FROM documents),
avg0 AS (SELECT count(*) * 1.0 / (SELECT n FROM n) AS a FROM t0),
avg1 AS (SELECT count(*) * 1.0 / (SELECT n FROM n) AS a FROM t1),
len0 AS (SELECT doc_id, count(*) AS l FROM t0 GROUP BY doc_id),
len1 AS (SELECT doc_id, count(*) AS l FROM t1 GROUP BY doc_id),
tf0 AS (SELECT doc_id, term, count(*) AS tf FROM t0
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
tf1 AS (SELECT doc_id, term, count(*) AS tf FROM t1
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
docterm AS (SELECT doc_id, term FROM tf0 UNION SELECT doc_id, term FROM tf1),
dfs AS (SELECT term, count(*) AS df FROM docterm GROUP BY term),
sc AS (
  SELECT dt.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5)) *
      ((0.0
        + COALESCE(tf0.tf, 0) * 1.0
          / (1.75 + 0.25 * COALESCE(len0.l, 0) / (SELECT a FROM avg0))
        + COALESCE(tf1.tf, 0) * 0.5
          / (1.75 + 0.25 * COALESCE(len1.l, 0) / (SELECT a FROM avg1))
       ) * 2.5)
      / ((0.0
        + COALESCE(tf0.tf, 0) * 1.0
          / (1.75 + 0.25 * COALESCE(len0.l, 0) / (SELECT a FROM avg0))
        + COALESCE(tf1.tf, 0) * 0.5
          / (1.75 + 0.25 * COALESCE(len1.l, 0) / (SELECT a FROM avg1))
       ) + 1.5)
    AS REAL) AS score
  FROM docterm dt
  JOIN dfs d ON d.term = dt.term
  LEFT JOIN tf0 ON tf0.doc_id = dt.doc_id AND tf0.term = dt.term
  LEFT JOIN tf1 ON tf1.doc_id = dt.doc_id AND tf1.term = dt.term
  LEFT JOIN len0 ON len0.doc_id = dt.doc_id
  LEFT JOIN len1 ON len1.doc_id = dt.doc_id
)
SELECT doc_id,
       CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = gate_engine(spark, sf_dir)
    return eng.search_with_snippets(
        "spark and window", _docs(spark, sf_dir), top_k=10
    ).select(
        "doc_id",
        F.col("score").cast("float").cast("double").alias("score"),
        "snippet",
    )


# full SQL mirror: AND top-10 by summed BM25, snippet_pos = first index
# position of the first query leaf ('spark'), then the reference's
# space-snapped ±100-char window (sea/engine.pyx:366-398) branch by branch
SQL_SEARCH_SNIPPETS = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'window') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
topk AS (
  SELECT doc_id, CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
  FROM sc GROUP BY doc_id HAVING count(*) = 2
  ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC LIMIT 10
),
{_pos_cte("sp", "spark")},
spos AS (SELECT doc_id, min(p) AS snippet_pos FROM sp GROUP BY doc_id),
geom AS (
  SELECT topk.doc_id, topk.score, d.text,
    length(d.text) AS nn,
    CASE WHEN COALESCE(spos.snippet_pos, 0) <= 0 THEN 1
         ELSE spos.snippet_pos END AS pos
  FROM topk JOIN documents d ON d.doc_id = topk.doc_id
  LEFT JOIN spos ON spos.doc_id = topk.doc_id
),
g2 AS (
  SELECT *, CASE WHEN pos >= 100 THEN pos - 100 ELSE 1 END AS st FROM geom
),
g3 AS (
  SELECT *, CASE WHEN st + 200 < nn THEN st + 200 ELSE nn END AS en FROM g2
),
g4 AS (
  SELECT *,
    -- forward scan [st, en): first space; strpos is 1-based relative
    CASE WHEN strpos(substr(text, st + 1), ' ') > 0
              AND strpos(substr(text, st + 1), ' ') + st - 1 < en
         THEN strpos(substr(text, st + 1), ' ') + st - 1 ELSE 0 END AS f0,
    -- backward scan (st, en]: last space via reversed window
    CASE WHEN en != nn
              AND strpos(reverse(substr(text, st + 2, en - st)), ' ') > 0
         THEN en + 1 - strpos(reverse(substr(text, st + 2, en - st)), ' ')
         ELSE 0 END AS l0
  FROM g3
),
g5 AS (
  SELECT *, CASE WHEN f0 > 0 THEN f0 + 1 ELSE st END AS st2 FROM g4
),
g6 AS (
  SELECT *, CASE WHEN l0 > 0 AND l0 > st2 THEN l0 ELSE en END AS en2 FROM g5
)
SELECT doc_id, score, substr(text, st2 + 1, en2 - st2) AS snippet FROM g6
"""


def q_msearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query search: four join-batchable queries (single
    token, flat OR, flat AND, flat AND-NOT) plus three MIXED-precedence
    term-only trees (the shared term->score map arm, r5 s9: OR(+,-) ->
    right minus left with the right side's score; AND(-,-) -> De Morgan
    union with the coalesce sum; OR(-,+) -> left minus right) answered
    in ONE Spark job via the shared-scan batch operators
    (``operators/msearch.py``). Scores are per-query identical to
    ``search`` — the oracle replays the same BM25 algebra per query_id
    and ranks with the same tie-break. Batched gate queries keep ≤2
    distinct terms so the double-precision sum is order-insensitive
    (a+b exact-rounded) on both sides."""
    eng = gate_engine(spark, sf_dir)
    res = eng.msearch(
        {
            "m1": "spark",
            "m2": "spark or data",
            "m3": "data and slow",
            "m4": "data and not slow",
            "mx1": "spark or not data",
            "mx2": "not spark and not data",
            "mx3": "not spark or data",
        },
        top_k=10,
    )
    return res.select(
        "query_id",
        "doc_id",
        F.col("score").cast("float").cast("double").alias("score"),
    )


SQL_MSEARCH_TOPK = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'data', 'slow') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id, t.term,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
q AS (SELECT * FROM (VALUES
  ('m1', 'spark', 0), ('m2', 'spark', 0), ('m2', 'data', 0),
  ('m3', 'data', 2), ('m3', 'slow', 2)) v(query_id, term, required)),
batched AS (
  SELECT q.query_id, s.doc_id, SUM(CAST(s.score AS DOUBLE)) AS score_d,
         count(*) AS matched, max(q.required) AS required
  FROM sc s JOIN q ON q.term = s.term
  GROUP BY q.query_id, s.doc_id
),
flt AS (SELECT query_id, doc_id, score_d FROM batched
        WHERE required = 0 OR matched = required),
m4 AS (SELECT 'm4' AS query_id, s.doc_id, CAST(s.score AS DOUBLE) AS score_d
       FROM sc s WHERE s.term = 'data'
         AND s.doc_id NOT IN (SELECT doc_id FROM sc WHERE term = 'slow')),
mx1 AS (SELECT 'mx1' AS query_id, s.doc_id,
               CAST(s.score AS DOUBLE) AS score_d
        FROM sc s WHERE s.term = 'data'
          AND s.doc_id NOT IN (SELECT doc_id FROM sc WHERE term = 'spark')),
mx2 AS (SELECT 'mx2' AS query_id, doc_id,
               SUM(CAST(score AS DOUBLE)) AS score_d
        FROM sc WHERE term IN ('spark', 'data') GROUP BY doc_id),
mx3 AS (SELECT 'mx3' AS query_id, s.doc_id,
               CAST(s.score AS DOUBLE) AS score_d
        FROM sc s WHERE s.term = 'spark'
          AND s.doc_id NOT IN (SELECT doc_id FROM sc WHERE term = 'data')),
allq AS (SELECT * FROM flt UNION ALL SELECT * FROM m4
         UNION ALL SELECT * FROM mx1 UNION ALL SELECT * FROM mx2
         UNION ALL SELECT * FROM mx3),
rk AS (SELECT query_id, doc_id, score_d,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score_d DESC, doc_id ASC) AS rn
       FROM allq)
SELECT query_id, doc_id, CAST(CAST(score_d AS REAL) AS DOUBLE) AS score
FROM rk WHERE rn <= 10
"""


PERC_QUERIES = {
    "pc1": "spark",
    "pc2": "spark or data",
    "pc3": "data and slow",
    "pc4": "data and not slow",
    "pc5": '"window order"',
    # mixed-precedence trees: the presence-evaluation fallback path
    "pc6": "spark and (data or slow)",
    # lazy-NOT algebra (top-level complement discarded): fires on
    # data-docs minus spark-docs — same shape as msearch's mx1 arm
    "pc7": "spark or not data",
}


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search (round 5): the registered PERC_QUERIES matched
    against an 'incoming batch' (docs with doc_id % 5 == 0) from one
    on-the-fly tokenize pass — no index read, no scores (filter
    context; the score column is a constant 0.0 for composite-schema
    alignment). Covers every percolatable plan shape: single term,
    flat OR, flat AND, flat AND-NOT, ordered phrase window."""
    from cs_search_engine_architecture_spark.operators.percolate import (
        percolate,
    )

    batch = _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return percolate(spark, PERC_QUERIES, batch, analyzer="simple").select(
        "query_id", "doc_id", F.lit(0.0).alias("score")
    )


SQL_PERCOLATE = f"""
WITH toks AS ({TOKS_CTE}),
bt AS (SELECT doc_id, term FROM toks WHERE doc_id % 5 = 0),
{_pos_cte("pcw", "window").strip()},
{_pos_cte("pco", "order").strip()}
SELECT 'pc1' AS query_id, doc_id, 0.0 AS score FROM bt
  WHERE term = 'spark' GROUP BY doc_id
UNION ALL
SELECT 'pc2', doc_id, 0.0 FROM bt
  WHERE term IN ('spark', 'data') GROUP BY doc_id
UNION ALL
SELECT 'pc3', doc_id, 0.0 FROM bt
  WHERE term IN ('data', 'slow') GROUP BY doc_id
  HAVING count(DISTINCT term) = 2
UNION ALL
SELECT 'pc4', doc_id, 0.0 FROM bt WHERE term = 'data'
  AND doc_id NOT IN (SELECT doc_id FROM bt WHERE term = 'slow')
  GROUP BY doc_id
UNION ALL
SELECT 'pc5', a.doc_id, 0.0 FROM pcw a JOIN pco b ON a.doc_id = b.doc_id
  WHERE a.doc_id % 5 = 0 AND b.p - a.p BETWEEN 0 AND 10
  GROUP BY a.doc_id
UNION ALL
SELECT 'pc6', doc_id, 0.0 FROM bt GROUP BY doc_id
  HAVING bool_or(term = 'spark')
     AND (bool_or(term = 'data') OR bool_or(term = 'slow'))
UNION ALL
SELECT 'pc7', doc_id, 0.0 FROM bt WHERE term = 'data'
  AND doc_id NOT IN (SELECT doc_id FROM bt WHERE term = 'spark')
  GROUP BY doc_id
"""


def q_msearch_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite batched-serving gate: the join-batchable msearch
    queries (single token / OR / AND / NOT-fallback), the batched
    pure-phrase queries, AND the percolate (reverse-search) arm in one
    frame — four serving paths covered by one registry row
    (50-row-snapshot consolidation; query ids are disjoint, m1-m4 +
    mx1-mx3 (the batched mixed-tree arm) vs pa/pb vs pc1-pc7)."""
    return (
        q_msearch_topk(spark, sf_dir)
        .unionByName(q_msearch_phrase(spark, sf_dir))
        .unionByName(q_percolate(spark, sf_dir))
    )


SQL_MSEARCH_BATCHED = (
    f"SELECT * FROM ({SQL_MSEARCH_TOPK})\nUNION ALL\n"
    f"SELECT * FROM ({SQL_MSEARCH_PHRASE})\nUNION ALL\n"
    f"SELECT * FROM ({SQL_PERCOLATE})"
)


def q_search_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-delete semantics: the top-3 docs of ``spark or data``
    are deleted (on a copy of the gate index), then the query re-runs.
    Survivors must keep their build-time scores (stale IDF/avgdl —
    Lucene's deleted-docs contract until compaction) and simply close
    ranks; the oracle replays full-corpus BM25 and excludes the same
    top-3 via a subquery, so both sides derive the victim set
    independently."""
    import shutil

    eng = gate_engine(spark, sf_dir)  # ensures the base index exists
    del_path = eng.index_path + "_del"
    if not os.path.exists(os.path.join(del_path, "meta.json")):
        shutil.copytree(eng.index_path, del_path)
        victims = [
            r["doc_id"] for r in eng.search("spark or data", top_k=3).collect()
        ]
        from cs_search_engine_architecture_spark.operators.indexer import (
            delete_docs,
        )

        delete_docs(spark, del_path, victims)
    deng = SearchEngine(spark, del_path, cache=False)
    return deng.search("spark or data", top_k=10).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


SQL_SEARCH_AFTER_DELETE = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
scores AS (SELECT doc_id, SUM(CAST(score AS DOUBLE)) AS score_d
           FROM sc GROUP BY doc_id),
victims AS (SELECT doc_id FROM scores
            ORDER BY score_d DESC, doc_id ASC LIMIT 3)
SELECT doc_id, CAST(CAST(score_d AS REAL) AS DOUBLE) AS score
FROM scores WHERE doc_id NOT IN (SELECT doc_id FROM victims)
ORDER BY score_d DESC, doc_id ASC
LIMIT 10
"""


# delta docs for the incremental-add gate — ONE literal list renders
# into both the Spark add_docs call and the oracle's VALUES clause
GATE_ADD_DOCS = [
    (1_000_001, "spark data pipelines make data flow with spark"),
    (1_000_002, "spark spark spark benchmark corpus growth"),
    # long doc with a single query-term occurrence: with the fixture's
    # negative idf the length normalization makes this the LEAST
    # negative score, so a delta doc provably lands at rank 1 — the
    # gate fails loudly if delta postings stop being scored/served
    (1_000_003, " ".join(["filler"] * 400 + ["data"])),
]


def q_search_after_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental adds with frozen-stats scoring: three docs are
    appended as a delta segment (on a copy of the gate index), then
    ``spark or data`` re-runs over base+delta. Old docs must keep their
    exact scores (idf/avgdl frozen at the base build — symmetric with
    tombstone semantics) and the new docs score with the FROZEN base
    stats; the oracle computes df/idf/avgdl over the base corpus only
    but term frequencies and lengths over the union."""
    import shutil

    eng = gate_engine(spark, sf_dir)
    add_path = eng.index_path + "_add"
    if not os.path.exists(os.path.join(add_path, "meta.json")):
        shutil.copytree(eng.index_path, add_path)
        from cs_search_engine_architecture_spark.operators.indexer import (
            add_docs,
        )

        add_docs(
            spark,
            add_path,
            spark.createDataFrame(GATE_ADD_DOCS, "doc_id long, text string"),
        )
    aeng = SearchEngine(spark, add_path, cache=False)
    return aeng.search("spark or data", top_k=10).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


_ADD_VALUES = ", ".join(
    f"({d}, '{t}')" for d, t in GATE_ADD_DOCS
)
SQL_SEARCH_AFTER_ADD = f"""
WITH base_toks AS ({TOKS_CTE}),
newdocs (doc_id, text) AS (SELECT * FROM (VALUES {_ADD_VALUES})),
new_toks AS (SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             FROM newdocs),
all_toks AS (SELECT * FROM base_toks UNION ALL SELECT * FROM new_toks),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM base_toks),
dl AS (SELECT doc_id, count(*) AS dl FROM all_toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM all_toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
qterms (term) AS (SELECT * FROM (VALUES ('spark'), ('data'))),
dfs AS (SELECT q.term, coalesce(b.df, 0) AS df FROM qterms q
        LEFT JOIN (SELECT term, count(*) AS df FROM (
            SELECT DISTINCT doc_id, term FROM base_toks) GROUP BY term) b
        USING (term)),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)
SELECT doc_id,
       CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


# new text for the in-place-update gate — shared literal on both sides.
# Long filler + both query terms: with the fixture's negative idf the
# length normalization makes this the least-negative score, so the
# updated doc provably lands at rank 1 — the gate fails loudly if the
# delta resurrection arm stops serving updated docs.
GATE_UPDATE_TEXT = " ".join(["filler"] * 400 + ["data", "spark"])
# the intermediate version of the DOUBLE update — scores high for the
# gate query on purpose, so a stale-version leak (re-update failing to
# retire it) would change the served ranking and hash-mismatch
GATE_UPDATE_TEXT_MID = "spark spark data data spark transient version"


def q_search_after_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-place update semantics: the top-1 doc of ``spark or data`` is
    updated TWICE (same doc_id: an intermediate high-scoring text, then
    the final text) on a copy of the gate index, then the query re-runs.
    Both old versions must vanish — the base version via the tombstone,
    the intermediate delta version via the re-update's targeted
    delta-tier rebuild — every other doc keeps its exact frozen-stats
    score, and the doc serves its FINAL text's score (frozen base
    idf/avgdl). The oracle derives the victim independently and replays
    base-frozen-stats scoring with only the FINAL text substituted, so
    any stale-version leak or double-scoring hash-mismatches."""
    import shutil

    eng = gate_engine(spark, sf_dir)
    upd_path = eng.index_path + "_upd"
    if not os.path.exists(os.path.join(upd_path, "meta.json")):
        shutil.copytree(eng.index_path, upd_path)
        victim = eng.search("spark or data", top_k=1).collect()[0]["doc_id"]
        from cs_search_engine_architecture_spark.operators.indexer import (
            update_docs,
        )

        update_docs(
            spark,
            upd_path,
            spark.createDataFrame(
                [(int(victim), GATE_UPDATE_TEXT_MID)],
                "doc_id long, text string",
            ),
        )
        update_docs(
            spark,
            upd_path,
            spark.createDataFrame(
                [(int(victim), GATE_UPDATE_TEXT)], "doc_id long, text string"
            ),
        )
    ueng = SearchEngine(spark, upd_path, cache=False)
    return ueng.search("spark or data", top_k=10).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


SQL_SEARCH_AFTER_UPDATE = f"""
WITH base_toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM base_toks),
dl0 AS (SELECT doc_id, count(*) AS dl FROM base_toks GROUP BY doc_id),
tfs0 AS (SELECT doc_id, term, count(*) AS tf FROM base_toks
         WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs0 GROUP BY term),
sc0 AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl0.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl0.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs0 t JOIN dl0 USING (doc_id) JOIN dfs d ON d.term = t.term
),
scores0 AS (SELECT doc_id, SUM(CAST(score AS DOUBLE)) AS score_d
            FROM sc0 GROUP BY doc_id),
victim AS (SELECT doc_id FROM scores0
           ORDER BY score_d DESC, doc_id ASC LIMIT 1),
new_toks AS (SELECT (SELECT doc_id FROM victim) AS doc_id,
             unnest(regexp_extract_all(lower('{GATE_UPDATE_TEXT}'),
                                       '[a-z0-9]+')) AS term),
all_toks AS (SELECT * FROM base_toks
             WHERE doc_id != (SELECT doc_id FROM victim)
             UNION ALL SELECT * FROM new_toks),
dl AS (SELECT doc_id, count(*) AS dl FROM all_toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM all_toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)
SELECT doc_id,
       CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite dictionary-expansion gate: ``prefix_search("b")``
    (expansion via ``LIKE 'b%'`` — exactly two fixture terms, batch/big)
    UNION ``wildcard_search("*a*e")`` (leading + inner wildcard through
    the general regex path — exactly two fixture terms, table/value)
    UNION ``regexp_search("(qu|val)[a-z]+")`` (full-regex dictionary
    scan, Lucene RegexpQuery anchoring — exactly two fixture terms,
    query/value). All serve as one shared-scan disjunction (sum-of-BM25
    OR semantics); ≤2 matched terms per doc keeps the double sum
    order-insensitive on both sides. The oracle replays the same
    algebra with ``LIKE`` / ``regexp_full_match`` expansions."""
    eng = gate_engine(spark, sf_dir)
    fscore = F.col("score").cast("float").cast("double").alias("score")
    pre = eng.prefix_search("b", top_k=10).select(
        F.lit("prefix").alias("part"), "doc_id", fscore
    )
    wild = eng.wildcard_search("*a*e", top_k=10).select(
        F.lit("wildcard").alias("part"), "doc_id", fscore
    )
    rex = eng.regexp_search("(qu|val)[a-z]+", top_k=10).select(
        F.lit("regexp").alias("part"), "doc_id", fscore
    )
    return pre.unionByName(wild).unionByName(rex)


def _sql_expansion_arm(
    part: str, like: str, regex: str | None = None
) -> str:
    """Shared oracle fragment: BM25 OR-sum over the terms matching
    ``like`` (or ``regex`` via regexp_full_match — Lucene anchoring),
    top-10 ordered on the RAW double sum (the engine's ordering key)
    with the float32 cast applied at projection only."""
    cond = (
        f"regexp_full_match(term, '{regex}')"
        if regex is not None
        else f"term LIKE '{like}'"
    )
    return f"""
tfs_{part} AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE {cond} GROUP BY doc_id, term),
dfs_{part} AS (SELECT term, count(*) AS df FROM tfs_{part} GROUP BY term),
sc_{part} AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs_{part} t JOIN dl USING (doc_id) JOIN dfs_{part} d ON d.term = t.term
),
top_{part} AS (
  SELECT '{part}' AS part, doc_id,
         CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
  FROM sc_{part} GROUP BY doc_id
  ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC
  LIMIT 10
)"""


SQL_PREFIX_SEARCH = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
{_sql_expansion_arm("prefix", "b%")},
{_sql_expansion_arm("wildcard", "%a%e")},
{_sql_expansion_arm("regexp", "", regex="(qu|val)[a-z]+")}
SELECT * FROM top_prefix
UNION ALL SELECT * FROM top_wildcard
UNION ALL SELECT * FROM top_regexp
"""


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k: vectors quantize to integer codes
    (4x smaller at 100 TB), similarity = exact BIGINT dot / int norms —
    fold-order-free by construction. Query = row 0, quantized
    driver-side by the python mirror of the SQL formula (the gate
    therefore also pins python-vs-SQL quantization parity)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qemb = SIM.quantize_embeddings(emb)
    row0 = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    q, qn = SIM.quantize_query([float(x) for x in row0])
    return SIM.quantized_cosine_topk(qemb, q, qn, 10).select(
        "id", F.col("cos").cast("float").cast("double").alias("cos")
    )


def _sql_ann_quantized_topk() -> str:
    qv = D.quantize_vec(D.DUCKDB, "embedding")
    qn = D.int_l2_norm(D.DUCKDB, "qv")
    dot = D.int_dot(D.DUCKDB, "qv", "(SELECT v0 FROM q0)")
    return f"""
WITH quant AS (SELECT vec_id AS id, {qv} AS qv FROM embeddings),
normed AS (SELECT id, qv, {qn} AS qnorm FROM quant),
q0 AS (SELECT qv AS v0, qnorm AS n0 FROM normed WHERE id = 0),
scored AS (
  SELECT id,
    CASE WHEN qnorm = 0 OR (SELECT n0 FROM q0) = 0 THEN -1.0
    ELSE CAST({dot} AS DOUBLE) / (qnorm * (SELECT n0 FROM q0)) END AS cos_d
  FROM normed)
SELECT id, CAST(CAST(cos_d AS REAL) AS DOUBLE) AS cos
FROM scored ORDER BY cos_d DESC, id ASC LIMIT 10
"""


SQL_ANN_QUANTIZED_TOPK = _sql_ann_quantized_topk()


def q_ann_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized IVF (the composition): cell assignment on the
    FULL-PRECISION vectors, inverted lists persisted as int8 codes +
    integer norms (4× smaller scan), probe = partition-pruned n_probe
    cells + exact BIGINT-dot cosine. Same deterministic centroids as
    the float IVF gate; the oracle replays assignment with the shared
    left-fold distance fragment and quantization with the shared
    quantize_vec fragment."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    tag = f"{abs(hash(sf_dir)) % 10**8}_ivfq_{GATE_VERSION}"
    path = os.path.join("/tmp/spark_sea_gate", tag)
    if not os.path.exists(os.path.join(path, "centroids.json")):
        cents = SIM.fixed_vec_centroids(emb, IVF_NUM_CENTROIDS)
        SIM.build_ivf_index_quantized(emb.where("vec_id != 0"), path, cents)
    qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    return SIM.ivf_search_quantized(
        spark, path, qvec, k=10, n_probe=IVF_N_PROBE
    ).select("id", F.col("cos").cast("float").cast("double").alias("cos"))


def _sql_ann_ivf_quantized_topk() -> str:
    d2_assign = D.l2_dist_sq(D.DUCKDB, "e.embedding", "c.cv")
    d2_probe = D.l2_dist_sq(D.DUCKDB, "(SELECT v FROM qf)", "c.cv")
    qv_doc = D.quantize_vec(D.DUCKDB, "v")
    qv_query = D.quantize_vec(D.DUCKDB, "embedding")
    qn = D.int_l2_norm(D.DUCKDB, "qv")
    dot = D.int_dot(D.DUCKDB, "qv", "(SELECT qv0 FROM q0)")
    return f"""
WITH cents AS (SELECT vec_id - 1 AS cell, embedding AS cv FROM embeddings
               WHERE vec_id BETWEEN 1 AND {IVF_NUM_CENTROIDS}),
qf AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
q0 AS (SELECT qv AS qv0, {D.int_l2_norm(D.DUCKDB, "qv")} AS n0 FROM
       (SELECT {qv_query} AS qv FROM embeddings WHERE vec_id = 0)),
assign AS (
  SELECT e.vec_id AS id, e.embedding AS v, c.cell, {d2_assign} AS d2
  FROM embeddings e, cents c WHERE e.vec_id != 0
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY d2 ASC, c.cell ASC) = 1
),
probe AS (SELECT c.cell FROM cents c
          ORDER BY {d2_probe} ASC, c.cell ASC LIMIT {IVF_N_PROBE}),
normed AS (SELECT id, qv, {qn} AS qnorm FROM
           (SELECT id, {qv_doc} AS qv FROM assign
            WHERE cell IN (SELECT cell FROM probe))),
scored AS (
  SELECT id,
    CASE WHEN qnorm = 0 OR (SELECT n0 FROM q0) = 0 THEN -1.0
    ELSE CAST({dot} AS DOUBLE) / (qnorm * (SELECT n0 FROM q0)) END AS cos_d
  FROM normed)
SELECT id, CAST(CAST(cos_d AS REAL) AS DOUBLE) AS cos
FROM scored ORDER BY cos_d DESC, id ASC LIMIT 10
"""


SQL_ANN_IVF_QUANTIZED_TOPK = _sql_ann_ivf_quantized_topk()


FUZZY_TOKEN = "spak"
FUZZY_MIN_SIM = 0.1
FUZZY_MAX_EXP = 2


def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant search: 'spak' expands via the k-gram index to its
    2 most-similar vocabulary terms (spark 0.571, part 0.111 on the
    fixture) and scores the similarity-WEIGHTED disjunction. The oracle
    recomputes the expansion (multiset Jaccard over bigram bags, same
    tie-break) and the weighted BM25 sum from scratch."""
    eng = gate_engine(spark, sf_dir)
    return eng.fuzzy_search(
        FUZZY_TOKEN,
        top_k=10,
        min_similarity=FUZZY_MIN_SIM,
        max_expansion=FUZZY_MAX_EXP,
        exclude_threshold=SPELL_THRESHOLD,
    ).select(
        "doc_id", F.col("score").cast("float").cast("double").alias("score")
    )


def _sql_fuzzy_search() -> str:
    from collections import Counter

    from cs_search_engine_architecture_spark.operators.spelling import bigrams

    qs = len(FUZZY_TOKEN) + 1
    vals = ", ".join(
        f"('{bg}', {c})"
        for bg, c in sorted(Counter(bigrams(FUZZY_TOKEN)).items())
    )
    return f"""
WITH toks AS ({TOKS_CTE}),
per AS (SELECT DISTINCT doc_id, term FROM toks),
vocab AS (SELECT term FROM per GROUP BY term
          HAVING count(*) >= {SPELL_THRESHOLD}),
cand AS (SELECT term, length(term) + 1 AS term_len,
         unnest(list_transform(generate_series(1, length(term) + 1),
                i -> substr('$' || term || '$', i, 2))) AS bigram
         FROM vocab),
ccnt AS (SELECT term, term_len, bigram, count(*) AS c
         FROM cand GROUP BY term, term_len, bigram),
q AS (SELECT * FROM (VALUES {vals}) t(bigram, q_count)),
inter AS (SELECT term, term_len, sum(least(q_count, c)) AS i
          FROM q JOIN ccnt USING (bigram) GROUP BY term, term_len),
sims AS (SELECT term, CAST(i AS DOUBLE) / ({qs} + term_len - i) AS sim
         FROM inter
         WHERE CAST(i AS DOUBLE) / ({qs} + term_len - i) >= {FUZZY_MIN_SIM}),
top AS (SELECT term, sim FROM sims
        ORDER BY sim DESC, term ASC LIMIT {FUZZY_MAX_EXP}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN (SELECT term FROM top) GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id, t.term,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
)
SELECT s.doc_id,
       CAST(CAST(SUM(CAST(s.score AS DOUBLE) * t.sim) AS REAL) AS DOUBLE)
         AS score
FROM sc s JOIN top t USING (term)
GROUP BY s.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


SQL_FUZZY_SEARCH = _sql_fuzzy_search()


def q_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.redact_text(_docs(spark, sf_dir))


SQL_REDACT_TEXT = (
    f"SELECT doc_id, {D.redact(D.DUCKDB, 'text')} AS redacted FROM documents"
)


MIX_SHARES = {"en": 0.4, "fr": 0.4, "zh": 0.2}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: ``strat`` arm = per-language deterministic
    downsampling with EXPLICIT fractions (en 50%, zh 20%, rest 10%);
    ``mix`` arm = ``resample_to_mixture`` with target SHARES (en/fr/zh
    40/40/20, other langs dropped) whose keep-fractions are COMPUTED
    from the data (binding stratum kept whole, c/share → min →
    share·scale/c, each a single IEEE double op) — the oracle
    recomputes the same fractions in SQL, so a hash match proves the
    derived-mixture arithmetic, not just the bucket filter."""
    docs = _docs(spark, sf_dir)
    strat = TA.stratified_sample(
        docs, "lang", {"en": 0.5, "zh": 0.2}, default=0.1, seed="mix",
    ).select(
        F.lit("strat").alias("part"), "doc_id", "lang",
        F.lit(None).cast("long").alias("copy_no"),
    )
    mix = TA.resample_to_mixture(
        docs, "lang", MIX_SHARES, seed="mix"
    ).select(
        F.lit("mix").alias("part"), "doc_id", "lang",
        F.lit(None).cast("long").alias("copy_no"),
    )
    # upsample arm: repeat-count resampling (fr repeats whole copies,
    # de/zh fractionally downsample — one plan covers both directions);
    # the oracle re-derives the integer copy plan from the data
    up = TA.upsample_to_mixture(
        docs, "lang", UPSAMPLE_SHARES, seed="up"
    ).select(
        F.lit("upsample").alias("part"), "doc_id", "lang",
        F.col("copy_no").cast("long").alias("copy_no"),
    )
    return strat.unionByName(mix).unionByName(up)


UPSAMPLE_SHARES = {"fr": 0.5, "de": 0.3, "zh": 0.2}

_STRAT_BUCKET = D.split_bucket(D.DUCKDB, "doc_id", "mix")
_MIX_VALUES = ", ".join(f"('{s}', {v})" for s, v in MIX_SHARES.items())
# normalized-share literals: Python computes share/Σshares once and
# embeds the repr (round-trips the exact double); the single share·T
# double multiply then happens identically in Python and SQL
_UP_DENOM = sum(UPSAMPLE_SHARES.values())
_UP_FRACS = ", ".join(
    f"('{s}', {v / _UP_DENOM!r})" for s, v in UPSAMPLE_SHARES.items()
)
_UP_LANGS = ", ".join(f"'{s}'" for s in UPSAMPLE_SHARES)
_UP_KEY = D.md5_prefix60(
    D.DUCKDB, "concat('up:', CAST(d.doc_id AS VARCHAR))"
)
SQL_STRATIFIED_SAMPLE = f"""
WITH cnt AS (SELECT lang AS s, CAST(count(*) AS DOUBLE) AS c
             FROM documents GROUP BY lang),
shares(s, share) AS (VALUES {_MIX_VALUES}),
j AS (SELECT cnt.s, cnt.c, shares.share FROM cnt
      JOIN shares ON cnt.s = shares.s),
sc AS (SELECT min(c / share) AS scale FROM j),
thr AS (SELECT s,
        CASE WHEN c / share = (SELECT scale FROM sc) THEN 1000
             ELSE CAST(floor(((share * (SELECT scale FROM sc)) / c) * 1000)
                       AS INT)
        END AS t
        FROM j),
upc AS (SELECT lang AS s, count(*) AS c FROM documents
        WHERE lang IN ({_UP_LANGS}) GROUP BY lang),
upt AS (SELECT sum(c) AS t FROM upc),
upf(s, frac) AS (VALUES {_UP_FRACS}),
upp AS (SELECT upc.s, upc.c,
        CAST(floor(upf.frac * (SELECT t FROM upt)) AS BIGINT) AS outn
        FROM upc JOIN upf ON upc.s = upf.s),
upq AS (SELECT s, outn // c AS reps,
        CAST((CAST(outn % c AS HUGEINT) * 1152921504606846976) // c
             AS BIGINT) AS thr60
        FROM upp),
upx AS (SELECT d.doc_id, d.lang,
        upq.reps + CASE WHEN {_UP_KEY} < upq.thr60 THEN 1 ELSE 0 END
          AS copies
        FROM documents d JOIN upq ON upq.s = d.lang)
SELECT 'strat' AS part, doc_id, lang, CAST(NULL AS BIGINT) AS copy_no
FROM documents
WHERE {_STRAT_BUCKET} < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 200
                        ELSE 100 END
UNION ALL
SELECT 'mix' AS part, d.doc_id, d.lang, CAST(NULL AS BIGINT) AS copy_no
FROM documents d
JOIN thr ON d.lang = thr.s
WHERE {D.split_bucket(D.DUCKDB, 'd.doc_id', 'mix')} < thr.t
UNION ALL
SELECT 'upsample' AS part, doc_id, lang,
       unnest(range(1, copies + 1)) AS copy_no
FROM upx
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup. The fixture's docs are single-line
    and unique, so BOTH sides derive the same multi-line corpus: every
    doc gets a second line — a shared boilerplate footer on doc_id % 3
    == 0 (appears in ~n/3 docs → removed), a doc-unique line otherwise
    (kept). The op must strip exactly the planted boilerplate and
    reassemble the rest in order."""
    docs2 = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("shared boilerplate footer")
            ).otherwise(
                F.concat(F.lit("unique-"), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    return TA.line_dedup(docs2, min_doc_count=3)


SQL_LINE_DEDUP = """
WITH docs2 AS (
  SELECT doc_id,
    text || chr(10) ||
    CASE WHEN doc_id % 3 = 0 THEN 'shared boilerplate footer'
         ELSE 'unique-' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents),
l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2),
lines AS (SELECT doc_id, unnest(ls) AS line,
          unnest(generate_series(1, len(ls))) AS pos FROM l),
hot AS (SELECT md5(line) AS h FROM lines
        GROUP BY md5(line) HAVING count(DISTINCT doc_id) >= 3),
kept AS (SELECT * FROM lines WHERE md5(line) NOT IN (SELECT h FROM hot)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned
FROM docs2 d LEFT JOIN reb r USING (doc_id)
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (size 32, stride 24): every doc's
    overlapping chunks with reassembled text — the long-doc splitting
    step for context-bounded training."""
    return TA.chunk_documents(_docs(spark, sf_dir), chunk_size=32, stride=24)


SQL_CHUNK_DOCUMENTS = f"""
WITH t AS ({_DUCK_TOKS_CTE}),
st AS (SELECT doc_id, toks,
       unnest(generate_series(1, greatest(len(toks), 1), 24)) AS start
       FROM t)
SELECT doc_id, CAST((start - 1) / 24 AS INT) AS chunk_no,
       coalesce(array_to_string(list_slice(toks, start, start + 31), ' '),
                '') AS chunk_text,
       len(list_slice(toks, start, start + 31)) AS n_tokens
FROM st
"""


def q_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embeddings (the documented stand-in for a
    learned model): ±1 md5-derived contributions into 64 buckets,
    L2-normalized. Exploded to (doc_id, dim, val) rows so the value
    hash covers every component."""
    emb = TA.hash_embeddings(_docs(spark, sf_dir))
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "doc_id",
        "dim",
        F.col("val").cast("float").cast("double").alias("val"),
    )


_HE_H = D.token_hash(D.DUCKDB, "term")
SQL_HASH_EMBEDDINGS = f"""
WITH toks AS ({TOKS_CTE}),
occ AS (SELECT doc_id, {_HE_H} AS h FROM toks),
occ2 AS (SELECT doc_id, h % 64 AS dim, 1 - 2 * ((h // 64) % 2) AS sign
         FROM occ),
sums AS (SELECT doc_id, dim, sum(sign) AS v FROM occ2 GROUP BY doc_id, dim),
grid AS (SELECT d.doc_id, g.dim FROM documents d,
         (SELECT unnest(generate_series(0, 63)) AS dim) g),
filled AS (SELECT g.doc_id, g.dim, coalesce(s.v, 0) AS v
           FROM grid g LEFT JOIN sums s
           ON s.doc_id = g.doc_id AND s.dim = g.dim),
norms AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
          FROM filled GROUP BY doc_id)
SELECT f.doc_id, f.dim,
       CAST(CAST(CASE WHEN nrm > 0 THEN v / nrm ELSE 0.0 END AS REAL)
            AS DOUBLE) AS val
FROM filled f JOIN norms USING (doc_id)
"""


BPE_GATE_MERGES = 10


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE: train 10 merges on the fixture corpus, segment
    it, report per-doc piece counts. The training loop is iterative but
    FINITE and deterministic, so the oracle unrolls it: one
    materialized-CTE stage per merge finds the argmax pair (same
    count-desc/(a,b)-asc tie-break) and applies it with a left-to-right
    ``replace()`` over a ``(piece)(piece)``-wrapped string — sequential
    rank-order application equals the engine's rank-greedy encoder
    because a well-formed (trained) merge list can never re-enable an
    earlier merge (a merge's output symbol only appears in later-rank
    pairs, and merging never creates a new adjacency between
    pre-existing symbols). The differential pytest
    (test_bpe_train_matches_serial_reference) additionally pins the
    trainer against a serial reference implementation."""
    from cs_search_engine_architecture_spark.operators import bpe

    docs = _docs(spark, sf_dir)
    merges = bpe.train_bpe(docs, BPE_GATE_MERGES)
    return bpe.segment_corpus(docs, merges).select(
        "doc_id", F.size("pieces").alias("n_pieces")
    )


def _bpe_segment_oracle_sql(
    num_merges: int = BPE_GATE_MERGES, min_pair_count: int = 2
) -> str:
    """Unrolled BPE training + segmentation in pure DuckDB SQL (see
    ``q_bpe_segment``). Every CTE is MATERIALIZED — the stage chain
    cross-references earlier stages, and CTE inlining would re-derive
    the whole prefix per reference (exponential)."""
    parts = [
        """
w0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS s, count(*) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents)
  GROUP BY 1
)"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(f"""
p{i} AS MATERIALIZED (
  SELECT pr.a AS a, pr.b AS b, sum(freq) AS c
  FROM (SELECT freq,
               unnest(list_transform(range(1, len(ps)),
                      i -> struct_pack(a := ps[i], b := ps[i+1]))) AS pr
        FROM (SELECT freq, regexp_extract_all(s, '[^()]+') AS ps
              FROM w{i - 1}))
  GROUP BY 1, 2
),
m{i} AS MATERIALIZED (
  SELECT a, b FROM p{i} WHERE c >= {min_pair_count}
  ORDER BY c DESC, a, b LIMIT 1
),
w{i} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT count(*) FROM m{i}) = 0 THEN s
    ELSE replace(s,
           '(' || (SELECT a FROM m{i}) || ')(' || (SELECT b FROM m{i}) || ')',
           '(' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ')') END
    AS s, freq
  FROM w{i - 1}
)""")
    parts.append("""
d0 AS MATERIALIZED (
  SELECT doc_id, regexp_replace(word, '(.)', '(\\1)', 'g') AS s
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents)
)""")
    for i in range(1, num_merges + 1):
        parts.append(f"""
d{i} AS MATERIALIZED (
  SELECT doc_id, CASE WHEN (SELECT count(*) FROM m{i}) = 0 THEN s
    ELSE replace(s,
           '(' || (SELECT a FROM m{i}) || ')(' || (SELECT b FROM m{i}) || ')',
           '(' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ')') END
    AS s
  FROM d{i - 1}
)""")
    parts.append(f"""
cnt AS MATERIALIZED (
  SELECT doc_id, sum(length(s) - length(replace(s, '(', ''))) AS n
  FROM d{num_merges} GROUP BY doc_id
)""")
    return (
        "WITH " + ",".join(parts)
        + """
SELECT doc.doc_id, CAST(coalesce(cnt.n, 0) AS INT) AS n_pieces
FROM documents doc LEFT JOIN cnt ON cnt.doc_id = doc.doc_id"""
    )


SQL_BPE_SEGMENT = _bpe_segment_oracle_sql()


PACK_SEQ_LEN = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: global token prefix-sum in doc_id order →
    2048-token training-sequence assignments. Spark computes it as a
    two-phase distributed prefix sum (range partition + local cumsum +
    broadcast partition bases — NO single-task window); the oracle is
    the plain SQL window sum. Integer arithmetic — exact match."""
    from cs_search_engine_architecture_spark.operators.packing import (
        pack_sequences,
    )

    counts = TA.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", F.col("bpe_pieces").alias("n_tokens")
    )
    return pack_sequences(counts, PACK_SEQ_LEN).orderBy("doc_id")


_BPE_DUCK = TA.token_counts_sql(D.DUCKDB)["bpe_pieces"]
SQL_PACK_SEQUENCES = f"""
WITH counts AS (SELECT doc_id, {_BPE_DUCK} AS n FROM documents),
c AS (SELECT doc_id, n,
      CAST(coalesce(sum(n) OVER (ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        AS BIGINT) AS s
      FROM counts)
SELECT doc_id, n AS n_tokens, s AS start_offset,
       CAST(s // {PACK_SEQ_LEN} AS BIGINT) AS seq_first,
       CAST((s + greatest(n, 1) - 1) // {PACK_SEQ_LEN} AS BIGINT)
         AS seq_last
FROM c
"""


TOKEN_BUDGET = 12_000  # ~44% of the sf0.01 corpus's 27,165 bpe pieces
# per-lang budgets: en/es/fr cut mid-stratum, de+zh dropped entirely
STRAT_BUDGETS = {"en": 6_000, "es": 2_000, "fr": 2_000}
EPOCH_SEED = 7
EPOCH_SHARDS = 8
DIVERSITY_CAP = 3  # keep-best per semantic bucket
DIVERSITY_PLANES = 4  # 16 buckets over sf0.01's 500 docs — a real cut


def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-set-tail gate (``operators/curation.py``).

    ``budget`` arm — global token-budget selection: keep the
    highest-quality docs (score desc, doc_id asc) whose INCLUSIVE
    cumulative bpe-piece count stays ≤ TOKEN_BUDGET. Spark computes the
    prefix sum two-phase (range partition + local cumsum + broadcast
    bases — NO single-task window); the oracle is the plain SQL window
    sum. Token counts are integers so the cut is exact; the ORDER
    depends on the double quality score, whose per-column equality the
    ``text_quality`` gate already pins — here the same expression tree
    (left-assoc weighted sum) is mirrored verbatim.

    ``shuffle`` arm — the deterministic epoch permutation:
    ``shuffle_key = md5-prefix60(seed ':' doc_id)`` (exact 60-bit
    integer, shared fragment ``D.hex_prefix60``), ``shard = key %
    EPOCH_SHARDS``. Pure column arithmetic; integer-exact.

    ``diverse`` arm — SemDeDup-style semantic capping
    (``curation.diversity_cap``): per hyperplane-LSH embedding bucket
    keep the DIVERSITY_CAP best docs by (quality desc, doc_id asc).
    Column mapping (composite schema reuse): ``shuffle_key`` carries
    the bucket, ``shard`` carries the within-bucket rank. The bucket
    sign bits and the quality ORDER reuse trees this gate and
    ``dedup_embedding_pairs`` already pin; the output is all-integer."""
    from cs_search_engine_architecture_spark.operators import (
        curation as CU,
    )

    docs = _docs(spark, sf_dir)
    counts = TA.token_counts(docs).select(
        "doc_id", F.col("bpe_pieces").alias("n_tokens")
    )
    qual = TA.quality_scores(docs).withColumn(
        "quality_score", TA.quality_score_col()
    ).select("doc_id", "quality_score")
    kept = CU.select_token_budget(
        counts.join(qual, "doc_id"), TOKEN_BUDGET
    )
    budget_arm = kept.select(
        F.lit("budget").alias("arm"),
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.lit(None).cast("long").alias("shuffle_key"),
        F.lit(None).cast("long").alias("shard"),
    )
    shuf = CU.epoch_shuffle(
        docs.select("doc_id"), EPOCH_SEED, EPOCH_SHARDS
    )
    shuffle_arm = shuf.select(
        F.lit("shuffle").alias("arm"),
        "doc_id",
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("cum_tokens"),
        "shuffle_key",
        F.col("shard").cast("long").alias("shard"),
    )
    # budget_strat arm: per-language budgets (the mixture × budget
    # composition) — per-stratum two-phase prefix sum vs the oracle's
    # PARTITION BY window
    strat = CU.select_token_budget_stratified(
        counts.join(qual, "doc_id").join(
            docs.select("doc_id", "lang"), "doc_id"
        ),
        STRAT_BUDGETS,
    )
    strat_arm = strat.select(
        F.lit("budget_strat").alias("arm"),
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.lit(None).cast("long").alias("shuffle_key"),
        F.lit(None).cast("long").alias("shard"),
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    div = CU.diversity_cap(
        qual, emb, DIVERSITY_CAP, num_planes=DIVERSITY_PLANES
    )
    diverse_arm = div.select(
        F.lit("diverse").alias("arm"),
        "doc_id",
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("cum_tokens"),
        F.col("bucket").cast("long").alias("shuffle_key"),
        F.col("rank").cast("long").alias("shard"),
    )
    return (
        budget_arm.unionByName(shuffle_arm)
        .unionByName(strat_arm)
        .unionByName(diverse_arm)
    )


def _sql_training_set() -> str:
    qsql = TA.quality_sql(D.DUCKDB)
    bpe = TA.token_counts_sql(D.DUCKDB)["bpe_pieces"]
    # quality_score_col mirrored with the same left-assoc tree:
    # ((least(1, qn/200.0)*0.4) + (alpha*0.3)) + (least(1, stop*5.0)*0.3)
    score = (
        "(least(1.0, qn / 200.0) * 0.4 + ar * 0.3"
        " + least(1.0, sr * 5.0) * 0.3)"
    )
    key = D.md5_prefix60(
        D.DUCKDB, f"concat('{EPOCH_SEED}:', CAST(doc_id AS VARCHAR))"
    )
    langs = ", ".join(f"'{x}'" for x in STRAT_BUDGETS)
    budget_case = "CASE d.lang " + " ".join(
        f"WHEN '{x}' THEN {b}" for x, b in STRAT_BUDGETS.items()
    ) + " END"
    bucket = D.lsh_bucket(D.DUCKDB, "embedding", DIVERSITY_PLANES, 64)
    return f"""
WITH t AS ({_DUCK_TOKS_CTE}),
q AS (SELECT doc_id, {qsql['n_tokens']} AS qn, {qsql['alpha_ratio']} AS ar,
             {qsql['stopword_ratio']} AS sr, {bpe} AS n_tokens FROM t),
s AS (SELECT doc_id, n_tokens, {score} AS score FROM q),
c AS (SELECT doc_id, n_tokens,
      CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS cum FROM s),
cs AS (SELECT s.doc_id, s.n_tokens, s.score, d.lang,
             {budget_case} AS budget
       FROM s JOIN documents d USING (doc_id)
       WHERE d.lang IN ({langs})),
cc AS (SELECT doc_id, n_tokens, budget,
       CAST(sum(n_tokens) OVER (PARTITION BY lang
         ORDER BY score DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum FROM cs),
k AS (SELECT doc_id, {key} AS skey FROM documents),
e AS (SELECT vec_id AS doc_id, CAST({bucket} AS BIGINT) AS bucket
      FROM embeddings),
dv AS (SELECT s.doc_id, e.bucket,
       row_number() OVER (PARTITION BY e.bucket
         ORDER BY s.score DESC, s.doc_id ASC) AS rnk
       FROM s JOIN e USING (doc_id))
SELECT 'budget' AS arm, doc_id, n_tokens, cum AS cum_tokens,
       CAST(NULL AS BIGINT) AS shuffle_key, CAST(NULL AS BIGINT) AS shard
FROM c WHERE cum <= {TOKEN_BUDGET}
UNION ALL
SELECT 'shuffle' AS arm, doc_id, CAST(NULL AS BIGINT) AS n_tokens,
       CAST(NULL AS BIGINT) AS cum_tokens, skey AS shuffle_key,
       skey % {EPOCH_SHARDS} AS shard
FROM k
UNION ALL
SELECT 'budget_strat' AS arm, doc_id, n_tokens, cum AS cum_tokens,
       CAST(NULL AS BIGINT) AS shuffle_key, CAST(NULL AS BIGINT) AS shard
FROM cc WHERE cum <= budget
UNION ALL
SELECT 'diverse' AS arm, doc_id, CAST(NULL AS BIGINT) AS n_tokens,
       CAST(NULL AS BIGINT) AS cum_tokens, bucket AS shuffle_key,
       CAST(rnk AS BIGINT) AS shard
FROM dv WHERE rnk <= {DIVERSITY_CAP}
"""


SQL_TRAINING_SET = _sql_training_set()


DECONTAM_N = 5


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 100 == 3 play the
    held-out eval set; every doc reports how many of its distinct word
    5-grams appear in that set (integer-exact md5 set intersection —
    the GPT-3-style n-gram contamination filter). Both sides derive the
    benchmark from the same predicate."""
    docs = _docs(spark, sf_dir)
    return DD.decontaminate(
        docs, docs.where("doc_id % 100 = 3"), n=DECONTAM_N
    )


def _sql_decontaminate() -> str:
    toks = D.tokens(D.DUCKDB, "text")
    grams = D.shingles(D.DUCKDB, "toks", DECONTAM_N)
    return f"""
WITH tok_lists AS (SELECT doc_id, {toks} AS toks FROM documents),
bench AS (SELECT DISTINCT md5(g) AS gmd5 FROM (
  SELECT unnest({grams}) AS g FROM tok_lists WHERE doc_id % 100 = 3)),
dg AS (SELECT DISTINCT doc_id, md5(g) AS gmd5 FROM (
  SELECT doc_id, unnest({grams}) AS g FROM tok_lists)),
hits AS (SELECT doc_id, count(*) AS c FROM dg JOIN bench USING (gmd5)
         GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated_ngrams,
       coalesce(h.c, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


SQL_DECONTAMINATE = _sql_decontaminate()


def q_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filter scoring: an add-one-smoothed bigram LM trained
    on the corpus itself scores every doc's mean negative log-prob.
    Both engines fold each doc's log-prob terms in the SAME
    deterministic order (sorted by gram, strict left fold) — the float
    discipline every multi-element sum in this gate follows."""
    from cs_search_engine_architecture_spark.operators import lm

    return lm.xent_scores(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_bigrams",
        F.col("xent").cast("float").cast("double").alias("xent"),
    )


def _sql_lm_xent() -> str:
    toks = D.tokens(D.DUCKDB, "text")
    grams = D.shingles(D.DUCKDB, "toks", 2)
    fold = D.reduce_double(
        D.DUCKDB, "list(nlp ORDER BY g)", "(acc, v) -> acc + v"
    )
    return f"""
WITH tok_lists AS (SELECT doc_id, {toks} AS toks FROM documents),
vocab AS (SELECT count(DISTINCT t) AS v FROM
          (SELECT unnest(toks) AS t FROM tok_lists)),
dg AS (SELECT doc_id, g, count(*) AS tf FROM (
  SELECT doc_id, unnest({grams}) AS g FROM tok_lists) GROUP BY doc_id, g),
big AS (SELECT g, sum(tf) AS c2 FROM dg GROUP BY g),
heads AS (SELECT split_part(g, ' ', 1) AS h, sum(c2) AS c1
          FROM big GROUP BY h),
j AS (SELECT dg.doc_id, dg.g, dg.tf,
        -ln((coalesce(b.c2, 0) + 1.0)
            / (coalesce(hd.c1, 0) + (SELECT v FROM vocab)))
        * CAST(dg.tf AS DOUBLE) AS nlp
      FROM dg LEFT JOIN big b USING (g)
      LEFT JOIN heads hd ON hd.h = split_part(dg.g, ' ', 1)),
per AS (SELECT doc_id, sum(tf) AS n, {fold} AS s FROM j GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(per.n, 0) AS BIGINT) AS n_bigrams,
       CAST(CAST(per.s / per.n AS REAL) AS DOUBLE) AS xent
FROM documents d LEFT JOIN per USING (doc_id)
"""


SQL_LM_XENT = _sql_lm_xent()


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.split_assign(_docs(spark, sf_dir), seed="gate")


_SPLIT_BUCKET_DUCK = D.split_bucket(D.DUCKDB, "doc_id", "gate")
SQL_CORPUS_SPLIT = f"""
SELECT doc_id,
  CASE WHEN {_SPLIT_BUCKET_DUCK} < 800 THEN 'train'
       WHEN {_SPLIT_BUCKET_DUCK} < 900 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


SERVING_QUERY = "spark or data"  # 2 distinct terms: order-insensitive sum
MLT_DOC_ID = 0  # more-like-this seed for the serving_surfaces composite


def q_serving_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate for the serving surfaces (one row under the
    50-row cap): filter-context search (``filtered_search`` — the
    predicate selects, never scores), facet counts over the FULL match
    set (``facet_counts``), a 2-page ``search_after`` cursor walk
    whose stitched pages must partition the top-20 exactly (the oracle
    labels rank 1-10 page1, 11-20 page2 — a skipped or repeated doc
    between pages hash-mismatches), ``more_like_this`` (seed-excluded
    tf·idf expansion), ``boosted_search`` (per-term weights riding
    the shared-scan weight column), ``significant_terms`` (JLH
    over-representation score on the full match set),
    minimum_should_match (unit boosts + min_match=2 == the AND doc set
    with OR scores), ``collapse_search`` (best doc per lang group,
    scores untouched), ``count`` (total hits of the full match set),
    ``synonym_search`` (round 5 — the one-term query + a synonym map
    must reproduce the OR query's top-10 exactly: the rewrite IS the
    parser's OR plan), and ``rescore_search`` (round 5 — base top-15
    window re-ranked by 1.0·bm25 + 0.5·single-term proximity; both
    weights IEEE-exact so the combine is one double add on each
    side), and ``stats_agg`` (round 5 — count/min/max/sum/distinct of
    ``n_chars`` over the full match set are exact integer aggregates;
    avg is one sum/count double division mirrored verbatim),
    ``top_hits_by_group`` (best 2 docs per lang bucket, ES top_hits
    nesting — grouping selects, never scores), and
    ``cardinality_sketch`` (bottom-k approx distinct of ``n_chars``
    over the match set at k=16, exercising the estimate branch on the
    serving surface)."""
    eng = gate_engine(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    fscore = F.col("score").cast("float").cast("double").alias("score")
    zero = F.lit(0).cast("long")
    filtered = eng.filtered_search(
        SERVING_QUERY, docs, "lang = 'en'", top_k=10
    ).select(
        F.lit("filtered").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    facets = eng.facet_counts(SERVING_QUERY, docs, "lang", top_n=5).select(
        F.lit("facet").alias("part"), F.col("facet").alias("fkey"),
        zero.alias("doc_id"), F.lit(0.0).alias("score"),
        F.col("doc_count").cast("long").alias("cnt"),
    )
    page1 = eng.search_after(SERVING_QUERY, cursor=None, top_k=10)
    rows1 = page1.collect()
    cursor = (rows1[-1]["score"], rows1[-1]["doc_id"])  # RAW double
    page2 = eng.search_after(SERVING_QUERY, cursor=cursor, top_k=10)
    p1 = spark.createDataFrame(
        [(r["doc_id"], r["score"]) for r in rows1], "doc_id long, score double"
    ).select(
        F.lit("page1").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    p2 = page2.select(
        F.lit("page2").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # more_like_this: seed doc 0's top-2 tf·idf terms (margins between
    # rank 2 and 3 are ~0.03 at the gate SF — far beyond any ln() ulp
    # divergence between the JVM and DuckDB), served seed-excluded; ≤2
    # matched terms per doc keeps the sum order-insensitive
    mlt = eng.more_like_this(MLT_DOC_ID, top_k=10, max_terms=2).select(
        F.lit("mlt").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # boosted disjunction over the same query terms (spark^2.0 data^0.5):
    # score = Σ boost·BM25 — 2 addends keeps the weighted double sum
    # order-insensitive on both sides
    boosted = eng.boosted_search({"spark": 2.0, "data": 0.5}, top_k=10).select(
        F.lit("boosted").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # significant-terms aggregation over the match set (JLH score —
    # every step a single IEEE double op on integer operands, so the
    # oracle mirrors it bit-for-bit)
    sig = eng.significant_terms(
        SERVING_QUERY, docs, top_n=5, min_doc_count=2
    ).select(
        F.lit("sigterms").alias("part"), F.col("term").alias("fkey"),
        zero.alias("doc_id"), fscore,
        F.col("fg_count").cast("long").alias("cnt"),
    )
    # minimum_should_match: unit boosts + min_match=2 == the AND doc
    # set scored with the OR sum (filter on the shared scan's matched
    # count — no extra jobs)
    msm = eng.boosted_search(
        {"spark": 1.0, "data": 1.0}, top_k=10, min_match=2
    ).select(
        F.lit("msm").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # field collapsing: best doc per lang group under the engine total
    # order, scores untouched (filter-context discipline)
    coll = eng.collapse_search(SERVING_QUERY, docs, "lang", top_k=10).select(
        F.lit("collapse").alias("part"), F.col("group").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # total-hit count of the FULL match set (engine.count)
    cnt = spark.createDataFrame(
        [(int(eng.count(SERVING_QUERY)),)], "c long"
    ).select(
        F.lit("count").alias("part"), F.lit("").alias("fkey"),
        zero.alias("doc_id"), F.lit(0.0).alias("score"),
        F.col("c").alias("cnt"),
    )
    # query-time synonym expansion: "spark" + {"spark": ["data"]} must
    # rewrite into the exact OR plan — rows == the shared scored CTE's
    # top-10 (2 distinct terms keeps the sum order-insensitive)
    synonym = eng.synonym_search("spark", {"spark": ["data"]}, top_k=10).select(
        F.lit("synonym").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # two-phase rescore: the OR query's top-15 window re-ranked by
    # 1.0·bm25 + 0.5·proximity(["spark"]) — a single-term proximity
    # degenerates to that term's BM25 frame, so the oracle needs no
    # positional SQL; 1.0× is the IEEE identity, 0.5× an exponent
    # decrement, and the combine one double add — bit-exact both sides
    resc = eng.rescore_search(
        SERVING_QUERY, ["spark"], top_k=10, window=15,
        query_weight=1.0, rescore_weight=0.5,
    ).select(
        F.lit("rescore").alias("part"), F.lit("").alias("fkey"),
        "doc_id", fscore, zero.alias("cnt"),
    )
    # numeric stats + cardinality agg of n_chars over the FULL match
    # set — integer operands, so count/min/max/sum/distinct are exact
    # longs in cnt and avg is ONE double division (sum/count) mirrored
    # verbatim in the oracle
    stats = (
        eng.stats_agg(SERVING_QUERY, docs, "n_chars")
        .select(F.expr(
            "stack(6, "
            "'count', CAST(0.0 AS DOUBLE), `count`, "
            "'min', CAST(0.0 AS DOUBLE), `min`, "
            "'max', CAST(0.0 AS DOUBLE), `max`, "
            "'sum', CAST(0.0 AS DOUBLE), `sum`, "
            "'distinct', CAST(0.0 AS DOUBLE), `distinct`, "
            "'avg', `avg`, CAST(0 AS BIGINT)"
            ") AS (fkey, score, cnt)"
        ))
        .select(
            F.lit("stats").alias("part"), "fkey",
            zero.alias("doc_id"), "score", "cnt",
        )
    )
    # exact discrete percentiles (p50/p95) of n_chars over the same
    # match set — bounded histogram-cumsum rank selection; the rank
    # rule (min v with cum >= floor((n-1)*q)+1, q arithmetic in ONE
    # double multiply) is mirrored verbatim in the oracle
    pctl = eng.percentiles_agg(
        SERVING_QUERY, docs, "n_chars", qs=(0.5, 0.95)
    ).select(
        F.lit("pctl").alias("part"),
        F.concat(
            F.lit("p"),
            (F.col("quantile") * 100).cast("int").cast("string"),
        ).alias("fkey"),
        zero.alias("doc_id"),
        F.lit(0.0).alias("score"),
        F.col("value").cast("bigint").alias("cnt"),
    )
    # ES top_hits-under-terms: best 2 docs per lang bucket of the full
    # match set, scores untouched (the grouping selects, never scores)
    tophits = eng.top_hits_by_group(
        SERVING_QUERY, docs, "lang", hits_per_group=2
    ).select(
        F.lit("tophits").alias("part"), F.col("group").alias("fkey"),
        "doc_id", fscore, F.col("grank").cast("long").alias("cnt"),
    )
    # bottom-k cardinality sketch of n_chars over the same match set
    # (k=16 < distinct values, so this exercises the estimate branch
    # on the serving surface; integer-exact until one double division)
    card = (
        eng.cardinality_sketch(SERVING_QUERY, docs, "n_chars", k=16)
        .select(F.expr(
            "stack(3, "
            "'n', CAST(0.0 AS DOUBLE), n_sketch, "
            "'kth', CAST(0.0 AS DOUBLE), kth_hash, "
            "'est', est_distinct, CAST(0 AS BIGINT)"
            ") AS (fkey, score, cnt)"
        ))
        .select(
            F.lit("card").alias("part"), "fkey",
            zero.alias("doc_id"), "score", "cnt",
        )
    )
    return (
        filtered.unionByName(facets).unionByName(p1).unionByName(p2)
        .unionByName(mlt).unionByName(boosted).unionByName(sig)
        .unionByName(msm).unionByName(coll).unionByName(cnt)
        .unionByName(synonym).unionByName(resc).unionByName(stats)
        .unionByName(tophits).unionByName(card)
        .unionByName(pctl)
    )


# scored = the engine's OR-sum frame for SERVING_QUERY (same expression
# tree as SQL_BM25_TOPK); score_raw (pre-float32 sum) drives ranking and
# the cursor partition exactly like the engine's raw double ordering
SQL_SERVING_SURFACES = f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT count(*) / (SELECT n FROM n) AS avgdl FROM toks),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('spark', 'data') GROUP BY doc_id, term),
dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
sc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
scored AS (
  SELECT doc_id, SUM(CAST(score AS DOUBLE)) AS score_raw,
         CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score
  FROM sc GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score_raw DESC, doc_id ASC) AS rk
  FROM scored
),
filtered AS (
  SELECT 'filtered' AS part, '' AS fkey, s.doc_id, s.score,
         CAST(0 AS BIGINT) AS cnt
  FROM scored s JOIN documents d USING (doc_id)
  WHERE d.lang = 'en'
  ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
),
facets AS (
  SELECT 'facet' AS part, d.lang AS fkey, CAST(0 AS BIGINT) AS doc_id,
         0.0 AS score, count(*) AS cnt
  FROM scored s JOIN documents d USING (doc_id)
  GROUP BY d.lang
  ORDER BY cnt DESC, fkey ASC LIMIT 5
),
pages AS (
  SELECT CASE WHEN rk <= 10 THEN 'page1' ELSE 'page2' END AS part,
         '' AS fkey, doc_id, score, CAST(0 AS BIGINT) AS cnt
  FROM ranked WHERE rk <= 20
),
mtf AS (SELECT term, count(*) AS tf FROM toks
        WHERE doc_id = {MLT_DOC_ID} GROUP BY term),
mdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
msel AS (
  SELECT m.term FROM mtf m JOIN mdf d USING (term)
  ORDER BY m.tf * ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5)) DESC,
           m.term ASC
  LIMIT 2
),
mtfs AS (SELECT doc_id, term, count(*) AS tf FROM toks
         WHERE term IN (SELECT term FROM msel) GROUP BY doc_id, term),
mdfs AS (SELECT term, count(*) AS df FROM mtfs GROUP BY term),
msc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM mtfs t JOIN dl USING (doc_id) JOIN mdfs d ON d.term = t.term
  WHERE t.doc_id != {MLT_DOC_ID}
),
mlt AS (
  SELECT 'mlt' AS part, '' AS fkey, doc_id,
         CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score,
         CAST(0 AS BIGINT) AS cnt
  FROM msc GROUP BY doc_id
  ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC
  LIMIT 10
),
bsc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score,
    CASE t.term WHEN 'spark' THEN 2.0 ELSE 0.5 END AS w
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
),
boosted AS (
  SELECT 'boosted' AS part, '' AS fkey, doc_id,
         CAST(CAST(SUM(CAST(score AS DOUBLE) * w) AS REAL) AS DOUBLE) AS score,
         CAST(0 AS BIGINT) AS cnt
  FROM bsc GROUP BY doc_id
  ORDER BY SUM(CAST(score AS DOUBLE) * w) DESC, doc_id ASC
  LIMIT 10
),
fgt AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM scored),
fg AS (SELECT term, count(DISTINCT doc_id) AS fg FROM toks
       WHERE doc_id IN (SELECT doc_id FROM scored)
       GROUP BY term HAVING count(DISTINCT doc_id) >= 2),
sig AS (
  SELECT 'sigterms' AS part, f.term AS fkey, CAST(0 AS BIGINT) AS doc_id,
    CAST(CAST(
      ((CAST(f.fg AS DOUBLE) / (SELECT c FROM fgt)
        - CAST(d.df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
       * ((CAST(f.fg AS DOUBLE) / (SELECT c FROM fgt))
          / (CAST(d.df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))))
    AS REAL) AS DOUBLE) AS score,
    CAST(f.fg AS BIGINT) AS cnt
  FROM fg f JOIN mdf d ON d.term = f.term
  ORDER BY
      ((CAST(f.fg AS DOUBLE) / (SELECT c FROM fgt)
        - CAST(d.df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
       * ((CAST(f.fg AS DOUBLE) / (SELECT c FROM fgt))
          / (CAST(d.df AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))))
      DESC, f.term ASC
  LIMIT 5
),
msm_d AS (SELECT doc_id FROM tfs GROUP BY doc_id
          HAVING count(DISTINCT term) >= 2),
msm AS (
  SELECT 'msm' AS part, '' AS fkey, doc_id,
         CAST(CAST(SUM(CAST(score AS DOUBLE)) AS REAL) AS DOUBLE) AS score,
         CAST(0 AS BIGINT) AS cnt
  FROM sc WHERE doc_id IN (SELECT doc_id FROM msm_d) GROUP BY doc_id
  ORDER BY SUM(CAST(score AS DOUBLE)) DESC, doc_id ASC LIMIT 10
),
coll_r AS (
  SELECT s.doc_id, s.score, s.score_raw, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.score_raw DESC, s.doc_id ASC) AS gr
  FROM scored s JOIN documents d USING (doc_id)
),
coll AS (
  SELECT 'collapse' AS part, lang AS fkey, doc_id, score,
         CAST(0 AS BIGINT) AS cnt
  FROM coll_r WHERE gr <= 1
  ORDER BY score_raw DESC, doc_id ASC LIMIT 10
),
hitcount AS (
  SELECT 'count' AS part, '' AS fkey, CAST(0 AS BIGINT) AS doc_id,
         0.0 AS score, (SELECT count(*) FROM scored) AS cnt
),
synonym AS (
  SELECT 'synonym' AS part, '' AS fkey, doc_id, score,
         CAST(0 AS BIGINT) AS cnt
  FROM ranked WHERE rk <= 10
),
rsc AS (
  SELECT t.doc_id,
    CAST(
      ln(((SELECT n FROM n) - d.df + 0.5) / (d.df + 0.5))
      * ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) * 2.5)
      / ((0.0 + t.tf * 1.0 / (1.75 + 0.25 * dl.dl / (SELECT avgdl FROM avgdl))) + 1.5)
    AS REAL) AS score
  FROM tfs t JOIN dl USING (doc_id) JOIN dfs d ON d.term = t.term
  WHERE t.term = 'spark'
),
resc AS (
  SELECT 'rescore' AS part, '' AS fkey, w.doc_id,
         CAST(CAST(
           1.0 * w.score_raw + 0.5 * coalesce(CAST(r.score AS DOUBLE), 0.0)
         AS REAL) AS DOUBLE) AS score,
         CAST(0 AS BIGINT) AS cnt
  FROM (SELECT r.doc_id, s.score_raw FROM ranked r
        JOIN scored s USING (doc_id) WHERE r.rk <= 15) w
  LEFT JOIN rsc r USING (doc_id)
  ORDER BY 1.0 * w.score_raw + 0.5 * coalesce(CAST(r.score AS DOUBLE), 0.0)
           DESC, w.doc_id ASC
  LIMIT 10
),
statsrc AS (
  SELECT d.n_chars AS v FROM documents d JOIN scored s USING (doc_id)
),
stats AS (
  SELECT 'stats' AS part, x.fkey, CAST(0 AS BIGINT) AS doc_id,
         x.score, x.cnt
  FROM (
    SELECT 'count' AS fkey, 0.0 AS score,
           CAST(count(*) AS BIGINT) AS cnt FROM statsrc
    UNION ALL SELECT 'min', 0.0, CAST(min(v) AS BIGINT) FROM statsrc
    UNION ALL SELECT 'max', 0.0, CAST(max(v) AS BIGINT) FROM statsrc
    UNION ALL SELECT 'sum', 0.0, CAST(sum(v) AS BIGINT) FROM statsrc
    UNION ALL SELECT 'distinct', 0.0,
      CAST(count(DISTINCT v) AS BIGINT) FROM statsrc
    UNION ALL SELECT 'avg', CAST(sum(v) AS DOUBLE) / count(*),
      CAST(0 AS BIGINT) FROM statsrc
  ) x
),
pctl_hist AS (SELECT v, count(*) AS c FROM statsrc GROUP BY v),
pctl_cum AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
  FROM pctl_hist
),
pctl AS (
  SELECT 'pctl' AS part, x.fkey, CAST(0 AS BIGINT) AS doc_id,
         0.0 AS score, x.cnt
  FROM (
    SELECT 'p50' AS fkey,
      CAST(min(CASE WHEN cum >= floor((n-1)*0.5)+1 THEN v END) AS BIGINT)
        AS cnt FROM pctl_cum
    UNION ALL SELECT 'p95',
      CAST(min(CASE WHEN cum >= floor((n-1)*0.95)+1 THEN v END) AS BIGINT)
      FROM pctl_cum
  ) x
),
tophits AS (
  SELECT 'tophits' AS part, lang AS fkey, doc_id, score,
         CAST(gr AS BIGINT) AS cnt
  FROM coll_r WHERE gr <= 2
),
card_sk AS {_duck_sketch('statsrc', 'v', 16)},
card AS (
  SELECT 'card' AS part, x.fkey, CAST(0 AS BIGINT) AS doc_id,
         x.score, x.cnt
  FROM (
    SELECT 'n' AS fkey, 0.0 AS score,
           CAST(n_sketch AS BIGINT) AS cnt FROM card_sk
    UNION ALL SELECT 'kth', 0.0, kth_hash FROM card_sk
    UNION ALL SELECT 'est', est, CAST(0 AS BIGINT) FROM card_sk
  ) x
)
SELECT * FROM filtered
UNION ALL SELECT * FROM facets
UNION ALL SELECT * FROM pages
UNION ALL SELECT * FROM mlt
UNION ALL SELECT * FROM boosted
UNION ALL SELECT * FROM sig
UNION ALL SELECT * FROM msm
UNION ALL SELECT * FROM coll
UNION ALL SELECT * FROM hitcount
UNION ALL SELECT * FROM synonym
UNION ALL SELECT * FROM resc
UNION ALL SELECT * FROM stats
UNION ALL SELECT * FROM pctl
UNION ALL SELECT * FROM tophits
UNION ALL SELECT * FROM card
"""


def queries():
    return {
        "postings_tf": q_postings_tf,
        "term_stats": q_term_stats,
        "bm25_topk": q_bm25_topk,
        "bool_queries": q_bool_queries,
        "training_set": q_training_set,
        "phrase_window": q_phrase_window,
        "dedup_exact": q_dedup_exact,
        "event_window_counts": q_event_window_counts,
        "doc_token_stats": q_doc_token_stats,
        "embedding_topk": q_embedding_topk,
        "text_quality": q_text_quality,
        "token_fingerprint": q_token_fingerprint,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_pairs": q_dedup_ngram_pairs,
        "dup_spans": q_dup_spans,
        "agg_sketches": q_agg_sketches,
        "serving_surfaces": q_serving_surfaces,
        "dedup_embedding_pairs": q_dedup_embedding_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "blob_meta_decode": q_blob_meta_decode,
        "blob_frame_sample": q_blob_frame_sample,
        "bm25_two_field_topk": q_bm25_two_field_topk,
        "spell_suggest": q_spell_suggest,
        "hybrid_search": q_hybrid_search,
        "hybrid_ltr": q_hybrid_ltr,
        "exact_ltr": q_exact_ltr,
        "ltr_features": q_ltr_features,
        "ltr_features_batch": q_ltr_features_batch,
        "search_snippets": q_search_snippets,
        "msearch_batched": q_msearch_batched,
        "dedup_clusters": q_dedup_clusters,
        "search_after_delete": q_search_after_delete,
        "search_after_add": q_search_after_add,
        "search_after_update": q_search_after_update,
        "prefix_search": q_prefix_search,
        "fuzzy_search": q_fuzzy_search,
        "ann_quantized_topk": q_ann_quantized_topk,
        "ann_ivf_quantized_topk": q_ann_ivf_quantized_topk,
        "redact_text": q_redact_text,
        "corpus_split": q_corpus_split,
        "stratified_sample": q_stratified_sample,
        "line_dedup": q_line_dedup,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "lm_xent": q_lm_xent,
        "chunk_documents": q_chunk_documents,
        "hash_embeddings": q_hash_embeddings,
        "bpe_segment": q_bpe_segment,
    }


def oracle_sql():
    return {
        "postings_tf": SQL_POSTINGS_TF,
        "term_stats": SQL_TERM_STATS,
        "bm25_topk": SQL_BM25_TOPK,
        "bool_queries": SQL_BOOL_QUERIES,
        "training_set": SQL_TRAINING_SET,
        "phrase_window": SQL_PHRASE_WINDOW,
        "dedup_exact": SQL_DEDUP_EXACT,
        "event_window_counts": SQL_EVENT_WINDOW_COUNTS,
        "doc_token_stats": SQL_DOC_TOKEN_STATS,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "text_quality": SQL_TEXT_QUALITY,
        "token_fingerprint": SQL_TOKEN_FINGERPRINT,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "dedup_ngram_pairs": SQL_DEDUP_NGRAM_PAIRS,
        "dup_spans": SQL_DUP_SPANS,
        "agg_sketches": SQL_AGG_SKETCHES,
        "serving_surfaces": SQL_SERVING_SURFACES,
        "dedup_embedding_pairs": SQL_DEDUP_EMBEDDING_PAIRS,
        "ann_lsh_topk": SQL_ANN_LSH_TOPK,
        "ann_ivf_topk": SQL_ANN_IVF_TOPK,
        "blob_meta_decode": SQL_BLOB_META_DECODE,
        "blob_frame_sample": SQL_BLOB_FRAME_SAMPLE,
        "bm25_two_field_topk": SQL_BM25_TWO_FIELD_TOPK,
        "spell_suggest": SQL_SPELL_SUGGEST,
        "hybrid_search": SQL_HYBRID_SEARCH,
        "hybrid_ltr": SQL_HYBRID_LTR,
        "exact_ltr": SQL_EXACT_LTR,
        "ltr_features": SQL_LTR_FEATURES,
        "ltr_features_batch": SQL_LTR_FEATURES_BATCH,
        "search_snippets": SQL_SEARCH_SNIPPETS,
        "msearch_batched": SQL_MSEARCH_BATCHED,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "search_after_delete": SQL_SEARCH_AFTER_DELETE,
        "search_after_add": SQL_SEARCH_AFTER_ADD,
        "search_after_update": SQL_SEARCH_AFTER_UPDATE,
        "prefix_search": SQL_PREFIX_SEARCH,
        "fuzzy_search": SQL_FUZZY_SEARCH,
        "ann_quantized_topk": SQL_ANN_QUANTIZED_TOPK,
        "ann_ivf_quantized_topk": SQL_ANN_IVF_QUANTIZED_TOPK,
        "redact_text": SQL_REDACT_TEXT,
        "corpus_split": SQL_CORPUS_SPLIT,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "line_dedup": SQL_LINE_DEDUP,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "decontaminate": SQL_DECONTAMINATE,
        "lm_xent": SQL_LM_XENT,
        "chunk_documents": SQL_CHUNK_DOCUMENTS,
        "hash_embeddings": SQL_HASH_EMBEDDINGS,
        "bpe_segment": SQL_BPE_SEGMENT,
    }
