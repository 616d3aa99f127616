"""Derived-label LTR evaluation: a non-synthetic ranking benchmark.

The reference publishes NDCG@10 = 0.5818 / MRR@10 = 0.4444 for its
ListNet re-ranker on MS MARCO (reference ``README.md:62``,
``sea/learning_to_rank/train.py:29-72``). MS MARCO is not in this
container, so this module derives a labeled set from the fixture corpus
itself — real engine retrieval, real feature extraction, and a graded
relevance signal computed from TEXT OVERLAP rather than from the
ranking function being evaluated:

* a query is a run of 4 consecutive distinct tokens drawn from a
  seeded, layout-independent sample of documents;
* candidates come from the engine's BM25 OR-retrieval (the same
  pre-select the production ``search_ltr`` path uses);
* relevance is the query's token-BIGRAM containment in the candidate
  (``round(3 · |q_bigrams ∩ doc_bigrams| / |q_bigrams|)``) — an
  order-sensitive phrase signal that bag-of-words BM25 does not
  optimize, computed Spark-side per candidate set. The source document
  scores 3 by construction; near-duplicates score high; docs sharing
  only scattered terms score 0.

``evaluate`` then trains the ListNet MLP on the train split of query
groups and reports NDCG@10/MRR@10 for the BM25 ordering vs the trained
re-ranker on both splits. Everything is seeded and deterministic.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import ltr

QUERY_TOKENS = 4

# Spark-side doc bigram expression over the simple-analyzer token stream
_DOC_BIGRAMS = (
    "CASE WHEN size(__toks) < 2 THEN array() "
    "ELSE transform(sequence(1, size(__toks) - 1), "
    "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1))) END"
)


def sample_queries(
    docs: DataFrame, num_queries: int, seed: int = 29
) -> list[tuple[int, list[str]]]:
    """(doc_id, query_terms) for a seeded hash-order document sample —
    layout-independent like the IVF quantizer sample. Query terms are
    the first ``QUERY_TOKENS`` DISTINCT tokens starting at token 2 (skip
    the often-boilerplate head); docs with too few tokens are skipped."""
    rows = (
        docs.select("doc_id", "text")
        .orderBy(F.xxhash64(F.col("doc_id"), F.lit(int(seed))))
        .limit(num_queries * 2)
        .collect()
    )
    out = []
    for r in rows:
        toks = re.findall(r"[a-z0-9]+", (r["text"] or "").lower())
        run: list[str] = []
        for t in toks[2:]:
            if t not in run:
                run.append(t)
            if len(run) == QUERY_TOKENS:
                break
        if len(run) == QUERY_TOKENS:
            out.append((r["doc_id"], run))
        if len(out) == num_queries:
            break
    return out


def build_groups(
    eng: SearchEngine,
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    retrieve_k: int = 30,
):
    """Per-query (features, labels, bm25) groups.

    Candidate pool per query = BM25 OR-retrieval top-k ∪ phrase-bigram
    retrieval top-k — the standard multi-retriever pre-select. The
    second arm matters on this fixture: the corpus has a tiny
    vocabulary, so every idf is negative and the BM25 ordering is a
    WEAK ranker here (it demotes docs that match many query terms);
    the phrase arm guarantees overlap-relevant docs still enter the
    pool, which is exactly the regime where a learned re-ranker over
    the same features can help (and what the reference's MS MARCO
    numbers — BM25 0.39 → ListNet 0.58 NDCG@10 — demonstrate at
    scale). The BM25 baseline ordering is the summed query-time BM25
    feature (bm25_f*), identical information either ranker sees.

    FULLY BATCHED: the candidate pools for every query come from ONE
    ``msearch`` job (both arms ride the shared scan / tagged fallback
    plans), the feature frames from ONE ``ltr_features_batch`` job, and
    the labels from ONE doc-bigram ∩ query-bigram join — a single
    collect for the whole benchmark instead of ~2 Spark jobs per
    query. This is the offline LTR training-sweep serving shape; the
    per-query path (``ltr_features``) is bit-identical (pinned by
    ``test_ltr_features_batch_matches_sequential``)."""
    nf = eng.meta["num_fields"]
    order = ltr.feature_order(nf)
    spark = docs.sparkSession

    ms_queries: dict[str, str] = {}
    feat_queries: dict[str, str] = {}
    qgram_rows: list[tuple[str, str]] = []
    src_of: dict[str, int] = {}
    for src_doc, terms in queries:
        qid = f"q{src_doc}"
        src_of[qid] = src_doc
        feat_queries[qid] = " OR ".join(terms)
        ms_queries[qid + "#or"] = feat_queries[qid]
        ms_queries[qid + "#ph"] = " OR ".join(
            f'"{a} {b}"' for a, b in zip(terms, terms[1:])
        )
        qgram_rows += [
            (qid, f"{a} {b}") for a, b in zip(terms, terms[1:])
        ]
    if not ms_queries:
        return []

    pool = (
        eng.msearch(ms_queries, top_k=retrieve_k)
        .select(
            F.regexp_replace("query_id", "#(or|ph)$", "").alias("query_id"),
            "doc_id",
        )
        .distinct()
    )
    feats = eng.ltr_features_batch(feat_queries, top=pool)

    qg = spark.createDataFrame(qgram_rows, "query_id string, g string")
    n_qgrams = {q: 0 for q in feat_queries}
    for q, _ in qgram_rows:
        n_qgrams[q] += 1
    nq_df = spark.createDataFrame(
        [(q, float(n)) for q, n in n_qgrams.items()],
        "query_id string, n_qgrams double",
    )
    doc_grams = (
        docs.select(
            "doc_id",
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias(
                "__toks"
            ),
        )
        .select("doc_id", F.explode(F.expr(_DOC_BIGRAMS)).alias("g"))
        .distinct()
    )
    labeled = (
        doc_grams.join(F.broadcast(qg), "g")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .join(F.broadcast(nq_df), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(F.lit(3.0) * F.col("hits") / F.col("n_qgrams")).alias(
                "rel"
            ),
        )
    )
    rows = (
        feats.join(labeled, ["query_id", "doc_id"], "left")
        .withColumn("rel", F.coalesce("rel", F.lit(0.0)))
        .orderBy("query_id", "doc_id")
        .collect()
    )
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    groups = []
    for qid, qrows in by_q.items():
        if len(qrows) < 2:
            continue
        x = np.array(
            [[float(r[c]) for c in order] for r in qrows], dtype=np.float64
        )
        y = np.array([float(r["rel"]) for r in qrows], dtype=np.float64)
        groups.append(
            {
                "src_doc": src_of[qid],
                "x": x,
                "y": y,
                "bm25": x[:, 0:nf].sum(axis=1),
            }
        )
    return groups


def score_with(weights: dict, x: np.ndarray) -> np.ndarray:
    """Score features with trained weights using the same left-fold
    inference as ``ListNetScorer`` (no tmp .npz round-trip needed)."""
    w = {k: np.asarray(v, dtype=np.float64) for k, v in weights.items()}
    z = (x - w["means"]) / np.where(w["stds"] == 0, 1.0, w["stds"])
    h = ltr._affine_leftfold(z, w["w0"], w["b0"], relu=True)
    h = ltr._affine_leftfold(h, w["w1"], w["b1"], relu=True)
    return ltr._affine_leftfold(h, w["w2"], w["b2"], relu=False).reshape(-1)


def evaluate(
    eng: SearchEngine,
    docs: DataFrame,
    num_queries: int = 48,
    retrieve_k: int = 30,
    seed: int = 29,
    eval_frac_mod: int = 5,
    hidden: int = 32,
    epochs: int = 80,
    lr: float = 0.02,
) -> dict:
    """Train on ~(1 - 1/eval_frac_mod) of the query groups, report
    NDCG@10 / MRR@10 for the BM25 ordering vs the trained ListNet on
    both splits. Split by a hash of the query's source doc_id (stable,
    content-independent)."""
    queries = sample_queries(docs, num_queries, seed)
    groups = build_groups(eng, docs, queries, retrieve_k)
    train = [g for g in groups if (g["src_doc"] * 2654435761) % eval_frac_mod]
    evalg = [
        g for g in groups if not (g["src_doc"] * 2654435761) % eval_frac_mod
    ]
    res = ltr.train_listnet(
        [g["x"] for g in train],
        [g["y"] for g in train],
        hidden=hidden,
        epochs=epochs,
        lr=lr,
    )
    w = res["weights"]

    def metrics(gs):
        preds_ltr = [score_with(w, g["x"]) for g in gs]
        preds_bm = [g["bm25"] for g in gs]
        rels = [g["y"] for g in gs]
        return {
            "ndcg10_bm25": ltr.mean_metric(ltr.ndcg_at_k, preds_bm, rels, 10),
            "ndcg10_ltr": ltr.mean_metric(ltr.ndcg_at_k, preds_ltr, rels, 10),
            "mrr10_bm25": ltr.mean_metric(ltr.mrr_at_k, preds_bm, rels, 10),
            "mrr10_ltr": ltr.mean_metric(ltr.mrr_at_k, preds_ltr, rels, 10),
        }

    return {
        "num_queries": len(groups),
        "train_queries": len(train),
        "eval_queries": len(evalg),
        "final_loss": res["losses"][-1],
        "first_loss": res["losses"][0],
        "train": metrics(train),
        "eval": metrics(evalg) if evalg else None,
        "weights": w,
    }
