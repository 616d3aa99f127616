"""Isolated per-entry benchmark harness (r6 optimization round).

Runs selected bench.py entries (same inputs, same actions) in one JVM
with N repeats each, so before/after comparisons are same-session
(this VM's cross-session noise is ±50%; see CLAUDE.md). ``bench.py``
itself is FROZEN for driver measurement — cite numbers from here in
OPTIMIZATION_r06.md only.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
      --only dedup_spans,percolate_200q [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cs_search_engine_architecture_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from cs_search_engine_architecture_spark.operators import (
        curation as _cu,
        dedup,
        lm,
        percolate as _pc,
        similarity,
        sketches as _sk,
        spans as _sp,
        text_analysis,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    # entry name -> (build_df_or_action, action) mirroring bench.py
    def _scored():
        return text_analysis.token_counts(docs).select(
            "doc_id", F.col("bpe_pieces").alias("n_tokens")
        ).join(
            text_analysis.quality_scores(docs).withColumn(
                "quality_score", text_analysis.quality_score_col()
            ).select("doc_id", "quality_score"),
            "doc_id",
        )

    terms_pc = [
        "spark", "data", "slow", "fast", "hash", "join", "index", "query",
        "merge", "sort", "key", "value", "table", "row", "column", "disk",
    ]
    perc_qs = {
        f"s{i}": (
            f"{terms_pc[i % 16]} or {terms_pc[(i + 5) % 16]}"
            if i % 2 == 0
            else f"{terms_pc[i % 16]} and {terms_pc[(i + 5) % 16]}"
        )
        for i in range(196)
    }
    perc_qs.update({
        "ph1": '"window order"', "ph2": '"hash join"',
        "ph3": '"table scan"', "ph4": '"sort merge"',
    })
    mixed_qs = {}
    for i in range(40):
        a, b, c, d = (terms_pc[(i + j) % 16] for j in (0, 3, 7, 11))
        mixed_qs[f"x{i}"] = [
            f"{a} and ({b} or {c})",
            f"{a} or not {b}",
            f"{a} and ({b} or {c}) not {d}",
            f"({a} or {b}) and ({c} or not {d})",
        ][i % 4]

    def _quant():
        qvec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
        q8, q8n = similarity.quantize_query(qvec)
        qemb = similarity.quantize_embeddings(emb)
        return lambda: similarity.quantized_cosine_topk(
            qemb, q8, q8n, 10
        ).collect()

    entries: dict = {
        "dedup_minhash_lsh": lambda: (
            lambda df=dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs)
            ): df.count()
        ),
        "dedup_simhash": lambda: (lambda df=dedup.simhash(docs): df.count()),
        "fingerprint": lambda: (
            lambda df=text_analysis.fingerprints(docs): df.count()
        ),
        "hash_embeddings": lambda: (
            lambda df=text_analysis.hash_embeddings(docs): df.count()
        ),
        "ann_quantized": _quant,
        "dedup_embedding_lsh": lambda: (
            lambda df=dedup.embedding_dup_pairs_bucketed(
                emb, min_cosine=0.4
            ): df.count()
        ),
        "percolate_200q": lambda: (
            lambda: _pc.percolate(
                spark, perc_qs, docs, analyzer="simple"
            ).count()
        ),
        "percolate_mixed40": lambda: (
            lambda: _pc.percolate(
                spark, mixed_qs, docs, analyzer="simple"
            ).count()
        ),
        "dedup_spans": lambda: (
            lambda: _sp.remove_duplicate_spans(docs, 8).selectExpr(
                "sum(length(text))", "sum(n_tokens_removed)"
            ).collect()
        ),
        "cardinality_sketch": lambda: (
            lambda: _sk.approx_distinct(
                _sp.gram_occurrences(docs, 8), "gram_hash", 256
            ).collect()
        ),
        "token_budget_select": lambda: (
            lambda sc=_scored(): _cu.select_token_budget(
                sc, 27 * docs.count()
            ).count()
        ),
        "lm_xent": lambda: (lambda: lm.xent_scores(docs).count()),
        "decontaminate": lambda: (
            lambda: dedup.decontaminate(
                docs, docs.where("doc_id % 100 = 3"), n=5
            ).count()
        ),
    }

    out: dict = {}
    for name, mk in entries.items():
        if only is not None and name not in only:
            continue
        action = mk()
        spark.sparkContext.setJobDescription(f"{name} warm")
        t0 = time.time()
        action()
        times = [round(time.time() - t0, 3)]  # cold
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            action()
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(f"{name}: cold={times[0]} warm={times[1:]}", flush=True)

    print(json.dumps({"sf_dir": sf_dir, "times": out}))
    spark.stop()


if __name__ == "__main__":
    main()
