"""spark-submit entry: measured recall/precision of the probabilistic
near-dup candidate generators against exact ground truth — the
"measure, don't guess" companion to `jobs/ann_eval.py`, for text dedup.

Ground truth: ALL-PAIRS word-3-gram-shingle Jaccard over the corpus
(O(n²) — eval-scale only; run at a sample of production data). Under
test, each at the same candidate stage:

  minhash-lsh   banded MinHash bucket self-join (`lsh_candidate_pairs`)
  ssjoin        prefix-filtered containment candidates
                (`containment_candidates` — provably complete for the
                containment threshold; measured here against the
                JACCARD truth, where completeness is not implied)
  simhash-near  pigeonhole banded-byte join at Hamming ≤ 3

Reports per generator: candidate count, recall of true pairs at each
Jaccard threshold, and precision (what fraction of candidates verify).
Production always VERIFIES candidates (`ngram_jaccard_pairs`), so
precision is a cost metric (wasted verification), recall a quality
metric (missed dups).

    spark-submit jobs/dedup_eval.py --input docs.parquet \
        [--thresholds 0.5,0.7,0.8,0.9] [--output BENCH/dedup_recall.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cs_search_engine_architecture_spark.functions import dialect as D  # noqa: E402
from cs_search_engine_architecture_spark.operators import dedup  # noqa: E402
from cs_search_engine_architecture_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--synthetic", type=int, default=None,
                    help="instead of --input: N base docs, each with "
                         "variants mutated at graded rates — gives a "
                         "full Jaccard spectrum (the fixture's dups "
                         "are bimodal), exposing the LSH S-curve")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--thresholds", default="0.5,0.7,0.8,0.9")
    ap.add_argument("--embeddings", default=None,
                    help="(vec_id, embedding) parquet: also evaluate "
                         "the banded hyperplane-LSH generator against "
                         "exact all-pairs cosine truth")
    ap.add_argument("--cosine-thresholds", default="0.4,0.6,0.8")
    ap.add_argument("--emb-dims", type=int, default=64,
                    help="embedding width — MUST match the vectors: "
                         "the hyperplane coefficients embed as "
                         "literals of this width, and a mismatch "
                         "NULLs every dot product (all vectors land "
                         "in bucket 0 = meaningless all-pairs eval)")
    ap.add_argument("--output", default=None)
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()
    thresholds = [float(t) for t in args.thresholds.split(",")]

    if bool(args.input) == bool(args.synthetic):
        ap.error("exactly one of --input / --synthetic required")
    spark = get_spark(
        app_name="spark-sea-dedup-eval",
        master=f"local[{args.cores}]" if args.cores else None,
    )
    spark.sparkContext.setLogLevel("WARN")
    if args.synthetic:
        import random

        rng = random.Random(13)
        vocab = [f"w{i:04d}" for i in range(4000)]
        rows, emb_rows, did = [], [], 0
        for _ in range(args.synthetic):
            base = [rng.choice(vocab) for _ in range(60)]
            bvec = [rng.uniform(-1, 1) for _ in range(64)]
            rows.append((did, " ".join(base)))
            emb_rows.append((did, bvec))
            did += 1
            for rate in (0.05, 0.15, 0.3, 0.5):
                mut = [
                    (rng.choice(vocab) if rng.random() < rate else w)
                    for w in base
                ]
                rows.append((did, " ".join(mut)))
                # graded vector perturbation: small rate = high cosine
                emb_rows.append((did, [
                    x + rng.gauss(0.0, 1.2 * rate) for x in bvec
                ]))
                did += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        docs = docs.repartition(8).cache()
        synthetic_emb = spark.createDataFrame(
            emb_rows, "vec_id long, embedding array<float>"
        ).repartition(8).cache()
    else:
        docs = spark.read.parquet(args.input)
        synthetic_emb = None
    tc = args.text_col
    n_docs = docs.count()

    # exact all-pairs Jaccard ground truth (distinct shingle sets) —
    # the one deliberate O(n²) in the repo, clearly eval-only
    shingled = docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(D.shingles(D.SPARK, D.tokens(D.SPARK, tc)))
        ).alias("sh"),
    ).where(F.size("sh") > 0)
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min(thresholds))
        .cache()
    )
    truth_counts = {
        t: truth.where(F.col("jaccard") >= t).count() for t in thresholds
    }

    generators = {
        "minhash_lsh": lambda: dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, tc)
        ),
        "ssjoin_prefix": lambda: dedup.containment_candidates(docs, tc),
        "simhash_near3": lambda: dedup.simhash_near_pairs(
            docs, max_hamming=3, text_col=tc
        ).select("doc_a", "doc_b"),
    }
    report: dict = {
        "input": args.input or f"synthetic:{args.synthetic}",
        "n_docs": n_docs,
        "true_pairs_at": {str(t): c for t, c in truth_counts.items()},
    }
    for name, gen in generators.items():
        cand = gen().select("doc_a", "doc_b").distinct().cache()
        n_cand = cand.count()
        hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
        entry = {"candidates": n_cand}
        for t in thresholds:
            n_true = truth_counts[t]
            n_hit = hit.where(F.col("jaccard") >= t).count()
            entry[f"recall@j{t}"] = (
                round(n_hit / n_true, 4) if n_true else None
            )
        # precision vs the lowest threshold (candidates that verify)
        n_verifiable = cand.join(
            truth, ["doc_a", "doc_b"], "left_semi"
        ).count()
        entry["precision_vs_min_thr"] = (
            round(n_verifiable / n_cand, 4) if n_cand else None
        )
        report[name] = entry
        cand.unpersist()
    truth.unpersist()

    # embedding near-dup generator: exact all-pairs COSINE truth vs the
    # banded hyperplane-LSH candidates — measures the collision-bound
    # recall claim (1-(1-((1-θ/π)^P))^B) on real vectors
    emb = (
        spark.read.parquet(args.embeddings) if args.embeddings
        else synthetic_emb
    )
    if emb is not None:
        cths = sorted(float(t) for t in args.cosine_thresholds.split(","))
        etruth = dedup.embedding_dup_pairs(emb, min_cosine=min(cths)).cache()
        etruth_counts = {
            t: etruth.where(F.col("cos") >= t).count() for t in cths
        }
        ecand = dedup.embedding_lsh_candidates(
            emb, dims=args.emb_dims
        ).cache()
        n_ecand = ecand.count()
        ehit = etruth.join(ecand, ["id_a", "id_b"], "left_semi")
        entry = {"candidates": n_ecand}
        for t in cths:
            n_true = etruth_counts[t]
            n_hit = ehit.where(F.col("cos") >= t).count()
            entry[f"recall@cos{t}"] = (
                round(n_hit / n_true, 4) if n_true else None
            )
        n_ver = ecand.join(etruth, ["id_a", "id_b"], "left_semi").count()
        entry["precision_vs_min_thr"] = (
            round(n_ver / n_ecand, 4) if n_ecand else None
        )
        report["embedding_lsh"] = entry
        report["true_pairs_at_cos"] = {
            str(t): c for t, c in etruth_counts.items()
        }
        ecand.unpersist()
        etruth.unpersist()

    out = json.dumps(report, indent=1)
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
