"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Training-data-pipeline extensions over SURVEY.md §2 (the reference has
no dedup). Shapes chosen for 100 TB operation:

* **exact** — ``groupBy(hash)``: one shuffle on an already-tiny key;
  map-side partial aggregation absorbs the fan-in.
* **MinHash + LSH** — per-row signature (row-local column math, no
  shuffle) → explode to (band, bucket) → self-join per band. The join
  key is the banded bucket hash, so candidate generation touches only
  colliding rows instead of the O(n²) cross product; band buckets are
  near-uniform (md5), so the shuffle is skew-free by construction.
* **SimHash** — 32-bit sign-of-weighted-sum fingerprint; exact pairs
  join on the fingerprint, near pairs (Hamming ≤ 3) via the banded-byte
  join in ``simhash_near_pairs`` (pigeonhole-complete, then
  ``bit_count(xor)`` verify).
* **n-gram Jaccard** — verification stage over LSH candidates only
  (never all pairs): candidates × shingle-set intersection/union.
* **embedding cosine** — ``embedding_dup_pairs_bucketed``: banded
  random-hyperplane LSH buckets (same fragments as ``similarity.py``)
  → per-bucket pair generation and exact-cosine verify fused in one
  numpy kernel; ``embedding_lsh_candidates`` exposes the candidate
  pairs alone (for recall measurement), and the cross-join
  ``embedding_dup_pairs`` is the test-only exactness baseline. A
  zero-norm vector pairs with nothing in either.

Everything is built from ``functions.dialect`` fragments so the DuckDB
oracles in ``gate.py`` are bit-identical; Spark expressions are
whole-stage-codegen'd built-ins (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.functions import dialect as D
from cs_search_engine_architecture_spark.operators.partitioning import (
    widen_input,
)

NUM_MINHASHES = 8
BAND_SIZE = 1  # 8 bands of 1 signature -> recall-heavy candidates
SIMHASH_BITS = 32


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: (text_md5, n_dups, keep_doc_id)."""
    return df.groupBy(F.md5(text_col).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    widen: bool = True,
) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}) MinHash over word-3-gram shingles.
    Row-local: the signature computation introduces no shuffle (beyond
    the optional narrow-input fan-out). ``widen=False`` for micro-batch
    probes whose frame is broadcast: each broadcast re-executes the
    lineage, so a fan-out exchange on a tiny batch is pure overhead
    (measured +0.4s on dedup_incr_probe)."""
    base = widen_input(df) if widen else df
    toks = base.withColumn(
        "toks", F.expr(D.tokens(D.SPARK, text_col))
    )
    sh = toks.withColumn("shingles", F.expr(D.shingles(D.SPARK)))
    return sh.select(
        "doc_id",
        *[
            F.expr(D.minhash_sig(D.SPARK, "shingles", i)).alias(f"sig_{i}")
            for i in range(num_hashes)
        ],
    )


def band_buckets(
    sigs: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(doc_id, band, bucket) — the exploded LSH banding of a signature
    frame (row-local; the bucket is the banded md5, near-uniform by
    construction). Shared by the self-join candidate generator and the
    persisted incremental-dedup store."""
    num_bands = num_hashes // band_size
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"sig_{b * band_size + j}")
                                    for j in range(band_size)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing ≥1 LSH band bucket.

    ``explode`` to (band, bucket) then self-join on (band, bucket):
    the shuffle key is the banded md5, uniform even under Zipfian text
    duplication, and AQE's skew-join split covers pathological buckets
    (e.g. the empty-document bucket).

    The join is pinned SHUFFLE_HASH: Catalyst's size estimate of the
    exploded bands frame undershoots (text column dropped, 8x explode),
    so it picks a broadcast self-join — which collects the ENTIRE bands
    frame to the driver and computes the signature subplan twice
    (measured 6.8s vs 2.3s at sf0.1; at 100 TB a full-corpus broadcast
    is fatal, while hash-shuffling on the uniform bucket key scales).

    Cross-band dedup is the FIRST-COLLIDING-BAND rule (r6, the
    ``embedding_lsh_candidates`` pattern): each row carries its full
    bucket vector and a pair is kept only in the lowest band whose
    buckets collide — same exact pair set as ``distinct()`` (the
    comparison is on the md5 bucket STRINGS themselves, i.e. exactly
    the join key's equality), but a near-dup-heavy corpus's candidate
    stream (every true-dup pair used to appear once per band — 8x)
    never hits an aggregation or an exchange."""
    num_bands = num_hashes // band_size
    bucket_exprs = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"sig_{b * band_size + j}")
                    for j in range(band_size)
                ],
            )
        ).alias(f"_bk{b}")
        for b in range(num_bands)
    ]
    w = sigs.select("doc_id", *bucket_exprs)
    bands = w.select(
        "doc_id",
        F.array(*[F.col(f"_bk{b}") for b in range(num_bands)]).alias("bks"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"_bk{b}").alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "bks",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    first_band = F.lit(True)
    for j in range(num_bands - 1):
        first_band = first_band & (
            (F.col("a.band") <= F.lit(j))
            | (F.col("a.bks").getItem(j) != F.col("b.bks").getItem(j))
        )
    return (
        a.join(b, ["band", "bucket"])
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )


def build_dedup_store(
    df: DataFrame,
    out_path: str,
    text_col: str = "text",
    num_hashes: int = NUM_MINHASHES,
    band_size: int = BAND_SIZE,
) -> None:
    """Persist the corpus's near-dup signature store for INCREMENTAL
    ingest-time dedup: ``sigs/`` (doc_id, sig_0..k) and ``bands/``
    (doc_id, band, bucket) parquet plus ``meta.json`` pinning the
    banding parameters. The corpus text is tokenized and hashed exactly
    ONCE here; every future ``incremental_dup_pairs`` probe reads only
    these two skinny integer/string tables — at 100 TB that is the
    difference between re-shingling the corpus per ingest batch and
    streaming a table ~1% its size. ``sigs`` is written first and
    ``bands`` derived from the written parquet (one corpus pass total,
    not one per table).

    Layout is SEGMENTED (hive-style ``seg=base`` / ``seg=<id>`` dirs):
    every append lands in its own segment directory with overwrite
    semantics, so a replayed ingest batch (Structured Streaming is
    at-least-once into ``foreachBatch``) rewrites its own segment
    instead of double-appending, and a probe can exclude the probing
    batch's own segment (partition-pruned) to stay replay-deterministic."""
    import json
    import os

    minhash_signatures(df, text_col, num_hashes).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_path, "sigs", "seg=base"))
    spark = df.sparkSession
    sigs = spark.read.parquet(os.path.join(out_path, "sigs", "seg=base"))
    band_buckets(sigs, num_hashes, band_size).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_path, "bands", "seg=base"))
    with open(os.path.join(out_path, "meta.json"), "w") as fh:
        json.dump(
            {
                "num_hashes": num_hashes,
                "band_size": band_size,
                "text_col": text_col,
            },
            fh,
        )


def _dedup_store_meta(store_path: str) -> dict:
    import json
    import os

    with open(os.path.join(store_path, "meta.json")) as fh:
        return json.load(fh)


def _next_manual_segment(store_path: str, subdir: str = "sigs") -> str:
    """``m<N>`` names for manual (non-streaming) appends — disjoint
    from the integer live-ingest segment namespace by construction.
    Shared by every segment-keyed store (dedup sigs, span grams) so
    the slot-allocation policy cannot drift between them."""
    import os

    existing = {
        d.split("=", 1)[1]
        for d in os.listdir(os.path.join(store_path, subdir))
        if d.startswith("seg=")
    }
    n = 0
    while f"m{n}" in existing:
        n += 1
    return f"m{n}"


def dedup_store_append(
    spark, store_path: str, new_df: DataFrame, segment=None
) -> None:
    """FROZEN-PARAMS append — the dedup-store analog of the text tier's
    ``add_docs`` / the vector tier's ``ivf_add``: new docs' signatures
    and bands are computed with the banding parameters baked at build
    time (from ``meta.json``) and appended, so the very next probe sees
    them with no rebuild and no re-hash of the existing corpus.

    ``segment`` keys the write: the rows land in ``seg=<segment>`` with
    OVERWRITE semantics, so a caller that passes a stable id (e.g. the
    streaming batch id) gets idempotent replay. When omitted, a fresh
    ``m<N>`` manual slot is allocated."""
    import os

    meta = _dedup_store_meta(store_path)
    if segment is None:
        segment = _next_manual_segment(store_path)
    sigs = minhash_signatures(
        new_df, meta["text_col"], meta["num_hashes"]
    )
    sig_dir = os.path.join(store_path, "sigs", f"seg={segment}")
    sigs.write.mode("overwrite").parquet(sig_dir)
    written = spark.read.parquet(sig_dir)
    band_buckets(written, meta["num_hashes"], meta["band_size"]).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_path, "bands", f"seg={segment}"))


def dedup_store_delete(spark, store_path: str, ids) -> None:
    """Tombstone store docs (mirrors the index tier's delete_docs): a
    deleted doc must stop counting as a dup ancestor, or re-ingesting
    its text after deletion would be dropped against a doc that no
    longer exists. Appends to ``tombstones/`` — probes anti-join it, so
    duplicate appends are harmless (idempotent under replay) and no
    segment is rewritten. Rebuild the store over ``current_corpus`` to
    physically drop masked rows (the compaction analog).

    Contract: the mask is by doc_id across ALL segments — re-ingesting
    a tombstoned id as a NEW doc needs a store rebuild first (id reuse
    is the update path's business, not the ingest dedup gate's)."""
    import os

    frame = (
        # any single-column id frame, whatever it is named (the same
        # contract as ivf_delete)
        ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
        if isinstance(ids, DataFrame)
        else spark.createDataFrame(
            [(int(i),) for i in ids], "doc_id long"
        )
    )
    frame.write.mode("append").parquet(
        os.path.join(store_path, "tombstones")
    )


def _store_tombstones(spark, store_path: str):
    import os

    p = os.path.join(store_path, "tombstones")
    return spark.read.parquet(p) if os.path.exists(p) else None


def incremental_dup_pairs(
    spark,
    store_path: str,
    batch: DataFrame,
    estimate: bool = True,
    exclude_segment=None,
) -> DataFrame:
    """Ingest-time near-dup probe: (corpus_doc, batch_doc, est_jaccard)
    for every batch doc sharing ≥1 LSH band bucket with a doc already
    in the store (same-id rows excluded — a doc is not a dup of
    itself). The 100 TB shape: the batch side (a micro-batch) is
    exploded to bands and BROADCAST, so candidate generation is ONE
    streamed pass over the persisted skinny ``bands`` table — no corpus
    shuffle, no corpus text access, no recompute of corpus signatures.

    ``estimate=True`` adds the standard MinHash Jaccard estimate — the
    fraction of agreeing signature components — joined in from the
    persisted ``sigs`` (store-resident verification; the candidate set
    is small, so it broadcasts against the sigs table the same way).
    Integer agreement count over one double division: bit-exactly
    mirrorable by the DuckDB oracle.

    ``exclude_segment`` drops that store segment from BOTH the bands
    and sigs reads (partition-pruned — the ``seg`` dir never opens).
    A replayed ingest batch probes with its OWN segment excluded, so
    the probe result is identical whether or not a previous attempt of
    the same batch already appended to the store."""
    import os

    meta = _dedup_store_meta(store_path)
    nh = int(meta["num_hashes"])

    def _seg_filter(df: DataFrame) -> DataFrame:
        if exclude_segment is None:
            return df
        return df.where(
            F.col("seg").cast("string") != str(exclude_segment)
        )

    tomb = _store_tombstones(spark, store_path)

    def _mask(df: DataFrame) -> DataFrame:
        df = _seg_filter(df)
        if tomb is None:
            return df
        return df.join(F.broadcast(tomb), "doc_id", "left_anti")

    store_bands = _mask(
        spark.read.parquet(os.path.join(store_path, "bands"))
    )
    bsigs = minhash_signatures(
        batch, meta["text_col"], nh, widen=False
    )
    bbands = band_buckets(bsigs, nh, int(meta["band_size"]))
    pairs = (
        store_bands.alias("s")
        .join(F.broadcast(bbands.alias("b")), ["band", "bucket"])
        .where(F.col("s.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("s.doc_id").alias("corpus_doc"),
            F.col("b.doc_id").alias("batch_doc"),
        )
        .distinct()
    )
    if not estimate:
        return pairs
    ssigs = _mask(
        spark.read.parquet(os.path.join(store_path, "sigs"))
    )
    agree = sum(
        F.when(
            F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1
        ).otherwise(0)
        for i in range(nh)
    )
    # stream the big persisted sigs table ONCE; the candidate set and
    # the batch sigs are the small sides and broadcast
    return (
        ssigs.alias("sa")
        .join(
            F.broadcast(pairs.alias("p")),
            F.col("p.corpus_doc") == F.col("sa.doc_id"),
        )
        .join(
            F.broadcast(bsigs.alias("sb")),
            F.col("p.batch_doc") == F.col("sb.doc_id"),
        )
        .select(
            "corpus_doc",
            "batch_doc",
            (agree.cast("double") / F.lit(nh)).alias("est_jaccard"),
        )
    )


def dedup_filter_batch(
    spark,
    store_path: str,
    batch: DataFrame,
    threshold: float = 0.9,
    exclude_segment=None,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """The ingest-time dedup gate: the surviving rows of ``batch`` after
    (a) intra-batch EXACT dedup (keep the lowest doc_id per identical
    text — deterministic, so a replayed batch survives identically) and
    (b) dropping every batch doc whose MinHash-estimated Jaccard
    against any store doc is ≥ ``threshold`` (first-seen wins: the
    corpus copy stays, the incoming duplicate is dropped).

    Plan shape: one row-local md5 groupBy over the batch (tiny), the
    broadcast store probe of ``incremental_dup_pairs``, and a broadcast
    anti-join of the (small) dup-id set back onto the batch — no corpus
    shuffle, no corpus text access."""
    meta = _dedup_store_meta(store_path)
    text_col = meta["text_col"]
    keep = (
        batch.groupBy(F.md5(F.col(text_col)).alias("__t"))
        .agg(F.min(doc_id_col).alias(doc_id_col))
        .select(doc_id_col)
    )
    deduped = batch.join(F.broadcast(keep), doc_id_col, "left_semi")
    dup_ids = (
        incremental_dup_pairs(
            spark, store_path, deduped, exclude_segment=exclude_segment
        )
        .where(F.col("est_jaccard") >= threshold)
        .select(F.col("batch_doc").alias(doc_id_col))
        .distinct()
    )
    return deduped.join(F.broadcast(dup_ids), doc_id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — per-bit majority vote over token occurrences
    (bit b of a token = parity of hex char b of md5(token); weight =
    term frequency via occurrence explode). One groupBy(doc_id) with
    map-side partial sums; 32 sum-aggregates, all codegen'd."""
    occ = widen_input(df).select(
        "doc_id",
        F.explode(F.expr(D.tokens(D.SPARK, text_col))).alias("term"),
    )
    sums = occ.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(D.simhash_bit_contrib(D.SPARK, "term", j))).alias(
                f"s_{j}"
            )
            for j in range(bits)
        ]
    )
    packed = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(bits)
    )
    return sums.select("doc_id", packed.cast("long").alias("simhash"))


def simhash_dup_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b) pairs with identical SimHash (Hamming distance 0;
    ``simhash_near_pairs`` generalizes to distance > 0)."""
    sh = simhash(df, text_col)
    a = sh.alias("a").hint("shuffle_hash")
    b = sh.alias("b").hint("shuffle_hash")
    return (
        a.join(b, "simhash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("simhash"),
        )
    )


SIMHASH_BANDS = 4  # 4 bytes of the 32-bit fingerprint


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with SimHash Hamming distance ≤
    ``max_hamming`` — the actual point of SimHash near-dup detection.

    Banded-substring join: the 32-bit fingerprint splits into 4 byte
    bands; by pigeonhole, Hamming ≤ 3 implies at least one UNTOUCHED
    band, so an equi-join per (band, byte) has 100% recall for distance
    ≤ 3 (exhaustiveness is provable, not probabilistic — the DuckDB gate
    oracle cross-checks it against a brute-force Hamming scan). The
    verify stage then computes the exact distance with
    ``bit_count(xor)`` on candidates only.

    100 TB shape: explode ×4 then an equi-join on near-uniform byte
    keys — same skew-free bucketed-join plan as the MinHash LSH path;
    never an all-pairs product. Requires ``max_hamming < SIMHASH_BANDS``
    (guaranteed ≥1 clean band)."""
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"banded join guarantees recall only for max_hamming < "
            f"{SIMHASH_BANDS}"
        )
    sh = simhash(df, text_col)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftrightunsigned("simhash", 8 * j)
                        .bitwiseAND(F.lit(255))
                        .alias("byte"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.byte")
    a, b = bands.alias("a"), bands.alias("b")
    # Catalyst underestimates the exploded bands frame (it sits above an
    # aggregate) and would broadcast the whole corpus — pin, like every
    # other LSH band self-join in this module (CLAUDE.md invariant).
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "byte"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        .cast("int")
        .alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over distinct word-3-gram shingle sets.

    Verification stage: scores only ``candidates`` (default: MinHash-LSH
    pairs), never the cross product — at 100 TB the candidate set is
    ~O(dups), not O(n²). Set semantics (distinct shingles)."""
    if candidates is None:
        candidates = lsh_candidate_pairs(minhash_signatures(df, text_col))
    sh = (
        df.withColumn("toks", F.expr(D.tokens(D.SPARK, text_col)))
        .select(
            "doc_id",
            F.array_distinct(F.expr(D.shingles(D.SPARK))).alias("sh"),
        )
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


EMB_NUM_BANDS = 4
EMB_PLANES_PER_BAND = 4
EMB_DIMS = 64


def _distinct_shingles(df: DataFrame, text_col: str) -> DataFrame:
    return (
        widen_input(df)
        .withColumn("toks", F.expr(D.tokens(D.SPARK, text_col)))
        .select(
            "doc_id",
            F.array_distinct(F.expr(D.shingles(D.SPARK))).alias("sh"),
        )
    )


def containment_candidates(
    df: DataFrame, text_col: str = "text", tau: float = 0.8
) -> DataFrame:
    """PREFIX-FILTER candidate pairs for set-containment ≥ ``tau``
    (the SSJoin/PPJoin prefix principle): order each doc's distinct
    shingles by GLOBAL rarity (df asc, shingle asc — canonical, both
    engines agree); if ``|A∩B| ≥ tau·|A|`` then B misses at most
    ``(1-tau)·|A|`` of A's shingles, so by pigeonhole B contains at
    least one of A's first ``floor((1-tau)·|A|) + 1`` shingles.
    Candidates = (prefix shingle of A) ⋈ (any shingle of B) — COMPLETE
    by the theorem (the gate oracle is brute force over all pairs,
    which only matches because no qualifying pair can be missed).

    MinHash-LSH candidates are the WRONG generator here: min-hash
    collision probability tracks Jaccard, and the whole point of
    containment is the near-subset pairs whose Jaccard is tiny.

    100 TB shape: the probe side explodes only prefixes, which are the
    globally RAREST shingles by construction — the join key
    distribution is anti-skewed; the build side is the linear
    (doc, shingle) list. One row_number window per doc (shuffle by
    doc_id) + one equi-join."""
    from pyspark.sql.window import Window

    sh_pairs = _distinct_shingles(df, text_col).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    freq = sh_pairs.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    sizes = sh_pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("c"), F.asc("shingle"))
    ranked = sh_pairs.join(freq, "shingle").withColumn(
        "rk", F.row_number().over(w)
    )
    # prefix size = sz - ceil(tau*sz) + 1. The 1e-9 nudge guards float
    # round-UP of tau*sz (e.g. 0.8*100 -> 80.00000000000001 -> ceil 81
    # would shrink the prefix and break completeness); rounding DOWN
    # only enlarges the prefix, which is merely extra candidates.
    prefix = ranked.join(sizes, "doc_id").where(
        F.col("rk")
        <= F.col("sz")
        - F.ceil(F.lit(tau) * F.col("sz") - F.lit(1e-9)).cast("int")
        + F.lit(1)
    )
    a = prefix.select(F.col("doc_id").alias("pa"), "shingle")
    b = sh_pairs.select(F.col("doc_id").alias("pb"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("pa") != F.col("pb"))
        .select(
            F.least("pa", "pb").alias("doc_a"),
            F.greatest("pa", "pb").alias("doc_b"),
        )
        .distinct()
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_containment: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, containment_a, containment_b) over distinct
    word-3-gram shingle sets, where ``containment_x = |A∩B| / |X|``.

    Containment catches NEAR-SUBSET duplication (a document embedded in
    a longer one) that symmetric Jaccard misses: a 100-shingle doc fully
    contained in a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment_a = 1.0 — the standard supplement to Jaccard in
    training-data dedup. Verification runs over PREFIX-FILTER
    candidates (``containment_candidates`` — complete for the
    threshold, never all pairs); a pair passes if EITHER side's
    containment clears it."""
    if candidates is None:
        candidates = containment_candidates(df, text_col, min_containment)
    sh = _distinct_shingles(df, text_col)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont_a = F.when(F.size("sh_a") > 0, inter / F.size("sh_a")).otherwise(
        F.lit(0.0)
    )
    cont_b = F.when(F.size("sh_b") > 0, inter / F.size("sh_b")).otherwise(
        F.lit(0.0)
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
        )
        .where(
            (F.col("containment_a") >= min_containment)
            | (F.col("containment_b") >= min_containment)
        )
    )


def embedding_lsh_candidates(
    emb: DataFrame,
    num_bands: int = EMB_NUM_BANDS,
    planes_per_band: int = EMB_PLANES_PER_BAND,
    dims: int = EMB_DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 random-hyperplane LSH
    bucket across ``num_bands`` independent plane families (band b uses
    planes [b·P, (b+1)·P) of the deterministic md5 plane source — the
    same fragments as ``similarity.lsh_buckets``).

    This is the MinHash-LSH shape applied to vectors: explode to
    (band, bucket), self-join per band. Bucket keys are sign-bit
    patterns (near-uniform on centered data), so the shuffle is
    skew-free; recall for cosine ≥ c is 1-(1-((1-θ/π)^P))^B per the
    hyperplane-LSH collision bound, tunable via bands.

    Pair dedup across bands is the FIRST-COLLIDING-BAND rule, not a
    ``distinct()``: each row carries its full bucket vector, and a pair
    is emitted only from the lowest band where the buckets collide
    (for every earlier band the buckets must differ). Same exact pair
    set, but the candidate stream — the quadratic row count of the
    whole operator — never hits an aggregation or an exchange; it
    pipelines straight into the verify."""
    bucket_cols = [
        F.expr(
            D.lsh_bucket(
                D.SPARK, vec_col, planes_per_band, dims,
                offset=b * planes_per_band,
            )
        )
        .cast("int")
        .alias(f"_b{b}")
        for b in range(num_bands)
    ]
    w = emb.select(F.col(id_col).alias("id"), *bucket_cols)
    bands = w.select(
        "id",
        F.array(*[F.col(f"_b{b}") for b in range(num_bands)]).alias("bks"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"_b{b}").alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bks", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    first_band = F.lit(True)
    for j in range(num_bands - 1):
        first_band = first_band & (
            (F.col("a.band") <= F.lit(j))
            | (F.col("a.bks").getItem(j) != F.col("b.bks").getItem(j))
        )
    return (
        a.join(b, ["band", "bucket"])
        .where((F.col("a.id") < F.col("b.id")) & first_band)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def embedding_dup_pairs_bucketed(
    emb: DataFrame,
    min_cosine: float = 0.95,
    num_bands: int = EMB_NUM_BANDS,
    planes_per_band: int = EMB_PLANES_PER_BAND,
    dims: int = EMB_DIMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) near-dup pairs, LSH-bucketed candidates →
    exact-cosine verify. THE scale path: candidate generation is
    banded bucketing (O(collisions), not O(n²)); the verifier scores
    candidates only — the same two-stage shape as MinHash-LSH →
    Jaccard for text.

    The per-bucket pair generation + first-colliding-band dedup +
    exact-cosine verify run fused inside ONE ``applyInPandas`` numpy
    kernel per (band, bucket) group. The quadratic candidate stream —
    tens of millions of pairs from an 80k-row band frame — never
    exists as JVM rows: only the ~80k grouped input rows cross Arrow,
    and only the passing pairs come back. The cosine is the SAME strict left fold as
    ``dialect.dot_product`` (a ``for d: acc += A[:,d]*B[:,d]`` loop
    over a 0.0-seeded accumulator is that fold, vectorized across
    pairs; norms fold the same way), float32-cast like the gate — the
    DuckDB oracle matches bit-for-bit (checked by the
    ``dedup_embedding_pairs`` gate). A zero-norm vector pairs with
    nothing (its cosine is 0/0 = NaN, which fails the threshold), the
    same contract as ``embedding_dup_pairs``.

    Measured (r6, sf1.0 = 20k × 64-dim, local[32]): a join-composed
    candidates → higher-order-function verify took 54s, this kernel
    ~4s; the HOF dot is interpreted per pair, the kernel is
    memory-bandwidth-bound numpy."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bucket_cols = [
        F.expr(
            D.lsh_bucket(
                D.SPARK, vec_col, planes_per_band, dims,
                offset=b * planes_per_band,
            )
        )
        .cast("int")
        .alias(f"_b{b}")
        for b in range(num_bands)
    ]
    w = widen_input(emb).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *bucket_cols
    )
    bands = w.select(
        "id",
        "v",
        *[F.col(f"_b{b}") for b in range(num_bands)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"_b{b}").alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "v", *[F.col(f"_b{b}") for b in range(num_bands)],
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )

    # explicit user-numbered repartition: the group shuffle's INPUT is a
    # few MB, but each group fans out quadratically — AQE's byte-based
    # coalescing would collapse it to 1-3 tasks (measured). The key
    # space is num_bands·2^planes wide; partition count follows the
    # session's shuffle sizing, not a local literal.
    n_part = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    grouped = bands.repartition(n_part, "band", "bucket").groupBy(
        "band", "bucket"
    )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    ndims, min_cos, nb = dims, float(min_cosine), num_bands
    _empty = {"id_a": np.array([], dtype=np.int64),
              "id_b": np.array([], dtype=np.int64),
              "cos": np.array([], dtype=np.float64)}

    def _bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(_empty)
        band = int(pdf["band"].iloc[0])
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        # transposed layout: each dim's gather reads a cache-resident
        # m-length row instead of striding a (pairs x dims) matrix
        # (13x measured on a 1.3M-pair group)
        VT = np.ascontiguousarray(
            np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64).T
        )
        # strict left-fold norm (== dialect.l2_norm: 0.0-seeded acc)
        nacc = np.zeros(m)
        for d in range(ndims):
            nacc = nacc + VT[d] * VT[d]
        nrm = np.sqrt(nacc)
        prev = (
            np.stack(
                [pdf[f"_b{b}"].to_numpy()[order] for b in range(band)]
            )
            if band > 0
            else None
        )
        out_a: list = []
        out_b: list = []
        out_c: list = []
        ROWS = max(1, (1 << 21) // m)  # ~2M pairs per outer block
        for i0 in range(0, m - 1, ROWS):
            iend = min(i0 + ROWS, m - 1)
            counts = m - 1 - np.arange(i0, iend)
            ia = np.repeat(np.arange(i0, iend), counts)
            ja = np.concatenate(
                [np.arange(i + 1, m) for i in range(i0, iend)]
            )
            if ia.size == 0:
                continue
            keep = ids[ia] < ids[ja]
            if prev is not None:
                for bp in range(band):
                    keep &= prev[bp][ia] != prev[bp][ja]
            ia, ja = ia[keep], ja[keep]
            if ia.size == 0:
                continue
            acc = np.zeros(ia.shape[0])
            for d in range(ndims):
                acc += VT[d][ia] * VT[d][ja]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (acc / (nrm[ia] * nrm[ja])).astype(
                    np.float32
                ).astype(np.float64)
            sel = cos >= min_cos
            out_a.append(ids[ia][sel])
            out_b.append(ids[ja][sel])
            out_c.append(cos[sel])
        if not out_a:
            return pd.DataFrame(_empty)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return grouped.applyInPandas(_bucket_pairs, schema)


def embedding_dup_pairs(
    emb: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine ≥ threshold via an exhaustive
    cross join. TEST/SMALL-INPUT ONLY — the O(n²) exactness baseline for
    measuring ``embedding_dup_pairs_bucketed``'s recall; every
    production path uses the bucketed variant. Cosine is the shared
    double-precision left fold, float32-cast (gate policy).

    A zero-norm vector pairs with nothing: its cosine is undefined, so
    it is dropped before the cross join (under ANSI SQL the division
    would otherwise raise DIVIDE_BY_ZERO)."""
    withn = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(D.l2_norm(D.SPARK, vec_col)).alias("nrm"),
    ).where(F.col("nrm") > 0)
    a = withn.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = withn.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = (
        F.expr(D.dot_product(D.SPARK, "va", "vb"))
        / (F.col("na") * F.col("nb"))
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cos.cast("float").cast("double").alias("cos"),
        )
        .where(F.col("cos") >= min_cosine)
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(doc_id, cluster_id) connected components over near-dup ``pairs``;
    ``cluster_id`` is the smallest doc_id in the component — the
    canonical "keep one representative per duplicate cluster" step that
    follows pair generation in every training-data dedup pipeline.

    Iterative min-label propagation: each round every node takes the
    minimum label in its closed neighborhood, converging in O(graph
    diameter) rounds. Near-dup clusters are near-cliques (diameter 2-3
    in practice), so 3-4 rounds settle real corpora; ``max_iters`` only
    bounds adversarial path graphs. Each round is one broadcast-free
    shuffle on the edge key; ``localCheckpoint`` truncates the plan
    lineage so round N's DAG does not replay rounds 1..N-1 (the classic
    iterative-DataFrame trap). Convergence is detected distributively
    (a one-row count of changed labels, not a data collect)."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        neigh = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label").alias("slabel")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("slabel").alias("nlabel"))
        )
        nxt = (
            labels.join(neigh, labels["node"] == neigh["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = nxt.where(F.col("chg")).limit(1).count()
        labels = nxt.select("node", "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def cluster_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """(cluster_id, keep_doc_id) — per near-dup cluster, the winner by
    (score desc, doc_id asc). Production pipelines keep the BEST copy
    of a duplicate cluster (longest/cleanest/highest-quality), not the
    lowest id; this is the policy step between ``dup_clusters`` and the
    survivor anti-join.

    Shape: the winner is an AGGREGATE ``max(struct(score, -doc_id))``
    per cluster — partial-combines map-side, so a degenerate giant
    cluster (boilerplate near-clique) never lands in one window
    partition (the same skew rule as the span keep-first aggregate).
    Scores are compared, never accumulated — no float-fold discipline
    needed."""
    joined = clusters.join(
        scores.select(
            F.col(id_col).alias("doc_id"),
            F.col(score_col).cast("double").alias("_score"),
        ),
        "doc_id",
    )
    won = joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("_score"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("w")
    )
    return won.select(
        "cluster_id", (-F.col("w.neg_id")).alias("keep_doc_id")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the standard pretraining hygiene pass
    (GPT-3's 13-gram filter shape): flag every training doc whose word
    n-gram SET overlaps the eval/benchmark set's n-grams.

    Returns (doc_id, contaminated_ngrams, contaminated) for every doc:
    the count of the doc's DISTINCT n-grams that appear anywhere in the
    benchmark, and a boolean flag. Integer-exact (md5-keyed set
    intersection — no float anywhere).

    100 TB shape: the benchmark side (eval suites — tiny next to the
    corpus) reduces to a DISTINCT md5 set and BROADCASTS; the corpus
    side is a row-local shingle explode + per-doc distinct + broadcast
    semi-join + count — one corpus-sized shuffle on (doc_id, gram),
    never a corpus-vs-corpus join. Uses the same ``dialect.shingles``
    fragment as the MinHash path, so a DuckDB oracle replays it
    verbatim."""
    grams = D.shingles(D.SPARK, "__toks", n)
    bench_set = (
        benchmark.select(
            F.expr(D.tokens(D.SPARK, bench_text_col)).alias("__toks")
        )
        .select(F.explode(F.expr(grams)).alias("g"))
        .select(F.md5("g").alias("gmd5"))
        .distinct()
    )
    doc_grams = (
        widen_input(docs).select(
            "doc_id", F.expr(D.tokens(D.SPARK, text_col)).alias("__toks")
        )
        .select("doc_id", F.explode(F.expr(grams)).alias("g"))
        .select("doc_id", F.md5("g").alias("gmd5"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_set), "gmd5")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("contaminated_ngrams"),
            (F.coalesce("contaminated_ngrams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
