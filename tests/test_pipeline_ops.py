"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing.

Two layers of checking:
1. semantic unit tests on a hand-built dup-heavy corpus (known dups
   must be found; known non-dups must not);
2. Spark-vs-DuckDB parity for the fragment-generated expressions (the
   same mechanism the driver's sf0.01 gate uses) on that corpus.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.functions import dialect as D
from cs_search_engine_architecture_spark.operators import (
    dedup as DD,
    multimodal as MM,
    similarity as SIM,
    text_analysis as TA,
)

DOCS = [
    # (doc_id, text) — 0/1 near-dups, 2 exact dup of 0, 3/4 unrelated
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "completely different text about spark shuffle partitions and joins"),
    (4, "el rapido zorro marron salta sobre el perro perezoso de la granja"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def duck(spark, docs):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    return con


def _parity(sdf, con, sql):
    srows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert srows == drows


# ----------------------------------------------------------- dedup

def test_exact_dup_groups(docs):
    rows = {r["text_md5"]: r for r in DD.exact_dup_groups(docs).collect()}
    dup = [r for r in rows.values() if r["n_dups"] == 2]
    assert len(dup) == 1 and dup[0]["keep_doc_id"] == 0


def test_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in DD.lsh_candidate_pairs(DD.minhash_signatures(docs)).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_jaccard_scores(docs):
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, min_jaccard=0.1).collect()
    }
    assert rows[(0, 2)] == 1.0  # exact dup
    assert 0.5 < rows[(0, 1)] < 1.0  # one-word difference
    assert (0, 3) not in rows


def test_simhash_exact_dup_collides(docs):
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert sh[0] == sh[2]
    assert sh[0] != sh[3]
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in DD.simhash_dup_pairs(docs).collect()
    }
    assert (0, 2) in pairs


def test_embedding_dup_pairs(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),  # near-dup of 0
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in DD.embedding_dup_pairs(emb, min_cosine=0.95).collect()
    }
    assert set(pairs) == {(0, 1)} and pairs[(0, 1)] > 0.99


def test_embedding_zero_norm_pairs_with_nothing(spark):
    """One zero-norm contract for both embedding near-dup paths: a
    zero vector's cosine is undefined, so it pairs with nothing (the
    exhaustive reference must not die on an ANSI divide-by-zero)."""
    zero = [0.0] * 64
    unit = [1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(1, zero), (2, zero), (3, unit), (4, unit)],
        "vec_id long, embedding array<float>",
    )
    for pairs in (DD.embedding_dup_pairs_bucketed, DD.embedding_dup_pairs):
        got = sorted(
            (r["id_a"], r["id_b"], r["cos"])
            for r in pairs(emb, 0.9).collect()
        )
        assert got == [(3, 4, 1.0)], (pairs.__name__, got)


def test_containment_catches_subset_dup(spark):
    """A short doc fully embedded in a long one: Jaccard is tiny but
    containment_a = 1.0 — the asymmetric near-subset case."""
    short = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(60))
    rows = [(0, short), (1, short + " " + filler), (2, filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in DD.ngram_containment_pairs(df, min_containment=0.9).collect()
    }
    assert (0, 1) in got
    ca, cb = got[(0, 1)]
    assert ca == pytest.approx(1.0) and cb < 0.5
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(df, min_jaccard=0.0).collect()
    }
    assert jac.get((0, 1), 0.0) < 0.5  # jaccard alone would miss it


def test_incremental_dedup_store(spark, docs, tmp_path):
    """Persisted signature store: build once over the corpus, probe an
    ingest batch without re-hashing the corpus, append with frozen
    params, and see the appended docs in the very next probe."""
    store = str(tmp_path / "dedup_store")
    DD.build_dedup_store(docs, store)

    # batch doc 100 = exact text of corpus doc 0 -> est_jaccard 1.0 vs
    # docs 0 and 2; batch doc 101 unrelated -> no candidate rows
    batch = spark.createDataFrame(
        [(100, DOCS[0][1]), (101, "unrelated nonsense zyzzyva qwerty")],
        "doc_id long, text string",
    )
    got = {
        (r["corpus_doc"], r["batch_doc"]): r["est_jaccard"]
        for r in DD.incremental_dup_pairs(spark, store, batch).collect()
    }
    assert got[(0, 100)] == 1.0 and got[(2, 100)] == 1.0
    assert not any(b == 101 for _, b in got)

    # probing a batch whose ids are already stored excludes self-pairs
    self_probe = DD.incremental_dup_pairs(
        spark, store, docs.where(F.col("doc_id") == 3), estimate=False
    ).collect()
    assert all(r["corpus_doc"] != r["batch_doc"] for r in self_probe)

    # frozen-params append: the appended doc is visible to the next
    # probe as a corpus-side candidate
    DD.dedup_store_append(spark, store, batch, segment=42)
    next_batch = spark.createDataFrame(
        [(200, DOCS[0][1])], "doc_id long, text string"
    )
    got2 = {
        (r["corpus_doc"], r["batch_doc"]): r["est_jaccard"]
        for r in DD.incremental_dup_pairs(spark, store, next_batch).collect()
    }
    assert got2[(100, 200)] == 1.0 and got2[(0, 200)] == 1.0

    # replay determinism: excluding a segment hides exactly its docs
    got3 = {
        (r["corpus_doc"], r["batch_doc"])
        for r in DD.incremental_dup_pairs(
            spark, store, next_batch, exclude_segment=42
        ).collect()
    }
    assert (100, 200) not in got3 and (0, 200) in got3

    # segment-keyed append is an overwrite (idempotent on replay)
    DD.dedup_store_append(spark, store, batch, segment=42)
    again = DD.incremental_dup_pairs(spark, store, next_batch).collect()
    assert len(again) == len(got2)  # no duplicate pair rows


def test_dedup_filter_batch(spark, docs, tmp_path):
    """Ingest gate: intra-batch exact dups collapse to the lowest id,
    near-dups of stored docs are dropped, novel docs survive."""
    store = str(tmp_path / "store")
    DD.build_dedup_store(docs, store)
    batch = spark.createDataFrame(
        [
            (100, "a wholly novel document about nothing else"),
            (101, "a wholly novel document about nothing else"),  # intra dup
            (102, DOCS[0][1]),  # exact dup of stored doc 0
            (103, "another genuinely unique piece of text here"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in DD.dedup_filter_batch(spark, store, batch).collect()
    )
    assert kept == [100, 103]


def test_simhash_near_pairs_matches_bruteforce(docs):
    """Banded-byte join recall is provably total for Hamming ≤ 3
    (pigeonhole over 4 byte bands) — cross-check against brute force."""
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    want = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in DD.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert got == want
    assert any(h == 0 for _, _, h in got)  # the exact dup (0, 2)
    with pytest.raises(ValueError):
        DD.simhash_near_pairs(docs, max_hamming=4)


def test_embedding_bucketed_dedup(spark):
    """Bucketed LSH candidates find planted near-dups while generating
    far fewer than n² candidate pairs."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)]
    # plant near-dups: 200+i is a tiny perturbation of i (i < 5)
    for i in range(5):
        base = rows[i][1]
        rows.append((200 + i, [x + rng.gauss(0, 0.01) for x in base]))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    n = len(rows)
    cand = DD.embedding_lsh_candidates(emb)
    n_cand = cand.count()
    assert n_cand < n * (n - 1) // 2 / 4, (
        f"{n_cand} candidates is not sub-quadratic"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs_bucketed(emb, min_cosine=0.99).collect()
    }
    assert {(i, 200 + i) for i in range(5)} <= pairs
    # verify stage agrees with the exhaustive baseline on the planted set
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs(emb, min_cosine=0.99).collect()
    }
    assert pairs <= exact


# ------------------------------------------------------- similarity

def test_brute_force_vs_lsh_topk(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qvec = rows[0][1]
    exact = SIM.brute_force_topk(
        emb.where("vec_id != 0"), qvec, k=5
    ).collect()
    assert len(exact) == 5
    assert all(
        exact[i]["cos"] >= exact[i + 1]["cos"] for i in range(len(exact) - 1)
    )
    approx = SIM.lsh_topk(emb.where("vec_id != 0"), qvec, k=5).collect()
    # LSH candidates are a strict subset: every returned cos must appear
    # in the exact full ranking, and scores agree where ids overlap
    exact_all = {
        r["id"]: r["cos"]
        for r in SIM.cosine_scores(emb.where("vec_id != 0"), qvec).collect()
    }
    for r in approx:
        assert abs(exact_all[r["id"]] - r["cos"]) < 1e-9


def test_persisted_ivf_index(spark, tmp_path):
    """build_ivf_index + ivf_search: the probe must be pure partition
    pruning (no full-table assignment at query time), agree with the
    ad-hoc ivf_topk, and converge to exact brute force as n_probe→C."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.kmeans_centroids(emb, num_centroids=8, sample=300)
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, path, cents)

    qvec = rows[1][1]
    got = SIM.ivf_search(spark, path, qvec, k=5, n_probe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan
    adhoc = SIM.ivf_topk(emb, qvec, cents, k=5, n_probe=2).collect()
    assert [(r["id"], r["cos"]) for r in got.collect()] == [
        (r["id"], r["cos"]) for r in adhoc
    ]
    # full probe == exact brute force
    full = SIM.ivf_search(spark, path, qvec, k=5, n_probe=len(cents)).collect()
    exact = SIM.brute_force_topk(emb, qvec, k=5).collect()
    assert [(r["id"], r["cos"]) for r in full] == [
        (r["id"], r["cos"]) for r in exact
    ]


def test_bucket_of_matches_spark(spark):
    emb = spark.createDataFrame(
        [(0, [float(i % 7) - 3.0 for i in range(64)])],
        "vec_id long, embedding array<float>",
    )
    spark_bucket = SIM.lsh_buckets(emb).collect()[0]["bucket"]
    assert spark_bucket == SIM.bucket_of(
        [float(i % 7) - 3.0 for i in range(64)]
    )


# ----------------------------------------------------- text analysis

def test_lang_id(docs):
    langs = {r["doc_id"]: r["lang_pred"] for r in TA.language_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[4] == "es"
    assert langs[5] == "und"


def test_quality_scores(docs):
    rows = {r["doc_id"]: r for r in TA.quality_scores(docs).collect()}
    assert rows[0]["n_tokens"] == 13
    assert rows[0]["stopword_ratio"] == pytest.approx(3 / 13)  # the,the,the
    assert rows[5]["n_tokens"] == 0 and rows[5]["alpha_ratio"] == 0.0
    assert 0.75 < rows[0]["alpha_ratio"] < 1.0  # spaces lower it


def test_token_counts(docs):
    rows = {r["doc_id"]: r for r in TA.token_counts(docs).collect()}
    assert rows[0]["ws_tokens"] == 13
    assert rows[0]["distinct_terms"] == 11  # 'the' x3
    assert rows[5]["ws_tokens"] == 0


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in TA.fingerprints(df).collect()}
    assert fp[0] == fp[2]
    assert fp[0] != fp[1]  # same bag of tokens, different order


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta, gamma!"), (1, "  alpha   BETA gamma  ")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in TA.fingerprints(df).collect()}
    assert fp[0] == fp[1]


# -------------------------------------------------------- multimodal

def test_blob_table_schema(docs):
    blobs = MM.to_blob_table(docs)
    kinds = dict(blobs.dtypes)
    assert kinds["payload"] == "binary"
    row = blobs.where("doc_id = 0").collect()[0]
    assert row["n_bytes"] == len(DOCS[0][1])
    assert len(row["payload_sha256"]) == 64


def test_decode_features(docs):
    feats = {
        r["doc_id"]: r for r in MM.decode_features(MM.to_blob_table(docs)).collect()
    }
    r0 = feats[0]
    text = DOCS[0][1]
    assert r0["n_bytes"] == len(text)
    assert r0["fake_width"] == 1 + len(text) % 64
    assert r0["mean_byte"] == pytest.approx(
        sum(text.encode()) / len(text)
    )
    assert len(r0["frame_hashes"]) == 4
    # empty payload row survives the batch path
    assert feats[5]["mean_byte"] == 0.0 and feats[5]["frame_hashes"] == []


def test_frame_sample(docs):
    frames = MM.frame_sample(MM.to_blob_table(docs), num_frames=2).collect()
    per_doc: dict[int, int] = {}
    for r in frames:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert per_doc[0] == 2 and 5 not in per_doc


def test_resize_is_marked_stub(docs):
    """With no codec hook registered, compressed-format resize fails at
    execution with the honest NotImplementedError (now raised inside
    the executor batch, so it surfaces through the Spark job)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException, Exception)) as ei:
        MM.resize_stub(MM.to_blob_table(docs), 224, 224).collect()
    assert "no decode hook registered" in str(ei.value)


def test_resize_decode_hook_injection(docs):
    """A codec-bearing deployment registers one callable and gets
    compressed-format resize through the unchanged operator: inject a
    fake 'image/fake' decoder (payload bytes -> deterministic 8x8 RGB),
    resize to 4x4, and check the output payloads are valid BMPs of the
    target size. The BMP path (resize_bmp_images) needs no hook."""
    import numpy as np

    def fake_decode(payload: bytes):
        base = (len(payload) % 251)
        img = np.arange(8 * 8 * 3, dtype=np.uint32).reshape(8, 8, 3)
        return ((img + base) % 256).astype(np.uint8)

    MM.register_decode_hook("image/fake", fake_decode)
    try:
        out = MM.resize_stub(MM.to_blob_table(docs), 4, 4).collect()
        assert out, "hooked resize returned nothing"
        for r in out:
            pixels = MM.decode_bmp(bytes(r["payload"]))
            assert pixels.shape == (4, 4, 3)
        # hook output matches driving the same decode+resample directly
        row0 = MM.to_blob_table(docs).where("doc_id = 0").collect()[0]
        want = MM._resample_nearest(
            fake_decode(bytes(row0["payload"])), 4, 4
        )
        got = MM.decode_bmp(
            bytes({r["doc_id"]: r for r in out}[0]["payload"])
        )
        assert (want == got).all()
    finally:
        MM.unregister_decode_hook("image/fake")


# ---------------------------------------------- Spark/DuckDB parity

def test_parity_fingerprint(docs, duck):
    _parity(
        TA.fingerprints(docs),
        duck,
        f"WITH t AS (SELECT doc_id, {D.tokens(D.DUCKDB)} AS toks FROM documents) "
        f"SELECT doc_id, {D.rolling_fingerprint(D.DUCKDB)} AS f FROM t",
    )


def test_parity_minhash(docs, duck):
    sig_cols = ", ".join(
        D.minhash_sig(D.DUCKDB, "shingles", i) + f" AS sig_{i}" for i in range(8)
    )
    _parity(
        DD.minhash_signatures(docs),
        duck,
        f"WITH t AS (SELECT doc_id, {D.tokens(D.DUCKDB)} AS toks FROM documents), "
        f"sh AS (SELECT doc_id, {D.shingles(D.DUCKDB)} AS shingles FROM t) "
        f"SELECT doc_id, {sig_cols} FROM sh",
    )


def test_parity_lang_quality(docs, duck):
    _parity(
        TA.language_id(docs),
        duck,
        f"WITH t AS (SELECT doc_id, {D.tokens(D.DUCKDB)} AS toks FROM documents) "
        f"SELECT doc_id, {TA.lang_id_sql(D.DUCKDB)} AS lang FROM t",
    )
    q = TA.quality_sql(D.DUCKDB)
    _parity(
        TA.quality_scores(docs),
        duck,
        f"WITH t AS (SELECT doc_id, text, {D.tokens(D.DUCKDB)} AS toks FROM documents) "
        "SELECT doc_id, " + ", ".join(f"{e} AS {k}" for k, e in q.items()) + " FROM t",
    )


# ------------------------------------------------ persisted ANN index

def test_persisted_ann_index_matches_adhoc(spark):
    import shutil

    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = "/tmp/spark_sea_test_ann_idx"
    shutil.rmtree(path, ignore_errors=True)
    SIM.build_ann_index(emb, path)

    qvec = rows[5][1]
    persisted = [
        (r["id"], r["cos"])
        for r in SIM.ann_search(spark, path, qvec, k=5).collect()
    ]
    adhoc = [
        (r["id"], r["cos"]) for r in SIM.lsh_topk(emb, qvec, k=5).collect()
    ]
    assert persisted == adhoc
    assert persisted[0][0] == 5  # the query vector itself tops its bucket

    # the probe must prune partitions: only one bucket directory is read.
    # bucket is a partition column (absent from ReadSchema), so the
    # (bucket = 3) predicate in the scan IS a partition filter — the
    # "PartitionFilters:" label itself can fall to toString truncation.
    import re

    probe = spark.read.parquet(path).where("bucket = 3")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\(bucket#\d+ = 3\)", plan), plan
    assert "bucket" not in plan.split("ReadSchema:")[1], plan


def test_multiprobe_bucket_sequence_is_cheapest_first():
    """multiprobe_buckets yields exactly the n cheapest buckets by flip
    cost (sum of |plane dot| over flipped planes), base bucket first,
    no duplicates — checked exhaustively against all 2^8 buckets."""
    import random

    rng = random.Random(3)
    for _ in range(25):
        q = [rng.gauss(0, 1) for _ in range(16)]
        dots = SIM._plane_dots(q, 8)
        base = SIM.bucket_of(q)
        got = SIM.multiprobe_buckets(q, 40, 8)
        assert got[0] == base
        assert len(set(got)) == len(got)

        def cost(b):
            m = b ^ base
            return sum(abs(dots[p]) for p in range(8) if m >> p & 1)

        costs = [cost(b) for b in got]
        assert all(
            costs[i] <= costs[i + 1] + 1e-12 for i in range(len(costs) - 1)
        )
        expected = sorted(cost(b) for b in range(256))[:40]
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(sorted(costs), expected)
        )
        # n=1 degenerates to the plain single-bucket probe
        assert SIM.multiprobe_buckets(q, 1, 8) == [base]


def test_multiprobe_full_sweep_equals_brute_force(spark):
    """ann_search probing ALL 2^8 buckets is a full scan — it must
    reproduce exact brute-force top-k (scores and order), pinning that
    multi-probe only ever widens the candidate set, never rescores."""
    import random

    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = "/tmp/spark_sea_test_ann_idx_mp"
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    SIM.build_ann_index(emb, path)

    qvec = rows[9][1]
    swept = [
        (r["id"], round(r["cos"], 6))
        for r in SIM.ann_search(
            spark, path, qvec, k=7, n_probe_buckets=256
        ).collect()
    ]
    brute = [
        (r["id"], round(r["cos"], 6))
        for r in SIM.brute_force_topk(emb, qvec, k=7).collect()
    ]
    assert swept == brute
    # and a partial probe is a subset of the index, never empty for the
    # query's own vector (its bucket is always probed first)
    part = SIM.ann_search(spark, path, qvec, k=7, n_probe_buckets=4).collect()
    assert any(r["id"] == 9 for r in part)


# ------------------------------------------------------------- IVF ANN

def test_ivf_topk_recall_and_exactness(spark):
    import random

    import numpy as np

    rng = random.Random(21)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.kmeans_centroids(emb, num_centroids=8, iters=5)
    assert cents.shape == (8, 64)

    qvec = rows[7][1]
    exact = {
        r["id"]: r["cos"] for r in SIM.cosine_scores(emb, qvec).collect()
    }
    # full probe == exact brute force (same scores, same order)
    full = [
        (r["id"], r["cos"])
        for r in SIM.ivf_topk(emb, qvec, cents, k=10, n_probe=8).collect()
    ]
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert full == want

    # narrow probe: a subset of the exact ranking with matching scores,
    # containing the query vector itself (its own cell is always probed)
    approx = SIM.ivf_topk(emb, qvec, cents, k=10, n_probe=2).collect()
    assert approx[0]["id"] == 7
    for r in approx:
        assert abs(exact[r["id"]] - r["cos"]) < 1e-9


def test_ivf_assignment_is_nearest_centroid(spark):
    import numpy as np

    rows = [(0, [0.0] * 64), (1, [10.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = np.array([[0.0] * 64, [10.0] * 64])
    got = {r["id"]: r["cell"] for r in SIM.ivf_assign(emb, cents).collect()}
    assert got == {0: 0, 1: 1}


def test_repetition_scores(spark, duck):
    rows = [
        (0, "unique line one\nunique line two\nunique line three"),
        (1, "same line\nsame line\nsame line"),
        (2, "a b a b a b a b"),  # heavy bigram repetition
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TA.repetition_scores(df).collect()}
    assert got[0]["dup_line_frac"] == 0.0
    assert got[1]["dup_line_frac"] == pytest.approx(2 / 3)
    # "a b" x4 + "b a" x3 = 7 bigrams, 2 distinct
    assert got[2]["dup_bigram_frac"] == pytest.approx(1 - 2 / 7)
    assert got[3]["dup_word_frac"] == 0.0
    # Spark-vs-DuckDB parity on the dup-heavy module corpus
    from cs_search_engine_architecture_spark.gate import (
        SQL_REPETITION_SCORES,
    )

    sdf = TA.repetition_scores(
        spark.createDataFrame(DOCS, "doc_id long, text string")
    )
    _parity(sdf, duck, SQL_REPETITION_SCORES)


def test_dup_clusters_components(spark):
    """Min-label propagation finds exact connected components: a path
    graph (worst-case diameter, forces multiple rounds), a triangle
    with a pendant, and singleton-free output (docs not in any pair
    don't appear)."""
    from cs_search_engine_architecture_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        # path 1-2-3-4-5-6, clique {20,21,22} + pendant 23, pair {30,31}
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (20, 21), (21, 22), (20, 22), (22, 23), (30, 31)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
            20: 20, 21: 20, 22: 20, 23: 20, 30: 30, 31: 30}
    assert got == want


def test_upsample_to_mixture(spark):
    """Repeat-count resampling: whole copies are exact per the integer
    plan, fractional keeps are deterministic, non-target strata drop."""
    rows = [(i, "fr" if i < 4 else "en") for i in range(16)] + [
        (99, "zz")
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    shares = {"fr": 0.5, "en": 0.5}
    plan = TA.mixture_copy_plan(df, "lang", shares)
    # T=16, out=8 each: fr (4 docs) -> 2 whole copies, no remainder;
    # en (12 docs) -> 0 whole copies + ~8 fractional keeps
    assert plan["fr"] == (2, 0)
    assert plan["en"] == (0, (8 << 60) // 12)
    out = [
        (r["doc_id"], r["lang"], r["copy_no"])
        for r in TA.upsample_to_mixture(df, "lang", shares).collect()
    ]
    fr = sorted((d, c) for d, la, c in out if la == "fr")
    assert fr == [(i, c) for i in range(4) for c in (1, 2)]
    en = [(d, c) for d, la, c in out if la == "en"]
    assert all(c == 1 for _, c in en)
    assert 0 < len(en) < 12  # fractional keep, never the whole stratum
    assert not [x for x in out if x[1] == "zz"]  # non-target dropped
    again = [
        (r["doc_id"], r["lang"], r["copy_no"])
        for r in TA.upsample_to_mixture(df, "lang", shares).collect()
    ]
    assert sorted(out) == sorted(again)


def test_cluster_keep_best(spark):
    """Per-cluster keep-best policy: the (score desc, doc_id asc)
    winner from a skew-safe max(struct) aggregate — ties break to the
    LOWER doc_id, and every cluster yields exactly one winner."""
    from cs_search_engine_architecture_spark.operators.dedup import (
        cluster_keep_best,
        dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (20, 21), (30, 31)], "doc_a long, doc_b long"
    )
    clusters = dup_clusters(pairs)
    scores = spark.createDataFrame(
        # cluster {1,2,3}: 2 wins on score; {20,21}: tie -> 20 (lower
        # id); {30,31}: 31 wins on score
        [(1, 0.2), (2, 0.9), (3, 0.5), (20, 0.4), (21, 0.4),
         (30, 0.1), (31, 0.7)],
        "doc_id long, quality_score double",
    )
    got = {
        r["cluster_id"]: r["keep_doc_id"]
        for r in cluster_keep_best(clusters, scores).collect()
    }
    assert got == {1: 2, 20: 20, 30: 31}


def test_redact_text_planted_pii(spark):
    """Planted emails/IPs/phone-shaped spans are replaced with typed
    placeholders on BOTH engines (dialect parity incl. the Spark
    backslash-literal doubling), and clean text passes through."""
    rows = [
        (0, "reach me at alice.smith+x@example.co.uk today"),
        (1, "server 192.168.0.1 and 10.0.0.255 are up"),
        (2, "call 555-123-4567 or 555 987 6543 now"),
        (3, "no pii here, just words and 42 numbers"),
        (4, "mixed: bob@x.io on 172.16.254.3 tel 123-456-7890"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["redacted"] for r in TA.redact_text(df).collect()}
    assert got[0] == "reach me at <EMAIL> today"
    assert got[1] == "server <IP> and <IP> are up"
    assert got[2] == "call <PHONE> or <PHONE> now"
    assert got[3] == rows[3][1]
    assert got[4] == "mixed: <EMAIL> on <IP> tel <PHONE>"
    con = duckdb.connect()
    con.register("docs_py", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    duck = dict(con.execute(
        f"SELECT doc_id, {D.redact(D.DUCKDB, 'text')} FROM docs_py"
    ).fetchall())
    assert duck == got


def test_split_assign_deterministic_proportions(spark):
    """Hash split: deterministic across invocations, disjoint and
    exhaustive, ~80/10/10 at 10k rows, reshuffles under a new seed, and
    content-independent (same id -> same split regardless of text)."""
    ids = spark.range(10_000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in TA.split_assign(ids).collect()}
    b = {r["doc_id"]: r["split"] for r in TA.split_assign(ids).collect()}
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 10_000 - 0.8) < 0.02
    assert abs(c["val"] / 10_000 - 0.1) < 0.01
    assert abs(c["test"] / 10_000 - 0.1) < 0.01
    other = {r["doc_id"]: r["split"]
             for r in TA.split_assign(ids, seed="s2").collect()}
    assert other != a  # re-seed produces a different fold


def test_split_assign_leakage_safe(spark):
    """Near-dup clusters never straddle the split boundary: every
    member hashes the CLUSTER id (so all agree, and all equal the
    label doc's plain assignment); unclustered docs are identical to
    ``split_assign`` under the same seed; and plain per-doc hashing
    provably DOES leak on the same clusters (the mode this closes)."""
    ids = spark.range(2_000).withColumnRenamed("id", "doc_id")
    # synthetic dup clusters: doc i ~ doc i+1000, label = min id = i
    members = [(i, i) for i in range(200)] + [
        (i + 1000, i) for i in range(200)
    ]
    clusters = spark.createDataFrame(members, "doc_id long, cluster_id long")
    got = {
        r["doc_id"]: r["split"]
        for r in TA.split_assign_leakage_safe(ids, clusters).collect()
    }
    plain = {r["doc_id"]: r["split"] for r in TA.split_assign(ids).collect()}
    assert set(got) == set(range(2_000))
    for i in range(200):
        assert got[i] == got[i + 1000]  # no cluster straddles
        assert got[i] == plain[i]  # member takes the label doc's bucket
    # the leak is real: plain hashing splits at least one cluster
    assert any(plain[i] != plain[i + 1000] for i in range(200))
    clustered = set(range(200)) | {i + 1000 for i in range(200)}
    for d, s in got.items():
        if d not in clustered:
            assert s == plain[d]  # unclustered assignment unchanged


def test_quantized_cosine_recall(spark):
    """int8-quantized cosine: top-10 overlaps the exact float top-10
    almost entirely on real fixture vectors, python/SQL query
    quantization agree, and a zero query scores everything -1."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    row0 = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
    exact = [r["id"] for r in SIM.brute_force_topk(emb, row0, 10).collect()]
    q, qn = SIM.quantize_query(row0)
    assert qn > 0 and max(abs(v) for v in q) == 127
    qemb = SIM.quantize_embeddings(emb)
    quant = [r["id"] for r in SIM.quantized_cosine_topk(qemb, q, qn, 10).collect()]
    assert quant[0] == exact[0] == 0  # self-match survives quantization
    assert len(set(exact) & set(quant)) >= 8  # >=80% top-10 recall

    zq, zn = SIM.quantize_query([0.0] * len(row0))
    assert zn == 0.0
    rows = SIM.quantized_cosine_topk(qemb, zq, zn, 5).collect()
    assert all(r["cos"] == -1.0 for r in rows)


def test_stratified_sample_proportions(spark):
    from collections import Counter

    rows = [(i, "en" if i % 2 == 0 else ("zh" if i % 4 == 1 else "de"))
            for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = TA.stratified_sample(
        df, "lang", {"en": 0.5, "zh": 0.25}, default=0.0
    ).collect()
    c = Counter(r["lang"] for r in kept)
    assert c["de"] == 0  # default 0 drops unlisted strata
    assert abs(c["en"] / 4000 - 0.5) < 0.05
    assert abs(c["zh"] / 2000 - 0.25) < 0.05
    again = TA.stratified_sample(
        df, "lang", {"en": 0.5, "zh": 0.25}, default=0.0
    ).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in kept)


def test_line_dedup_c4_boilerplate(spark):
    """Global line dedup: lines in >=3 docs vanish, per-doc line order
    is preserved, and an all-boilerplate doc collapses to ''."""
    footer = "(c) example corp - all rights reserved"
    rows = [
        (0, f"alpha body one\n{footer}\nalpha tail"),
        (1, f"{footer}\nbeta body two"),
        (2, f"gamma body three\n{footer}"),
        (3, footer),                      # only boilerplate
        (4, "delta keeps\nall lines"),    # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["cleaned"]
           for r in TA.line_dedup(df, min_doc_count=3).collect()}
    assert got[0] == "alpha body one\nalpha tail"
    assert got[1] == "beta body two"
    assert got[2] == "gamma body three"
    assert got[3] == ""
    assert got[4] == "delta keeps\nall lines"
    # threshold respected: at min_doc_count=5 nothing is removed
    untouched = {r["doc_id"]: r["cleaned"]
                 for r in TA.line_dedup(df, min_doc_count=5).collect()}
    assert untouched == {d: t for d, t in rows}


def test_pack_sequences_prefix_sum(spark):
    """Distributed prefix sum == serial reference; docs span sequence
    boundaries correctly; zero-token docs pin to their offset; and the
    plan contains NO Window operator (the single-task window trap)."""
    from cs_search_engine_architecture_spark.operators.packing import (
        pack_sequences,
    )

    rows = [(i, (i * 37) % 100) for i in range(3000)]
    rows[7] = (7, 0)   # zero-token doc
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out_df = pack_sequences(df, 256, num_partitions=8)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {r["doc_id"]: (r["start_offset"], r["seq_first"], r["seq_last"])
           for r in out_df.collect()}
    acc = 0
    for i, n in rows:
        assert got[i] == (acc, acc // 256, (acc + max(n, 1) - 1) // 256), i
        acc += n
    # a doc bigger than seq_len spans >1 sequence
    spans = [r for r in got.values() if r[2] > r[1]]
    assert spans, "some docs must cross sequence boundaries"


def test_pack_sequences_in_epoch_order(spark):
    """order_col packs in the shuffled read order (ties: doc_id) — the
    shuffle-then-pack trainer flow — and matches the serial reference
    cumsum over the same order."""
    from cs_search_engine_architecture_spark.operators.curation import (
        epoch_shuffle,
    )
    from cs_search_engine_architecture_spark.operators.packing import (
        pack_sequences,
    )

    rows = [(i, (i * 37) % 100) for i in range(1500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    keyed = epoch_shuffle(df, seed=5, num_shards=1)
    out = pack_sequences(
        keyed, 256, num_partitions=8, order_col="shuffle_key"
    )
    got = {r["doc_id"]: r["start_offset"] for r in out.collect()}
    order = sorted(
        keyed.select("doc_id", "n_tokens", "shuffle_key").collect(),
        key=lambda r: (r["shuffle_key"], r["doc_id"]),
    )
    acc = 0
    for r in order:
        assert got[r["doc_id"]] == acc
        acc += r["n_tokens"]


def test_chunk_documents_windows(spark):
    rows = [
        (0, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
        (1, "a b"),                                  # shorter than chunk
        (2, ""),                                     # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in TA.chunk_documents(df, chunk_size=4, stride=3).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_no"], r["chunk_text"], r["n_tokens"])
        )
    assert sorted(out[0]) == [
        (0, "w0 w1 w2 w3", 4), (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4), (3, "w9", 1),
    ]
    assert sorted(out[1]) == [(0, "a b", 2)]
    assert sorted(out[2]) == [(0, "", 0)]  # doc-preserving


def test_hash_embeddings_self_retrieval(spark):
    """The feature-hash embedder makes the vector stack runnable on
    text alone: a doc's own text (as a query) retrieves it top-1 via
    brute-force cosine, and the driver-side query mirror is bitwise
    equal to the Spark column implementation."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(100)
    emb = TA.hash_embeddings(docs).withColumnRenamed("doc_id", "vec_id")
    row7 = docs.where("doc_id = 7").collect()[0]
    qvec = TA.hash_embed_text(row7["text"])
    spark_vec = [
        float(x)
        for x in emb.where("vec_id = 7").collect()[0]["embedding"]
    ]
    assert qvec == spark_vec  # python mirror == Spark column math
    top = SIM.brute_force_topk(emb, qvec, 3).collect()
    assert top[0]["id"] == 7 and top[0]["cos"] == pytest.approx(1.0, abs=1e-6)
    assert TA.hash_embed_text("") == [0.0] * 64


def test_hash_embeddings_codegen_clean(spark):
    """Pin the narrow-then-assemble aggregate shape: with codegen
    fallback DISABLED the whole pipeline must still execute — the old
    64-wide conditional-sum pivot blew the JVM 64KB method limit and
    fell back to interpreted row-mode (ERROR CodeGenerator in the gate
    run). A regression back to a giant generated method now fails this
    test instead of silently degrading."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    try:
        spark.conf.set("spark.sql.codegen.fallback", "false")
        out = TA.hash_embeddings(docs).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert len(out) == 50
    assert all(len(r["embedding"]) == 64 for r in out)


def test_text_only_hybrid_via_hash_embeddings(spark, tmp_path):
    """The full hybrid pipeline on TEXT ALONE: corpus hash-embedded,
    query hash-embedded by the driver mirror, combined_search unions the
    exact and semantic arms — no external embedding model anywhere."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    out = str(tmp_path / "idx")
    indexer.build_index(
        spark, docs, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    emb = TA.hash_embeddings(docs).withColumnRenamed("doc_id", "vec_id")
    probe = docs.where("doc_id = 11").collect()[0]["text"]
    qvec = TA.hash_embed_text(probe)
    # semantic arm alone: the probe's own text is its nearest neighbor
    sem = eng.semantic_search(emb, qvec, top_k=3).collect()
    assert sem[0]["doc_id"] == 11
    # full hybrid union runs end to end on hashed text
    res = eng.combined_search(probe, emb, qvec, top_k=10).collect()
    assert res, "hybrid on hashed text returned nothing"
    provs = {r["provenance"] for r in res}
    assert provs <= {"exact", "semantic", "both"}


def test_bpe_train_matches_serial_reference(spark):
    """Distributed BPE (pair counts via shuffle, vocabulary-sized state,
    localCheckpoint per round) learns EXACTLY the serial algorithm's
    merge list under the deterministic tie-break, and the rank-greedy
    segmenter reproduces training segmentation on the training corpus."""
    import re
    from collections import Counter

    from cs_search_engine_architecture_spark.operators import bpe

    texts = [
        "the theme of the thesis is the theory",
        "there the thin theme sang a theory hymn",
        "banana bandana and banner in the band",
        "sparking sparks spark sparked sparky",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    merges = bpe.train_bpe(df, 12)

    wc = Counter(w for t in texts for w in re.findall(r"[a-z0-9]+", t.lower()))
    state = {w: tuple(w) for w in wc}
    want = []
    for _ in range(12):
        pc = Counter()
        for w, ps in state.items():
            for i in range(len(ps) - 1):
                pc[(ps[i], ps[i + 1])] += wc[w]
        if not pc or max(pc.values()) < 2:
            break
        (a, b), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((a, b))
        state = {
            w: tuple(bpe.encode_word(w, {m: i for i, m in enumerate(want)}))
            for w in wc
        }
    assert merges == want

    seg = {r["doc_id"]: r["pieces"]
           for r in bpe.segment_corpus(df, merges).collect()}
    assert "".join(seg[0]) == "".join(
        re.findall(r"[a-z0-9]+", texts[0].lower())
    )  # lossless
    assert "the" in seg[0]  # the most frequent word fused to one piece

    # early stop: a corpus of unique chars yields no merges
    tiny = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    assert bpe.train_bpe(tiny, 5) == []


def test_quantized_ivf_index(spark, tmp_path):
    """IVF × int8: the stored index holds only codes+norms (~4x smaller),
    a probe partition-prunes on cell, and with n_probe = C the result
    equals the flat quantized scan exactly."""
    import shutil

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.kmeans_centroids(emb, 8)
    path = str(tmp_path / "ivf_q")
    shutil.rmtree(path, ignore_errors=True)
    SIM.build_ivf_index_quantized(emb, path, cents)

    qvec = [float(x) for x in emb.where("vec_id = 3").collect()[0]["embedding"]]
    probe = SIM.ivf_search_quantized(spark, path, qvec, k=5, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan  # pruning, not a full scan
    assert probe.collect()[0]["id"] == 3  # self-match survives int8+IVF

    q8, qn = SIM.quantize_query(qvec)
    flat = [(r["id"], r["cos"]) for r in SIM.quantized_cosine_topk(
        SIM.quantize_embeddings(emb), q8, qn, 10).collect()]
    full = [(r["id"], r["cos"]) for r in SIM.ivf_search_quantized(
        spark, path, qvec, k=10, n_probe=len(cents)).collect()]
    assert full == flat  # n_probe = C -> identical to the flat scan


def test_simhash_near_join_not_broadcast(docs):
    """The (band, byte) self-join sits above an aggregate, so Catalyst's
    size estimate would broadcast the corpus-sized bands frame — the hint
    must pin it to a shuffled hash join (CLAUDE.md invariant; at scale a
    broadcast self-join of the exploded bands frame is fatal)."""
    plan = (
        DD.simhash_near_pairs(docs, max_hamming=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_kmeans_sample_unbiased_on_clustered_layout(spark):
    """The quantizer sample must be layout-independent: on a corpus
    WRITTEN in cluster order (topic ~ file position), a head-of-table
    ``limit(n)`` sample sees only the first cluster and the trained
    centroids all land there. The seeded hash-order sample must place
    one centroid in each well-separated cluster — and be deterministic
    for a fixed seed."""
    import numpy as np

    # two well-separated clusters, written strictly in cluster order
    rows = [(i, [float(i % 7) * 0.01] * 8) for i in range(400)]
    rows += [(400 + i, [100.0 + (i % 7) * 0.01] * 8) for i in range(400)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)

    # sample=300 < 400: a limit() sample would never see cluster 2
    c1 = SIM.kmeans_centroids(emb, num_centroids=2, sample=300, seed=13)
    c2 = SIM.kmeans_centroids(emb, num_centroids=2, sample=300, seed=13)
    assert np.array_equal(c1, c2)  # deterministic for a fixed seed
    means = sorted(float(c.mean()) for c in c1)
    assert means[0] < 50.0 < means[1], means  # one centroid per cluster


def test_quantized_ivf_build_is_single_pass(spark):
    """The quantized-IVF build pipeline quantizes in the same select as
    the cell assignment (``keep=['cell']``) — exactly ONE full-table
    mapInPandas pass, no self-join recomputing the assignment."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = np.asarray(SIM.kmeans_centroids(emb, 4, sample=200))
    assigned = SIM.ivf_assign(emb, cents)
    quant = SIM.quantize_embeddings(
        assigned, id_col="id", vec_col="v", keep=["cell"]
    )
    plan = quant._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan, plan


def test_bpe_batched_matches_serial(spark):
    """train_bpe_batched: identical merge list to the serial trainer
    (the prefix/disjoint/strict-count acceptance rules make batched
    rounds provably serial-equivalent), in fewer driver rounds — and on
    the sf0.001 fixture corpus too, where counts are Zipfian enough for
    real batching."""
    from cs_search_engine_architecture_spark.operators import bpe

    texts = [
        "the theme of the thesis is the theory",
        "there the thin theme sang a theory hymn",
        "banana bandana and banner in the band",
        "sparking sparks spark sparked sparky",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    serial = bpe.train_bpe(df, 12)
    batched, rounds = bpe.train_bpe_batched(df, 12, batch_k=4)
    assert batched == serial
    assert rounds <= len(serial)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    serial = bpe.train_bpe(docs, 16)
    batched, rounds = bpe.train_bpe_batched(docs, 16, batch_k=8)
    assert batched == serial
    assert rounds < len(serial), (
        f"batching never accepted >1 merge/round ({rounds} rounds for "
        f"{len(serial)} merges)"
    )


def test_decontaminate_flags_benchmark_overlap(spark):
    """Docs sharing an n-gram run with the benchmark get flagged (the
    exact copy maximally); disjoint docs don't."""
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "intro words then the quick brown fox jumps over something"),
            (3, "completely unrelated text about shuffle partitions here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["contaminated_ngrams"], r["contaminated"])
        for r in DD.decontaminate(docs, bench, n=5).collect()
    }
    assert got[1][1] and got[2][1] and not got[3][1]
    assert got[1][0] > got[2][0] > 0 and got[3][0] == 0


def test_lm_xent_orders_quality(spark):
    """The corpus-trained bigram LM scores formulaic (repeated-pattern)
    docs lower than a doc full of corpus-unseen bigrams — the
    perplexity-filter ordering."""
    from cs_search_engine_architecture_spark.operators import lm

    common = [(i, "the model trains on the data and the data flows")
              for i in range(6)]
    rare = [(100, "zxq wvut plok mnbv qazx edcr tgbv yhnm")]
    docs = spark.createDataFrame(common + rare, "doc_id long, text string")
    got = {r["doc_id"]: r["xent"] for r in lm.xent_scores(docs).collect()}
    assert got[0] == got[1]  # identical docs score identically
    assert got[100] > got[0] + 0.5, got  # novel bigrams ~ high xent
    assert all(v > 0 for v in got.values())


def test_bmp_wav_codecs_roundtrip():
    """The BMP/WAV codecs are REAL: encode -> decode is the identity on
    pixels/samples (format headers verified by construction)."""
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(px)), px)
    s = rng.integers(-3000, 3000, size=501).astype(np.int16)
    sr, ch, got = MM.decode_wav(MM.encode_wav(s, 8000))
    assert (sr, ch) == (8000, 1) and np.array_equal(got, s)


def test_real_media_features_and_resize(spark):
    """End to end on genuine format bytes: synth blob table -> real
    pixel/sample feature extraction -> real nearest-neighbor resize
    whose outputs are themselves valid BMPs of the target size."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i, f"media doc {i} with text {'x' * (i % 13)}") for i in range(12)],
        "doc_id long, text string",
    )
    blobs = MM.synth_blob_table(docs).localCheckpoint()

    imgs = {r["doc_id"]: r for r in MM.image_features(blobs).collect()}
    assert set(imgs) == {i for i in range(12) if i % 2 == 0}
    for r in imgs.values():
        assert r["width"] >= 8 and r["height"] >= 6
        assert 0.0 <= r["mean_r"] <= 255.0 and r["luma_std"] > 0

    # hand-check one image against a driver-side decode
    row = blobs.where("doc_id = 0").collect()[0]
    px = MM.decode_bmp(bytes(row["payload"]))
    assert imgs[0]["mean_g"] == float(px[:, :, 1].astype(np.float64).mean())

    auds = {r["doc_id"]: r for r in MM.audio_features(blobs).collect()}
    assert set(auds) == {i for i in range(12) if i % 2 == 1}
    for r in auds.values():
        assert r["sample_rate"] == 8000 and r["channels"] == 1
        assert r["duration_s"] == r["n_samples"] / 8000.0
        assert r["rms"] > 0 and r["peak"] <= 2000

    rs = {r["doc_id"]: r for r in
          MM.resize_bmp_images(blobs, 4, 3).collect()}
    for i, r in rs.items():
        out = MM.decode_bmp(bytes(r["payload"]))
        assert out.shape == (3, 4, 3)
        src = MM.decode_bmp(
            bytes(blobs.where(f"doc_id = {i}").collect()[0]["payload"])
        )
        h, w, _ = src.shape  # nearest-neighbor: every pixel from source
        yi = (np.arange(3) * h // 3).clip(0, h - 1)
        xi = (np.arange(4) * w // 4).clip(0, w - 1)
        assert np.array_equal(out, src[yi][:, xi])


def test_ivf_add_and_delete_maintenance(spark, tmp_path):
    """Frozen-centroid IVF maintenance: appended vectors serve through
    the same partition-pruned probe immediately (no rebuild), deleted
    ids vanish via the broadcast tombstone mask, and a full probe over
    base ∪ added − deleted equals brute force over the same set."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.kmeans_centroids(emb, num_centroids=8, sample=200)
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, path, cents)

    # append: a vector identical to a known query retrieves itself top-1
    new_rows = [(1000, rows[7][1]), (1001, [rng.gauss(0, 1) for _ in range(64)])]
    SIM.ivf_add(
        spark,
        path,
        spark.createDataFrame(new_rows, "vec_id long, embedding array<float>"),
    )
    qvec = rows[7][1]
    got = SIM.ivf_search(spark, path, qvec, k=3, n_probe=len(cents)).collect()
    assert {got[0]["id"], got[1]["id"]} == {7, 1000}  # both exact matches
    # probe stays partition-pruned after the append
    plan = (
        SIM.ivf_search(spark, path, qvec, k=3, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [cell" in plan

    # delete one of the twins: it disappears from the probe
    SIM.ivf_delete(spark, path, [1000])
    got2 = SIM.ivf_search(spark, path, qvec, k=3, n_probe=len(cents)).collect()
    ids2 = [r["id"] for r in got2]
    assert 1000 not in ids2 and ids2[0] == 7

    # full probe over the maintained index == brute force over the
    # equivalent frame (base ∪ adds − deletes)
    current = spark.createDataFrame(
        rows + [new_rows[1]], "vec_id long, embedding array<float>"
    )
    full = SIM.ivf_search(spark, path, qvec, k=6, n_probe=len(cents)).collect()
    exact = SIM.brute_force_topk(current, qvec, k=6).collect()
    assert [(r["id"], r["cos"]) for r in full] == [
        (r["id"], r["cos"]) for r in exact
    ]


def test_ivf_add_quantized(spark, tmp_path):
    """The quantized tier appends with the same frozen-centroid
    semantics (assignment on full-precision vectors, int8 codes
    stored); tombstones mask there too."""
    import random

    rng = random.Random(13)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.kmeans_centroids(emb, num_centroids=4, sample=150)
    path = str(tmp_path / "ivfq")
    SIM.build_ivf_index_quantized(emb, path, cents)
    SIM.ivf_add(
        spark,
        path,
        spark.createDataFrame(
            [(500, rows[3][1])], "vec_id long, embedding array<float>"
        ),
        quantized=True,
    )
    qvec = rows[3][1]
    got = SIM.ivf_search_quantized(
        spark, path, qvec, k=2, n_probe=len(cents)
    ).collect()
    assert {r["id"] for r in got} == {3, 500}
    SIM.ivf_delete(spark, path, [500])
    got2 = SIM.ivf_search_quantized(
        spark, path, qvec, k=2, n_probe=len(cents)
    ).collect()
    assert 500 not in {r["id"] for r in got2}


def test_engine_refresh_picks_up_maintenance(spark, tmp_path):
    """engine.refresh() re-reads deltas/tombstones/updated_ids in place
    — the NRT serving-loop primitive — including dropping the persisted
    blocks cache so new delta postings serve immediately."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(i, f"shared term doc{i}") for i in range(6)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out)  # cache=True — the hard case
    assert eng.search("shared", 10).count() == 6

    indexer.add_docs(
        spark, out,
        spark.createDataFrame([(100, "shared qqnew")], "doc_id long, text string"),
    )
    indexer.delete_docs(spark, out, [2])
    eng.refresh()
    got = {r["doc_id"] for r in eng.search("shared", 10).collect()}
    assert 100 in got and 2 not in got and len(got) == 6
    assert [r["doc_id"] for r in eng.search("qqnew", 5).collect()] == [100]

    indexer.update_docs(
        spark, out,
        spark.createDataFrame([(0, "qqupdated only")], "doc_id long, text string"),
    )
    eng.refresh()
    assert [r["doc_id"] for r in eng.search("qqupdated", 5).collect()] == [0]
    assert all(r["doc_id"] != 0 for r in eng.search("shared", 10).collect())


def test_ivf_add_tier_guard(spark, tmp_path):
    """Appending the wrong precision tier raises instead of silently
    writing rows the probes would null out."""
    import random

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.fixed_vec_centroids(emb, 2)
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, path, cents)
    with pytest.raises(ValueError):
        SIM.ivf_add(spark, path, emb.limit(1), quantized=True)
    qpath = str(tmp_path / "ivfq")
    SIM.build_ivf_index_quantized(emb, qpath, cents)
    with pytest.raises(ValueError):
        SIM.ivf_add(spark, qpath, emb.limit(1), quantized=False)



def test_dedup_store_delete_unblocks_reingest(spark, docs, tmp_path):
    """A deleted doc must stop counting as a dup ancestor: after
    dedup_store_delete of every doc holding a text, re-ingesting that
    text passes the filter; unrelated dups still block."""
    store = str(tmp_path / "store")
    DD.build_dedup_store(docs, store)
    # docs 0 and 2 share DOCS[0]'s text; doc 1 is its near-dup
    DD.dedup_store_delete(spark, store, [0, 1, 2])
    batch = spark.createDataFrame(
        [(300, DOCS[0][1]), (301, DOCS[3][1])],  # 301 dups live doc 3
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in DD.dedup_filter_batch(spark, store, batch).collect()
    )
    assert kept == [300]  # unblocked; 301 still blocked by live doc 3
    # probe surfaces no pair against any tombstoned doc
    pairs = DD.incremental_dup_pairs(spark, store, batch).collect()
    assert all(r["corpus_doc"] not in {0, 1, 2} for r in pairs)


def test_resample_to_mixture_hits_target_shares(spark):
    """The computed fractions keep the binding stratum whole and land
    the kept set near the target mixture (hash-bucket granularity is
    1/1000); absent-from-target strata are dropped entirely."""
    from cs_search_engine_architecture_spark.operators import (
        text_analysis as ta,
    )

    rows = [(i, ["en", "fr", "zh", "de"][i % 7 % 4]) for i in range(7000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    shares = {"en": 0.5, "fr": 0.3, "zh": 0.2}
    fracs = ta.mixture_fractions(df, "lang", shares)
    # counts: en appears for i%7%4==0 (i%7 in {0,4}) = 2000; fr 2000
    # (1,5), zh 2000 (2,6), de 1000 (3). binding = en at c/share 4000.
    assert fracs["en"] == 1.0  # binding stratum kept whole
    assert "de" not in fracs
    kept = ta.resample_to_mixture(df, "lang", shares, seed="t")
    counts = {
        r["lang"]: r["cnt"]
        for r in kept.groupBy("lang").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    assert "de" not in counts
    total = sum(counts.values())
    for s, share in shares.items():
        assert abs(counts[s] / total - share) < 0.05, (s, counts)
    # deterministic: same seed -> identical kept set
    again = ta.resample_to_mixture(df, "lang", shares, seed="t")
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_mixture_binding_stratum_exactly_whole(spark):
    """The binding stratum's fraction is CLAMPED to exactly 1.0 even
    when share*(c/share)/c rounds down a ulp — found by brute force:
    without the clamp, bucket 999 of the binding stratum is dropped."""
    from cs_search_engine_architecture_spark.operators import (
        text_analysis as ta,
    )

    # find a (share, count) pair where the naive product != 1.0
    share, c = next(
        (s, n)
        for n in range(3, 200)
        for s in (1 / 3, 0.1, 0.7, 1 / 7, 0.578)
        if s * (n / s) / n != 1.0
    )
    other = 1.0 - share
    # make the (share) stratum binding: count/share smallest
    n_other = int((c / share) * other) + c  # other stratum has slack
    rows = [(i, "bind") for i in range(c)] + [
        (10_000 + i, "rest") for i in range(n_other)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fracs = ta.mixture_fractions(df, "lang", {"bind": share, "rest": other})
    assert fracs["bind"] == 1.0
    kept = ta.resample_to_mixture(
        df, "lang", {"bind": share, "rest": other}, seed="clamp"
    )
    assert kept.where("lang = 'bind'").count() == c  # nothing dropped


def test_mixture_fractions_errors(spark):
    from cs_search_engine_architecture_spark.operators import (
        text_analysis as ta,
    )

    df = spark.createDataFrame([(0, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError, match="no target stratum"):
        ta.mixture_fractions(df, "lang", {"De": 0.5, "Fr": 0.5})
    with pytest.raises(ValueError, match="must be > 0"):
        ta.mixture_fractions(df, "lang", {"en": 0.0})


def test_copy_plan_fold_order_is_share_insertion_order():
    """The mixture-plan share normalization folds doubles in
    target_shares' insertion order, never the collected counts order:
    [0.16, 0.77, 0.7, 0.27] sums to 1.9 or 1.9000000000000001
    depending on fold order, and with total chosen so share/denom
    lands exactly on an integer, that single ulp flips int(share/d*T)
    by a whole doc."""
    shares = {"a": 0.16, "b": 0.77, "c": 0.7, "d": 0.27}
    denom = ((0.16 + 0.77) + 0.7) + 0.27  # insertion-order fold
    # total=1007 discriminates: 0.7/1.9*1007 = 371.0 but
    # 0.7/1.9000000000000001*1007 = 370.99999999999994 -> int() flips
    total = 1007
    expected = {
        s: int(shares[s] / denom * total) for s in shares
    }
    # adversarial counts orders (collect() order is arbitrary): the
    # plan's out_k = reps*c + popcount-ish extras must match the
    # insertion-order expectation for every ordering
    import itertools

    from cs_search_engine_architecture_spark.operators.text_analysis import (
        _copy_plan,
    )

    counts_base = {"a": 7, "b": 11, "c": 13, "d": 17}
    for order in itertools.permutations(counts_base):
        counts = {s: counts_base[s] for s in order}
        plan = _copy_plan(counts, shares, total)
        for s, (reps, thr60) in plan.items():
            c = counts_base[s]
            out = reps * c + (thr60 * c + (1 << 60) - 1 >> 60)
            # reps*c + ceil(thr60*c / 2^60) reconstructs out_k exactly
            assert out == expected[s], (s, order)
