"""Secondary reference surfaces: spelling correction (P9), snippets
(Q10), LTR features (R1) + ListNet inference (R2), semantic (R3) and
hybrid (R4) search."""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import ltr, spelling
from cs_search_engine_architecture_spark.operators.indexer import build_index
from cs_search_engine_architecture_spark.operators.snippets import (
    snippet_col,
    snippet_py,
)

SF_DIR = "/root/testdata/sf0.001"
IDX = "/tmp/spark_sea_test_secondary_idx"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


@pytest.fixture(scope="module")
def engine(spark, docs):
    shutil.rmtree(IDX, ignore_errors=True)
    build_index(
        spark, docs, IDX, fields=["text"], analyzer="simple", num_buckets=8,
        corpus_path=os.path.join(SF_DIR, "documents.parquet"),
    )
    return SearchEngine(spark, IDX)


# ---------------------------------------------------------- spelling

def test_bigrams():
    assert spelling.bigrams("spark") == ["$s", "sp", "pa", "ar", "rk", "k$"]


def test_kgram_index_threshold(engine):
    kg = spelling.build_kgram_index(engine.term_stats(), exclude_threshold=50)
    terms = {r["term"] for r in kg.select("term").distinct().collect()}
    stats = {
        r["term"]: r["df"] for r in engine.term_stats().collect()
    }
    assert terms == {t for t, df in stats.items() if df >= 50}


def test_suggest_doubled_letter_typo(spark, engine):
    # 'customerr' vs 'customer': 10 vs 9 bigrams, 9 shared -> 0.9
    out = spelling.suggest_df(
        spark, engine.kgram_index(exclude_threshold=10), ["customerr"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["suggestion"] == "customer"
    assert r["similarity"] == pytest.approx(9 / 10)


def test_suggest_rejects_below_threshold(spark, engine):
    # 'spak' vs 'spark' multiset-jaccard = 4/7 < 0.75 -> no suggestion
    out = spelling.suggest_df(
        spark, engine.kgram_index(exclude_threshold=10), ["spak"]
    ).collect()
    assert out == []


def test_engine_suggest_roundtrip(engine):
    corrected, n = engine.suggest("customerr and spark")
    assert n == 1
    assert "customer" in corrected and "spark" in corrected


# ---------------------------------------------------------- snippets

SNIPPET_TEXTS = [
    "short text",
    "a" * 300,
    " ".join(f"w{i}" for i in range(100)),
    "x" * 150 + " mid " + "y" * 150,
    "",
]


@pytest.mark.parametrize("pos", [None, 0, 1, 5, 99, 100, 150, 10_000])
def test_snippet_col_matches_reference_mirror(spark, pos):
    rows = [(i, t) for i, t in enumerate(SNIPPET_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["snip"]
        for r in df.select(
            "doc_id",
            snippet_col(
                F.col("text"),
                F.lit(pos).cast("int") if pos is not None else F.lit(None).cast("int"),
            ).alias("snip"),
        ).collect()
    }
    for i, t in rows:
        assert got[i] == snippet_py(t, pos), (i, pos)


def test_search_with_snippets(engine, docs):
    out = engine.search_with_snippets("spark and window", docs, top_k=5)
    rows = out.collect()
    assert 0 < len(rows) <= 5
    for r in rows:
        assert r["snippet"] in r["text"] or r["snippet"] == r["text"]
        assert r["snippet"]  # non-empty


# --------------------------------------------------------------- LTR

def test_ltr_features_shape_and_values(engine):
    top = engine.search("spark and window", top_k=5)
    feats = engine.ltr_features("spark and window", top)
    rows = feats.collect()
    assert len(rows) == top.count()
    r = rows[0]
    # single-field index: one bm25/len/coverage feature + shared cols
    assert set(feats.columns) == {
        "doc_id", "bm25_f0", "len_f0", "coverage_f0", "first_pos",
        "similarity",
    }
    for row in rows:
        # "spark and window" = 3 query-mode tokens: operator words count
        # toward the coverage denominator (sea/tokenizer.pyx:21-23,
        # feature_mapping.pyx:39,44)
        assert row["coverage_f0"] in (1.0 / 3.0, 2.0 / 3.0)
        assert row["first_pos"] >= 0
        assert row["similarity"] == 0.0


def test_ltr_querytime_bm25_formula(engine):
    """Query-time BM25 (standard denominator) computed per the R1 quirk
    list — checked against a direct python recomputation."""
    q = "spark"
    feats = {r["doc_id"]: r for r in engine.ltr_features(q).collect()}
    meta = engine.meta
    stats = {
        r["term"]: (r["df"], r["idf"])
        for r in engine.term_stats().where(F.col("term") == "spark").collect()
    }
    idf = stats["spark"][1]
    from cs_search_engine_architecture_spark.operators.decode import (
        term_postings_full,
    )

    postings = term_postings_full(
        engine.blocks, "spark", engine.num_buckets, 1
    ).collect()
    k, b = meta["bm25_k"], meta["bm25_bs"][0]
    avg = meta["avg_field_lengths"][0]
    for p in postings[:20]:
        tf, fl = p["field_freqs"][0], p["field_lens"][0]
        expect = idf * tf * (k + 1) / (tf + k * (1 - b + b * fl / avg))
        assert feats[p["doc_id"]]["bm25_f0"] == pytest.approx(expect)


def _make_weights(path: str, nf: int, seed: int = 3) -> None:
    rng = np.random.default_rng(seed)
    d = nf
    np.savez(
        path,
        w0=rng.normal(size=(d, 16)), b0=rng.normal(size=16),
        w1=rng.normal(size=(16, 16)), b1=rng.normal(size=16),
        w2=rng.normal(size=(16, 1)), b2=rng.normal(size=1),
        means=rng.normal(size=d), stds=np.abs(rng.normal(size=d)) + 0.1,
    )


def test_listnet_rerank_matches_numpy(spark, engine, tmp_path):
    q = "spark and window"
    feats = engine.ltr_features(q, engine.search(q, 10))
    order = ["bm25_f0", "len_f0", "coverage_f0", "first_pos", "similarity"]
    wpath = str(tmp_path / "w.npz")
    _make_weights(wpath, nf=len(order))
    ranked = {
        r["doc_id"]: r["ltr_score"]
        for r in ltr.rerank(feats, wpath, order).collect()
    }
    scorer = ltr.ListNetScorer(wpath)
    for row in feats.collect():
        x = np.array([[float(row[c]) for c in order]])
        assert ranked[row["doc_id"]] == pytest.approx(
            float(scorer.score(x)[0])
        )


# --------------------------------------------- semantic + hybrid

@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def test_semantic_search_exact(spark, engine, embeddings):
    qvec = [float(x) for x in embeddings.where("vec_id = 3").collect()[0]["embedding"]]
    out = engine.semantic_search(embeddings, qvec, top_k=5).collect()
    assert out[0]["doc_id"] == 3  # self-similarity = 1.0 tops the list
    assert out[0]["similarity"] == pytest.approx(1.0, abs=1e-6)
    sims = [r["similarity"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_combined_search_provenance(spark, engine, embeddings):
    qvec = [float(x) for x in embeddings.where("vec_id = 3").collect()[0]["embedding"]]
    out = engine.combined_search(
        "spark or window", embeddings, qvec, top_k=20, pre_select_k=10
    ).collect()
    provs = {r["provenance"] for r in out}
    assert provs <= {"exact", "semantic", "both"}
    assert len(provs) >= 2  # union actually mixes sources
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        assert math.isclose(r["score"], r["bm25"] + r["similarity"])


def test_listnet_training_learns(tmp_path):
    """ListNet training must reduce the loss and learn a synthetic
    ranking signal well enough to beat random ordering."""
    import numpy as np

    rng = np.random.default_rng(9)
    true_w = rng.normal(size=5)
    groups, labels = [], []
    for _ in range(30):
        x = rng.normal(size=(10, 5))
        rel = x @ true_w  # hidden linear relevance
        groups.append(x)
        labels.append(rel)
    wpath = str(tmp_path / "trained.npz")
    out = ltr.train_listnet(groups, labels, hidden=32, epochs=40, weights_path=wpath)
    assert out["losses"][-1] < out["losses"][0] * 0.9

    scorer = ltr.ListNetScorer(wpath)
    # held-out group: model's top-1 should be in the true top-3
    x = rng.normal(size=(10, 5))
    rel = x @ true_w
    pred = scorer.score(x)
    assert np.argmax(pred) in np.argsort(-rel)[:3]


def test_search_after_pagination_partitions_results(spark, tmp_path):
    """Cursor pagination: walking pages of 3 reproduces the full ranked
    result exactly — no doc skipped or repeated across page boundaries,
    including score ties — and stays correct on a maintained index."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [(i, "alpha common text" + (" beta" if i % 3 == 0 else ""))
            for i in range(17)]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    indexer.update_docs(
        spark, out,
        spark.createDataFrame([(5, "alpha updated")], "doc_id long, text string"),
    )
    eng = SearchEngine(spark, out, cache=False)
    full = [(r["doc_id"], r["score"])
            for r in eng.search("alpha", top_k=100).collect()]
    assert len(full) == 17  # every doc matches; plenty of tied scores

    paged, cursor = [], None
    for _ in range(10):
        rows = eng.search_after("alpha", cursor=cursor, top_k=3).collect()
        if not rows:
            break
        paged.extend((r["doc_id"], r["score"]) for r in rows)
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
    assert paged == full


def test_facet_counts_full_match_set(spark, tmp_path):
    """Facet counts aggregate over ALL matching docs (not top-k), with
    (count desc, value asc) ordering, and respect deletes."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [(i, "common alpha" if i % 2 == 0 else "other beta",
             ["en", "fr", "de"][i % 3]) for i in range(30)]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)
    got = [(r["facet"], r["doc_count"])
           for r in eng.facet_counts("alpha", corpus, "lang").collect()]
    expect: dict[str, int] = {}
    for i, text, lang in docs:
        if i % 2 == 0:
            expect[lang] = expect.get(lang, 0) + 1
    want = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want

    # deletes shrink the counts
    victims = [i for i in range(30) if i % 2 == 0 and i % 3 == 0][:2]
    indexer.delete_docs(spark, out, victims)
    eng2 = SearchEngine(spark, out, cache=False)
    got2 = dict(
        (r["facet"], r["doc_count"])
        for r in eng2.facet_counts("alpha", eng2.current_corpus(), "lang").collect()
    )
    assert got2["en"] == expect["en"] - len(victims)


def test_stats_agg_full_match_set(spark, tmp_path):
    """stats_agg aggregates a numeric column over ALL matching docs
    (not top-k): count/min/max/sum/distinct exact, avg == sum/count in
    one double division; predicate restricts to the filter context;
    deletes mask; value_col accepts a Column expression."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [(i, "common alpha" if i % 2 == 0 else "other beta",
             ["en", "fr"][i % 3 == 0], 10 + (i % 5)) for i in range(30)]
    docs = [(i, t, "en" if i % 3 == 0 else "fr", n)
            for (i, t, _, n) in docs]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, n_chars long"
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)
    row = eng.stats_agg("alpha", corpus, "n_chars").collect()[0]
    vals = [n for (i, _, _, n) in docs if i % 2 == 0]
    assert row["count"] == len(vals)
    assert row["min"] == min(vals) and row["max"] == max(vals)
    assert row["sum"] == sum(vals)
    assert row["distinct"] == len(set(vals))
    assert row["avg"] == sum(vals) / len(vals)

    # filter context restricts the aggregated set
    rowf = eng.stats_agg(
        "alpha", corpus, "n_chars", predicate="lang = 'en'"
    ).collect()[0]
    valsf = [n for (i, _, lang, n) in docs if i % 2 == 0 and lang == "en"]
    assert rowf["count"] == len(valsf) and rowf["sum"] == sum(valsf)

    # Column-expression metric evaluates row-locally
    rowe = eng.stats_agg(
        "alpha", corpus, F.col("n_chars") * 2
    ).collect()[0]
    assert rowe["sum"] == 2 * sum(vals) and rowe["max"] == 2 * max(vals)

    # deletes shrink the aggregate
    indexer.delete_docs(spark, out, [0, 2])
    eng2 = SearchEngine(spark, out, cache=False)
    row2 = eng2.stats_agg("alpha", corpus, "n_chars").collect()[0]
    vals2 = [n for (i, _, _, n) in docs if i % 2 == 0 and i not in (0, 2)]
    assert row2["count"] == len(vals2) and row2["sum"] == sum(vals2)


def test_filtered_search_filter_context_semantics(spark, tmp_path):
    """Metadata filters SELECT but never SCORE (Lucene filter-context):
    a filtered result is exactly the unfiltered ranking restricted to
    the admitted doc set, scores unchanged; deletes still mask."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [(i, "alpha shared" + (" rare" if i in (4, 9) else ""),
             ["en", "fr"][i % 2]) for i in range(12)]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)
    unfiltered = {
        r["doc_id"]: r["score"]
        for r in eng.search("alpha or rare", 100).collect()
    }
    got = [
        (r["doc_id"], r["score"])
        for r in eng.filtered_search(
            "alpha or rare", corpus, "lang = 'en'", top_k=100
        ).collect()
    ]
    assert all(d % 2 == 0 for d, _ in got)
    assert {d for d, _ in got} == {d for d in unfiltered if d % 2 == 0}
    assert all(s == unfiltered[d] for d, s in got)  # scores untouched
    # ranking order is the unfiltered order restricted to the filter set
    want_order = [d for d in sorted(
        unfiltered, key=lambda d: (-unfiltered[d], d)
    ) if d % 2 == 0]
    assert [d for d, _ in got] == want_order
    # deletes mask inside the filter too
    indexer.delete_docs(spark, out, [4])
    eng2 = SearchEngine(spark, out, cache=False)
    got2 = {r["doc_id"] for r in eng2.filtered_search(
        "alpha or rare", corpus, "lang = 'en'", top_k=100
    ).collect()}
    assert 4 not in got2 and got2 == {d for d, _ in got} - {4}


def test_serve_repl_smoke(spark, tmp_path):
    """jobs/serve.py driven end-to-end through a pipe: mode/topk/filter/
    facet/next/status/refresh commands all execute against a real index
    and the process exits cleanly."""
    import subprocess
    import sys
    import os

    from cs_search_engine_architecture_spark.operators import indexer

    out = str(tmp_path / "idx")
    docs = [(i, "alpha beta" + (" gamma" if i % 2 else ""),
             ["en", "fr"][i % 2]) for i in range(8)]
    corpus = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # a tiny deterministic 5->2->2->1 MLP for the 1-field index, so the
    # REPL's ltr toggle (and its composition with an active filter) can
    # be driven end to end
    import numpy as np

    d, h = 5, 2
    wpath = str(tmp_path / "mlp.npz")
    np.savez(
        wpath,
        w0=np.array([[((i * 7 + j * 3) % 11 - 5) / 8.0 for j in range(h)]
                     for i in range(d)]),
        b0=np.array([(j - 0.5) / 4.0 for j in range(h)]),
        w1=np.array([[((i * 5 + j * 7) % 9 - 4) / 8.0 for j in range(h)]
                     for i in range(h)]),
        b1=np.array([(j - 1) / 8.0 for j in range(h)]),
        w2=np.array([[((j * 3) % 5 - 2) / 4.0] for j in range(h)]),
        b2=np.array([0.125]),
        means=np.zeros(d),
        stds=np.ones(d),
    )
    script = (
        "topk:3\nalpha\nnext\nfilter:lang = 'en'\nalpha\nfilter:off\n"
        "facet:lang\nalpha or gamma\nstatus\nrefresh\n"
        "stats:doc_id\nalpha\nstats:off\n"
        'syn:{"alpha": ["gamma"]} alpha and beta\n'
        "rescore:alpha beta :: alpha or gamma\n"
        "mlt:1\nmlt:notanid\n"
        "syn:notjson\nrescore:missing-separator\n"
        # ltr composed WITH an active filter: candidates come from
        # filtered_search, the MLP re-ranks them — the filter must not
        # be silently dropped (only en/even docs may surface)
        "filter:lang = 'en'\nenable:ltr\nalpha\ndisable:ltr\nfilter:off\n"
        # semantic mode + MMR diversification toggle (and its edges)
        "mode:semantic\nalpha beta\nmmr:0.5\nalpha beta\n"
        "mmr:2.0\nmmr:notanumber\nmmr:off\nmode:exact\n"
        # filter active across SEMANTIC / MMR / COMBINED modes: every
        # row in this tail section must be the single admitted doc
        "filter:doc_id = 5\nmode:semantic\nalpha beta\nmmr:0.5\n"
        "alpha beta\nmmr:off\nmode:combined\nalpha beta\n"
        "mode:exact\nfilter:off\n"
        "exit\n"
    )
    from cs_search_engine_architecture_spark.operators.text_analysis import (
        hash_embeddings,
    )

    epath = str(tmp_path / "emb.parquet")
    hash_embeddings(corpus).selectExpr(
        "doc_id as vec_id", "embedding"
    ).write.parquet(epath)
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "serve.py"),
         "--index", out, "--corpus", src, "--cores", "2",
         "--ltr-weights", wpath, "--embeddings", epath],
        input=script, capture_output=True, text=True, timeout=480, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "rows in" in proc.stdout
    assert "facets:" in proc.stdout
    assert '"tombstones": 0' in proc.stdout
    assert "- refreshed" in proc.stdout
    assert 'usage: syn:{"term": ["alt", ...]} <query>' in proc.stdout
    # the filtered tail: semantic, MMR, and combined pages under
    # 'filter:doc_id = 5' may only surface doc 5 (the REPL must pass
    # the active filter to EVERY mode, not just exact). Hit lines print
    # as '  #<id>  ...' but the piped prompt glues to the first row, so
    # match the '#<id>' marker anywhere in the tail.
    import re

    tail = proc.stdout.split("- filter: doc_id = 5", 1)[1]
    hits = re.findall(r"#(\d+)\b", tail)
    assert hits and all(h == "5" for h in hits), hits
    assert tail.count("- 1 rows in") >= 3  # semantic, mmr, combined
    assert "usage: rescore:<proximity phrase> :: <query>" in proc.stdout
    assert "stats[doc_id]: count=" in proc.stdout
    assert "- stats off" in proc.stdout
    assert "usage: mlt:<doc_id>" in proc.stdout
    assert "#3" in proc.stdout  # mlt:1 surfaces another odd-gamma doc
    import re

    # only the lang='en' ltr section — the doc_id=5 tail's combined
    # mode also prints ltr_score rows (for odd doc 5, correctly)
    ltr_ids = [
        int(re.search(r"#(\d+)", ln).group(1))
        for ln in proc.stdout.split("- filter: doc_id = 5", 1)[0]
        .splitlines() if "ltr_score=" in ln
    ]
    assert ltr_ids, "ltr+filter query produced no re-ranked rows"
    assert all(
        i % 2 == 0 for i in ltr_ids
    ), f"ltr re-rank leaked past the active lang='en' filter: {ltr_ids}"
    assert "- mmr diversification on (lambda=0.5" in proc.stdout
    assert "mmr=" in proc.stdout  # the diversified page rendered
    assert "- mmr lambda must be in [0,1]" in proc.stdout
    assert "- mmr wants a lambda in [0,1] or off" in proc.stdout
    assert "- mmr off" in proc.stdout


def test_filtered_cursor_pagination_and_filtered_facets(spark, tmp_path):
    """Round-5 serving composition: (a) filtered_search(cursor=...) —
    filter-context scores are the unfiltered scores, so the strictly-
    after predicate partitions the FILTERED result set exactly across
    pages; (b) facet_counts(predicate=...) counts query ∩ filter."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [
        (i, "alpha shared" + (" rare" if i % 5 == 0 else ""),
         ["en", "fr"][i % 2], f"s{i % 3}")
        for i in range(30)
    ]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)
    full = [
        (r["doc_id"], r["score"])
        for r in eng.filtered_search(
            "alpha or rare", corpus, "lang = 'en'", top_k=100
        ).collect()
    ]
    assert len(full) == 15  # every even doc matches 'alpha'
    pages, cursor = [], None
    for _ in range(4):
        rows = eng.filtered_search(
            "alpha or rare", corpus, "lang = 'en'", top_k=4, cursor=cursor
        ).collect()
        if not rows:
            break
        pages.extend((r["doc_id"], r["score"]) for r in rows)
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
    assert pages == full  # pages partition the filtered set exactly
    # filtered facets: counts over query ∩ predicate
    fc = {
        r["facet"]: r["doc_count"]
        for r in eng.facet_counts(
            "alpha or rare", corpus, "source", predicate="lang = 'en'"
        ).collect()
    }
    want: dict = {}
    for i, text, lang, source in docs:
        if lang == "en":
            want[source] = want.get(source, 0) + 1
    assert fc == want
    # unfiltered facets unchanged by the new parameter's default
    fc_all = {
        r["facet"]: r["doc_count"]
        for r in eng.facet_counts("alpha or rare", corpus, "lang").collect()
    }
    assert fc_all == {"en": 15, "fr": 15}


def test_combined_search_rrf_matches_manual_ranks(spark, engine, embeddings):
    """RRF fusion must equal 1/(k0+rank_exact) + 1/(k0+rank_sem) with
    ranks recomputed manually from the two arms under the engine's
    total order, and label provenance by arm membership."""
    qvec = [
        float(x)
        for x in embeddings.where("vec_id = 3").collect()[0]["embedding"]
    ]
    pre_k, rrf_k, top_k = 10, 60, 15
    exact = engine.search("spark or window", pre_k).collect()
    sem = engine.semantic_search(embeddings, qvec, pre_k).collect()
    re_rank = {r["doc_id"]: i + 1 for i, r in enumerate(exact)}
    rs_rank = {r["doc_id"]: i + 1 for i, r in enumerate(sem)}
    expect = {
        d: (1.0 / (rrf_k + re_rank[d]) if d in re_rank else 0.0)
        + (1.0 / (rrf_k + rs_rank[d]) if d in rs_rank else 0.0)
        for d in set(re_rank) | set(rs_rank)
    }
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    out = engine.combined_search_rrf(
        "spark or window", embeddings, qvec,
        top_k=top_k, pre_select_k=pre_k, rrf_k=rrf_k,
    ).collect()
    assert [r["doc_id"] for r in out] == [d for d, _ in top]
    for r, (_, es) in zip(out, top):
        assert r["score"] == pytest.approx(es, rel=1e-12)
    for r in out:
        d = r["doc_id"]
        want_prov = (
            "both" if d in re_rank and d in rs_rank
            else "exact" if d in re_rank else "semantic"
        )
        assert r["provenance"] == want_prov


# ---------------------------------------------------------- percolate

def test_tokenize_presence_matches_postings(spark):
    """The vectorized presence-only tokenizer (r6: percolate's
    term/mixed arms) yields exactly the DISTINCT (doc_id, term) pairs
    of the full positional tokenizer — both analyzers, incl. a
    two-field corpus (cross-field dedup) and empty/None fields."""
    from cs_search_engine_architecture_spark.operators.indexer import (
        tokenize_postings,
        tokenize_presence,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    two_field = spark.createDataFrame(
        [
            (0, "spark data spark", "data merge"),
            (1, "", "only here"),
            (2, None, None),
            (3, "Mixed3x alpha " + "y" * 60, "num 12345 ok"),
        ],
        "doc_id long, a string, b string",
    )
    cases = [
        (docs, ["text"], "simple"),
        (docs, ["text"], "reference"),
        (two_field, ["a", "b"], "simple"),
        (two_field, ["a", "b"], "reference"),
    ]
    for df, fields, analyzer in cases:
        want = {
            (r["doc_id"], r["term"])
            for r in tokenize_postings(df, fields, "doc_id", analyzer)
            .select("doc_id", "term")
            .distinct()
            .collect()
        }
        rows = tokenize_presence(df, fields, "doc_id", analyzer).collect()
        got = {(r["doc_id"], r["term"]) for r in rows}
        assert got == want, (fields, analyzer)
        assert len(rows) == len(got), "presence rows must be distinct"


def test_tokenize_keep_terms_matches_filter(spark):
    """tokenize_postings(keep_terms=S) == the unfiltered frame filtered
    to S — identical rows incl. field_lens (which must reflect the FULL
    tokenize, not the kept subset)."""
    from cs_search_engine_architecture_spark.operators.indexer import (
        tokenize_postings,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    keep = ["spark", "data", "window", "order"]
    want = sorted(
        (
            (r["doc_id"], r["term"], tuple(r["field_freqs"]),
             tuple(r["field_lens"]), tuple(r["positions"]))
            for r in tokenize_postings(docs, ["text"], "doc_id", "simple")
            .where(F.col("term").isin(keep))
            .collect()
        )
    )
    got = sorted(
        (
            (r["doc_id"], r["term"], tuple(r["field_freqs"]),
             tuple(r["field_lens"]), tuple(r["positions"]))
            for r in tokenize_postings(
                docs, ["text"], "doc_id", "simple", keep_terms=keep
            ).collect()
        )
    )
    assert got == want and len(got) > 0


def test_percolate_plan_shapes(spark):
    """Every percolatable plan shape on a hand-built batch: single
    term, OR, AND, AND-NOT, and the ORDERED phrase window (doc 4 has
    the phrase terms reversed and must not match)."""
    from cs_search_engine_architecture_spark.operators.percolate import (
        percolate,
    )

    batch = spark.createDataFrame(
        [
            (0, "spark joins data fast"),
            (1, "slow data scan"),
            (2, "nothing relevant"),
            (3, "the window order by clause"),
            (4, "order window shuffled"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["query_id"], r["doc_id"])
        for r in percolate(
            spark,
            {
                "p1": "spark",
                "p2": "spark or data",
                "p3": "data and slow",
                "p4": "data and not slow",
                "p5": '"window order"',
            },
            batch,
            analyzer="simple",
        ).collect()
    }
    assert got == {
        ("p1", 0), ("p2", 0), ("p2", 1), ("p3", 1), ("p4", 0), ("p5", 3),
    }


def test_percolate_mixed_trees_and_phrase_rejection(spark):
    """Mixed-precedence term-only trees percolate via the compiler's
    lazy-NOT algebra — a NOT surviving to the top level yields its
    operand's matches (the engine quirk: "spark or not data" fires on
    data-docs minus spark-docs), never true negation; a phrase nested
    inside a mixed tree is the one unsupported shape."""
    from cs_search_engine_architecture_spark.operators.percolate import (
        percolate,
    )

    batch = spark.createDataFrame(
        [
            (0, "spark joins data fast"),
            (1, "slow data scan"),
            (2, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["query_id"], r["doc_id"])
        for r in percolate(
            spark,
            {
                "m1": "spark and (data or slow)",
                "m2": "data and (slow or fast) not scan",
                "m3": "spark or not data",  # OR(+,-): data \ spark
                # top-level NOT strips to a pure phrase: batched arm
                "m4": 'not "slow data"',
            },
            batch,
            analyzer="simple",
        ).collect()
    }
    assert got == {("m1", 0), ("m2", 0), ("m3", 1), ("m4", 1)}

    with pytest.raises(ValueError, match="not percolatable"):
        percolate(
            spark, {"q": '"hash join" and spark'}, batch, analyzer="simple"
        )


def test_engine_percolate_matches_full_search(spark, engine, docs):
    """Differential vs the indexed engine: percolating the WHOLE corpus
    against a query (no index read) must select exactly the docs the
    engine's unlimited scored search returns for the same query."""
    queries = {
        "q1": "spark",
        "q2": "data and slow",
        "q3": "data and not slow",
        "q4": '"window order"',
        "q5": "spark or data",
        "q6": "spark and (data or slow)",  # mixed tree: presence path
        "q7": "data and (slow or fast) not key",
    }
    by_q: dict[str, set] = {}
    for r in engine.percolate(queries, docs).collect():
        by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, qstr in queries.items():
        want = {
            r["doc_id"]
            for r in engine.search_df(qstr).select("doc_id").collect()
        }
        assert by_q.get(qid, set()) == want, qid


def test_percolate_batched_phrases_match_scalar_chain(spark):
    """The shared slot-tagged phrase aggregation == the oracle's scalar
    per-phrase chain (``OracleIndex``, the reference posting algebra,
    parsed with the same analyzer) for every registered phrase at once
    — repeated-term phrases (same-occurrence quirk, q−p=0 passes) and
    3-term chains included."""
    from cs_search_engine_architecture_spark.operators.percolate import (
        percolate,
    )
    from cs_search_engine_architecture_spark.oracle.reference import (
        OracleIndex,
    )
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    rows = [
        (0, "window order by key"),
        (1, "order window data data"),
        (2, "window groups then order appears far too late to fit"),
        (3, "data data everywhere"),
        (4, "window order window order"),
        (5, "no relevant trigrams here"),
        (6, "just one data token"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    phrases = {
        "f1": '"window order"',
        "f2": '"data data"',  # repeated term: same-occurrence quirk
        "f3": '"window order by"',  # 3-term chain
        "f4": '"order by key"',
    }
    got: dict[str, set] = {}
    for r in percolate(spark, phrases, batch, analyzer="simple").collect():
        got.setdefault(r["query_id"], set()).add(r["doc_id"])

    oracle = OracleIndex([(d, [t]) for d, t in rows], analyzer="simple")
    for qid, qstr in phrases.items():
        ast = parse_query(qstr, analyzer="simple")
        assert ast["type"] == "phrase"
        want = {d for d, _ in oracle.search_all(qstr)}
        assert got.get(qid, set()) == want, (qid, qstr)
    # the quirk is load-bearing in this fixture: "data data" fires on
    # doc 6's SINGLE 'data' occurrence too (q-p=0 passes)
    assert 6 in got["f2"] and 3 in got["f2"]


def test_percentiles_agg_exact_rank(spark, engine, docs):
    """quantile_disc semantics pinned against a driver-side sort of the
    same match set: value = sorted(matched)[floor((n-1)*q)]."""
    import math

    ids = {
        r["doc_id"] for r in engine.search_df("spark").select("doc_id").collect()
    }
    vals = sorted(
        r["n_chars"] for r in docs.collect() if r["doc_id"] in ids
    )
    got = {
        r["quantile"]: r["value"]
        for r in engine.percentiles_agg(
            "spark", docs, "n_chars", qs=(0.25, 0.5, 0.95)
        ).collect()
    }
    want = {q: vals[math.floor((len(vals) - 1) * q)] for q in (0.25, 0.5, 0.95)}
    assert got == want


# ---------------------------------------------- top_hits aggregation

def test_top_hits_by_group_matches_bruteforce(spark, engine, docs):
    """Every bucket serves its own best-2 by the engine total order,
    with the unmodified search scores (grouping selects, never
    scores)."""
    q = "spark or data"
    got = engine.top_hits_by_group(q, docs, "lang", hits_per_group=2)
    rows = got.collect()
    scored = {
        r.doc_id: r.score for r in engine.search_df(q).collect()
    }
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    # brute force: per lang, sort matched docs by (score desc, doc_id)
    by_lang: dict = {}
    for d, s in scored.items():
        by_lang.setdefault(langs[d], []).append((-s, d))
    want = []
    for lang, items in by_lang.items():
        for rank, (negs, d) in enumerate(sorted(items)[:2], start=1):
            want.append((lang, d, -negs, rank))
    assert sorted((r.group, r.doc_id, r.score, r.grank) for r in rows) == sorted(want)
    # output is group-major, rank-ordered
    assert [(r.group, r.grank) for r in rows] == sorted(
        (r.group, r.grank) for r in rows
    )


def test_top_hits_top_groups_restriction(spark, engine, docs):
    q = "spark or data"
    full = engine.top_hits_by_group(q, docs, "lang", hits_per_group=2)
    counts = (
        engine.search_df(q)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").count().collect()
    )
    top2 = {
        r.lang
        for r in sorted(counts, key=lambda r: (-r["count"], r.lang))[:2]
    }
    got = engine.top_hits_by_group(
        q, docs, "lang", hits_per_group=2, top_groups=2
    )
    assert {r.group for r in got.collect()} == top2
    # restricted output == the unrestricted output filtered to those buckets
    want = [
        (r.group, r.doc_id, r.score, r.grank)
        for r in full.collect() if r.group in top2
    ]
    assert [(r.group, r.doc_id, r.score, r.grank) for r in got.collect()] == want


def test_export_matches_full_set(spark, engine, tmp_path):
    """export_matches writes the FULL masked match set (== count()),
    filter context restricts it, with_text joins the corpus back."""
    from pyspark.sql import functions as F

    q = "spark or data"
    n = engine.count(q)
    path = str(tmp_path / "export")
    assert engine.export_matches(q, path) == n
    back = spark.read.parquet(path)
    assert back.count() == n
    assert set(back.columns) == {"doc_id", "score"}
    # scores equal the serving scores for the same docs (spot: top-5)
    top = engine.search_collect(q, 5)  # list of (doc_id, score)
    exported = {r["doc_id"]: r["score"] for r in back.collect()}
    for doc_id, score in top:
        assert exported[doc_id] == score
    # filter context: admitted subset only, scores unchanged
    p2 = str(tmp_path / "export2")
    n2 = engine.export_matches(q, p2, predicate=F.col("doc_id") % 2 == 0)
    back2 = {r["doc_id"]: r["score"] for r in
             spark.read.parquet(p2).collect()}
    assert 0 < n2 < n and all(d % 2 == 0 for d in back2)
    assert all(back2[d] == exported[d] for d in back2)
    # with_text: corpus columns ride along
    p3 = str(tmp_path / "export3")
    engine.export_matches(q, p3, with_text=True)
    assert "text" in spark.read.parquet(p3).columns
    # degenerate query exports an empty frame, returns 0
    p4 = str(tmp_path / "export4")
    assert engine.export_matches("and or", p4) == 0
    assert spark.read.parquet(p4).count() == 0


def test_filtered_msearch_matches_filtered_search(spark, tmp_path):
    """msearch(predicate=...) = filter context for the WHOLE batch:
    every routing arm (shared-scan or/and_not, batched phrase, compiled
    mixed fallback) must return exactly the per-query filtered_search
    page — admitted-set top-k, scores untouched."""
    import shutil

    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    docs = [
        (i,
         "alpha beta" + (" gamma" if i % 3 == 0 else "")
         + (" delta" if i % 7 == 0 else "") + f" filler{i % 5}",
         ["en", "fr"][i % 2])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    )
    out = str(tmp_path / "idx")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4,
    )
    eng = SearchEngine(spark, out, cache=False)
    qs = {
        "q_or": "alpha or gamma",
        "q_andnot": "alpha and not gamma",
        "q_phrase": '"alpha beta"',
        # phrase inside a mixed tree: compiled per-query fallback
        "q_mixed": 'alpha and (gamma or "alpha beta") not delta',
        # term-only mixed tree: the shared map-aggregation arm
        "q_mixed_terms": "alpha and (gamma or delta) not filler0",
    }
    pred = "lang = 'en'"

    def check(engine):
        got = {}
        for r in engine.msearch(
            qs, top_k=5, corpus=corpus, predicate=pred
        ).collect():
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for qid, qstr in qs.items():
            want = [
                (r["doc_id"], r["score"])
                for r in engine.filtered_search(
                    qstr, corpus, pred, top_k=5
                ).collect()
            ]
            assert sorted(
                got.get(qid, []), key=lambda t: (-t[1], t[0])
            ) == want, qid
            assert all(d % 2 == 0 for d, _ in got.get(qid, [])), qid

    check(eng)
    # predicate without corpus fails loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="corpus"):
        eng.msearch(qs, top_k=5, predicate=pred)

    # same contract with a pending in-place update (masked main arm +
    # delta resurrection arm both ride the allowed semi-join)
    upd = str(tmp_path / "idx_upd")
    shutil.copytree(out, upd)
    indexer.update_docs(
        spark, upd,
        spark.createDataFrame(
            [(0, "alpha beta gamma updated", "en")],
            "doc_id long, text string, lang string",
        ),
    )
    corpus_upd = corpus.where("doc_id != 0").unionByName(
        spark.createDataFrame(
            [(0, "alpha beta gamma updated", "en")],
            "doc_id long, text string, lang string",
        )
    )
    eng2 = SearchEngine(spark, upd, cache=False)

    got = {}
    for r in eng2.msearch(
        qs, top_k=5, corpus=corpus_upd, predicate=pred
    ).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qstr in qs.items():
        want = [
            (r["doc_id"], r["score"])
            for r in eng2.filtered_search(
                qstr, corpus_upd, pred, top_k=5
            ).collect()
        ]
        assert sorted(
            got.get(qid, []), key=lambda t: (-t[1], t[0])
        ) == want, f"updated index: {qid}"


def test_percolate_per_query_filters(spark):
    """filters={query_id: predicate}: a filtered query fires only on
    docs its metadata predicate admits; unfiltered queries are
    untouched; every arm (batchable, phrase, mixed tree) respects it;
    unknown query ids fail fast."""
    from cs_search_engine_architecture_spark.operators.percolate import (
        percolate,
    )

    batch = spark.createDataFrame(
        [
            (0, "spark joins data fast", "en", "prod"),
            (1, "slow data scan", "fr", "prod"),
            (2, "spark window order by", "en", "stage"),
            (3, "the window order by clause", "fr", "prod"),
        ],
        "doc_id long, text string, lang string, env string",
    )
    qs = {
        "any_spark": "spark",                      # unfiltered
        "en_spark": "spark",                       # lang = en only
        "prod_or": "spark or data",                # env = prod only
        "en_phrase": '"window order"',             # phrase + lang filter
        "en_mixed": 'spark and (data or "x") not slow',  # mixed tree
    }
    filters = {
        "en_spark": "lang = 'en'",
        "prod_or": "env = 'prod'",
        "en_phrase": "lang = 'en'",
        "en_mixed": "lang = 'en'",
    }
    got = {
        (r["query_id"], r["doc_id"])
        for r in percolate(
            spark, qs, batch, analyzer="simple", filters=filters
        ).collect()
    }
    assert got == {
        ("any_spark", 0), ("any_spark", 2),   # unfiltered: both sparks
        ("en_spark", 0), ("en_spark", 2),     # both happen to be en
        ("prod_or", 0), ("prod_or", 1),       # doc 2 is stage: dropped
        ("en_phrase", 2),                     # doc 3 matches but is fr
        ("en_mixed", 0),                      # mixed tree + en filter
    }

    import pytest as _pt

    with _pt.raises(ValueError, match="unregistered"):
        percolate(
            spark, qs, batch, analyzer="simple",
            filters={"nosuch": "lang = 'en'"},
        ).collect()

    # misconfiguration fails fast even when the registry is empty (the
    # empty-result early return must not skip validation)
    with _pt.raises(ValueError, match="unregistered"):
        percolate(
            spark, {}, batch, analyzer="simple",
            filters={"nosuch": "lang = 'en'"},
        )

    # a NOT surviving to the top level (lazy algebra: "data or not
    # spark" = spark-docs minus data-docs, flag discarded — the
    # engine quirk) composed with a filter
    neg = {
        (r["query_id"], r["doc_id"])
        for r in percolate(
            spark, {"neg": "data or not spark"}, batch,
            analyzer="simple", filters={"neg": "lang = 'en'"},
        ).collect()
    }
    assert neg == {("neg", 2)}

    # two queries sharing one predicate text: grouped evaluation, same
    # results as separate predicates
    both = {
        (r["query_id"], r["doc_id"])
        for r in percolate(
            spark, {"a": "spark", "b": "data"}, batch, analyzer="simple",
            filters={"a": "lang = 'en'", "b": "lang = 'en'"},
        ).collect()
    }
    assert both == {("a", 0), ("a", 2), ("b", 0)}


def test_expansion_surfaces_filter_context(spark, tmp_path):
    """prefix/wildcard/regexp/boosted/fuzzy accept corpus=/predicate=:
    each filtered page equals the unfiltered ranking restricted to the
    admitted docs (filter context — scores untouched)."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    corpus = spark.createDataFrame(
        [
            (i,
             ("sparkly sparse sparing" if i % 4 == 0 else "sparse plain")
             + f" word{i % 6}",
             ["en", "fr"][i % 2])
            for i in range(24)
        ],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "idx")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4,
    )
    eng = SearchEngine(spark, out, cache=False)
    pred = "lang = 'en'"

    surfaces = [
        lambda e, **kw: e.prefix_search("spar", top_k=30, **kw),
        lambda e, **kw: e.wildcard_search("spa*e", top_k=30, **kw),
        lambda e, **kw: e.regexp_search("spar.*", top_k=30, **kw),
        lambda e, **kw: e.boosted_search(
            {"sparse": 2.0, "sparing": 0.5}, top_k=30, **kw
        ),
        lambda e, **kw: e.fuzzy_search(
            "sparsee", top_k=30, exclude_threshold=1, **kw
        ),
    ]
    for i, fn in enumerate(surfaces):
        base = [(r["doc_id"], r["score"]) for r in fn(eng).collect()]
        assert base, i  # the fixture must exercise each surface
        want = [(d, s) for d, s in base if d % 2 == 0]
        got = [
            (r["doc_id"], r["score"])
            for r in fn(eng, corpus=corpus, predicate=pred).collect()
        ]
        assert got == want, i

    import pytest as _pt

    with _pt.raises(ValueError, match="corpus"):
        eng.prefix_search("spar", predicate=pred)


def test_search_with_snippets_filter_context(spark, engine, docs):
    """--filter composes with snippets: the page is filtered_search's,
    the snippet contract is unchanged."""
    pred = "lang = 'en'"
    rows = engine.search_with_snippets(
        "spark and window", docs, top_k=5, predicate=pred
    ).collect()
    assert rows
    en_ids = {
        r["doc_id"] for r in docs.where(pred).select("doc_id").collect()
    }
    want = [
        (r["doc_id"], r["score"])
        for r in engine.filtered_search(
            "spark and window", docs, pred, top_k=5
        ).collect()
    ]
    assert sorted(
        ((r["doc_id"], r["score"]) for r in rows),
        key=lambda t: (-t[1], t[0]),
    ) == want
    for r in rows:
        assert r["doc_id"] in en_ids
        assert r["snippet"] and (
            r["snippet"] in r["text"] or r["snippet"] == r["text"]
        )


def test_matchset_surfaces_filter_context(spark, tmp_path):
    """collapse_search / top_hits_by_group / significant_terms /
    more_like_this accept predicate=: collapse/top-hits/mlt pages are
    the unfiltered ranking restricted to admitted docs; sigterms'
    foreground becomes query ∩ filter while the background stays the
    whole index."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    corpus = spark.createDataFrame(
        [
            (i,
             "alpha beta" + (" zeta zeta" if i % 2 == 0 else " omega"),
             ["en", "fr"][i % 2], f"s{i % 3}")
            for i in range(30)
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = str(tmp_path / "idx")
    src = str(tmp_path / "c.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)
    pred = "lang = 'en'"

    col_f = eng.collapse_search(
        "alpha", corpus, "source", top_k=30, per_group=1, predicate=pred
    ).collect()
    assert col_f and all(r["doc_id"] % 2 == 0 for r in col_f)
    # per-group winner among ADMITTED docs: the best en doc per source
    base = {
        r["doc_id"]: r["score"] for r in eng.search_df("alpha").collect()
    }
    for grp in {r["group"] for r in col_f}:
        winner = min(
            d for d in base if d % 2 == 0 and f"s{d % 3}" == grp
        )  # uniform scores -> lowest admitted doc_id wins
        assert any(r["doc_id"] == winner for r in col_f), grp

    th_f = eng.top_hits_by_group(
        "alpha", corpus, "source", hits_per_group=2, predicate=pred
    ).collect()
    assert th_f and all(r["doc_id"] % 2 == 0 for r in th_f)

    # sigterms: zeta only appears in en docs; with the en filter its
    # foreground = all admitted matches, score > 0; omega (fr-only)
    # must not appear at all
    st = eng.significant_terms(
        "alpha", corpus, top_n=5, predicate=pred
    ).collect()
    terms = {r["term"]: r["score"] for r in st}
    assert "zeta" in terms and terms["zeta"] > 0
    assert "omega" not in terms

    mlt = eng.more_like_this(0, top_k=8, corpus=corpus, predicate=pred)
    got = [(r["doc_id"], r["score"]) for r in mlt.collect()]
    assert got and all(d % 2 == 0 for d, _ in got)
    unfiltered = [
        (r["doc_id"], r["score"])
        for r in eng.more_like_this(0, top_k=60, corpus=corpus).collect()
    ]
    want = [(d, s) for d, s in unfiltered if d % 2 == 0][:8]
    assert got == want
