"""Tombstone deletes + compaction: deleted docs vanish from every query
surface with Lucene-style stale-stats semantics (scores of survivors are
unchanged until compaction), and compact_index rebuilds fresh statistics
equal to a from-scratch build over the surviving corpus."""

import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import indexer

DOCS = [
    (0, "spark shuffle makes wide plans fast"),
    (1, "hash join beats merge join on small tables"),
    (2, "sorted merge join shines for big runs"),
    (3, "the planner picks hash join or merge join"),
    (4, "spark planner prefers broadcast hash join"),
    (5, "a shuffle heavy query with skewed keys"),
    (6, "spark spark spark repeated for frequency"),
    (7, "delta gap varint blocks compress postings"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("maint") / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path_factory.mktemp("maint_src") / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    return out, corpus


def _ranked(eng, query, k=10):
    return [(r["doc_id"], round(r["score"], 6)) for r in eng.search(query, k).collect()]


def test_delete_masks_all_query_surfaces(spark, built):
    out, _ = built
    before = SearchEngine(spark, out, cache=False)
    full = _ranked(before, "spark or join")
    victims = [full[0][0], full[2][0]]
    assert indexer.delete_docs(spark, out, victims) == 2

    after = SearchEngine(spark, out, cache=False)
    got = _ranked(after, "spark or join")
    # stale-stats semantics: survivors keep their scores and order
    want = [(d, s) for d, s in full if d not in victims]
    assert got == want

    # single-term path (would otherwise use block-max) is masked too
    single = [r["doc_id"] for r in after.search("spark", 10).collect()]
    assert set(single).isdisjoint(victims)
    assert set(single) == {
        r["doc_id"] for r in before.search("spark", 10).collect()
    } - set(victims)

    # batched path: both the shared-scan branch and the fallback branch
    rows = after.msearch(
        {"a": "spark or join", "b": "join and not merge"}, top_k=10
    ).collect()
    assert all(r["doc_id"] not in victims for r in rows)
    got_a = sorted(
        ((r["doc_id"], round(r["score"], 6)) for r in rows if r["query_id"] == "a"),
        key=lambda t: (-t[1], t[0]),
    )
    assert got_a == sorted(want, key=lambda t: (-t[1], t[0]))


def test_delete_accumulates_and_dedupes(spark, built):
    out, _ = built
    indexer.delete_docs(spark, out, [7])
    indexer.delete_docs(spark, out, [7])  # idempotent at read time
    tomb = indexer.load_tombstones(spark, out)
    ids = sorted(r["doc_id"] for r in tomb.collect())
    assert ids == sorted(set(ids)), "tombstones must dedupe"
    assert 7 in ids
    eng = SearchEngine(spark, out, cache=False)
    assert all(r["doc_id"] != 7 for r in eng.search("delta or varint", 10).collect())


def test_compact_rebuilds_fresh_stats(spark, built, tmp_path):
    out, corpus = built
    compacted = str(tmp_path / "compacted")
    meta = indexer.compact_index(spark, out, compacted)

    tomb = {r["doc_id"] for r in indexer.load_tombstones(spark, out).collect()}
    survivors = corpus.where(~F.col("doc_id").isin(list(tomb)))
    fresh = str(tmp_path / "fresh")
    fresh_meta = indexer.build_index(
        spark, survivors, fresh, fields=["text"], analyzer="simple", num_buckets=4
    )
    assert meta["num_documents"] == fresh_meta["num_documents"]
    assert meta["num_postings"] == fresh_meta["num_postings"]

    ec = SearchEngine(spark, compacted, cache=False)
    ef = SearchEngine(spark, fresh, cache=False)
    assert ec.tombstones is None  # compacted index has no mask
    for q in ["spark or join", "hash join", "spark and not merge"]:
        assert _ranked(ec, q) == _ranked(ef, q), q


def test_add_docs_frozen_stats(spark, tmp_path):
    import math

    import numpy as np

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng0 = SearchEngine(spark, out, cache=False)
    before = _ranked(eng0, "spark or join")
    meta = indexer.load_meta(out)

    new_rows = [
        (100, "spark joins the new spark world of spark"),
        (101, "entirely novel zzzterm content here"),
    ]
    dmeta = indexer.add_docs(
        spark, out, spark.createDataFrame(new_rows, "doc_id long, text string")
    )
    assert dmeta["num_documents"] == 2

    eng1 = SearchEngine(spark, out, cache=False)
    after = _ranked(eng1, "spark or join")
    # frozen stats: every pre-existing doc keeps its exact score
    assert {d: s for d, s in after if d < 100} == dict(before)

    # the new doc scores with the FROZEN base idf/avgdl
    stats = {
        r["term"]: r["idf"]
        for r in indexer.load_term_stats(spark, out).collect()
    }
    got100 = dict(after)[100]
    fl = 8  # tokens in doc 100
    tf_part = 3.0 / (1.75 + 0.25 * fl / meta["avg_field_lengths"][0])
    want = np.float32(stats["spark"] * (tf_part * 2.5) / (tf_part + 1.5))
    assert got100 == pytest.approx(float(want), rel=1e-5)

    # a term unseen at base-build time gets the df=0 frozen idf
    z = eng1.search("zzzterm", 10).collect()
    assert [r["doc_id"] for r in z] == [101]
    idf0 = math.log((meta["num_documents"] + 0.5) / 0.5)
    zfl = 5
    ztf = 1.0 / (1.75 + 0.25 * zfl / meta["avg_field_lengths"][0])
    assert z[0]["score"] == pytest.approx(
        float(np.float32(idf0 * (ztf * 2.5) / (ztf + 1.5))), rel=1e-5
    )

    # inserts only: re-adding an existing doc_id is rejected
    with pytest.raises(ValueError):
        indexer.add_docs(
            spark, out,
            spark.createDataFrame([(100, "dup")], "doc_id long, text string"),
        )

    # deletes compose with adds (mask applies across segments)
    indexer.delete_docs(spark, out, [100])
    eng2 = SearchEngine(spark, out, cache=False)
    assert all(r["doc_id"] != 100 for r in eng2.search("spark", 10).collect())

    # compaction folds base + delta - tombstones into fresh stats
    compacted = str(tmp_path / "compacted")
    cmeta = indexer.compact_index(spark, out, compacted)
    assert cmeta["num_documents"] == len(DOCS) + 1  # +101, -100
    ec = SearchEngine(spark, compacted, cache=False)
    assert [r["doc_id"] for r in ec.search("zzzterm", 10).collect()] == [101]


def test_fastpath_overfetch_boundary(spark, tmp_path):
    """Small top_k with the rank-1 doc deleted: the single-term fast
    path over-fetches k+T, masks, and must return exactly the original
    ranks 2..k+1 (the exactness argument: T deletions promote at most T
    docs into the top-k)."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    base = SearchEngine(spark, out, cache=False)
    full = _ranked(base, "spark", k=10)
    assert len(full) >= 3
    indexer.delete_docs(spark, out, [full[0][0]])
    eng = SearchEngine(spark, out, cache=False)
    assert eng._num_tombstones() == 1
    got = _ranked(eng, "spark", k=2)
    assert got == full[1:3]


def test_prefix_search_equals_or_expansion(spark, tmp_path):
    """prefix_search('s') must equal the explicit OR over the matched
    dictionary terms (same scores), respect max_expansion (rarest-df
    terms kept), and return empty on a no-match prefix."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    terms = sorted(
        r["term"]
        for r in eng.term_stats().where("term LIKE 's%'").collect()
    )
    assert len(terms) >= 3  # shuffle, sorted, spark, small, skewed, shines...
    want = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.search(" or ".join(terms), 10).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.prefix_search("s", 10).collect()
    }
    assert got == want

    capped = eng.prefix_search("s*", 10, max_expansion=1).collect()
    # cap keeps the rarest term; every hit must contain it
    rare = (
        eng.term_stats().where("term LIKE 's%'")
        .orderBy("df", "term").limit(1).collect()[0]["term"]
    )
    rare_docs = {d for d, t in DOCS if rare in t.split()}
    assert {r["doc_id"] for r in capped} <= rare_docs
    assert eng.prefix_search("zzz", 10).count() == 0


def test_fuzzy_search_expansion_and_exact_identity(spark, tmp_path):
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)

    # exact token at a high threshold expands to itself (sim 1.0) only:
    # fuzzy == plain search, scores included
    want = _ranked(eng, "spark")
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in eng.fuzzy_search("spark", 10, min_similarity=0.9,
                                  exclude_threshold=1).collect()
    ]
    assert got == want

    # a typo reaches the intended term's docs, weighted by similarity
    hits = eng.fuzzy_search(
        "sprk", 10, min_similarity=0.2, exclude_threshold=1
    ).collect()
    spark_docs = {d for d, t in DOCS if "spark" in t.split()}
    assert spark_docs <= {r["doc_id"] for r in hits}

    # nothing similar -> empty
    assert eng.fuzzy_search("qqqq", 10, min_similarity=0.5,
                            exclude_threshold=1).count() == 0


def test_plan_info_reports_routing(spark, tmp_path):
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    # introspection runs nothing: no Spark job is submitted while the
    # single-term and tree routes plan on a clean index
    sc = spark.sparkContext
    sc.setJobGroup("plan_info_probe", "plan_info must not submit jobs")
    try:
        one = eng.plan_info("spark")
        many = eng.plan_info("spark or join")
        assert sc.statusTracker().getJobIdsForGroup("plan_info_probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert one["strategy"] == "single_term_blockmax"
    assert one["terms"] == ["spark"]
    assert "TakeOrderedAndProject" in one["physical_plan"] or "Sort" in one["physical_plan"]
    assert many["strategy"] == "tree_sharded"  # < 1M postings: tree kernel
    assert many["tombstones"] == 0 and many["delta_segments"] == 0
    indexer.delete_docs(spark, out, [0])
    eng2 = SearchEngine(spark, out, cache=False)
    assert eng2.plan_info("spark")["tombstones"] == 1


def test_tombstones_mask_semantic_arm(spark, tmp_path):
    """Deleted docs must not resurface through the semantic/hybrid arm
    (the embeddings table knows nothing about tombstones)."""
    from cs_search_engine_architecture_spark.operators import text_analysis as TA

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    emb = TA.hash_embeddings(corpus).withColumnRenamed("doc_id", "vec_id")
    qvec = TA.hash_embed_text(DOCS[2][1])  # doc 2's own text
    eng0 = SearchEngine(spark, out, cache=False)
    assert eng0.semantic_search(emb, qvec, 3).collect()[0]["doc_id"] == 2

    indexer.delete_docs(spark, out, [2])
    eng = SearchEngine(spark, out, cache=False)
    sem = eng.semantic_search(emb, qvec, 3).collect()
    assert len(sem) == 3 and all(r["doc_id"] != 2 for r in sem)
    hyb = eng.combined_search("merge join", emb, qvec, top_k=10).collect()
    assert all(r["doc_id"] != 2 for r in hyb) and hyb


def test_merge_deltas_score_identity(spark, tmp_path):
    """Merging N delta segments into one must be invisible to queries:
    frozen-stats scoring makes every (doc_id, score) bit-identical
    before and after, tombstones still apply, and only one delta dir
    remains."""
    import os

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    for i, text in enumerate(
        ["spark arrives later", "join arrives last", "merge lands too"]
    ):
        indexer.add_docs(
            spark, out,
            spark.createDataFrame([(200 + i, text)], "doc_id long, text string"),
        )
    indexer.delete_docs(spark, out, [201])
    before_eng = SearchEngine(spark, out, cache=False)
    queries = ["spark or join", "merge", "spark and not merge"]
    before = {q: _ranked(before_eng, q) for q in queries}
    assert len(indexer._delta_dirs(out)) == 3

    meta = indexer.merge_deltas(spark, out)
    assert meta["num_documents"] == 3 and meta["segment"] == 0
    dirs = indexer._delta_dirs(out)
    assert [os.path.basename(d) for d in dirs] == ["delta_00000"]

    after_eng = SearchEngine(spark, out, cache=False)
    for q in queries:
        assert _ranked(after_eng, q) == before[q], q
    assert all(r["doc_id"] != 201
               for r in after_eng.search("join", 10).collect())
    # idempotent no-op on a single segment
    assert indexer.merge_deltas(spark, out) is None


def test_update_docs_in_place(spark, tmp_path):
    """In-place update: same doc_id, new text — the doc serves its NEW
    version (frozen-stats delta score, no double-scoring, no stale
    version on any surface) while every other doc keeps its exact
    score; compaction folds the update into a fresh build."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    before = _ranked(SearchEngine(spark, out, cache=False), "spark or join")

    new_text = "updated qqnewterm text mentions join and join again"
    indexer.update_docs(
        spark, out,
        spark.createDataFrame([(0, new_text)], "doc_id long, text string"),
    )
    eng = SearchEngine(spark, out, cache=False)

    # old-version-only term no longer matches doc 0
    assert all(
        r["doc_id"] != 0 for r in eng.search("shuffle", 10).collect()
    )
    # new-version-only term matches doc 0 (delta arm serves it)
    assert [r["doc_id"] for r in eng.search("qqnewterm", 10).collect()] == [0]

    # the doc appears ONCE with its delta score; everyone else exact
    after = _ranked(eng, "spark or join")
    ids = [d for d, _ in after]
    assert ids.count(0) == 1
    assert {d: s for d, s in after if d != 0} == {
        d: s for d, s in before if d != 0
    }

    # score parity: a FRESH id added with the same text to a copy of the
    # pre-update index gets the identical frozen-stats score
    import shutil

    copy = str(tmp_path / "idx_copy")
    shutil.copytree(out, copy)
    shutil.rmtree(copy + "/tombstones"); shutil.rmtree(copy + "/updated_ids")
    indexer.add_docs(
        spark, copy,
        spark.createDataFrame([(900, new_text)], "doc_id long, text string"),
        segment=1,
    )
    ceng = SearchEngine(spark, copy, cache=False)
    s900 = {d: s for d, s in _ranked(ceng, "spark or join")}[900]
    assert dict(after)[0] == s900

    # surfaces: search_df, msearch fallback, fuzzy, plan_info routing
    assert [r["doc_id"] for r in eng.search_df("qqnewterm").collect()] == [0]
    rows = eng.msearch({"a": "spark or join", "b": "qqnewterm"}, top_k=10)
    got = {(r["query_id"], r["doc_id"]) for r in rows.collect()}
    assert ("b", 0) in got
    assert [d for q, d in got if q == "a"].count(0) == 1
    assert eng.plan_info("spark or join", 5)["strategy"] == (
        "tree_sharded+delta_arm"
    )
    fz = eng.fuzzy_search("qqnewterm", 10)
    assert [r["doc_id"] for r in fz.collect()] == [0] or fz.count() == 0

    # current_corpus serves the new text under the same id
    cur = {r["doc_id"]: r["text"] for r in eng.current_corpus().collect()}
    assert cur[0] == new_text and len(cur) == len(DOCS)

    # snippets come from the new version
    sn = eng.search_with_snippets("qqnewterm", eng.current_corpus(), 5)
    srow = sn.collect()
    assert len(srow) == 1 and "qqnewterm" in srow[0]["snippet"]

    # RE-update between compactions: latest version wins on every
    # surface; the stale delta version is retired by the targeted
    # delta-tier rebuild, other docs keep their exact scores
    third_text = "freshest qqthirdterm replaces the middle join version"
    indexer.update_docs(
        spark, out,
        spark.createDataFrame([(0, third_text)], "doc_id long, text string"),
    )
    eng3 = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng3.search("qqthirdterm", 10).collect()] == [0]
    assert all(
        r["doc_id"] != 0 for r in eng3.search("qqnewterm", 10).collect()
    )
    after3 = _ranked(eng3, "spark or join")
    assert [d for d, _ in after3].count(0) == 1
    assert {d: s for d, s in after3 if d != 0} == {
        d: s for d, s in before if d != 0
    }
    cur3 = {r["doc_id"]: r["text"] for r in eng3.current_corpus().collect()}
    assert cur3[0] == third_text and len(cur3) == len(DOCS)
    # roll doc 0 back to the round-2 text so the assertions below
    # (which reference new_text) stay meaningful
    indexer.update_docs(
        spark, out,
        spark.createDataFrame([(0, new_text)], "doc_id long, text string"),
    )
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("qqnewterm", 10).collect()] == [0]
    assert all(
        r["doc_id"] != 0 for r in eng.search("qqthirdterm", 10).collect()
    )

    # guard rails
    with pytest.raises(ValueError):  # unknown id
        indexer.update_docs(
            spark, out,
            spark.createDataFrame([(777, "x")], "doc_id long, text string"),
        )
    # updating a DELETED base id resurrects it (upsert semantics) —
    # delete doc 7, resurrect it with new content, then delete it again
    # so the compaction expectations below still hold
    indexer.delete_docs(spark, out, [7])
    indexer.update_docs(
        spark, out,
        spark.createDataFrame(
            [(7, "qqrisen from the tombstone")], "doc_id long, text string"
        ),
    )
    er = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in er.search("qqrisen", 10).collect()] == [7]
    indexer.delete_docs(spark, out, [7])
    er2 = SearchEngine(spark, out, cache=False)
    assert er2.search("qqrisen", 10).count() == 0

    # compaction folds the update with NO special casing
    compacted = str(tmp_path / "compacted")
    cmeta = indexer.compact_index(spark, out, compacted)
    assert cmeta["num_documents"] == len(DOCS) - 1  # -7 (deleted)
    ec = SearchEngine(spark, compacted, cache=False)
    assert ec.updated_ids is None  # fresh index: fast paths restored
    assert [r["doc_id"] for r in ec.search("qqnewterm", 10).collect()] == [0]
    assert all(r["doc_id"] != 0 for r in ec.search("shuffle", 10).collect())


def test_wildcard_search_matches_or_expansion(spark, tmp_path):
    """wildcard_search must equal the explicit OR over the dictionary
    terms its pattern matches (differential target: fnmatch — an
    independent glob implementation), with '?' = exactly one char and
    '*' allowed anywhere (leading included)."""
    import fnmatch
    import re

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    vocab = sorted(r["term"] for r in eng.term_stats().collect())
    for pattern in ("s*k", "*oin", "?ig", "m*e", "*a*e?"):
        rx = re.compile(fnmatch.translate(pattern))
        matched = [t for t in vocab if rx.match(t)]
        if matched:
            want = {
                (r["doc_id"], round(r["score"], 6))
                for r in eng.search(" or ".join(matched), 10).collect()
            }
        else:
            want = set()
        got = {
            (r["doc_id"], round(r["score"], 6))
            for r in eng.wildcard_search(pattern, 10).collect()
        }
        assert got == want, pattern
    # '?' consumes exactly one char: no vocab term is 9 chars starting
    # 'shufflee', so this must be empty (while 'shuffle*' is not)
    assert eng.wildcard_search("shufflee?", 10).count() == 0


def test_more_like_this_matches_manual_expansion(spark, tmp_path):
    """more_like_this(seed) must equal the OR search over the seed's
    top tf·idf terms (manually recomputed from tokenize + term_stats)
    with the seed excluded, honour max_terms, and return empty for a
    missing seed id."""
    from cs_search_engine_architecture_spark.functions.tokenizer import (
        tokenize,
    )

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    seed = 6  # "spark spark spark repeated for frequency"
    toks, _ = tokenize(dict(DOCS)[seed], analyzer="simple")
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    idf = {r["term"]: r["idf"] for r in eng.term_stats().collect()}
    ranked = sorted(
        ((t, tf[t] * idf[t]) for t in tf), key=lambda kv: (-kv[1], kv[0])
    )
    for max_terms in (2, 25):
        terms = [t for t, _ in ranked[:max_terms]]
        want = {
            (r["doc_id"], round(r["score"], 6))
            for r in eng.search(" or ".join(terms), 11).collect()
            if r["doc_id"] != seed
        }
        # re-limit: the engine fetches k+1 then drops the seed
        want = set(sorted(want, key=lambda x: (-x[1], x[0]))[:10])
        got = {
            (r["doc_id"], round(r["score"], 6))
            for r in eng.more_like_this(
                seed, 10, max_terms=max_terms, corpus=corpus
            ).collect()
        }
        assert got == want, max_terms
        assert seed not in {d for d, _ in got}
    assert eng.more_like_this(999, 10, corpus=corpus).count() == 0


def test_regexp_search_matches_or_expansion(spark, tmp_path):
    """regexp_search must equal the explicit OR over the dictionary
    terms the anchored pattern fullmatches (differential target:
    python re.fullmatch — an independent regex engine)."""
    import re

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    vocab = sorted(r["term"] for r in eng.term_stats().collect())
    for pattern in ("s.*k", "(hash|merge)", "jo.n", "[a-z]{3}", "zz+"):
        matched = [t for t in vocab if re.fullmatch(pattern, t)]
        if matched:
            want = {
                (r["doc_id"], round(r["score"], 6))
                for r in eng.search(" or ".join(matched), 10).collect()
            }
        else:
            want = set()
        got = {
            (r["doc_id"], round(r["score"], 6))
            for r in eng.regexp_search(pattern, 10).collect()
        }
        assert got == want, pattern


def test_boosted_search_weighted_sum(spark, tmp_path):
    """boosted_search: all-1.0 boosts must equal the plain OR search;
    non-uniform boosts must equal the manually recomputed
    Σ boost·BM25 over per-term single-term scores."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    plain = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.search("spark or join", 10).collect()
    }
    unit = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.boosted_search({"spark": 1.0, "join": 1.0}, 10).collect()
    }
    assert unit == plain

    per_term = {}
    for t in ("spark", "join"):
        for r in eng.search(t, 10).collect():
            per_term.setdefault(r["doc_id"], {})[t] = r["score"]
    boosts = {"spark": 2.0, "join": 0.25}
    want = {
        (d, round(sum(boosts[t] * s for t, s in ts.items()), 6))
        for d, ts in per_term.items()
    }
    got = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.boosted_search(boosts, 10).collect()
    }
    assert got == want


def test_synonym_search_equals_rewritten_query(spark, tmp_path):
    """synonym_search must produce byte-identical results to the
    explicitly parenthesized OR query it claims to rewrite into —
    single-term synonyms, multi-term (phrase) synonyms, and the no-op
    (empty map / unknown key) case."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)

    def rows(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    # no-op: empty map and a key absent from the query
    assert rows(eng.synonym_search("spark AND join", {})) == rows(
        eng.search("spark AND join", 10)
    )
    assert rows(
        eng.synonym_search("spark AND join", {"varint": ["gap"]})
    ) == rows(eng.search("spark AND join", 10))

    # single-term synonym == explicit OR group
    assert rows(
        eng.synonym_search("hash AND join", {"hash": ["sorted"]})
    ) == rows(eng.search("(hash OR sorted) AND join", 10))

    # multi-term synonym == phrase alternative
    assert rows(
        eng.synonym_search("spark AND fast", {"spark": ["merge join"]})
    ) == rows(eng.search('(spark OR "merge join") AND fast', 10))

    # a synonym on one side of AND NOT rides the De Morgan algebra
    assert rows(
        eng.synonym_search("join AND NOT spark", {"join": ["shuffle"]})
    ) == rows(eng.search("(join OR shuffle) AND NOT spark", 10))


def test_rescore_search_matches_manual_combine(spark, tmp_path):
    """rescore_search == manual query_weight·bm25 +
    rescore_weight·proximity over the base query's top-``window`` docs
    (ES rescore, score_mode total), and docs outside the window never
    enter the result no matter their proximity score."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)

    qw, rw, slop = 0.7, 1.5, 12
    base = [
        (r["doc_id"], r["score"])
        for r in eng.search("join or spark", 10).collect()
    ]
    prox = {
        r["doc_id"]: r["score"]
        for r in eng.proximity_search("hash join", slop, top_k=10).collect()
    }

    for window in (3, 100):
        head = base[:window]
        want = sorted(
            (
                (d, round(qw * s + rw * prox.get(d, 0.0), 9))
                for d, s in head
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.rescore_search(
                "join or spark",
                "hash join",
                top_k=5,
                window=window,
                query_weight=qw,
                rescore_weight=rw,
                slop=slop,
            ).collect()
        ]
        assert got == want, (window, got, want)
    assert eng.last_strategy == "rescore_window"

    # empty rescore phrase degrades to the plain base query
    assert [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.rescore_search("join or spark", [], top_k=5).collect()
    ] == [(d, round(s, 9)) for d, s in base[:5]]


PROX_DOCS = [
    (0, "alpha beta gamma delta"),
    (1, "beta alpha something else alpha"),
    (2, "alpha xx xx xx xx xx xx xx beta"),
    (3, "gamma delta epsilon"),
    (4, "alphabet soup beta"),
]


def _prox_oracle(terms, slop, ordered):
    """Independent brute-force proximity match over PROX_DOCS: char
    positions via re.finditer. ordered = each CONSECUTIVE pair has
    some occurrence with gap in [0, slop], judged independently per
    pair — exactly the chained two-pointer semantics the reference's
    phrase constraint (and hence the engine's join chain) has; the
    intermediate positions need not be one consistent walk. unordered
    = some single choice of one position per term with max-min <=
    slop (one consistent combo, the nested-exists semantics)."""
    import itertools
    import re

    out = set()
    for doc_id, text in PROX_DOCS:
        pos = {
            t: [
                m.start()
                for m in re.finditer(r"[a-z0-9]+", text.lower())
                if m.group() == t
            ]
            for t in set(terms)
        }
        if any(not pos[t] for t in terms):
            continue
        if ordered:
            ok = all(
                any(
                    0 <= q - p <= slop
                    for p in pos[terms[i]]
                    for q in pos[terms[i + 1]]
                )
                for i in range(len(terms) - 1)
            )
        else:
            ok = any(
                max(combo) - min(combo) <= slop
                for combo in itertools.product(*(pos[t] for t in terms))
            )
        if ok:
            out.add(doc_id)
    return out


def test_proximity_search_matches_bruteforce(spark, tmp_path):
    """proximity_search vs an independent char-position brute force,
    ordered and unordered, several slops and arities; ordered slop=10
    must equal the reference phrase window exactly."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(PROX_DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    cases = [
        (["alpha", "beta"], 10, True),
        (["alpha", "beta"], 10, False),
        (["alpha", "beta"], 40, True),
        (["alpha", "beta"], 40, False),
        (["beta", "alpha"], 12, True),
        (["alpha", "beta", "gamma"], 40, False),
        (["alpha", "beta", "gamma"], 12, True),
    ]
    for terms, slop, ordered in cases:
        want = _prox_oracle(terms, slop, ordered)
        got = {
            r["doc_id"]
            for r in eng.proximity_search(
                terms, slop, top_k=10, ordered=ordered
            ).collect()
        }
        assert got == want, (terms, slop, ordered)

    phrase = {
        r["doc_id"] for r in eng.search_df('"alpha beta"').collect()
    }
    prox10 = {
        r["doc_id"] for r in eng.proximity_search("alpha beta", 10).collect()
    }
    assert prox10 == phrase
    # scores are phrase parity: sum of the matched terms' BM25
    ps = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.search('"alpha beta"', 10).collect()
    }
    xs = {
        (r["doc_id"], round(r["score"], 6))
        for r in eng.proximity_search("alpha beta", 10, top_k=10).collect()
    }
    assert xs == ps


def test_proximity_search_under_updates(spark, tmp_path):
    """proximity must be update-aware: an in-place update that moves
    the terms together starts matching (delta arm), one that moves
    them apart stops matching (tombstone mask kills the old version)."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(PROX_DOCS, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    indexer.update_docs(
        spark, out,
        spark.createDataFrame(
            [(3, "gamma alpha beta epsilon"),   # now matches tight
             (0, "alpha far far far far far far far far far beta")],
            "doc_id long, text string",
        ),
    )
    eng = SearchEngine(spark, out, cache=False)
    got = {
        r["doc_id"]
        for r in eng.proximity_search("alpha beta", 10, top_k=10).collect()
    }
    assert 3 in got          # resurrected from the delta arm
    assert 0 not in got      # old adjacent version masked
    assert eng.last_strategy == "proximity_join_update_arm"


def test_count_and_explain_score(spark, tmp_path):
    """count == full match-set size (masked after deletes); explain
    per-term contributions match the single-term searches and sum to
    the doc's OR score; a deleted doc explains as dead."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    assert eng.count("spark or join") == eng.search_df("spark or join").count()
    assert eng.count("zzznope") == 0

    per_term = {}
    for t in ("spark", "join"):
        for r in eng.search(t, 10).collect():
            per_term.setdefault(r["doc_id"], {})[t] = r["score"]
    target = 4  # "spark planner prefers broadcast hash join" — both terms
    exp = eng.explain_score("spark or join", target)
    assert exp["alive"] is True
    assert set(exp["terms"]) == {"spark", "join"}
    for t in ("spark", "join"):
        assert round(exp["terms"][t]["score"], 9) == round(
            per_term[target][t], 9
        )
        assert exp["terms"][t]["df"] >= 1
    or_scores = {
        r["doc_id"]: r["score"]
        for r in eng.search("spark or join", 10).collect()
    }
    assert round(exp["total"], 9) == round(or_scores[target], 9)

    n_before = eng.count("spark or join")
    indexer.delete_docs(spark, out, [target])
    eng2 = SearchEngine(spark, out, cache=False)
    assert eng2.count("spark or join") == n_before - 1
    dead = eng2.explain_score("spark", target)
    assert dead["alive"] is False and dead["terms"] == {}


def test_significant_terms_matches_manual_jlh(spark, tmp_path):
    """significant_terms == a python-recomputed JLH ranking over the
    match set (fg doc counts from re-tokenized matched docs, bg df
    from the dictionary), honouring min_doc_count; after a delete the
    dead doc stops contributing to the foreground."""
    import re

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    eng = SearchEngine(spark, out, cache=False)

    def manual(matched_ids, min_dc):
        toks = {
            d: set(re.findall(r"[a-z0-9]+", t.lower())) for d, t in DOCS
        }
        n = len(DOCS)
        fg_total = len(matched_ids)
        fg: dict[str, int] = {}
        for d in matched_ids:
            for t in toks[d]:
                fg[t] = fg.get(t, 0) + 1
        bg = {t: sum(1 for d in toks if t in toks[d]) for t in fg}
        rows = []
        for t, c in fg.items():
            if c < min_dc:
                continue
            fp, bp = c / fg_total, bg[t] / n
            rows.append((t, c, (fp - bp) * (fp / bp)))
        rows.sort(key=lambda r: (-r[2], r[0]))
        return rows

    matched = {r["doc_id"] for r in eng.search_df("join").collect()}
    want = [
        (t, c, round(s, 9)) for t, c, s in manual(matched, 2)[:5]
    ]
    got = [
        (r["term"], r["fg_count"], round(r["score"], 9))
        for r in eng.significant_terms("join", corpus, top_n=5).collect()
    ]
    assert got == want

    victim = sorted(matched)[0]
    indexer.delete_docs(spark, out, [victim])
    eng2 = SearchEngine(spark, out, cache=False)
    matched2 = matched - {victim}
    want2 = [
        (t, c, round(s, 9)) for t, c, s in manual(matched2, 2)[:5]
    ]
    got2 = [
        (r["term"], r["fg_count"], round(r["score"], 9))
        for r in eng2.significant_terms("join", top_n=5).collect()
    ]
    assert got2 == want2


def test_facet_counts_expression_buckets(spark, tmp_path):
    """facet_counts with a Column EXPRESSION (range/date-histogram
    facets): bucketing matched docs by a computed column must equal a
    manual recount over the match set."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    matched = {r["doc_id"] for r in eng.search_df("join").collect()}
    want: dict[int, int] = {}
    for d in matched:
        want[d // 3] = want.get(d // 3, 0) + 1
    got = {
        r["facet"]: r["doc_count"]
        for r in eng.facet_counts(
            "join", corpus, F.floor(F.col("doc_id") / 3), top_n=10
        ).collect()
    }
    assert got == want


def test_boosted_min_match(spark, tmp_path):
    """minimum_should_match: min_match=2 over a 2-term OR must equal
    the AND conjunction's doc set with the OR's scores; min_match=0/1
    equals the plain OR; AND semantics are unchanged by the >= filter."""
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    both = {"spark": 1.0, "join": 1.0}
    or_rows = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.boosted_search(both, 10).collect()
    }
    msm1 = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.boosted_search(both, 10, min_match=1).collect()
    }
    assert msm1 == or_rows
    and_docs = {r["doc_id"] for r in eng.search_df("spark and join").collect()}
    msm2 = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.boosted_search(both, 10, min_match=2).collect()
    }
    assert {d for d, _ in msm2} == and_docs
    assert msm2 <= or_rows  # same OR scores, restricted doc set
    # the relaxed >= filter leaves AND results untouched
    got_and = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.msearch({"a": "spark and join"}, top_k=10)
        .select("doc_id", "score").collect()
    }
    assert {d for d, _ in got_and} == and_docs


def test_collapse_search_per_group(spark, tmp_path):
    """Field collapsing: per_group=1 keeps only each group's best doc
    (engine total order), scores are the uncollapsed BM25, and
    per_group=2 admits the runner-up."""
    docs_g = [
        (0, "spark shuffle fast", "a"),
        (1, "spark spark heavy", "a"),
        (2, "spark light", "b"),
        (3, "spark medium load", "b"),
        (4, "unrelated text", "c"),
    ]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        docs_g, "doc_id long, text string, site string"
    )
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)
    full = {
        r["doc_id"]: r["score"] for r in eng.search("spark", 10).collect()
    }
    best = {}
    for d, s in full.items():
        g = dict((x[0], x[2]) for x in docs_g)[d]
        if g not in best or (-s, d) < (-full[best[g]], best[g]):
            best[g] = d
    want1 = {(best[g], round(full[best[g]], 9)) for g in best}
    got1 = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.collapse_search("spark", corpus, "site", 10).collect()
    }
    assert got1 == want1
    got2 = {
        r["doc_id"]
        for r in eng.collapse_search(
            "spark", corpus, "site", 10, per_group=2
        ).collect()
    }
    assert got2 == set(full)  # <=2 per group admits all 4 matching docs


def test_proximity_random_differential(spark, tmp_path):
    """Seeded random sweep: random corpus, random term pairs/triples,
    random slops, both orderings — every case vs an independent
    brute-force positional oracle (one engine build, many cases)."""
    import itertools
    import random
    import re

    rng = random.Random(0xC0FFEE)
    vocab = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
        for i in range(40)
    ]
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple", num_buckets=4
    )
    eng = SearchEngine(spark, out, cache=False)

    def oracle(terms, slop, ordered):
        # ordered: consecutive pairs judged INDEPENDENTLY (the chained
        # two-pointer phrase semantics); unordered: one consistent combo
        hits = set()
        for doc_id, text in docs:
            pos = {
                t: [
                    m.start()
                    for m in re.finditer(r"[a-z0-9]+", text)
                    if m.group() == t
                ]
                for t in set(terms)
            }
            if any(not pos[t] for t in terms):
                continue
            if ordered:
                ok = all(
                    any(
                        0 <= q - p <= slop
                        for p in pos[terms[i]]
                        for q in pos[terms[i + 1]]
                    )
                    for i in range(len(terms) - 1)
                )
            else:
                ok = any(
                    max(combo) - min(combo) <= slop
                    for combo in itertools.product(*(pos[t] for t in terms))
                )
            if ok:
                hits.add(doc_id)
        return hits

    for _ in range(12):
        arity = rng.choice([2, 2, 3])
        terms = rng.sample(vocab, arity)
        slop = rng.choice([4, 8, 16, 32, 64])
        ordered = rng.random() < 0.5
        want = oracle(terms, slop, ordered)
        got = {
            r["doc_id"]
            for r in eng.proximity_search(
                terms, slop, top_k=40, ordered=ordered
            ).collect()
        }
        assert got == want, (terms, slop, ordered)
