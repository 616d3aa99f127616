"""The single-term route (strategy ``single_term_blockmax``: the WAND
kernel over one term on the cached pre-sharded frame) against the
reference ``OracleIndex``: rare, mid and hot (salted) terms, k beyond
the posting list, a missing term, and a shard-split layout."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import wand
from cs_search_engine_architecture_spark.operators.indexer import build_index
from cs_search_engine_architecture_spark.oracle.reference import OracleIndex
from cs_search_engine_architecture_spark.sources.corpus import synth_source_files

IDX = "/tmp/spark_sea_test_blockmax_idx"
SPLIT_IDX = "/tmp/spark_sea_test_blockmax_split_idx"


def _oracle(corpus) -> OracleIndex:
    return OracleIndex(
        [(r["doc_id"], [r["path"], r["content"]])
         for r in corpus.select("doc_id", "path", "content").collect()]
    )


@pytest.fixture(scope="module")
def engine_oracle(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    corpus = synth_source_files(spark, 4000, parallelism=8)
    build_index(
        spark, corpus, IDX, fields=["path", "content"],
        analyzer="reference", num_buckets=8, block_size=32,
        hot_df=256, group_span=256,  # force salting + many blocks
        corpus_path="synth:4000",
    )
    return SearchEngine(spark, IDX), _oracle(corpus)


@pytest.fixture(scope="module")
def engine(engine_oracle):
    return engine_oracle[0]


def _routed(engine, query, k):
    got = engine.search_collect(query, k)
    assert engine.last_strategy == "single_term_blockmax", query
    return got


@pytest.mark.parametrize("term", ["index", "spark", "data", "merge", "2024"])
@pytest.mark.parametrize("k", [1, 10, 100])
def test_blockmax_equals_naive(engine_oracle, term, k):
    """Routed top-k == the oracle's full-list sort (ids and float32
    scores exact)."""
    engine, oracle = engine_oracle
    assert _routed(engine, term, k) == oracle.search(term, k)


def test_blockmax_k_exceeds_postings(engine_oracle):
    # a rare term: k far beyond df returns every posting, same order
    engine, oracle = engine_oracle
    stats = {
        r["term"]: r["df"]
        for r in engine.term_stats().orderBy("df", "term").limit(5).collect()
    }
    term = min(stats, key=stats.get)
    got = _routed(engine, term, 10_000)
    assert got == oracle.search(term, 10_000)
    assert len(got) == stats[term]


def test_blockmax_hot_salted_term(engine_oracle):
    """The hottest term is salted into many doc groups and blocks; its
    top-k (and its whole list) still equals the oracle's."""
    engine, oracle = engine_oracle
    hot = engine.term_stats().orderBy(F.desc("df"), "term").first()
    assert hot["df"] > 256  # above hot_df: salted
    n_blocks = engine.blocks.where(F.col("term") == hot["term"]).count()
    assert n_blocks * 32 >= hot["df"] and n_blocks > 8
    for k in (10, hot["df"] + 5):
        assert _routed(engine, hot["term"], k) == oracle.search(hot["term"], k)


def test_blockmax_missing_term(engine_oracle):
    engine, oracle = engine_oracle
    assert _routed(engine, "zzzzunseen", 10) == []
    assert oracle.search("zzzzunseen", 10) == []


def test_search_routes_single_token_through_blockmax(engine):
    # engine.search on a 1-token query must produce the identical result
    got = _routed(engine, "spark", 15)
    want = [
        (r["doc_id"], float(__import__("numpy").float32(r["score"])))
        for r in engine.search_df("spark")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
        .collect()
    ]
    assert got == want


def test_blockmax_prunes_blocks(engine, monkeypatch):
    """The skip must actually skip: the WAND kernel's bound-ordered
    decode of a mid-frequency term's top-10 opens fewer blocks than the
    term has, and still returns the exact top-10."""
    mid = (
        engine.term_stats()
        .where((F.col("df") > 200) & (F.col("df") < 2000))
        .orderBy("term")
        .limit(1)
        .collect()
    )
    term = mid[0]["term"]
    pdf = (
        engine.blocks.where(F.col("term") == term)
        .select("term", "first_doc", "last_doc", "count", "max_score",
                "min_score", "doc_ids_bin", "scores_bin")
        .toPandas()
    )
    opened = []
    decode = wand._decode_block

    def counting(*args):
        opened.append(1)
        return decode(*args)

    monkeypatch.setattr(wand, "_decode_block", counting)
    out = wand.shard_wand_topk(pdf, 10, lo=0, hi=1 << 40, chunk=64)
    assert 0 < len(opened) < len(pdf)
    want = [
        (r["doc_id"], r["score"])
        for r in engine.compiler._leaf(term)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    ]
    assert list(zip(out["doc_id"].tolist(), out["score"].tolist())) == want


def test_blockmax_shard_split_layout(spark):
    """16-doc shards of 3-posting blocks, salted from df 4 in 8-doc
    groups: a term's list spans many shards and the merge of shard-local
    top-ks must still equal the oracle, for every k."""
    shutil.rmtree(SPLIT_IDX, ignore_errors=True)
    corpus = synth_source_files(spark, 160, parallelism=4)
    build_index(
        spark, corpus, SPLIT_IDX, fields=["path", "content"],
        analyzer="reference", num_buckets=4, block_size=3, hot_df=4,
        group_span=8, shard_span=16, corpus_path="synth:160",
    )
    engine = SearchEngine(spark, SPLIT_IDX, cache=False)
    oracle = _oracle(corpus)
    terms = [
        r["term"]
        for r in engine.term_stats().where("df >= 3")
        .orderBy(F.desc("df"), "term").limit(6).collect()
    ]
    assert len(terms) == 6
    for term in terms:
        for k in (3, 1000):
            assert _routed(engine, term, k) == oracle.search(term, k), term
    shutil.rmtree(SPLIT_IDX, ignore_errors=True)
