"""Partition-parallel block-max WAND: exact equality with the join-based
OR/AND paths across term mixes, k values, and shard spans (the build
span and its multiples — every layout a shard-aligned build admits)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import wand
from cs_search_engine_architecture_spark.operators.indexer import build_index
from cs_search_engine_architecture_spark.sources.corpus import synth_source_files

IDX = "/tmp/spark_sea_test_wand_idx"


@pytest.fixture(scope="module")
def engine(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    corpus = synth_source_files(spark, 4000, parallelism=8)
    build_index(
        spark, corpus, IDX, fields=["path", "content"],
        analyzer="reference", num_buckets=8, block_size=32,
        hot_df=128, group_span=128,  # many small salted blocks
        corpus_path="synth:4000",
        shard_span=512,  # 8 real shards over 4000 docs
    )
    return SearchEngine(spark, IDX)


def _or_join_topk(engine, terms, k):
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_tokens,
    )

    toks = []
    for i, t in enumerate(terms):
        if i:
            toks.append("or")
        toks.append(t)
    ast = parse_tokens(toks)
    return [
        (r["doc_id"], r["score"])
        for r in engine.compiler.compile(ast)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    ]


def _sharded_topk(engine, kind, terms, k, span=None):
    """Top-k through the one pre-sharded entry: over the engine's
    cached layout, or re-sharded at ``span`` (a multiple of the build
    span, so every block still lies in one shard)."""
    if span is None:
        span = engine.meta["wand_shard_span"]
        sharded = engine._wand_sharded()
    else:
        assert span % engine.meta["wand_shard_span"] == 0
        sharded = wand.preshard_blocks(engine.blocks, span, 8)
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in wand.wand_topk(sharded, kind, terms, k, span).collect()
    ]


def _wand_topk(engine, terms, k, span=None):
    return _sharded_topk(engine, "or", terms, k, span)


TERM_SETS = [
    ["index", "spark"],
    ["index", "spark", "data"],
    ["merg", "batch", "row"],  # stemmed index terms
    ["index", "zzznope"],  # one missing term
    ["2024", "index"],
]


@pytest.mark.parametrize("terms", TERM_SETS)
@pytest.mark.parametrize("k", [1, 10, 100])
def test_wand_equals_join_or(engine, terms, k):
    want = [(d, round(s, 9)) for d, s in _or_join_topk(engine, terms, k)]
    assert _wand_topk(engine, terms, k) == want


@pytest.mark.parametrize("span", [512, 1 << 10, 1 << 20])
def test_wand_shard_span_invariance(engine, span):
    terms = ["index", "spark", "data"]
    want = _wand_topk(engine, terms, 25)
    assert _wand_topk(engine, terms, 25, span=span) == want


def test_wand_single_term_matches_blockmax(engine):
    got = _wand_topk(engine, ["index"], 15)
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in engine._topk_single_term("index", 15).collect()
    ]
    assert got == want


def test_wand_k_exceeds_matches(engine):
    got = _wand_topk(engine, ["zzznope"], 10)
    assert got == []


# ----------------------------------------------------------- AND path

def _and_join_topk(engine, terms, k):
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_tokens,
    )

    toks = []
    for i, t in enumerate(terms):
        if i:
            toks.append("and")
        toks.append(t)
    ast = parse_tokens(toks)
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in engine.compiler.compile(ast)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    ]


def _wand_and(engine, terms, k, span=None):
    return _sharded_topk(engine, "and", terms, k, span)


AND_TERM_SETS = [
    ["index", "spark"],
    ["index", "spark", "data"],
    ["merg", "batch", "row"],
    ["index", "zzznope"],  # missing term -> empty
    ["2024", "index"],
]


@pytest.mark.parametrize("terms", AND_TERM_SETS)
@pytest.mark.parametrize("k", [1, 10, 100])
def test_wand_and_equals_join(engine, terms, k):
    assert _wand_and(engine, terms, k) == _and_join_topk(engine, terms, k)


@pytest.mark.parametrize("span", [512, 1 << 10, 1 << 20])
def test_wand_and_span_invariance(engine, span):
    terms = ["index", "spark", "data"]
    want = _wand_and(engine, terms, 25)
    assert _wand_and(engine, terms, 25, span=span) == want


def test_blocks_respect_shard_boundaries(engine):
    """shard_span-aligned build: no block's doc range crosses a shard."""
    span = engine.meta["wand_shard_span"]
    assert span == 512
    rows = engine.blocks.select("first_doc", "last_doc").collect()
    assert rows
    for r in rows:
        assert r["first_doc"] // span == r["last_doc"] // span, r


@pytest.mark.parametrize("terms", [["index", "spark"], ["merg", "batch", "row"]])
def test_sharded_wand_rank_identity(engine, terms):
    got = _wand_topk(engine, terms, 10)
    want = [(d, round(s, 9)) for d, s in _or_join_topk(engine, terms, 10)]
    assert got == want


def test_sharded_wand_plan_has_no_exchange(engine):
    """The whole point of the layout: the per-query plan must reuse the
    cached HashPartitioning(shard) — filter + sort + kernel, no
    ShuffleExchange above the InMemoryTableScan."""
    span = engine.meta["wand_shard_span"]
    out = wand.wand_topk(
        engine._wand_sharded(), "or", ["index", "spark"], 10, span
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    kernel_part = plan.split("InMemoryTableScan")[0]
    # TakeOrderedAndProject sits above the kernel; the segment between
    # the kernel input scan and the top must contain no exchange
    assert "FlatMapGroupsInPandas" in kernel_part
    assert "Exchange" not in kernel_part, kernel_part


def test_sharded_and_rank_identity(engine):
    terms = ["index", "2024"]
    assert _wand_and(engine, terms, 10) == _and_join_topk(engine, terms, 10)


def test_wand_and_range_skip_actually_skips(spark, engine):
    """With a rare term and a hot term, most hot-term blocks must fail
    the range-overlap test (kernel-level check on one shard's frame)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2

    rare = (
        engine.term_stats().where("df BETWEEN 2 AND 5").orderBy("term")
        .limit(1).collect()[0]["term"]
    )
    hot = "index"
    blocks = engine.blocks.where(F2.col("term").isin([rare, hot])).select(
        "term", "first_doc", "last_doc", "doc_ids_bin", "scores_bin"
    ).toPandas()
    n_hot = (blocks["term"] == hot).sum()
    n_rare = (blocks["term"] == rare).sum()
    assert n_hot > 10 * max(n_rare, 1)
    # the intersection via kernel over the whole doc space
    out = wand.shard_and_topk(blocks, [rare, hot], 100, lo=0, hi=1 << 40)
    join = dict(_and_join_topk(engine, [rare, hot], 100))
    got = {int(r.doc_id): round(float(r.score), 9) for r in out.itertuples()}
    assert got == {d: round(s, 9) for d, s in join.items()}
