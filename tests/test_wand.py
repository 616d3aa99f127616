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


def test_wand_single_term_matches_blockmax(spark, engine):
    """One term through the WAND kernel — the single_term_blockmax
    route — equals the oracle's full-list sort (ids and float32 scores
    exact), called directly and through the router."""
    import numpy as np

    from cs_search_engine_architecture_spark.oracle.reference import (
        OracleIndex,
    )

    corpus = synth_source_files(spark, 4000, parallelism=8)
    oracle = OracleIndex(
        [(r["doc_id"], [r["path"], r["content"]])
         for r in corpus.select("doc_id", "path", "content").collect()]
    )
    want = oracle.search("index", 15)
    assert len(want) == 15
    span = engine.meta["wand_shard_span"]
    got = [
        (r["doc_id"], float(np.float32(r["score"])))
        for r in wand.wand_topk(
            engine._wand_sharded(), "or", ["index"], 15, span
        ).collect()
    ]
    assert got == want
    assert engine.search_collect("index", 15) == want
    assert engine.last_strategy == "single_term_blockmax"


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


# ------------------------------------------ tree kernel (tree_sharded)
#
# The split layout: 16-doc shards, 3-posting blocks, salting from df 4
# in 8-doc groups — every term spreads over many blocks and shards.
# Shard 4 (docs 64-79) holds "beta" and no other query term, so a
# negated "beta" is the only thing the kernel sees there.

TREE_DOCS = [
    (
        i,
        "beta pad" if 64 <= i < 80 else " ".join(
            w
            for w, on in (
                ("alpha", i % 2 == 0), ("alpha", i % 4 == 0),
                ("beta", i % 3 == 0), ("gamma", i % 5 in (0, 1)),
                ("delta", i % 7 == 0), ("pad", i % 4 == 1),
            )
            if on
        ) or "pad",
    )
    for i in range(96)
]

TREE_QUERIES = [
    "alpha and beta",  # AND(+,+)
    "alpha and not beta",  # AND(+,-)
    "not alpha and beta",  # AND(-,+)
    "not alpha and not beta",  # AND(-,-): flagged union
    "alpha or beta",  # OR(+,+)
    "not alpha or beta",  # OR(-,+)
    "alpha or not beta",  # OR(+,-)
    "(not alpha) or (not beta)",  # OR(-,-): flagged intersection
    "not (alpha or gamma)",  # top-level NOT
    "alpha or alpha",
    "alpha and alpha",
    "alpha and zzabsent",
    "alpha or zzabsent",
    "not zzabsent and beta",
    "(alpha or beta) and not (gamma and delta)",
    "alpha and (beta or not gamma)",
    "(alpha and beta) or (gamma and not delta)",
]


def _tree_build(spark, tmp_path):
    out = str(tmp_path / "tree_idx")
    corpus = spark.createDataFrame(TREE_DOCS, "doc_id long, text string")
    src = str(tmp_path / "tree_corpus.parquet")
    corpus.write.parquet(src)
    build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, block_size=3, hot_df=4, group_span=8,
        shard_span=16, corpus_path=src,
    )
    return out


def _assert_tree_equals_compiled(engine, strategy, ks=(5, 1000)):
    """Every TREE_QUERIES top-k through the router equals the cut of the
    compiled ``_scored(ast)`` ranking (score desc, doc_id asc): ids
    exact, float64 scores exact. k=1000 is above every match count.
    Returns how many routed answers were non-empty."""
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    nonempty = 0
    for q in TREE_QUERIES:
        full = sorted(
            ((r["doc_id"], r["score"]) for r in engine._scored(
                parse_query(q, analyzer="simple")
            ).collect()),
            key=lambda t: (-t[1], t[0]),
        )
        for k in ks:
            got = [
                (r["doc_id"], r["score"])
                for r in engine.search(q, k).collect()
            ]
            assert engine.last_strategy == strategy, (q, engine.last_strategy)
            assert got == full[:k], (q, k)
            nonempty += bool(got)
    return nonempty


def test_tree_kernel_equals_compiled_with_maintenance(spark, tmp_path):
    """The tree_sharded route is bit-identical to the compiled plan on
    all 8 lazy-NOT cases, top-level NOT, duplicate leaves, absent terms
    and a shard holding only the negated term — on a clean index and
    after delete_docs, update_docs and add_docs (base kernel, mask,
    delta arm)."""
    from cs_search_engine_architecture_spark.operators import indexer

    out = _tree_build(spark, tmp_path)
    eng = SearchEngine(spark, out, cache=False)
    assert _assert_tree_equals_compiled(eng, "tree_sharded") >= 24

    # deletes in four of the six shards, the beta-only one included
    indexer.delete_docs(spark, out, [0, 6, 30, 66, 90])
    eng = SearchEngine(spark, out, cache=False)
    _assert_tree_equals_compiled(eng, "tree_sharded", ks=(3,))

    schema = "doc_id long, text string"
    indexer.update_docs(spark, out, spark.createDataFrame(
        [(3, "gamma delta alpha"), (70, "alpha alpha alpha")], schema
    ))
    eng = SearchEngine(spark, out, cache=False)
    _assert_tree_equals_compiled(eng, "tree_sharded+delta_arm", ks=(3,))

    indexer.add_docs(spark, out, spark.createDataFrame(
        [(200, "alpha beta"), (201, "beta gamma delta"), (202, "alpha")],
        schema,
    ))
    eng = SearchEngine(spark, out, cache=False)
    _assert_tree_equals_compiled(eng, "tree_sharded+delta_arm", ks=(3,))


@pytest.mark.parametrize("kernel", ["or", "and", "tree"])
def test_shard_kernels_empty_frame(kernel):
    """Edge contract: every per-shard kernel maps an empty block frame
    to an empty ``doc_id long, score double`` frame."""
    import pandas as pd

    pdf = pd.DataFrame({
        "term": pd.Series([], dtype=object),
        "first_doc": pd.Series([], dtype="int64"),
        "last_doc": pd.Series([], dtype="int64"),
        "count": pd.Series([], dtype="int32"),
        "max_score": pd.Series([], dtype="float32"),
        "min_score": pd.Series([], dtype="float32"),
        "doc_ids_bin": pd.Series([], dtype=object),
        "scores_bin": pd.Series([], dtype=object),
    })
    ast = {"type": "operator", "operator": "and",
           "left": {"type": "token", "value": "a"},
           "right": {"type": "token", "value": "b"}}
    out = {
        "or": lambda: wand.shard_wand_topk(pdf, 10, lo=0, hi=16),
        "and": lambda: wand.shard_and_topk(pdf, ["a", "b"], 10, lo=0, hi=16),
        "tree": lambda: wand.shard_tree_topk(pdf, ast, 10, lo=0, hi=16),
    }[kernel]()
    assert out.empty
    assert list(out.columns) == ["doc_id", "score"]
    assert [str(t) for t in out.dtypes] == ["int64", "float64"]
