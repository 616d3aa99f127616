"""Round-5 hardening of the maintenance/build protocols: delta-segment
slot allocation can never overwrite an existing segment, compaction
carries the full block-layout config, resumable builds refuse a
num_slices mismatch and survive empty corpora, the doc-id domain and
the WAND shard span are validated with a clear error, a legacy meta
without a span serves through the join, add_docs' duplicate check
sees zero-posting docs, and a new engine never reads an older one's
cache of replaced files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import indexer

DOCS = [
    (0, "spark shuffle wide plans"),
    (1, "hash join small tables"),
    (2, "merge join big runs"),
    (3, "broadcast hash join planner"),
]


def _build(spark, tmp_path, docs=DOCS, **kw):
    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    src = str(tmp_path / "corpus.parquet")
    corpus.write.mode("overwrite").parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src, **kw,
    )
    return out


def test_add_docs_slot_never_reuses_existing_segment(spark, tmp_path):
    """An explicit-segment replay (the crash protocol's documented
    path) leaves holes in the numbering; the next default add must
    allocate PAST the highest used slot — len(dirs) would re-use (and
    mode('overwrite') silently destroy) the replayed segment."""
    out = _build(spark, tmp_path)
    d1 = spark.createDataFrame([(10, "replayed update text")],
                               "doc_id long, text string")
    indexer.add_docs(spark, out, d1, segment=1)
    assert os.path.isdir(os.path.join(out, "delta_00001"))

    d2 = spark.createDataFrame([(11, "fresh manual add")],
                               "doc_id long, text string")
    indexer.add_docs(spark, out, d2)
    # the replayed segment's corpus is untouched and BOTH docs serve
    assert os.path.isdir(os.path.join(out, "delta_00002"))
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("replayed", 5).collect()] == [10]
    assert [r["doc_id"] for r in eng.search("fresh", 5).collect()] == [11]


def test_add_docs_slot_skips_live_ingest_namespace(spark, tmp_path):
    """Live-ingest segments (LIVE_SEGMENT_BASE + batch_id) in the
    listing must not push the manual slot counter into their
    namespace."""
    out = _build(spark, tmp_path)
    live = spark.createDataFrame([(20, "live ingested row")],
                                 "doc_id long, text string")
    indexer.add_docs(
        spark, out, live, segment=indexer.LIVE_SEGMENT_BASE + 3
    )
    d = spark.createDataFrame([(21, "manual row")],
                              "doc_id long, text string")
    indexer.add_docs(spark, out, d)
    assert os.path.isdir(os.path.join(out, "delta_00000"))
    eng = SearchEngine(spark, out, cache=False)
    assert [r["doc_id"] for r in eng.search("manual", 5).collect()] == [21]
    assert [r["doc_id"] for r in eng.search("ingested", 5).collect()] == [20]


def test_compact_preserves_block_layout_config(spark, tmp_path):
    """compact_index defaults every build parameter to the OLD meta —
    including the layout knobs (wand_shard_span/group_span/hot_df): a
    non-default span must not silently revert to the default."""
    out = _build(spark, tmp_path, shard_span=64, hot_df=1 << 10)
    meta = indexer.load_meta(out)
    assert meta["wand_shard_span"] == 64
    out2 = str(tmp_path / "idx2")
    indexer.compact_index(spark, out, out2)
    meta2 = indexer.load_meta(out2)
    assert meta2["wand_shard_span"] == 64
    assert meta2["hot_df"] == 1 << 10
    assert meta2["group_span"] == meta["group_span"]


def test_build_rejects_bad_shard_span(spark, tmp_path):
    """Every index is shard-aligned: a span that is not a positive int
    is a named ValueError before any Spark job runs (nothing is
    written), for the one-shot and the resumable build alike."""
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    for bad in (None, 0):
        for build in (indexer.build_index, indexer.build_index_resumable):
            out = str(tmp_path / f"{build.__name__}_{bad}")
            with pytest.raises(ValueError, match="shard_span"):
                build(
                    spark, corpus, out, fields=["text"],
                    analyzer="simple", num_buckets=4, shard_span=bad,
                )
            assert not os.path.exists(out)


def test_legacy_meta_without_span_routes_to_join(spark, tmp_path):
    """A meta that predates the shard-aligned layout (no
    ``wand_shard_span``) must not reach the WAND kernels, even over
    the 1M-postings gate: it serves through the compiled join plan.
    Compacting a legacy index (span recorded as null) writes the
    default aligned layout."""
    import json

    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    docs = [(0, "alpha beta"), (1, "alpha gamma"), (2, "beta delta"),
            (3, "gamma delta")]
    out = _build(spark, tmp_path, docs=docs)
    eng = SearchEngine(spark, out, cache=False)
    del eng.meta["wand_shard_span"]
    eng.meta["num_postings"] = max(eng.meta["num_postings"], 1_000_000)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.search("alpha or beta", 10).collect()
    ]
    assert eng.last_strategy == "join"
    want = [
        (r["doc_id"], r["score"])
        for r in eng._scored(parse_query("alpha or beta", analyzer="simple"))
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert got == want and got

    meta = indexer.load_meta(out)
    meta["wand_shard_span"] = None
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    out2 = str(tmp_path / "idx2")
    indexer.compact_index(spark, out, out2)
    assert (
        indexer.load_meta(out2)["wand_shard_span"]
        == indexer.DEFAULT_WAND_SHARD_SPAN
    )


def test_build_rejects_out_of_domain_doc_ids(spark, tmp_path):
    """Negative or beyond-packing-range ids fail the build with a clear
    ValueError instead of an OverflowError inside an encode task."""
    for bad in (-1, 1 << 60):
        corpus = spark.createDataFrame(
            [(bad, "some text"), (1, "other text")],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="doc ids must be"):
            indexer.build_index(
                spark, corpus, str(tmp_path / f"bad_{bad}"),
                fields=["text"], analyzer="simple", num_buckets=4,
            )


def test_add_docs_rejects_out_of_domain_doc_ids_before_writing(
    spark, tmp_path
):
    """add_docs checks the staged rows' id domain before it tokenizes:
    a bad id raises the named ValueError and the torn delta dir holds
    neither blocks/ nor the meta.json commit marker."""
    docs = [(i, f"spark doc number {i}") for i in range(20)]
    out = _build(spark, tmp_path, docs=docs)
    for seg, bad in enumerate((-1, 1 << 60)):
        new = spark.createDataFrame(
            [(bad, "spark new text"), (100 + seg, "other text")],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="doc ids must be"):
            indexer.add_docs(spark, out, new, segment=seg)
        torn = os.path.join(out, f"delta_{seg:05d}")
        assert not os.path.exists(os.path.join(torn, "blocks"))
        assert not os.path.exists(os.path.join(torn, "meta.json"))
    assert indexer.load_delta_metas(out) == []


def test_resumable_num_slices_mismatch_refused(spark, tmp_path):
    """Checkpoints cut under one pmod layout must not be silently mixed
    with another: resuming with a different num_slices raises."""
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = str(tmp_path / "ridx")
    # partial run: 2 of 4 slices checkpointed, then 'crash'
    assert indexer.build_index_resumable(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, num_slices=4, max_slices=2,
    ) is None
    with pytest.raises(ValueError, match="num_slices"):
        indexer.build_index_resumable(
            spark, corpus, out, fields=["text"], analyzer="simple",
            num_buckets=4, num_slices=8,
        )
    # resuming with the ORIGINAL layout completes normally
    meta = indexer.build_index_resumable(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, num_slices=4,
    )
    assert meta["num_documents"] == len(DOCS)


def test_resumable_build_empty_corpus(spark, tmp_path):
    """Zero-doc corpus: every slice stages no data files; Phase B's
    explicit schema keeps the read (and the empty index) working, same
    as build_index."""
    corpus = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "eidx")
    meta = indexer.build_index_resumable(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, num_slices=3,
    )
    assert meta["num_documents"] == 0
    eng = SearchEngine(spark, out, cache=False)
    assert eng.search("anything", 5).collect() == []


def test_legacy_meta_single_term_routes_to_join(spark, tmp_path):
    """The span check comes before the single-term route: one term on
    a meta without ``wand_shard_span`` serves through the compiled join
    plan, never the sharded kernel, with the compiled result."""
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    docs = [(0, "alpha beta"), (1, "alpha gamma"), (2, "beta delta"),
            (3, "alpha alpha delta")]
    out = _build(spark, tmp_path, docs=docs)
    eng = SearchEngine(spark, out, cache=False)
    del eng.meta["wand_shard_span"]
    got = [
        (r["doc_id"], r["score"]) for r in eng.search("alpha", 10).collect()
    ]
    assert eng.last_strategy == "join"
    want = [
        (r["doc_id"], r["score"])
        for r in eng._scored(parse_query("alpha", analyzer="simple"))
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert got == want and len(got) == 3


def test_new_engine_never_serves_a_replaced_index_from_cache(spark, tmp_path):
    """Spark keys cached data by plan, and a parquet scan's plan by its
    root paths: an engine opened on a path that ``compact_in_place``
    rewrote must not be served the files an older engine persisted —
    neither the blocks cache nor the pre-sharded kernel frame."""
    out = _build(spark, tmp_path)
    old = SearchEngine(spark, out)  # persists blocks (cache=True)
    for q in ("join", "hash or join"):
        assert 1 in {r["doc_id"] for r in old.search(q, 10).collect()}
    assert old.search_df("join").count() == 3
    indexer.delete_docs(spark, out, [1])
    indexer.compact_in_place(spark, out)
    new = SearchEngine(spark, out)
    for q in ("join", "hash or join"):
        got = {r["doc_id"] for r in new.search(q, 10).collect()}
        assert got and 1 not in got, (q, new.last_strategy)
    assert {r["doc_id"] for r in new.search_df("join").collect()} == {2, 3}


def test_add_docs_duplicate_check_sees_zero_posting_docs(spark, tmp_path):
    """A base doc whose fields are all empty has no postings (hence no
    doc_lens row) but it EXISTS — re-adding its id must still be
    rejected, or current_corpus would return two rows for one id."""
    docs = DOCS + [(9, "")]
    out = _build(spark, tmp_path, docs=docs)
    dup = spark.createDataFrame([(9, "sneaky re-add")],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="already exist"):
        indexer.add_docs(spark, out, dup)


def test_wide_sparse_ids_wand_equals_join(spark, tmp_path):
    """WAND over a wide, sparse doc-id space (one doc per shard at the
    default span): the router takes the sharded kernel over the 1M
    gate, and its top-k equals the join path exactly."""
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    docs = [(i * 37_000_000, f"alpha common{' beta' if i % 3 else ''}")
            for i in range(30)]
    out = _build(spark, tmp_path, docs=docs)
    eng = SearchEngine(spark, out, cache=False)
    eng.meta["num_postings"] = max(eng.meta["num_postings"], 1_000_000)
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search("alpha or beta", 10).collect()
    ]
    assert eng.last_strategy == "wand_or_sharded"
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng._scored(parse_query("alpha or beta", analyzer="simple"))
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert got == want
