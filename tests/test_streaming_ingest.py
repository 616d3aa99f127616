"""Structured-Streaming incremental ingest: files arriving over time are
tokenized per micro-batch, resume comes from the streaming checkpoint,
and compaction yields an index identical to a one-shot batch build."""

from __future__ import annotations

import os
import shutil

import pytest

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators.indexer import build_index
from cs_search_engine_architecture_spark.streaming.ingest import (
    StreamingIndexer,
    stream_corpus,
)

BASE = "/tmp/spark_sea_test_streaming"
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_incremental_ingest_matches_batch_build(spark, docs):
    shutil.rmtree(BASE, ignore_errors=True)
    src = os.path.join(BASE, "incoming")
    os.makedirs(src)

    # wave 1: first half of the corpus "arrives"
    docs.where("doc_id < 250").coalesce(2).write.mode("overwrite").parquet(
        os.path.join(src, "wave1")
    )
    # file-source streams need a flat dir of files; move the parts up
    for part in os.listdir(os.path.join(src, "wave1")):
        if part.endswith(".parquet"):
            os.rename(
                os.path.join(src, "wave1", part), os.path.join(src, f"w1_{part}")
            )
    shutil.rmtree(os.path.join(src, "wave1"))

    idx = os.path.join(BASE, "idx")
    ing = StreamingIndexer(
        spark, idx, fields=["text"], analyzer="simple", num_buckets=8
    )
    ing.ingest_available(stream_corpus(spark, src, SCHEMA))
    n1 = len(ing.batches())
    assert n1 >= 1
    assert sum(b["num_docs"] for b in ing.batches()) == 250

    # wave 2 arrives later; the checkpoint must skip wave-1 files
    docs.where("doc_id >= 250").coalesce(2).write.mode("overwrite").parquet(
        os.path.join(src, "wave2")
    )
    for part in os.listdir(os.path.join(src, "wave2")):
        if part.endswith(".parquet"):
            os.rename(
                os.path.join(src, "wave2", part), os.path.join(src, f"w2_{part}")
            )
    shutil.rmtree(os.path.join(src, "wave2"))

    ing.ingest_available(stream_corpus(spark, src, SCHEMA))
    batches = ing.batches()
    assert sum(b["num_docs"] for b in batches) == 500  # no reprocessing
    for b in batches:
        assert b["num_postings"] > 0 and b["postings_per_sec"] > 0

    meta = ing.compact()
    assert meta["streaming"] is True
    assert meta["num_documents"] == 500

    # rank-identical to the one-shot batch build on the same corpus
    ref_idx = os.path.join(BASE, "ref_idx")
    ref_meta = build_index(
        spark, docs, ref_idx, fields=["text"], analyzer="simple", num_buckets=8
    )
    assert meta["num_postings"] == ref_meta["num_postings"]
    ea = SearchEngine(spark, ref_idx, cache=False)
    eb = SearchEngine(spark, idx, cache=False)
    for q in ["spark", "spark and data", "data or window", "data and not slow"]:
        assert ea.search_collect(q, 20) == eb.search_collect(q, 20), q


def test_compact_is_rerunnable(spark):
    idx = os.path.join(BASE, "idx")
    ing = StreamingIndexer(
        spark, idx, fields=["text"], analyzer="simple", num_buckets=8
    )
    meta = ing.compact()
    assert meta["num_documents"] == 500
    eng = SearchEngine(spark, idx, cache=False)
    assert len(eng.search_collect("spark", 5)) == 5


def test_live_ingest_queryable_between_batches(spark, docs):
    """NRT live ingest: every micro-batch lands as a queryable delta
    segment — searches reflect wave 1 before wave 2 arrives, wave 2
    after, with frozen base stats throughout; compaction then matches a
    one-shot build over base + both waves."""
    from cs_search_engine_architecture_spark.streaming.ingest import (
        LiveStreamingIndexer,
    )

    base = "/tmp/spark_sea_test_live"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "incoming")
    os.makedirs(src)
    idx = os.path.join(base, "idx")

    # base index over the first 200 docs (frozen-stats anchor)
    base_docs = docs.where("doc_id < 200")
    build_index(
        spark, base_docs, idx, fields=["text"], analyzer="simple", num_buckets=8
    )
    live = LiveStreamingIndexer(spark, idx)

    def _arrive(frame, tag):
        tmp = os.path.join(base, f"stage_{tag}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        for part in os.listdir(tmp):
            if part.endswith(".parquet"):
                os.rename(os.path.join(tmp, part), os.path.join(src, f"{tag}_{part}"))
        shutil.rmtree(tmp)

    stream = lambda: stream_corpus(spark, src, SCHEMA)  # noqa: E731
    _arrive(docs.where("doc_id >= 200 AND doc_id < 350"), "w1")
    live.ingest_available(stream())
    eng1 = SearchEngine(spark, idx, cache=False)
    ids1 = {r["doc_id"] for r in eng1.search_df("data or code").collect()}
    assert any(200 <= d < 350 for d in ids1), "wave-1 docs must be live"
    assert not any(d >= 350 for d in ids1)

    _arrive(docs.where("doc_id >= 350"), "w2")
    live.ingest_available(stream())  # resumes from checkpoint: only w2
    eng2 = SearchEngine(spark, idx, cache=False)
    ids2 = {r["doc_id"] for r in eng2.search_df("data or code").collect()}
    assert ids1 <= ids2 and any(d >= 350 for d in ids2)

    # compaction folds everything into fresh stats == one-shot build
    compacted = os.path.join(base, "compacted")
    # base build had no corpus_path: pass the corpus explicitly
    cmeta = live.compact(compacted, corpus=base_docs)
    fresh = os.path.join(base, "fresh")
    fmeta = build_index(
        spark, docs, fresh, fields=["text"], analyzer="simple", num_buckets=8
    )
    assert cmeta["num_documents"] == fmeta["num_documents"]
    assert cmeta["num_postings"] == fmeta["num_postings"]
    ec = SearchEngine(spark, compacted, cache=False)
    ef = SearchEngine(spark, fresh, cache=False)
    got = [(r["doc_id"], r["score"]) for r in ec.search("data or code", 10).collect()]
    want = [(r["doc_id"], r["score"]) for r in ef.search("data or code", 10).collect()]
    assert got == want
    shutil.rmtree(base, ignore_errors=True)


def test_live_ingest_auto_maintain_quiescent(spark, docs):
    """The policy tick at the quiescent point of a live-ingest loop:
    merge when the tier fragments, in-place compaction when the masked
    fraction crosses — and the Structured Streaming checkpoint SURVIVES
    the compaction swap (a lost checkpoint would re-ingest every old
    wave as duplicate deltas on the next drain)."""
    from cs_search_engine_architecture_spark.operators import indexer
    from cs_search_engine_architecture_spark.streaming.ingest import (
        LiveStreamingIndexer,
    )

    base = "/tmp/spark_sea_test_live_auto"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "incoming")
    os.makedirs(src)
    idx = os.path.join(base, "idx")
    base_docs = docs.where("doc_id < 200")
    base_src = os.path.join(base, "base_corpus.parquet")
    base_docs.write.parquet(base_src)
    build_index(
        spark, base_docs, idx, fields=["text"], analyzer="simple",
        num_buckets=8, corpus_path=base_src,
    )
    live = LiveStreamingIndexer(spark, idx)

    def _arrive(frame, tag):
        tmp = os.path.join(base, f"stage_{tag}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        for part in os.listdir(tmp):
            if part.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, part), os.path.join(src, f"{tag}_{part}")
                )
        shutil.rmtree(tmp)

    stream = lambda: stream_corpus(spark, src, SCHEMA)  # noqa: E731
    for i, (lo, hi) in enumerate([(200, 250), (250, 300), (300, 350)]):
        _arrive(docs.where(f"doc_id >= {lo} AND doc_id < {hi}"), f"w{i}")
        live.ingest_available(stream())
    assert len(indexer._delta_dirs(idx)) >= 3
    # quiescent tick: tier fragmented past the cap -> one merge
    res = live.ingest_available(
        stream(), auto_maintain=True, max_delta_segments=2
    )
    assert res["actions"] == ["merge"]
    assert len(indexer._delta_dirs(idx)) == 1
    # masked fraction past the threshold -> in-place compaction
    indexer.delete_docs(spark, idx, list(range(200, 240)))
    res = live.ingest_available(
        stream(), auto_maintain=True, max_masked_fraction=0.05
    )
    assert res["actions"] == ["compact"]
    assert res["after"]["delta_segments"] == 0
    assert res["after"]["tombstones"] == 0
    # the checkpoint survived the swap: a NEW wave drains WITHOUT
    # replaying the old (now-compacted) waves as duplicates
    _arrive(docs.where("doc_id >= 350 AND doc_id < 400"), "w4")
    live.ingest_available(stream())
    eng = SearchEngine(spark, idx, cache=False)
    cur = [r["doc_id"] for r in eng.current_corpus().collect()]
    assert len(cur) == len(set(cur)), "duplicate rows: checkpoint lost"
    got = set(cur)
    want = (
        set(range(0, 200)) - set()  # base survivors
    ) | set(range(240, 350)) | set(range(350, 400))
    want -= set(range(200, 240))  # deleted wave-1 prefix
    assert got == want
    ids = {r["doc_id"] for r in eng.search_df("data or code").collect()}
    assert ids <= got
    shutil.rmtree(base, ignore_errors=True)


def test_live_ingest_with_dedup_store(spark, docs):
    """Ingest-time near-dup filtering: a live batch doc duplicating an
    already-stored doc is dropped before indexing (first-seen wins),
    the survivors' signatures land in the store under the batch's own
    segment, and a later wave deduping against a WAVE-1 doc proves the
    store grows with the stream."""
    from cs_search_engine_architecture_spark.operators.dedup import (
        build_dedup_store,
    )
    from cs_search_engine_architecture_spark.streaming.ingest import (
        LiveStreamingIndexer,
    )

    base = "/tmp/spark_sea_test_live_dedup"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "incoming")
    os.makedirs(src)
    idx = os.path.join(base, "idx")
    base_docs = docs.where("doc_id < 200")
    base_src = os.path.join(base, "base_corpus.parquet")
    base_docs.write.parquet(base_src)
    build_index(
        spark, base_docs, idx, fields=["text"], analyzer="simple",
        num_buckets=8, corpus_path=base_src,
    )
    store = os.path.join(base, "dstore")
    build_dedup_store(base_docs.select("doc_id", "text"), store)
    live = LiveStreamingIndexer(spark, idx, dedup_store=store)

    def _arrive(frame, tag):
        tmp = os.path.join(base, f"stage_{tag}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        for part in os.listdir(tmp):
            if part.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, part), os.path.join(src, f"{tag}_{part}")
                )
        shutil.rmtree(tmp)

    stream = lambda: stream_corpus(spark, src, SCHEMA)  # noqa: E731
    dup_text = base_docs.where("doc_id = 0").first()["text"]
    novel1 = "zyzzyvaone wholly novel first wave document text"
    _arrive(
        spark.createDataFrame(
            [
                (9001, dup_text, "en", "s", len(dup_text)),
                (9002, novel1, "en", "s", len(novel1)),
            ],
            SCHEMA,
        ),
        "w1",
    )
    live.ingest_available(stream())
    eng1 = SearchEngine(spark, idx, cache=False)
    assert {
        r["doc_id"] for r in eng1.search("zyzzyvaone", 10).collect()
    } == {9002}, "novel doc must be indexed"
    cur1 = {r["doc_id"] for r in eng1.current_corpus().collect()}
    assert 9001 not in cur1 and 9002 in cur1, "dup of a stored doc dropped"

    # wave 2 dups the WAVE-1 survivor (not a base doc): only the
    # streaming append can catch it
    novel2 = "qwertyzx unique second wave document text"
    _arrive(
        spark.createDataFrame(
            [
                (9003, novel1, "en", "s", len(novel1)),
                (9004, novel2, "en", "s", len(novel2)),
            ],
            SCHEMA,
        ),
        "w2",
    )
    live.ingest_available(stream())
    eng2 = SearchEngine(spark, idx, cache=False)
    assert {
        r["doc_id"] for r in eng2.search("zyzzyvaone", 10).collect()
    } == {9002}, "wave-2 dup of a wave-1 doc must be dropped"
    assert {
        r["doc_id"] for r in eng2.search("qwertyzx", 10).collect()
    } == {9004}
    shutil.rmtree(base, ignore_errors=True)


def test_percolate_stream_alerts(spark):
    """Streaming saved-search alerting: wave 1 fires alerts for its
    matching docs, wave 2 only for NEW docs (checkpoint resume), and
    the alert log records which batch fired each match."""
    from cs_search_engine_architecture_spark.streaming.alerts import (
        PercolateStream,
    )

    base = "/tmp/spark_sea_test_alerts"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "incoming")
    os.makedirs(src)

    def _arrive(rows, tag):
        tmp = os.path.join(base, f"stage_{tag}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        for part in os.listdir(tmp):
            if part.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, part), os.path.join(src, f"{tag}_{part}")
                )
        shutil.rmtree(tmp)

    ps = PercolateStream(
        spark,
        {"a1": "spark and data", "a2": '"window order"'},
        os.path.join(base, "alerts"),
        analyzer="simple",
    )
    stream = lambda: stream_corpus(spark, src, SCHEMA)  # noqa: E731

    _arrive(
        [
            (1, "spark shuffles data", "en", "s", 19),
            (2, "no match here", "en", "s", 13),
            (3, "the window order clause", "en", "s", 23),
        ],
        "w1",
    )
    ps.ingest_available(stream())
    got1 = {
        (r["query_id"], r["doc_id"]) for r in ps.alerts().collect()
    }
    assert got1 == {("a1", 1), ("a2", 3)}

    _arrive(
        [
            (4, "more spark data arriving", "en", "s", 24),
            (5, "order window inverted", "en", "s", 21),
        ],
        "w2",
    )
    ps.ingest_available(stream())  # checkpoint: only w2 processes
    rows = ps.alerts().collect()
    got2 = {(r["query_id"], r["doc_id"]) for r in rows}
    assert got2 == {("a1", 1), ("a2", 3), ("a1", 4)}
    batches = {r["doc_id"]: r["batch"] for r in rows}
    assert batches[4] > batches[1], "wave-2 match must carry a later batch id"

    # bad registration fails at construction, not in a batch (a phrase
    # nested inside a mixed tree is the one unsupported shape; plain
    # mixed trees percolate via the compiler's lazy-NOT algebra)
    with pytest.raises(ValueError, match="not percolatable"):
        PercolateStream(
            spark, {"bad": '"a b" and c'}, os.path.join(base, "x"),
            analyzer="simple",
        )
    shutil.rmtree(base, ignore_errors=True)


def test_percolate_stream_alerts_before_first_batch(spark):
    """alerts() before any non-empty batch has fired: the log dir
    holds only the underscore-hidden checkpoint, which read.parquet
    cannot infer a schema from — the typed empty frame comes back
    instead of a crash."""
    from cs_search_engine_architecture_spark.streaming.alerts import (
        PercolateStream,
    )

    base = "/tmp/spark_sea_test_alerts_empty"
    shutil.rmtree(base, ignore_errors=True)
    ps = PercolateStream(
        spark, {"a1": "spark"}, os.path.join(base, "alerts"),
        analyzer="simple",
    )
    # never constructed on disk at all
    assert ps.alerts().collect() == []
    # checkpoint dir exists but no batch= partition yet
    os.makedirs(os.path.join(base, "alerts", "_checkpoint"))
    out = ps.alerts()
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "doc_id", "batch",
    ]


def test_streaming_compact_excludes_orphan_batches(spark):
    """A crash between the batch postings write and the meta-json
    commit leaves an orphan batch= dir; compact() must fold ONLY
    committed batches — an orphan's postings would otherwise enter the
    index while its docs are absent from N/avgdl (silently skewed
    stats)."""
    from cs_search_engine_architecture_spark.operators.indexer import (
        tokenize_postings_packed,
    )

    base = "/tmp/spark_sea_test_orphan_batch"
    shutil.rmtree(base, ignore_errors=True)
    idx = os.path.join(base, "idx")
    ing = StreamingIndexer(
        spark, idx, fields=["text"], analyzer="simple", num_buckets=4
    )
    committed = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    ing._process_batch(committed, 0)

    # simulate the crash: batch=1 postings staged, NO meta json
    orphan = spark.createDataFrame(
        [(2, "orphanword only here")], "doc_id long, text string"
    )
    tokenize_postings_packed(
        orphan, ["text"], "doc_id", "simple"
    ).write.mode("overwrite").parquet(
        os.path.join(ing.stage_dir, "batch=1")
    )

    meta = ing.compact()
    assert meta["num_documents"] == 2
    eng = SearchEngine(spark, idx, cache=False)
    assert eng.search("orphanword", 5).collect() == []
    assert len(eng.search("alpha", 5).collect()) == 2


def test_percolate_stream_with_filters(spark):
    """Per-query metadata filters ride the streaming alerter: a
    filtered query fires only on admitted docs in every micro-batch;
    an unknown filter id fails at construction."""
    from cs_search_engine_architecture_spark.streaming.alerts import (
        PercolateStream,
    )

    base = "/tmp/spark_sea_test_alerts_filt"
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "incoming")
    os.makedirs(src)
    tmp = os.path.join(base, "stage")
    spark.createDataFrame(
        [
            (1, "spark shuffles data", "en", "s", 19),
            (2, "spark scan", "fr", "s", 10),
            (3, "spark merge", "en", "s", 11),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    for part in os.listdir(tmp):
        if part.endswith(".parquet"):
            os.rename(os.path.join(tmp, part), os.path.join(src, part))
    shutil.rmtree(tmp)

    ps = PercolateStream(
        spark,
        {"all": "spark", "en_only": "spark"},
        os.path.join(base, "alerts"),
        analyzer="simple",
        filters={"en_only": "lang = 'en'"},
    )
    ps.ingest_available(stream_corpus(spark, src, SCHEMA))
    got = {(r["query_id"], r["doc_id"]) for r in ps.alerts().collect()}
    assert got == {
        ("all", 1), ("all", 2), ("all", 3),
        ("en_only", 1), ("en_only", 3),
    }

    with pytest.raises(ValueError, match="unregistered"):
        PercolateStream(
            spark, {"q": "spark"}, os.path.join(base, "x"),
            analyzer="simple", filters={"other": "lang = 'en'"},
        )
    shutil.rmtree(base, ignore_errors=True)


def test_compact_reports_only_its_own_phase_walls(spark, tmp_path):
    """phase_walls are per call: a streaming compact that follows a
    one-shot build in the same driver reports its own finalize phases
    only — no stale ``tokenize_stage`` carried over from the build."""
    rows = [(i, f"spark data doc {i}", "en", "s", 16) for i in range(20)]
    df = spark.createDataFrame(rows, SCHEMA)
    build_index(
        spark, df, str(tmp_path / "built"), fields=["text"],
        analyzer="simple", num_buckets=4,
    )
    src = str(tmp_path / "incoming")
    df.coalesce(1).write.parquet(src)
    ing = StreamingIndexer(
        spark, str(tmp_path / "idx"), fields=["text"], analyzer="simple",
        num_buckets=4,
    )
    ing.ingest_available(stream_corpus(spark, src, SCHEMA))
    walls = ing.compact()["phase_walls"]
    assert "tokenize_stage" not in walls
    assert set(walls) == {
        "global_stats", "term_stats_write", "score_encode_write",
        "doc_lens_write",
    }
