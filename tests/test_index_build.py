"""Spark index build vs the pure-Python oracle: stats, df/idf, per-posting
BM25 scores, doc_id order, compression round-trip through the real parquet
index."""

import math

import pytest

from cs_search_engine_architecture_spark.operators import indexer
from cs_search_engine_architecture_spark.operators.decode import term_postings
from cs_search_engine_architecture_spark.oracle.reference import OracleIndex

DOCS = [
    (0, ["alpha beta", "alpha gamma delta phrase near here."]),
    (1, ["beta", "beta beta gamma."]),
    (2, ["", "delta epsilon zeta alpha."]),
    (3, ["gamma delta", "unrelated words entirely."]),
    (4, ["running tests", "the tokenizer runs utf8str 2024 20244 tests."]),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    corpus = spark.createDataFrame(
        [(d, f[0], f[1]) for d, f in DOCS], "doc_id long, title string, body string"
    )
    meta = indexer.build_index(
        spark,
        corpus,
        out,
        fields=["title", "body"],
        block_size=2,  # tiny blocks to exercise multi-block lists
        num_buckets=4,
    )
    oracle = OracleIndex(DOCS)
    return spark, out, meta, oracle


def test_meta_matches_oracle(built):
    _, _, meta, oracle = built
    assert meta["num_documents"] == oracle.num_documents
    assert meta["num_postings"] == oracle.num_postings
    assert meta["avg_field_lengths"] == pytest.approx(oracle.avg_field_lengths)


def test_term_stats_match(built):
    spark, out, meta, oracle = built
    rows = indexer.load_term_stats(spark, out).collect()
    got_df = {r["term"]: r["df"] for r in rows}
    assert got_df == oracle.document_frequencies
    for r in rows:
        assert r["idf"] == pytest.approx(oracle.idf[r["term"]], rel=1e-9)


def test_postings_match_oracle(built):
    spark, out, meta, oracle = built
    blocks = indexer.load_blocks(spark, out)
    for term, plist in oracle.index.items():
        got = term_postings(blocks, term, meta["num_buckets"]).collect()
        got = sorted(((r["doc_id"], r["score"]) for r in got))
        want = [(p.doc_id, p.score) for p in plist]
        assert [d for d, _ in got] == [d for d, _ in want], term
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-5), term


def test_positions_roundtrip(built):
    spark, out, meta, oracle = built
    blocks = indexer.load_blocks(spark, out)
    for term in ["alpha", "beta", "gamma", "delta"]:
        got = {
            r["doc_id"]: list(r["positions"])
            for r in term_postings(
                blocks, term, meta["num_buckets"], with_positions=True
            ).collect()
        }
        want = {p.doc_id: p.positions for p in oracle.index[term]}
        assert got == want, term


def test_block_metadata(built):
    spark, out, meta, oracle = built
    rows = indexer.load_blocks(spark, out).collect()
    by_term: dict[str, list] = {}
    for r in rows:
        assert r["count"] <= 2
        assert r["first_doc"] <= r["last_doc"]
        by_term.setdefault(r["term"], []).append(r)
    for term, blist in by_term.items():
        blist.sort(key=lambda r: r["block_no"])
        # blocks are doc-range disjoint and ordered
        for a, b in zip(blist, blist[1:]):
            assert a["last_doc"] < b["first_doc"]
        want_max = max(p.score for p in oracle.index[term])
        assert max(r["max_score"] for r in blist) == pytest.approx(
            want_max, abs=1e-5
        )


QUIRK_DOCS = [
    # exercises every scan quirk the vectorized batch path must preserve
    (0, ["Mixed123 dropped", "ends with mixed123"]),       # EOT bypass
    (1, ["a" * 51 + " kept", "x " + "b" * 51]),            # len cap + EOT
    (2, ["12345 drop 1234 keep", "trailing 99999"]),       # num cap + EOT
    (3, ["The AND of stopwords", "running runs RUNNER"]),  # stop + stem
    (4, ["", None]),                                       # empty / null
    (5, ["alpha beta alpha", "beta alpha beta gamma"]),    # cross-field tf
    (6, ["word", "word"]),                                 # 1-token fields
]


@pytest.mark.parametrize("analyzer", ["reference", "simple"])
def test_packed_matches_array_path(spark, analyzer):
    """The vectorized packed tokenizer must emit EXACTLY the postings of
    the per-doc scalar path (which shares ``tokenize()`` with the
    oracle/goldens) — same (doc, term) rows, freqs, lens, and positions
    (decoded from the packed varint bytes)."""
    from cs_search_engine_architecture_spark.operators.compression import (
        grouped_delta_decode,
        varint_decode,
    )

    corpus = spark.createDataFrame(
        [(d, f[0], f[1]) for d, f in QUIRK_DOCS],
        "doc_id long, title string, body string",
    )
    arr = {
        (r["doc_id"], r["term"]): (
            list(r["field_freqs"]),
            list(r["field_lens"]),
            list(r["positions"]),
        )
        for r in indexer.tokenize_postings(
            corpus, ["title", "body"], analyzer=analyzer
        ).collect()
    }
    packed = {}
    for r in indexer.tokenize_postings_packed(
        corpus, ["title", "body"], analyzer=analyzer
    ).collect():
        import numpy as np

        pos = grouped_delta_decode(
            varint_decode(r["pos_bin"]), np.array([r["pos_count"]])
        ).astype(int)
        packed[(r["doc_id"], r["term"])] = (
            [r["ff_0"], r["ff_1"]],
            [r["fl_0"], r["fl_1"]],
            list(pos),
        )
    assert arr == packed


def _decoded_blocks(rows) -> dict:
    """term -> doc-sorted [(doc_id, score, positions)] decoded from block
    rows on the driver."""
    import numpy as np

    from cs_search_engine_architecture_spark.operators.compression import (
        decode_scores,
        grouped_delta_decode,
        varint_decode,
    )

    out: dict[str, list] = {}
    for r in rows:
        docs = np.cumsum(varint_decode(r["doc_ids_bin"]), dtype=np.uint64)
        scores = decode_scores(r["scores_bin"])
        counts = varint_decode(r["pos_counts_bin"]).astype(np.int64)
        flat = grouped_delta_decode(varint_decode(r["positions_bin"]), counts)
        positions = np.split(flat, np.cumsum(counts)[:-1])
        out.setdefault(r["term"], []).extend(
            (int(d), float(s), p.astype(int).tolist())
            for d, s, p in zip(docs, scores, positions)
        )
    return {t: sorted(v) for t, v in out.items()}


def test_block_layout_matches_oracle(spark, tmp_path):
    """A layout config small enough to reach every branch of the block
    writer — 7-row Arrow batches, 3-posting blocks, salted hot terms,
    blocks split at doc-shard edges — decodes to exactly the oracle's
    postings; an ``add_docs`` delta written under the same config passes
    fsck deep and holds the oracle's doc ids and positions."""
    from cs_search_engine_architecture_spark.operators.fsck import fsck_index

    docs = DOCS + [
        (i + 10, QUIRK_DOCS[i % len(QUIRK_DOCS)][1]) for i in range(40)
    ]
    new_docs = [
        (i + 100, QUIRK_DOCS[i % len(QUIRK_DOCS)][1]) for i in range(12)
    ]
    schema = "doc_id long, title string, body string"
    out = str(tmp_path / "idx")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        indexer.build_index(
            spark,
            spark.createDataFrame([(d, *f) for d, f in docs], schema),
            out, fields=["title", "body"], block_size=3, num_buckets=4,
            hot_df=4, group_span=8, shard_span=16,
        )
        assert fsck_index(spark, out, deep=True)["ok"]
        indexer.add_docs(
            spark, out,
            spark.createDataFrame([(d, *f) for d, f in new_docs], schema),
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    assert fsck_index(spark, out, deep=True)["ok"]

    rows = indexer.load_base_blocks(spark, out).collect()
    oracle = OracleIndex(docs)
    got = _decoded_blocks(rows)
    assert sorted(got) == sorted(oracle.index)
    for term, plist in oracle.index.items():
        g = got[term]
        assert [d for d, _, _ in g] == [p.doc_id for p in plist], term
        assert [p for _, _, p in g] == [p.positions for p in plist], term
        for (_, gs, _), p in zip(g, plist):
            assert gs == pytest.approx(p.score, abs=1e-5), term

    # the config really reached the layout branches
    assert len(rows) > 10
    assert any(r["block_no"] >> 32 > 0 for r in rows)  # salted group
    assert all(r["first_doc"] // 16 == r["last_doc"] // 16 for r in rows)
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault((r["term"], r["block_no"] >> 32), []).append(r)
    # a short block that is not its group's last: cut at a shard edge
    assert any(
        b["count"] < 3
        for blist in groups.values()
        for b in sorted(blist, key=lambda r: r["block_no"])[:-1]
    )

    delta = _decoded_blocks(indexer.load_delta_blocks(spark, out).collect())
    delta_oracle = OracleIndex(new_docs)
    assert sorted(delta) == sorted(delta_oracle.index)
    for term, plist in delta_oracle.index.items():
        assert [(d, p) for d, _, p in delta[term]] == [
            (p.doc_id, p.positions) for p in plist
        ], term


def test_concurrent_builds_report_own_phase_walls(spark, tmp_path):
    """Two builds on two threads of one driver each finish and return
    their own five phase walls: the walls are per call, so neither build
    clears or mixes the other's."""
    import threading

    corpus = spark.createDataFrame(
        [(d, f[0], f[1]) for d, f in DOCS],
        "doc_id long, title string, body string",
    )
    metas: dict[str, dict] = {}

    def run(name: str) -> None:
        metas[name] = indexer.build_index(
            spark, corpus, str(tmp_path / name), fields=["title", "body"],
            num_buckets=4,
        )

    threads = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert sorted(metas) == ["a", "b"]
    for meta in metas.values():
        assert set(meta["phase_walls"]) == {
            "tokenize_stage", "global_stats", "term_stats_write",
            "score_encode_write", "doc_lens_write",
        }
        assert meta["num_postings"] == OracleIndex(DOCS).num_postings


def test_missing_term_empty(built):
    spark, out, meta, _ = built
    blocks = indexer.load_blocks(spark, out)
    assert term_postings(blocks, "zzznotaterm", meta["num_buckets"]).count() == 0
