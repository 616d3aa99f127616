"""Plan-time phrase-window switch (dialect.phrase_window): single-field
indexes compile the cheap any-pair ∃(p,q) form, everything else keeps the
reference two-cursor scan. On ascending (single-field) position lists the
two are EQUIVALENT — the two-pointer argument that also keeps the DuckDB
gate oracles' any-pair joins valid — and this file pins that equivalence
as a randomized differential: any-pair engine vs a forced-scan compiler
vs the pure-Python oracle, across compiled search, batched msearch,
ordered proximity, and the percolate phrase arm. The multi-field scan
blind spots stay pinned by test_phrase_scan_blind_spots_multi_field."""

from __future__ import annotations

import random

import pytest

from cs_search_engine_architecture_spark.engine import SearchEngine
from cs_search_engine_architecture_spark.operators import indexer
from cs_search_engine_architecture_spark.operators.percolate import percolate
from cs_search_engine_architecture_spark.oracle.reference import OracleIndex
from cs_search_engine_architecture_spark.plans.compiler import QueryCompiler
from cs_search_engine_architecture_spark.plans.query_parser import parse_query

# word lengths straddle PHRASE_K=10 so pair distances land on, inside,
# and outside the window boundary; duplicates exercise the q-p = 0
# same-occurrence quirk
VOCAB = ["ab", "cdef", "ghijk", "lm", "nopqrs", "tt", "uvwxyzzzz", "ab"]


def _corpus(seed: int = 20260821, n: int = 80) -> list[tuple[int, list[str]]]:
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(3, 14))]
        docs.append((i, [" ".join(words)]))
    return docs


def _phrase_queries(seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    base = sorted(set(VOCAB))
    qs = []
    for a in base:
        for b in base:
            qs.append(f'"{a} {b}"')
    for _ in range(12):
        qs.append('"' + " ".join(rng.choice(base) for _ in range(3)) + '"')
    return qs


@pytest.fixture(scope="module")
def single_field_setup(spark, tmp_path_factory):
    docs = _corpus()
    out = str(tmp_path_factory.mktemp("anypair_idx"))
    corpus = spark.createDataFrame(
        [(d, f[0]) for d, f in docs], "doc_id long, text string"
    )
    indexer.build_index(
        spark, corpus, out, fields=["text"], block_size=8, num_buckets=4
    )
    eng = SearchEngine(spark, out)
    # forced-scan compiler over the SAME blocks: the only difference in
    # the compiled plans is the window predicate form
    scan = QueryCompiler(
        spark, eng.blocks, eng.num_buckets, single_field=False
    )
    return eng, scan, OracleIndex(docs), corpus


def test_plan_time_switch_follows_field_count(spark, single_field_setup, tmp_path):
    eng, _, _, _ = single_field_setup
    assert eng.compiler.single_field is True
    two = spark.createDataFrame(
        [(0, "a b", "c d")], "doc_id long, title string, body string"
    )
    out = str(tmp_path / "two_field")
    indexer.build_index(
        spark, two, out, fields=["title", "body"], block_size=8, num_buckets=2
    )
    assert SearchEngine(spark, out).compiler.single_field is False


def test_any_pair_equals_scan_on_single_field(single_field_setup):
    eng, scan, oracle, _ = single_field_setup
    checked_nonempty = 0
    for q in _phrase_queries():
        ast = parse_query(q)
        got = sorted(
            (r["doc_id"], r["score"])
            for r in eng.compiler.compile(ast).collect()
        )
        want = sorted(
            (r["doc_id"], r["score"]) for r in scan.compile(ast).collect()
        )
        assert got == want, q  # bit-identical scores, same docs
        assert [d for d, _ in got] == sorted(
            d for d, _ in oracle.search_all(q)
        ), q
        checked_nonempty += bool(got)
    assert checked_nonempty >= 10  # the corpus actually exercises matches


def test_msearch_phrase_arm_matches_compiled(single_field_setup):
    import numpy as np
    import pytest as _pt

    eng, _, _, _ = single_field_setup
    qs = {f"q{i}": q for i, q in enumerate(_phrase_queries()[:16])}
    by_q: dict[str, list] = {}
    for r in eng.msearch(qs, top_k=10).collect():
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = eng.search_collect(q, top_k=10)
        # batched-vs-compiled scores agree at float32 (the decode-path
        # dtype convention test_msearch_matches_per_query pins)
        got = sorted(
            by_q.get(qid, []), key=lambda t: (-np.float32(t[1]), t[0])
        )
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (gd, gs), (_, ws) in zip(got, want):
            assert float(np.float32(gs)) == _pt.approx(ws, abs=1e-5), (q, gd)


def test_ordered_proximity_switch_equivalence(single_field_setup):
    eng, scan, _, _ = single_field_setup
    for values, slop in [
        (["ab", "cdef"], 4), (["ghijk", "lm"], 12), (["ab", "ab"], 0),
        (["cdef", "nopqrs", "tt"], 15),
    ]:
        got = sorted(
            (r["doc_id"], r["score"])
            for r in eng.compiler._proximity(values, slop, True).collect()
        )
        want = sorted(
            (r["doc_id"], r["score"])
            for r in scan._proximity(values, slop, True).collect()
        )
        assert got == want, (values, slop)


def test_percolate_multi_field_keeps_scan_blind_spots(spark):
    """Percolate over a TWO-field batch takes the scan form (len(fields)
    != 1): the doc-59 blind spot from
    test_phrase_scan_blind_spots_multi_field must hold in the percolate
    arm too — '"query sorted"' must NOT fire on (title "sorted query
    salt", body "query ..."), while '"sorted query"' must."""
    docs = spark.createDataFrame(
        [
            (59, "sorted query salt", "query merge merge hash join the"),
            (1, "hash join", "the hash join beats merge join"),
        ],
        "doc_id long, title string, body string",
    )
    qs = {"blind": '"query sorted"', "adj": '"sorted query"',
          "cross": '"the query"'}
    got: dict[str, list[int]] = {}
    for r in percolate(spark, qs, docs, fields=("title", "body")).collect():
        got.setdefault(r["query_id"], []).append(r["doc_id"])
    assert "blind" not in got          # the scan's parity blind spot
    assert sorted(got.get("adj", [])) == [59]
    assert sorted(got.get("cross", [])) == [59]


def test_percolate_phrase_arm_switch_equivalence(spark, single_field_setup):
    _, _, oracle, corpus = single_field_setup
    qs = {f"p{i}": q for i, q in enumerate(_phrase_queries()[:10])}
    got: dict[str, list[int]] = {}
    for r in percolate(spark, qs, corpus).collect():
        got.setdefault(r["query_id"], []).append(r["doc_id"])
    from cs_search_engine_architecture_spark.operators.msearch import (
        classify_query,
    )

    for qid, q in qs.items():
        plan = classify_query(parse_query(q))
        assert plan is not None and plan[0] == "phrase", q
        # the oracle's two-cursor SCAN chain — the any-pair batched arm
        # must agree
        want = sorted(d for d, _ in oracle.search_all(q))
        assert sorted(got.get(qid, [])) == want, q
