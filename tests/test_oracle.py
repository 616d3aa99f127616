"""Oracle self-consistency: hand-computed BM25/boolean goldens on a tiny
corpus. The oracle is the parity target for the Spark engine, so its own
semantics are pinned here (formulas from ``sea/document.pyx:254-280``,
``sea/indexer.pyx:344-345``, algebra from ``sea/posting_list.pyx`` and
``sea/engine.pyx:424-498``)."""

import math

import pytest

from cs_search_engine_architecture_spark.oracle.reference import OracleIndex

DOCS = [
    (0, ["alpha beta", "alpha gamma delta phrase near here."]),
    (1, ["beta", "beta beta gamma."]),
    (2, ["", "delta epsilon zeta alpha."]),
    (3, ["gamma delta", "unrelated words entirely."]),
]


@pytest.fixture(scope="module")
def idx():
    return OracleIndex(DOCS)


def test_stats(idx):
    assert idx.num_documents == 4
    # post-filter token counts per field
    assert idx.avg_field_lengths[0] == (2 + 1 + 0 + 2) / 4
    assert idx.avg_field_lengths[1] == (6 + 3 + 4 + 3) / 4


def test_df_and_idf(idx):
    assert idx.document_frequencies["alpha"] == 2  # docs 0, 2
    assert idx.document_frequencies["beta"] == 2  # docs 0, 1
    assert idx.document_frequencies["gamma"] == 3  # docs 0, 1, 3
    assert idx.document_frequencies["delta"] == 3  # docs 0, 2, 3
    n = 4
    for term, df in idx.document_frequencies.items():
        assert idx.idf[term] == pytest.approx(math.log((n - df + 0.5) / (df + 0.5)))
    # idf can go negative (no floor): df=3 of 4 -> ln(1.5/3.5) < 0
    assert idx.idf["gamma"] < 0
    # and exactly zero at df = n/2 + ...: df=2 of 4 -> ln(2.5/2.5) = 0
    assert idx.idf["alpha"] == 0.0


def test_bm25_score_formula(idx):
    # doc 1, term 'beta': ff=[1,3], len=[1,3], boosts=[1.0,0.5], b=0.75
    avg0, avg1 = idx.avg_field_lengths
    tf = 1 * 1.0 / (1 + 0.75 + 0.25 * (1 / avg0)) + 3 * 0.5 / (
        1 + 0.75 + 0.25 * (3 / avg1)
    )
    idf = idx.idf["beta"]
    want = idf * (tf * 2.5) / (tf + 1.5)
    p = next(p for p in idx.index["beta"] if p.doc_id == 1)
    assert p.score == pytest.approx(want, rel=1e-6)


def test_postings_sorted_by_doc_id(idx):
    for plist in idx.index.values():
        ids = [p.doc_id for p in plist]
        assert ids == sorted(ids)


def test_boolean_and_or_not(idx):
    docs = {d for d, _ in idx.search_all("alpha and gamma")}
    assert docs == {0}
    docs = {d for d, _ in idx.search_all("alpha or beta")}
    assert docs == {0, 1, 2}
    docs = {d for d, _ in idx.search_all("alpha and not beta")}
    assert docs == {2}
    docs = {d for d, _ in idx.search_all("delta and not (alpha or beta)")}
    assert docs == {3}


def test_and_score_is_sum(idx):
    a = dict(idx.search_all("alpha"))
    g = dict(idx.search_all("gamma"))
    both = dict(idx.search_all("alpha and gamma"))
    for d, s in both.items():
        assert s == pytest.approx(a[d] + g[d], rel=1e-5)


def test_or_keeps_single_scores(idx):
    a = dict(idx.search_all("alpha"))
    b = dict(idx.search_all("beta"))
    union = dict(idx.search_all("alpha or beta"))
    for d, s in union.items():
        want = a.get(d, 0.0) + b.get(d, 0.0)
        assert s == pytest.approx(want, rel=1e-5)


def test_de_morgan_not_not(idx):
    # AND(-,-) -> union with NOT flag; top-level flag discarded
    # (sea/engine.pyx:531-553): result is the UNION of the operand postings
    docs = {d for d, _ in idx.search_all("not alpha and not beta")}
    assert docs == {0, 1, 2}


def test_top_level_not_quirk(idx):
    # reference discards the top-level isnot flag: `not alpha` returns
    # alpha's postings
    assert {d for d, _ in idx.search_all("not alpha")} == {0, 2}


def test_phrase_window(idx):
    # doc 0 body: 'alpha gamma delta phrase near here.'
    # positions (field-relative): alpha@0 gamma@6 delta@12 phrase@18 near@25
    docs = {d for d, _ in idx.search_all('"gamma delta"')}  # 12-6=6 <= 10
    assert 0 in docs
    docs = {d for d, _ in idx.search_all('"alpha delta"')}  # 12-0=12 > 10
    assert 0 not in docs
    # order matters: delta before gamma never matches in doc 0
    docs = {d for d, _ in idx.search_all('"delta gamma"')}
    assert 0 not in docs
    # three-term phrase chains consecutive windows
    docs = {d for d, _ in idx.search_all('"gamma delta phrase"')}
    assert 0 in docs


def test_tie_break_and_topk(idx):
    res = idx.search("alpha or beta or gamma or delta", top_k=3)
    assert len(res) == 3
    scores = [s for _, s in res]
    assert scores == sorted(scores, reverse=True)


def test_unknown_term_and_degenerate(idx):
    assert idx.search_all("nonexistentterm") == []
    assert idx.search_all("and") == []
    assert idx.search_all('""') == []
    assert {d for d, _ in idx.search_all("alpha and nonexistentterm")} == set()
    assert {d for d, _ in idx.search_all("alpha or nonexistentterm")} == {0, 2}


def test_search_parses_with_the_index_analyzer():
    """``search`` parses the query with the analyzer the index was built
    with: under "simple", "by" is a content term (the reference analyzer
    drops it as a stopword), so the 3-term phrase must not match a doc
    without "by" and the bare term must find the doc that has it."""
    idx = OracleIndex(
        [(0, ["window order by key"]), (1, ["window order data"])],
        analyzer="simple",
    )
    assert [d for d, _ in idx.search_all('"window order by"')] == [0]
    assert [d for d, _ in idx.search_all("by")] == [0]
