"""The seeded serve-stream and standing-query generators."""

import itertools

from perfbench import gen
from cs_search_engine_architecture_spark.operators.msearch import classify_query
from cs_search_engine_architecture_spark.plans.query_parser import parse_query

TAIL = ["".join(p) for p in itertools.product("bdfgkl", "aeiou", "mnprt")]
VOCAB = [("src", 900), ("index", 400), ("spark", 350), ("data", 330)] + [
    (t, 300 - i) for i, t in enumerate(TAIL)
]


def round_trips(term):
    return parse_query(term) == {"type": "token", "value": term}


def vocab():
    return gen.query_vocabulary(
        VOCAB + [("and", 999), ("x-y", 5), ("running", 3)], round_trips
    )


def test_vocabulary_filters_and_orders():
    v = vocab()
    terms = [t for t, _ in v]
    assert "and" not in terms and "x-y" not in terms
    assert "running" not in terms  # stems to another string
    assert terms[:4] == ["src", "index", "spark", "data"]
    assert [df for _, df in v] == sorted((df for _, df in v), reverse=True)


def test_same_seed_same_stream():
    assert gen.serve_stream(vocab(), 7, 5) == gen.serve_stream(vocab(), 7, 5)
    assert gen.serve_stream(vocab(), 7, 5) != gen.serve_stream(vocab(), 8, 5)
    a = gen.standing_queries(vocab(), 7, 50)
    assert a == gen.standing_queries(vocab(), 7, 50)
    assert a != gen.standing_queries(vocab(), 8, 50)


def test_stream_rounds_cover_every_shape_in_order():
    s = gen.serve_stream(vocab(), 3, 4)
    assert len(s) == 4 * len(gen.SERVE_SHAPES)
    assert [shape for shape, _ in s] == list(gen.SERVE_SHAPES) * 4
    for _, q in s:
        assert parse_query(q) is not None


def test_stream_prefix_is_stable():
    # a longer stream starts with the shorter one: capping rounds never
    # changes the queries a run sees
    assert gen.serve_stream(vocab(), 5, 8)[:12] == gen.serve_stream(vocab(), 5, 2)


def test_round_pairs_ask_every_shape_once_hot_once_tail():
    v = vocab()
    cdf = gen._ZipfTerms(v, None).cdf
    # the span of Zipf mass each term holds; a term whose span straddles
    # the middle can come from either half
    span = {t: (lo, hi) for (t, _), lo, hi in zip(v, [0.0, *cdf], cdf)}

    def terms(q):
        words = q.replace('"', " ").replace("(", " ").replace(")", " ").split()
        return [w for w in words if w not in ("and", "or", "not")]

    def all_hot(q):
        return all(span[t][0] < 0.5 for t in terms(q))

    def all_tail(q):
        return all(span[t][1] > 0.5 for t in terms(q))

    n = len(gen.SERVE_SHAPES)
    hot_first = set()
    for seed in range(20):
        s = gen.serve_stream(v, seed, 2)
        for (_, a), (_, b) in zip(s[:n], s[n:]):
            assert (all_hot(a) and all_tail(b)) or (all_tail(a) and all_hot(b)), (a, b)
            hot_first.add(all_hot(a) and not all_hot(b))
    assert hot_first == {True, False}  # the order is drawn, not fixed


def test_tiny_vocabulary_still_draws_distinct_terms():
    tiny = vocab()[:8]
    for _, q in gen.serve_stream(tiny, 1, 4):
        assert parse_query(q) is not None


def test_zipf_draws_hot_and_tail_terms():
    terms = {
        t for _, q in gen.serve_stream(vocab(), 1, 50)
        for t in q.replace('"', " ").replace("(", " ").replace(")", " ").split()
        if t not in ("and", "or", "not")
    }
    assert "src" in terms
    assert terms & set(TAIL[len(TAIL) // 2:])


def test_standing_queries_are_percolate_shapes():
    qs = gen.standing_queries(vocab(), 2, 200)
    assert len(qs) == 200 and list(qs) == sorted(qs)
    for q in qs.values():
        ast = parse_query(q)
        # single/flat/and-not batch through msearch's classifier; the
        # rest are pure phrases or term-only mixed trees
        assert classify_query(ast) is not None or ast["type"] == "phrase" or (
            '"' not in q)
