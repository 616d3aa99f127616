"""Query-parser conformance — the reference's 13 golden ASTs
(``/root/reference/test/test_query_parser.py:33-134``) re-expressed over term
strings (we key by term, not dense token id; SURVEY.md T4)."""

from cs_search_engine_architecture_spark.plans.query_parser import (
    parse_query,
    parse_tokens,
)


def tok(v):
    return {"type": "token", "value": v}


def op(o, left, right):
    return {"type": "operator", "operator": o, "left": left, "right": right}


# stem-truncations: apple->appl, banana->banana, cherry->cherry (stem
# 'cherri' has equal length, so the original survives), blockade->blockad
APPL, BAN, CHER = tok("appl"), tok("banana"), tok("cherry")

GOLDEN = {
    "and": None,
    "or": None,
    "not": None,
    "apple": APPL,
    "apple and banana": op("and", APPL, BAN),
    "apple or banana": op("or", APPL, BAN),
    "not apple": op("not", {}, APPL),
    "apple banana": op("and", APPL, BAN),
    "apple and banana or cherry": op("or", op("and", APPL, BAN), CHER),
    "apple or banana and cherry": op("or", APPL, op("and", BAN, CHER)),
    "not apple and banana": op("and", op("not", {}, APPL), BAN),
    '"apple banana" and cherry': op(
        "and", {"type": "phrase", "values": ["appl", "banana"]}, CHER
    ),
    "berlin and not (wall and blockade)": op(
        "and",
        tok("berlin"),
        op("not", {}, op("and", tok("wall"), tok("blockad"))),
    ),
    '"and and"': None,
    '""': None,
}


def test_reference_golden_asts():
    for query, expected in GOLDEN.items():
        got = parse_query(query)
        assert got == expected, f"query {query!r}: got {got}, want {expected}"


def test_right_associativity_same_precedence():
    # pop condition is strictly-greater precedence (sea/query.pyx:135):
    # a and b and c == a AND (b AND c)
    got = parse_query("apple and banana and cherry")
    assert got == op("and", APPL, op("and", BAN, CHER))


def test_single_token_phrase_degrades_to_token():
    assert parse_query('"apple"') == APPL


def test_rewrites():
    # empty parens removed; surrounding binaries trimmed; consecutive ops
    # collapsed keeping the first; ands inside phrases stripped
    assert parse_query("and apple or") == APPL
    assert parse_query("( ) apple") == APPL
    assert parse_query("apple and or banana") == op("and", APPL, BAN)
    assert parse_query('"apple and banana"') == {
        "type": "phrase",
        "values": ["appl", "banana"],
    }


def test_implicit_and_around_parens():
    got = parse_query("apple (banana or cherry)")
    assert got == op("and", APPL, op("or", BAN, CHER))


def test_degenerate_never_crashes():
    for q in ["not and apple", "(((", ")))", '"', "not not", "( or )"]:
        parse_query(q)  # must not raise


def test_stopwords_stay_operators_in_query_mode():
    # 'the' is a stopword even in query mode -> dropped before parsing
    assert parse_tokens(["the"]) == {"type": "token", "value": "the"}
    assert parse_query("the apple") == APPL


def test_strip_top_not_identity():
    """Top-level unary-NOT chains are identity at the root (the
    compiler discards the final complement flag): strip_top_not
    unwraps them — and ONLY them — so routers/classifiers see the
    operand's real shape."""
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
        strip_top_not,
    )

    assert strip_top_not(None) is None
    assert strip_top_not(parse_query("not spark")) == parse_query("spark")
    assert strip_top_not(parse_query("not not spark")) == parse_query(
        "spark"
    )
    assert strip_top_not(parse_query("not (spark or data)")) == parse_query(
        "spark or data"
    )
    # inner NOTs are load-bearing (subtraction positions): untouched
    inner = parse_query("spark and not data")
    assert strip_top_not(inner) == inner


def test_classify_query_strips_top_not():
    """"not X" must classify (and so batch/percolate) exactly as X."""
    from cs_search_engine_architecture_spark.operators.msearch import (
        classify_query,
        leaf_terms,
    )
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    assert classify_query(parse_query("not spark")) == ("or", ["spark"])
    assert classify_query(parse_query("not (spark or data)")) == (
        "or",
        ["spark", "data"],
    )
    assert classify_query(parse_query('not "spark data"')) == (
        "phrase",
        ["spark", "data"],
    )
    # a NOT below the root still disqualifies flat classification: the
    # term-only tree is "mixed" (the lazy-NOT Column algebra)
    assert classify_query(parse_query("spark or not data")) == (
        "mixed",
        parse_query("spark or not data"),
    )

    # the whole shape table search / msearch / percolate dispatch on
    q = parse_query
    table = [
        ("spark", ("or", ["spark"])),
        ("not not spark", ("or", ["spark"])),
        ("spark or data or slow", ("or", ["spark", "data", "slow"])),
        ("spark or spark", ("or", ["spark", "spark"])),
        ("spark and data", ("and", ["spark", "data"])),
        (
            "data and not (slow or fast)",
            ("and_not", ["data"], ["slow", "fast"]),
        ),
        (
            "data and not (slow and fast)",
            ("mixed", q("data and not (slow and fast)")),
        ),
        (
            "not (spark and (data or slow))",
            ("mixed", q("spark and (data or slow)")),
        ),
        ('"spark data"', ("phrase", ["spark", "data"])),
        ('spark or "window order"', None),
        ("", None),
        ("and or", None),
    ]
    for query, want in table:
        assert classify_query(q(query)) == want, query
    # leaf_terms: first-seen order, unique, phrase members included
    assert leaf_terms(q('slow and "window order" or slow')) == [
        "slow",
        "window",
        "order",
    ]
    assert leaf_terms(q("data and not (slow or fast or data)")) == [
        "data",
        "slow",
        "fast",
    ]
    assert leaf_terms(q("")) == []
