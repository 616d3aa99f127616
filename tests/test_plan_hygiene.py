"""Physical-plan hygiene across the ENTIRE gate surface: no operator we
ship may plan a cartesian product or a broadcast nested-loop join at any
scale — the two shapes that silently turn into O(n²) work on a cluster.
Builds every `__spark_entry__.queries()` frame at sf0.001 and inspects
the executed plan string (plans only — the frames are not collected,
though gate index builds are triggered and /tmp-cached).

This is a tripwire, not a perf test: a Catalyst size misestimate that
flips an LSH self-join to broadcast (the exact regression the
`hint("shuffle_hash")` invariants guard) shows up here as a plan-shape
diff before it shows up as a cluster incident.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _query_names():
    import __spark_entry__ as entry

    return sorted(entry.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_no_quadratic_join_shapes(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name} plans a {bad}:\n{plan[:2000]}"


def test_no_quadratic_shapes_under_pending_updates(spark, tmp_path):
    """The update-serving frames (masked fast path ∪ delta arm, batched
    msearch with per-query arm union) must stay free of cartesian /
    nested-loop shapes too — they exist only on maintained indexes, so
    the gate sweep above never builds them."""
    from pyspark.sql import functions as F

    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.operators import indexer

    out = str(tmp_path / "idx")
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    indexer.build_index(
        spark, corpus, out, fields=["text"], analyzer="simple",
        num_buckets=4, corpus_path=src,
    )
    indexer.update_docs(
        spark, out,
        spark.createDataFrame(
            [(3, "alpha updated text")], "doc_id long, text string"
        ),
    )
    eng = SearchEngine(spark, out, cache=False)
    eng.meta["num_postings"] = 5_000_000  # force WAND routing (r5 path)
    wand_or = eng.search("alpha or beta", 5)
    assert eng.last_strategy.endswith("+delta_arm"), eng.last_strategy
    eng.meta["num_postings"] = 60
    frames = [
        eng.search("alpha", 5),
        eng.search("alpha and beta", 5),
        eng.msearch({"a": "alpha", "b": "beta and not gamma",
                     "d": "alpha and (beta or not gamma)"}, top_k=5),
        eng.prefix_search("alp*", top_k=5),
        eng.regexp_search("al.*", top_k=5),
        eng.boosted_search({"alpha": 2.0, "beta": 0.5}, top_k=5),
        eng.proximity_search("alpha beta", 12, top_k=5),
        eng.proximity_search("alpha beta", 12, top_k=5, ordered=False),
        eng.rescore_search("alpha or beta", "alpha beta", top_k=5,
                           window=10, slop=12),
        eng.synonym_search("alpha and beta", {"beta": ["gamma"]}, top_k=5),
        eng.stats_agg("alpha or beta", corpus, F.length("text")),
        eng.current_corpus(),
        wand_or,  # base-kernel ∪ delta-arm union under pending updates
        # round-5 filter-context frames: admitted-id semi-joins must
        # stay equi-joins at every hook point (msearch batchers,
        # expansion tail, fuzzy pre-limit, percolate per-query filters)
        eng.msearch(
            {"a": "alpha", "b": "beta and not gamma", "c": '"alpha beta"',
             "d": "alpha and (beta or not gamma)"},
            top_k=5, corpus=corpus, predicate="doc_id % 2 = 0",
        ),
        eng.filtered_search("alpha", corpus, "doc_id % 2 = 0", 5),
        eng.boosted_search(
            {"alpha": 2.0}, top_k=5, corpus=corpus,
            predicate="doc_id % 2 = 0",
        ),
        eng.fuzzy_search(
            "alpah", top_k=5, exclude_threshold=1, corpus=corpus,
            predicate="doc_id % 2 = 0",
        ),
        eng.percolate(
            {"p": "alpha"}, corpus, filters={"p": "doc_id % 2 = 0"}
        ),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in FORBIDDEN:
            assert bad not in plan, f"update-serving plans a {bad}:\n{plan[:2000]}"


def test_no_unreferenced_package_symbols():
    """Dead-code tripwire: every top-level function or class in the
    package must be named somewhere else among the repo's ``.py`` files
    — a call, an import, an attribute, or a word inside a string (gate
    registries and docs refer to symbols by name). A pure ``ast`` scan:
    nothing is imported, and comments do not count."""
    import ast
    import pathlib
    import re
    from collections import Counter

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "cs_search_engine_architecture_spark"

    def py_files(top: pathlib.Path):
        for p in sorted(top.rglob("*.py")):
            parts = p.relative_to(root).parts
            if not any(x.startswith(".") or x == "dist" for x in parts):
                yield p

    refs: Counter = Counter()
    for p in py_files(root):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.alias):
                refs[node.name.rsplit(".", 1)[-1]] += 1
            elif isinstance(node, ast.Constant) and isinstance(
                node.value, str
            ):
                refs.update(set(re.findall(r"\w+", node.value)))
    dead = [
        f"{p.relative_to(root)}:{node.lineno} {node.name}"
        for p in py_files(pkg)
        for node in ast.parse(p.read_text()).body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and refs[node.name] == 0
    ]
    assert not dead, "unreferenced package symbols:\n" + "\n".join(dead)
