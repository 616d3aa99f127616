"""Percolation (reverse search): match INCOMING docs against REGISTERED
queries — the alerting/routing primitive (saved searches firing on new
documents). The reference engine has no percolator; query semantics
follow its parser/algebra (``plans/query_parser.py:38-199``). Coverage:
the batchable subset (single term, flat OR with minimum_should_match,
flat AND, flat AND-NOT — ``msearch.classify_query``'s classes) rides
ONE shared broadcast-join aggregation; ALL pure phrases share ONE
slot-tagged positional aggregation (the ``msearch.phrase_batched_topk``
kernel shape); ALL mixed-precedence TERM-ONLY boolean trees share ONE
matched-term-set aggregation, each query's compiled lazy-NOT De Morgan
algebra (``plans/compiler.py:160-215``) evaluated as a boolean Column
over the doc's term set, INCLUDING the top-level complement-flag
discard quirk (``sea/engine.pyx:531-553``). That Column comes from
msearch's ``_mixed_scored_exprs`` — the one algebra the batched mixed
msearch arm scores with — fed a set-membership leaf, and every
query's class comes from ``classify_query``, the router search and
msearch use. So a registered query fires on exactly the docs the
engine's search would return, and the whole registry costs at most
THREE aggregations per batch however many queries are registered. A
corollary of the lazy
algebra is that every match is a subset of the query's leaf-term
posting union: a doc containing NONE of a query's terms can never
match, so term-join candidates are complete. Only a phrase nested
inside a mixed tree raises, with guidance to register the
flattened/rewritten form.

No index is consulted: matching is term presence (plus the phrase
char-window over positions) computed from an on-the-fly tokenize of
the batch (re-run per consuming arm — row-local, measured cheaper
than caching; see the note in ``percolate``), so percolation runs at
ingest time, before or without indexing — and BM25 stats never enter
(filter-context discipline: matches are selected, never scored).

100 TB shape: the registered-query term map broadcasts (queries are
small relative to data); the tokenized batch is the only distributed
data and is touched once; candidates come from an equi-join on term —
a doc meets only the queries whose terms it contains, never doc x
query (no cartesian, no BNLJ). With millions of registered queries the
same plan holds: the broadcast side is (query, term) rows and the
(query_id, doc_id) aggregation shuffles candidate pairs only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.operators.indexer import (
    tokenize_postings,
    tokenize_presence,
)
from cs_search_engine_architecture_spark.operators.msearch import (
    TERM_PLAN_SCHEMA,
    _mixed_scored_exprs,
    classify_query,
    leaf_terms,
    slot_chain_window_ok,
    term_plan_hit,
    term_plan_rows,
)
from cs_search_engine_architecture_spark.operators.partitioning import (
    widen_input,
)
from cs_search_engine_architecture_spark.oracle.reference import PHRASE_K
from cs_search_engine_architecture_spark.plans.query_parser import (
    parse_query,
)


def compile_percolator(
    queries: dict[str, str], analyzer: str = "reference"
) -> tuple[list[tuple], list[tuple[str, list[str]]], list[tuple]]:
    """Parse + classify every registered query once (driver-side; the
    compiled form is what a long-lived alerting service would cache).
    Returns (term_plans, phrase_plans, mixed_plans) — each class rides
    its own SHARED aggregation (term presence / slot-tagged positional /
    matched-term-set presence); a phrase nested inside a mixed tree
    raises (register the flattened form)."""
    term_plans: list[tuple] = []
    phrase_plans: list[tuple[str, list[str]]] = []
    mixed_plans: list[tuple] = []  # (qid, ast, leaf_terms)
    for qid, qstr in queries.items():
        ast = parse_query(qstr, analyzer=analyzer)
        plan = classify_query(ast)
        if ast is None:
            raise ValueError(
                f"query {qid!r} is not percolatable (degenerate)"
            )
        if plan is None:
            raise ValueError(
                f"query {qid!r} is not percolatable (phrase inside "
                "a mixed-precedence tree); register the flattened/"
                "rewritten form"
            )
        if plan[0] == "phrase":
            phrase_plans.append((qid, plan[1]))
        elif plan[0] == "mixed":
            mixed_plans.append((qid, plan[1], sorted(leaf_terms(plan[1]))))
        else:
            term_plans.append((qid, *plan))
    return term_plans, phrase_plans, mixed_plans


def percolate(
    spark: SparkSession,
    queries: dict[str, str],
    docs: DataFrame,
    fields: Sequence[str] = ("text",),
    doc_id_col: str = "doc_id",
    analyzer: str = "reference",
    filters: dict[str, str] | None = None,
) -> DataFrame:
    """(query_id, doc_id) for every registered query that matches each
    incoming doc. Match-only — no scores (filter context).

    ``filters`` attaches per-query metadata conditions (the saved-search
    shape: "alert on 'spark AND crash' but only for lang='en' docs"):
    a SQL predicate over the INCOMING batch's columns per query_id. A
    filtered query fires only on docs its predicate admits; queries
    absent from ``filters`` are unaffected. Each DISTINCT predicate
    text evaluates the batch ONCE (row-local ``where``, pushdown-
    eligible, no shuffle) and admits (query_id, doc_id) pairs that
    semi-join the match set — still no doc × query work."""
    term_plans, phrase_plans, mixed_plans = compile_percolator(
        queries, analyzer
    )
    docs = widen_input(docs)
    # Both tokenizers emit the id as a literal `doc_id` column whatever
    # the caller's id column was called — everything below keys on that
    # name. Presence-only arms (term, mixed) read the vectorized
    # ``tokenize_presence`` frame — (doc_id, term) scalars only; the
    # phrase arm alone pays for the full positional tokenize (r6: the
    # ragged positions/freqs used to cross Arrow once per arm).
    # NB: the arms are still independent aggregations with no common
    # exchange, so term+mixed re-run the presence tokenize (the
    # no-ReusedExchange lineage behavior CLAUDE.md documents for
    # remove_duplicate_spans). Measured: caching was worth only 1.02x
    # at 120k docs x 3 arms, while persisting an unbounded ingest
    # batch's token frame risks spill at scale — so no cache,
    # deliberately.
    pres_toks = (
        tokenize_presence(docs, list(fields), doc_id_col, analyzer)
        if (term_plans or mixed_plans)
        else None
    )
    # the phrase arm reads only its own terms' positions — filter
    # inside the tokenizer so other terms' ragged rows never cross
    # Arrow (r6; the downstream broadcast join on `term` is unchanged)
    toks = (
        tokenize_postings(
            docs, list(fields), doc_id_col, analyzer,
            keep_terms={t for _, values in phrase_plans for t in values},
        )
        if phrase_plans
        else None
    )
    out: DataFrame | None = None

    # r6 negative result: serving the term class from the mixed arm's
    # collect_set + per-query array_intersect expressions measured
    # SLOWER (7.2s vs 4.0s at 200 hot-term queries x 50k docs, sf1.0) —
    # with many queries per distinct term, the join arm's map-side
    # partial aggregation beats per-doc array expression evaluation.
    # The join arm stays for ALL term-class registries.
    if term_plans:
        # presence semantics: the shared msearch term-plan rows and hit
        # filter, with the weight column (multiplicity/boosts — scoring-
        # side concepts) ignored: it never affects WHICH docs match.
        # pres_toks is unique per (doc, term).
        qterms = spark.createDataFrame(
            term_plan_rows(term_plans), TERM_PLAN_SCHEMA
        )
        agg = (
            pres_toks.join(F.broadcast(qterms), "term")
            .groupBy("query_id", "doc_id")
            .agg(
                F.sum(1 - F.col("is_neg")).alias("matched"),
                F.max("required").alias("required"),
                F.max("is_neg").alias("neg_hit"),
            )
        )
        out = agg.where(term_plan_hit()).select("query_id", "doc_id")

    if phrase_plans:
        # ALL phrases from ONE slot-tagged aggregation (the
        # msearch.phrase_batched_topk kernel shape, positions from the
        # on-the-fly tokenize instead of decoded postings): per
        # (query_id, doc_id) the slot-sorted position lists must cover
        # every slot AND every consecutive slot pair must satisfy the
        # reference char window ∃(p,q): 0 ≤ q−p ≤ PHRASE_K — exactly
        # the compiled chain (each step checks the next term's FULL
        # position list against the previous term's FULL list), so the
        # chain is precisely this conjunction of pairwise tests,
        # same-occurrence quirk for repeated phrase terms included
        # (q−p = 0 passes). N registered phrases cost one shuffle, not
        # N join chains per micro-batch.
        rows = [
            (qid, slot, term)
            for qid, values in phrase_plans
            for slot, term in enumerate(values)
        ]
        pmap = spark.createDataFrame(
            rows, "query_id string, slot int, term string"
        )
        nmap = spark.createDataFrame(
            [(qid, len(values)) for qid, values in phrase_plans],
            "query_id string, k int",
        )
        agg = (
            toks.select("doc_id", "term", "positions")
            .join(F.broadcast(pmap), "term")
            .groupBy("query_id", "doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("slot", "positions"))
                ).alias("sl")
            )
            .join(F.broadcast(nmap), "query_id")
            .where(F.size("sl") == F.col("k"))
        )
        m = agg.where(
            slot_chain_window_ok(PHRASE_K, monotonic=len(fields) == 1)
        ).select("query_id", "doc_id")
        out = m if out is None else out.unionByName(m)

    # mixed-precedence term-only trees: ALL queries evaluated over ONE
    # matched-term-set aggregation — the lazy-NOT algebra becomes a
    # per-query boolean Column over the doc's `mt` set, and a doc fires
    # the exploded array of query ids whose expression holds. Exact on
    # the shared (union-of-all-leaf-terms) candidate set: every
    # expression depends only on its OWN terms' membership and, with
    # the top-level flag discarded, evaluates false when none of them
    # are present (the subset-of-leaf-union corollary), so docs
    # admitted only by ANOTHER query's terms can never spuriously
    # match. The matched-term set per doc is bounded by the combined
    # leaf count; N registered trees cost one shuffle, not N
    # aggregations per micro-batch. (A very large registry widens the
    # projection, which may drop out of whole-stage codegen — still
    # one pass, and correctness is unaffected.)
    if mixed_plans:
        all_terms = sorted({t for _, _, ts in mixed_plans for t in ts})
        agg = (
            pres_toks.where(F.col("term").isin(all_terms))
            .groupBy("doc_id")
            .agg(F.collect_set("term").alias("mt"))
        )

        def member_leaf(term: str) -> tuple:
            return F.array_contains("mt", term), F.lit(None)

        fired = F.array_compact(
            F.array(
                *[
                    F.when(
                        _mixed_scored_exprs(ast, member_leaf)[0], F.lit(qid)
                    )
                    for qid, ast, _ in mixed_plans
                ]
            )
        )
        m = agg.select(
            F.explode(fired).alias("query_id"), "doc_id"
        ).select("query_id", "doc_id")
        out = m if out is None else out.unionByName(m)

    if filters:
        # validate BEFORE the empty-registry early return: a filters
        # dict naming unregistered query ids is a misconfiguration
        # whether or not any queries matched (or were registered)
        unknown = sorted(set(filters) - set(queries))
        if unknown:
            raise ValueError(
                f"percolate: filters for unregistered query ids {unknown}"
            )
    if out is None:
        return spark.createDataFrame([], "query_id string, doc_id long")
    if filters:
        # group query ids by identical predicate text: each distinct
        # predicate scans the batch once (row-local), tagging its ids
        by_pred: dict[str, list[str]] = {}
        for qid, p in filters.items():
            by_pred.setdefault(p, []).append(qid)
        adm: DataFrame | None = None
        for p, qids in sorted(by_pred.items()):
            a = docs.where(p).select(
                F.col(doc_id_col).alias("doc_id"),
                F.explode(
                    F.array(*[F.lit(q) for q in sorted(qids)])
                ).alias("query_id"),
            )
            adm = a if adm is None else adm.unionByName(a)
        f_ids = sorted(filters)
        # ONE pass over the match pipeline: a flagged left join (adm is
        # unique per (query_id, doc_id) — qids partition across
        # predicate groups and the operator already assumes unique batch
        # doc_ids). The earlier
        # where(¬filtered) ∪ where(filtered).semi-join shape evaluated
        # the whole match DAG twice per micro-batch — the per-phrase
        # join chains and per-mixed-query aggregations get no
        # ReusedExchange, so match work doubled on the ingest hot path.
        adm = adm.withColumn("_adm", F.lit(True))
        out = (
            out.join(adm, ["query_id", "doc_id"], "left")
            .where(
                (~F.col("query_id").isin(f_ids)) | F.col("_adm").isNotNull()
            )
            .drop("_adm")
        )
    return out
