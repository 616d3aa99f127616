"""Batched multi-query top-k: N queries answered by ONE shared postings scan.

The reference serves one query per call (``sea/engine.pyx:584-607`` —
``exact_search`` walks each query's posting lists independently). At
cluster scale the dominant serving pattern is the opposite: thousands of
queries per batch (LTR training-data generation, offline eval sweeps,
nightly relevance dashboards), and running one Spark job per query pays
the full scan + scheduling cost N times.

This operator classifies each parsed query as *join-batchable* (a single
token, a flat OR, or a flat AND — the overwhelming majority of real
queries) and answers every batchable query from a SINGLE pass:

    blocks scan, filtered to the UNION of all query terms   (one scan,
      partition-pruned to the term_bucket dirs + term row groups)
    -> decode (term, doc_id, score)                          (mapInPandas)
    -> broadcast-join the tiny (query_id, term, weight) map  (no shuffle)
    -> groupBy(query_id, doc_id) partial-aggregated sum      (one shuffle)
    -> per-query top-k via window row_number                 (same shuffle
         key prefix — AQE coalesces; ~top_k rows per query survive)

Scoring is exactly the compiler's join algebra (``plans/compiler.py``):
OR = coalesced sum over matched terms, AND = inner-join sum gated on
*all* distinct terms matching, repeated terms double-count via the
``weight`` column. Pure PHRASES batch too (``phrase_batched_topk``):
one shared positional scan, slot-tagged rows grouped per (query, doc),
the consecutive-slot char-window conjunction, and a slot-ordered left
fold reproducing the compiled chain's scores bit-for-bit. Flat AND-NOT
trees batch as well — negated terms ride the shared scan as weight-0
presence rows and any match kills the (query, doc) pair (the compiler's
left-anti by De Morgan). Mixed-precedence TERM-ONLY trees share one
term->score map aggregation (``mixed_batched_topk``). Only phrases
nested inside trees fall back to their individual compiled plans,
tagged with the query_id and unioned in — still one Spark job.
``classify_query`` is the one shape decision all of these (and
``engine.search``'s router and ``percolate``) dispatch on.

At 100 TB the win is structural: the postings scan is shared across the
whole batch (a hot term referenced by 500 queries is read and decoded
once, not 500 times), the query map is broadcast (bytes, not a shuffle),
and the only wide exchange is the (query_id, doc_id) aggregation, which
is partial-aggregated map-side before it ships.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce
from operator import or_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.operators.compression import (
    decode_scores,
    varint_decode,
)
from cs_search_engine_architecture_spark.plans.query_parser import (
    strip_top_not,
)

_DECODE_SCHEMA = "term string, doc_id long, score double"


def slot_chain_window_ok(k: int, monotonic: bool = False) -> "F.Column":
    """Predicate over a slot-sorted struct array ``sl`` (elements
    carrying ``.positions``): every CONSECUTIVE slot pair satisfies the
    reference char-window scan (``dialect.ref_scan_window`` — the
    two-cursor forward pass of ``sea/posting_list.pyx:23-44``, with its
    blind spots on multi-field non-monotonic lists) — exactly the
    compiled phrase chain's semantics (each join step checks the next
    term's FULL position list against the previous term's FULL list).
    Shared by ``phrase_batched_topk`` and ``percolate``'s batched
    phrase arm so the window rule lives in ONE place.

    ``monotonic=True`` (single-field position lists — ascending by
    construction) compiles the cheaper equivalent any-pair form
    (``dialect.phrase_window``); the caller decides from field count,
    mirroring the compiled chain's plan-time switch."""
    from cs_search_engine_architecture_spark.functions.dialect import (
        phrase_window,
    )

    pair_ok = phrase_window(
        "element_at(sl, CAST(i AS INT)).positions",
        "element_at(sl, CAST(i + 1 AS INT)).positions",
        k,
        monotonic,
    )
    return F.expr(
        "CASE WHEN size(sl) < 2 THEN true ELSE "
        f"aggregate(sequence(1, size(sl) - 1), true, (acc, i) -> acc AND "
        f"({pair_ok})) END"
    )


def _decode_keep_term(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        terms: list[np.ndarray] = []
        docs: list[np.ndarray] = []
        scores: list[np.ndarray] = []
        for row in pdf.itertuples(index=False):
            d = np.cumsum(varint_decode(row.doc_ids_bin), dtype=np.uint64)
            docs.append(d.astype(np.int64))
            scores.append(decode_scores(row.scores_bin))
            terms.append(np.repeat(row.term, len(d)))
        yield pd.DataFrame(
            {
                "term": np.concatenate(terms) if terms else np.empty(0, object),
                "doc_id": np.concatenate(docs) if docs else np.empty(0, np.int64),
                "score": (
                    np.concatenate(scores).astype(np.float64)
                    if scores
                    else np.empty(0, np.float64)
                ),
            }
        )


def _term_scan_cond(blocks: DataFrame, terms: list[str], num_buckets: int):
    """Pushdown predicate for a multi-term block scan. ≤32 terms: an
    OR-chain of per-term ``(term_bucket == hash(t)) AND (term == t)``
    conjunctions (constant-folds into directory + row-group pruning).
    Larger batches: an OR-chain grows the expression tree linearly and
    Catalyst's optimization passes super-linearly, so two IN-sets prune
    the same partitions/row groups (term alone already determines the
    rows — the bucket set only exists for directory pruning, and a
    false (bucket, term) combination matches nothing)."""
    if len(terms) <= 32:
        return reduce(
            or_,
            [
                (
                    F.col("term_bucket")
                    == F.pmod(
                        F.xxhash64(F.lit(t)), F.lit(num_buckets)
                    ).cast("int")
                )
                & (F.col("term") == t)
                for t in terms
            ],
        )
    buckets = (
        blocks.sparkSession.createDataFrame(
            [(t,) for t in terms], "term string"
        )
        .select(
            F.pmod(F.xxhash64("term"), F.lit(num_buckets))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    )
    return F.col("term_bucket").isin([r["b"] for r in buckets]) & F.col(
        "term"
    ).isin(list(terms))


def multi_term_postings(
    blocks: DataFrame, terms: list[str], num_buckets: int
) -> DataFrame:
    """Decoded ``(term, doc_id, score)`` postings for ALL ``terms`` in one
    scan. The per-term ``(term_bucket == hash(term)) AND (term == t)``
    conjunctions constant-fold, so the scan prunes to the union of the
    terms' bucket directories and then to row groups via parquet min/max
    stats on ``term`` — same pushdown as the single-term path
    (``decode.term_postings``), amortized over the whole batch."""
    if not terms:
        raise ValueError("multi_term_postings needs at least one term")
    cond = _term_scan_cond(blocks, terms, num_buckets)
    filtered = blocks.where(cond).select("term", "doc_ids_bin", "scores_bin")
    return filtered.mapInPandas(_decode_keep_term, _DECODE_SCHEMA)


_DECODE_POS_SCHEMA = (
    "term string, doc_id long, score double, positions array<int>"
)


def _decode_keep_term_pos(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from cs_search_engine_architecture_spark.operators.compression import (
        grouped_delta_decode,
    )

    for pdf in it:
        terms: list[np.ndarray] = []
        docs: list[np.ndarray] = []
        scores: list[np.ndarray] = []
        pos: list[list] = []
        for row in pdf.itertuples(index=False):
            d = np.cumsum(varint_decode(row.doc_ids_bin), dtype=np.uint64)
            docs.append(d.astype(np.int64))
            scores.append(decode_scores(row.scores_bin))
            terms.append(np.repeat(row.term, len(d)))
            counts = varint_decode(row.pos_counts_bin).astype(np.int64)
            flat = grouped_delta_decode(
                varint_decode(row.positions_bin), counts
            ).astype(np.int32)
            pos.extend(
                arr.tolist() for arr in np.split(flat, np.cumsum(counts)[:-1])
            )
        yield pd.DataFrame(
            {
                "term": np.concatenate(terms) if terms else np.empty(0, object),
                "doc_id": (
                    np.concatenate(docs) if docs else np.empty(0, np.int64)
                ),
                "score": (
                    np.concatenate(scores).astype(np.float64)
                    if scores
                    else np.empty(0, np.float64)
                ),
                "positions": pd.Series(pos, dtype="object"),
            }
        )


def multi_term_postings_pos(
    blocks: DataFrame, terms: list[str], num_buckets: int
) -> DataFrame:
    """``multi_term_postings`` with char positions — the batched-phrase
    scan (same pushdown, plus the position columns)."""
    if not terms:
        raise ValueError("multi_term_postings_pos needs at least one term")
    cond = _term_scan_cond(blocks, terms, num_buckets)
    filtered = blocks.where(cond).select(
        "term", "doc_ids_bin", "scores_bin", "pos_counts_bin", "positions_bin"
    )
    return filtered.mapInPandas(_decode_keep_term_pos, _DECODE_POS_SCHEMA)


def phrase_batched_topk(
    spark: SparkSession,
    blocks: DataFrame,
    num_buckets: int,
    plans: list[tuple[str, list[str]]],
    top_k: int,
    exclude: DataFrame | None = None,
    allowed: DataFrame | None = None,
    monotonic: bool = False,
) -> DataFrame:
    """Answer every pure-phrase ``(query_id, values)`` plan from one
    shared positional scan — phrases no longer force per-query compiled
    fallback plans in ``engine.msearch``.

    ``allowed`` (a 1-column doc_id frame — filter context) semi-joins
    the hits BEFORE the per-query window cut, so each query's page is
    the exact top-k of the admitted set (post-limit filtering would
    starve pages). Equi semi-join; AQE broadcasts a selective side.

    Per (query_id, doc_id) the slot-tagged postings collect into a
    slot-sorted array; a doc matches when every slot is present AND
    every CONSECUTIVE slot pair satisfies the reference's char-window
    predicate ∃(p,q): 0 ≤ q−p ≤ 10 — exactly the compiled chain's
    semantics (each join step checks the next term's positions against
    the PREVIOUS term's full position list, so the chain is precisely
    the conjunction of pairwise-consecutive window tests). The score is
    a slot-ordered strict LEFT FOLD of the term scores, bit-identical
    to the compiled chain's ((s1+s2)+s3)… addition order."""
    from cs_search_engine_architecture_spark.oracle.reference import PHRASE_K

    rows = []
    for query_id, values in plans:
        for slot, term in enumerate(values):
            rows.append((query_id, slot, term))
    qmap = spark.createDataFrame(
        rows, "query_id string, slot int, term string"
    )
    nmap = spark.createDataFrame(
        [(qid, len(values)) for qid, values in plans],
        "query_id string, k int",
    )
    all_terms = sorted({t for _, _, t in rows})
    postings = multi_term_postings_pos(blocks, all_terms, num_buckets)
    agg = (
        postings.join(F.broadcast(qmap), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("slot", "score", "positions"))
            ).alias("sl")
        )
        .join(F.broadcast(nmap), "query_id")
        .where(F.size("sl") == F.col("k"))
    )
    chain_ok = slot_chain_window_ok(PHRASE_K, monotonic=monotonic)
    score = F.expr(
        "aggregate(transform(sl, x -> x.score), CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + v)"
    )
    hits = agg.where(chain_ok).select(
        "query_id", "doc_id", score.alias("score")
    )
    if exclude is not None:
        hits = hits.join(F.broadcast(exclude), "doc_id", "left_anti")
    if allowed is not None:
        hits = hits.join(allowed, "doc_id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score")
    )


def _mixed_scored_exprs(ast, leaf) -> tuple:
    """(present Column, score Column, is_complement) for a term-only
    tree — the compiler's 8-case lazy-NOT algebra
    (``plans/compiler.py:160-215``) as Columns, with ``leaf(term) ->
    (present, score)`` supplying each token leaf. The JOIN SCORE
    ARITHMETIC is mirrored bit-for-bit: inner join -> l + r in that
    order; full-outer union -> (l present ? l : 0.0) + (r present ? r :
    0.0) (identical IEEE ops to the compiled coalesce(l,0)+coalesce(r,0));
    anti-join -> the surviving side's score untouched. ``present``
    implies ``score`` is non-null, by induction. True negation (plain
    ``~`` of a whole operand) never reaches the result: complements stay
    lazy and callers discard the top-level flag, so a surviving NOT
    yields its operand's matches — the compiled plans' quirk included.

    The whole algebra is doc-POINTWISE (every compiled join keys on
    doc_id alone), so evaluating it per doc is exact. Two callers:
    ``mixed_batched_topk`` (leaf = the doc's term->score map ``m``) and
    ``percolate``'s mixed arm (leaf = membership in the doc's matched
    term set; ``score`` unused)."""
    if ast["type"] == "token":
        p, s = leaf(ast["value"])
        return p, s, False
    op = ast["operator"]
    if op == "not":
        p, s, n = _mixed_scored_exprs(ast["right"], leaf)
        return p, s, not n
    lp, ls, ln = _mixed_scored_exprs(ast["left"], leaf)
    rp, rs, rn = _mixed_scored_exprs(ast["right"], leaf)

    def union_score():
        return F.when(lp, ls).otherwise(F.lit(0.0)) + F.when(
            rp, rs
        ).otherwise(F.lit(0.0))

    if op == "and":
        if not ln and not rn:
            return lp & rp, ls + rs, False
        if ln and not rn:
            return rp & ~lp, rs, False
        if not ln and rn:
            return lp & ~rp, ls, False
        return lp | rp, union_score(), True
    # op == "or"
    if not ln and not rn:
        return lp | rp, union_score(), False
    if ln and not rn:
        return lp & ~rp, ls, True
    if not ln and rn:
        return rp & ~lp, rs, True
    return lp & rp, ls + rs, True


def mixed_batched_topk(
    spark: SparkSession,
    blocks: DataFrame,
    num_buckets: int,
    plans: list[tuple[str, dict]],
    top_k: int,
    exclude: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Answer every mixed-precedence TERM-ONLY ``(query_id, ast)`` plan
    from ONE shared pruned scan — the last per-query fallback class in
    ``engine.msearch`` batched (phrase-bearing trees still compile
    individually). Per doc, one aggregation builds the term->score map
    over the union of all plans' leaf terms; each plan's 8-case
    lazy-NOT algebra evaluates as a (present, score) Column pair with
    the compiled join arithmetic mirrored exactly (top-level complement
    flag discarded), so scores are BIT-IDENTICAL to the per-query
    compiled plans — pinned by ``test_msearch_mixed_matches_compiled``.

    ``exclude`` anti-joins the postings BEFORE the map aggregation
    (doc-pointwise algebra: exclusion commutes) — this also guarantees
    no duplicate map keys when ``blocks`` is the unified base+delta
    frame under pending updates (every updated id is in the full
    tombstone mask). ``allowed`` (filter context) semi-joins hits
    BEFORE the per-query window cut. N plans cost one scan + one
    shuffle + one window, never N compiled join trees.

    Caveats: (a) a duplicate (doc_id, term) posting pair that survives
    exclusion — only possible by MISUSE (add_docs of an id that already
    exists in base, instead of update_docs) — makes map_from_entries
    raise DUPLICATED_MAP_KEY and fail the batch loudly, where the
    other arms would silently double-score that doc; failing loud on a
    corrupt tier is deliberate. (b) a very large mixed batch widens the
    single (present, score) projection past whole-stage codegen's JIT
    limit and falls back to interpreted — still one pass, correctness
    unaffected (same caveat as percolate's mixed arm)."""
    all_terms = sorted({t for _, ast in plans for t in leaf_terms(ast)})
    postings = multi_term_postings(blocks, all_terms, num_buckets)
    if exclude is not None:
        postings = postings.join(
            F.broadcast(exclude), "doc_id", "left_anti"
        )
    agg = postings.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "score"))
        ).alias("m")
    )

    def score_map_leaf(term: str) -> tuple:
        t = F.lit(term)
        return (
            F.map_contains_key(F.col("m"), t),
            F.element_at(F.col("m"), t),
        )

    structs = []
    for qid, ast in plans:
        present, score, _ = _mixed_scored_exprs(ast, score_map_leaf)
        structs.append(
            F.when(
                present,
                F.struct(
                    F.lit(qid).alias("query_id"), score.alias("score")
                ),
            )
        )
    hits = agg.select(
        "doc_id",
        F.explode(F.array_compact(F.array(*structs))).alias("x"),
    ).select("x.query_id", "doc_id", "x.score")
    if allowed is not None:
        hits = hits.join(allowed, "doc_id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score")
    )


def _leaves(node) -> Iterator[dict]:
    """Token and phrase leaves of an AST, left to right (unary-NOT nodes
    carry a falsy ``left: {}`` placeholder — skipped)."""
    if not node:
        return
    if node["type"] == "operator":
        yield from _leaves(node.get("left"))
        yield from _leaves(node["right"])
    else:
        yield node


def leaf_terms(ast) -> list[str]:
    """Unique token and phrase-member terms of ``ast``, in first-seen
    (left-to-right) order; ``[]`` for an empty query."""
    return list(
        dict.fromkeys(
            t
            for leaf in _leaves(ast)
            for t in (
                leaf["values"] if leaf["type"] == "phrase" else [leaf["value"]]
            )
        )
    )


def _flat_terms(ast, op: str) -> list[str] | None:
    """Leaf terms if ``ast`` is a pure tree of ``op`` over tokens;
    None otherwise."""
    out: list[str] = []

    def walk(node) -> bool:
        if node is None:
            return False
        if node["type"] == "token":
            out.append(node["value"])
            return True
        if node["type"] == "operator" and node.get("operator") == op:
            return walk(node.get("left")) and walk(node.get("right"))
        return False

    return out if walk(ast) else None


def _flat_and_not(ast) -> tuple[list[str], list[str]] | None:
    """(pos_terms, neg_terms) when ``ast`` is a flat AND tree whose
    leaves are tokens or NOT(token | flat-OR-of-tokens) — the
    "a AND b AND NOT (c OR d)" family. De Morgan makes the exclusion
    set flat: NOT(c OR d) == NOT c AND NOT d, so a doc is excluded iff
    it matches ANY negated term — exactly the compiler's left-anti.
    NOT over an AND subtree (exclude only when ALL present) is not
    expressible this way -> None (compiled fallback)."""
    pos: list[str] = []
    neg: list[str] = []

    def walk(node) -> bool:
        if not node:
            return False
        if node["type"] == "token":
            pos.append(node["value"])
            return True
        if node["type"] != "operator":
            return False
        if node["operator"] == "and":
            return walk(node.get("left")) and walk(node.get("right"))
        if node["operator"] == "not":
            sub = node.get("right")
            if sub and sub.get("type") == "token":
                neg.append(sub["value"])
                return True
            flat = _flat_terms(sub, "or")
            if flat:
                neg.extend(flat)
                return True
            return False
        return False

    if not walk(ast) or not pos or not neg:
        return None
    if set(pos) & set(neg):
        return None  # degenerate "a and not a" — let the compiler rule
    return pos, neg


def classify_query(ast) -> tuple | None:
    """The query's SHAPE — the one routing decision ``engine.search``,
    ``engine.msearch`` and ``percolate`` all dispatch on:

    * ``("or", terms)`` / ``("and", terms)`` — a single token (as a
      one-term "or") or a flat OR / AND of tokens (repeated terms kept:
      they double-count in the score);
    * ``("and_not", pos_terms, neg_terms)`` — a flat AND-NOT tree;
    * ``("phrase", values)`` — a pure phrase;
    * ``("mixed", ast)`` — any other tree of tokens under and/or/not
      (the lazy-NOT algebra of ``_mixed_scored_exprs``);
    * ``None`` — empty query, or a phrase inside a tree (compiled-plan
      fallback).

    Top-level unary-NOT wrappers are stripped first — the compiler
    discards the root complement flag, so ``not X`` classifies (and
    scores) exactly as ``X``; the ``ast`` of a "mixed" shape is the
    stripped tree."""
    ast = strip_top_not(ast)
    if ast is None:
        return None
    if ast["type"] == "token":
        return ("or", [ast["value"]])
    if ast["type"] == "phrase":
        return ("phrase", list(ast["values"]))
    for mode in ("or", "and"):
        terms = _flat_terms(ast, mode)
        if terms:
            return (mode, terms)
    an = _flat_and_not(ast)
    if an:
        return ("and_not", an[0], an[1])
    if all(leaf["type"] == "token" for leaf in _leaves(ast)):
        return ("mixed", ast)
    return None


TERM_PLAN_SCHEMA = (
    "query_id string, term string, weight double, required int, is_neg int"
)


def term_plan_rows(plans: list[tuple]) -> list[tuple]:
    """Broadcast ``(query_id, term, weight, required, is_neg)`` rows
    (``TERM_PLAN_SCHEMA``) for ``(query_id, mode, terms[, neg_terms[,
    msm]])`` plans — one row per DISTINCT positive term (``weight`` =
    its multiplicity, or its boost when ``terms`` is a dict) and one
    weight-0 ``is_neg`` row per distinct negated term. ``required`` is
    the distinct positive-term count for "and"/"and_not" plans and the
    optional minimum_should_match (default 0) for "or" plans."""
    rows = []
    for plan in plans:
        query_id, mode, terms = plan[0], plan[1], plan[2]
        negs = plan[3] if len(plan) > 3 else []
        # optional 5th element: minimum_should_match for "or" plans —
        # a doc must match at least this many DISTINCT query terms
        msm = int(plan[4]) if len(plan) > 4 else 0
        if isinstance(terms, dict):
            # explicit per-term boosts (engine.boosted_search): the dict
            # IS the weight column — fractional boosts ride the same
            # broadcast map integer multiplicity uses
            distinct: dict[str, float] = {t: float(w) for t, w in terms.items()}
        else:
            distinct = {}
            for t in terms:
                distinct[t] = distinct.get(t, 0) + 1
        required = len(distinct) if mode in ("and", "and_not") else msm
        for t, w in distinct.items():
            rows.append((query_id, t, float(w), required, 0))
        for t in set(negs):
            rows.append((query_id, t, 0.0, required, 1))
    return rows


def term_plan_hit() -> "F.Column":
    """Hit filter over a ``(matched, required, neg_hit)`` aggregation of
    postings joined to ``term_plan_rows``. >= not ==: for AND/AND-NOT
    plans matched can never exceed required (each distinct term
    contributes at most one row per doc), so >= is equivalent there —
    and it makes "or" plans' minimum_should_match (required = msm <
    len(terms)) work on the same column."""
    return (
        (F.col("required") == 0) | (F.col("matched") >= F.col("required"))
    ) & (F.col("neg_hit") == 0)


def batched_topk(
    spark: SparkSession,
    blocks: DataFrame,
    num_buckets: int,
    plans: list[tuple],
    top_k: int,
    exclude: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Answer every ``(query_id, mode, terms[, neg_terms])`` plan from
    one shared scan.

    ``mode`` is "or"/"and"/"and_not"; the optional 4th element lists
    NEGATED terms ("data AND NOT slow" -> ("q", "and_not", ["data"],
    ["slow"])). Negated terms ride the SAME shared scan as presence-only
    rows (weight 0 — they never contribute score) and any match kills
    the (query, doc) pair, reproducing the compiler's left-anti
    semantics without a per-query fallback plan.

    Returns ``(query_id, doc_id, score)`` with at most ``top_k`` rows per
    query, ordered within each query by (score desc, doc_id asc).
    ``exclude`` (a 1-column doc_id frame, e.g. the index's tombstones) is
    anti-joined before per-query ranking; ``allowed`` (filter context)
    is semi-joined at the same point, so each query's page is the exact
    top-k of the admitted set.
    """
    rows = term_plan_rows(plans)
    qterms = spark.createDataFrame(rows, TERM_PLAN_SCHEMA)
    all_terms = sorted({row[1] for row in rows})
    postings = multi_term_postings(blocks, all_terms, num_buckets)
    joined = postings.join(F.broadcast(qterms), "term")
    agg = joined.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("score") * F.col("weight")).alias("score"),
        F.sum(1 - F.col("is_neg")).alias("matched"),
        F.max("required").alias("required"),
        F.max("is_neg").alias("neg_hit"),
    )
    hits = agg.where(term_plan_hit())
    if exclude is not None:
        hits = hits.join(F.broadcast(exclude), "doc_id", "left_anti")
    if allowed is not None:
        hits = hits.join(allowed, "doc_id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score")
    )
