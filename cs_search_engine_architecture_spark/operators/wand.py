"""Exchange-free per-shard top-k kernels for every term-only query
(north star: "query-time BM25 top-k answered by a partition-parallel
block-max WAND traversal — posting-list intersect, skip pointers,
bounded heap").

Three kernels share ONE plumbing path (``_sharded_topk``):

* ``shard_wand_topk`` — block-max WAND over the OR-sum (the reference's
  flat scored search: per-doc total = Σ per-term BM25, ``merge_postings``
  ``sea/posting_list.pyx:15``); a single term is its one-term case;
* ``shard_and_topk`` — the intersection, skipping blocks on doc ranges;
* ``shard_tree_topk`` — any other term-only boolean tree: the compiler's
  lazy-NOT algebra (``plans/compiler.py``, ``sea/engine.pyx:424-498``)
  as numpy set algebra over the shard's decoded postings.

Shape:

1. a term-pruned scan of the cached shard-partitioned blocks frame
   (``preshard_blocks``) selects the query terms' BLOCK rows (metadata
   + compressed payloads; one row per ``block_size`` postings —
   postings stay encoded);
2. the build splits every block at ``wand_shard_span`` edges, so a
   block lies in exactly ONE doc-range shard (``first_doc // span``)
   — every doc's postings land in exactly one shard, so shard-local
   top-ks are globally mergeable, and no block is replicated;
3. ``applyInPandas`` per shard runs the kernel, with no per-query
   exchange (the cached frame is already partitioned by shard) — one
   Spark job per query;
4. ``orderBy(score desc, doc_id asc).limit(k)`` merges shard-local
   top-ks (TakeOrderedAndProject — only ≤ k rows per shard move).

NEGATIVE SCORES: the reference's idf has no floor (``ln((N-df+.5)/
(df+.5))`` goes negative for df > N/2, ``sea/indexer.pyx:344``), so an
undecoded block can LOWER a doc's total — classic WAND's "skipping can
only forfeit gains" assumption fails. Blocks therefore carry BOTH
``max_score`` and ``min_score``, and the WAND kernel uses two-sided
bounds (the AND and tree kernels skip on doc ranges or not at all, so
they need none):

* per-term shard gains  G_t = max(max over block maxes, 0)
* per-term shard losses L_t = min(min over block mins, 0)
* θ (threshold) = k-th best LOWER bound over seen docs, where
  ``lower(doc) = partial + Σ_t L_t·[t has an undecoded block covering
  doc]`` — every final total dominates its lower bound, so the k-th
  final ≥ θ;
* an unseen doc inside undecoded block b of term t is bounded by
  ``max_b + Σ_{t'≠t} G_{t'}``; phase 1 decodes blocks in descending
  order of that bound and stops when it falls below θ;
* candidates = seen docs with ``upper(doc) = partial + Σ_t G_t·
  covered_t(doc) ≥ θ``; a completion pass decodes every undecoded
  block overlapping a candidate (doc-contiguity → range test), making
  candidate totals EXACT; non-candidates and unseen docs are below θ ≤
  the k-th final total, so the exact top-k over candidates is the
  global exact top-k with the (score desc, doc_id asc) contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cs_search_engine_architecture_spark.operators.compression import (
    decode_scores,
    varint_decode,
)
from cs_search_engine_architecture_spark.operators.msearch import leaf_terms

RESULT_SCHEMA = "doc_id long, score double"


def _decode_block(
    doc_ids_bin: bytes, scores_bin: bytes, lo: int, hi: int
) -> tuple[np.ndarray, np.ndarray]:
    """One block's (doc ids, float64 scores) inside the shard [lo, hi)."""
    ids = np.cumsum(varint_decode(doc_ids_bin), dtype=np.uint64).astype(
        np.int64
    )
    sc = decode_scores(scores_bin).astype(np.float64)
    m = (ids >= lo) & (ids < hi)
    return ids[m], sc[m]


def _empty_topk() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "score": []}).astype(
        {"doc_id": "int64", "score": "float64"}
    )


def shard_wand_topk(
    pdf: pd.DataFrame, k: int, lo: int, hi: int, chunk: int = 4096
) -> pd.DataFrame:
    """Exact top-k of Σ-score over one doc shard [lo, hi)."""
    n_blocks = len(pdf)
    counts = pdf["count"].to_numpy()
    firsts_all = pdf["first_doc"].to_numpy()
    lasts_all = pdf["last_doc"].to_numpy()
    maxs = pdf["max_score"].to_numpy().astype(np.float64)
    mins = pdf["min_score"].to_numpy().astype(np.float64)
    docs_bin = pdf["doc_ids_bin"].to_numpy()
    scores_bin = pdf["scores_bin"].to_numpy()

    uniq_terms, tinv = np.unique(pdf["term"].to_numpy(), return_inverse=True)
    nt = len(uniq_terms)
    m_t = np.full(nt, -np.inf)
    np.maximum.at(m_t, tinv, maxs)
    l_t = np.full(nt, np.inf)
    np.minimum.at(l_t, tinv, mins)
    G_t = np.maximum(m_t, 0.0)  # possible gain per term
    L_t = np.minimum(l_t, 0.0)  # possible loss per term
    G = float(G_t.sum())
    # optimistic bound for an unseen doc first found in block b of term t
    bounds = maxs + (G - G_t[tinv])
    order = np.argsort(-bounds, kind="stable")

    decoded = np.zeros(n_blocks, dtype=bool)
    ids_acc: list[np.ndarray] = []
    sc_acc: list[np.ndarray] = []

    def decode_into(i: int) -> None:
        ids, sc = _decode_block(docs_bin[i], scores_bin[i], lo, hi)
        if ids.size:
            ids_acc.append(ids)
            sc_acc.append(sc)
        decoded[i] = True

    def totals() -> tuple[np.ndarray, np.ndarray]:
        if not ids_acc:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        ids = np.concatenate(ids_acc)
        sc = np.concatenate(sc_acc)
        u, inv = np.unique(ids, return_inverse=True)
        return u, np.bincount(inv, weights=sc)

    def coverage(u: np.ndarray, weights: np.ndarray) -> np.ndarray:
        """Σ_t weights[t]·[t has an undecoded block covering each doc]."""
        out = np.zeros(len(u), dtype=np.float64)
        for ti in range(nt):
            if weights[ti] == 0.0:
                continue
            und = np.flatnonzero((tinv == ti) & ~decoded)
            if und.size == 0:
                continue
            firsts = firsts_all[und]
            lasts = lasts_all[und]
            o = np.argsort(firsts)
            firsts, lasts = firsts[o], lasts[o]
            # blocks of one term are doc-disjoint: the only block that can
            # cover doc d is the one with the greatest first_doc <= d
            idx = np.searchsorted(firsts, u, side="right") - 1
            covered = (idx >= 0) & (u <= lasts[np.clip(idx, 0, None)])
            out[covered] += weights[ti]
        return out

    def theta() -> float:
        u, t = totals()
        if len(t) < k:
            return -np.inf
        low = t + coverage(u, L_t)
        return float(np.partition(low, -k)[-k])

    # phase 1: bound-ordered decode with rising threshold
    th = -np.inf
    new_postings = 0
    pos = 0
    while pos < n_blocks:
        i = order[pos]
        if bounds[i] < th:
            break  # all later blocks have lower bounds — skip the tail
        decode_into(i)
        new_postings += int(counts[i])
        pos += 1
        if new_postings >= max(4 * k, chunk):
            th = theta()
            new_postings = 0
    th = theta()

    # phase 2: candidate selection by upper bound
    u, t = totals()
    if len(u) == 0:
        return _empty_topk()
    if np.isfinite(th):
        upper = t + coverage(u, G_t)
        cands = u[upper >= th]
    else:
        cands = u  # fewer than k docs seen -> everyone is a candidate

    # phase 3: completion — exact totals for candidates
    if cands.size:
        for i in np.flatnonzero(~decoded):
            a = np.searchsorted(cands, firsts_all[i], side="left")
            b = np.searchsorted(cands, lasts_all[i], side="right")
            if a < b:
                decode_into(i)

    u, t = totals()
    keep = np.isin(u, cands)
    u, t = u[keep], t[keep]
    kk = min(k, len(u))
    # bounded heap semantics: (score desc, doc_id asc)
    sel = np.lexsort((u, -t))[:kk]
    return pd.DataFrame({"doc_id": u[sel], "score": t[sel]})


def shard_and_topk(
    pdf: pd.DataFrame, terms: list[str], k: int, lo: int, hi: int
) -> pd.DataFrame:
    """Exact top-k of the AND (intersection) of ``terms`` in one shard.

    Skip pointers, literally: a block of term t whose doc range overlaps
    NO block of some other term t' cannot contain an intersection doc
    (blocks are doc-contiguous), so it is dropped from the decode set on
    metadata alone — sparse co-occurrence skips most of both lists."""
    empty = _empty_topk()
    tcol = pdf["term"].to_numpy()
    present = set(tcol.tolist())
    if present != set(terms):
        return empty  # a term with no postings here -> empty intersection

    firsts = pdf["first_doc"].to_numpy()
    lasts = pdf["last_doc"].to_numpy()
    docs_bin = pdf["doc_ids_bin"].to_numpy()
    scores_bin = pdf["scores_bin"].to_numpy()

    idx_by_term = {t: np.flatnonzero(tcol == t) for t in terms}
    ranges = {}
    for t, idxs in idx_by_term.items():
        f = firsts[idxs]
        l = lasts[idxs]
        o = np.argsort(f)
        ranges[t] = (f[o], l[o])

    def overlaps_some(t_other: str, f: np.ndarray, l: np.ndarray) -> np.ndarray:
        """For query blocks [f,l], does ANY block of t_other overlap?"""
        of, ol = ranges[t_other]
        # block ranges of one term are disjoint and sorted; overlap exists
        # iff the first other-block with end >= f starts <= l
        ends_sorted = ol  # ol is sorted because ranges are disjoint+sorted
        j = np.searchsorted(ends_sorted, f, side="left")
        ok = j < len(of)
        res = np.zeros(len(f), dtype=bool)
        res[ok] = of[np.clip(j[ok], 0, len(of) - 1)] <= l[ok]
        return res

    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in terms:
        idxs = idx_by_term[t]
        f = firsts[idxs]
        l = lasts[idxs]
        alive = np.ones(len(idxs), dtype=bool)
        for t2 in terms:
            if t2 == t:
                continue
            alive &= overlaps_some(t2, f, l)
        ids_parts, sc_parts = [], []
        for i in idxs[alive]:
            ids, sc = _decode_block(docs_bin[i], scores_bin[i], lo, hi)
            if ids.size:
                ids_parts.append(ids)
                sc_parts.append(sc)
        if not ids_parts:
            return empty
        ids = np.concatenate(ids_parts)
        sc = np.concatenate(sc_parts)
        o = np.argsort(ids, kind="stable")
        per_term[t] = (ids[o], sc[o])

    inter = per_term[terms[0]][0]
    for t in terms[1:]:
        inter = np.intersect1d(inter, per_term[t][0], assume_unique=True)
        if inter.size == 0:
            return empty
    total = np.zeros(len(inter), dtype=np.float64)
    for t in terms:
        ids_s, sc_s = per_term[t]
        total += sc_s[np.searchsorted(ids_s, inter)]
    kk = min(k, len(inter))
    sel = np.lexsort((inter, -total))[:kk]
    return pd.DataFrame({"doc_id": inter[sel], "score": total[sel]})


def shard_tree_topk(
    pdf: pd.DataFrame, ast: dict, k: int, lo: int, hi: int
) -> pd.DataFrame:
    """Exact top-k of a term-only boolean tree in one doc shard [lo, hi).

    The compiler's lazy-NOT algebra (``plans/compiler.py``) in numpy:
    each subtree evaluates to (doc-sorted ids, scores, is_not) and the
    parent picks the same case of the same 8-case table, with the same
    float64 arithmetic as the compiled joins — inner: ``intersect1d``,
    ``left + right``; union: zero-filled ``left + right`` (==
    ``coalesce(l, 0) + coalesce(r, 0)``); anti: ``isin``, the survivor's
    score untouched. Scores are therefore bit-identical to the compiled
    plan, and a repeated term counts once per occurrence exactly as
    there. Each leaf term's blocks decode once; the root NOT flag is
    discarded. The algebra is doc-pointwise, so shard-local results
    merge into the global answer."""
    tcol = pdf["term"].to_numpy()
    docs_bin = pdf["doc_ids_bin"].to_numpy()
    scores_bin = pdf["scores_bin"].to_numpy()
    absent = (np.empty(0, np.int64), np.empty(0, np.float64))
    postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for term in set(tcol.tolist()):
        parts = [
            _decode_block(docs_bin[i], scores_bin[i], lo, hi)
            for i in np.flatnonzero(tcol == term)
        ]
        ids = np.concatenate([p[0] for p in parts])
        sc = np.concatenate([p[1] for p in parts])
        o = np.argsort(ids, kind="stable")
        postings[term] = (ids[o], sc[o])

    def inner(li, ls, ri, rs):
        ids, a, b = np.intersect1d(
            li, ri, assume_unique=True, return_indices=True
        )
        return ids, ls[a] + rs[b]

    def union(li, ls, ri, rs):
        ids = np.union1d(li, ri)
        left = np.zeros(len(ids))
        left[np.searchsorted(ids, li)] = ls
        right = np.zeros(len(ids))
        right[np.searchsorted(ids, ri)] = rs
        return ids, left + right

    def anti(ai, a_sc, bi):
        keep = ~np.isin(ai, bi, assume_unique=True)
        return ai[keep], a_sc[keep]

    def ev(node) -> tuple[np.ndarray, np.ndarray, bool]:
        if node["type"] == "token":
            return (*postings.get(node["value"], absent), False)
        if node["operator"] == "not":
            ids, sc, neg = ev(node["right"])
            return ids, sc, not neg
        li, ls, ln = ev(node["left"])
        ri, rs, rn = ev(node["right"])
        if node["operator"] == "and":
            if not ln and not rn:
                return (*inner(li, ls, ri, rs), False)
            if ln and not rn:
                return (*anti(ri, rs, li), False)
            if not ln and rn:
                return (*anti(li, ls, ri), False)
            return (*union(li, ls, ri, rs), True)
        # "or"
        if not ln and not rn:
            return (*union(li, ls, ri, rs), False)
        if ln and not rn:
            return (*anti(li, ls, ri), True)
        if not ln and rn:
            return (*anti(ri, rs, li), True)
        return (*inner(li, ls, ri, rs), True)

    ids, sc, _ = ev(ast)
    sel = np.lexsort((ids, -sc))[:k]
    return pd.DataFrame({"doc_id": ids[sel], "score": sc[sel]})


# ------------------------------------------------------ serving layout
#
# Every index is shard-aligned (blocks never cross a ``wand_shard_span``
# boundary), so the engine keeps ONE cached copy of the blocks
# repartitioned by ``shard`` (one exchange at first use). Every kernel
# query then runs filter -> sort -> kernel over the cached
# partitioning — NO per-query ShuffleExchange, so a hot term's
# compressed payload never re-ships per query.


def preshard_blocks(
    blocks: DataFrame, shard_span: int, num_partitions: int
) -> DataFrame:
    """(blocks + shard column) hash-partitioned by shard; caller
    persists. Valid ONLY for shard-aligned indexes (every block's doc
    range lies in one shard, so ``shard = first_doc // span`` covers
    all its postings)."""
    return blocks.withColumn(
        "shard", (F.col("first_doc") / shard_span).cast("long")
    ).repartition(num_partitions, "shard")


def _sharded_topk(
    sharded: DataFrame, terms: list[str], cols: list[str], kernel, k: int,
    shard_span: int,
) -> DataFrame:
    """The one plumbing path of every kernel: the query terms' block
    rows (``term``, ``cols``, payloads) from the pre-sharded frame,
    ``kernel(pdf, lo, hi)`` per shard, then a TakeOrderedAndProject
    merge of the shard-local top-ks. Exchange-free: the persisted
    HashPartitioning(shard) satisfies the kernel's
    ClusteredDistribution, so the plan is InMemoryTableScan -> Filter
    -> Sort -> FlatMapGroupsInPandas -> TakeOrderedAndProject."""
    sel = sharded.where(F.col("term").isin(list(terms))).select(
        "term", *cols, "doc_ids_bin", "scores_bin", "shard"
    )

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        return kernel(pdf, shard * shard_span, (shard + 1) * shard_span)

    local = sel.groupBy("shard").applyInPandas(per_shard, RESULT_SCHEMA)
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wand_topk(
    sharded: DataFrame, kind: str, terms: list[str], k: int, shard_span: int
) -> DataFrame:
    """Exact top-k over a pre-sharded cached blocks frame: ``kind``
    "or" ranks the OR-sum (``shard_wand_topk``; one term is the
    single-term case), "and" the intersection (``shard_and_topk``)."""
    terms = list(terms)
    if kind == "or":
        cols = ["first_doc", "last_doc", "count", "max_score", "min_score"]

        def kernel(pdf, lo, hi):
            return shard_wand_topk(pdf, k, lo=lo, hi=hi)
    else:
        # the AND kernel skips on doc ranges alone — no score bounds
        cols = ["first_doc", "last_doc"]

        def kernel(pdf, lo, hi):
            return shard_and_topk(pdf, terms, k, lo=lo, hi=hi)

    return _sharded_topk(sharded, terms, cols, kernel, k, shard_span)


def tree_topk(
    sharded: DataFrame, ast: dict, k: int, shard_span: int
) -> DataFrame:
    """Exact top-k of a term-only boolean tree (``shard_tree_topk``)
    over a pre-sharded cached blocks frame — scores bit-identical to
    the compiled plan of ``ast``."""

    def kernel(pdf, lo, hi):
        return shard_tree_topk(pdf, ast, k, lo=lo, hi=hi)

    return _sharded_topk(sharded, leaf_terms(ast), [], kernel, k, shard_span)
