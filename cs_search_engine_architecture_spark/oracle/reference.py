"""Pure-Python oracle mirroring the reference engine's semantics exactly.

This is the single source of truth for "rank-identical to the reference"
(SURVEY.md §7 Phase 0): a tiny, obviously-correct, single-process
implementation of the full index-build + query pipeline whose component
behaviours are pinned to the reference's own golden unit vectors. All Spark
golden fixtures are generated from this oracle.

Mirrored semantics (reference file:line):

* tokenization / stemming / stopwords — shared module
  (``functions/tokenizer.py``; goldens from ``test/test_tokenizer.py``);
* per-doc aggregation: per-field frequencies, post-filter field lengths,
  char positions concatenated field-by-field, each relative to its own
  field start (``sea/corpus.pyx:117-197``);
* df/idf: ``idf = ln((N - df + 0.5) / (df + 0.5))`` — natural log, may go
  negative, no floor (``sea/indexer.pyx:344-345``);
* index-time BM25 (``sea/document.pyx:254-280``):
  ``tf = Σ_f ff_f·boost_f / (1 + b_f + (1-b_f)·(len_f/avg_f))`` — note the
  non-standard ``1 + b + ...`` normalizer — and
  ``score = idf · tf·(k+1)/(tf+k)``, k=1.5, boosts=[1.0, 0.5],
  b=[0.75, 0.75] (``sea/indexer.pyx:22-24``);
* posting-list algebra on doc_id-sorted lists with score summation on merge
  (``sea/posting_list.pyx:7-191``);
* phrase constraint between consecutive terms' position lists:
  match iff ∃(p, q): p ≤ q ≤ p+k with k=10 chars
  (``sea/posting_list.pyx:23-44``; the unsigned-wraparound ``< 0`` check
  reduces to exactly this ordered-window predicate);
* lazy NOT De Morgan algebra (``sea/engine.pyx:455-498``) with the
  top-level NOT flag ignored (``sea/engine.pyx:531-553`` discards
  ``results_pair.second``);
* top-k tie-break ``(score desc, doc_id asc)`` — the reference's own sort
  is unstable (``std::sort``, ``sea/engine.pyx:599``), so ties are defined
  by this contract and applied to oracle and engine alike (FIXTURES.md §6).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from cs_search_engine_architecture_spark.functions.tokenizer import tokenize
from cs_search_engine_architecture_spark.plans.query_parser import parse_query

BM25_K = 1.5  # sea/indexer.pyx:24
BM25_FIELD_BOOSTS = (1.0, 0.5)  # sea/indexer.pyx:22
BM25_BS = (0.75, 0.75)  # sea/indexer.pyx:23
PHRASE_K = 10  # sea/engine.pyx:445


@dataclass
class Posting:
    doc_id: int
    field_frequencies: list[int]
    field_lengths: list[int]
    positions: list[int]  # field-concatenated, each relative to field start
    score: float = 0.0


@dataclass
class ResultPosting:
    """Query-time accumulator (``sea/document.pxd:40-50``)."""

    doc_id: int
    total_score: float
    # one positions vector per merged term, in merge order
    char_positions: list[list[int]] = field(default_factory=list)
    terms: list[str] = field(default_factory=list)


class OracleIndex:
    def __init__(
        self,
        docs: list[tuple[int, list[str]]],
        analyzer: str = "reference",
        field_boosts: tuple[float, ...] | None = None,
        bm25_bs: tuple[float, ...] | None = None,
        bm25_k: float = BM25_K,
    ):
        """``docs``: list of (doc_id, [field_0_text, ..., field_{nf-1}_text])."""
        num_fields = len(docs[0][1]) if docs else 1
        self.num_fields = num_fields
        self.field_boosts = list(
            field_boosts
            if field_boosts is not None
            else BM25_FIELD_BOOSTS[:num_fields]
            if num_fields <= 2
            else [1.0] * num_fields
        )
        self.bm25_bs = list(
            bm25_bs if bm25_bs is not None else BM25_BS[:num_fields]
        )
        self.bm25_k = bm25_k
        self.analyzer = analyzer

        self.num_documents = 0
        self.num_postings = 0
        summed_field_lengths = [0] * num_fields
        index: dict[str, dict[int, Posting]] = {}

        self.doc_field_lengths: dict[int, list[int]] = {}
        self.doc_terms: dict[int, dict[str, Posting]] = {}
        for doc_id, fields in docs:
            self.num_documents += 1
            per_doc: dict[str, Posting] = {}
            field_lengths = [0] * num_fields
            for f_idx, text in enumerate(fields):
                toks, poss = tokenize(text or "", is_query=False, analyzer=analyzer)
                field_lengths[f_idx] = len(toks)
                for tok, pos in zip(toks, poss):
                    p = per_doc.get(tok)
                    if p is None:
                        p = Posting(doc_id, [0] * num_fields, field_lengths, [])
                        per_doc[tok] = p
                    p.field_frequencies[f_idx] += 1
                    p.positions.append(pos)
            for f_idx in range(num_fields):
                summed_field_lengths[f_idx] += field_lengths[f_idx]
            self.doc_field_lengths[doc_id] = field_lengths
            self.doc_terms[doc_id] = per_doc
            for tok, p in per_doc.items():
                # field_lengths list is shared by reference postings too
                # (sea/corpus.pyx:168) and is final after the doc loop
                index.setdefault(tok, {})[doc_id] = p
                self.num_postings += 1

        self.avg_field_lengths = [
            (s / self.num_documents) if self.num_documents else 0.0
            for s in summed_field_lengths
        ]
        # doc_id-sorted posting lists (sea/indexer.pyx:251)
        self.index: dict[str, list[Posting]] = {
            t: [ps[d] for d in sorted(ps)] for t, ps in index.items()
        }
        self.document_frequencies = {t: len(ps) for t, ps in self.index.items()}
        # idf + index-time BM25 scores (sea/indexer.pyx:344-345,
        # sea/document.pyx:254-280); float32 cast at the comparison boundary
        self.idf: dict[str, float] = {}
        n = self.num_documents
        for term, plist in self.index.items():
            df = len(plist)
            idf = math.log((n - df + 0.5) / (df + 0.5))
            self.idf[term] = idf
            for p in plist:
                tf = 0.0
                for f in range(num_fields):
                    denom = 1.0 + self.bm25_bs[f] + (1.0 - self.bm25_bs[f]) * (
                        p.field_lengths[f] / self.avg_field_lengths[f]
                    )
                    tf += p.field_frequencies[f] * self.field_boosts[f] / denom
                p.score = float(
                    np.float32(idf * ((tf * (self.bm25_k + 1.0)) / (tf + self.bm25_k)))
                )

    # ---- query-time posting algebra (sea/posting_list.pyx) ----

    def _leaf(self, term: str) -> list[ResultPosting]:
        return [
            ResultPosting(p.doc_id, p.score, [list(p.positions)], [term])
            for p in self.index.get(term, [])
        ]

    @staticmethod
    def _merge(a: ResultPosting, b: ResultPosting) -> ResultPosting:
        return ResultPosting(
            a.doc_id,
            a.total_score + b.total_score,
            a.char_positions + b.char_positions,
            a.terms + b.terms,
        )

    @classmethod
    def _intersection(cls, a, b):
        out, i, j = [], 0, 0
        while i < len(a) and j < len(b):
            if a[i].doc_id < b[j].doc_id:
                i += 1
            elif a[i].doc_id > b[j].doc_id:
                j += 1
            else:
                out.append(cls._merge(a[i], b[j]))
                i += 1
                j += 1
        return out

    @staticmethod
    def _phrase_ok(p1: ResultPosting, p2: ResultPosting, k: int) -> bool:
        # consecutive-term window: last merged vector of p1 vs last of p2
        xs, ys = p1.char_positions[-1], p2.char_positions[-1]
        i, j = 0, 0
        while i < len(xs) and j < len(ys):
            d = ys[j] - xs[i]
            if 0 <= d <= k:
                return True
            if xs[i] + k < ys[j]:
                i += 1
            else:
                j += 1
        return False

    @classmethod
    def _intersection_phrase(cls, a, b, k=PHRASE_K):
        out, i, j = [], 0, 0
        while i < len(a) and j < len(b):
            if a[i].doc_id < b[j].doc_id:
                i += 1
            elif a[i].doc_id > b[j].doc_id:
                j += 1
            else:
                if cls._phrase_ok(a[i], b[j], k):
                    out.append(cls._merge(a[i], b[j]))
                i += 1
                j += 1
        return out

    @classmethod
    def _union(cls, a, b):
        out, i, j = [], 0, 0
        while i < len(a) and j < len(b):
            if a[i].doc_id < b[j].doc_id:
                out.append(a[i])
                i += 1
            elif a[i].doc_id > b[j].doc_id:
                out.append(b[j])
                j += 1
            else:
                out.append(cls._merge(a[i], b[j]))
                i += 1
                j += 1
        out.extend(a[i:])
        out.extend(b[j:])
        return out

    @staticmethod
    def _difference(a, b):
        out, i, j = [], 0, 0
        while i < len(a) and j < len(b):
            if a[i].doc_id == b[j].doc_id:
                i += 1
                j += 1
            elif a[i].doc_id < b[j].doc_id:
                out.append(a[i])
                i += 1
            else:
                j += 1
        out.extend(a[i:])
        return out

    # ---- boolean evaluation with lazy NOT (sea/engine.pyx:424-498) ----

    def _eval(self, node: dict) -> tuple[list[ResultPosting], bool]:
        if not node:
            return [], False
        if node["type"] == "token":
            return self._leaf(node["value"]), False
        if node["type"] == "phrase":
            result = self._leaf(node["values"][0])
            for term in node["values"][1:]:
                result = self._intersection_phrase(result, self._leaf(term))
            return result, False

        op = node["operator"]
        if op == "not":
            postings, isnot = self._eval(node["right"])
            return postings, not isnot

        left, lnot = self._eval(node["left"])
        right, rnot = self._eval(node["right"])
        if op == "and":
            if not lnot and not rnot:
                return self._intersection(left, right), False
            if lnot and not rnot:
                return self._difference(right, left), False
            if not lnot and rnot:
                return self._difference(left, right), False
            return self._union(left, right), True
        # op == "or"
        if not lnot and not rnot:
            return self._union(left, right), False
        if lnot and not rnot:
            return self._difference(left, right), True
        if not lnot and rnot:
            return self._difference(right, left), True
        return self._intersection(left, right), True

    def search(self, query: str, top_k: int = 10) -> list[tuple[int, float]]:
        """BM25 boolean search -> [(doc_id, score)] with the contract
        tie-break (score desc, doc_id asc). The top-level NOT flag is
        discarded, as in ``sea/engine.pyx:531-553``."""
        ast = parse_query(query, analyzer=self.analyzer)
        if ast is None:
            return []
        postings, _ = self._eval(ast)
        ranked = sorted(postings, key=lambda p: (-p.total_score, p.doc_id))
        return [(p.doc_id, float(np.float32(p.total_score))) for p in ranked[:top_k]]

    def search_all(self, query: str) -> list[tuple[int, float]]:
        return self.search(query, top_k=1 << 62)

    # ---- LTR feature matrix + hybrid search (R1/R2/R4 parity) ----
    #
    # Mirrors ``get_features`` (``sea/learning_to_rank/
    # feature_mapping.pyx:10-53``) generalized to nf fields, and
    # ``combined_search`` (``sea/engine.pyx:612-658``): the union
    # concatenates exact and semantic postings' token entries for docs in
    # both (``merge_postings``, ``sea/posting_list.pyx:7-21``) so matched
    # terms double-count; the MLP re-ranks the whole union. Deviation
    # (documented): features accumulate in float64, not the reference's
    # float32 matrix — the float32 cast happens at the comparison
    # boundary, per the repo-wide float policy.

    def _query_token_count(self, query: str) -> int:
        """``tokenized_query.tokens.size()`` — query-mode tokenization
        KEEPS operator words (``sea/tokenizer.pyx:21-23``), so they count
        toward the coverage denominator (reference quirk)."""
        toks, _ = tokenize(query, is_query=True, analyzer=self.analyzer)
        return len(toks)

    def _feature_row(
        self,
        doc_id: int,
        entries: list[tuple[str, Posting]],
        similarity: float,
        num_query_tokens: int,
    ) -> list[float]:
        nf = self.num_fields
        bm25 = [0.0] * nf
        coverage = 0.0
        first_pos = None
        for term, p in entries:
            idf = self.idf[term]
            for f in range(nf):
                tf = float(p.field_frequencies[f])
                denom = tf + self.bm25_k * (
                    1.0
                    - self.bm25_bs[f]
                    + self.bm25_bs[f]
                    * (p.field_lengths[f] / self.avg_field_lengths[f])
                )
                if denom > 0:
                    bm25[f] += idf * tf * (self.bm25_k + 1.0) / denom
            coverage += 1.0 / num_query_tokens if num_query_tokens > 0 else 0.0
            if p.positions:
                fp = p.positions[0]
                first_pos = fp if first_pos is None else min(first_pos, fp)
        lens = [
            float(x)
            for x in self.doc_field_lengths.get(doc_id, [0] * nf)
        ]
        return (
            bm25
            + lens
            + [coverage] * nf
            + [float(first_pos) if first_pos is not None else -1.0, similarity]
        )

    def exact_search_ltr(
        self, query: str, scorer, pre_select_k: int = 50, top_k: int = 10
    ) -> list[tuple[int, float]]:
        """``exact_search(..., ltr_enabled=True)`` (``sea/engine.pyx:
        584-607``): BM25 top-``pre_select_k``, MLP re-rank, top-k by
        (ltr_score desc, doc_id asc)."""
        nq = self._query_token_count(query)
        top = self.search(query, pre_select_k)
        rows = []
        for doc_id, _ in top:
            entries = [
                (t, self.doc_terms[doc_id][t])
                for t in self._matched_terms(query, doc_id)
            ]
            rows.append((doc_id, self._feature_row(doc_id, entries, 0.0, nq)))
        if not rows:
            return []
        scores = scorer(np.array([r[1] for r in rows], dtype=np.float64))
        ranked = sorted(
            zip((r[0] for r in rows), scores), key=lambda x: (-x[1], x[0])
        )
        return [(d, float(s)) for d, s in ranked[:top_k]]

    def _matched_terms(self, query: str, doc_id: int) -> list[str]:
        """Distinct query leaf terms present in ``doc_id`` (= the token
        entries an exact OR/AND traversal accumulates for the doc, and
        the entries ``simulate_search_result`` builds for semantic hits)."""
        ast = parse_query(query, analyzer=self.analyzer)
        leaves: list[str] = []

        def walk(node):
            if not node:
                return
            if node["type"] == "token":
                if node["value"] not in leaves:
                    leaves.append(node["value"])
            elif node["type"] == "phrase":
                for v in node["values"]:
                    if v not in leaves:
                        leaves.append(v)
            else:
                walk(node.get("left"))
                walk(node.get("right"))

        walk(ast)
        return [t for t in leaves if t in self.doc_terms.get(doc_id, {})]

    def combined_search(
        self,
        query: str,
        sims: dict[int, float],
        scorer,
        exact_k: int = 50,
        sem_k: int = 50,
        top_k: int = 10,
    ) -> list[tuple[int, float, str]]:
        """Reference hybrid: exact top-``exact_k`` ∪ semantic
        top-``sem_k`` (``sims``: doc_id -> cosine over the WHOLE corpus),
        features with the both-docs double-count, MLP re-rank of the
        union, top-k by (ltr_score desc, doc_id asc). Returns
        (doc_id, ltr_score, provenance)."""
        nq = self._query_token_count(query)
        exact_ids = [d for d, _ in self.search(query, exact_k)]
        sem_ids = [
            d
            for d, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[
                :sem_k
            ]
        ]
        union = sorted(set(exact_ids) | set(sem_ids))
        rows = []
        for doc_id in union:
            in_e, in_s = doc_id in exact_ids, doc_id in sem_ids
            prov = "both" if (in_e and in_s) else ("exact" if in_e else "semantic")
            mult = 2 if prov == "both" else 1
            entries = [
                (t, self.doc_terms[doc_id][t])
                for t in self._matched_terms(query, doc_id)
            ] * mult
            sim = float(sims.get(doc_id, 0.0)) if in_s else 0.0
            rows.append(
                (doc_id, prov, self._feature_row(doc_id, entries, sim, nq))
            )
        if not rows:
            return []
        scores = scorer(np.array([r[2] for r in rows], dtype=np.float64))
        ranked = sorted(
            zip(rows, scores), key=lambda x: (-x[1], x[0][0])
        )
        return [(r[0], float(s), r[1]) for r, s in ranked[:top_k]]
