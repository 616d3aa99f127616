"""Seeded input generators: the serve query stream and the percolate
standing queries. Pure Python over a vocabulary of ``(term, df)`` pairs,
so the same seed and vocabulary always give the same stream."""

from __future__ import annotations

import bisect
import itertools
import random

# the parser shapes of the serve stream, one query of each per round; the
# standing queries cycle through them too (percolate takes every shape
# except a phrase nested in a boolean tree, which none of these is)
SERVE_SHAPES = ("single", "and", "or", "and_not", "phrase", "mixed")

ZIPF_S = 1.1
_OPERATOR_WORDS = frozenset(("and", "or", "not"))


def query_vocabulary(term_dfs, round_trips) -> list[tuple[str, int]]:
    """Terms usable in a query, hottest first (df desc, then term).

    ``round_trips(term)`` says whether the query analyzer maps ``term``
    back to itself; stems that re-stem to another string are dropped so
    every generated term exists in the index."""
    vocab = [
        (t, int(df)) for t, df in term_dfs
        if t.isalnum() and t not in _OPERATOR_WORDS and round_trips(t)
    ]
    vocab.sort(key=lambda x: (-x[1], x[0]))
    if len(vocab) < 8:
        raise ValueError(f"vocabulary too small for queries: {len(vocab)}")
    return vocab


# terms drawn per query of each shape
ARITY = {"single": 1, "and": 2, "or": 3, "and_not": 2, "phrase": 2, "mixed": 3}


class _ZipfTerms:
    """Draws distinct terms Zipf-style over df rank, by inverting the
    cumulative Zipf mass at a uniform quantile."""

    def __init__(self, vocab: list[tuple[str, int]], rng: random.Random):
        self.terms = [t for t, _ in vocab]
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, len(vocab) + 1)]
        self.cdf = list(itertools.accumulate(w / sum(weights) for w in weights))
        self.rng = rng

    def _at(self, u: float) -> str:
        return self.terms[min(bisect.bisect_left(self.cdf, u), len(self.terms) - 1)]

    def draw(self, k: int, halves=None) -> list[str]:
        """``k`` distinct terms; with ``halves``, the i-th is drawn from
        the hotter (0) or colder (1) half of the Zipf mass, unless that
        half holds too few distinct terms (a tiny vocabulary)."""
        out: list[str] = []
        for i in range(k):
            for attempt in itertools.count():
                u = self.rng.random()
                if halves is not None and attempt < 64:
                    u = (halves[i] + u) / 2.0
                t = self._at(u)
                if t not in out:
                    out.append(t)
                    break
        return out


def _render(shape: str, terms: list[str], rng: random.Random) -> str:
    if shape == "single":
        (a,) = terms
        return a
    if shape == "and":
        a, b = terms
        return f"{a} and {b}"
    if shape == "or":
        a, b, c = terms
        return f"{a} or {b} or {c}"
    if shape == "and_not":
        a, b = terms
        return f"{a} and not {b}"
    if shape == "phrase":
        a, b = terms
        return f'"{a} {b}"'
    if shape == "mixed":
        a, b, c = terms
        if rng.random() < 0.5:
            return f"({a} or {b}) and not {c}"
        return f"{a} and ({b} or {c})"
    raise ValueError(f"unknown shape {shape!r}")


def serve_stream(vocab: list[tuple[str, int]], seed: int, rounds: int):
    """``rounds`` rounds of ``(shape, query)``; each round holds one query
    of every shape in ``SERVE_SHAPES`` order.

    Rounds come in pairs. In each pair every shape is asked once with
    all its terms from the hotter half of the Zipf mass and once with all
    from the colder half; which round gets which is random per shape.
    Every term on its own is still Zipf-distributed, but every pair holds
    the same mix of hot and tail queries. The cost of a query follows
    that mix: a hot single term costs about twice a tail one, and an AND
    of two hot terms takes the slower join route. So the cost of a pair
    varies far less from seed to seed than that of independent rounds."""
    rng = random.Random(f"serve:{seed}")
    terms = _ZipfTerms(vocab, rng)
    out = []
    for first in range(0, rounds, 2):
        hot_round = {s: rng.randrange(2) for s in SERVE_SHAPES}
        for r in range(min(2, rounds - first)):
            for shape in SERVE_SHAPES:
                half = int(r != hot_round[shape])
                drawn = terms.draw(ARITY[shape], [half] * ARITY[shape])
                out.append((shape, _render(shape, drawn, rng)))
    return out


def standing_queries(
    vocab: list[tuple[str, int]], seed: int, n: int = 200
) -> dict[str, str]:
    """``n`` registered queries for percolation, shapes cycled in
    ``SERVE_SHAPES`` order, keyed ``pq000``..."""
    rng = random.Random(f"standing:{seed}")
    terms = _ZipfTerms(vocab, rng)
    return {
        f"pq{i:03d}": _render(shape, terms.draw(ARITY[shape]), rng)
        for i in range(n)
        for shape in (SERVE_SHAPES[i % len(SERVE_SHAPES)],)
    }
