"""Long-budget randomized four-way differential soak.

The in-suite differentials (``tests/test_search_e2e.py``) run a fixed
small budget (2-4 rounds over a 10-doc corpus) so the suite stays fast;
the round-5 lazy-NOT percolate bug was found by exactly that shape of
test, which argues for occasionally running the same legs at a much
larger budget. This tool soaks:

* a SYNTHETIC corpus (``--docs``, deterministic from ``--seed``) large
  enough to exercise multi-block postings and tie-breaks,
* randomized nested boolean trees up to ``--depth`` with unary-NOT
  wrappers, AND NOT, repeated terms, unknown terms, stopwords — and
  (new vs the in-suite generator) PHRASE LEAVES EMBEDDED INSIDE TREES,
  the shape that rides the per-query compiled fallback in both msearch
  and percolate,

through four legs per query:

1. ``engine.search_df``          (compiled scored plan — ground truth)
2. ``OracleIndex.search_all``    (pure-Python reference semantics)
3. ``engine.msearch``            (batched arms + compiled fallbacks)
4. ``engine.percolate``          (presence algebra; skipped for
                                  phrase-inside-tree queries, which the
                                  operator correctly refuses)
5. ``engine.search``             (the PRODUCTION router: sharded
                                  WAND for single terms and flat
                                  OR/AND, the sharded tree kernel,
                                  compiled fallback — whatever
                                  strategy it picks must return the
                                  compiled plan's exact top-k; the
                                  strategy histogram is printed so a
                                  routing change that silently stops
                                  exercising a kernel is visible)
6. ``engine.filtered_search``    (filter context: under a random
                                  admitting predicate the page must
                                  equal the compiled match set filtered
                                  then cut — scores untouched)

Match sets must be identical across all legs; msearch/routed scores
must be within 1e-9 of the compiled plan's (exact equality is only
pinned for <=2-term batches — see CLAUDE.md).

Usage:
    python tools/soak_differential.py [--rounds 20] [--batch 12]
        [--docs 120] [--depth 4] [--seed 20260819]

Exits 1 on the first mismatch with the offending query; prints a JSON
summary line on success.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs_search_engine_architecture_spark.engine import SearchEngine  # noqa: E402
from cs_search_engine_architecture_spark.operators import indexer  # noqa: E402
from cs_search_engine_architecture_spark.oracle.reference import (  # noqa: E402
    OracleIndex,
)
from cs_search_engine_architecture_spark.session import get_spark  # noqa: E402

CONTENT = [
    "spark", "join", "merge", "hash", "shuffle", "planner", "delta",
    "varint", "tokenizer", "sorted", "broadcast", "skew", "salt",
    "posting", "block", "window", "batch", "stream", "vector", "query",
]
FILLER = ["the", "a", "of", "and", "for", "on"]


def make_docs(n: int, rng: random.Random) -> list[tuple[int, list[str]]]:
    docs = []
    for i in range(n):
        title = " ".join(rng.choice(CONTENT) for _ in range(rng.randint(0, 3)))
        body = " ".join(
            rng.choice(CONTENT if rng.random() < 0.7 else FILLER)
            for _ in range(rng.randint(4, 40))
        )
        docs.append((i, [title, body]))
    return docs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=20)
    ap.add_argument("--batch", type=int, default=12)
    ap.add_argument("--docs", type=int, default=120)
    ap.add_argument("--depth", type=int, default=4)
    ap.add_argument("--seed", type=int, default=20260819)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument(
        "--single-field", action="store_true",
        help="build a ONE-field corpus: position lists are monotonic, "
        "so every phrase site compiles the any-pair window "
        "(dialect.phrase_window plan-time switch) — this mode soaks "
        "that form against the oracle's scan (equivalent on monotonic "
        "lists) across all legs; default two-field mode soaks the scan "
        "and its blind spots",
    )
    args = ap.parse_args()

    rng = random.Random(args.seed)
    qvocab = CONTENT + ["zzzmissing", "running", "2024"]

    def gen_expr(depth: int) -> tuple[str, bool]:
        """Returns (expr, contains_embedded_phrase)."""
        if depth == 0 or rng.random() < 0.3:
            if rng.random() < 0.15:
                n = rng.randint(2, 3)
                words = " ".join(rng.choice(CONTENT) for _ in range(n))
                return f'"{words}"', True
            return rng.choice(qvocab), False
        op = rng.choice([" and ", " or ", " and not "])
        l, lp = gen_expr(depth - 1)
        r, rp = gen_expr(depth - 1)
        e = f"({l}{op}{r})"
        if rng.random() < 0.15:
            e = f"not {e}"
        return e, lp or rp

    def gen_query() -> tuple[str, bool]:
        """(query, phrase_in_tree)."""
        if rng.random() < 0.1:
            n = rng.randint(2, 3)
            q = '"' + " ".join(rng.choice(CONTENT) for _ in range(n)) + '"'
            return q, False  # standalone phrase: percolatable
        depth = rng.randint(1, args.depth)
        e, has_phrase = gen_expr(depth)
        return e, has_phrase and depth > 0 and e[0] != '"'

    spark = get_spark(
        app_name="soak-differential",
        master=f"local[{args.cores}]",
        shuffle_partitions=8,
    )
    docs = make_docs(args.docs, rng)
    out = tempfile.mkdtemp(prefix="soak_idx_")
    # about four WAND shards over the corpus, so shard-local top-ks
    # really merge
    span = max(16, args.docs // 4)
    if args.single_field:
        docs = [(d, [f"{f[0]} {f[1]}".strip()]) for d, f in docs]
        corpus = spark.createDataFrame(
            [(d, f[0]) for d, f in docs], "doc_id long, text string"
        )
        indexer.build_index(
            spark, corpus, out, fields=["text"], block_size=8,
            num_buckets=4, shard_span=span,
        )
    else:
        corpus = spark.createDataFrame(
            [(d, f[0], f[1]) for d, f in docs],
            "doc_id long, title string, body string",
        )
        indexer.build_index(
            spark, corpus, out, fields=["title", "body"], block_size=8,
            num_buckets=4, shard_span=span,
        )
    engine = SearchEngine(spark, out)
    # the router's WAND gate is 1M postings: lift the small soak index
    # over it so leg 5 exercises the sharded WAND kernels too
    engine.meta["num_postings"] = max(engine.meta["num_postings"], 1_000_000)
    assert engine.compiler.single_field is bool(args.single_field)
    oracle = OracleIndex(docs)

    t0 = time.time()
    checked = 0
    strategies: dict[str, int] = {}
    for rnd in range(args.rounds):
        batch: dict[str, str] = {}
        phrase_in_tree: set[str] = set()
        for i in range(args.batch):
            q, pit = gen_query()
            qid = f"r{rnd}q{i}"
            batch[qid] = q
            if pit:
                phrase_in_tree.add(qid)

        perc_batch = {q: s for q, s in batch.items()
                      if q not in phrase_in_tree}
        by_perc: dict[str, set] = {}
        if perc_batch:
            for r in engine.percolate(perc_batch, corpus).collect():
                by_perc.setdefault(r["query_id"], set()).add(r["doc_id"])

        ms_sets: dict[str, set] = {}
        ms_scores: dict[tuple, float] = {}
        for r in engine.msearch(batch, top_k=args.docs + 1).collect():
            ms_sets.setdefault(r["query_id"], set()).add(r["doc_id"])
            ms_scores[(r["query_id"], r["doc_id"])] = r["score"]

        for qid, qstr in batch.items():
            eng_rows = {
                r["doc_id"]: r["score"]
                for r in engine.search_df(qstr).collect()
            }
            eng_set = set(eng_rows)
            ora_set = {d for d, _ in oracle.search_all(qstr)}
            if eng_set != ora_set:
                print(f"MISMATCH search-vs-oracle {qid} {qstr!r}: "
                      f"only-engine={sorted(eng_set - ora_set)[:5]} "
                      f"only-oracle={sorted(ora_set - eng_set)[:5]}")
                return 1
            if ms_sets.get(qid, set()) != eng_set:
                print(f"MISMATCH msearch {qid} {qstr!r}: "
                      f"{sorted(ms_sets.get(qid, set()) ^ eng_set)[:5]}")
                return 1
            for d in eng_set:
                if abs(ms_scores[(qid, d)] - eng_rows[d]) >= 1e-9:
                    print(f"SCORE DRIFT msearch {qid} {qstr!r} doc {d}: "
                          f"{ms_scores[(qid, d)]} vs {eng_rows[d]}")
                    return 1
            if qid in perc_batch and by_perc.get(qid, set()) != eng_set:
                print(f"MISMATCH percolate {qid} {qstr!r}: "
                      f"{sorted(by_perc.get(qid, set()) ^ eng_set)[:5]}")
                return 1

            # leg 5: the production router — its top-k must equal the
            # compiled plan's (score desc, doc_id asc) cut exactly
            want = sorted(
                eng_rows.items(), key=lambda t: (-t[1], t[0])
            )[:10]
            routed = [
                (r["doc_id"], r["score"])
                for r in engine.search(qstr, 10).collect()
            ]
            strat = engine.last_strategy
            strategies[strat] = strategies.get(strat, 0) + 1
            if [d for d, _ in routed] != [d for d, _ in want] or any(
                abs(a - b) >= 1e-9
                for (_, a), (_, b) in zip(routed, want)
            ):
                print(f"MISMATCH routed[{strat}] {qid} {qstr!r}: "
                      f"{routed} != {want}")
                return 1

            # leg 6: filter context — an admitting predicate must give
            # the filtered compiled set, scores untouched
            if rng.random() < 0.3:
                mod = rng.randint(2, 4)
                fwant = sorted(
                    ((d, s) for d, s in eng_rows.items() if d % mod == 0),
                    key=lambda t: (-t[1], t[0]),
                )[:10]
                fgot = [
                    (r["doc_id"], r["score"])
                    for r in engine.filtered_search(
                        qstr, corpus, f"doc_id % {mod} = 0", top_k=10
                    ).collect()
                ]
                if fgot != fwant:
                    print(f"MISMATCH filtered {qid} {qstr!r} "
                          f"mod={mod}: {fgot} != {fwant}")
                    return 1
            checked += 1
        print(f"round {rnd + 1}/{args.rounds}: {checked} queries green",
              file=sys.stderr)

    print(json.dumps({
        "metric": "soak_differential_queries_green",
        "value": checked,
        "docs": args.docs,
        "rounds": args.rounds,
        "phrase_in_tree_queries": "search/msearch/oracle legs",
        "router_strategies": strategies,
        "wall_s": round(time.time() - t0, 1),
        "seed": args.seed,
    }))
    spark.stop()
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
