"""The benchmark's workloads. Each drives the package only through its
public functions, times those calls from outside, and checks the outputs
after the timed loop.

* ``build`` -- one full ``build_index`` per operation over a seeded
  ``synth_source_files`` corpus staged to parquet. A traced run adds the
  write-path probe (``add_docs``, ``update_docs``, ``delete_docs``,
  ``refresh`` and queries over pending delta segments).
* ``serve`` -- a closed loop with one client over an index built in
  set-up: seeded queries of six parser shapes, one reply awaited before
  the next query. A traced run adds the batch probe (``msearch`` of 16
  queries and ``percolate`` of 200 standing queries).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.harness import dir_bytes
from perfbench.stats import median

FIELDS = ["path", "content"]
ANALYZER = "reference"
# corpus sizes: a build's wall is dominated by per-call fixed costs at any
# size that fits the run budget, so the sizes are small
BUILD_DOCS = 2_000
# the serve fixture holds >= 1M postings, so the engine's WAND routes
# are live
SERVE_DOCS = 17_000
FIXTURE_SEED = 42
# cap on timed serve rounds (oracle answers are precomputed); rounds
# come in pairs, see gen.serve_stream
MAX_ROUNDS = 4
WARMUP_ROUNDS = 2
SETUP_REPEATS = 3
TOP_K = 10
SCORE_ABS = 1e-4  # tolerance of tests/test_search_e2e.py
NEW_DOCS = 60  # docs beyond the corpus for the traced write probe
PERCOLATE_DOCS = 200
PERCOLATE_QUERIES = 200
MSEARCH_BATCH = 16
COMPRESSION_BLOCKS = 2000


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: object
    seed: int
    seconds: float
    traced: bool
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)
    # wall of every timed call, and the samples op_p50_ms is the median
    # of: one per build, or one per pair of serve rounds (its mean query
    # wall)
    op_ms: list = field(default_factory=list)
    unit_ms: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    index_bytes_per_posting: float = 0.0
    info: dict = field(default_factory=dict)
    prepared: object = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def call(self, name: str, fn, kind: str = "op", **attrs):
        """One attempted public call inside a span; a raised exception
        counts as a failed call and returns None."""
        self.attempted += 1
        with self.tracer.span(name, kind=kind, **attrs) as span:
            try:
                span["result"] = fn()
            except Exception:
                self.failed += 1
                span["error"] = traceback.format_exc()
                print(span["error"], file=sys.stderr)
                span["result"] = None
        return span


# ------------------------------------------------------------ shared steps


def stage_corpus(ctx: Ctx, path: str, num_docs: int, min_id: int = 0,
                 seed: int | None = None) -> None:
    from cs_search_engine_architecture_spark.sources.corpus import (
        synth_source_files,
    )

    df = synth_source_files(
        ctx.spark, num_docs, seed=ctx.seed if seed is None else seed
    )
    if min_id:
        df = df.where(f"doc_id >= {min_id}")
    df.write.mode("overwrite").parquet(path)


def read_docs(path: str) -> list[tuple[int, list[str]]]:
    """Corpus rows as the oracle takes them, read on the driver."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", *FIELDS]).to_pydict()
    return sorted(
        (int(d), [t[f][i] or "" for f in FIELDS])
        for i, d in enumerate(t["doc_id"])
    )


def build(ctx: Ctx, corpus_path: str, out: str) -> dict:
    from cs_search_engine_architecture_spark.operators import indexer

    return indexer.build_index(
        ctx.spark, ctx.spark.read.parquet(corpus_path), out,
        fields=FIELDS, analyzer=ANALYZER, corpus_path=corpus_path,
    )


def same_topk(got, want) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_ABS
        for g, w in zip(got, want)
    )


def index_bytes(index: str) -> int:
    # ``work/`` holds the build's transient postings staging
    return dir_bytes(index, skip=("work",))


# ------------------------------------------------------------------ build


def run_build(ctx: Ctx) -> None:
    from cs_search_engine_architecture_spark.operators import fsck

    corpus = ctx.work.sub("corpus")
    for i in range(SETUP_REPEATS):
        with ctx.tracer.span("setup.stage_corpus", kind="setup") as s:
            stage_corpus(ctx, corpus, BUILD_DOCS)
        ctx.setup_s.append(s["wall_s"])

    metas = []
    t0 = time.perf_counter()
    while not metas or time.perf_counter() - t0 < ctx.seconds:
        out = ctx.work.sub(f"index{len(metas)}")
        span = ctx.call("indexer.build_index", lambda: build(ctx, corpus, out))
        meta = span["result"]
        if meta is None:
            break
        span["attrs"]["phase_walls"] = meta["phase_walls"]
        ctx.op_ms.append(span["wall_s"] * 1000.0)
        ctx.unit_ms.append(span["wall_s"] * 1000.0)
        metas.append((out, meta))
    if not metas:
        ctx.check("build_index", False, "every build raised")
        return

    # ---- untimed correctness checks
    index, meta = metas[-1]
    report = fsck.fsck_index(ctx.spark, index, deep=True)
    bad = [c for c in report["checks"] if c["status"] == "fail"]
    ctx.check("fsck_deep", report["ok"], "; ".join(
        f"{c['check']}:{c['tier']}:{c['detail']}" for c in bad
    ))
    postings = {m["num_postings"] for _, m in metas}
    ctx.check("num_postings_stable_in_run", len(postings) == 1, str(postings))
    ctx.check("num_documents", meta["num_documents"] == BUILD_DOCS,
              f"{meta['num_documents']} documents")
    ctx.check(
        "num_postings_stable_across_runs",
        *_record_postings(ctx, meta["num_postings"]),
    )
    ctx.index_bytes_per_posting = index_bytes(index) / meta["num_postings"]
    ctx.info["num_postings"] = meta["num_postings"]
    ctx.info["postings_per_s"] = meta["num_postings"] / median(
        [ms / 1000.0 for ms in ctx.op_ms]
    )

    if ctx.traced:
        probe_tokenize(ctx, corpus, meta["num_postings"])
        probe_compression(ctx, index)
        probe_writes(ctx, index)


def _record_postings(ctx: Ctx, num_postings: int) -> tuple[bool, str]:
    """``num_postings`` must be identical for a given seed: the first run
    of a seed in this checkout records it, later runs compare."""
    path = os.path.join(
        ctx.work.results, f"num_postings-seed{ctx.seed}-docs{BUILD_DOCS}.json"
    )
    if os.path.exists(path):
        with open(path) as fh:
            want = json.load(fh)["num_postings"]
        return want == num_postings, f"{num_postings} vs recorded {want}"
    with open(path, "w") as fh:
        json.dump({"num_postings": num_postings}, fh)
    return True, "first run of this seed"


def probe_tokenize(ctx: Ctx, corpus: str, num_postings: int) -> None:
    """The tokenize worker alone: a timed ``tokenize_postings_packed``
    write of the same corpus (one row per posting)."""
    from cs_search_engine_architecture_spark.operators import indexer

    out = ctx.work.sub("tokenized")
    span = ctx.call(
        "indexer.tokenize_postings_packed",
        lambda: indexer.tokenize_postings_packed(
            ctx.spark.read.parquet(corpus), FIELDS, "doc_id", ANALYZER
        ).write.mode("overwrite").parquet(out),
        kind="probe",
    )
    ctx.info["tokenize_s"] = span["wall_s"]
    rows = ctx.spark.read.parquet(out).count()
    ctx.check("tokenize_rows_eq_postings", rows == num_postings,
              f"{rows} rows, {num_postings} postings")


def probe_compression(ctx: Ctx, index: str) -> None:
    """The varint/delta kernels timed from outside over a sample of the
    built index's doc-id and position lists; re-encoding must give the
    stored bytes back."""
    import pyarrow.dataset as ds

    from cs_search_engine_architecture_spark.operators import compression as C

    cols = ["doc_ids_bin", "pos_counts_bin", "positions_bin"]
    table = ds.dataset(os.path.join(index, "blocks"), format="parquet").head(
        COMPRESSION_BLOCKS, columns=cols
    ).to_pydict()
    blocks = list(zip(*(table[c] for c in cols)))
    nbytes = sum(len(d) + len(p) for d, _, p in blocks)

    def decode():
        out = []
        for d, pc, p in blocks:
            counts = C.varint_decode(pc).astype(np.int64)
            out.append((
                C.delta_decode(C.varint_decode(d)),
                C.grouped_delta_decode(C.varint_decode(p), counts),
                counts,
            ))
        return out

    def encode(decoded):
        return [
            (C.varint_encode(C.delta_encode(d)),
             C.varint_encode(C.grouped_delta_encode(p, c)))
            for d, p, c in decoded
        ]

    decoded = decode()
    encoded = encode(decoded)
    ctx.check(
        "compression_roundtrip",
        all(e == (d, p) for e, (d, _, p) in zip(encoded, blocks)),
        f"{len(blocks)} blocks",
    )
    for name, fn in (("decode", decode), ("encode", lambda: encode(decoded))):
        reps, t0 = 0, time.perf_counter()
        while reps < 3 or time.perf_counter() - t0 < 0.5:
            fn()
            reps += 1
        secs = (time.perf_counter() - t0) / reps
        ctx.info[f"compression_{name}_mb_per_s"] = nbytes / 1e6 / secs


def probe_writes(ctx: Ctx, index: str) -> None:
    """Writes beside reads on one engine: add, refresh, query; update +
    delete, refresh, query. Deleted docs and superseded versions must
    never be served."""
    from cs_search_engine_architecture_spark.engine import SearchEngine
    from cs_search_engine_architecture_spark.functions.tokenizer import tokenize
    from cs_search_engine_architecture_spark.operators import indexer

    spark = ctx.spark
    new_path = ctx.work.sub("new_docs")
    stage_corpus(ctx, new_path, BUILD_DOCS + NEW_DOCS, min_id=BUILD_DOCS)
    new = spark.read.parquet(new_path)
    vocab = read_vocabulary(index)
    # one flat-OR query per state, so the states differ only in the deltas
    # and masks the engine must merge
    queries = [q for s, q in gen.serve_stream(vocab, ctx.seed, 1) if s == "or"]
    eng = SearchEngine(spark, index)

    def queries_at(k: int) -> list:
        rows = []
        for q in queries:
            span = ctx.call(f"engine.query.delta{k}",
                            lambda: eng.search_collect(q, TOP_K), kind="probe")
            rows.append(span["result"] or [])
        return rows

    queries_at(0)
    half = NEW_DOCS // 2
    ctx.call("indexer.add_docs", lambda: indexer.add_docs(
        spark, index, new.where(f"doc_id < {BUILD_DOCS + half}")), kind="probe")
    ctx.call("engine.refresh", eng.refresh, kind="probe")
    queries_at(1)

    # update: docs 0..9 take the content of new docs; delete: docs 10..19
    upd_ids, del_ids = list(range(10)), list(range(10, 20))
    donors = new.where(f"doc_id >= {BUILD_DOCS + half}").orderBy("doc_id").limit(
        len(upd_ids))
    donor_rows = donors.select(*FIELDS).collect()
    old = {d: f for d, f in read_docs(ctx.work.sub("corpus")) if d in upd_ids}
    new_fields = {d: [r[f] for f in FIELDS] for d, r in zip(upd_ids, donor_rows)}
    upd = spark.createDataFrame(
        [(d, *f) for d, f in new_fields.items()],
        "doc_id long, path string, content string",
    )
    ctx.call("indexer.update_docs",
             lambda: indexer.update_docs(spark, index, upd), kind="probe")
    ctx.call("indexer.delete_docs",
             lambda: indexer.delete_docs(spark, index, del_ids), kind="probe")
    ctx.call("engine.refresh", eng.refresh, kind="probe")
    after = queries_at(2)

    served = {d for rows in after for d, _ in rows}
    ctx.check("deleted_never_served", not served & set(del_ids),
              str(sorted(served & set(del_ids))))

    def terms(fields):
        return {t for f in fields for t in tokenize(f or "")[0]}

    # a term only the old version of a doc holds must not find that doc
    gone = {}
    for d, fields in new_fields.items():
        only_old = sorted(terms(old[d]) - terms(fields))
        if only_old:
            gone[d] = only_old[0]
    if gone:
        gone_terms = set(gone.values())
        hits = eng.search_df(" or ".join(sorted(gone_terms))).where(
            f"doc_id in ({','.join(map(str, gone))})").collect()
        # a hit is legitimate only if the new version holds a queried term
        stale = sorted(
            r["doc_id"] for r in hits
            if not terms(new_fields[r["doc_id"]]) & gone_terms
        )
        ctx.check("superseded_never_served", not stale, str(stale))


# ------------------------------------------------------------------ serve


def fixture_dir(work) -> str:
    """The serve index is a fixture: built once per checkout and keyed by
    a fingerprint of the package sources, so every serve run of one
    commit queries the same index without paying its build (the
    ``build`` workload measures builds)."""
    return os.path.join(work.base, "cache", f"serve-{_source_fingerprint()}")


def _source_fingerprint() -> str:
    import cs_search_engine_architecture_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    h = hashlib.sha256(f"{SERVE_DOCS}:{FIXTURE_SEED}".encode())
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _fixture_ready(fx: str) -> bool:
    return os.path.exists(os.path.join(fx, "READY"))


def ensure_fixture(ctx: Ctx) -> str:
    fx = fixture_dir(ctx.work)
    if _fixture_ready(fx):
        return fx
    shutil.rmtree(fx, ignore_errors=True)
    with ctx.tracer.span("staging.fixture", kind="staging"):
        corpus = os.path.join(fx, "corpus")
        stage_corpus(ctx, corpus, SERVE_DOCS, seed=FIXTURE_SEED)
        build(ctx, corpus, os.path.join(fx, "index"))
    with open(os.path.join(fx, "READY"), "w") as fh:
        fh.write("ok\n")
    return fx


def read_vocabulary(index: str) -> list[tuple[str, int]]:
    """The index's own vocabulary, read from its term dictionary."""
    import pyarrow.parquet as pq

    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    t = pq.read_table(os.path.join(index, "term_stats"), columns=["term", "df"])
    t = t.to_pydict()
    return gen.query_vocabulary(
        zip(t["term"], t["df"]),
        lambda term: parse_query(term) == {"type": "token", "value": term},
    )


def oracle_main(corpus: str, queries_path: str, out_path: str) -> None:
    """Entry point of the oracle child process: the pure-Python oracle's
    top-k of every query in ``queries_path``, written to ``out_path``."""
    from cs_search_engine_architecture_spark.oracle.reference import OracleIndex

    with open(queries_path) as fh:
        queries = json.load(fh)
    oracle = OracleIndex(read_docs(corpus))
    with open(out_path + ".part", "w") as fh:
        json.dump([oracle.search(q, TOP_K) for q in queries], fh)
    os.replace(out_path + ".part", out_path)


class ServeInputs:
    """The serve stream of one seed and its oracle answers, computed in a
    child process so the oracle's CPU and memory stay out of the
    measured driver (it overlaps the Spark session start)."""

    def __init__(self, work, fx: str, seed: int):
        import subprocess

        self.vocab = read_vocabulary(os.path.join(fx, "index"))
        self.stream = gen.serve_stream(self.vocab, seed, MAX_ROUNDS)
        queries = work.sub("oracle-queries.json")
        self._out = work.sub("oracle-topk.json")
        with open(queries, "w") as fh:
            json.dump([q for _, q in self.stream], fh)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._proc = subprocess.Popen(
            [sys.executable, "-c",
             "import sys; from perfbench.workloads import oracle_main; "
             "oracle_main(*sys.argv[1:])",
             os.path.join(fx, "corpus"), queries, self._out],
            cwd=root, stdin=subprocess.DEVNULL,
        )

    def expected(self) -> list:
        rc = self._proc.wait()
        if rc != 0:
            raise RuntimeError(f"oracle child exited with {rc}")
        with open(self._out) as fh:
            # JSON turns the oracle's (doc_id, score) tuples into lists
            return [[tuple(hit) for hit in hits] for hits in json.load(fh)]

    def close(self) -> None:
        if self._proc.poll() is None:
            self._proc.kill()
        self._proc.wait()


def prepare_serve(work, seed: int) -> ServeInputs | None:
    """Before the session starts: with the fixture already built, start
    the oracle child now."""
    fx = fixture_dir(work)
    return ServeInputs(work, fx, seed) if _fixture_ready(fx) else None


def run_serve(ctx: Ctx) -> None:
    from cs_search_engine_architecture_spark.engine import SearchEngine

    fx = ensure_fixture(ctx)
    index = os.path.join(fx, "index")
    inputs = ctx.prepared or ServeInputs(ctx.work, fx, ctx.seed)
    vocab, stream = inputs.vocab, inputs.stream
    with open(os.path.join(index, "meta.json")) as fh:
        num_postings = json.load(fh)["num_postings"]
    ctx.index_bytes_per_posting = index_bytes(index) / num_postings
    ctx.info["num_postings"] = num_postings
    hottest = vocab[0][0]

    # set-up as a user of jobs/serve.py sees it: open the engine and get
    # the first answer. The first repetition is the cold one; the oracle
    # child finishes under it, so the median repetitions run alone.
    eng, expected = None, None
    for _ in range(SETUP_REPEATS):
        if eng is not None:
            eng.blocks.unpersist()
            if expected is None:
                expected = inputs.expected()
        with ctx.tracer.span("setup.open_engine", kind="setup") as s:
            eng = SearchEngine(ctx.spark, index)
            eng.search_collect(hottest, TOP_K)
        ctx.setup_s.append(s["wall_s"])
    if expected is None:
        expected = inputs.expected()

    # warm every route's lazy state before timing (the sharded WAND
    # frame, compiled plans) and the JIT with rounds the timed loop never
    # sees; after one round the timed queries still ran ~10% slower
    for _, q in gen.serve_stream(vocab, ctx.seed + 1_000_003, WARMUP_ROUNDS):
        with ctx.tracer.span("warmup.query", kind="warmup"):
            eng.search_collect(q, TOP_K)

    # per-query walls are bimodal by shape and term heat (WAND and
    # tail-term queries ~0.5 s, hot single terms, phrases and mixed trees
    # ~1.5 s), so their median flips between the two groups from seed to
    # seed; a pair of rounds holds every shape twice, once with hot and
    # once with tail terms, and its mean query wall is the sample
    per_unit = 2 * len(gen.SERVE_SHAPES)
    done = []
    t0 = time.perf_counter()
    for i, (shape, q) in enumerate(stream):
        if i % per_unit == 0 and time.perf_counter() - t0 >= ctx.seconds:
            break
        span = ctx.call("engine.search", lambda: eng.search_collect(q, TOP_K),
                        shape=shape, query=q)
        span["attrs"]["strategy"] = eng.last_strategy
        ctx.op_ms.append(span["wall_s"] * 1000.0)
        done.append((q, span, expected[i]))
        if len(ctx.op_ms) % per_unit == 0:
            ctx.unit_ms.append(sum(ctx.op_ms[-per_unit:]) / per_unit)

    # ---- untimed correctness: top-k against the oracle
    results, bad = {}, []
    for q, span, want in done:
        got = span["result"]
        if got is None:
            continue
        results[q] = got
        if not same_topk(got, want):
            ctx.failed += 1
            bad.append(f"{q!r}: {got} != {want}")
    ctx.check("topk_eq_oracle", not bad,
              f"{len(results)} queries; " + "; ".join(bad[:3]))

    if ctx.traced:
        probe_compression(ctx, index)
        probe_parser(ctx, [q for q, _, _ in done])
        probe_batch(ctx, eng, vocab, stream, results)


def probe_parser(ctx: Ctx, queries: list[str]) -> None:
    from cs_search_engine_architecture_spark.plans.query_parser import (
        parse_query,
    )

    reps, t0 = 0, time.perf_counter()
    while reps < 5 or time.perf_counter() - t0 < 0.3:
        for q in queries:
            parse_query(q, analyzer=ANALYZER)
        reps += 1
    ctx.info["parse_us"] = (
        (time.perf_counter() - t0) / (reps * max(1, len(queries))) * 1e6
    )


def probe_batch(ctx: Ctx, eng, vocab, stream, results: dict) -> None:
    """One ``msearch`` of 16 stream queries (rows must equal per-query
    ``search_collect``) and one ``percolate`` of 200 standing queries
    over 200 incoming docs (matches must equal the oracle's
    ``search_all`` over those docs)."""
    from cs_search_engine_architecture_spark.operators import percolate
    from cs_search_engine_architecture_spark.oracle.reference import OracleIndex

    spark = ctx.spark
    batch = {f"q{i:02d}": q for i, (_, q) in enumerate(stream[:MSEARCH_BATCH])}
    span = ctx.call("engine.msearch", lambda: eng.msearch(batch, TOP_K).collect(),
                    kind="probe")
    if span["result"] is not None:
        rows: dict[str, list] = {}
        for r in span["result"]:
            rows.setdefault(r["query_id"], []).append(
                (r["doc_id"], float(np.float32(r["score"]))))
        bad = []
        for qid, q in batch.items():
            want = results.get(q)
            if want is None:
                want = eng.search_collect(q, TOP_K)
            got = sorted(rows.get(qid, []), key=lambda x: (-x[1], x[0]))
            if not same_topk(got, want):
                bad.append(q)
        if bad:
            ctx.failed += 1
        ctx.check("msearch_eq_search", not bad, repr(bad[:3]))

    incoming = ctx.work.sub("incoming")
    stage_corpus(ctx, incoming, SERVE_DOCS + PERCOLATE_DOCS, min_id=SERVE_DOCS,
                 seed=FIXTURE_SEED)
    docs = spark.read.parquet(incoming)
    standing = gen.standing_queries(vocab, ctx.seed, PERCOLATE_QUERIES)
    span = ctx.call(
        "percolate.percolate",
        lambda: percolate.percolate(
            spark, standing, docs, fields=FIELDS, analyzer=ANALYZER
        ).collect(),
        kind="probe",
    )
    if span["result"] is not None:
        got: dict[str, set] = {}
        for r in span["result"]:
            got.setdefault(r["query_id"], set()).add(r["doc_id"])
        oracle = OracleIndex(read_docs(incoming))
        bad = [
            qid for qid, q in standing.items()
            if got.get(qid, set()) != {d for d, _ in oracle.search_all(q)}
        ]
        if bad:
            ctx.failed += 1
        ctx.check("percolate_eq_oracle", not bad,
                  repr([standing[b] for b in bad[:3]]))


WORKLOADS = {"build": run_build, "serve": run_serve}
# hooks that run before the Spark session starts
PREPARE = {"serve": prepare_serve}
