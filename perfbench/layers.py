"""Metric names and units, and the reduction of a run's spans (joined to
the event log in a traced run) into end-to-end and per-layer metrics.

Every workload reports every metric. A per-layer metric of a layer the
workload does not exercise is 0: that is the prediction "no work here".
"""

from __future__ import annotations

from perfbench.stats import median

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "index_bytes_per_posting": "B",
}

PHASES = (
    "tokenize_stage", "global_stats", "term_stats_write",
    "score_encode_write", "doc_lens_write",
)
# phases that run one after another; doc_lens_write overlaps the encode
SEQUENTIAL_PHASES = PHASES[:4]
ROUTES = ("single_term_blockmax", "join", "wand_or_sharded", "wand_and_sharded")
DELTA_STATES = (0, 1, 2)
WRITE_CALLS = ("add_docs", "update_docs", "delete_docs")

PER_LAYER = {
    "session.start_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.unaccounted_frac": "ratio",
    **{f"indexer.phase.{p}_s": "s" for p in PHASES},
    "indexer.tokenize_s": "s",
    "indexer.build.jobs": "count",
    "indexer.build.stages": "count",
    "indexer.build.tasks": "count",
    "indexer.python_rows_sent": "count",
    "indexer.python_bytes_sent": "B",
    "indexer.python_bytes_returned": "B",
    "indexer.shuffle_write_records": "count",
    "indexer.shuffle_write_bytes": "B",
    "indexer.shuffle_read_bytes": "B",
    "indexer.spill_bytes": "B",
    "indexer.executor_run_s": "s",
    "indexer.executor_cpu_s": "s",
    "indexer.core_busy_frac": "ratio",
    "indexer.output_bytes": "B",
    "compression.encode_mb_per_s": "MB/s",
    "compression.decode_mb_per_s": "MB/s",
    "query_parser.parse_us": "us",
    "engine.jobs_per_query": "count",
    "engine.stages_per_query": "count",
    "engine.tasks_per_query": "count",
    "engine.job_ms_p50": "ms",
    "engine.driver_gap_ms_p50": "ms",
    "engine.input_records_per_query": "count",
    "engine.shuffle_bytes_per_query": "B",
    **{
        f"engine.route.{r}.{m}": u
        for r in ROUTES for m, u in (("share", "ratio"), ("p50_ms", "ms"))
    },
    **{
        f"indexer.{c}.{m}": u
        for c in WRITE_CALLS for m, u in (("s", "s"), ("jobs", "count"))
    },
    "engine.refresh_s": "s",
    **{f"engine.query_ms.delta{k}": "ms" for k in DELTA_STATES},
    **{f"engine.jobs_per_query.delta{k}": "count" for k in DELTA_STATES},
    "msearch.s": "s",
    "msearch.jobs": "count",
    "msearch.shuffle_read_bytes": "B",
    "msearch.python_rows_sent": "count",
    "percolate.s": "s",
    "percolate.jobs": "count",
    "percolate.python_rows_sent": "count",
    "percolate.python_bytes_returned": "B",
    "percolate.shuffle_write_bytes": "B",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def parts_of(span: dict) -> dict | None:
    """The known layer walls of a call, or None for "Spark jobs only"."""
    walls = span["attrs"].get("phase_walls")
    if walls:
        return {f"{p}_s": float(walls.get(p, 0.0)) for p in SEQUENTIAL_PHASES}
    return None


def end_to_end(ctx) -> dict:
    return {
        "setup_s": median(ctx.setup_s),
        "op_p50_ms": median(ctx.unit_ms),
        "index_bytes_per_posting": ctx.index_bytes_per_posting,
    }


def per_layer(ctx, spans: list[dict], rows: dict, session_start_s: float,
              cores: int) -> dict:
    """``rows`` maps span id -> its layer-table row (traced runs)."""
    out = {name: 0.0 for name in PER_LAYER}
    ok = [s for s in spans if "error" not in s]
    ops = [s for s in ok if s["attrs"].get("kind") == "op"]
    named = lambda name: [s for s in ok if s["name"] == name]  # noqa: E731

    out["session.start_s"] = session_start_s
    out["trace.op_p50_ms"] = _med(ctx.unit_ms)
    out["trace.unaccounted_frac"] = _med(
        rows[s["id"]]["unaccounted_s"] / s["wall_s"] for s in ops if s["wall_s"]
    )

    builds = named("indexer.build_index")
    if builds:
        for p in PHASES:
            out[f"indexer.phase.{p}_s"] = _med(
                s["attrs"]["phase_walls"].get(p, 0.0) for s in builds
            )
        for k, src in (("build.jobs", "jobs"), ("build.stages", "stages"),
                       ("build.tasks", "tasks")):
            out[f"indexer.{k}"] = _mean(s[src] for s in builds)
        for k in ("python_rows_sent", "python_bytes_sent",
                  "python_bytes_returned", "shuffle_write_records",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "output_bytes"):
            out[f"indexer.{k}"] = _mean(s[k] for s in builds)
        out["indexer.executor_run_s"] = _mean(s["run_ms"] / 1e3 for s in builds)
        out["indexer.executor_cpu_s"] = _mean(s["cpu_ns"] / 1e9 for s in builds)
        out["indexer.core_busy_frac"] = _mean(
            s["run_ms"] / 1e3 / (s["wall_s"] * cores) for s in builds
        )
    out["indexer.tokenize_s"] = ctx.info.get("tokenize_s", 0.0)
    out["compression.encode_mb_per_s"] = ctx.info.get(
        "compression_encode_mb_per_s", 0.0)
    out["compression.decode_mb_per_s"] = ctx.info.get(
        "compression_decode_mb_per_s", 0.0)
    out["query_parser.parse_us"] = ctx.info.get("parse_us", 0.0)

    queries = named("engine.search")
    if queries:
        out["engine.jobs_per_query"] = _mean(s["jobs"] for s in queries)
        out["engine.stages_per_query"] = _mean(s["stages"] for s in queries)
        out["engine.tasks_per_query"] = _mean(s["tasks"] for s in queries)
        out["engine.job_ms_p50"] = _med(s["job_union_s"] * 1e3 for s in queries)
        out["engine.driver_gap_ms_p50"] = _med(
            s["driver_gap_s"] * 1e3 for s in queries)
        out["engine.input_records_per_query"] = _mean(
            s["input_records"] + s["shuffle_read_records"] for s in queries)
        out["engine.shuffle_bytes_per_query"] = _mean(
            s["shuffle_write_bytes"] for s in queries)
        for r in ROUTES:
            hit = [s for s in queries if s["attrs"].get("strategy") == r]
            out[f"engine.route.{r}.share"] = len(hit) / len(queries)
            out[f"engine.route.{r}.p50_ms"] = _med(s["wall_s"] * 1e3 for s in hit)

    for c in WRITE_CALLS:
        calls = named(f"indexer.{c}")
        out[f"indexer.{c}.s"] = _mean(s["wall_s"] for s in calls)
        out[f"indexer.{c}.jobs"] = _mean(s["jobs"] for s in calls)
    out["engine.refresh_s"] = _mean(s["wall_s"] for s in named("engine.refresh"))
    for k in DELTA_STATES:
        qs = named(f"engine.query.delta{k}")
        out[f"engine.query_ms.delta{k}"] = _med(s["wall_s"] * 1e3 for s in qs)
        out[f"engine.jobs_per_query.delta{k}"] = _mean(s["jobs"] for s in qs)

    for s in named("engine.msearch"):
        out["msearch.s"] = s["wall_s"]
        out["msearch.jobs"] = s["jobs"]
        out["msearch.shuffle_read_bytes"] = s["shuffle_read_bytes"]
        out["msearch.python_rows_sent"] = s["python_rows_sent"]
    for s in named("percolate.percolate"):
        out["percolate.s"] = s["wall_s"]
        out["percolate.jobs"] = s["jobs"]
        out["percolate.python_rows_sent"] = s["python_rows_sent"]
        out["percolate.python_bytes_returned"] = s["python_bytes_returned"]
        out["percolate.shuffle_write_bytes"] = s["shuffle_write_bytes"]
    return {k: float(v) for k, v in out.items()}
