"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run (Spark
event log on, every call tagged with a job group) that reports the
per-layer metrics. Human-readable lines come first; the last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Details (samples, checks, the
per-call layer table) go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness, layers, stats, trace  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_path(work: harness.WorkDir, workload: str, seed: int, traced: bool) -> str:
    return os.path.join(
        work.results, f"{workload}-seed{seed}-trace{int(traced)}.json"
    )


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seed < 0:
        raise SystemExit("--seed must be >= 0")
    traced = bool(args.trace)
    work = harness.WorkDir(ROOT, f"{args.workload}-{args.seed}-t{args.trace}")
    harness.isolate_temp(work)
    # the package is built from this checkout's sources; without them
    # the run fails here, before any result is printed
    import cs_search_engine_architecture_spark  # noqa: F401

    # every process the run starts, directly or not, ends before it does:
    # SIGTERM unwinds through the finally blocks like an error
    signal.signal(signal.SIGTERM, _terminate)
    harness.become_subreaper()
    try:
        report = run(args, work)
    finally:
        harness.reap_children()
    emit(report, result_path(work, args.workload, args.seed, traced))
    return 0


def run(args, work: harness.WorkDir) -> dict:
    from perfbench import workloads

    traced = bool(args.trace)
    prepared = None
    try:
        prepare = workloads.PREPARE.get(args.workload)
        prepared = prepare(work, args.seed) if prepare else None
        t0 = time.perf_counter()
        spark = harness.start_session(work, traced)
        session_start_s = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark=spark,
            tracer=trace.Tracer(spark.sparkContext, enabled=traced),
            work=work, seed=args.seed, seconds=args.seconds, traced=traced,
            prepared=prepared,
        )
        ticks = harness.cpu_ticks()
        try:
            with harness.RssSampler([os.getpid(), harness.jvm_pid()]) as rss:
                workloads.WORKLOADS[args.workload](ctx)
        finally:
            harness.stop_session(spark)
        report = summarize(args, ctx, work, session_start_s, rss.peak_mb)
        report["host_steal_frac"] = harness.steal_frac(ticks, harness.cpu_ticks())
    finally:
        if prepared is not None:
            prepared.close()
        work.cleanup()
    return report


def summarize(args, ctx, work, session_start_s: float, peak_rss_mb: float) -> dict:
    spans = ctx.tracer.spans
    rows = {}
    if ctx.traced:
        log = trace.parse_event_log(trace.find_event_log(work.sub("eventlog")))
        trace.attribute(spans, log)
        rows = {s["id"]: trace.layer_row(s, layers.parts_of(s)) for s in spans}
        metrics = layers.per_layer(
            ctx, spans, rows, session_start_s, harness.CORES
        )
        units = layers.PER_LAYER
    else:
        metrics = layers.end_to_end(ctx)
        units = layers.END_TO_END
    correct = ctx.failed == 0 and all(c["ok"] for c in ctx.checks)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(ctx.traced),
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        "op_ms": stats.summarize(ctx.op_ms),
        "unit_ms": ctx.unit_ms,
        "setup_s_samples": ctx.setup_s,
        "session_start_s": session_start_s,
        "peak_rss_mb": peak_rss_mb,
        "checks": ctx.checks,
        "info": {k: v for k, v in ctx.info.items() if k != "queries"},
        "layer_table": list(rows.values()),
        "spans": [
            {k: v for k, v in s.items() if k != "result"} for s in spans
        ],
    }


def emit(report: dict, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    op = report["op_ms"]
    tail = [f"{k}={v:.1f}" for k, v in op.items() if k not in ("n", "p50")]
    print(f"# {report['workload']} seed={report['seed']} trace={report['trace']}"
          f" attempted={report['attempted']} failed={report['failed']}"
          f" correct={report['correct']}"
          f" host_steal={report['host_steal_frac']:.3f}")
    print(f"# op_ms n={op['n']} p50={op['p50']:.1f} "
          + (" ".join(tail) or "(too few samples for a tail percentile)"))
    for c in report["checks"]:
        print(f"# check {c['check']}: {'ok' if c['ok'] else 'FAIL'} {c['detail']}")
    if report["layer_table"]:
        print("# call                              n   wall_s  jobs  unaccounted_s")
        by_call: dict[str, list] = {}
        for r in report["layer_table"]:
            by_call.setdefault(r["call"], []).append(r)
        for call, rs in by_call.items():
            print(f"# {call:<32} {len(rs):>3} {sum(r['wall_s'] for r in rs):8.2f}"
                  f" {sum(r.get('jobs', 0) for r in rs):5d}"
                  f" {sum(r['unaccounted_s'] for r in rs):8.2f}")
        untraced = path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["op_p50_ms"]["value"]
            traced = report["metrics"]["trace.op_p50_ms"]["value"]
            print(f"# tracing overhead vs untraced run of this seed: "
                  f"{traced / base - 1.0:+.1%} on op_p50_ms")
    for name, m in report["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    final = {k: report[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    sys.exit(main())
