"""Compare sets of benchmark results (A/A or A/B) against the bounds in
``BENCHMARK.json``.

    python3 perfbench/compare.py SET_A [SET_B]
    python3 perfbench/compare.py --overhead SET

A set is a directory of the result files that ``run.py`` writes to
``.perfbench/results/`` (``<workload>-seed<n>-trace<t>.json``), or one
such file.
For one set, every workload x end-to-end metric gets its median,
quartiles and spread (inter-quartile distance over the median). For two
sets, each row also says whether B's median is within the metric's bound
of A's: ``agree`` or ``worse``/``better``; where either set's spread
exceeds the bound (``setup_s`` excepted, as its bound covers only the
median), the row is ``unresolved``. ``--overhead`` reports the traced
runs' op median against the untraced runs' of the same set.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import median, quartiles  # noqa: E402

SPREAD_EXEMPT = ("setup_s",)


def load_set(path: str) -> list[dict]:
    files = (
        sorted(glob.glob(os.path.join(path, "*-trace*.json")))
        if os.path.isdir(path) else [path]
    )
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def values(results: list[dict], trace: int) -> dict:
    """``{(workload, metric): [value per run]}``."""
    out: dict = {}
    for r in results:
        if r.get("trace") != trace:
            continue
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def describe(xs: list[float]) -> dict:
    q1, q2, q3 = quartiles(xs)
    return {"n": len(xs), "q1": q1, "median": q2, "q3": q3,
            "spread": (q3 - q1) / abs(q2) if q2 else float("inf")}


def compare(a: dict, b: dict | None, bounds: dict, better: dict) -> list[dict]:
    rows = []
    for key in sorted(a):
        workload, metric = key
        if metric not in bounds:
            continue
        bound = bounds[metric]
        da = describe(a[key])
        row = {"workload": workload, "metric": metric, "bound": bound, "a": da}
        unresolved = metric not in SPREAD_EXEMPT and da["spread"] > bound
        if b is not None and key in b:
            db = describe(b[key])
            row["b"] = db
            unresolved = unresolved or (
                metric not in SPREAD_EXEMPT and db["spread"] > bound)
            change = (db["median"] - da["median"]) / abs(da["median"])
            if better[metric] == "higher":
                change = -change
            row["worse_by"] = change
            if unresolved:
                row["verdict"] = "unresolved"
            elif abs(change) <= bound:
                row["verdict"] = "agree"
            else:
                row["verdict"] = "worse" if change > 0 else "better"
        else:
            row["verdict"] = "unresolved" if unresolved else "steady"
        rows.append(row)
    return rows


def overhead(results: list[dict]) -> list[dict]:
    plain, traced = values(results, 0), values(results, 1)
    rows = []
    for (workload, metric), xs in sorted(traced.items()):
        if metric != "trace.op_p50_ms" or (workload, "op_p50_ms") not in plain:
            continue
        base = median(plain[(workload, "op_p50_ms")])
        rows.append({"workload": workload, "untraced_op_p50_ms": base,
                     "traced_op_p50_ms": median(xs),
                     "overhead": median(xs) / base - 1.0})
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("set_a")
    ap.add_argument("set_b", nargs="?")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    a = load_set(args.set_a)
    if args.overhead:
        for r in overhead(a):
            print(f"{r['workload']:<8} untraced {r['untraced_op_p50_ms']:10.1f} ms"
                  f"  traced {r['traced_op_p50_ms']:10.1f} ms"
                  f"  overhead {r['overhead']:+.1%}")
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    b = values(load_set(args.set_b), 0) if args.set_b else None
    rows = compare(values(a, 0), b, bounds, better)
    for r in rows:
        da = r["a"]
        line = (f"{r['workload']:<8} {r['metric']:<24} bound {r['bound']:.2f}"
                f"  A n={da['n']} median {da['median']:.6g}"
                f" [{da['q1']:.6g}, {da['q3']:.6g}] spread {da['spread']:.3f}")
        if "b" in r:
            db = r["b"]
            line += (f"  B n={db['n']} median {db['median']:.6g}"
                     f" [{db['q1']:.6g}, {db['q3']:.6g}] spread {db['spread']:.3f}"
                     f"  worse_by {r['worse_by']:+.3f}")
        print(f"{line}  {r['verdict']}")
    return 1 if any(r["verdict"] in ("unresolved", "worse") for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
