"""The A/A comparison verdicts."""

from perfbench import compare

BOUNDS = {"op_p50_ms": 0.25, "setup_s": 0.25}
BETTER = {"op_p50_ms": "lower", "setup_s": "lower"}


def runs(metric, values, workload="serve"):
    return {(workload, metric): list(values)}


def verdict(a, b):
    return compare.compare(a, b, BOUNDS, BETTER)[0]["verdict"]


def test_agree_worse_better():
    a = runs("op_p50_ms", [100, 101, 99, 100, 102])
    assert verdict(a, runs("op_p50_ms", [110, 111, 109, 110, 112])) == "agree"
    assert verdict(a, runs("op_p50_ms", [130, 131, 129, 130, 132])) == "worse"
    assert verdict(a, runs("op_p50_ms", [70, 71, 69, 70, 72])) == "better"


def test_spread_beyond_bound_is_unresolved_except_for_setup():
    wide = [50, 100, 150, 100, 60, 140]
    assert verdict(runs("op_p50_ms", wide), None) == "unresolved"
    assert verdict(runs("op_p50_ms", [100] * 4), runs("op_p50_ms", wide)) == (
        "unresolved")
    assert verdict(runs("setup_s", wide), runs("setup_s", wide)) == "agree"


def test_overhead_pairs_traced_with_untraced():
    results = [
        {"workload": "serve", "trace": 0,
         "metrics": {"op_p50_ms": {"value": 100.0, "unit": "ms"}}},
        {"workload": "serve", "trace": 1,
         "metrics": {"trace.op_p50_ms": {"value": 110.0, "unit": "ms"}}},
    ]
    (row,) = compare.overhead(results)
    assert abs(row["overhead"] - 0.10) < 1e-9
