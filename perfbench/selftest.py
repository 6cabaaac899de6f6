"""The benchmark's own self-checks; no Spark needed.

    python3 perfbench/selftest.py

Every run calls check_all() first, so a broken rule fails the run.
"""
import json
import math
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def check_tail_rule():
    xs = list(range(1, 41))                      # 40 samples
    t = stats.tail(xs)
    assert (t["value"], t["pct"], t["n"], t["short"]) == (30, 75.0, 40, False), t
    t = stats.tail(list(range(100, 0, -1)))      # order does not matter
    assert (t["value"], t["pct"]) == (90, 90.0), t
    t = stats.tail(list(range(21)))              # 21 samples: rank 11 of 21
    assert t["value"] == 10 and abs(t["pct"] - 100 * 11 / 21) < 1e-9, t
    t = stats.tail([5, 1, 3])                    # too few: the max, flagged
    assert (t["value"], t["short"]) == (5, True), t
    assert stats.median([3, 1, 2, 10]) == 2.5
    assert stats.busy_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert stats.max_overlap([(0, 10), (5, 15), (9, 12), (20, 30)]) == 3


def check_op_runtime():
    # hand-checked: op 1 owns span a (two overlapping tasks busy 10-30),
    # op 2 owns spans b and c (one task busy 40-50, c launched nothing)
    res = {"tasks": [["a", 10, 20, 10, 5], ["a", 15, 30, 15, 0], ["b", 40, 50, 10, 1]],
           "jobs": [{"span": "a", "start_ms": 8}, {"span": "b", "start_ms": 39}]}
    got = stats.op_runtime(res, [(["a"], 0, 40), (["b", "c"], 35, 60)])
    assert got == {"jobs": [1, 1], "tasks": [2, 1], "shuffle_write_bytes": [5, 1],
                   "executor_run_ms": [25, 10], "driver_only_ms": [20, 15],
                   "first_job_ms": [8, 4]}, got


def check_lww():
    # hand-checked: key 0 is re-sent late (loses) then updated (wins); key 1
    # arrives once; two docs carry no usable key; key 2's doc is valid.
    docs = gen.Docs(key=np.array([0, 1, 0, -1, 0, -1, 2]),
                    ts=np.array([1000, 2000, 500, 3000, 86_400_000, 4000, 86_399_999]),
                    kind=np.array([gen.VALID, gen.VALID, gen.VALID, gen.EMPTY_MARKER,
                                   gen.VALID, gen.MALFORMED, gen.VALID], dtype=np.int8))
    got = gen.expected_lww([docs.slice(0, 3), docs.slice(3, 7)], lambda k: f"K{k}")
    got = [(r["fx_marker"], r["timestamp_ms"], str(r["timestamp_dt"])) for r in got.to_pylist()]
    assert got == [("K0", "86400000", "1970-01-02"), ("K1", "2000", "1970-01-01"),
                   ("K2", "86399999", "1970-01-01")], got
    # generated timestamps never tie, late docs included
    rng = np.random.default_rng(3)
    d = gen.make_docs(rng, 20_000, lambda r, m: r.integers(0, 50, m), late=0.2)
    assert len(np.unique(d.ts)) == len(d.ts)
    # the rendered lines hold every adversarial kind, and only valid docs
    # carry a non-empty marker
    lines = gen.render_lines(d, lambda k: f"K{k}")
    kinds = set(d.kind.tolist())
    assert kinds == {gen.VALID, gen.EMPTY_MARKER, gen.MISSING_MARKER, gen.MALFORMED,
                     gen.BLANK}, kinds
    for line, kind in zip(lines, d.kind.tolist()):
        assert ('"fx_marker": "K' in line) == (kind == gen.VALID), line


def validate_line(line, names=None):
    """Raise unless `line` is a well-formed metrics line; `names` are the
    metric names it must hold exactly."""
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}, obj.keys()
    assert isinstance(obj["correct"], bool)
    for k in ("attempted", "failed"):
        assert isinstance(obj[k], int) and not isinstance(obj[k], bool), k
    assert obj["attempted"] >= 1 and 0 <= obj["failed"] <= obj["attempted"]
    for name, m in obj["metrics"].items():
        assert set(m) == {"value", "unit"}, (name, m)
        v = m["value"]
        assert isinstance(v, (int, float)) and not isinstance(v, bool), (name, v)
        assert math.isfinite(v) and v != 0, (name, v)
    if names is not None:
        assert set(obj["metrics"]) == set(names), set(obj["metrics"]) ^ set(names)
    return obj


def declared_metrics(workload, trace):
    """Metric names BENCHMARK.json declares for a listed workload and trace
    setting; None for a workload it does not list."""
    if not os.path.exists(BENCHMARK_JSON):
        return None
    spec = json.load(open(BENCHMARK_JSON))
    if workload not in [w["name"] for w in spec["workloads"]]:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def check_schema():
    good = ('{"correct": true, "attempted": 3, "failed": 0, "metrics": '
            '{"setup_s": {"value": 1.5, "unit": "s"}}}')
    validate_line(good, ["setup_s"])
    for bad in ['{"correct": true, "attempted": 0, "failed": 0, "metrics": {}}',
                '{"correct": 1, "attempted": 1, "failed": 0, "metrics": {}}',
                '{"correct": true, "attempted": 1, "failed": 0, "metrics": {}, "x": 1}',
                '{"correct": true, "attempted": 1, "failed": 0, '
                '"metrics": {"a": {"value": "1", "unit": "s"}}}',
                '{"correct": true, "attempted": 1, "failed": 0, '
                '"metrics": {"a": {"value": 0.0, "unit": "ms"}}}']:
        try:
            validate_line(bad)
        except AssertionError:
            continue
        raise AssertionError(f"accepted a bad line: {bad}")
    try:
        validate_line(good, ["setup_s", "latency_ms"])
    except AssertionError:
        pass
    else:
        raise AssertionError("accepted a line missing a declared metric")


def check_all():
    check_tail_rule()
    check_op_runtime()
    check_lww()
    check_schema()


if __name__ == "__main__":
    check_all()
    print("selftest ok")
