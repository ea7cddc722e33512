"""Self-tests of the benchmark.

    python3 perfbench/selftest.py        (from the root of a checkout)

Also collected by pytest (``python -m pytest perfbench/selftest.py``).
The last test starts Spark on the sf0.01 tables and takes about a minute.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _first(workload: str, seed: int, n: int = 2):
    return list(itertools.islice(workloads.passes(workload, seed), n))


def test_seed_fixes_the_request_sequence():
    for w in workloads.WORKLOADS:
        assert _first(w, 7) == _first(w, 7)
        assert _first(w, 7) != _first(w, 8)


def test_every_pass_covers_every_request_type():
    kinds = {"analytics": set(workloads.ANALYTICS_QUERIES) | set(workloads.GRID_KINDS),
             "curation": set(workloads.CURATION_QUERIES),
             "ingest": set(workloads.INDEX_KINDS) | set(workloads.SCREEN_KINDS) | {"screen.ivf"}}
    for w, want in kinds.items():
        for specs in _first(w, 3, 3):
            assert {k for k, _ in specs} == want


def test_metric_names_and_counts():
    spec = _spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert len(e2e) <= 16 and len(layer) <= 128
    assert len(set(e2e + layer)) == len(e2e + layer)
    for name in e2e + layer:
        assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def _fake_stream():
    lat = [(k, 0.1 + i / 100, 10) for i, k in enumerate(["a", "b"] * 8)]
    layers = [{"kind": k, "latency_s": l} for k, l, _ in lat]
    return {"lat": lat, "layers": layers, "n_min": len(lat),
            "duck": {"a": [0.01, 0.012], "b": [0.02]}}


def test_reported_metrics_match_benchmark_json():
    spec = _spec()
    setup = {"setup_s": 1.0, "session.get_session_s": 0.5, "sources.open_s": 0.1,
             "setup.warm_s": 0.4}
    mem = {"peak_rss_mb": 100.0, "jvm.peak_heap_mb": 50.0, "live_heap_mb": 20.0}
    e2e, _ = run.summarize(setup, _fake_stream(), mem, False)
    layer, _ = run.summarize(setup, _fake_stream(), mem, True)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert set(layer) == {m["name"] for m in spec["per_layer"]}
    for m in spec["end_to_end"] + spec["per_layer"]:
        got = (e2e if m in spec["end_to_end"] else layer)[m["name"]]
        assert got[1] == m["unit"], m["name"]
    assert all(v > 0 for v, _ in e2e.values())


def test_tail_has_ten_samples_beyond_it():
    lats = [float(i) for i in range(40)]
    value, pct = run.tail(lats, 40)
    assert pct == 75.0
    assert 28.5 < value < 30.5  # between the order statistics around p75
    assert abs(run.quantile(lats, 0.5) - 19.5) < 1e-6


def test_spans_are_relative_to_the_tracer_start():
    import time
    from layers import Tracer
    tracer = Tracer()
    now = time.time()
    tracer.span("request", now, now + 1.0, None, "p1.0")
    span = tracer.spans[0]
    assert 0.0 <= span["start_s"] < 60.0
    assert abs(span["end_s"] - span["start_s"] - 1.0) < 1e-6


def test_timed_action_keeps_the_operator_under_test():
    """The plans the stream's fetch executes keep q11's Window and q22's
    percentile aggregate; a count() in place of the fetch trips the guard."""
    import time

    import checks
    from layers import fetched_plans

    args = run.parse_args(["--workload", "analytics", "--seed", "1", "--seconds", "1"])
    bench = run.Bench(args, ROOT)

    def plans(kind: str, fetch, group: str) -> list[str]:
        req = bench.small_reqs.bind((kind, {}))
        sc = bench.spark.sparkContext
        sc.setJobGroup(group, kind)
        sdf = req.build()
        since = time.time()
        fetch(req, sdf)
        return fetched_plans(sc, {kind: (group, since)})[kind]

    try:
        bench.environment()
        bench.start()
        for kind in ("q11_rolling_avg", "q22_quantile"):
            checks.check_plan(kind, plans(kind, lambda req, sdf: req.fetch(sdf), kind))
        counted = plans("q11_rolling_avg", lambda req, sdf: sdf.count(), "count")
        assert counted, "the count() ran no SQL execution"
        try:
            checks.check_plan("q11_rolling_avg", counted)
        except checks.Mismatch:
            pass
        else:
            raise AssertionError("a count() fetch of q11 passed the plan guard")
    finally:
        bench.close()


if __name__ == "__main__":
    os.chdir(ROOT)
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok   {name}")
            except Exception as e:  # report every test, then fail
                failed += 1
                print(f"FAIL {name}: {type(e).__name__}: {e}")
    sys.exit(1 if failed else 0)
