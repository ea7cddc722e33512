"""Session benchmark for vaex_spark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One single-process, closed-loop client
drives a stream of requests through the public API on ``local[nproc]``
and times each from the library call until the full result is on the
driver (Arrow tables, numpy grids, or a written parquet snapshot).  The
stream runs whole passes, at least MIN_REQUESTS requests, until
``--seconds`` have gone by.  Between requests, outside their timing,
DuckDB runs the oracle SQL of each request type once a pass: the
yardstick.  Outputs are checked against those DuckDB results or numpy
after the stream, outside timing.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``; per-layer metrics with ``--trace 1``, from a traced run
that also writes spans and a per-request-type breakdown under
``.bench_work/results``).  Any failed request, check mismatch or empty
stream exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_REQUESTS = 30  # the stream runs whole passes until it has at least this many
TAIL_BEYOND = 10   # the tail is the latency with this many samples above it
# DuckDB threads for the yardstick.  At 4 threads its short queries switch
# between a fast and a slow mode from one process to the next (a spread of
# 0.1-0.3 over ten processes); single-threaded the spread is 0.03-0.08.
DUCK_THREADS = 1
TABLES = {"analytics": ("lineitem", "orders", "customer", "nation", "region", "events"),
          "curation": ("documents", "embeddings"),
          "ingest": ("documents", "embeddings")}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta(p(n+1), (1-p)(n+1))
    weighted mean of the order statistics.  It varies less between runs
    than a single order statistic of a few dozen samples."""
    import numpy as np
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore", invalid="ignore"):
        logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    logpdf[~np.isfinite(logpdf)] = -np.inf  # the end points
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf)
    return float(np.dot(np.diff(edges), x))


def tail(latencies: list[float], n_min: int) -> tuple[float, float]:
    """(value, percentile): the highest percentile with TAIL_BEYOND samples
    above it in a stream of the guaranteed length ``n_min``,
    p = (n_min - TAIL_BEYOND) / n_min.  Fixing p by the guaranteed length
    keeps the metric the same percentile in runs that fit an extra pass."""
    p = (n_min - TAIL_BEYOND) / n_min
    return quantile(latencies, p), 100.0 * p


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Bench:
    def __init__(self, args, root: str):
        self.args, self.root = args, root
        self.work = os.path.join(root, ".bench_work")
        # index snapshots of this process; removed when the run ends
        self.scratch = os.path.join(self.work, f"pid{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = self.duck = None
        self.trace = bool(args.trace)

    # -- environment and set-up -----------------------------------------
    def environment(self) -> None:
        import datagen
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the library's own memory settings: its default driver heap
        os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_IP": "127.0.0.1",
            "TMPDIR": tmp,
            # no hsperfdata file in the system temp directory
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import vaex_spark from the checkout too
            "PYTHONPATH": os.pathsep.join(
                [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])})
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
        self.big = datagen.ensure(os.path.join(self.work, "data"), 0.1)
        self.small = datagen.ensure(os.path.join(self.work, "data"), 0.01)
        import pyarrow.parquet as pq
        self.rows = {d: {t: pq.ParquetFile(f"{d}/{t}.parquet").metadata.num_rows
                         for t in datagen.TABLES} for d in (self.big, self.small)}

    def start(self) -> None:
        """Launch the JVM, start the session and bind the table directories."""
        import vaex_spark as vs
        import __spark_entry__ as entry
        from workloads import Requests
        self.vs, self.entry = vs, entry
        self.spark = vs.get_session(extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.reqs = Requests(self.spark, entry, self.big, os.path.join(self.scratch, "run"),
                             self.rows[self.big])
        self.small_reqs = Requests(self.spark, entry, self.small,
                                   os.path.join(self.scratch, "small"), self.rows[self.small])

    def setup(self, specs) -> dict:
        """The cold start of a session, timed once, in the process the
        stream then uses: JVM launch and session start, opening and
        counting the workload's tables, and the warm-up pass (``warm``)."""
        t0 = time.perf_counter()
        self.start()
        t1 = time.perf_counter()
        for t in TABLES[self.args.workload]:
            len(self.reqs.table(t))
        t2 = time.perf_counter()
        self.warm(specs)
        t3 = time.perf_counter()
        if self.args.workload == "ingest":
            self.reqs.drop_cycle(0)
        return {"setup_s": t3 - t0, "session.get_session_s": t1 - t0,
                "sources.open_s": t2 - t1, "setup.warm_s": t3 - t2}

    # -- the stream ------------------------------------------------------
    def warm(self, specs) -> None:
        """Run each request type of one pass once, untimed, on the sf0.1
        tables, ``nproc`` at a time.  The first pass of a fresh JVM runs
        about a quarter slower than later ones (JIT and codegen caches), so
        the timed stream starts warm.  Index snapshots are written before
        the screens read them."""
        from concurrent.futures import ThreadPoolExecutor
        from workloads import INDEX_KINDS
        first: dict = {}
        for kind, p in specs:
            first.setdefault(kind, (kind, p))

        def one(spec):
            req = self.reqs.bind(spec)
            req.fetch(req.build())

        with ThreadPoolExecutor(self.cpus) as pool:
            list(pool.map(one, [s for s in first.values() if s[0] in INDEX_KINDS]))
            list(pool.map(one, [s for s in first.values() if s[0] not in INDEX_KINDS]))
        self.vs.cache.release_operator_caches()

    def stream(self, stream, seconds: float) -> dict:
        """Time whole passes of ``stream`` (numbered passes) until at least
        MIN_REQUESTS requests have run and ``seconds`` have gone by.

        The DuckDB yardstick runs between requests: after the first request
        of each type in a pass, outside its timing, DuckDB runs the oracle
        SQL of the same request once.  Spark and DuckDB are then timed over
        the same stretch of the run, so a slower machine slows both."""
        import datagen
        from checks import SMALL_CHECK, DuckOracle, oracle_sql
        oracles = self.entry.oracle_sql()
        self.duck = DuckOracle(self.big, datagen.TABLES, DUCK_THREADS, self.work)
        probe = py4j = tracer = None
        if self.trace:
            from layers import Py4jCounter, SparkProbe, Tracer
            probe, py4j, tracer = SparkProbe(self.spark), Py4jCounter(self.spark), Tracer()
        sc = self.spark.sparkContext
        out = {"lat": [], "first": {}, "failed": 0, "layers": [], "fetches": {},
               "duck": {}, "want": {}}
        start = time.perf_counter()
        for pass_no, specs in stream:
            if "n_min" not in out:
                out["n_min"] = math.ceil(MIN_REQUESTS / len(specs)) * len(specs)
            elif (len(out["lat"]) + out["failed"] >= out["n_min"]
                  and time.perf_counter() - start >= seconds):
                break
            yardstick = set()
            for spec in specs:
                kind = spec[0]
                rid = f"p{pass_no}.{len(out['lat']) + out['failed']}"
                sc.setJobGroup(rid, kind)
                if self.trace:
                    calls0 = py4j.calls
                try:
                    req = self.reqs.bind(spec)
                    w0, t0 = time.time(), time.perf_counter()
                    handle = req.build()
                    w1, t1 = time.time(), time.perf_counter()
                    if self.trace:
                        build_calls, build_jobs = py4j.calls - calls0, len(probe.job_ids(rid))
                    res = req.fetch(handle)
                    w2, t2 = time.time(), time.perf_counter()
                except Exception:
                    traceback.print_exc()
                    out["failed"] += 1
                    continue
                out["lat"].append((kind, t2 - t0, req.rows))
                if kind not in out["first"]:
                    out["first"][kind] = (spec, res)
                    out["fetches"][kind] = (rid, w1)
                row = {"kind": kind, "latency_s": t2 - t0}
                if req.write_dir:
                    row["index.write_s"] = t2 - t0
                    row["index.write_bytes"] = _dir_bytes(req.write_dir)
                    src = os.path.join(self.big, f"{req.source}.parquet")
                    row["index.write_amp"] = row["index.write_bytes"] / os.path.getsize(src)
                if self.trace:
                    jobs = probe.job_ids(rid)
                    row.update({"build_s": t1 - t0, "build_py4j_calls": build_calls,
                                "build_jobs": build_jobs})
                    row.update(probe.request_metrics(jobs, (w1, w2)))
                    rs = tracer.span("request", w0, w2, None, rid, kind=kind)
                    tracer.span("build", w0, w1, rs, rid, py4j_calls=build_calls)
                    act = tracer.span("action", w1, w2, rs, rid)
                    tracer.span("plan", w1, w1 + row["spark.plan_s"], act, rid)
                    for job in probe.job_spans():
                        js = tracer.span("job", job["start"], job["end"], act, rid,
                                         job_id=job["id"])
                        for st in job["stages"]:
                            tracer.span("stage", st["start"], st["end"], js, rid,
                                        stage_id=st["id"])
                row["cache.persists_released"] = self.vs.cache.release_operator_caches()
                out["layers"].append(row)
                if (kind not in yardstick and kind not in SMALL_CHECK
                        and (sql := oracle_sql(oracles, *spec))):
                    yardstick.add(kind)
                    want, secs = self.duck.run(sql)
                    out["duck"].setdefault(kind, []).append(secs)
                    out["want"].setdefault(kind, want)
            if self.args.workload == "ingest":
                self.reqs.drop_cycle(pass_no)
        if self.trace:
            py4j.close()
            out["tracer"] = tracer
        return out

    # -- checks and yardstick ----------------------------------------------
    def check_in_spark(self, first: dict, fetches: dict, normalize) -> None:
        """The checks that need Spark: the plans the timed fetch of each
        request type executed keep its operator under test (read from the
        UI's SQL executions of the request's job group), and request types
        DuckDB cannot check at sf0.1 run again with the same parameters on
        the sf0.01 tables and are checked there."""
        import datagen
        from checks import SMALL_CHECK, DuckOracle, check_plan, compare_frames, oracle_sql
        from layers import fetched_plans
        from workloads import PLAN_MARKERS
        oracles = self.entry.oracle_sql()
        guarded = {k: v for k, v in fetches.items() if k in PLAN_MARKERS}
        if guarded:
            for kind, plans in sorted(fetched_plans(self.spark.sparkContext, guarded).items()):
                check_plan(kind, plans)
        with DuckOracle(self.small, datagen.TABLES, self.cpus, self.work) as small:
            for kind, (spec, _) in sorted(first.items()):
                if kind in SMALL_CHECK:
                    req = self.small_reqs.bind(spec)
                    want, _ = small.run(oracle_sql(oracles, *spec))
                    compare_frames(normalize, req.fetch(req.build()), want,
                                   f"{kind} (sf0.01)")

    def check(self, st: dict, normalize) -> None:
        """Check the first result of every other request type against the
        DuckDB result of the same request, taken in the stream, or numpy."""
        from checks import compare_frames, compare_grid, expected_grid, lineitem_columns
        from workloads import GRID_KINDS
        cols = None
        for kind, (spec, res) in sorted(st["first"].items()):
            if kind in GRID_KINDS:
                cols = cols or lineitem_columns(self.big)
                compare_grid(kind, res, expected_grid(kind, spec[1], cols))
            elif kind in st["want"]:
                compare_frames(normalize, res, st["want"][kind], kind)

    def close(self) -> None:
        """Stop Spark, wait for the JVM (and its Python workers) to end and
        remove this run's index snapshots.  Safe to call twice."""
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            if self.duck is not None:
                self.duck.close()
                self.duck = None
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            shutil.rmtree(self.scratch, ignore_errors=True)


def summarize(setup: dict, st: dict, mem: dict, trace: bool):
    lats = [l for _, l, _ in st["lat"]]
    duck = {k: statistics.median(v) for k, v in st["duck"].items()}
    busy = sum(lats)
    by_kind: dict = {}
    for kind, l, _ in st["lat"]:
        by_kind.setdefault(kind, []).append(l)
    ratios = [statistics.median(by_kind[k]) / d for k, d in duck.items() if d > 0]
    tail_v, tail_p = tail(lats, st["n_min"])
    e2e = {"setup_s": (setup["setup_s"], "s"),
           "latency_p50_s": (quantile(lats, 0.5), "s"),
           "latency_tail_s": (tail_v, "s"),
           "rows_per_s": (sum(r for _, _, r in st["lat"]) / busy, "rows/s"),
           "geomean_vs_duckdb": (math.exp(statistics.fmean(math.log(r) for r in ratios)), "ratio"),
           "live_heap_mb": (mem["live_heap_mb"], "MiB")}
    info = {"samples": len(lats), "tail_percentile": tail_p, "duckdb_s": duck,
            "latencies": [[k, l] for k, l, _ in st["lat"]],
            "latency_by_kind": {k: statistics.median(v) for k, v in sorted(by_kind.items())}}
    if not trace:
        return e2e, info
    rows = st["layers"]
    n = len(rows)
    mean = lambda key: sum(r.get(key, 0) for r in rows) / n  # noqa: E731
    writes = [r for r in rows if "index.write_s" in r]
    wmean = lambda key: (sum(r[key] for r in writes) / len(writes)) if writes else 0.0  # noqa: E731
    layer = {"session.get_session_s": (setup["session.get_session_s"], "s"),
             "sources.open_s": (setup["sources.open_s"], "s"),
             "setup.warm_s": (setup["setup.warm_s"], "s"),
             "build_s": (mean("build_s"), "s"), "build_py4j_calls": (mean("build_py4j_calls"), "count"),
             "build_jobs": (mean("build_jobs"), "count")}
    for key, unit in [("spark.plan_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
                      ("spark.tasks", "count"), ("spark.idle_s", "s"),
                      ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"),
                      ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
                      ("spark.spill_bytes", "B"), ("python.worker_start_s", "s"),
                      ("python.worker_run_s", "s"), ("python.bytes_sent", "B"),
                      ("cache.persists_released", "count")]:
        layer[key] = (mean(key), unit)
    layer["index.write_s"] = (wmean("index.write_s"), "s")
    layer["index.write_bytes"] = (wmean("index.write_bytes"), "B")
    layer["index.write_amp"] = (wmean("index.write_amp"), "ratio")
    layer["peak_rss_mb"] = (mem["peak_rss_mb"], "MiB")
    layer["jvm.peak_heap_mb"] = (mem["jvm.peak_heap_mb"], "MiB")
    layer["yardstick.duckdb_s"] = (sum(duck.values()), "s")
    info["latency_p50_s"] = e2e["latency_p50_s"][0]
    info["rows_per_s"] = e2e["rows_per_s"][0]
    info["per_kind"] = {k: {key: statistics.fmean(r.get(key, 0) for r in rows if r["kind"] == k)
                            for key in rows[0] if key != "kind"} for k in by_kind}
    return layer, info


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(root, "vaex_spark", "__init__.py"))):
        fail("run from the root of a checkout: __spark_entry__.py and vaex_spark/ are missing")
    sys.path[:0] = [HERE, root]
    from checks import Mismatch, load_normalize
    from layers import jvm_live_heap_mb, jvm_peak_heap_mb, jvm_pid, rss_hwm_mb
    from workloads import passes

    bench = Bench(args, root)
    phases, t = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 2)
        t = now

    try:
        bench.environment()
        phase("data")
        stream = enumerate(passes(args.workload, args.seed))
        _, specs = next(stream)
        setup = bench.setup(specs)
        phase("setup")
        st = bench.stream(stream, args.seconds)
        phase("stream")
        py_rss, jvm_rss = rss_hwm_mb(os.getpid()), rss_hwm_mb(jvm_pid(bench.spark))
        mem = {"peak_rss_mb": py_rss + jvm_rss, "python.peak_rss_mb": py_rss,
               "jvm.peak_rss_mb": jvm_rss, "jvm.peak_heap_mb": jvm_peak_heap_mb(bench.spark)}
        mem["live_heap_mb"] = jvm_live_heap_mb(bench.spark)
        if not st["lat"]:
            fail("no request completed")
        if st["failed"]:
            fail(f"{st['failed']} request(s) failed")
        if len(st["lat"]) < st["n_min"]:
            fail(f"only {len(st['lat'])} of {st['n_min']} requests completed")
        normalize = load_normalize(root)
        bench.check_in_spark(st["first"], st["fetches"], normalize)
        phase("spark_checks")
        bench.close()
        phase("close")
        bench.check(st, normalize)
        phase("check")
    except Mismatch as e:
        fail(f"check failed: {e}")
    finally:
        bench.close()
    if not st["duck"]:
        fail("no request type has a DuckDB yardstick")
    metrics, info = summarize(setup, st, mem, bench.trace)
    out = {"correct": True, "attempted": len(st["lat"]), "failed": 0,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    for k, m in out["metrics"].items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            fail(f"metric {k} is not a finite number: {m['value']!r}")
    res_dir = os.path.join(bench.work, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-s{args.seed}")
    if bench.trace:
        st["tracer"].dump(stem + "-spans.json")
        try:
            with open(stem + ".json") as f:
                plain = json.load(f)["info"]
            info["overhead"] = {k: info[k] / plain[k] - 1
                                for k in ("latency_p50_s", "rows_per_s")}
        except (OSError, KeyError, ValueError):
            info["overhead"] = None
        print(f"perfbench: tracing overhead vs untraced run: {info['overhead']}",
              file=sys.stderr)
    else:
        info["latency_p50_s"] = metrics["latency_p50_s"][0]
        info["rows_per_s"] = metrics["rows_per_s"][0]
    info["memory"], info["setup"] = mem, setup
    info["phases_s"] = phases
    with open(stem + ("-trace.json" if bench.trace else ".json"), "w") as f:
        json.dump({"result": out, "info": info}, f, indent=1)
    print(f"perfbench: {args.workload} seed={args.seed} samples={info['samples']} "
          f"tail=p{info['tail_percentile']:.1f} phases={phases}", file=sys.stderr)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
