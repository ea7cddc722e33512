"""Request streams of the three workloads.

``passes(workload, seed)`` yields the stream one pass at a time as plain
specs ``(kind, params)``: the seed fixes the request order and every
generated parameter, and nothing else.  ``Requests`` binds a spec to the
library calls that serve it and the input rows it reads; ``checks`` holds
what proves its result.

* ``analytics`` — an analyst session: the relational queries of
  ``__spark_entry__`` over the TPC-H-ish tables plus vaex grid statistics
  (``count``/``mean`` with ``binby``, a ``delay=True`` batch under
  selections) with seeded columns, limits and shapes.
* ``curation`` — whole-corpus ``datapipe`` operators on ``documents``.
* ``ingest`` — each cycle writes fresh corpus-index snapshots (winnow,
  vector, IVF) to parquet, then screens small seeded batches against them.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

ANALYTICS_QUERIES = {  # query -> tables it reads (for rows_per_s)
    "q01_pricing_summary": ["lineitem"], "q02_filter_project": ["lineitem"],
    "q03_revenue_by_segment": ["customer", "orders"],
    "q05_revenue_by_nation": ["customer", "nation", "orders", "region"],
    "q06_forecast_revenue": ["lineitem"], "q07_orders_by_month": ["orders"],
    "q10_window_diff": ["events"], "q11_rolling_avg": ["events"],
    "q18_histogram": ["orders"], "q22_quantile": ["lineitem"],
    "q82_cube_orders": ["orders"], "q83_trailing_time_window": ["events"],
    "q84_sessionization": ["events"],
    "q85_cheapest_supplier_per_part": ["lineitem"],
    "q112_date_stats": ["orders"], "q113_interval_gap_stats": ["events"]}
GRID_KINDS = ("grid.count2d", "grid.mean1d", "stats.delayed")
CURATION_QUERIES = {
    "q26_dedup_exact": ["documents"], "q27_token_stats": ["documents"],
    "q35_minhash_near_dups": ["documents"],
    "q36_simhash_near_dups": ["documents"],
    "q45_dedup_clusters": ["documents"], "q52_pack_sequences": ["documents"],
    "q56_curation_pipeline": ["documents"],
    "q66_semantic_dedup": ["embeddings"],
    "q67_duplicated_spans": ["documents"]}
INDEX_KINDS = ("index.winnow", "index.vector", "index.ivf")
SCREEN_KINDS = ("screen.winnow", "screen.vector", "screen.fuzzy", "screen.bloom")
WORKLOADS = ("analytics", "curation", "ingest")

# Value ranges of the numeric lineitem columns the grid statistics bin on.
NUMERIC = {"l_quantity": (1.0, 50.0), "l_extendedprice": (900.0, 105000.0),
           "l_discount": (0.0, 0.1), "l_tax": (0.0, 0.08)}

# Output columns of each screen, as the matching entry query projects them.
SCREEN_COLUMNS = {"screen.winnow": ["batch_id", "corpus_id", "n_shared"],
                  "screen.vector": ["batch_id", "corpus_id", "cos"],
                  "screen.ivf": ["query_id", "neighbor_id", "cos", "rank"],
                  "screen.fuzzy": ["doc_id", "lang"],
                  "screen.bloom": ["doc_id", "lang", "source"]}

# The fetched plan must keep the operator under test (a count() could let
# Catalyst prune it away); checked on the executed plan of each kind.
PLAN_MARKERS = {"q10_window_diff": "Window", "q11_rolling_avg": "Window",
                "q22_quantile": "percentile", "q83_trailing_time_window": "Window"}

Spec = tuple[str, dict]


def _limits(rng: random.Random, col: str) -> list[float]:
    lo, hi = NUMERIC[col]
    a = lo + (hi - lo) * rng.uniform(0.0, 0.3)
    b = hi - (hi - lo) * rng.uniform(0.0, 0.3)
    return [round(a, 4), round(b, 4)]


def _grid_spec(rng: random.Random, kind: str) -> Spec:
    cols = sorted(NUMERIC)
    if kind == "grid.count2d":
        x, y = rng.sample(cols, 2)
        return kind, {"x": x, "y": y, "shape": rng.choice([16, 32, 64]),
                      "limits": [_limits(rng, x), _limits(rng, y)]}
    if kind == "grid.mean1d":
        v, x = rng.sample(cols, 2)
        return kind, {"v": v, "x": x, "shape": rng.choice([32, 64, 128]),
                      "limits": _limits(rng, x)}
    # the statistic's column and one selection on each other column, so
    # every seed reads the same number of columns
    v = rng.choice(cols)
    sels = [[c, *_limits(rng, c)] for c in rng.sample([c for c in cols if c != v], 3)]
    return kind, {"v": v, "selections": sels}


def _ingest_cycle(rng: random.Random, cycle: int) -> list[Spec]:
    # corpus: 3/4 or 4/5 of the table; each batch 1/20 of it, so batch
    # sizes, and with them the cost of a screen, do not swing with the seed
    m = rng.choice([4, 5])
    split = {"cycle": cycle, "m": m, "r": rng.randrange(m), "b_count": 20 // m}
    writes = [(k, dict(split)) for k in INDEX_KINDS]
    rng.shuffle(writes)
    screens = []
    for b in rng.sample(range(split["b_count"]), 3):
        for k in SCREEN_KINDS:
            screens.append((k, dict(split, b=b)))
    screens.append(("screen.ivf", dict(split, queries=sorted(rng.sample(range(2000), 5)))))
    rng.shuffle(screens)
    return writes + screens


def passes(workload: str, seed: int):
    """Endless stream of passes; each pass is a list of specs."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    i = 0
    while True:
        rng = random.Random(f"{workload}:{seed}:{i}")
        if workload == "analytics":
            kinds = list(ANALYTICS_QUERIES) + list(GRID_KINDS)
            rng.shuffle(kinds)
            yield [_grid_spec(rng, k) if k in GRID_KINDS else (k, {})
                   for k in kinds]
        elif workload == "curation":
            kinds = list(CURATION_QUERIES)
            rng.shuffle(kinds)
            yield [(k, {}) for k in kinds]
        else:
            yield _ingest_cycle(rng, i)
        i += 1


# ---------------------------------------------------------------------------
# binding specs to library calls
# ---------------------------------------------------------------------------
@dataclass
class Request:
    kind: str
    build: Callable[[], Any]          # the library call (lazy where it can be)
    fetch: Callable[[Any], Any]       # brings the full result to the driver
    rows: int                         # input rows the request reads
    write_dir: str | None = None      # index snapshot written by the request
    source: str | None = None         # table the snapshot indexes


def _to_arrow(sdf):
    return sdf.toArrow()


def _screen(kind: str, build: Callable[[], Any], rows: int) -> Request:
    cols = SCREEN_COLUMNS[kind]
    return Request(kind, lambda: build().select(*cols), _to_arrow, rows)


class Requests:
    """Binds specs to library calls over one table directory."""

    def __init__(self, spark, entry, sf_dir: str, work_dir: str, table_rows: dict):
        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.rows = table_rows
        self.queries = entry.queries()
        self._open: dict = {}

    def table(self, name: str):
        if name not in self._open:
            import vaex_spark as vs
            self._open[name] = vs.open(f"{self.sf_dir}/{name}.parquet", spark=self.spark)
        return self._open[name]

    def index_dir(self, params: dict, kind: str) -> str:
        return os.path.join(self.work_dir, "index", f"c{params['cycle']}", kind)

    def drop_cycle(self, cycle: int) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "index", f"c{cycle}"),
                      ignore_errors=True)

    def bind(self, spec: Spec) -> Request:
        kind, p = spec
        if kind in ANALYTICS_QUERIES or kind in CURATION_QUERIES:
            tables = ANALYTICS_QUERIES.get(kind) or CURATION_QUERIES[kind]
            fn = self.queries[kind]
            return Request(kind, lambda: fn(self.spark, self.sf_dir), _to_arrow,
                           sum(self.rows[t] for t in tables))
        if kind in GRID_KINDS:
            return self._grid(kind, p)
        return self._ingest(kind, p)

    # -- analytics: vaex grid statistics --------------------------------
    def _grid(self, kind: str, p: dict) -> Request:
        df = self.table("lineitem")
        rows = self.rows["lineitem"]
        if kind == "grid.count2d":
            call = lambda: df.count(binby=[p["x"], p["y"]], shape=p["shape"],  # noqa: E731
                                    limits=p["limits"])
        elif kind == "grid.mean1d":
            call = lambda: df.mean(p["v"], binby=p["x"], shape=p["shape"],  # noqa: E731
                                   limits=p["limits"])
        else:
            def call():
                d = df.copy()
                names = []
                for i, (c, lo, hi) in enumerate(p["selections"]):
                    d.select((d[c] >= lo) & (d[c] <= hi), name=f"s{i}")
                    names.append(f"s{i}")
                tasks = [f(p["v"], selection=s, delay=True)
                         for s in names for f in (d.count, d.sum, d.mean, d.min, d.max)]
                d.execute()
                return [t.get() for t in tasks]
        return Request(kind, lambda: call, lambda c: c(), rows)

    # -- ingest: index snapshots and screens ----------------------------
    @staticmethod
    def split(p: dict, id_col: str, df):
        """(corpus, batch) of the seeded split: the corpus is every row with
        id % m != r; batch b is the rows with id % (m*b_count) == r + m*b."""
        m, r = p["m"], p["r"]
        corpus = df[df[id_col] % m != r]
        batch = None
        if "b" in p:
            batch = df[df[id_col] % (m * p["b_count"]) == r + m * p["b"]]
        return corpus, batch

    def _ingest(self, kind: str, p: dict) -> Request:
        from vaex_spark.datapipe import dedup, similarity, text
        docs, emb = self.table("documents"), self.table("embeddings")
        n_docs, n_vec = self.rows["documents"], self.rows["embeddings"]
        m, mb = p["m"], p["m"] * p["b_count"]
        if kind in INDEX_KINDS:
            out = self.index_dir(p, kind)
            if kind == "index.winnow":
                def make():
                    corpus, _ = self.split(p, "doc_id", docs)
                    return text.corpus_winnow_index(corpus, fp_type="gram",
                                                    grouped=True).spark
                rows, src = n_docs - n_docs // m, "documents"
            elif kind == "index.vector":
                def make():
                    corpus, _ = self.split(p, "vec_id", emb)
                    return similarity.corpus_vector_index(corpus, bits=2, n_tables=24)
                rows, src = n_vec - n_vec // m, "embeddings"
            else:  # the IVF index covers the whole table, as in q101
                def make():
                    return similarity.corpus_ivf_index(emb, n_cells=8)
                rows, src = n_vec, "embeddings"
            return Request(kind, make,
                           lambda sdf: sdf.write.mode("overwrite").parquet(out),
                           rows, write_dir=out, source=src)
        if kind == "screen.ivf":
            def build():
                idx = self.spark.read.parquet(self.index_dir(p, "index.ivf"))
                q = emb[emb.vec_id.isin(p["queries"])]
                return similarity.ivf_topk(None, q, k=10, n_probe=8,
                                           corpus_index=idx, round_to=6)
            return _screen(kind, build, len(p["queries"]))
        if kind == "screen.vector":
            def build():
                idx = self.spark.read.parquet(self.index_dir(p, "index.vector"))
                _, batch = self.split(p, "vec_id", emb)
                return similarity.near_dup_embeddings_against_corpus(
                    batch, corpus_index=idx, threshold=0.42, bits=2,
                    n_tables=24, round_to=6)
            return _screen(kind, build, n_vec // mb)
        if kind == "screen.winnow":
            def build():
                idx = self.spark.read.parquet(self.index_dir(p, "index.winnow"))
                _, batch = self.split(p, "doc_id", docs)
                return text.winnow_overlap_against_corpus(
                    batch, min_shared=2, fp_type="gram", max_df=256,
                    corpus_index=idx).spark
        elif kind == "screen.fuzzy":
            def build():
                corpus, batch = self.split(p, "doc_id", docs)
                return dedup.near_dup_against_corpus(batch, corpus,
                                                     threshold=0.5).spark
        else:  # screen.bloom: the q77 shape
            def build():
                corpus, batch = self.split(p, "doc_id", docs)
                bloom = (dedup.build_fingerprint_bloom(corpus, fpp=0.01)
                         if dedup.corpus_wants_bloom(batch, corpus) else None)
                return dedup.exact_dedup_incremental(batch, corpus,
                                                     bloom=bloom).spark
        return _screen(kind, build, n_docs // mb)
