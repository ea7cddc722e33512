"""Output checks and the DuckDB yardstick.

Relational and ``datapipe`` results are compared with the DuckDB oracle
SQL of ``__spark_entry__.oracle_sql()``, canonicalized by
``tools/check_oracle.normalize``.  Ingest screens use the oracle SQL of
the entry query with the same operator, with its fixed batch split
replaced by the request's seeded split.  Grid statistics are recomputed
with numpy from the parquet file.
"""

from __future__ import annotations

import sys
import time

import numpy as np

from workloads import ANALYTICS_QUERIES, CURATION_QUERIES, NUMERIC, PLAN_MARKERS

# Oracles too slow for a run at sf0.1 (4 DuckDB threads: q35 2.5 s, q36
# 2.4 s, q45 7.6 s; the fuzzy screen's all-pairs Jaccard, minutes); these
# request types run again on the sf0.01 tables and are checked there.
SMALL_CHECK = {"q35_minhash_near_dups", "q36_simhash_near_dups",
               "q45_dedup_clusters", "screen.fuzzy"}


def load_normalize(root: str):
    """``tools/check_oracle.normalize``, imported from the checkout.  The
    module edits ``sys.path`` on import; undo that so imports keep
    resolving to the checkout under test."""
    saved = list(sys.path)
    sys.path.insert(0, root)
    try:
        from tools.check_oracle import normalize
    finally:
        sys.path[:] = saved
    return normalize


class Mismatch(Exception):
    pass


def _sub(sql: str, pairs: list[tuple[str, str]]) -> str:
    for old, new in pairs:
        if old not in sql:
            raise Mismatch(f"oracle SQL no longer contains {old!r}")
        sql = sql.replace(old, new)
    return sql


def oracle_sql(oracles: dict, kind: str, p: dict) -> str | None:
    """DuckDB SQL whose result the request ``(kind, p)`` must equal."""
    if kind in ANALYTICS_QUERIES or kind in CURATION_QUERIES:
        return oracles[kind]
    if not kind.startswith("screen."):
        return None
    m, r = p["m"], p["r"]
    mb = m * p.get("b_count", 1)
    rb = r + m * p.get("b", 0)
    if kind == "screen.winnow":
        return _sub(oracles["q98_winnow_against_corpus"],
                    [("doc_id % 3 <> 0", f"doc_id % {m} <> {r}"),
                     ("doc_id % 3 = 0", f"doc_id % {mb} = {rb}")])
    if kind == "screen.vector":
        return _sub(oracles["q100_embedding_against_corpus"],
                    [("b.vec_id % 5 = 0", f"b.vec_id % {mb} = {rb}"),
                     ("a.vec_id % 5 <> 0", f"a.vec_id % {m} <> {r}")])
    if kind == "screen.ivf":
        ids = ", ".join(str(i) for i in p["queries"])
        return _sub(oracles["q101_ivf_indexed_topk"],
                    [("q.vec_id < 3", f"q.vec_id IN ({ids})")])
    if kind == "screen.fuzzy":
        return _sub(oracles["q61_fuzzy_incremental_dedup"],
                    [("b.doc_id % 2 = 1", f"b.doc_id % {mb} = {rb}"),
                     ("c.doc_id % 2 = 0", f"c.doc_id % {m} <> {r}"),
                     ("d.doc_id % 2 = 1", f"d.doc_id % {mb} = {rb}")])
    return _sub(oracles["q77_bloom_incremental_dedup"],  # screen.bloom
                [("doc_id % 3 != 0", f"doc_id % {m} <> {r}"),
                 ("doc_id % 3 = 0", f"doc_id % {mb} = {rb}")])


class DuckOracle:
    """DuckDB over one table directory, threads capped at ``threads``."""

    def __init__(self, sf_dir: str, tables, threads: int, work_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute(f"SET temp_directory='{work_dir}/duckdb-tmp'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def run(self, sql: str):
        """(result frame, seconds it took)."""
        t0 = time.perf_counter()
        df = self.con.execute(sql).df()
        return df, time.perf_counter() - t0

    def close(self) -> None:
        self.con.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def check_plan(kind: str, plans: list[str]) -> None:
    """The plans the timed fetch of a request executed keep its operator
    under test."""
    marker = PLAN_MARKERS[kind]
    if not plans:
        raise Mismatch(f"{kind}: no executed plan of the fetch found")
    if not any(marker in plan for plan in plans):
        raise Mismatch(f"{kind}: the fetched plan lost {marker!r}")


def arrow_to_pandas(table):
    """Arrow result as the pandas frame ``toPandas()`` would give: Spark's
    Arrow timestamps carry the session time zone (UTC), DuckDB's are naive."""
    import pyarrow as pa
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    return table.to_pandas()


def compare_frames(normalize, got, want, what: str) -> None:
    got = arrow_to_pandas(got)
    if len(got) != len(want):
        raise Mismatch(f"{what}: {len(got)} rows, oracle {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        raise Mismatch(f"{what}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
    if not normalize(got).equals(normalize(want)):
        raise Mismatch(f"{what}: values differ from the oracle")


# ---------------------------------------------------------------------------
# grid statistics, recomputed with numpy
# ---------------------------------------------------------------------------
def _bins(x: np.ndarray, lo: float, hi: float, shape: int) -> np.ndarray:
    """Bin index as vaex_spark computes it (top edge inclusive); -1 outside."""
    idx = np.floor((x - lo) / (hi - lo) * shape)
    idx = np.where(x == hi, shape - 1, idx)
    return np.where((idx >= 0) & (idx < shape), idx, -1).astype(np.int64)


def expected_grid(kind: str, p: dict, cols: dict):
    if kind == "grid.count2d":
        (lx, hx), (ly, hy) = p["limits"]
        bx = _bins(cols[p["x"]], lx, hx, p["shape"])
        by = _bins(cols[p["y"]], ly, hy, p["shape"])
        ok = (bx >= 0) & (by >= 0)
        out = np.zeros((p["shape"], p["shape"]))
        np.add.at(out, (bx[ok], by[ok]), 1)
        return out
    if kind == "grid.mean1d":
        lo, hi = p["limits"]
        b = _bins(cols[p["x"]], lo, hi, p["shape"])
        ok = b >= 0
        n = np.bincount(b[ok], minlength=p["shape"])
        s = np.bincount(b[ok], weights=cols[p["v"]][ok], minlength=p["shape"])
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.where(n > 0, s / np.maximum(n, 1), np.nan)
    out = []
    v = cols[p["v"]]
    for c, lo, hi in p["selections"]:
        sel = v[(cols[c] >= lo) & (cols[c] <= hi)]
        out += [len(sel), sel.sum(), sel.mean(), sel.min(), sel.max()]
    return out


def compare_grid(kind: str, got, want) -> None:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        raise Mismatch(f"{kind}: shape {got.shape} vs {want.shape}")
    if kind == "grid.mean1d":
        # empty bins: NaN in numpy; the library may fill them — compare the rest
        keep = ~np.isnan(want)
        got, want = got[keep], want[keep]
    if not np.allclose(got, want, rtol=1e-9, atol=1e-9, equal_nan=True):
        raise Mismatch(f"{kind}: values differ from numpy")


def lineitem_columns(sf_dir: str) -> dict:
    import pyarrow.parquet as pq
    t = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=sorted(NUMERIC))
    return {c: t.column(c).to_numpy() for c in NUMERIC}
