"""Independent checks of the benchmark's outputs.

PRISM chain: recomputed with numpy from the generator's truth arrays
(pixel values, nodata holes, state and county membership), without the
engine's GeoTIFF decoder or ray cast. The stage table must match
exactly; county statistics within a relative 1e-9, since Spark and
numpy accumulate moments and interpolate percentiles in different
orders.

Registry queries: each query's ``oracle_sql`` in DuckDB over the same
parquet tables, compared with the order-insensitive comparison of
``tools/check_correctness.py``.
"""

from __future__ import annotations

import csv
import glob
import os

import numpy as np
import pyarrow.parquet as pq

import inputs

AGGS = ("min", "p5", "q1", "med", "avg", "q3", "p95", "max")
_PCT = {"p5": 5, "q1": 25, "med": 50, "q3": 75, "p95": 95}


def _close(a: float, b: float, tol: float = 1e-9) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def prism_expected(truth: dict) -> tuple[np.ndarray, dict]:
    """(stage rows sorted by day, y, x as a structured array,
    {(geoid, iso day): [8 aggregates of spi_3]})."""
    vals, hole, state = truth["values"], truth["hole"], truth["state"]
    keep = state[None, :, :] & ~hole
    d, y, x = np.nonzero(keep)
    stage = np.zeros(len(d), dtype=[("day", "i8"), ("y", "i4"), ("x", "i4"), ("value", "f8")])
    stage["day"], stage["y"], stage["x"] = d, y, x
    stage["value"] = vals[d, y, x].astype("f8")

    # trailing 3-row sum per cell over the days it has, then the z-score of
    # that sum against the cell's own mean and sample stddev
    spi = np.full(vals.shape, np.nan)
    for cy, cx in zip(*np.nonzero(state)):
        days = np.nonzero(keep[:, cy, cx])[0]
        v = vals[days, cy, cx].astype("f8")
        s = v.copy()
        s[1:] = v[:-1] + v[1:]
        s[2:] = (v[:-2] + v[1:-1]) + v[2:]
        spi[days, cy, cx] = (s - s.mean()) / s.std(ddof=1)

    stats = {}
    geoid = np.vectorize(inputs.county_geoid)(truth["county"])
    for day in range(vals.shape[0]):
        iso = inputs.day_of(truth, day).isoformat()
        for g in np.unique(geoid[keep[day]]):
            z = spi[day][keep[day] & (geoid == g)]
            stats[(g, iso)] = [
                float(z.min()) if a == "min" else
                float(z.max()) if a == "max" else
                float(z.mean()) if a == "avg" else
                float(np.percentile(z, _PCT[a]))
                for a in AGGS
            ]
    return stage, stats


def check_prism(truth: dict, stage_dir: str, csv_dir: str, prefix: str) -> list[str]:
    """Problems found in the landed stage table and county CSV (empty if
    both match)."""
    want_stage, want_stats = prism_expected(truth)
    problems = []
    t = pq.read_table(stage_dir).to_pandas()
    start = int(truth["start"][0])
    got_day = np.array([dd.toordinal() - start for dd in t["day"]])
    got = np.zeros(len(t), dtype=want_stage.dtype)
    got["day"], got["y"], got["x"], got["value"] = got_day, t["y"], t["x"], t["value"]
    got.sort(order=["day", "y", "x"])
    if len(got) != len(want_stage) or not np.array_equal(got, want_stage):
        problems.append(f"stage table differs: {len(got)} rows vs {len(want_stage)} expected")

    files = glob.glob(os.path.join(csv_dir, "*.csv"))
    rows = []
    for path in files:
        with open(path, newline="") as f:
            rows.extend(csv.DictReader(f))
    got_stats = {
        (r["zone_id"], r["day"]): [float(r[f"{prefix}_{a}"]) for a in AGGS] for r in rows
    }
    if set(got_stats) != set(want_stats):
        problems.append(
            f"county-day keys differ: {len(got_stats)} vs {len(want_stats)} expected"
        )
    else:
        bad = [k for k, v in want_stats.items() if not all(map(_close, got_stats[k], v))]
        if bad:
            problems.append(f"{len(bad)} county-days differ, first {bad[0]}: "
                            f"{got_stats[bad[0]]} vs {want_stats[bad[0]]}")
    return problems


class DuckOracle:
    def __init__(self, tables_dir: str, tmp_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 4})
        for path in glob.glob(os.path.join(tables_dir, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def check(self, name: str, sql: str, spark_pdf) -> list[str]:
        from check_correctness import compare

        ok, msgs = compare(name, spark_pdf, self.con.sql(sql).df())
        return [] if ok else msgs

    def close(self) -> None:
        self.con.close()
