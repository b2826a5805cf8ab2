"""Seeded benchmark inputs: a TPC-H-shaped lineitem table and a PRISM-shaped
raster stack with TIGER-shaped state and county shapefiles.

Every file is a pure function of ``(seed, GEN_VERSION, scale)``. Inputs
are cached under ``<work>/inputs/`` by that key, written to a temporary
directory and renamed into place once complete, and only the most recent
few are kept. Bump ``GEN_VERSION`` whenever a generator changes.

The PRISM truth (pixel values, nodata holes, state and county
membership) is saved next to the rasters as ``truth.npz``; the oracle
recomputes the pipeline from it, never from the engine's decoder or
point-in-polygon code. Polygon vertices sit on half-integer coordinates
and every edge is axis-parallel, so no integer pixel centre lies on an
edge and membership is exact.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import formats

GEN_VERSION = 4
KEEP_CACHED = 4

# -- PRISM stack geometry ----------------------------------------------------
H, W = 64, 96
DAYS = 40
NODATA = -9999.0
STATE_BAND = 8  # state outline steps every 8 columns
COUNTY_COLS, COUNTY_ROWS = 8, 3
HOLE = 6  # one HOLE x HOLE nodata patch per day
GEOMETRY_SEED = 20
START = dt.date(2019, 12, 12)  # the stack crosses into 2020
# (layout, block) x compression; each day takes one combination
_LAYOUTS = [("strip", 1), ("strip", 16), ("tile", 16), ("tile", 32)]
_COMPRESSIONS = [formats.COMP_NONE, formats.COMP_DEFLATE, formats.COMP_LZW]


def cached(work: str, kind: str, seed: int, make, **params) -> str:
    """Directory holding ``make(dir, seed, **params)``'s output, built once
    per key; older cache entries beyond ``KEEP_CACHED`` are removed."""
    root = os.path.join(work, "inputs")
    tag = "".join(f"-{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(root, f"{kind}-g{GEN_VERSION}-s{seed}{tag}")
    if not os.path.exists(os.path.join(path, "DONE")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        make(tmp, seed, **params)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return path


# -- tables --------------------------------------------------------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH = np.datetime64("1995-01-01", "D")


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def orders(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    """TPC-H-shaped orders at scale factor ``sf`` (1.5M rows per unit)."""
    n_orders = int(1_500_000 * sf)
    order_day = rng.integers(0, 2405, n_orders)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="i8"),
            "o_custkey": rng.integers(0, int(150_000 * sf), n_orders),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": (_EPOCH + order_day).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )


def make_tables(out: str, seed: int, sf: float) -> pd.DataFrame:
    """lineitem at scale factor ``sf`` (~6M lines per unit), the only table
    the workload's items read. Returns the orders its lines belong to,
    which ``profile_membership.py`` writes for the candidates that need
    them."""
    rng = np.random.default_rng([seed, 1])
    o = orders(rng, sf)
    n_orders = len(o)
    n_parts = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 10)

    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(o["o_orderkey"].to_numpy(), per_order)
    n_lines = len(okey)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(n_lines) - np.repeat(starts, per_order) + 1
    partkey = rng.integers(0, n_parts, n_lines)
    qty = rng.integers(1, 51, n_lines).astype("f8")
    price = 900.0 + (partkey % 1000) / 10.0
    order_day = o["o_orderdate"].to_numpy().astype("datetime64[D]")
    write_parquet(
        pd.DataFrame(
            {
                "l_orderkey": okey,
                "l_partkey": partkey,
                "l_suppkey": rng.integers(0, n_supp, n_lines),
                "l_linenumber": linenumber.astype("i4"),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * price * rng.uniform(0.95, 1.05, n_lines), 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": rng.choice(["R", "A", "N"], n_lines),
                "l_linestatus": rng.choice(["O", "F"], n_lines),
                "l_shipdate": (
                    np.repeat(order_day, per_order) + rng.integers(1, 122, n_lines)
                ).astype("datetime64[us]"),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    return o


# -- PRISM stack -----------------------------------------------------------------
def _rect(x0: float, y0: float, x1: float, y1: float) -> list[tuple[float, float]]:
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def prism_truth(seed: int, scale: int = 1) -> dict[str, np.ndarray]:
    """Pixel values, nodata mask, state mask and county index per pixel.

    The seed draws the pixel values and where the nodata holes fall. The
    boundaries, the dates and the hole count and size are fixed, as they
    are for a real state's stack: they decide the row count and how Spark
    partitions the cells, and a seed must not change how much work a pass
    does or how parallel it runs. ``scale`` (a square, 1, 4, 9, ...)
    multiplies the pixels per day: each pixel of the base grid becomes a
    ``k x k`` block of pixels, ``k = sqrt(scale)``, with the same outlines."""
    k = int(round(scale**0.5))
    assert k * k == scale, "scale must be a square"
    h, w = H * k, W * k
    rng = np.random.default_rng([seed, 2])
    values = np.round(rng.gamma(2.0, 3.0, (DAYS, h, w)), 2).astype("f4")
    hole = np.zeros((DAYS, h, w), dtype=bool)
    for d in range(DAYS):
        y, x = int(rng.integers(0, H - HOLE)) * k, int(rng.integers(0, W - HOLE)) * k
        hole[d, y : y + HOLE * k, x : x + HOLE * k] = True
    geo = np.random.default_rng(GEOMETRY_SEED)
    n_bands = W // STATE_BAND
    lo = geo.integers(2, 12, n_bands)  # state covers rows lo..hi-1 of a band
    hi = geo.integers(51, 63, n_bands)
    ys, xs = np.mgrid[0:H, 0:W]
    band = xs // STATE_BAND
    state = (band >= 1) & (band <= n_bands - 2) & (ys >= lo[band]) & (ys < hi[band])
    cw = W // COUNTY_COLS
    cuts = np.stack(
        [geo.integers(15, 26, COUNTY_COLS), geo.integers(38, 49, COUNTY_COLS)], axis=1
    )
    col = xs // cw
    row = (ys >= cuts[col, 0]).astype(int) + (ys >= cuts[col, 1])
    county = col * COUNTY_ROWS + row
    return {
        "values": values,
        "hole": hole,
        "state": state.repeat(k, 0).repeat(k, 1),
        "county": county.repeat(k, 0).repeat(k, 1),
        "lo": lo,
        "hi": hi,
        "cuts": cuts,
        "k": np.array([k]),
        "start": np.array([START.toordinal()]),
    }


def county_geoid(county: int) -> str:
    # the first and last county share one two-part record (an island county)
    return "26001" if county == COUNTY_COLS * COUNTY_ROWS - 1 else f"26{county + 1:03d}"


def day_of(truth: dict, d: int) -> dt.date:
    return dt.date.fromordinal(int(truth["start"][0]) + d)


def make_prism(out: str, seed: int, scale: int = 1) -> None:
    t = prism_truth(seed, scale)
    k = int(t["k"][0])

    def rect(x0: float, y0: float, x1: float, y1: float) -> list[tuple[float, float]]:
        """An outline given on the base grid, on the ``k``-fold grid."""
        return _rect(*(k * (v + 0.5) - 0.5 for v in (x0, y0, x1, y1)))

    rasters = os.path.join(out, "rasters")
    os.makedirs(rasters)
    # a fixed layout/codec schedule: the seed changes pixel values and holes,
    # never how much decoding a run does
    combos = [(lay, c) for lay in _LAYOUTS for c in _COMPRESSIONS]
    for d in range(DAYS):
        (layout, block), comp = combos[d % len(combos)]
        arr = np.where(t["hole"][d], np.float32(NODATA), t["values"][d])
        name = f"prism_ppt_us_30s_{day_of(t, d):%Y%m%d}.tif"
        formats.write_geotiff(
            os.path.join(rasters, name),
            arr,
            NODATA,
            compression=comp,
            rows_per_strip=block if layout == "strip" else None,
            tile=block if layout == "tile" else None,
        )

    # states: MI as a staircase over bands 1..n-2, WI and OH beside it
    n_bands = W // STATE_BAND
    bands = range(1, n_bands - 1)
    mi = [
        (k * x - 0.5, k * t["lo"][b] - 0.5)
        for b in bands
        for x in (b * STATE_BAND, (b + 1) * STATE_BAND)
    ] + [
        (k * x - 0.5, k * t["hi"][b] - 0.5)
        for b in reversed(bands)
        for x in ((b + 1) * STATE_BAND, b * STATE_BAND)
    ]
    formats.write_shapefile(
        os.path.join(out, "tl_state"),
        [
            [rect(-0.5, -0.5, STATE_BAND - 0.5, H - 0.5)],
            [mi],
            [rect(W - STATE_BAND - 0.5, -0.5, W - 0.5, H - 0.5)],
        ],
        [("STATEFP", "C", 2), ("STUSPS", "C", 2), ("NAME", "C", 16)],
        [
            {"STATEFP": "55", "STUSPS": "WI", "NAME": "Wisconsin"},
            {"STATEFP": "26", "STUSPS": "MI", "NAME": "Michigan"},
            {"STATEFP": "39", "STUSPS": "OH", "NAME": "Ohio"},
        ],
    )

    cw = W // COUNTY_COLS
    rects = []
    for c in range(COUNTY_COLS):
        edges = [0, *t["cuts"][c], H]
        for r in range(COUNTY_ROWS):
            rects.append(rect(c * cw - 0.5, edges[r] - 0.5, (c + 1) * cw - 0.5, edges[r + 1] - 0.5))
    records = [[rects[0], rects[-1]]] + [[r] for r in rects[1:-1]]
    rows = [
        {
            "STATEFP": "26",
            "COUNTYFP": county_geoid(i)[2:],
            "GEOID": county_geoid(i),
            "NAME": f"County {i + 1}",
        }
        for i in range(len(records))
    ]
    formats.write_shapefile(
        os.path.join(out, "tl_county"),
        records,
        [("STATEFP", "C", 2), ("COUNTYFP", "C", 3), ("GEOID", "C", 5), ("NAME", "C", 24)],
        rows,
    )
    np.savez(os.path.join(out, "truth.npz"), **t)
