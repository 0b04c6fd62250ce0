"""Seeded input generators.

Every input the benchmark hands to geo_spark is made here from the run's
seed with numpy and written to parquet with pyarrow. Nothing in this module
imports geo_spark, so the generated files and the values the checkers derive
from them are independent of the engine under test.

Coordinates are drawn in integer micro-degrees (as the CC-style
``geo:<lat>,<lon>`` markers carry them) with the FIXTURES.md section 1 mix:
25% of points in a 1 x 1 degree hotspot, 14% of documents without a marker
and 9% with two.
"""

from __future__ import annotations

import math
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MICRO = 1_000_000
HOT_LON_MD = 10 * MICRO  # hotspot square [10E, 11E) x [50N, 51N)
HOT_LAT_MD = 50 * MICRO
HOT_SHARE = 0.25
NO_MARKER_SHARE = 0.14
TWO_MARKER_SHARE = 0.09
GRID_DEG = 10
HOLE_INSET_DEG = 4  # a holed grid square has the hole [x0+4, x0+6] x [y0+4, y0+6]
HOLE_SHARE = 1 / 17
T0 = 1_700_000_000  # warc_ts of document 0, epoch seconds
LANGS = np.array(["en", "de", "nl", "fr", "es"])

POINT_SCHEMA = pa.schema([("pid", pa.int64()), ("lon", pa.float64()), ("lat", pa.float64())])
RING = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))
POLYGON_SCHEMA = pa.schema(
    [
        ("polygon_id", pa.int64()),
        ("name", pa.string()),
        ("exterior", RING),
        ("interiors", pa.list_(RING)),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
    ]
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input) so inputs do not shift
    when another input's size changes."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def coords_md(rng: np.random.Generator, n: int, hot: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) in micro-degrees; ``hot`` marks the points in the hotspot
    (by default each point is, with probability 25%).

    Values on a grid-square edge or a hole edge are nudged by one
    micro-degree, so the grid join's expected answer never depends on the
    boundary rule (that rule has its own tests)."""
    if hot is None:
        hot = rng.random(n) < HOT_SHARE
    lon = np.where(
        hot,
        HOT_LON_MD + rng.integers(0, MICRO, n),
        rng.integers(-180 * MICRO, 180 * MICRO, n),
    )
    lat = np.where(
        hot,
        HOT_LAT_MD + rng.integers(0, MICRO, n),
        rng.integers(-90 * MICRO, 90 * MICRO, n),
    )
    for v in (lon, lat):
        r = v % (GRID_DEG * MICRO)
        edge = (r == 0) | (r == HOLE_INSET_DEG * MICRO) | (r == (GRID_DEG - HOLE_INSET_DEG) * MICRO)
        v[edge] += 1
    return lon.astype(np.int64), lat.astype(np.int64)


def documents(seed: int, n: int, first_id: int = 0, stream: str = "docs") -> pa.Table:
    """CC-style documents (url, warc_ts, html, text, lang, doc_id).

    Document ``i`` has ``warc_ts = T0 + 2 i`` seconds, so event time grows
    with the id and 1,800 documents span one hour."""
    rng = rng_for(seed, stream)
    lon1, lat1 = coords_md(rng, n)
    lon2, lat2 = coords_md(rng, n)
    u = rng.random(n)
    n_markers = np.where(u < NO_MARKER_SHARE, 0, np.where(u < NO_MARKER_SHARE + TWO_MARKER_SHARE, 2, 1))
    filler_reps = rng.integers(1, 6, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    texts = []
    for i in range(n):
        m = ""
        if n_markers[i] >= 1:
            m = f" geo:{lat1[i]},{lon1[i]}"
        if n_markers[i] == 2:
            m += f" geo:{lat2[i]},{lon2[i]}"
        texts.append(
            f"Crawl snapshot body text for document {ids[i]}. "
            + "lorem ipsum dolor sit amet " * int(filler_reps[i])
            + m
            + " end."
        )
    return pa.table(
        {
            "url": [f"https://site{d % 1000}.example/s{seed}/page/{d}" for d in ids.tolist()],
            "warc_ts": pa.array((T0 + 2 * ids) * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)].tolist(),
            "doc_id": ids,
        }
    )


def _ring(xs, ys) -> list[dict]:
    return [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)]


def grid_polygons(seed: int) -> tuple[pa.Table, np.ndarray]:
    """The 648-square 10-degree admin grid; a seeded ~1/17 of the squares get
    a centred 2 x 2 degree hole (clockwise). Returns (table, holed flags)."""
    rng = rng_for(seed, "grid")
    nx, ny = 360 // GRID_DEG, 180 // GRID_DEG
    holed = rng.random(nx * ny) < HOLE_SHARE
    rows = []
    for pid in range(nx * ny):
        iy, ix = divmod(pid, nx)
        x0, y0 = -180.0 + ix * GRID_DEG, -90.0 + iy * GRID_DEG
        x1, y1 = x0 + GRID_DEG, y0 + GRID_DEG
        holes = []
        if holed[pid]:
            a, b = HOLE_INSET_DEG, GRID_DEG - HOLE_INSET_DEG
            holes.append(_ring([x0 + a, x0 + a, x0 + b, x0 + b, x0 + a], [y0 + a, y0 + b, y0 + b, y0 + a, y0 + a]))
        rows.append(
            {
                "polygon_id": pid,
                "name": f"cell_{ix}_{iy}",
                "exterior": _ring([x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0]),
                "interiors": holes,
                "xmin": x0,
                "ymin": y0,
                "xmax": x1,
                "ymax": y1,
            }
        )
    return pa.Table.from_pylist(rows, schema=POLYGON_SCHEMA), holed


def points(seed: int, n: int, stream: str, block: int | None = None) -> pa.Table:
    """(pid, lon, lat) points in degrees with the 25% hotspot. With
    ``block``, every run of ``block`` consecutive points has exactly 25% of
    them in the hotspot, so equal-sized samples cost the same work."""
    rng = rng_for(seed, stream)
    hot = None
    if block:
        one = np.arange(block) < round(HOT_SHARE * block)
        hot = np.concatenate([rng.permutation(one) for _ in range(-(-n // block))])[:n]
    lon_md, lat_md = coords_md(rng, n, hot)
    return pa.table(
        {"pid": np.arange(n, dtype=np.int64), "lon": lon_md / MICRO, "lat": lat_md / MICRO},
        schema=POINT_SCHEMA,
    )


def write(table: pa.Table, path: str, files: int = 1) -> str:
    """Write ``table`` as a directory of ``files`` parquet files, so Spark
    reads it with one task per file."""
    os.makedirs(path, exist_ok=True)
    step = max(1, math.ceil(table.num_rows / files))
    for k, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{k:05d}.parquet"))
    return path
