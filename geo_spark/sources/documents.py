"""Deterministic synthesizers for the engine's primary tables.

``synth_documents`` builds the Common-Crawl-style pages table from
BASELINE.json's ``input_hint`` — (url string, warc_ts timestamp, html binary,
text string, lang string) — entirely with JVM-side SQL expressions over
``spark.range``: no Python rows, no RNG state, fully reproducible at any
scale and any partitioning (every column is a pure function of doc id).

Embedded coordinates use integer micro-degrees rendered as ``geo:<lat>,<lon>``
markers inside ``text`` so extraction is byte-exact. The spatial distribution
is power-law per FIXTURES.md: ~25% of documents land in one hotspot covering
<1% of cells (exercises salted-skew handling); ~14% of docs carry no marker;
~9% carry two.

``synth_admin_polygons`` builds the broadcast side of the PIP join: a global
grid of square polygons (SQL-oracle-friendly) plus optional polygons with
holes and concave shapes for kernel exercise.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# multiplicative hash constants (Knuth-style); all arithmetic stays in int64
_HA = 2654435761
_HB = 2246822519

# hotspot square (a dense urban crawl): 1° x 1° near (10.5E, 50.5N)
HOTSPOT_LON_MIN = 10.0
HOTSPOT_LAT_MIN = 50.0

LANGS = ["en", "de", "nl", "fr", "es"]


def _micro(expr, modulus: int):
    """Deterministic pseudo-uniform int in [0, modulus) as a Column."""
    return F.pmod(expr, F.lit(modulus))


def synth_documents(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """The CC-style ``documents`` table at any scale, deterministic per doc_id."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n_docs, 1, partitions).withColumnRenamed("id", "doc_id")

    h1 = F.col("doc_id") * F.lit(_HA)
    h2 = F.col("doc_id") * F.lit(_HB)

    # lon/lat in micro-degrees. Hotspot docs (doc_id % 4 == 0) compress into a
    # 1°x1° square; others are uniform over the globe. Values avoid exact
    # multiples of 1e7 micro-deg so no point ever sits on a 10°-grid boundary
    # (keeps the SQL oracle's half-open floor assignment exact).
    lon_uni = _micro(h1, 360_000_000) - F.lit(180_000_000)
    lat_uni = _micro(h2, 180_000_000) - F.lit(90_000_000)
    lon_hot = F.lit(int(HOTSPOT_LON_MIN * 1_000_000)) + _micro(h1, 1_000_000)
    lat_hot = F.lit(int(HOTSPOT_LAT_MIN * 1_000_000)) + _micro(h2, 1_000_000)
    is_hot = F.pmod(F.col("doc_id"), F.lit(4)) == 0
    lon_md = F.when(is_hot, lon_hot).otherwise(lon_uni)
    lat_md = F.when(is_hot, lat_hot).otherwise(lat_uni)
    lon_md = F.when(F.pmod(lon_md, F.lit(10_000_000)) == 0, lon_md + 1).otherwise(lon_md)
    lat_md = F.when(F.pmod(lat_md, F.lit(10_000_000)) == 0, lat_md + 1).otherwise(lat_md)

    # second marker for ~9% of docs
    lon2_md = F.pmod(lon_md + F.lit(7_654_321), F.lit(360_000_000)) - F.lit(180_000_000)
    lat2_md = F.pmod(lat_md + F.lit(1_234_567), F.lit(180_000_000)) - F.lit(90_000_000)
    lon2_md = F.when(F.pmod(lon2_md, F.lit(10_000_000)) == 0, lon2_md + 1).otherwise(lon2_md)
    lat2_md = F.when(F.pmod(lat2_md, F.lit(10_000_000)) == 0, lat2_md + 1).otherwise(lat2_md)

    has_none = F.pmod(F.col("doc_id"), F.lit(7)) == 3
    has_two = (~has_none) & (F.pmod(F.col("doc_id"), F.lit(11)) == 5)

    marker1 = F.concat(F.lit(" geo:"), lat_md.cast("string"), F.lit(","), lon_md.cast("string"))
    marker2 = F.concat(F.lit(" geo:"), lat2_md.cast("string"), F.lit(","), lon2_md.cast("string"))
    markers = (
        F.when(has_none, F.lit(""))
        .when(has_two, F.concat(marker1, marker2))
        .otherwise(marker1)
    )

    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(h1 + h2, F.lit(len(LANGS))) + 1).cast("int"),
    )
    filler = F.concat(
        F.lit("Crawl snapshot body text for document "),
        F.col("doc_id").cast("string"),
        F.lit(". "),
        F.repeat(F.lit("lorem ipsum dolor sit amet "), (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int")),
    )
    text = F.concat(filler, markers, F.lit(" end."))

    return df.select(
        F.concat(
            F.lit("https://site"),
            F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"),
            F.lit(".example/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "utf-8"
        ).alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        F.col("doc_id"),
    )


def synth_admin_polygons(
    spark: SparkSession,
    grid_deg: float = 10.0,
    with_holes: bool = True,
) -> DataFrame:
    """Admin-boundary polygons: a global grid of ``grid_deg`` squares.

    Schema per FIXTURES.md §2: (polygon_id, name, exterior, interiors,
    xmin, ymin, xmax, ymax). Square cells make containment expressible in
    plain ANSI SQL for the DuckDB oracle; a minority of polygons get a
    centered square hole to exercise the hole path (holes are placed only on
    polygons whose id % 17 == 0, and the hole is 1/5 the cell size so oracle
    SQL can still express membership).
    """
    nx = int(round(360.0 / grid_deg))
    ny = int(round(180.0 / grid_deg))
    rows = []
    for iy in range(ny):
        for ix in range(nx):
            pid = iy * nx + ix
            xmin = -180.0 + ix * grid_deg
            ymin = -90.0 + iy * grid_deg
            xmax = xmin + grid_deg
            ymax = ymin + grid_deg
            exterior = [
                (xmin, ymin),
                (xmax, ymin),
                (xmax, ymax),
                (xmin, ymax),
                (xmin, ymin),
            ]
            interiors = []
            if with_holes and pid % 17 == 0:
                inset = grid_deg * 0.4
                hx0, hy0 = xmin + inset, ymin + inset
                hx1, hy1 = xmax - inset, ymax - inset
                interiors.append(
                    [(hx0, hy0), (hx0, hy1), (hx1, hy1), (hx1, hy0), (hx0, hy0)]
                )
            rows.append(
                {
                    "polygon_id": pid,
                    "name": f"cell_{ix}_{iy}",
                    "exterior": [{"x": float(x), "y": float(y)} for x, y in exterior],
                    "interiors": [
                        [{"x": float(x), "y": float(y)} for x, y in ring]
                        for ring in interiors
                    ],
                    "xmin": xmin,
                    "ymin": ymin,
                    "xmax": xmax,
                    "ymax": ymax,
                }
            )
    schema = (
        "polygon_id long, name string, "
        "exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, "
        "xmin double, ymin double, xmax double, ymax double"
    )
    return spark.createDataFrame(rows, schema=schema)


def polygons_to_numpy(poly_rows) -> dict:
    """Collected polygon rows → {polygon_id: (ext, holes, bbox)} numpy
    structures: the brute-force reference the PIP join tests compare
    against (the join itself decodes through ``geom_udf.read_polygons``)."""
    out = {}
    for r in poly_rows:
        ext = np.asarray([(c["x"], c["y"]) for c in r["exterior"]], dtype=np.float64)
        holes = [
            np.asarray([(c["x"], c["y"]) for c in ring], dtype=np.float64)
            for ring in (r["interiors"] or [])
        ]
        out[r["polygon_id"]] = (ext, holes, (r["xmin"], r["ymin"], r["xmax"], r["ymax"]))
    return out
