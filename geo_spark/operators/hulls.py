"""Distributed convex hulls per group.

``convex_hull_per_group``: ``groupBy(key).applyInPandas`` running the exact
QuickHull kernel (vertex-sequence parity with the reference,
``qhull.rs:41-193``) per group — the Spark shape for "hull of each entity".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def convex_hull_per_group(
    df: DataFrame,
    group_col: str = "group_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(group, hull array<struct<x,y>>, n_vertices) — exact per-group hull."""

    def hull_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.hull import quick_hull

        pts = pdf[[lon_col, lat_col]].to_numpy(dtype=np.float64)
        ring = quick_hull(pts)
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "hull": [[{"x": float(x), "y": float(y)} for x, y in ring]],
                "n_vertices": [max(len(ring) - 1, 0)],
            }
        )

    out_schema = (
        f"{group_col} long, hull array<struct<x:double,y:double>>, n_vertices int"
    )
    return df.groupBy(group_col).applyInPandas(hull_fn, schema=out_schema)
