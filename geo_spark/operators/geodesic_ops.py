"""Column surface for ellipsoidal geodesic measures (Karney parity).

Reference: ``Geodesic`` distance/bearing/destination
(``line_measures/metric_spaces/geodesic.rs``). The kernels (kernels/geodesic.py) solve the exact
direct/inverse problems; these wrappers run them per Arrow batch. The
inverse problem is inherently iterative per row (bracketed root-find on the
departure azimuth), so this is a pandas UDF by necessity, not a shortcut —
the haversine/rhumb columns remain pure SQL for the spherical fast path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def geodesic_meters(lon1, lat1, lon2, lat2) -> Column:
    """WGS84 geodesic distance (meters) — exact everywhere incl. antipodes."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (lon1, lat1, lon2, lat2)]

    @F.pandas_udf(T.DoubleType())
    def udf(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
        from geo_spark.kernels.geodesic import geodesic_inverse_batch

        s12, _, _ = geodesic_inverse_batch(
            b.to_numpy(), a.to_numpy(), d.to_numpy(), c.to_numpy()
        )
        return pd.Series(s12)

    return udf(*cols)


def geodesic_bearing_deg(lon1, lat1, lon2, lat2) -> Column:
    """Initial geodesic azimuth, normalized to [0, 360) like the reference."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (lon1, lat1, lon2, lat2)]

    @F.pandas_udf(T.DoubleType())
    def udf(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
        from geo_spark.kernels.geodesic import geodesic_inverse_batch

        _, azi1, _ = geodesic_inverse_batch(
            b.to_numpy(), a.to_numpy(), d.to_numpy(), c.to_numpy()
        )
        return pd.Series((azi1 + 360.0) % 360.0)

    return udf(*cols)


def geodesic_destination(lon, lat, bearing_deg, dist_m) -> Column:
    """struct(lon, lat) after travelling dist_m on the geodesic."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (lon, lat, bearing_deg, dist_m)]

    @F.pandas_udf("struct<lon:double,lat:double>")
    def udf(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.DataFrame:
        from geo_spark.kernels.geodesic import geodesic_direct_batch

        lat2, lon2, _ = geodesic_direct_batch(
            b.to_numpy(), a.to_numpy(), c.to_numpy(), d.to_numpy()
        )
        return pd.DataFrame({"lon": lon2, "lat": lat2})

    return udf(*cols)
