"""Small-side routing: one budget table and one fetch for every operator
that keeps a small side on the driver.

An operator with a driver-local fast path (Voronoi sites, polygonize
linework, DBSCAN witness edges) asks ``fetch_if_small`` for the rows. One
job fetches at most budget+1 rows: fewer means the driver route with the
rows already in hand, more means the distributed route (the fetched rows
are discarded). Counts an operator has already taken are checked against
the same table with ``fits`` — the PIP join, which fetches every polygon
for its broadcast refine anyway, routes its cover build that way.

A budget of 0 turns the driver route off (no job runs); tests use that to
run each distributed route on small inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# rows (or, for the count-only routes, items) each driver route accepts
BUDGETS: dict[str, int] = {
    "pip_join.polygons": 20_000,
    "voronoi.sites": 2_000,
    "polygonize.segments": 20_000,
    "polygonize.half_edges": 200_000,
    "dbscan.edges": 100_000,
}


def fits(n: int, route: str) -> bool:
    """Whether a count already in hand fits the route's budget."""
    budget = BUDGETS[route]
    return budget > 0 and n <= budget


def fetch_if_small(df: DataFrame, route: str) -> list | None:
    """All of ``df``'s rows when they fit the route's budget, else None."""
    budget = BUDGETS[route]
    if budget <= 0:
        return None
    rows = df.take(budget + 1)
    return rows if len(rows) <= budget else None
