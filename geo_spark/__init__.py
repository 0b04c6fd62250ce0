"""geo_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing capabilities of
the georust/geo crate (reference at /root/reference), re-expressed Spark-first:

- geometry lives in plain Spark columns (arrays of coord structs, bbox
  columns, Z-order cell ids) — never opaque Python objects;
- exact geometry kernels are vectorized numpy routines inside pandas UDFs
  (Arrow-batched; no per-row Python);
- candidate generation for spatial joins is plain DataFrame equi-joins on
  deterministic cell ids, so Catalyst handles pushdown/broadcast/AQE-skew;
- everything scales by partitioning, not by algorithmic cleverness on the
  driver.

Layout:
    kernels/    pure-numpy geometry kernels (no Spark imports) — parity
                anchored to the reference's own unit tests and doctests
    geometry/   WKT parse/format + schema helpers
    index/      Z-order (H3/S2-style) cell encoding, covers, ring expansion
    operators/  spatial joins (PIP, kNN, distance), tile agg, dedup, ANN,
                text stats — DataFrame → DataFrame
    functions/  Spark SQL Column expression builders (JVM-side fast path)
    sources/    deterministic CC-style document synthesizer, lineage writer
    streaming/  Structured Streaming: one availableNow runner, tile counts,
                dedup, sessionization, interval joins
"""

__version__ = "0.1.0"
