"""Ad-hoc measurement harness (guide §1) — NOT the graded bench.

Usage:
  python bench_extra.py q <name> [<name>...]   # min-of-3 per query after warmup
  python bench_extra.py flagship               # flagship stage breakdown
  python bench_extra.py explain <name> [out]   # .explain('formatted') to stdout/file,
                                               # expression and plan ids blanked so
                                               # two checkouts' plans diff cleanly

Session from get_spark, sized to the host like every other entry point
(local[$SPARK_GRAFT_CPUS or the host's CPU count], shuffle=max(cpus,8)).
Timing methodology mirrors bench.py: noop sink, one warmup, min of 3.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark():
    from geo_spark.session import get_spark

    return get_spark(app_name="geo_spark_bench_extra")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def time_queries(names, runs=3):
    import __spark_entry__ as e

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    qs = e.queries()
    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        try:
            _noop(fn(spark, sf_dir))
        except Exception as ex:
            print(f"WARMUP FAIL {name}: {ex}", file=sys.stderr)
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.time()
            _noop(fn(spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    return out


def explain_query(name, out_path=None):
    import __spark_entry__ as e

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    df = e.queries()[name](spark, sf_dir)
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    txt = re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", txt))
    if out_path:
        with open(out_path, "w") as f:
            f.write(txt)
        print(f"wrote {out_path}")
    else:
        print(txt)
    spark.stop()


def flagship_breakdown():
    from pyspark.sql import functions as F

    from geo_spark.operators.extract import extract_points
    from geo_spark.operators.pip_join import pip_join_points_polygons
    from geo_spark.sources.documents import synth_admin_polygons, synth_documents

    n_docs = int(os.environ.get("BENCH_N_DOCS", "2000000"))
    spark = _spark()
    docs_path = os.environ.get(
        "BENCH_DOCS_PATH", f"/tmp/geo_spark_bench/docs_{n_docs}.parquet"
    )
    if not os.path.isdir(docs_path):
        synth_documents(spark, n_docs).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)

    def t(label, builder, runs=3):
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{label}#{i}")
            t0 = time.time()
            _noop(builder())
            samples.append(round(time.time() - t0, 3))
        print(json.dumps({label: {"min": min(samples), "samples": samples}}), flush=True)

    t("scan_only", lambda: docs.select("text"))
    t("extract", lambda: extract_points(docs))

    def joined():
        pts = extract_points(docs)
        polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=True)
        return pip_join_points_polygons(pts, polys, predicate="contains")

    t("extract_join_refine", joined)

    def full():
        agg = joined().groupBy("polygon_id").agg(F.count("*").alias("n"))
        return agg

    t("full_agg", full)

    def full_collect():
        t0 = time.time()
        agg = joined().groupBy("polygon_id").agg(F.count("*").alias("n"))
        n = int(agg.agg(F.sum("n")).collect()[0][0])
        return time.time() - t0, n

    samples = []
    for i in range(3):
        spark.sparkContext.setJobDescription(f"flagship_exact#{i}")
        dt, n = full_collect()
        samples.append(round(dt, 3))
    print(json.dumps({"flagship_exact": {"min": min(samples), "samples": samples, "n": n}}), flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "q"
    if mode == "q":
        time_queries(sys.argv[2:])
    elif mode == "flagship":
        flagship_breakdown()
    elif mode == "explain":
        explain_query(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    else:
        raise SystemExit(f"unknown mode {mode}")
