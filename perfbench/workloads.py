"""The workloads: inputs, one closed-loop iteration, output checks,
per-layer readings and the probes that run outside Spark.

Each iteration is timed by the runner from its first geo_spark call to the
collected (or sunk) result. Expected answers come from ``check`` and are
computed after the timed loop, so they cost neither set-up nor iteration
time.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import check
import gen
from stats import median
from tracing import SparkStatus, Tracer, dir_bytes, node_sum


def _timed(fn, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls of ``fn``."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return median(times)


def _numpy_polys(rows) -> list[tuple]:
    return [
        (
            np.asarray([(c["x"], c["y"]) for c in r["exterior"]], dtype=np.float64),
            [np.asarray([(c["x"], c["y"]) for c in h], dtype=np.float64) for h in r["interiors"] or []],
        )
        for r in rows
    ]


class Workload:
    name = ""
    rows_unit = ""  # what ``rows_per_s`` counts on this workload

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, status: SparkStatus):
        self.spark, self.seed = spark, seed
        self.root = self.work = work
        self.tr, self.status = tracer, status
        self.outputs: dict[int, object] = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, r: int) -> None:
        """Set-up ``r``: write the seed's inputs into a directory of its own.
        Every set-up writes the same inputs, so one answer checks all of
        them; the new paths keep Spark from reusing anything of an earlier
        set-up."""
        self.work = os.path.join(self.root, f"setup{r}")
        self.make_inputs()

    def make_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed preparation of iteration ``i``'s input."""

    def iterate(self, i: int) -> int:
        """Run iteration ``i``; keep its output in ``self.outputs[i]`` and
        return the rows it counts towards ``rows_per_s``."""
        raise NotImplementedError

    def after(self, i: int) -> None:
        """Untimed bookkeeping once iteration ``i`` has returned."""

    def job_groups(self, i: int) -> list[str]:
        """Job groups of iteration ``i`` set by Spark rather than by a span."""
        return []

    def check(self) -> dict[int, list[str]]:
        """Problems per iteration (an empty list means correct)."""
        raise NotImplementedError

    def layers(self, i: int, nodes) -> dict:
        """Workload-specific per-layer readings of traced iteration ``i``."""
        return {}

    def probes(self) -> dict:
        """Per-layer readings taken outside the timed loop."""
        return {}


class PipFlagship(Workload):
    """Documents -> extract_points -> PIP join against the 10-degree grid."""

    name = "pip_flagship"
    rows_unit = "joined points"
    N_DOCS = 100_000

    def make_inputs(self) -> None:
        self.docs_dir = gen.write(gen.documents(self.seed, self.N_DOCS), self.path("docs"), files=8)
        grid, _ = gen.grid_polygons(self.seed)
        self.polys_dir = gen.write(grid, self.path("grid"))

    def _polygons(self):
        return self.spark.read.parquet(self.polys_dir)

    def points(self):
        from geo_spark.operators.extract import extract_points

        with self.tr.span("extract_points"):
            return extract_points(self.spark.read.parquet(self.docs_dir))

    def iterate(self, i: int) -> int:
        from geo_spark.operators.pip_join import pip_join_points_polygons

        points = self.points()
        with self.tr.span("pip_join"):
            joined = pip_join_points_polygons(points, self._polygons(), predicate="contains")
        with self.tr.span("collect"):
            rows = joined.groupBy("polygon_id").count().collect()
        counts = {int(r["polygon_id"]): int(r["count"]) for r in rows}
        self.outputs[i] = counts
        return sum(counts.values())

    def check(self) -> dict[int, list[str]]:
        want = check.grid_counts(self.docs_dir + "/*.parquet", self.polys_dir + "/*.parquet")
        return {i: check.compare_counts(got, want) for i, got in self.outputs.items()}

    def layers(self, i: int, nodes) -> dict:
        call = self.tr.find("pip_join", i)[0]
        candidates = node_sum(nodes, "ArrowEvalPython", "number of output rows")
        matches = sum(self.outputs[i].values())
        return {
            "extract.points_out": node_sum(nodes, "Generate", "number of output rows"),
            "pip_join.call_s": call.end - call.start,
            "pip_join.call_jobs": len(self.status.job_ids([call.group])),
            "pip_join.candidates": candidates,
            "pip_join.matches": matches,
            "pip_join.match_ratio": matches / candidates if candidates else 0.0,
            "pip_join.broadcast_bytes": node_sum(nodes, "BroadcastExchange", "data size"),
            "pip_join.broadcast_collect_ms": node_sum(nodes, "BroadcastExchange", "time to collect"),
        }

    def probes(self) -> dict:
        from pyspark.sql import functions as F

        from geo_spark.index.cells import cell_encode, cover_polygons
        from geo_spark.kernels.predicates import polygon_position
        from geo_spark.operators.extract import extract_points
        from geo_spark.operators.pip_join import choose_res, pip_join_points_polygons

        docs = self.spark.read.parquet(self.docs_dir)
        with self.tr.span("probe.extract"):
            scan = _timed(lambda: docs.agg(F.sum(F.length("text"))).collect())
            both = _timed(lambda: extract_points(docs).agg(F.count("*"), F.sum("lat")).collect())
        rows = pq.read_table(self.polys_dir).to_pylist()
        polys = _numpy_polys(rows)
        res = choose_res(rows)
        with self.tr.span("probe.cover_polygons"):
            cells, pidx, full = cover_polygons(polys, res)
            cover_s = _timed(lambda: cover_polygons(polys, res))
        out = {
            "extract.s": both - scan,
            "index.cover_s": cover_s,
            "index.cover_cells": len(cells),
            "index.full_cell_share": float(full.mean()) if len(full) else 0.0,
        }
        # the batch the refine UDF receives: every bbox candidate whose cell
        # is not fully inside its polygon
        with self.tr.span("probe.capture_candidates"):
            cand = (
                pip_join_points_polygons(self.points(), self._polygons(), predicate="position")
                .select("polygon_id", "lon", "lat")
                .toPandas()
            )
        ids = np.asarray([r["polygon_id"] for r in rows], dtype=np.int64)
        full_keys = set(zip(cells[full].tolist(), ids[pidx[full]].tolist()))
        ccell = cell_encode(cand["lon"].to_numpy(), cand["lat"].to_numpy(), res)
        partial = np.fromiter(
            ((c, p) not in full_keys for c, p in zip(ccell.tolist(), cand["polygon_id"].tolist())),
            dtype=bool,
            count=len(cand),
        )
        pid = cand["polygon_id"].to_numpy()[partial]
        lon, lat = cand["lon"].to_numpy()[partial], cand["lat"].to_numpy()[partial]
        by_id = dict(zip(ids.tolist(), polys))

        def kernel():
            for p in np.unique(pid):
                m = pid == p
                ext, holes = by_id[int(p)]
                polygon_position(lon[m], lat[m], ext, holes)

        with self.tr.span("probe.polygon_position"):
            t = _timed(kernel)
        out["kernels.polygon_position_s"] = t
        out["kernels.pts_per_s"] = len(pid) / t if t > 0 else 0.0
        return out


class Proximity(Workload):
    """kNN join then a within-distance join, on a fresh query set each time."""

    name = "proximity"
    rows_unit = "kNN queries"
    N_TARGETS = 100_000
    N_QUERIES = 100  # per iteration
    N_LEFT = 100  # distance-join left sample per iteration
    K = 3
    MAX_DIST_M = 5_000.0

    def __init__(self, *args):
        super().__init__(*args)
        self.queries: dict[int, object] = {}
        self.left: dict[int, object] = {}
        self.seen: set[bytes] = set()  # every point set drawn so far

    def make_inputs(self) -> None:
        self.targets_dir = gen.write(gen.points(self.seed, self.N_TARGETS, "targets"), self.path("targets"), files=4)

    def prepare(self, i: int) -> None:
        # Iteration i's own query set and left sample, each with exactly
        # the hot share, so every iteration does the same work and none can
        # be served from a plan Spark cached for an earlier one.
        q = gen.points(self.seed, self.N_QUERIES, f"queries{i}", block=self.N_QUERIES)
        left = gen.points(self.seed, self.N_LEFT, f"left{i}", block=self.N_LEFT)
        for t in (q, left):
            key = t.column("lon").to_numpy().tobytes() + t.column("lat").to_numpy().tobytes()
            if key in self.seen:
                raise RuntimeError(f"iteration {i} would reuse a point set from earlier in the session")
            self.seen.add(key)
        self.queries[i], self.left[i] = q, left
        gen.write(q, self.path("queries", str(i)))
        gen.write(left, self.path("left", str(i)))

    def iterate(self, i: int) -> int:
        from geo_spark.operators.distance_join import within_distance_join
        from geo_spark.operators.knn_join import knn_join

        q = self.spark.read.parquet(self.path("queries", str(i))).withColumnRenamed("pid", "qid")
        left = self.spark.read.parquet(self.path("left", str(i))).withColumnRenamed("pid", "lid")
        t = self.spark.read.parquet(self.targets_dir)
        stats: dict = {}
        with self.tr.span("knn_join"):
            with self.tr.span("knn_join.call"):
                knn = knn_join(q, t.withColumnRenamed("pid", "tid"), k=self.K, metric="haversine", stats_out=stats)
            with self.tr.span("knn_join.collect"):
                knn_rows = [tuple(r) for r in knn.select("qid", "tid", "dist").collect()]
        with self.tr.span("distance_join"):
            pairs = within_distance_join(
                left, t.withColumnRenamed("pid", "rid"), self.MAX_DIST_M, metric="haversine"
            )
            pair_rows = [tuple(r) for r in pairs.select("lid", "rid", "dist").collect()]
        self.outputs[i] = (knn_rows, pair_rows, stats.get("brute_queries", 0))
        return self.N_QUERIES

    def check(self) -> dict[int, list[str]]:
        tgt = _points_dict(pq.read_table(self.targets_dir))
        targets = check.Targets(tgt["id"], tgt["lon"], tgt["lat"])
        t_row = {t: r for r, t in enumerate(tgt["id"].tolist())}
        out = {}
        for i, (knn_rows, pair_rows, _) in self.outputs.items():
            qs, ls = _points_dict(self.queries[i]), _points_dict(self.left[i])

            def dist(q, t, qs=qs):
                return float(check.haversine_np(qs["lon"][q], qs["lat"][q], tgt["lon"][t_row[t]], tgt["lat"][t_row[t]]))

            problems = check.compare_knn(knn_rows, check.knn_truth(qs, targets, self.K), self.K, dist)
            problems += check.compare_range(
                pair_rows, check.range_truth(ls, targets, self.MAX_DIST_M), self.MAX_DIST_M
            )
            out[i] = problems
        return out

    def layers(self, i: int, nodes) -> dict:
        knn = self.tr.find("knn_join", i)[0]
        call = self.tr.find("knn_join.call", i)[0]
        dist = self.tr.find("distance_join", i)[0]
        knn_jobs = self.status.job_ids(self.tr.groups_under(knn))
        knn_cand = _join_rows(self.status.sql_nodes(knn_jobs))
        dist_cand = _join_rows(self.status.sql_nodes(self.status.job_ids([dist.group])))
        _, pair_rows, brute = self.outputs[i]
        return {
            "knn_join.s": knn.end - knn.start,
            "knn_join.call_s": call.end - call.start,
            "knn_join.jobs": len(knn_jobs),
            "knn_join.candidates": knn_cand,
            "knn_join.useful_ratio": self.N_QUERIES * self.K / knn_cand if knn_cand else 0.0,
            "knn_join.brute_queries": brute,
            "distance_join.s": dist.end - dist.start,
            "distance_join.candidates": dist_cand,
            "distance_join.pairs": len(pair_rows),
            "distance_join.useful_ratio": len(pair_rows) / dist_cand if dist_cand else 0.0,
        }


def _points_dict(table) -> dict:
    return {"id": table.column("pid").to_numpy(), "lon": table.column("lon").to_numpy(), "lat": table.column("lat").to_numpy()}


def _join_rows(nodes) -> float:
    """Rows out of the inner equi-joins on the cell id (the candidate pairs);
    the semi/anti joins that route certified queries are not candidates."""
    return sum(
        m.get("number of output rows", 0.0)
        for n, desc, m in nodes
        if "Join" in n and "LeftSemi" not in desc and "LeftAnti" not in desc
    )


class TileStream(Workload):
    """One new document file per iteration, counted into event-time tiles
    by an ``availableNow`` streaming query resumed from its checkpoint."""

    name = "tile_stream"
    rows_unit = "documents"
    DOCS_PER_FILE = 1_800  # one hour of event time: each run closes one window
    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string, doc_id bigint"
    RES = 4
    WINDOW_S = 3600
    WATERMARK_S = 7200

    def __init__(self, *args):
        super().__init__(*args)
        self.iter_info: dict[int, dict] = {}
        self.files: dict[int, str] = {}  # file k (the same in every stream)

    def make_inputs(self) -> None:
        # a new stream: source, sink and checkpoint start empty
        for d in ("src", "sink", "ckpt"):
            os.makedirs(self.path(d), exist_ok=True)
        self.consumed: list[str] = []  # files of this stream so far
        self.sink_seen: set[str] = set()
        self.written = 0  # sink + checkpoint bytes so far

    def _sink_files(self) -> set[str]:
        return {f for f in os.listdir(self.path("sink")) if f.endswith(".parquet")}

    def prepare(self, i: int) -> None:
        # the file arrives while no query runs, so no batch sees it half-written
        k = len(self.consumed)
        docs = gen.documents(self.seed, self.DOCS_PER_FILE, first_id=k * self.DOCS_PER_FILE, stream=f"tiles{k}")
        path = self.path("src", f"docs-{k:05d}.parquet")
        pq.write_table(docs, path)
        self.consumed.append(path)
        self.files.setdefault(k, path)

    def iterate(self, i: int) -> int:
        from geo_spark.streaming.tiles import streaming_tile_counts

        with self.tr.span("streaming_tile_counts"):
            stream = self.spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1).parquet(self.path("src"))
            query = (
                streaming_tile_counts(stream, res=self.RES)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("checkpointLocation", self.path("ckpt"))
                .option("path", self.path("sink"))
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        self.iter_info[i] = {
            "progress": [json.loads(p.json) for p in query.recentProgress],
            "run_id": str(query.runId),
        }
        return self.DOCS_PER_FILE

    def after(self, i: int) -> None:
        files = self._sink_files()
        self.outputs[i] = [self.path("sink", f) for f in sorted(files - self.sink_seen)]
        self.sink_seen = files
        sink, ckpt = dir_bytes(self.path("sink")), dir_bytes(self.path("ckpt"))
        self.iter_info[i].update(
            input_bytes=os.path.getsize(self.consumed[-1]),
            written_bytes=sink + ckpt - self.written,
            sink_bytes=sink,
            checkpoint_bytes=ckpt,
            consumed=len(self.consumed),
        )
        self.written = sink + ckpt

    def job_groups(self, i: int) -> list[str]:
        # the stream thread tags its jobs with the query's run id
        return [self.iter_info[i]["run_id"]]

    def _watermark(self, n_files: int) -> float:
        """Event-time watermark after ``n_files`` files: the latest warc_ts
        seen minus the delay (documents carry T0 + 2 * doc_id)."""
        if n_files == 0:
            return float("-inf")
        last_id = n_files * self.DOCS_PER_FILE - 1
        return gen.T0 + 2 * last_id - self.WATERMARK_S

    def check(self) -> dict[int, list[str]]:
        want = check.tile_counts([self.files[k] for k in sorted(self.files)], self.RES, self.WINDOW_S)
        out = {}
        for i, files in self.outputs.items():
            n = self.iter_info[i]["consumed"]
            rows = []
            for f in files:
                t = pq.read_table(f, columns=["window_start", "tile", "n"]).to_pydict()
                rows += [
                    (ws.timestamp(), tile, c) for ws, tile, c in zip(t["window_start"], t["tile"], t["n"])
                ]
            out[i] = check.compare_tiles(rows, want, self.WINDOW_S, self._watermark(n - 1), self._watermark(n))
        return out

    def layers(self, i: int, nodes) -> dict:
        info = self.iter_info[i]
        prog = info["progress"]
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in prog)  # noqa: E731
        state = prog[-1]["stateOperators"][0] if prog and prog[-1]["stateOperators"] else {}
        data = [p["durationMs"]["triggerExecution"] for p in prog if p["numInputRows"] > 0]
        return {
            "streaming.batches": len(prog),
            "streaming.batch_ms_p50": median(data),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_mem_bytes": state.get("memoryUsedBytes", 0),
            "streaming.checkpoint_bytes": info["checkpoint_bytes"],
            "streaming.sink_bytes": info["sink_bytes"],
            "streaming.write_amp": info["written_bytes"] / info["input_bytes"],
        }


WORKLOADS = {w.name: w for w in (PipFlagship, Proximity, TileStream)}
