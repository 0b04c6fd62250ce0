"""Distributed polygonize: faces from a TABLE of noded segments.

The table-scale twin of ``kernels/polygonize.py`` (JTS Polygonizer
semantics — dangles peel, left-face traversal, cut-edge removal, hole
assignment) for linework too large for one row/task: a national road
network, the merged tile boundaries of a planetary mosaic.

100 TB shape — every stage is a bucketed shuffle or a per-key local step:

1. **dangle peel**: iterate (degree count → anti-join) until fixpoint;
   each round is one groupBy on vertex keys. Dangle chains peel one link
   per round (bounded by the longest chain).
2. **successor**: the left-face rule ("next edge clockwise from the
   arrival twin") is decided entirely WITHIN one vertex — groupBy(vertex)
   + applyInPandas over tiny per-vertex groups emits each half-edge's
   successor. No global state.
3. **cycle labeling**: pointer doubling over the successor permutation —
   ⌈log₂ |half-edges|⌉ rounds of self-joins give every half-edge its
   cycle's canonical id (min half-edge id). Classic parallel
   list-ranking; the only log-round stage.
4. **ring assembly**: groupBy(face_id) + a local walk of the cycle inside
   one pandas group (faces are ring-sized, so groups are small; the one
   caveat is the outer contour of a huge single component).
5. **cut edges**: an edge whose twin lands in the same face is a bridge —
   detected locally per face, subtracted, and the pipeline re-runs
   (JTS's own repeat rule; nesting depth is small in practice).
6. **holes**: negative cycles attach to the smallest shell STRICTLY
   containing them — bbox prefilter + exact winding test against the
   broadcast shell table (shell geometry must be broadcastable; hole
   count is unbounded).

Parity: pytest-gated against ``kernels.polygonize`` on multi-component
linework with dangles and bridges (same rings up to rotation).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_spark.operators import geom_udf as gu
from geo_spark.operators.route import fetch_if_small, fits

_RING_T = "array<struct<x:double,y:double>>"


def _canon(df: DataFrame) -> DataFrame:
    """Canonical undirected segments (a <= b lexicographic), deduped."""
    a_le_b = (F.col("x1") < F.col("x2")) | (
        (F.col("x1") == F.col("x2")) & (F.col("y1") <= F.col("y2"))
    )
    out = df.select(
        F.when(a_le_b, F.col("x1")).otherwise(F.col("x2")).alias("ax"),
        F.when(a_le_b, F.col("y1")).otherwise(F.col("y2")).alias("ay"),
        F.when(a_le_b, F.col("x2")).otherwise(F.col("x1")).alias("bx"),
        F.when(a_le_b, F.col("y2")).otherwise(F.col("y1")).alias("by"),
    )
    return out.filter(
        (F.col("ax") != F.col("bx")) | (F.col("ay") != F.col("by"))
    ).dropDuplicates(["ax", "ay", "bx", "by"])


def _peel_dangles_driver(seg: DataFrame) -> DataFrame:
    """Small-side dangle peel: collect, cascade-peel in one Python pass,
    parallelize back (same adaptive pattern as the cycle labeling — the
    distributed fixpoint costs one groupBy + two anti-joins + a checkpoint
    PER CHAIN LINK, all driver-blocking)."""
    rows = [(r["ax"], r["ay"], r["bx"], r["by"]) for r in seg.collect()]
    segs = set(rows)
    deg: dict = {}
    for ax, ay, bx, by in segs:
        deg[(ax, ay)] = deg.get((ax, ay), 0) + 1
        deg[(bx, by)] = deg.get((bx, by), 0) + 1
    frontier = [v for v, d in deg.items() if d == 1]
    incident: dict = {}
    for s in segs:
        incident.setdefault((s[0], s[1]), []).append(s)
        incident.setdefault((s[2], s[3]), []).append(s)
    dead = set()
    while frontier:
        v = frontier.pop()
        if deg.get(v, 0) != 1:
            continue
        for s in incident[v]:
            if s in dead:
                continue
            dead.add(s)
            for u in ((s[0], s[1]), (s[2], s[3])):
                deg[u] -= 1
                if deg[u] == 1:
                    frontier.append(u)
    alive = [s for s in segs if s not in dead]
    spark = seg.sparkSession
    if not alive:
        return spark.createDataFrame(
            [], "ax double, ay double, bx double, by double"
        )
    npart = max(1, min(spark.sparkContext.defaultParallelism, len(alive) // 500 + 1))
    return spark.createDataFrame(
        alive, "ax double, ay double, bx double, by double"
    ).repartition(npart)


def _peel_dangles(seg: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Iteratively remove segments with a degree-1 endpoint (fixpoint).

    Every round ends in ``localCheckpoint``: the round's plan references
    ``seg`` five times (degree union + two anti-joins), so without lineage
    truncation the logical tree grows ~5× per round and the driver chokes
    stringifying it for the SQL listener long before execution matters.
    """
    seg = seg.localCheckpoint(eager=True)
    n = seg.count()
    converged = False
    for _ in range(max_rounds):
        if n == 0:
            converged = True
            break
        ends = seg.select(
            F.col("ax").alias("vx"), F.col("ay").alias("vy")
        ).unionAll(seg.select(F.col("bx").alias("vx"), F.col("by").alias("vy")))
        lone = (
            ends.groupBy("vx", "vy").count().filter(F.col("count") == 1).drop("count")
        )
        nxt = (
            seg.join(
                lone.withColumnRenamed("vx", "ax").withColumnRenamed("vy", "ay"),
                ["ax", "ay"],
                "left_anti",
            )
            .join(
                lone.withColumnRenamed("vx", "bx").withColumnRenamed("vy", "by"),
                ["bx", "by"],
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        n2 = nxt.count()
        seg = nxt
        if n2 == n:
            converged = True
            break
        n = n2
    if not converged and n > 0:
        # a dangle chain longer than ~2*max_rounds links would leave
        # residual degree-1 edges whose twin-bounce successors inject
        # zero-area spikes into face rings (diverging from JTS Polygonizer
        # dangle semantics) — fail loudly instead of mislabeling
        raise RuntimeError(
            f"_peel_dangles did not converge after {max_rounds} rounds "
            f"({n} segments left); raise max_rounds for inputs with very "
            "long dangle chains"
        )
    return seg


def _half_edges(seg: DataFrame) -> DataFrame:
    """Directed half-edges with deterministic 64-bit ids."""
    fwd = seg.select(
        F.col("ax").alias("ox"), F.col("ay").alias("oy"),
        F.col("bx").alias("dx"), F.col("by").alias("dy"),
    )
    rev = seg.select(
        F.col("bx").alias("ox"), F.col("by").alias("oy"),
        F.col("ax").alias("dx"), F.col("ay").alias("dy"),
    )
    he = fwd.unionAll(rev)
    return he.withColumn("he_id", F.xxhash64("ox", "oy", "dx", "dy"))


def _assert_no_id_collisions(he: DataFrame, n_he: int) -> None:
    """64-bit coordinate hashes collide with ~50% probability near 2³²
    half-edges (birthday bound); a collision silently merges two faces.
    One aggregation detects it and fails loudly — at that scale the check
    is proportional to the data it protects."""
    distinct = he.select("he_id").distinct().count()
    if distinct != n_he:
        raise RuntimeError(
            f"polygonize_distributed: xxhash64 half-edge id collision "
            f"({n_he - distinct} dup ids over {n_he} half-edges) — widen "
            "the id (e.g. add a second-seed hash column) for this dataset"
        )


def _successors(he: DataFrame) -> DataFrame:
    """(he_id, succ_id): left-face successor per half-edge — pure SQL.

    For the incoming half-edge (w→v), the successor is the outgoing edge
    at v with the largest angle strictly below angle(v→w), cyclically.
    The incoming edge's back-angle equals its TWIN's outgoing angle, so
    one cyclic ``lag`` over the per-vertex angle ordering answers every
    half-edge: succ(twin(e)) = previous-outgoing-of(e). JVM window + one
    shuffle on the vertex key — no per-vertex Python (a pandas group per
    graph vertex costs ~1-2 ms each and is the wrong shape at scale).
    """
    from pyspark.sql import Window

    ang = F.atan2(F.col("dy") - F.col("oy"), F.col("dx") - F.col("ox"))
    w = Window.partitionBy("ox", "oy").orderBy("ang", "dx", "dy")
    wall = Window.partitionBy("ox", "oy").orderBy("ang", "dx", "dy").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_ang = he.withColumn("ang", ang)
    return with_ang.select(
        # key the answer by the TWIN of this outgoing edge
        F.xxhash64("dx", "dy", "ox", "oy").alias("he_id"),
        F.coalesce(F.lag("he_id").over(w), F.last("he_id").over(wall)).alias(
            "succ_id"
        ),
    )


def _label_cycles_driver(succ: DataFrame) -> DataFrame:
    """Small-side cycle labeling: collect the (id, succ) permutation and
    walk it in one Python pass.

    Same adaptive pattern as DBSCAN's witness-edge merge / the pip-join
    broadcast contract: the successor table is two longs per half-edge, so
    within the ``polygonize.half_edges`` budget one collect beats
    ~⌈log₂ n⌉ rounds of Catalyst-planned self-joins (planning alone costs
    ~0.4 s/round).
    The doubling path below is the 100 TB shape and stays parity-tested.
    """
    rows = succ.collect()
    nxt = {r["he_id"]: r["succ_id"] for r in rows}
    face: dict = {}
    for start in nxt:
        if start in face:
            continue
        cyc = [start]
        cur = nxt[start]
        while cur != start and cur not in face:
            cyc.append(cur)
            cur = nxt[cur]
        label = min(cyc)
        for h in cyc:
            face[h] = label
    out = [(h, f) for h, f in face.items()]
    return succ.sparkSession.createDataFrame(out, "he_id long, face_id long")


def _label_cycles(succ: DataFrame, n_he: int, max_ring_len: int | None = None) -> DataFrame:
    """(he_id, face_id) via pointer doubling (face_id = min he_id in cycle).

    ``max_ring_len`` caps the doubling rounds at ⌈log₂ hint⌉ when the
    caller can bound the longest boundary cycle (each round is a shuffle
    join + checkpoint job); an undershot hint fails loudly in the face
    walk (missing successor), never silently.
    """
    state = succ.select(
        "he_id", F.col("succ_id").alias("ptr"),
        F.least("he_id", "succ_id").alias("best"),
    )
    # localCheckpoint EVERY round: the self-join doubles the LOGICAL plan
    # tree each iteration, and even with caching Spark stringifies the full
    # plan per action (SQLExecutionStart event) — an exponential plan hangs
    # the driver building explain text. Checkpointing replaces the lineage
    # with a LogicalRDD leaf, keeping every round's plan flat. LAZY
    # (eager=False): the logical plan truncates immediately while the
    # chained rounds still materialize inside ONE downstream job instead of
    # one blocking job per round.
    state = state.localCheckpoint(eager=False)
    bound = max_ring_len if max_ring_len is not None else n_he
    rounds = max(1, int(np.ceil(np.log2(max(bound, 2)))))
    for _ in range(rounds):
        t = state.select(
            F.col("he_id").alias("t_id"),
            F.col("ptr").alias("t_ptr"),
            F.col("best").alias("t_best"),
        )
        state = (
            state.join(t, state["ptr"] == t["t_id"])
            .select(
                "he_id",
                F.col("t_ptr").alias("ptr"),
                F.least("best", "t_best").alias("best"),
            )
            .localCheckpoint(eager=False)
        )
    return state.select("he_id", F.col("best").alias("face_id"))


def _assemble_faces(
    he: DataFrame, succ: DataFrame, labels: DataFrame, npart: int
) -> DataFrame:
    """(face_id, ring, area, bridges): walk each cycle locally per face."""

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["he_id"].to_numpy()
        succs = pdf["succ_id"].to_numpy()
        oxs = pdf["ox"].to_numpy()
        oys = pdf["oy"].to_numpy()
        dxs = pdf["dx"].to_numpy()
        dys = pdf["dy"].to_numpy()
        nxt = {int(ids[k]): int(succs[k]) for k in range(len(ids))}
        org = {
            int(ids[k]): (float(oxs[k]), float(oys[k]), float(dxs[k]), float(dys[k]))
            for k in range(len(ids))
        }
        start = min(nxt)
        cycle = []
        cur = start
        for _ in range(len(nxt) + 1):
            cycle.append(cur)
            if cur not in nxt:
                raise RuntimeError(
                    "polygonize_distributed: face walk left its label group "
                    "— max_ring_len hint smaller than the longest ring"
                )
            cur = nxt[cur]
            if cur == start:
                break
        pts = [(org[h][0], org[h][1]) for h in cycle]
        a = 0.0
        n = len(pts)
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            a += x1 * y2 - x2 * y1
        a /= 2.0
        # bridges: undirected key visited twice within this one face
        seen = set()
        bridges = []
        for h in cycle:
            ox, oy, dx, dy = org[h]
            key = (ox, oy, dx, dy) if (ox, oy) <= (dx, dy) else (dx, dy, ox, oy)
            if key in seen:
                bridges.append(key)
            seen.add(key)
        ring = [{"x": float(x), "y": float(y)} for x, y in pts + [pts[0]]]
        return pd.DataFrame(
            {
                "face_id": [pdf["face_id"].iloc[0]],
                "ring": [ring],
                "area": [a],
                "bridges": [
                    [
                        {"ax": k[0], "ay": k[1], "bx": k[2], "by": k[3]}
                        for k in bridges
                    ]
                ],
            }
        )

    full = he.join(succ, "he_id").join(labels, "he_id")
    return (
        full.repartition(npart, "face_id")
        .groupBy("face_id")
        .applyInPandas(
            walk,
            schema=(
                f"face_id long, ring {_RING_T}, area double, "
                "bridges array<struct<ax:double,ay:double,bx:double,by:double>>"
            ),
        )
    )


def _polygonize_driver(spark, seg_rows) -> DataFrame:
    """Whole-pipeline driver path for small linework: one take() already
    fetched the segments, the per-row kernel (the parity reference of the
    distributed pipeline) assembles the faces in-process, and the result
    parallelizes back. Replaces ~10 sequential micro-stages (peel fixpoint,
    successor window, labeling, face walk, bridge rounds, hole broadcast)
    whose per-stage scheduling dominates below ~20k segments."""
    from geo_spark.kernels.polygonize import _ring_area, polygonize

    faces = polygonize([((r[0], r[1]), (r[2], r[3])) for r in seg_rows])
    schema = f"exterior {_RING_T}, interiors array<{_RING_T}>, area double"
    if not faces:
        return spark.createDataFrame([], schema)
    rows = []
    for ext, holes in faces:
        # same shoelace the distributed face walk computes (open ring)
        area = _ring_area([tuple(p) for p in ext[:-1]])
        rows.append(
            (
                [{"x": float(x), "y": float(y)} for x, y in ext],
                [[{"x": float(x), "y": float(y)} for x, y in h] for h in holes],
                float(area),
            )
        )
    return spark.createDataFrame(rows, schema)


def polygonize_distributed(
    segments: DataFrame,
    max_bridge_rounds: int = 8,
    max_ring_len: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Segments table (x1,y1,x2,y2 — noded) → faces table
    (exterior, interiors, area), JTS-Polygonizer semantics.

    Two small-side routes (budgets in ``operators.route``):
    ``polygonize.segments`` — within it the ENTIRE pipeline runs on the
    driver via the per-row kernel: one fetch + in-process assembly beats
    the ~10 sequential micro-stages whose scheduling dominates at small n;
    ``polygonize.half_edges`` — within it the dangle peel and the cycle
    labeling collect to the driver (one job each) instead of a fixpoint /
    ⌈log₂ n⌉ self-join rounds whose Catalyst planning dominates at small
    scale. See the module docstring for the 100 TB plan.
    """
    if max_bridge_rounds < 1:
        raise ValueError("max_bridge_rounds must be >= 1")
    spark = segments.sparkSession
    fetched = fetch_if_small(segments.select("x1", "y1", "x2", "y2"), "polygonize.segments")
    if fetched is not None:
        return _polygonize_driver(spark, fetched)
    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism
    seg = _canon(segments).repartition(parallelism).localCheckpoint(eager=True)
    n_seg = seg.count()
    faces = None
    for _ in range(max_bridge_rounds):
        # n_seg is refreshed after each bridge-removal round below, so the
        # driver-vs-distributed choice tracks the shrinking table
        if fits(2 * n_seg, "polygonize.half_edges"):
            seg = _peel_dangles_driver(seg)
        else:
            seg = _peel_dangles(seg)
        if seg.limit(1).count() == 0:
            return spark.createDataFrame(
                [],
                f"exterior {_RING_T}, interiors array<{_RING_T}>, area double",
            )
        # checkpoint at each stage boundary — he feeds succ AND the face
        # assembly join, so un-truncated lineage re-nests per stage
        he = _half_edges(seg).localCheckpoint(eager=False)
        n_he = he.count()
        _assert_no_id_collisions(he, n_he)
        succ = _successors(he).localCheckpoint(eager=False)
        if fits(n_he, "polygonize.half_edges"):
            labels = _label_cycles_driver(succ)
        else:
            labels = _label_cycles(succ, n_he, max_ring_len)
        faces = _assemble_faces(he, succ, labels, parallelism).localCheckpoint(
            eager=False
        )
        bridges = (
            faces.select(F.explode("bridges").alias("b"))
            .select("b.ax", "b.ay", "b.bx", "b.by")
            .dropDuplicates()
        )
        if bridges.limit(1).count() == 0:
            break
        seg = seg.join(bridges, ["ax", "ay", "bx", "by"], "left_anti").localCheckpoint(
            eager=True
        )
        n_seg = seg.count()

    shells = faces.filter(F.col("area") > 0).select(
        F.col("face_id").alias("shell_id"), F.col("ring").alias("shell"), "area"
    )
    holes = faces.filter(F.col("area") < 0).select(
        F.col("face_id").alias("hole_id"), F.col("ring").alias("hole"),
        (-F.col("area")).alias("hole_area"),
    )

    # hole → smallest shell STRICTLY containing it (bbox prefilter +
    # exact winding test); shells broadcast
    sxs = F.transform("shell", lambda p: p["x"])
    sys_ = F.transform("shell", lambda p: p["y"])
    sh = shells.select(
        "shell_id", "shell", "area",
        F.array_min(sxs).alias("sxmin"), F.array_min(sys_).alias("symin"),
        F.array_max(sxs).alias("sxmax"), F.array_max(sys_).alias("symax"),
    )
    hxs = F.transform("hole", lambda p: p["x"])
    hys = F.transform("hole", lambda p: p["y"])
    ho = holes.select(
        "hole_id", "hole",
        F.array_min(hxs).alias("hxmin"), F.array_min(hys).alias("hymin"),
        F.array_max(hxs).alias("hxmax"), F.array_max(hys).alias("hymax"),
    )
    cand = ho.join(
        F.broadcast(sh),
        (F.col("hxmin") >= F.col("sxmin")) & (F.col("hymin") >= F.col("symin"))
        & (F.col("hxmax") <= F.col("sxmax")) & (F.col("hymax") <= F.col("symax")),
    )

    def strictly_inside(h, s):
        from geo_spark.kernels.predicates import polygon_position

        pos = polygon_position(h[:-1, 0], h[:-1, 1], s)
        return bool((pos >= 0).all() and (pos > 0).any())

    from pyspark.sql import Window

    inside = gu.geom_udf(strictly_inside, "boolean")
    matched = cand.filter(inside(gu.coords(F.col("hole")), gu.coords(F.col("shell"))))
    w = Window.partitionBy("hole_id").orderBy(F.col("area").asc(), F.col("shell_id"))
    assigned = (
        matched.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("shell_id", "hole")
    )
    agg = assigned.groupBy("shell_id").agg(F.collect_list("hole").alias("interiors"))
    out = (
        shells.join(agg, "shell_id", "left")
        .select(
            F.col("shell").alias("exterior"),
            F.coalesce(
                "interiors", F.array().cast(f"array<{_RING_T}>")
            ).alias("interiors"),
            "area",
        )
    )
    return out
