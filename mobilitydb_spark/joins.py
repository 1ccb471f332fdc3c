"""Distributed spatial join strategies — SURVEY §2.3 / the north rule.

The reference's joins are PostgreSQL index nested loops over GiST
R-trees (`point/src/sql/70_tpoint_gist.in.sql`,
`point/src/tpoint_gist.c:51-199`).  On Spark the equivalents are:

- **PIP join** (``pip_join``, one plan): polygons decode to one dim
  row each (poly_id, cover level, bbox, edges); their covers are
  built in Catalyst from the bbox, points take their cell at every
  cover level present, the two sides equi-join on the cell and the
  one Catalyst predicate ``pip_filter`` refines.  A point lives in
  one cell per level and a polygon covers each cell at most once, so
  candidate pairs are already distinct — no post-refine dedupe.  The
  entry points differ only in the dim: `pipeline.pip_join_broadcast`
  decodes a small pandas layer on the driver and broadcasts it,
  ``pip_join_shuffle`` decodes a polygon DataFrame in one
  ``mapInArrow``.  Skewed cells are left to AQE's skew-join split:
  explicit hot-cell salting measured slower on a 30 % hot cluster
  and was removed.
- **dwithin joins**: each left row explodes to the cell ring that
  covers the distance, built in Catalyst (``cells.grid_disk_sql``,
  replaces ``a && expand(b, d)``,
  `66_tpoint_spatialrels.in.sql:394-445`), then an exact distance
  refine
- **kNN join**: exact by construction (`|=|` ordering,
  `56_tpoint_spatialfuncs.in.sql:186-214`) — the per-cell candidate
  counts of a resolution ladder ending in the one-cell level 0 give
  each query a radius that holds its k nearest: the distance to the
  farthest corner of the finest cell with k+1 candidates.  One ring
  equi-join and one window, no action; a query joins at most |C|
  candidate pairs, the cost of a brute pass.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells, geo

DEFAULT_RES = 12


# ---------------------------------------------------------------------------
# the exact PIP refine (one predicate, one boundary rule, both joins)
# ---------------------------------------------------------------------------

# prefilter padding: the BOUNDARY_EPS band plus slack for the rounding
# of ``x0 - eps``, so no bbox, cover or edge guard rejects a point the
# exact on-edge test would accept
PIP_PAD = 2.0 * geo.BOUNDARY_EPS
_EDGE_KEYS = ("x1", "y1", "y2", "dx", "dy", "l2", "ex0", "ey0", "ex1", "ey1")
PIP_DIM_FIELDS = ("edges array<struct<"
                  + ",".join(f"{k}:double" for k in _EDGE_KEYS)
                  + ">>, bx0 double, by0 double, bx1 double, by1 double")


def pip_polygons(pids, wkbs) -> tuple[np.ndarray, list, np.ndarray]:
    """Decode a polygon layer: (poly_id (N,), rings, bbox (N, 4)).

    Keeps the rings the PIP test reads (``points_in_polygon`` skips
    rings of fewer than 4 points) and drops polygons left with none;
    ``bbox`` is (bx0, by0, bx1, by1) of those rings, dilated by
    PIP_PAD."""
    keep, rings, bbox = [], [], []
    for pid, wkb in zip(pids, wkbs):
        rs = [r for r, _ in geo.from_wkb(wkb).rings() if len(r) >= 4]
        if rs:
            pts = np.vstack(rs)
            keep.append(pid)
            rings.append(rs)
            bbox.append(np.r_[pts.min(axis=0) - PIP_PAD,
                              pts.max(axis=0) + PIP_PAD])
    return (np.asarray(keep, dtype=np.int64), rings,
            np.reshape(bbox, (-1, 4)))


def pip_dim_table(pids: np.ndarray, rings: list, bbox: np.ndarray,
                  res: int) -> pa.Table:
    """``pip_polygons`` output as the Arrow dim ``pip_join`` reads:
    (poly_id, r, ``PIP_DIM_FIELDS``), one edges list per polygon, built
    without a Python loop over edges.

    ``r`` is the polygon's cover level, ``cells.cover_res_np`` of its
    bbox: the finest level up to ``res`` whose cover fits the cap.
    dx, dy and l2 are the very float64 values ``geo.points_in_polygon``
    computes, so ``pip_filter`` reproduces it bit for bit; ex0..ey1 is
    the edge's PIP_PAD-dilated bbox, a cheap guard ahead of the
    projection."""
    flat = [r for rs in rings for r in rs]
    p1 = np.concatenate([r[:-1] for r in flat])
    p2 = np.concatenate([r[1:] for r in flat])
    (x1, y1), (x2, y2) = p1.T, p2.T
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    lo, hi = np.minimum(p1, p2) - PIP_PAD, np.maximum(p1, p2) + PIP_PAD
    edges = pa.StructArray.from_arrays(
        [x1, y1, y2, dx, dy, np.where(l2 == 0.0, 1.0, l2),
         lo[:, 0], lo[:, 1], hi[:, 0], hi[:, 1]], names=list(_EDGE_KEYS))
    n = [sum(len(r) - 1 for r in rs) for rs in rings]
    offsets = np.concatenate([[0], np.cumsum(n)]).astype(np.int32)
    return pa.table({
        "poly_id": pids,
        "r": pa.array(cells.cover_res_np(*bbox.T, res=res), pa.int32()),
        "edges": pa.ListArray.from_arrays(offsets, edges),
        "bx0": bbox[:, 0], "by0": bbox[:, 1],
        "bx1": bbox[:, 2], "by1": bbox[:, 3]})


# ``geo.points_in_polygon`` as one SQL predicate over (lon, lat) and a
# ``pip_dim_table`` row.  SQL text is parsed in one py4j call; building
# the same tree from Column objects costs a round trip per node, about
# 0.2 s per join.  _T is ``geo._on_segment``'s clamped projection.
_T = ("least(greatest(((lon - e.x1) * e.dx + (lat - e.y1) * e.dy) / e.l2,"
      " 0D), 1D)")
_PIP_SQL = f"""
    lon >= bx0 AND lon <= bx1 AND lat >= by0 AND lat <= by1
    AND (pmod(size(filter(edges, e ->
             (e.y1 > lat) != (e.y2 > lat)
             AND lon < e.x1 + (lat - e.y1) / e.dy * e.dx)), 2) = 1
         OR exists(edges, e ->
             lon >= e.ex0 AND lon <= e.ex1 AND lat >= e.ey0 AND lat <= e.ey1
             AND (lon - (e.x1 + {_T} * e.dx)) * (lon - (e.x1 + {_T} * e.dx))
                 + (lat - (e.y1 + {_T} * e.dy)) * (lat - (e.y1 + {_T} * e.dy))
                 <= {geo.BOUNDARY_EPS * geo.BOUNDARY_EPS!r}))"""


def pip_filter(cand: DataFrame) -> DataFrame:
    """The exact point-in-polygon refine of candidate pairs.

    ``cand`` carries the point (lon, lat) and its polygon's
    ``PIP_DIM_FIELDS``.  The test is ``geo.points_in_polygon`` as one
    Catalyst predicate: even-odd parity over every ring, OR the
    point within BOUNDARY_EPS of an edge (clamped projection, squared
    distance <= eps²) — boundary points are inside, as in the
    reference's ``intersects`` (`66_tpoint_spatialrels.in.sql:32-48`).

    The bbox comparisons run first in whole-stage codegen and reject
    most candidates; the higher-order functions behind them are
    interpreted per element.  The on-edge ``exists`` sits right of the
    OR, so it runs only for points parity puts outside."""
    return cand.where(_PIP_SQL)


# ---------------------------------------------------------------------------
# the one PIP join plan (covers in Catalyst, both entry points)
# ---------------------------------------------------------------------------

def pip_join(points: DataFrame, dim: DataFrame,
             levels: list[int] | None = None) -> DataFrame:
    """Points (lon, lat, ...) ⋈ a polygon dim (poly_id, r,
    ``PIP_DIM_FIELDS``): the point columns plus ``poly_id`` for every
    polygon that contains the point, boundary included.

    Filter: each dim row's padded bbox explodes to its cells at its
    cover level ``r`` (``cells.cover_sql``); each point takes its cell
    at every cover level present, in one explode, and the two sides
    equi-join on ``jcell``.  Refine: candidates join back their
    polygon's dim row and pass ``pip_filter``.  A point lies in one
    cell per level and a polygon covers each of its cells once, at one
    level, so candidate pairs are distinct with no dedupe.

    ``levels`` are the dim's cover levels when the driver knows them:
    the point cells are then constant-level expressions in whole-stage
    codegen (a lambda over the level array measured 0.98 s against
    0.81 s per flagship pass: 15k pages, grid layer, ``local[4]``).
    Otherwise a scalar subquery reads the levels from the dim, so
    building the join starts no job.  A broadcast hint on ``dim``
    reaches both joins."""
    if levels is None:
        pts = points.withColumn(
            "jcell", dim.select(F.collect_set("r")).scalar()).withColumn(
            "jcell", F.expr("explode(transform(jcell, lv -> "
                            + cells.cell_at_sql("lon", "lat", "lv") + "))"))
    else:
        pts = points.withColumn("jcell", F.expr("explode(array(" + ", ".join(
            cells.cell_sql("lon", "lat", r) for r in levels) + "))"))
    cover = dim.selectExpr("poly_id", "explode("
                           + cells.cover_sql("r", "bx0", "by0", "bx1", "by1")
                           + ") AS jcell")
    cand = pts.join(cover, "jcell").join(dim.drop("r"), "poly_id")
    return pip_filter(cand).select(*points.columns, "poly_id")


def polygon_dim(polygons: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(poly_id, r, ``PIP_DIM_FIELDS``): ``pip_dim_table`` of a polygon
    DataFrame (poly_id, geom_wkb), decoded in one ``mapInArrow``."""

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            polys = pip_polygons(batch.column("poly_id").to_pylist(),
                                 batch.column("geom_wkb").to_pylist())
            if len(polys[0]):
                yield from pip_dim_table(*polys, res).to_batches()

    return polygons.select("poly_id", "geom_wkb").mapInArrow(
        decode, f"poly_id bigint, r int, {PIP_DIM_FIELDS}")


def pip_join_shuffle(points: DataFrame, polygons: DataFrame,
                     res: int = DEFAULT_RES) -> DataFrame:
    """Spatial join of points against a polygon DataFrame of any size:
    ``pip_join`` over its ``polygon_dim``, covered at levels up to
    ``res``.  The cell equi-join shuffles unless AQE finds a side small
    enough to broadcast; AQE also splits skewed cells.

    The dim's Python decode runs once per consumer (levels, cover and
    refine): each reads its own column subset, so no exchange is
    reused."""
    return pip_join(points, polygon_dim(polygons, res))


# ---------------------------------------------------------------------------
# dwithin joins (Catalyst ring expansion)
# ---------------------------------------------------------------------------

def _ring_join(left: DataFrame, right: DataFrame, res: int, kx: str,
               ky: str, right_id: str) -> DataFrame:
    """Candidate pairs (left columns, right_id, r_lon, r_lat): each left
    row explodes to the (2kx+1)×(2ky+1) cell ring around its cell at
    ``res`` (``cells.grid_disk_sql``, no cell twice; ``kx`` and ``ky``
    are SQL text over the left row) and equi-joins the right rows'
    cells on ``jcell``."""
    lexp = left.withColumn(
        "cell", F.expr(cells.cell_sql("lon", "lat", res))).withColumn(
        "jcell", F.expr(f"explode({cells.grid_disk_sql('cell', kx, ky)})"))
    rpts = right.selectExpr(
        right_id, "lon AS r_lon", "lat AS r_lat",
        f"{cells.cell_sql('lon', 'lat', res)} AS jcell")
    return lexp.join(rpts, "jcell")


def dwithin_join(left: DataFrame, right: DataFrame, dist_deg: float,
                 res: int = DEFAULT_RES,
                 left_id: str = "l_id", right_id: str = "r_id") -> DataFrame:
    """All (left, right) point pairs within ``dist_deg`` planar degrees.

    left: (l_id, lon, lat); right: (r_id, lon, lat).  Left rows explode
    to a cell ring whose radius covers dist_deg (the ``expand``/&&
    prefilter); the refine step is an exact distance test.
    """
    n = 1 << res
    # per-axis rings (r6): a point within dist_deg sits at most
    # floor(dist / cell_size) + 1 indices away on each axis, and lon
    # cells are twice as wide in degrees as lat cells
    kx = min(int(dist_deg / (360.0 / n)) + 1, n)
    ky = min(int(dist_deg / (180.0 / n)) + 1, n)
    cand = _ring_join(left, right, res, str(kx), str(ky), right_id)
    d2 = ((F.col("lon") - F.col("r_lon")) ** 2
          + (F.col("lat") - F.col("r_lat")) ** 2)
    return (cand.where(d2 <= F.lit(float(dist_deg) ** 2))
            .select(left_id, right_id,
                    F.sqrt(d2).alias("dist_deg")))


def dwithin_join_geog(left: DataFrame, right: DataFrame, dist_m: float,
                      res: int = DEFAULT_RES,
                      left_id: str = "l_id", right_id: str = "r_id"
                      ) -> DataFrame:
    """All (left, right) point pairs within ``dist_m`` great-circle
    meters (geography mode, `tpoint_spatialrels.c:166-170`).

    Same two-phase shape as ``dwithin_join``: a conservative planar
    cell-ring prefilter whose longitude radius is sized PER ROW from
    the row's own latitude (the longitude shrink 1/cos(φ) is evaluated
    at the highest latitude a match could sit at, |lat|+dist, so
    high-latitude rows get the wider ring they need instead of
    silently dropping pairs), then an exact haversine refine that
    stays in whole-stage codegen via the shared `geog.haversine_sql`
    expression.

    ``res`` is a floor, not the grid used: the grid is auto-fitted to
    ``dist_m`` and only ever made finer than ``res``.  The result does
    not depend on the grid."""
    from .geog import haversine_sql
    # Auto-fit the grid to the query distance (r6): the caller's res is
    # a FLOOR, and the effective resolution sizes cells near the search
    # radius (cell edge ~ half the equatorial radius in degrees).  A
    # coarse fixed grid makes the ring cover a disk of area
    # ~(deg + 2·cell)², so oversized cells inflate candidates
    # quadratically — measured at sf1.0 / 50 km: res 7 -> 11.5 s,
    # res 9 -> 5.9 s, res 10 -> 8.4 s (explode volume wins past the
    # candidate-volume optimum).  Results are res-invariant (the
    # prefilter is conservative at any res, the haversine refine is
    # exact) — verified row-identical across res 7..10.
    deg_eq = dist_m / 110574.0
    res = max(res, min(14, int(np.floor(np.log2(180.0 / deg_eq))) + 1))
    n = 1 << res
    cell_h = 180.0 / n
    # 1° latitude ≈ 110 574 m; longitude degrees shrink by cos(lat)
    lat_pad = dist_m / 110574.0
    # per-axis rings (r6): a point within dist_m sits at most
    # floor(radius_axis / cell_size_axis) + 1 cell indices away on that
    # axis, and longitude cells are twice as wide in degrees as
    # latitude cells.  Near the pole the linear Δλ bound under-covers
    # (the asin(sin(d/2R)/cosφ) chord bound diverges from d/cosφ as
    # cosφ → d/R), so rows at |φ| ≥ 85° take the full parallel — they
    # are rare and their cells tiny.
    ky = min(int(lat_pad / cell_h) + 1, n)
    phi = f"least(abs(lat) + {lat_pad!r}D, 89.9D)"
    kx = (f"IF({phi} >= 85D, {n}L, least(CAST({float(dist_m)!r}D / "
          f"(110574D * cos(radians({phi}))) / {2.0 * cell_h!r}D AS BIGINT)"
          f" + 1, {n}L))")
    cand = _ring_join(left, right, res, kx, str(ky), right_id)
    dist = F.expr(haversine_sql("lon", "lat", "r_lon", "r_lat"))
    # cheap Δlat short-circuit ahead of the trig: meridional distance
    # is >= Δlat_deg · (π·R/180) ≈ Δlat · 111195 m, so any true match
    # satisfies |Δlat| <= dist_m/110574 (the conservative lat_pad) —
    # the ring spans up to ky cells of latitude, so this prunes the
    # ring's corner candidates before the haversine evaluates
    return (cand.where((F.abs(F.col("lat") - F.col("r_lat"))
                        <= F.lit(float(lat_pad)))
                       & (dist <= F.lit(float(dist_m))))
            .select(left_id, right_id, dist.alias("dist_m")))


# ---------------------------------------------------------------------------
# kNN join (exact radius from the ladder counts)
# ---------------------------------------------------------------------------

# added to each query's radius: covers the rounding of the cell bounds
# and of the distances, so the own cell's candidates always pass
_RAD_PAD = 1e-9


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             resolutions: tuple[int, ...] = (16, 14, 12, 10, 8, 6, 4, 2),
             query_id: str = "q_id", cand_id: str = "c_id") -> DataFrame:
    """k nearest candidate points per query point (planar degrees):
    (query_id, cand_id, dist, rank), a query never its own neighbour,
    ties in distance ranked by ``cand_id``.  Candidate ids are unique
    and coordinates lie on the grid (lon in [-180, 180], lat in
    [-90, 90]).

    **Exactness** (`|=|` must order as the true distance does,
    `56_tpoint_spatialfuncs.in.sql:186-214`): each query takes the
    finest ladder level ``L`` whose own cell holds at least ``k + 1``
    candidates, and searches the radius ``rad`` from the query to the
    farthest corner of that cell.  Those ``k + 1`` candidates all lie
    within ``rad`` and at most one of them is the query itself, so at
    least ``k`` others do; every candidate left out is farther than
    ``rad``, so the top-k within ``rad`` is the exact top-k, ties
    included.  Level 0 (one cell, the whole grid) ends the ladder, so
    every query has such a level whenever ``|C| > k``; when ``|C| <= k``
    every query takes level 0 and gets all candidates.

    **Shape**: one lazy plan, no action, nothing cached.

    1. *Level choice.*  Candidates explode once to their cells at every
       level (a cell id carries its level, so one table serves all
       levels, counted in one aggregation); each query keeps its
       smallest ladder index whose own cell count is ``>= k + 1``.
    2. *Cover.*  Each query explodes to the cells one ladder level finer
       than ``L`` within ``kx = ceil(rad / cell_width)`` columns and
       ``ky = ceil(rad / cell_height)`` rows of its own
       (``cells.grid_disk_sql``): every candidate within ``rad``.  A
       query at level 0 joins the level-0 cell itself, a brute pass.
    3. *Top-k.*  One candidate equi-join on the cell, the pairs within
       ``rad``, and one ``row_number`` window per query.

    **Cost**: a candidate sits in one cell per level and the cover
    holds no cell twice, so a query joins at most ``|C|`` pairs, the
    cost of a brute pass; a query whose level-``L`` cell is dense joins
    only the candidates near it.  The default ladder steps two levels
    at a time: every level is one more exploded row per candidate, and
    a step-1 ladder measured slower.
    """
    from pyspark.sql import Window
    lv = sorted(set(resolutions) | {0}, reverse=True)
    last = len(lv) - 1

    def level_cells(lon: str, lat: str) -> str:
        return ("array(" + ", ".join(cells.cell_sql(lon, lat, r) for r in lv)
                + ")")

    clong = candidates.selectExpr(
        cand_id, "lon AS c_lon", "lat AS c_lat",
        f"explode({level_cells('lon', 'lat')}) AS cell")
    counts = clong.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    qlong = queries.selectExpr(
        query_id, "lon", "lat",
        f"posexplode({level_cells('lon', 'lat')}) AS (i, cell)")
    # the finest satisfied level has the smallest i; level 0 takes all
    qpts = (qlong.join(counts, "cell", "left")
            .where(f"n > {k} OR i = {last}")
            .groupBy(query_id)
            .agg(F.min("lon").alias("lon"), F.min("lat").alias("lat"),
                 F.min_by("cell", "i").alias("own"), F.min("i").alias("i")))

    # rad: to the own cell's farthest corner (x, y index the cell, h is
    # its height in degrees, its width 2h)
    h = f"(180D / shiftleft(1L, CAST(shiftright(own, {cells.R_BITS}) AS INT)))"
    x = f"(shiftright(own, {cells.X_BITS}) & {cells.X_SHIFT - 1})"
    y = f"(own & {cells.X_SHIFT - 1})"
    rad = (f"sqrt(pow(greatest(lon + 180D - {x} * 2 * {h}, "
           f"({x} + 1) * 2 * {h} - lon - 180D), 2) "
           f"+ pow(greatest(90D - lat - {y} * {h}, "
           f"({y} + 1) * {h} - 90D + lat), 2)) + {_RAD_PAD!r}")
    j = f"IF(i = {last}, i, greatest(i - 1, 0)) + 1"  # one ladder level finer
    ring = qpts.selectExpr(
        query_id, "lon", "lat", f"{rad} AS rad",
        f"element_at({level_cells('lon', 'lat')}, {j}) AS jc",
        f"shiftleft(1L, element_at(array({', '.join(map(str, lv))}), {j}))"
        " AS nj")
    ring = ring.selectExpr(
        query_id, "lon", "lat", "rad", "explode(" + cells.grid_disk_sql(
            "jc", "least(CAST(ceil(rad * nj / 360D) AS BIGINT), nj)",
            "least(CAST(ceil(rad * nj / 180D) AS BIGINT), nj)") + ") AS cell")

    dist = F.sqrt((F.col("lon") - F.col("c_lon")) ** 2
                  + (F.col("lat") - F.col("c_lat")) ** 2)
    by_dist = Window.partitionBy(query_id).orderBy(F.asc("dist"),
                                                   F.asc(cand_id))
    return (ring.join(clong, "cell")
            .where((dist <= F.col("rad"))
                   & (F.col(query_id) != F.col(cand_id)))
            .select(query_id, cand_id, dist.alias("dist"))
            .withColumn("rank", F.row_number().over(by_dist))
            .where(F.col("rank") <= k))


def interval_join(left: DataFrame, right: DataFrame,
                  bucket_us: int | str = "auto",
                  left_id: str = "l_id", right_id: str = "r_id",
                  max_buckets: int = 64) -> DataFrame:
    """Temporal range/interval join: all (left, right) pairs whose
    closed periods [t0_us, t1_us] overlap (the reference's
    `a && period` / overlaps time-op used as a join predicate,
    `src/timeops.c`; the GiST time-dimension probe).

    Shape: both sides explode to their covering time buckets, an
    equi-join on the bucket prefilters, the exact overlap test
    refines.  Each overlapping pair is emitted EXACTLY ONCE without a
    distinct: the pair is claimed only by the bucket containing
    max(l.t0, r.t0) — the first bucket where both are live.  Output
    carries the exact overlap microseconds.

    Long spans (more than ``max_buckets`` covering buckets) are split
    out BEFORE the explode (r3 verdict: one outlier span across a
    100x time domain would otherwise become the biggest relation in
    the job) and joined via a broadcast nested-loop pass on the raw
    overlap predicate instead — they overlap nearly everything
    anyway, so the bucket prefilter buys nothing for them.  The three
    passes (short x short bucketed, long-left x all-right, short-left
    x long-right) partition the pair space, so exactly-once holds
    with no dedup.

    ``bucket_us="auto"`` (default) sizes the bucket to ~2x the median
    span (one approxQuantile pass over the spans): a fixed daily
    bucket degenerates when typical spans are much longer — the r4
    sf1 rehearsal's month-long spans each exploded to ~30 bucket rows
    and every span met every other in every bucket.  Bucket size does
    not affect results (the exactly-once claim is bucket-independent),
    only the explode factor."""
    l = left.select(F.col(left_id), F.col("t0_us").alias("l_t0"),
                    F.col("t1_us").alias("l_t1"))
    r = right.select(F.col(right_id), F.col("t0_us").alias("r_t0"),
                     F.col("t1_us").alias("r_t1"))
    if bucket_us == "auto":
        spans = l.select((F.col("l_t1") - F.col("l_t0")).alias("s")) \
            .unionByName(r.select((F.col("r_t1") - F.col("r_t0"))
                                  .alias("s")))
        # Floor with p90, not just the median: on bimodal inputs
        # (half instants, half month-long spans) the median is ~0, so
        # W=1us would class every long span as "long" and broadcast
        # an unbounded relation into the nested-loop pass.
        qs = spans.approxQuantile("s", [0.5, 0.9], 0.05)
        W = (max(int(2 * qs[0]), int(qs[1]), 1) if qs
             else 86_400_000_000)
    else:
        W = int(bucket_us)

    def _split(W):
        l_nb = (F.floor(F.col("l_t1") / W)
                - F.floor(F.col("l_t0") / W) + 1)
        r_nb = (F.floor(F.col("r_t1") / W)
                - F.floor(F.col("r_t0") / W) + 1)
        return (l.where(l_nb <= max_buckets), l.where(l_nb > max_buckets),
                r.where(r_nb <= max_buckets), r.where(r_nb > max_buckets))

    ls, ll, rs, rl = _split(W)
    if bucket_us == "auto":
        # Broadcast-safety: the long sides feed F.broadcast() below.
        # If a quantile misfire still leaves too many long rows,
        # widen the bucket until the long tail is broadcastable
        # (bounded retries; W growth is geometric so 4 steps cover
        # a 4096x quantile error).
        for _ in range(4):
            n_long = (ll.select(F.lit(1).alias("one"))
                      .unionByName(rl.select(F.lit(1).alias("one")))
                      .limit(100_001).count())
            if n_long <= 100_000:
                break
            W *= 8
            ls, ll, rs, rl = _split(W)
    start = F.greatest(F.col("l_t0"), F.col("r_t0"))
    end = F.least(F.col("l_t1"), F.col("r_t1"))
    sel = [F.col(left_id), F.col(right_id),
           (end - start).alias("overlap_us")]
    lexp = ls.withColumn("b", F.explode(F.sequence(
        F.floor(F.col("l_t0") / W), F.floor(F.col("l_t1") / W))))
    rexp = rs.withColumn("b", F.explode(F.sequence(
        F.floor(F.col("r_t0") / W), F.floor(F.col("r_t1") / W))))
    short = (lexp.join(rexp, "b")
             .where((start <= end) & (F.col("b") == F.floor(start / W)))
             .select(*sel))
    overlap = (F.col("l_t0") <= F.col("r_t1")) & \
              (F.col("r_t0") <= F.col("l_t1"))
    long_l = r.join(F.broadcast(ll), overlap).select(*sel)
    long_r = ls.join(F.broadcast(rl), overlap).select(*sel)
    return short.unionByName(long_l).unionByName(long_r)
