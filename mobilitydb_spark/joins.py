"""Distributed spatial join strategies — SURVEY §2.3 / the north rule.

The reference's joins are PostgreSQL index nested loops over GiST
R-trees (`point/src/sql/70_tpoint_gist.in.sql`,
`point/src/tpoint_gist.c:51-199`).  On Spark the equivalents are:

- **broadcast path** (small polygon layer): the cell cover and the
  polygon edges ride broadcast joins, no shuffle —
  `pipeline.pip_join_broadcast`
- **shuffle path** (large polygon layer, this module): both sides
  keyed by grid cell; polygons exploded to their cell cover, points
  to their single cell; equi-join on cell then exact PIP refine.
  Both paths refine with the one Catalyst predicate ``pip_filter``.
  A point lives in exactly one cell and a polygon covers that cell
  at most once, so candidate pairs are already distinct — no
  post-refine dedupe shuffle.
- **explicit hot-cell salting**: Zipf-skewed inputs (popular
  domains/regions) concentrate points in a few cells.  Cells above
  ``hot_threshold`` get their points split across ``n_salts``
  sub-keys and their polygon rows replicated per salt — bounding any
  single task's share of a hot cell.  (AQE skew-join splitting is ON
  as well; salting keeps the plan safe even where AQE can't split,
  e.g. pre-aggregation stages.)
- **dwithin join**: grid_disk ring expansion of the point cell
  (replaces ``a && expand(b, d)``,
  `66_tpoint_spatialrels.in.sql:394-445`) then exact distance refine
- **kNN join**: bounded ring expansion with a correctness guarantee —
  queries whose k-th neighbour isn't provably inside the searched
  rings fall back to a brute pass (`|=|` ordering,
  `56_tpoint_spatialfuncs.in.sql:186-214`).
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

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


def pip_dim_table(pids: np.ndarray, rings: list, bbox: np.ndarray
                  ) -> pa.Table:
    """``pip_polygons`` output as an Arrow (poly_id, ``PIP_DIM_FIELDS``)
    table: one edges list per polygon, built without a Python loop
    over edges.

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
        "poly_id": pids, "edges": pa.ListArray.from_arrays(offsets, edges),
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
# polygon cell covers (the "index build" side)
# ---------------------------------------------------------------------------

def polygon_covers(polygons: DataFrame, res: int = DEFAULT_RES,
                   max_cells: int = 4096) -> DataFrame:
    """(cell, poly_id): conservative cover of each polygon's padded bbox.

    Coarse polygons fall back to coarser cells (cover_bbox_np caps the
    cell count), so the cell ids carry their resolution in the high
    bits — the join must probe each distinct cover resolution
    (normally just one).  The rows are slim: at crawl scale replicated
    geometry, not the cell ids, would dominate cover shuffle volume,
    so the edges join back on poly_id after the cell join.
    """
    out_schema = StructType([StructField("cell", LongType()),
                             StructField("poly_id", LongType())])

    def explode_cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pids, _, bbox = pip_polygons(pdf["poly_id"], pdf["geom_wkb"])
            if len(pids):
                cc, owner = cells.cover_bboxes_np(*bbox.T, res=res,
                                                  max_cells=max_cells)
                yield pd.DataFrame({"cell": cc, "poly_id": pids[owner]})

    return polygons.select("poly_id", "geom_wkb") \
        .mapInPandas(explode_cover, out_schema)


def polygon_dim(polygons: DataFrame, res: int = DEFAULT_RES,
                max_cells: int = 4096) -> DataFrame:
    """(poly_id, r, ``PIP_DIM_FIELDS``): one row per polygon.

    ``r`` is the resolution its cover uses; the rest is what
    ``pip_filter`` reads.  Bounds-only — no cell explosion — so a
    caller can enumerate the distinct cover levels with a job that is
    O(#polygons), not O(#cover cells)."""

    def pick(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            polys = pip_polygons(batch.column("poly_id").to_pylist(),
                                 batch.column("geom_wkb").to_pylist())
            if len(polys[0]):
                r = cells.cover_res_np(*polys[2].T, res=res,
                                       max_cells=max_cells)
                yield from pip_dim_table(*polys).add_column(
                    1, "r", pa.array(r, pa.int32())).to_batches()

    return polygons.select("poly_id", "geom_wkb").mapInArrow(
        pick, f"poly_id bigint, r int, {PIP_DIM_FIELDS}")


def hot_cells(points: DataFrame, res: int = DEFAULT_RES,
              threshold: int = 100_000) -> list[int]:
    """Cells whose point count exceeds ``threshold`` (the salting set).

    One cheap pre-pass aggregation; at 100 TB this is a counts-only
    scan that AQE coalesces, and the result is a tiny driver list."""
    cnt = (points
           .select(cells.cell_col(F.col("lon"), F.col("lat"), res).alias("cell"))
           .groupBy("cell").count()
           .where(F.col("count") > threshold)
           .select("cell").collect())
    return [r["cell"] for r in cnt]


def pip_join_shuffle(points: DataFrame, polygons: DataFrame,
                     res: int = DEFAULT_RES,
                     hot: list[int] | None = None,
                     n_salts: int = 8,
                     salt_key: str = "url") -> DataFrame:
    """Shuffle spatial join: points ⋈ large polygon layer.

    Phase 1 (filter): equi-join on grid cell — points carry their
    single cell, polygons their exploded cover (possibly at coarser
    resolutions, probed per distinct cover level).  Phase 2 (refine):
    ``pip_filter`` against the polygon's ``polygon_dim`` row.  Hot
    cells get salted: point rows gain ``salt = xxhash64(salt_key) %
    n_salts`` and matching polygon cover rows are replicated across
    all salts.
    """
    point_cols = [c for c in points.columns]
    pts = points.withColumn(
        "cell", cells.cell_col(F.col("lon"), F.col("lat"), res))
    # SLIM covers: the shuffle moves (cell, poly_id) pairs only; the
    # edges join back on poly_id after the cell equi-join (Catalyst
    # auto-broadcasts a small dim; AQE converts at runtime otherwise),
    # so polygon bytes never replicate per cover cell.
    covers = polygon_covers(polygons, res)
    dim = polygon_dim(polygons, res)
    # polygons may cover at coarser resolutions; probe each present
    # level — enumerated from the O(#polygons) dim, not by evaluating
    # the cover explosion twice
    res_rows = [row["r"] for row in dim.select("r").distinct().collect()]
    if not res_rows:  # no polygon has a ring the PIP test reads
        return points.withColumn("poly_id", F.lit(None).cast("bigint")) \
            .limit(0)
    dim = dim.drop("r")
    joined_parts = []
    for r in sorted(res_rows):
        cov_r = covers.where(
            F.shiftright("cell", cells.R_BITS) == r)
        pts_r = pts.withColumn(
            "jcell", F.col("cell") if r == res
            else cells.cell_parent_col(F.col("cell"), res, r))
        cov_r = cov_r.withColumnRenamed("cell", "jcell")
        if hot:
            hot_at_r = [int(cells.cell_parent_np(np.array([h]), r)[0])
                        if (h >> cells.R_BITS) != r else h for h in hot]
            is_hot = F.col("jcell").isin(hot_at_r)
            pts_r = pts_r.withColumn(
                "salt", F.when(is_hot,
                               F.pmod(F.xxhash64(salt_key), F.lit(n_salts)))
                         .otherwise(F.lit(0)))
            cov_r = cov_r.withColumn(
                "salt", F.explode(F.when(
                    is_hot, F.sequence(F.lit(0), F.lit(n_salts - 1)))
                    .otherwise(F.array(F.lit(0)))))
            joined = pts_r.join(cov_r, ["jcell", "salt"])
        else:
            joined = pts_r.join(cov_r, "jcell")
        joined_parts.append(pip_filter(joined.join(dim, "poly_id"))
                            .select(*point_cols, "poly_id"))
    out = joined_parts[0]
    for p in joined_parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# dwithin join (ring expansion)
# ---------------------------------------------------------------------------

def dwithin_join(left: DataFrame, right: DataFrame, dist_deg: float,
                 res: int = DEFAULT_RES,
                 left_id: str = "l_id", right_id: str = "r_id") -> DataFrame:
    """All (left, right) point pairs within ``dist_deg`` planar degrees.

    left: (l_id, lon, lat); right: (r_id, lon, lat).  Left rows explode
    to a grid_disk whose radius covers dist_deg (the ``expand``/&&
    prefilter); the refine step is an exact vectorized distance test.
    """
    n = 1 << res
    cell_h = 180.0 / n  # the smaller cell edge (lat direction)
    # per-axis cover rings (r6): a point within dist_deg sits at most
    # floor(dist / cell_width)+1 indices away per axis; lon cells are
    # 2x wider than lat cells, so the old square ceil(d/h)+1 ring
    # over-covered both axes
    kx = min(int(dist_deg / (360.0 / n)) + 1, n)
    ky = min(int(dist_deg / cell_h) + 1, n)

    l_cell = cells.cell_col(F.col("lon"), F.col("lat"), res)
    lpts = left.withColumn("cell", l_cell)

    disk_schema = StructType(list(lpts.schema.fields)
                             + [StructField("jcell", LongType())])

    def explode_disk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            disk = cells.grid_rect_np(pdf["cell"].to_numpy(), kx, ky)
            m = disk.shape[1]
            rep = pdf.loc[pdf.index.repeat(m)].reset_index(drop=True)
            rep["jcell"] = disk.ravel()
            # a polar clamp can duplicate cells inside one row's disk
            rep = rep.drop_duplicates(
                subset=[left_id, "jcell"], ignore_index=True)
            yield rep

    lexp = lpts.mapInPandas(explode_disk, disk_schema)
    rpts = right.select(
        F.col(right_id), F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat")).withColumn(
        "jcell", cells.cell_col(F.col("r_lon"), F.col("r_lat"), res))
    cand = lexp.join(rpts, "jcell")
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
    grid-disk prefilter whose radius is sized PER ROW from the row's
    own latitude (the longitude shrink 1/cos(φ) is evaluated at the
    highest latitude a match could sit at, |lat|+dist, so high-latitude
    rows get the wider disk they need instead of silently dropping
    pairs), then an exact haversine refine that stays in whole-stage
    codegen via the shared `geog.haversine_sql` expression.

    ``res`` is a floor, not the grid used: the grid is auto-fitted to
    ``dist_m`` and only ever made finer than ``res``.  The result does
    not depend on the grid."""
    from .geog import haversine_sql
    # Auto-fit the grid to the query distance (r6): the caller's res is
    # a FLOOR, and the effective resolution sizes cells near the search
    # radius (cell edge ~ half the equatorial radius in degrees).  A
    # coarse fixed grid makes the k-ring cover a disk of area
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

    lpts = left.withColumn("cell",
                           cells.cell_col(F.col("lon"), F.col("lat"), res))
    disk_schema = StructType(list(lpts.schema.fields)
                             + [StructField("jcell", LongType())])

    # per-axis cover rings (r6): a point within dist_m sits at most
    # floor(radius_axis / cell_width_axis) + 1 cell indices away on
    # that axis (worst case: the query point at its cell's edge), and
    # longitude cells are twice as wide in degrees as latitude cells —
    # the old square ceil(deg/cell_h)+1 ring over-covered both axes
    # (49 vs 15 joined cells per row at res 9 / 50 km, ~3× the
    # candidate pairs into the haversine refine)
    ky = min(int(lat_pad / cell_h) + 1, n)

    def explode_disk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            phi = np.minimum(np.abs(pdf["lat"].to_numpy()) + lat_pad, 89.9)
            deg = dist_m / (110574.0 * np.cos(np.radians(phi)))
            kxs = np.minimum((deg / (2.0 * cell_h)).astype(np.int64) + 1, n)
            # near the pole the linear Δλ bound under-covers (the
            # asin(sin(d/2R)/cosφ) chord bound diverges from d/cosφ
            # as cosφ → d/R); wrap the full parallel there — rows at
            # |φ| ≥ 85° are rare and their cells tiny
            kxs = np.where(phi >= 85.0, n, kxs)
            for kx in np.unique(kxs):
                sub = pdf.loc[kxs == kx]
                disk = cells.grid_rect_np(sub["cell"].to_numpy(),
                                          int(kx), ky)
                m = disk.shape[1]
                rep = sub.loc[sub.index.repeat(m)].reset_index(drop=True)
                rep["jcell"] = disk.ravel()
                rep = rep.drop_duplicates(
                    subset=[left_id, "jcell"], ignore_index=True)
                yield rep

    lexp = lpts.mapInPandas(explode_disk, disk_schema)
    rpts = right.select(
        F.col(right_id), F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat")).withColumn(
        "jcell", cells.cell_col(F.col("r_lon"), F.col("r_lat"), res))
    cand = lexp.join(rpts, "jcell")
    dist = F.expr(haversine_sql("lon", "lat", "r_lon", "r_lat"))
    # cheap Δlat short-circuit ahead of the trig: meridional distance
    # is >= Δlat_deg · (π·R/180) ≈ Δlat · 111195 m, so any true match
    # satisfies |Δlat| <= dist_m/110574 (the conservative lat_pad) —
    # the k-ring spans up to k cells of latitude, so this prunes the
    # ring's corner candidates before the haversine evaluates
    return (cand.where((F.abs(F.col("lat") - F.col("r_lat"))
                        <= F.lit(float(lat_pad)))
                       & (dist <= F.lit(float(dist_m))))
            .select(left_id, right_id, dist.alias("dist_m")))


# ---------------------------------------------------------------------------
# kNN join (ring expansion + guaranteed fallback)
# ---------------------------------------------------------------------------

def _partition_topk(df: DataFrame, k: int, query_id: str,
                    cand_id: str, compact_rows: int = 2_000_000,
                    dist_col: str = "dist") -> DataFrame:
    """Per-PARTITION top-k reduction ahead of the per-query window.

    Narrow (no exchange): runs inside the cell-join stage and keeps, per
    input partition, only each query's k smallest (dist, cand_id) rows.
    Exactness: any global top-k row is by definition among the k
    smallest of its OWN partition, so the union of per-partition top-k
    sets is a superset of the true result and the downstream window
    re-ranks it; and ``sum_i min(k, n_i) >= min(k, sum_i n_i)`` keeps
    the ``found >= k`` guarantee count faithful.  A query's candidates
    land in at most as many partitions as its disk has distinct cell
    hashes, so the window exchange shrinks from ~all in-radius
    candidates per query (pi * factor * k at the adaptive radius) to
    <= k * |cells|.

    Why Arrow/pandas and not Spark's own WindowGroupLimit partial mode:
    the JVM pushdown is SORT-based — it must sort the whole task by
    (query, dist) first, and spatial skew concentrates a dense cell's
    entire join output in one task (6.5 GB spill measured, see the
    window note in knn_join).  The heap-shaped reduction here touches
    rows one bounded Arrow batch at a time (lexsort of ~10k rows) and
    compacts its per-query accumulator whenever it crosses
    ``compact_rows``, so the dense task streams in O(batch) memory and
    never spills, at any skew.

    Default OFF after measurement: on the 8M-corpus x 1M-query scaling
    workload at local[16]/sp32 the reduction shrank the window
    exchange ~4x (to 560 MB, zero spill, the downstream rank stage to
    2-4 s) but the Arrow+lexsort pass costs ~1.7 us per candidate row
    (~180 task-s) — more than the in-process shuffle+sort it replaces
    (A/B same-session: 40.5 s off vs 47.5 s on).  It is the right
    shape only where a shuffled byte costs far more than local CPU —
    a real NIC-bound cluster, or executor memory too small to sort
    the window exchange — so it ships as an explicit knob, exactness
    pinned by test_knn_partial_topk_output_identical.
    """
    schema = df.schema

    def _topk_pd(pdf: pd.DataFrame) -> pd.DataFrame:
        o = np.lexsort((pdf[cand_id].to_numpy(),
                        pdf[dist_col].to_numpy(),
                        pdf[query_id].to_numpy()))
        q = pdf[query_id].to_numpy()[o]
        idx = np.arange(len(q), dtype=np.int64)
        starts = np.zeros(len(q), dtype=np.int64)
        if len(q) > 1:
            change = np.empty(len(q), dtype=bool)
            change[0] = True
            change[1:] = q[1:] != q[:-1]
            starts = np.maximum.accumulate(np.where(change, idx, 0))
        return pdf.iloc[o[(idx - starts) < k]]

    def reduce_part(batches: Iterator[pd.DataFrame],
                    ) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        acc_rows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            r = _topk_pd(pdf)
            acc.append(r)
            acc_rows += len(r)
            if acc_rows > compact_rows:
                comb = _topk_pd(pd.concat(acc, ignore_index=True))
                acc = [comb]
                acc_rows = len(comb)
        if acc:
            yield _topk_pd(pd.concat(acc, ignore_index=True))

    return df.mapInPandas(reduce_part, schema)


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             resolutions: tuple[int, ...] = (16, 14, 12, 10, 8),
             rings: int = 1, target_cands: int = 64,
             query_id: str = "q_id", cand_id: str = "c_id",
             broadcast_queries: bool = False,
             broadcast_counts: bool | None = None,
             adaptive_factor: float | None = 9.0,
             brute_pairs_budget: int = 64_000_000,
             partial_topk: bool = False) -> DataFrame:
    """k nearest candidate points per query point (planar degrees).

    **Density-adaptive resolution** — the skew answer for kNN: a
    single grid resolution can't serve both a Zipf hot cluster (one
    coarse cell holding 30% of all points → quadratic candidate
    blow-up) and sparse regions (fine cells empty → no candidates).
    Instead:

    1. count candidates per cell at each resolution (one counts-only
       aggregation at the finest level, coarser levels roll up from
       the cell counts, all map-side combined);
    2. each query picks the FINEST resolution whose own-cell count
       already reaches ``target_cands`` (broadcast count join), so hot
       queries search small cells and sparse queries coarse ones.
       The ladder steps by 2 levels (r4: the old (14, 11, 8) ladder's
       8x-per-axis jumps let hot cells overshoot target_cands by up to
       64x — measured 2.3x slower on a 10M-candidate corpus);
    3. queries explode to grid_disk(rings) at their chosen resolution
       and equi-join candidates on that resolution's cell; per-query
       top-k by exact distance (partitioned window, no global sort).
       The branch joins shuffle on the cell: the candidate exchange is
       one reused subplan across branches and AQE prunes the branches
       whose query set is empty.  ``broadcast_queries=True`` instead
       broadcasts the exploded query side (|Q| × 9 cells) — MEASURED
       SLOWER here (10 s vs 2.5 s on a 10M-candidate corpus) because
       every branch must then stream the full candidate scan even
       when it has zero queries, but it remains the right shape when
       the candidate table is too large to shuffle at all;
    4. correctness guarantee (`|=|` must equal true NAD ordering,
       `56_tpoint_spatialfuncs.in.sql:186-214`): a query whose k-th
       distance exceeds the covered radius ``rings · cell_height`` —
       or that found fewer than k — re-runs in a brute pass over the
       (small) remainder.

    Candidates beyond the guarantee radius are filtered out map-side
    BEFORE the top-k window — routing-identical, because such a
    candidate can only matter to a query whose k-th distance exceeds
    the guarantee, and that query is re-run anyway: pre-filter, it
    failed ``dmax <= g``; post-filter it fails ``found >= k`` — the
    same query set retries either way, and a satisfied query's top-k
    lies entirely within g so its output rows are bit-identical.  This
    bounds the window's input to the ~pi·target_cands in-radius
    candidates per query instead of the ladder-overshoot disk
    population (own-cell count lands anywhere in
    [target, 16·target) from the 2-level step, ×9 disk cells — up to
    ~150x target): measured on an 8M-corpus × 1M-query pair, the
    unfiltered window spilled its sort at shuffle_partitions=cpus and
    capped scaling at 0.47 efficiency with a ~235 s non-scaling
    component (BENCH/quiet_knn_interval_r5.log attempt 8).

    ``adaptive_factor`` tightens that filter further, per query, from
    the own-cell DENSITY: with n candidates in the query's chosen
    cell (area a), the radius expected to hold ``adaptive_factor·k``
    candidates is r' = sqrt(factor·k·a / (pi·n)), and the filter uses
    min(g, r').  The SAME exactness argument applies at any radius:
    every surviving candidate is within r', every excluded one is
    beyond r', so ``found >= k`` proves the top-k exact, and a query
    whose k-th neighbour lies beyond r' simply fails into the
    widened-ring retry it already had.  The expected window input
    drops from ~pi·own_n per query (own_n up to 16·target from the
    ladder step) to ~factor·k — the difference between a spilling
    sort and an in-memory one at 1M queries (the r5-close profile
    measured the spilling form at 329→805 task-seconds from 4→16-way
    concurrency, BENCH/knn_profile_*_r5.txt, while the no-spill sort
    substrate scales at 0.83).  Queries whose chosen level has no
    counted cell (the coarsest-level fallback) keep the full g.
    ``None`` disables (filter at g exactly as before).
    """
    import math
    from pyspark.sql import Window
    resolutions = tuple(sorted(resolutions, reverse=True))
    finest = resolutions[0]

    cpts = candidates.select(
        F.col(cand_id), F.col("lon").alias("c_lon"),
        F.col("lat").alias("c_lat"))
    for r in resolutions:
        cpts = cpts.withColumn(
            f"cell{r}", cells.cell_col(F.col("c_lon"), F.col("c_lat"), r))
    cpts = cpts.persist()

    qpts = queries
    for r in resolutions:
        qpts = qpts.withColumn(
            f"cell{r}", cells.cell_col(F.col("lon"), F.col("lat"), r))

    # per-query resolution choice: finest level whose own cell already
    # holds >= target_cands candidates.  Counts are computed ONLY for
    # cells that contain a query (r4: a global per-cell count table at
    # res 16 is ~|C| rows and broadcasting it per level measured 13x
    # slower than the whole join) — the tiny query-cell set broadcasts
    # INTO one exploded candidate scan, the surviving rows aggregate
    # map-side, and the <= |Q|·levels result broadcasts back.  Cell
    # ids encode their resolution, so one combined table serves every
    # level's join without collisions.
    # ``broadcast_counts``: the broadcast form builds |Q|·levels-row
    # hash tables ON THE DRIVER — measured ~16 s of serial time per
    # call at 250k queries (Amdahl fit of the 4→16-core scaling pair:
    # 0.67 efficiency), which caps scaling however many executors the
    # cluster has.  Auto mode counts the query side (one narrow job)
    # and switches to a fully-parallel long-form shuffle join when it
    # is large; the broadcast form stays the default shape for the
    # common small-query-set case (it is 13x faster there, see above).
    if broadcast_counts is None:
        # the decision only needs "<= 50k or not", so probe with a
        # LIMIT: CollectLimit executes partitions incrementally and
        # stops at 50_001 rows, where a full count() scanned (and
        # re-derived) the whole query relation — a measured ~30
        # executor-s job of its own on an 8M-row derived input
        broadcast_counts = (
            queries.select(query_id).limit(50_001).count() <= 50_000)
    if broadcast_counts:
        qcells = (qpts.select(F.explode(F.array(
            *[F.col(f"cell{r}") for r in resolutions[:-1]])).alias("cell"))
            .distinct())
        counts = (cpts.select(F.explode(F.array(
            *[F.col(f"cell{r}") for r in resolutions[:-1]])).alias("cell"))
            .join(F.broadcast(qcells), "cell")
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= target_cands))
        for r in resolutions[:-1]:
            cnt = counts.select(F.col("cell"), F.col("n").alias(f"cnt{r}"))
            qpts = qpts.join(F.broadcast(cnt),
                             qpts[f"cell{r}"] == cnt["cell"], "left") \
                       .drop("cell")
        # build the chosen-resolution expression finest-first
        expr = F.lit(resolutions[-1])
        for r in reversed(resolutions[:-1]):
            expr = F.when(F.col(f"cnt{r}").isNotNull(), F.lit(r)) \
                    .otherwise(expr)
        qpts = qpts.withColumn("res", expr)
        # own-cell count at the chosen level (null at the coarsest
        # fallback level, which is never counted) — feeds the
        # adaptive filter radius
        own = F.lit(None).cast("long")
        for r in resolutions[:-1]:
            own = F.when(F.col("res") == r, F.col(f"cnt{r}")) \
                   .otherwise(own)
        qpts = qpts.withColumn("own_n", own)
    else:
        # long form: melt the query cells once, count candidates only
        # in query-occupied cells via ONE shuffle equi-join (cell ids
        # encode their resolution, so one join serves every level),
        # and pick the finest satisfied level with a max() — no
        # driver-side |Q|-sized structure anywhere, every stage
        # shuffles on a key.  Exactly the semantics of the broadcast
        # ladder above.
        qlong = qpts.select(query_id, F.explode(F.array(
            *[F.struct(F.lit(r).alias("r"),
                       F.col(f"cell{r}").alias("cell"))
              for r in resolutions[:-1]])).alias("s")) \
            .select(query_id, F.col("s.r").alias("r"),
                    F.col("s.cell").alias("cell"))
        clong = cpts.select(F.explode(F.array(
            *[F.col(f"cell{r}") for r in resolutions[:-1]])).alias("cell"))
        counts = (clong.join(qlong.select("cell").distinct(), "cell")
                  .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                  .where(F.col("n") >= target_cands))
        sat = (qlong.join(counts, "cell")
               .groupBy(query_id)
               .agg(F.max(F.struct("r", "n")).alias("s")))
        qpts = qpts.join(
            sat.select(query_id, F.col("s.r").alias("res"),
                       F.col("s.n").alias("own_n")), query_id, "left") \
            .withColumn("res", F.coalesce(F.col("res"),
                                          F.lit(resolutions[-1])))

    # coarsest-level own-cell counts: the ladder only counts the finer
    # levels (they gate the resolution CHOICE), so a query that falls
    # back to the coarsest level used to carry own_n = NULL and the
    # density-adaptive filter radius silently stayed at the full disk
    # guarantee — on the 8M x 1M scaling workload that fallback is the
    # COMMON case (coarse cells hold ~140 candidates, finer ones a
    # handful), so the top-k window sorted ~300 in-guarantee candidates
    # per query (6.7 GB / 1340 executor-s measured) instead of the
    # ~factor*k the adaptive radius promises.  The coarsest level has
    # at most 4^res cells, so its count table is broadcast-bounded by
    # construction — no query-cell restriction needed; gate on res<=11
    # (<= 4M cells) for exotic ladders and fall back to the old
    # NULL-own_n behaviour (full guarantee) beyond it.
    coarsest = resolutions[-1]
    if adaptive_factor is not None and coarsest <= 11:
        ccnt = cpts.groupBy(F.col(f"cell{coarsest}").alias("_ccell")) \
                   .agg(F.count(F.lit(1)).alias("_cn"))
        qpts = qpts.join(F.broadcast(ccnt),
                         qpts[f"cell{coarsest}"] == F.col("_ccell"),
                         "left").drop("_ccell")
        qpts = qpts.withColumn(
            "own_n",
            F.coalesce(F.col("own_n"),
                       F.when(F.col("res") == coarsest, F.col("_cn")))) \
            .drop("_cn")

    # persist: the chosen-resolution ladder (two joins + aggregations
    # over the candidate scan) feeds every per-resolution branch below
    # plus the retry pass — unpersisted, each branch re-ran the whole
    # ladder subtree (5 x ~30 executor-s measured on the 8M x 1M
    # workload).  |Q| rows x ~12 narrow columns.
    qpts = qpts.persist()

    w = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.asc(cand_id))
    dist = F.sqrt((F.col("lon") - F.col("c_lon")) ** 2
                  + (F.col("lat") - F.col("c_lat")) ** 2)

    parts = []
    for r in resolutions:
        guarantee = rings * 180.0 / (1 << r)
        if adaptive_factor is not None:
            # radius expected to hold ~factor*k candidates at the
            # own-cell density n / a_r, clamped to the disk guarantee
            a_r = (360.0 / (1 << r)) * (180.0 / (1 << r))
            r_ad = F.sqrt(F.lit(adaptive_factor * k * a_r / math.pi)
                          / F.col("own_n"))
            rad = F.when(F.col("own_n").isNotNull()
                         & (F.col("own_n") > 0),
                         F.least(F.lit(guarantee), r_ad)) \
                   .otherwise(F.lit(guarantee))
        else:
            rad = F.lit(guarantee)
        # JOIN one ladder level finer than the guarantee level: the
        # branch's filter radius (<= the guarantee g) is known per
        # query, so the cover only needs the rj-cells intersecting
        # circle(q, rad) — ceil(rad / cell_height(rj)) square rings,
        # at most rings * 2^(r - rj) of them (coverage parity with the
        # old r-level disk when rad == g; the square-ring argument is
        # unchanged because lon cells are WIDER than lat cells in
        # degrees, so the lat-height ring count dominates).  At the
        # default 2-level ladder step this shrinks the joined area
        # from 9 r-cell areas to <= (2*4+1)^2 / 16 ~ 5.1 — and to
        # ~1.6 when the adaptive radius bites (nr = 2) — which is the
        # join stage's CPU: measured 1.3e9 -> ~0.3e9 hash-probe +
        # distance evaluations on the 8M x 1M workload.  The exchange
        # grows (up to (2 nr_max+1)^2 / (2 rings+1)^2 more exploded
        # query rows) but stays narrow; the pair cut dominates at any
        # density that matters.
        idx = resolutions.index(r)
        rj = resolutions[idx - 1] if idx > 0 else r
        h_rj = 180.0 / (1 << rj)
        nr_max = max(1, rings * (1 << (rj - r))) if rj > r else rings
        q_r = qpts.where(F.col("res") == r) \
            .select(query_id, "lon", "lat",
                    F.col(f"cell{rj}").alias("cell"), rad.alias("rad"))
        disk_schema = StructType(list(q_r.schema.fields)
                                 + [StructField("jcell", LongType())])

        def explode_disk(batches: Iterator[pd.DataFrame],
                         _h=h_rj, _nmax=nr_max,
                         ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                nr = np.ceil(pdf["rad"].to_numpy() / _h)
                nr = np.clip(nr, 1, _nmax).astype(np.int64)
                for kk in np.unique(nr):
                    sub = pdf[nr == kk]
                    disk = cells.grid_disk_np(sub["cell"].to_numpy(),
                                              int(kk))
                    m = disk.shape[1]
                    rep = sub.loc[sub.index.repeat(m)] \
                             .reset_index(drop=True)
                    rep["jcell"] = disk.ravel()
                    rep = rep.drop_duplicates(subset=[query_id, "jcell"],
                                              ignore_index=True)
                    yield rep

        qexp = q_r.mapInPandas(explode_disk, disk_schema)
        if broadcast_queries:
            qexp = F.broadcast(qexp)
        # join strategy: plain sort-merge, measured A/B against a
        # shuffle_hash hint on the exploded-query build side at the
        # 8M x 1M workload (post radius-filter + finer-cell cover):
        # SMJ ran the join stage in 59 executor-s vs 118 for SHJ at 16
        # cores — the merge's sequential access wins over 0.3e9 random
        # hash probes once the pair count is filter-bounded, and the
        # sort spill that once argued for SHJ is gone (922 MB exchange,
        # zero spill measured at both 4 and 16 cores).
        cand = qexp.join(
            cpts.withColumnRenamed(f"cell{rj}", "jcell")
                .select(cand_id, "c_lon", "c_lat", "jcell"), "jcell") \
            .where(F.col(query_id) != F.col(cand_id))
        parts.append(
            cand.where(dist <= F.col("rad"))
                .select(query_id, cand_id, dist.alias("dist")))
    allcand = parts[0]
    for p in parts[1:]:
        allcand = allcand.unionByName(p)
    if partial_topk:
        allcand = _partition_topk(allcand, k, query_id, cand_id)
    # NOTE on window-exchange sizing (measured on the 8M x 1M scaling
    # pair, BENCH/quiet_knn_interval_r5.log): each query carries
    # ~pi*own_count in-radius candidates (own_count in
    # [target, 16*target) from the 2-level ladder), so at 1M queries
    # the top-k window sorts ~3.2e8 narrow rows (measured).  An explicit
    # repartition(|Q|/1250, query_id) to shrink sort partitions was
    # tried and REJECTED: it adds a full extra exchange of the
    # candidate relation (~5.9 GB written, +79 s at 16 cores) to save
    # a sort spill that adequate executor memory eliminates for free.
    # The sort partition count is spark.sql.shuffle.partitions — on a
    # real cluster that is sized to the data (thousands), and the
    # scaling harness provisions memory per core, so each sort
    # partition (~|cand|/sp) must fit the per-task execution memory
    # the deployment provides.
    # persist: feeds the guarantee check, keep-side anti-join, fallback
    #
    # WindowGroupLimit pushdown is DISABLED for this window
    # (spark.sql.optimizer.windowGroupLimitThreshold=-1, scoped to the
    # materializing count below): the pushed-down map-side top-k sort
    # runs INSIDE the cell-partitioned join stage, where spatial skew
    # concentrates a dense cell's whole join output in one task — the
    # profiled 8M x 1M workload spilled 6.5 GB there (max task 832 MB,
    # MEDIAN 0) and that one skewed sort was the job's entire
    # non-scaling residue.  Without the pushdown the narrow
    # post-radius-filter rows (~factor*k per query) hash-exchange on
    # the query id first, and the per-partition sort is balanced by
    # construction — measured spill-free at every parallelism level.
    sess = allcand.sparkSession
    _wgl = "spark.sql.optimizer.windowGroupLimitThreshold"
    _wgl_old = sess.conf.get(_wgl)
    sess.conf.set(_wgl, "-1")
    try:
        ranked = (allcand
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)).persist()

        # every surviving candidate is within that query's filter
        # radius (<= the guarantee g), so found >= k alone proves the
        # query satisfied — no excluded candidate can displace a
        # survivor; a query with ZERO in-radius candidates has no
        # per_q row at all, so bad is built by anti-join, not a
        # found<k filter
        per_q = ranked.groupBy(query_id).agg(
            F.count(F.lit(1)).alias("found"))
        ok = per_q.where(F.col("found") >= k).select(query_id)
        bad = queries.select(query_id).distinct() \
                     .join(ok, query_id, "left_anti")
        n_bad = bad.count()  # materializes `ranked` exactly once
    finally:
        sess.conf.set(_wgl, _wgl_old)
    keep = ranked.select(query_id, cand_id, "dist", "rank")
    if n_bad == 0:
        # `ranked` is materialized and holds every row `keep` needs;
        # release the ladder cache (same lazy pattern as ranked2)
        qpts.unpersist(blocking=False)
        return keep
    good = keep.join(bad, query_id, "left_anti")

    # tiny-remainder shortcut: the ring retry below is ~15 stages (five
    # branch joins with mapInPandas explodes, a window, gating
    # anti-joins — and its unpersisted subtree re-executes once more in
    # the caller's final evaluation).  When the failed set is small
    # relative to the corpus, one broadcast brute map-stage is strictly
    # cheaper: measured at sf0.01 bench scale (2k queries x 100k
    # candidates, local[8]) a SINGLE under-guaranteed query made the
    # retry path 14.6 s vs 4.3 s single-pass — the shortcut returns
    # that to ~one stage.  ``brute_pairs_budget`` is pair-evaluations
    # (n_bad * |C|, |C| from the already-persisted candidate relation),
    # so at the 8M scaling corpus only n_bad <= 8 short-circuits and
    # the bounded ring retry keeps owning the at-scale remainder
    # (0 disables the shortcut entirely — used by the retry-path
    # exactness tests, which run at toy |C|).
    if n_bad * cpts.count() <= brute_pairs_budget:
        # broadcast the (tiny) failed-query side so the cross join is
        # a nested-loop STREAMING the cached candidate scan once
        brute_q = F.broadcast(queries.join(F.broadcast(bad), query_id))
        brute = (brute_q.crossJoin(cpts.select(cand_id, "c_lon", "c_lat"))
                 .where(F.col(query_id) != F.col(cand_id))
                 .select(query_id, cand_id, dist.alias("dist"))
                 .withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k))
        qpts.unpersist(blocking=False)
        return good.unionByName(brute)

    # widened-ring RETRY before brute (a single under-guaranteed query
    # must not trigger a full candidate scan at scale): re-search each
    # failed query at its OWN chosen resolution with a 4× ring radius
    # (retrying at the coarsest resolution would pull a Zipf hot cell's
    # whole population into every nearby retry); only queries that
    # STILL miss the widened guarantee fall through to the brute pass.
    retry_rings = rings * 4
    redo_base = qpts.join(bad, query_id)
    rparts = []
    for r in resolutions:
        q_r = redo_base.where(F.col("res") == r) \
            .select(query_id, "lon", "lat",
                    F.col(f"cell{r}").alias("cell"))
        retry_schema = StructType(list(q_r.schema.fields)
                                  + [StructField("jcell", LongType())])

        def explode_retry(batches: Iterator[pd.DataFrame],
                          ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                disk = cells.grid_disk_np(pdf["cell"].to_numpy(),
                                          retry_rings)
                m = disk.shape[1]
                rep = pdf.loc[pdf.index.repeat(m)].reset_index(drop=True)
                rep["jcell"] = disk.ravel()
                rep = rep.drop_duplicates(subset=[query_id, "jcell"],
                                          ignore_index=True)
                yield rep

        rexp = q_r.mapInPandas(explode_retry, retry_schema)
        if broadcast_queries:
            rexp = F.broadcast(rexp)
        rc = (rexp
              .join(cpts.withColumnRenamed(f"cell{r}", "jcell")
                    .select(cand_id, "c_lon", "c_lat", "jcell"), "jcell")
              .where(F.col(query_id) != F.col(cand_id)))
        rguar = retry_rings * 180.0 / (1 << r)
        rparts.append(rc.select(query_id, cand_id, dist.alias("dist"))
                        .where(F.col("dist") <= F.lit(rguar)))
    rall = rparts[0]
    for p in rparts[1:]:
        rall = rall.unionByName(p)
    ranked2 = (rall.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= k)).persist()
    per_q2 = ranked2.groupBy(query_id).agg(
        F.count(F.lit(1)).alias("found"))
    ok2 = per_q2.where(F.col("found") >= k).select(query_id)
    bad2 = bad.join(ok2, query_id, "left_anti")
    n_bad2 = bad2.count()
    keep2 = ranked2.select(query_id, cand_id, "dist", "rank")
    # the persist existed to make the gating count cheap; release it
    # lazily so long-lived sessions don't leak cached partitions
    # (ranked2 is <= |Q|*k rows — a recompute on final evaluation is
    # one window over a small relation)
    ranked2.unpersist(blocking=False)
    if n_bad2 == 0:
        return good.unionByName(keep2)
    good2 = keep2.join(bad2, query_id, "left_anti")
    brute_q = queries.join(bad2, query_id)  # still-failing rows only
    brute = (brute_q.crossJoin(cpts.select(cand_id, "c_lon", "c_lat"))
             .where(F.col(query_id) != F.col(cand_id))
             .select(query_id, cand_id, dist.alias("dist"))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k))
    return good.unionByName(good2).unionByName(brute)


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
