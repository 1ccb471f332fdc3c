"""Hierarchical cell index ("mgrid") — the engine's H3/S2 stand-in.

The reference (MobilityDB) gets its spatial filter step from GiST
R-trees over STBOX keys (`point/src/tpoint_gist.c:51-199`) and an
SP-GiST oct-tree (`point/src/tpoint_spgist.c:1-60`).  Neither index
structure makes sense on Spark; the idiomatic equivalent is a
*cell-cover equi-join*: every geometry is expanded to the set of
hierarchical grid cells it touches, both join sides shuffle on the
cell id, and an exact kernel refines candidate pairs.  This module
defines that grid.

Scheme (deliberately simple, deterministic and **SQL-expressible**
so DuckDB oracles can reproduce cell ids exactly):

- equirectangular grid over lon ∈ [-180, 180), lat ∈ [-90, 90]
- at resolution ``r`` (0..29) each axis splits into ``2**r`` cells:
    x = clamp(floor((lon + 180) / 360 * 2^r), 0, 2^r - 1)
    y = clamp(floor((90 - lat) / 180 * 2^r), 0, 2^r - 1)
- packed id (non-negative int64):
    cell_id = r * 2^58 + x * 2^29 + y

Parent/child moves are bit shifts on x and y; ``grid_disk`` is the
k-ring of (x, y) neighbours with longitude wrap-around — the
equivalent of H3 ``grid_disk`` used by the reference's
``expandSpatial`` (`point/src/tpoint_boxops.c:440-538`) for dwithin
expansion.

Everything here exists in three forms:
  * numpy kernels (driver-side decoding and the test references),
  * Spark ``Column`` builders (pure built-in functions, stay in
    whole-stage codegen),
  * SQL snippet builders: ``cell_sql`` is shared verbatim by Spark SQL
    and DuckDB (used by ``__spark_entry__.oracle_sql``); the covers
    and rings (``cover_sql``, ``grid_disk_sql``) are Spark SQL, built
    in Catalyst with no Python pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

R_BITS = 58
X_BITS = 29
X_SHIFT = 1 << X_BITS  # 2^29
R_SHIFT = 1 << R_BITS  # 2^58

# Earth mean radius in meters — shared by geo.haversine.
EARTH_RADIUS_M = 6371008.8

# meters per degree latitude (used for dwithin ring sizing)
M_PER_DEG_LAT = EARTH_RADIUS_M * np.pi / 180.0


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------

def xy_np(lon: np.ndarray, lat: np.ndarray, res: int):
    """Vectorized (x, y) cell coordinates at resolution ``res``."""
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lat/lng→cell (the h3.latlng_to_cell analog)."""
    x, y = xy_np(lon, lat, res)
    return (np.int64(res) << R_BITS) | (x << X_BITS) | y


def cell_res(cell: np.ndarray) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> R_BITS


def cell_xy(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    x = (cell >> X_BITS) & (X_SHIFT - 1)
    y = cell & (X_SHIFT - 1)
    return x, y


def cell_parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen a cell id to ``parent_res`` (h3 cell_to_parent analog)."""
    cell = np.asarray(cell, dtype=np.int64)
    r = cell_res(cell)
    dr = r - parent_res
    x, y = cell_xy(cell)
    return (np.int64(parent_res) << R_BITS) | ((x >> dr) << X_BITS) | (y >> dr)


def cell_bounds(cell: np.ndarray):
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    r = cell_res(cell)
    n = (np.int64(1) << r).astype(np.float64)
    x, y = cell_xy(cell)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_max = 90.0 - y / n * 180.0
    lat_min = 90.0 - (y + 1) / n * 180.0
    return lon_min, lat_min, lon_max, lat_max


def grid_disk_np(cell: np.ndarray, k: int) -> np.ndarray:
    """k-ring neighbourhood, shape (len(cell), (2k+1)^2).

    Longitude wraps modulo 2^r; latitude clamps, so a row can repeat a
    cell at the poles.  The test reference for ``grid_disk_sql`` with
    kx = ky = k; the joins build their rings with that SQL form.
    """
    cell = np.asarray(cell, dtype=np.int64)
    r = cell_res(cell)
    n = np.int64(1) << r
    x, y = cell_xy(cell)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (x[:, None] + dx) % n[:, None]
    ny = np.clip(y[:, None] + dy, 0, (n - 1)[:, None])
    return (r[:, None] << R_BITS) | (nx << X_BITS) | ny


def grid_rect_np(cell: np.ndarray, kx: int, ky: int) -> np.ndarray:
    """Rectangular (2kx+1)×(2ky+1) neighbourhood, shape
    (len(cell), (2kx+1)·(2ky+1)) — the per-axis form of
    ``grid_disk_np`` (r6): grid cells are twice as wide in longitude
    degrees as they are tall, so a square k-ring sized to the
    longitude radius over-covers latitude by ~2× (and the old
    ceil(deg/h)+1 sizing by another ring).  Longitude wraps modulo
    2^r; latitude clamps.  The test reference for ``grid_disk_sql``,
    which the dwithin and kNN joins run in Catalyst."""
    cell = np.asarray(cell, dtype=np.int64)
    r = cell_res(cell)
    n = np.int64(1) << r
    x, y = cell_xy(cell)
    ox = np.arange(-kx, kx + 1, dtype=np.int64)
    oy = np.arange(-ky, ky + 1, dtype=np.int64)
    dx, dy = np.meshgrid(ox, oy, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = (x[:, None] + dx) % n[:, None]
    ny = np.clip(y[:, None] + dy, 0, (n - 1)[:, None])
    return (r[:, None] << R_BITS) | (nx << X_BITS) | ny


def cover_res_np(lon_min, lat_min, lon_max, lat_max, res: int,
                 max_cells: int = 4096):
    """The resolution ``cover_bbox_np`` would cover each bbox at: the
    finest r <= res whose cover fits ``max_cells`` cells, 0 if none.

    Bounds-only (no cell materialization) — lets a caller enumerate
    the distinct cover levels of a polygon layer without evaluating
    the full cover explosion.  Scalar bounds give an int, arrays an
    array."""
    r = np.zeros(np.shape(lon_min), dtype=np.int64)
    todo = np.ones(r.shape, dtype=bool)
    for rr in range(res, 0, -1):
        x0, y1 = xy_np(lon_min, lat_min, rr)
        x1, y0 = xy_np(lon_max, lat_max, rr)
        fits = todo & ((x1 - x0 + 1) * (y1 - y0 + 1) <= max_cells)
        r = np.where(fits, rr, r)
        todo &= ~fits
        if not todo.any():
            break
    return int(r) if r.ndim == 0 else r


def cover_bboxes_np(lon_min, lat_min, lon_max, lat_max, res: int,
                    max_cells: int = 4096):
    """``cover_bbox_np`` of N bboxes at once, with no Python loop:
    (cells, owner), ``owner[i]`` the index of the bbox cell i covers.

    The test reference for ``cover_sql``: the PIP joins build their
    covers in Catalyst from each polygon's ``cover_res_np`` level."""
    lon_min, lat_min, lon_max, lat_max = (
        np.atleast_1d(np.asarray(a, dtype=np.float64))
        for a in (lon_min, lat_min, lon_max, lat_max))
    r = cover_res_np(lon_min, lat_min, lon_max, lat_max, res, max_cells)
    x0, y1 = xy_np(lon_min, lat_min, r)
    x1, y0 = xy_np(lon_max, lat_max, r)
    ny = y1 - y0 + 1
    count = (x1 - x0 + 1) * ny
    owner = np.repeat(np.arange(len(r)), count)
    k = np.arange(len(owner)) - np.repeat(np.cumsum(count) - count, count)
    gx = x0[owner] + k // ny[owner]
    gy = y0[owner] + k % ny[owner]
    return (r[owner] << R_BITS) | (gx << X_BITS) | gy, owner


def cover_bbox_np(lon_min, lat_min, lon_max, lat_max, res: int,
                  max_cells: int = 4096) -> np.ndarray:
    """All cells at ``res`` whose box intersects the given bbox.

    The Spark stand-in for computing an R-tree key cover of an STBOX
    (`point/src/tpoint_boxops.c:246-538`).  If the bbox would need
    more than ``max_cells``, the resolution is coarsened — covers are
    conservative by construction, the refine step stays exact.
    """
    return cover_bboxes_np(lon_min, lat_min, lon_max, lat_max, res,
                           max_cells)[0]


# ---------------------------------------------------------------------------
# Spark Column builders (pure built-ins → whole-stage codegen)
# ---------------------------------------------------------------------------

def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """lat/lng→cell as a Catalyst expression (no UDF)."""
    n = float(1 << res)
    x = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)),
                           F.lit(0)), F.lit(int(n) - 1)).cast("long")
    y = F.least(F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(n)),
                           F.lit(0)), F.lit(int(n) - 1)).cast("long")
    return (F.lit(res * R_SHIFT).cast("long")
            + x * F.lit(X_SHIFT).cast("long") + y)


# ---------------------------------------------------------------------------
# SQL snippets (``cell_sql`` text runs in Spark SQL and DuckDB alike)
# ---------------------------------------------------------------------------

def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """SQL text computing the cell id — valid in Spark SQL AND DuckDB."""
    n = 1 << res
    x = (f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) "
         f"AS BIGINT), 0), {n - 1})")
    y = (f"LEAST(GREATEST(CAST(FLOOR((90.0 - ({lat_expr})) / 180.0 * {n}) "
         f"AS BIGINT), 0), {n - 1})")
    return (f"(CAST({res} AS BIGINT) * {R_SHIFT} + ({x}) * {X_SHIFT} + ({y}))")


def _xy_sql(lon_expr: str, lat_expr: str, n_expr: str) -> tuple[str, str]:
    """Spark SQL text of ``xy_np`` with the cells per axis, ``n_expr``,
    as SQL text: the same float64 steps, so the same indices."""
    def index(num: str, span: str) -> str:
        return (f"least(greatest(floor({num} / {span} * {n_expr}), 0L), "
                f"{n_expr} - 1)")
    return (index(f"({lon_expr} + 180D)", "360D"),
            index(f"(90D - ({lat_expr}))", "180D"))


def _cell_id_sql(r_expr: str, x_expr: str, y_expr: str) -> str:
    """Spark SQL text packing a level and bigint (x, y) into a cell id."""
    return (f"(shiftleft(CAST({r_expr} AS BIGINT), {R_BITS}) "
            f"| shiftleft({x_expr}, {X_BITS}) | {y_expr})")


def cell_at_sql(lon_expr: str, lat_expr: str, r_expr: str) -> str:
    """Spark SQL text: ``cell_np`` at a per-row level ``r_expr`` (for
    instance a lambda variable), where ``cell_sql`` takes a constant."""
    x, y = _xy_sql(lon_expr, lat_expr, f"shiftleft(1L, {r_expr})")
    return _cell_id_sql(r_expr, x, y)


def cover_sql(r_expr: str, bx0: str, by0: str, bx1: str, by1: str) -> str:
    """Spark SQL text: the array of cells at level ``r_expr`` whose box
    intersects the bbox (bx0, by0, bx1, by1) — ``cover_bboxes_np``'s
    cover of one row at the level it picked, column-major like it.

    A ``sequence`` over the x index range, one over the y range, and
    the cell id built as ``grid_disk_sql`` builds it."""
    n = f"shiftleft(1L, {r_expr})"
    x0, y1 = _xy_sql(bx0, by0, n)
    x1, y0 = _xy_sql(bx1, by1, n)
    return (f"flatten(transform(sequence({x0}, {x1}), gx -> "
            f"transform(sequence({y0}, {y1}), gy -> "
            f"{_cell_id_sql(r_expr, 'gx', 'gy')})))")


def grid_disk_sql(cell_expr: str, kx_expr: str, ky_expr: str) -> str:
    """Spark SQL text: ``grid_rect_np``'s (2kx+1)×(2ky+1) neighbourhood
    of a cell as an array of cell ids, with the cell (any resolution),
    kx and ky per row.

    Longitude wraps modulo 2^r and latitude clamps to the grid, but no
    cell repeats: the clamped latitude range is shorter at the poles,
    and a ring wider than the grid takes each column once."""
    r = f"CAST(shiftright({cell_expr}, {R_BITS}) AS INT)"
    n = f"shiftleft(1L, {r})"
    x = f"(shiftright({cell_expr}, {X_BITS}) & {X_SHIFT - 1})"
    y = f"({cell_expr} & {X_SHIFT - 1})"
    xs = (f"IF(2 * {kx_expr} + 1 >= {n}, sequence(0L, {n} - 1), "
          f"transform(sequence({x} - {kx_expr}, {x} + {kx_expr}), "
          f"v -> pmod(v, {n})))")
    ys = (f"sequence(greatest({y} - {ky_expr}, 0L), "
          f"least({y} + {ky_expr}, {n} - 1))")
    return (f"flatten(transform({xs}, gx -> transform({ys}, gy -> "
            f"{_cell_id_sql(r, 'gx', 'gy')})))")
