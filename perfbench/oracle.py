"""Independent checks: numpy and DuckDB computations made apart from
the program, over the generator's lattice integers.

Each ``check_*`` returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

import gen


def _rows(*cols: np.ndarray) -> np.ndarray:
    """Sorted int64 row matrix: compare multisets of tuples exactly."""
    m = np.stack([np.asarray(c, np.int64) for c in cols], axis=1)
    return m[np.lexsort(m.T[::-1])]


def _diff(name: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape == want.shape and np.array_equal(got, want):
        return []
    if got.shape != want.shape:
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = np.flatnonzero((got != want).any(axis=1))
    return [f"{name}: {len(bad)} rows differ, first {got[bad[0]].tolist()} "
            f"vs {want[bad[0]].tolist()}"]


# --------------------------------------------------------------------------
# point in polygon
# --------------------------------------------------------------------------

def admin_matches(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray,
                                                             np.ndarray]:
    """(point index, poly_id) for every admin polygon containing a point.

    Convex rings, counter-clockwise: a point is inside (boundary
    included) when it lies on the left of or on every edge. Exact
    integer arithmetic in quarter-lattice units."""
    px, py = 4 * lon, 4 * lat
    pi, pid = [], []
    for k, ring in enumerate(gen.admin_rings4()):
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        cand = np.flatnonzero((px >= x0) & (px <= x1)
                              & (py >= y0) & (py <= y1))
        inside = np.ones(len(cand), bool)
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            cross = ((bx - ax) * (py[cand] - ay)
                     - (by - ay) * (px[cand] - ax))
            inside &= cross >= 0
        pi.append(cand[inside])
        pid.append(np.full(inside.sum(), k + 1))
    return np.concatenate(pi), np.concatenate(pid)


def grid_matches(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray,
                                                            np.ndarray]:
    """(point index, poly_id) for every closed grid cell holding a point:
    one cell inside, two on a shared edge, four on a shared corner."""
    x2 = 2 * lon - gen.GRID_X2_0
    y = lat - gen.GRID_Y0
    ix, rx = np.divmod(x2, gen.GRID_DX2)
    iy, ry = np.divmod(y, gen.GRID_DY)
    pi, pid = [], []
    for dx in (0, 1):
        for dy in (0, 1):
            gx = ix - dx
            gy = iy - dy
            ok = ((dx == 0) | (rx == 0)) & ((dy == 0) | (ry == 0))
            ok &= (gx >= 0) & (gx < gen.GRID_SIDE)
            ok &= (gy >= 0) & (gy < gen.GRID_SIDE)
            idx = np.flatnonzero(ok)
            pi.append(idx)
            pid.append(gen.GRID_ID0 + gy[idx] * gen.GRID_SIDE + gx[idx])
    return np.concatenate(pi), np.concatenate(pid)


def page_index(urls: pd.Series) -> np.ndarray:
    """Page number from the generator's ``.../p/<n>`` urls."""
    return urls.str.rsplit("/", n=1).str[1].astype(np.int64).to_numpy()


def to_lattice(v) -> np.ndarray:
    return np.rint(np.asarray(v, float) * gen.LATTICE).astype(np.int64)


def flagship_rows(truth: dict[str, np.ndarray], layer: str) -> np.ndarray:
    """Expected flagship rows (page, tag index, poly_id, lon, lat) under
    the closed-boundary PIP oracle."""
    match = admin_matches if layer == "admin" else grid_matches
    pi, pid = match(truth["lon"], truth["lat"])
    return _rows(truth["page"][pi], truth["tag_idx"][pi], pid,
                 truth["lon"][pi], truth["lat"][pi])


def check_flagship(df: pd.DataFrame, want: np.ndarray, label: str
                   ) -> list[str]:
    """Flagship output vs ``flagship_rows``; lon/lat must parse back to
    the generated lattice coordinates."""
    got = _rows(page_index(df["url"]), df["tag_idx"], df["poly_id"],
                to_lattice(df["lon"]), to_lattice(df["lat"]))
    return _diff(label, got, want)


def pip_rows(pts: dict[str, np.ndarray]) -> np.ndarray:
    """Expected (pt_id, poly_id) rows against the closed grid."""
    pi, pid = grid_matches(pts["lon"], pts["lat"])
    return _rows(pts["pt_id"][pi], pid)


def check_pip_points(df: pd.DataFrame, want: np.ndarray) -> list[str]:
    return _diff("pip_shuffle", _rows(df["pt_id"], df["poly_id"]), want)


# --------------------------------------------------------------------------
# tiles and pyramid
# --------------------------------------------------------------------------

def tile_bounds(x: np.ndarray, y: np.ndarray, zoom: int
                ) -> tuple[np.ndarray, ...]:
    """Inverse web-mercator: (lon_w, lon_e, lat_s, lat_n) of tiles."""
    n = float(1 << zoom)
    lon_w = x / n * 360.0 - 180.0
    lon_e = (x + 1) / n * 360.0 - 180.0
    lat_n = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * y / n))))
    lat_s = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * (y + 1) / n))))
    return lon_w, lon_e, lat_s, lat_n


def check_tiles(df: pd.DataFrame, zoom: int, tol: float = 1e-9
                ) -> list[str]:
    """Each point lies within ``tol`` of its tile's bounds."""
    if not (df["zoom"] == zoom).all():
        return [f"tiles: zoom other than {zoom}"]
    lon, lat = df["lon"].to_numpy(), df["lat"].to_numpy()
    w, e, s, n = tile_bounds(df["tile_x"].to_numpy(),
                             df["tile_y"].to_numpy(), zoom)
    bad = ((lon < w - tol) | (lon > e + tol)
           | (lat < s - tol) | (lat > n + tol))
    return [f"tiles: {bad.sum()} points outside their tile"] if bad.any() \
        else []


def check_pyramid(df: pd.DataFrame, n_points: int, max_zoom: int
                  ) -> list[str]:
    """Every zoom sums to the point count; each level is the next finer
    level with tile coordinates shifted right by one."""
    out = []
    levels = {z: g for z, g in df.groupby("zoom")}
    if sorted(levels) != list(range(max_zoom + 1)):
        return [f"pyramid: zoom levels {sorted(levels)}"]
    for z, g in levels.items():
        if int(g["n_points"].sum()) != n_points:
            out.append(f"pyramid: zoom {z} sums to {g['n_points'].sum()}, "
                       f"expected {n_points}")
    for z in range(max_zoom):
        child = levels[z + 1]
        rolled = (pd.DataFrame({"x": child["tile_x"].to_numpy() >> 1,
                                "y": child["tile_y"].to_numpy() >> 1,
                                "n": child["n_points"].to_numpy()})
                  .groupby(["x", "y"], as_index=False)["n"].sum())
        par = levels[z]
        out += _diff(f"pyramid z{z}",
                     _rows(par["tile_x"], par["tile_y"], par["n_points"]),
                     _rows(rolled["x"], rolled["y"], rolled["n"]))
    return out


# --------------------------------------------------------------------------
# distance joins
# --------------------------------------------------------------------------

def dwithin_pairs(lon: np.ndarray, lat: np.ndarray, r2: int) -> int:
    """Ordered pairs (self pairs included) with squared lattice distance
    <= ``r2``, by bucketing on a grid of cell side >= the radius."""
    side = int(math.isqrt(r2)) + 1
    bx, by = lon // side, lat // side
    order = np.lexsort((by, bx))
    keys = bx[order] * (1 << 32) + by[order]
    uk, start, cnt = np.unique(keys, return_index=True, return_counts=True)
    lx, ly = lon[order], lat[order]
    total = 0
    for ddx in (-1, 0, 1):
        for ddy in (-1, 0, 1):
            nk = uk + ddx * (1 << 32) + ddy
            j = np.searchsorted(uk, nk)
            j = np.minimum(j, len(uk) - 1)
            hit = np.flatnonzero(uk[j] == nk)
            for a, b in zip(hit.tolist(), j[hit].tolist()):
                xa, ya = lx[start[a]:start[a] + cnt[a]], \
                    ly[start[a]:start[a] + cnt[a]]
                xb, yb = lx[start[b]:start[b] + cnt[b]], \
                    ly[start[b]:start[b] + cnt[b]]
                d2 = ((xa[:, None] - xb[None, :]) ** 2
                      + (ya[:, None] - yb[None, :]) ** 2)
                total += int((d2 <= r2).sum())
    return total


def check_dwithin(df: pd.DataFrame, pts: dict[str, np.ndarray], r2: int,
                  want: int) -> list[str]:
    """Pair count vs ``dwithin_pairs`` (``want``), every returned pair
    within the radius and no pair returned twice."""
    out = [] if len(df) == want else \
        [f"dwithin: {len(df)} pairs, expected {want}"]
    lon, lat = pts["lon"], pts["lat"]
    l, r = df["l_id"].to_numpy(), df["r_id"].to_numpy()
    d2 = (lon[l] - lon[r]) ** 2 + (lat[l] - lat[r]) ** 2
    if (d2 > r2).any():
        out.append(f"dwithin: {(d2 > r2).sum()} pairs beyond the radius")
    if len(np.unique(_rows(l, r), axis=0)) != len(df):
        out.append("dwithin: duplicate pairs")
    return out


def knn_distances(q: np.ndarray, pts: dict[str, np.ndarray], k: int,
                  chunk: int = 256) -> np.ndarray:
    """Sorted k nearest distances (degrees) per query id, excluding the
    query point itself, by chunked brute force."""
    lon = pts["lon"] / gen.LATTICE
    lat = pts["lat"] / gen.LATTICE
    out = []
    for s in range(0, len(q), chunk):
        ids = q[s:s + chunk]
        d2 = ((lon[ids, None] - lon[None, :]) ** 2
              + (lat[ids, None] - lat[None, :]) ** 2)
        d2[np.arange(len(ids)), ids] = np.inf
        part = np.partition(d2, k - 1, axis=1)[:, :k]
        out.append(np.sort(np.sqrt(part), axis=1))
    return np.concatenate(out)


def check_knn(df: pd.DataFrame, q: np.ndarray, pts: dict[str, np.ndarray],
              k: int, tol: float = 1e-12) -> list[str]:
    """Each query's k distances, not ids, so ties do not matter."""
    if len(df) != len(q) * k:
        return [f"knn: {len(df)} rows, expected {len(q) * k}"]
    g = df.sort_values(["q_id", "dist"])
    if not np.array_equal(g["q_id"].to_numpy()[::k], np.sort(q)):
        return ["knn: query ids differ"]
    got = g["dist"].to_numpy().reshape(-1, k)
    want = knn_distances(np.sort(q), pts, k)
    bad = np.flatnonzero(np.abs(got - want).max(axis=1) > tol)
    return [f"knn: {len(bad)} queries with wrong distances"] if len(bad) \
        else []


# --------------------------------------------------------------------------
# trajectory queries vs their DuckDB oracle SQL
# --------------------------------------------------------------------------

def canon(df: pd.DataFrame) -> list[str]:
    """Order-insensitive canonical rows, floats rounded to 6 places."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(repr(tuple(
            (round(v, 6) if math.isfinite(v) else str(v))
            if isinstance(v, float) else v for v in tup)))
    return sorted(rows)


def duckdb_results(events_dir: str, sql: dict[str, str]
                   ) -> dict[str, list[str]]:
    """Run each oracle query in core DuckDB over the same parquet."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{events_dir}/*.parquet')")
        return {name: canon(con.sql(q).df()) for name, q in sql.items()}
    finally:
        con.close()


def check_canon(name: str, got: pd.DataFrame, want: list[str]) -> list[str]:
    a = canon(got)
    if len(a) != len(want):
        return [f"{name}: {len(a)} rows, expected {len(want)}"]
    bad = [i for i, (x, y) in enumerate(zip(a, want)) if x != y]
    return [f"{name}: {len(bad)} rows differ, first {a[bad[0]]} vs "
            f"{want[bad[0]]}"] if bad else []
