"""Seeded, vectorised input generator for the benchmark.

Every coordinate is an integer on the 1e-5 degree lattice (five
decimals, as geotags appear in page text); the program only ever sees
the formatted decimal strings or the doubles parsed from them, while
the checks in ``oracle.py`` work on the integers.

Inputs:

- ``pages``: Common-Crawl-style rows (url, warc_ts, html, text, lang)
  with 0-10 ``geo:lat,lon`` tags, 30 % of the tags in a hot cluster
  near (8E, 50N), the rest uniform over the Europe box.
- ``points``: (pt_id, lon, lat) with the same coordinate law, plus a
  fixed, seed-independent block of points lying exactly on grid
  edges and corners; ``point_pages`` carries the same points as
  geotags, ``PER_PAGE`` to a page.
- ``admin``: 64 axis/diagonal octagons plus one rectangle over the hot
  cluster. Every vertex sits a quarter lattice step off in x and half
  a step in y, so no lattice point lies within 1.7e-6 degrees of an
  admin edge: the boundary rule never decides an admin match.
- ``grid``: 64 x 64 closed rectangles over the Europe box, with dyadic
  edges that lattice points can lie on exactly.
- ``events``: the ``events`` table the registry's trajectory queries
  read (event_id, ts, user_id, event_type, value, props), January 2024.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LATTICE = 100_000  # lattice steps per degree (five decimals)
EUROPE = (-10, 32, 35, 72)  # lon_min, lat_min, lon_max, lat_max (deg)
HOT = (8, 50)  # hot-cluster centre (deg)
HOT_SHARE = 0.3
HOT_HALF = 10_000  # hot-cluster half width (lattice steps = 0.1 deg)

GRID_SIDE = 64
GRID_ID0 = 100_000
# grid edges in half-lattice units: x_k = X2_0 + k * GRID_DX2 (exact)
GRID_X2_0 = 2 * EUROPE[0] * LATTICE
GRID_DX2 = 2 * (EUROPE[2] - EUROPE[0]) * LATTICE // GRID_SIDE  # 140625
GRID_Y0 = EUROPE[1] * LATTICE
GRID_DY = (EUROPE[3] - EUROPE[1]) * LATTICE // GRID_SIDE  # 62500

N_OCTAGONS = 64
# vertex offset from the lattice in quarter-lattice units: (1/4, 2/4)
VERTEX_OFF4 = (1, 2)
PER_PAGE = 5
FILES = 4  # parquet files per table, one per core of the reference box

_WORDS = np.array(
    "the quick brown fox jumps over lazy dog page content crawl web data "
    "spark table join index tile zoom point polygon query engine batch "
    "stream text lang html parse extract filter refine shuffle".split())
LANGS = np.array(["en", "de", "fr", "es", "ru"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def lattice_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray,
                                                             np.ndarray]:
    """(lon, lat) int64 lattice coordinates with the hot/uniform law."""
    hot = rng.random(n) < HOT_SHARE
    lon = np.where(
        hot, HOT[0] * LATTICE + rng.integers(-HOT_HALF, HOT_HALF, n),
        EUROPE[0] * LATTICE
        + rng.integers(0, (EUROPE[2] - EUROPE[0]) * LATTICE, n))
    lat = np.where(
        hot, HOT[1] * LATTICE + rng.integers(-HOT_HALF, HOT_HALF, n),
        EUROPE[1] * LATTICE
        + rng.integers(0, (EUROPE[3] - EUROPE[1]) * LATTICE, n))
    return lon.astype(np.int64), lat.astype(np.int64)


def fmt5(v: np.ndarray) -> list[str]:
    """Lattice integers as exact five-decimal strings."""
    return [f"{x:.5f}" for x in (v / LATTICE).tolist()]


def _text(rng: np.random.Generator, tags: list[str],
          counts: np.ndarray) -> list[str]:
    """Page texts: filler words around each page's geotags, in order."""
    n = len(counts)
    fill = [" ".join(_WORDS[rng.integers(0, len(_WORDS), 12)])
            for _ in range(64)]
    a = rng.integers(0, len(fill), n).tolist()
    b = rng.integers(0, len(fill), n).tolist()
    ends = np.cumsum(counts).tolist()
    out, s = [], 0
    for i, e in enumerate(ends):
        out.append(f"{fill[a[i]]} {' '.join(tags[s:e])} {fill[b[i]]}")
        s = e
    return out


def _pages_table(urls: list[str], texts: list[str],
                 rng: np.random.Generator) -> pa.Table:
    n = len(urls)
    ts = (np.datetime64("2001-01-01T00:00:00", "us")
          + (rng.random(n) * 364 * 86400 * 1e6).astype("timedelta64[us]"))
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], pa.string()),
    })


def pages(seed: int, n: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """Pages with 0-10 geotags each; returns (table, truth).

    ``truth`` holds one entry per tag: page index, tag index within the
    page and lattice lon/lat, in text order."""
    rng = np.random.default_rng([seed, 1])
    counts = rng.integers(0, 11, n)
    lon, lat = lattice_points(rng, int(counts.sum()))
    tags = [f"geo:{y},{x}" for y, x in zip(fmt5(lat), fmt5(lon))]
    page = np.repeat(np.arange(n), counts)
    starts = np.cumsum(counts) - counts
    tag_idx = np.arange(len(page)) - np.repeat(starts, counts)
    domains = rng.zipf(1.2, n) % 1000
    urls = [f"https://d{d}.example.org/p/{i}"
            for i, d in enumerate(domains.tolist())]
    table = _pages_table(urls, _text(rng, tags, counts), rng)
    return table, {"page": page, "tag_idx": tag_idx, "lon": lon, "lat": lat}


def edge_points() -> tuple[np.ndarray, np.ndarray]:
    """Fixed points exactly on shared grid edges and corners.

    Under a closed boundary each lies in two (edge) or four (corner)
    grid cells; they do not depend on the seed."""
    xs, ys = [], []
    for k in (2, 10, 20, 40):  # even k: the edge is on the lattice
        x = (GRID_X2_0 + k * GRID_DX2) // 2
        xs.append(x)  # vertical edge, mid-cell in y
        ys.append(GRID_Y0 + 9 * GRID_DY + GRID_DY // 2)
    for k in (5, 30):
        xs.append((GRID_X2_0 + 7 * GRID_DX2) // 2)  # horizontal edge
        ys.append(GRID_Y0 + k * GRID_DY)
    for k in (12, 50):  # corners
        xs.append((GRID_X2_0 + k * GRID_DX2) // 2)
        ys.append(GRID_Y0 + k // 2 * GRID_DY)
    return np.array(xs, np.int64), np.array(ys, np.int64)


def points(seed: int, n: int) -> dict[str, np.ndarray]:
    """``n`` seeded points followed by the fixed edge points."""
    rng = np.random.default_rng([seed, 2])
    lon, lat = lattice_points(rng, n)
    ex, ey = edge_points()
    lon, lat = np.concatenate([lon, ex]), np.concatenate([lat, ey])
    return {"pt_id": np.arange(len(lon), dtype=np.int64),
            "lon": lon, "lat": lat}


def points_table(pts: dict[str, np.ndarray]) -> pa.Table:
    """Points as doubles: ``v / LATTICE`` is the double nearest the
    five-decimal value, the same one parsing the geotag text gives."""
    return pa.table({"pt_id": pts["pt_id"],
                     "lon": pts["lon"] / LATTICE,
                     "lat": pts["lat"] / LATTICE})


def point_pages(seed: int, pts: dict[str, np.ndarray]) -> pa.Table:
    """Pages carrying the points as geotags, ``PER_PAGE`` per page:
    point ``i`` is tag ``i % PER_PAGE`` of page ``i // PER_PAGE``."""
    rng = np.random.default_rng([seed, 3])
    n = len(pts["pt_id"])
    n_pages = -(-n // PER_PAGE)
    counts = np.full(n_pages, PER_PAGE)
    counts[-1] = n - PER_PAGE * (n_pages - 1)
    tags = [f"geo:{y},{x}" for y, x in zip(fmt5(pts["lat"]),
                                          fmt5(pts["lon"]))]
    urls = [f"https://pts.example.org/p/{i}" for i in range(n_pages)]
    return _pages_table(urls, _text(rng, tags, counts), rng)


def admin_rings4() -> list[np.ndarray]:
    """Admin polygon rings in quarter-lattice integer units (closed,
    counter-clockwise): 64 octagons with axis-parallel and diagonal
    edges, then the hot-cluster rectangle. Fixed, not seeded."""
    rng = np.random.default_rng(4_2)
    rings = []
    for _ in range(N_OCTAGONS):
        cx = rng.integers(EUROPE[0] * LATTICE, EUROPE[2] * LATTICE)
        cy = rng.integers(EUROPE[1] * LATTICE, EUROPE[3] * LATTICE)
        a = int(rng.integers(50_000, 350_000))
        b = int(a * 0.41421356)
        v = np.array([(a, b), (b, a), (-b, a), (-a, b), (-a, -b), (-b, -a),
                      (b, -a), (a, -b), (a, b)], np.int64)
        rings.append(4 * (v + [cx, cy]) + VERTEX_OFF4)
    x0, x1 = (HOT[0] * LATTICE - 20_000) * 4, (HOT[0] * LATTICE + 20_000) * 4
    y0, y1 = (HOT[1] * LATTICE - 20_000) * 4, (HOT[1] * LATTICE + 20_000) * 4
    rect = np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                    np.int64) + VERTEX_OFF4
    rings.append(rect)
    return rings


def grid_rings2() -> list[np.ndarray]:
    """Grid rectangles as closed rings in half-lattice integer units,
    poly_id ``GRID_ID0 + gy * GRID_SIDE + gx``."""
    rings = []
    for pid in range(GRID_SIDE * GRID_SIDE):
        gx, gy = pid % GRID_SIDE, pid // GRID_SIDE
        x0, x1 = GRID_X2_0 + gx * GRID_DX2, GRID_X2_0 + (gx + 1) * GRID_DX2
        y0, y1 = 2 * (GRID_Y0 + gy * GRID_DY), 2 * (GRID_Y0 + (gy + 1) * GRID_DY)
        rings.append(np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                               (x0, y0)], np.int64))
    return rings


def polygons_pd(layer: str) -> pd.DataFrame:
    """A layer as the program's (poly_id, layer, geom_wkb, srid) frame."""
    from mobilitydb_spark import geo
    if layer == "admin":
        rings, scale, ids = admin_rings4(), 4 * LATTICE, range(1, 66)
    elif layer == "grid":
        rings, scale = grid_rings2(), 2 * LATTICE
        ids = range(GRID_ID0, GRID_ID0 + GRID_SIDE * GRID_SIDE)
    else:
        raise ValueError(layer)
    rows = [(pid, layer, geo.polygon_wkb(r / scale), 4326)
            for pid, r in zip(ids, rings)]
    return pd.DataFrame(rows, columns=["poly_id", "layer", "geom_wkb", "srid"])


def events(seed: int, n: int, n_users: int) -> pa.Table:
    """An ``events`` table as the registry queries read it: January
    2024, microsecond times."""
    rng = np.random.default_rng([seed, 5])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n))
    value = np.round(rng.lognormal(3.4, 1.0, n), 2)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": value,
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n).tolist()]),
    })


def write(table: pa.Table, path: str) -> None:
    """Write ``table`` as a parquet directory of ``FILES`` files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
