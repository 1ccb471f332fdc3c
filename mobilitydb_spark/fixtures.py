"""Deterministic synthetic fixtures (seed-stable, no external data).

Mirrors the reference's random-table generators
(`point/src/debug/create_test_tables_tpoint.sql:1-80`,
`…_big.sql:2`) re-expressed for the web-pages graft per FIXTURES.md:

- ``pages``: Common-Crawl-style rows (url, warc_ts, html, text, lang)
  with 0–10 ``geo:{lat:.5f},{lon:.5f}`` geotags embedded in ``text``;
  **byte-identical text per url across runs** (the per-row invariant
  from BASELINE.json.input_hint).  Domains are Zipf-distributed, a
  hot-key skew.
- ``polygons``: admin (small → broadcast path) and grid (large →
  shuffle path) layers, convex hulls over the Europe box
  `BOX(-10 32, 35 72)` (`create_test_tables_tpoint.sql:12-14`).

Generation is distributed: ``spark.range(n)`` → ``mapInPandas`` with
a splitmix64 counter-based RNG keyed on row id, so content depends
only on (seed, id) — never on partitioning, ordering or scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import geo

SEED = 42
N_DOMAINS = 1000
ZIPF_ALPHA = 1.2
EUROPE = (-10.0, 32.0, 35.0, 72.0)  # lon_min, lat_min, lon_max, lat_max
LANGS = np.array(["en", "de", "fr", "es", "ru"])
_WORDS = np.array(
    "the quick brown fox jumps over lazy dog page content crawl web data "
    "spark table join index tile zoom point polygon query engine batch "
    "stream text lang html parse extract filter refine shuffle".split())

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based RNG: deterministic per id, vectorized, overflow-safe."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _u01(ids: np.ndarray, stream: int) -> np.ndarray:
    """Uniform [0,1) keyed on (SEED, stream, id)."""
    h = _splitmix64(ids.astype(np.uint64)
                    ^ np.uint64(SEED * 0x100000001B3)
                    ^ np.uint64(stream * 0x9E3779B9))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# Zipf CDF over N_DOMAINS, precomputed once per process.
_zipf_w = 1.0 / np.arange(1, N_DOMAINS + 1, dtype=np.float64) ** ZIPF_ALPHA
_ZIPF_CDF = np.cumsum(_zipf_w) / _zipf_w.sum()


def _pages_batch(ids: np.ndarray) -> pd.DataFrame:
    domains = np.searchsorted(_ZIPF_CDF, _u01(ids, 1))
    path_h = _splitmix64(ids.astype(np.uint64) ^ np.uint64(7))
    urls = np.char.add(
        np.char.add("https://d", domains.astype("U8")),
        np.char.add(".example.org/p/", (path_h % np.uint64(10**12)).astype("U16")))

    ts = (np.datetime64("2001-01-01") +
          (_u01(ids, 2) * 364 * 86400).astype("timedelta64[s]"))

    n_tags = np.floor(_u01(ids, 3) * 11).astype(np.int64)  # 0..10
    n_words = 20 + np.floor(_u01(ids, 4) * 60).astype(np.int64)

    # two coordinate regimes per FIXTURES.md: Europe box + a local
    # hot-cluster (skew) near (8E, 50N)
    texts = []
    for i, rid in enumerate(ids):
        k = int(n_tags[i])
        widx = (_splitmix64(np.uint64(rid) * np.uint64(31)
                            + np.arange(int(n_words[i]), dtype=np.uint64))
                % np.uint64(len(_WORDS))).astype(np.int64)
        words = list(_WORDS[widx])
        if k:
            tag_ids = np.uint64(rid) * np.uint64(131) + np.arange(k, dtype=np.uint64)
            hot = _u01(tag_ids, 5) < 0.3
            lon = np.where(hot, 8.0 + (_u01(tag_ids, 6) - 0.5) * 0.2,
                           EUROPE[0] + _u01(tag_ids, 6) * (EUROPE[2] - EUROPE[0]))
            lat = np.where(hot, 50.0 + (_u01(tag_ids, 7) - 0.5) * 0.2,
                           EUROPE[1] + _u01(tag_ids, 7) * (EUROPE[3] - EUROPE[1]))
            pos = np.sort((_u01(tag_ids, 8) * len(words)).astype(np.int64))[::-1]
            for j in range(k):
                words.insert(int(pos[j]), f"geo:{lat[j]:.5f},{lon[j]:.5f}")
        texts.append(" ".join(words))

    langs = LANGS[(_splitmix64(ids.astype(np.uint64) ^ np.uint64(99))
                   % np.uint64(len(LANGS))).astype(np.int64)]
    htmls = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    return pd.DataFrame({
        "url": urls, "warc_ts": pd.Series(ts),
        "html": htmls, "text": texts, "lang": langs})


def pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table (content = f(seed, id))."""
    parts = partitions or max(4, min(64, n // 2500 or 4))

    def gen(batches):
        for pdf in batches:
            yield _pages_batch(pdf["id"].to_numpy())

    return spark.range(0, n, 1, parts).mapInPandas(gen, PAGES_SCHEMA)


def polygons_pd(layer: str = "admin", n: int | None = None) -> pd.DataFrame:
    """Seeded convex polygons over the Europe box as (poly_id, layer, wkb).

    admin: 64 polys (broadcast path); grid: n cells (shuffle path).
    """
    if layer == "admin":
        n = n or 64
        rows = []
        for pid in range(1, n + 1):
            ids = np.uint64(pid) * np.uint64(1009) + np.arange(8, dtype=np.uint64)
            cx = EUROPE[0] + _u01(np.array([np.uint64(pid)]), 11)[0] * (EUROPE[2] - EUROPE[0])
            cy = EUROPE[1] + _u01(np.array([np.uint64(pid)]), 12)[0] * (EUROPE[3] - EUROPE[1])
            r = 0.5 + _u01(np.array([np.uint64(pid)]), 13)[0] * 3.0
            ang = np.sort(_u01(ids, 14) * 2 * np.pi)
            pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
            ring = np.vstack([pts, pts[:1]])
            rows.append((pid, "admin", geo.polygon_wkb(ring), 4326))
        # degenerate cases per FIXTURES.md: one empty polygon + one
        # covering the hot cluster at (8E, 50N)
        rows.append((n + 1, "admin", geo.polygon_wkb(
            np.array([[7.8, 49.8], [8.2, 49.8], [8.2, 50.2], [7.8, 50.2],
                      [7.8, 49.8]])), 4326))
        return pd.DataFrame(rows, columns=["poly_id", "layer", "geom_wkb", "srid"])
    if layer == "grid":
        n = n or 10000
        side = int(np.ceil(np.sqrt(n)))
        dx = (EUROPE[2] - EUROPE[0]) / side
        dy = (EUROPE[3] - EUROPE[1]) / side
        rows = []
        for pid in range(n):
            gx, gy = pid % side, pid // side
            x0 = EUROPE[0] + gx * dx
            y0 = EUROPE[1] + gy * dy
            ring = np.array([[x0, y0], [x0 + dx, y0], [x0 + dx, y0 + dy],
                             [x0, y0 + dy], [x0, y0]])
            rows.append((100000 + pid, "grid", geo.polygon_wkb(ring), 4326))
        return pd.DataFrame(rows, columns=["poly_id", "layer", "geom_wkb", "srid"])
    raise ValueError(layer)


def polygons(spark: SparkSession, layer: str = "admin",
             n: int | None = None) -> DataFrame:
    return spark.createDataFrame(
        polygons_pd(layer, n),
        "poly_id bigint, layer string, geom_wkb binary, srid int")
