"""Flagship pipeline: pages → geotag points → PIP join → tiles.

The end-to-end slice from SURVEY §7: for each web page, extract
``geo:lat,lon`` geotags from ``text`` (JVM-side regexp — no Python in
the extraction hot path), encode each point into the hierarchical
cell grid, spatially join against a small polygon layer (broadcast
cover and edges, refined in Catalyst), and assign web-mercator tiles.

Semantics parity: the join predicate is the reference's
``intersects(geom, tgeompoint)`` filter+refine pattern
(`point/src/sql/66_tpoint_spatialrels.in.sql:32-48`): phase 1 is the
cell/bucket prefilter (replacing the ``&&`` GiST probe), phase 2 the
exact point-in-polygon kernel (replacing GEOS ``intersects``).

Resumability (north rule): ``run_partitioned`` processes the pages
table in deterministic url-hash buckets and records one lineage row
per completed bucket (bucket id, rows in/out, wall time) in a
lineage/metrics table; re-running skips completed buckets — the
Iceberg-style per-partition checkpoint, implemented over parquet in
the sandbox.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, joins, tiles

GEOTAG_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"
DEFAULT_RES = 12  # ~10 km cells at the equator — candidate-filter grain


def extract_points(pages: DataFrame) -> DataFrame:
    """pages → one row per geotag (url, warc_ts, lang, tag_idx, lon, lat).

    Stays entirely in whole-stage codegen: regexp_extract_all +
    posexplode + casts.  Column pruning pushes (url, warc_ts, lang,
    text) into the scan; ``html`` is never read.
    """
    tags = pages.select(
        "url", "warc_ts", "lang",
        F.posexplode(F.regexp_extract_all("text", F.lit(GEOTAG_RE), 0))
         .alias("tag_idx", "tag"))
    return tags.select(
        "url", "warc_ts", "lang", "tag_idx",
        F.regexp_extract("tag", GEOTAG_RE, 2).cast("double").alias("lon"),
        F.regexp_extract("tag", GEOTAG_RE, 1).cast("double").alias("lat"))


def with_cell(points: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    # SQL text is parsed in one py4j call; ``cells.cell_col`` builds the
    # same expression at a round trip per node (~30 per call)
    return points.withColumn("cell", F.expr(cells.cell_sql("lon", "lat", res)))


def flagship(pages: DataFrame, polygons_pdf: pd.DataFrame,
             zoom: int = tiles.MAX_ZOOM, res: int = DEFAULT_RES) -> DataFrame:
    """(url, warc_ts, lang, lon, lat, cell, poly_id, zoom, tile_x, tile_y)."""
    pts = with_cell(extract_points(pages), res)
    return tiles.assign_tiles(pip_join_broadcast(pts, polygons_pdf), zoom=zoom)


# ---------------------------------------------------------------------------
# resumable partitioned run with lineage/metrics
# ---------------------------------------------------------------------------

def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    p = _lineage_path(out_dir)
    try:
        rows = spark.read.json(p).where(F.col("status") == "done") \
            .select("bucket").collect()
        return {r["bucket"] for r in rows}
    except Exception:
        return set()


def run_partitioned(spark: SparkSession, pages: DataFrame,
                    polygons_pdf: pd.DataFrame, out_dir: str,
                    n_buckets: int = 16, zoom: int = tiles.MAX_ZOOM,
                    parallelism: int = 4) -> dict:
    """Resumable flagship run: url-hash buckets + per-bucket lineage rows.

    Each bucket writes to its own output partition directory and then
    appends a lineage row; a re-run consults the lineage table and
    skips finished buckets (checkpoint semantics per the north rule).

    Buckets are submitted CONCURRENTLY (``parallelism`` driver
    threads — Spark's scheduler interleaves their jobs across
    executors), so wall-clock tracks max(bucket), not sum(bucket);
    per-bucket lineage rows keep checkpoint granularity.  Set
    ``parallelism=1`` for strictly serial submission."""
    from concurrent.futures import ThreadPoolExecutor
    done = completed_buckets(spark, out_dir)
    lineage_dir = _lineage_path(out_dir)
    os.makedirs(lineage_dir, exist_ok=True)
    stats = {"buckets_total": n_buckets, "buckets_skipped": len(done),
             "rows_out": 0}
    bucketed = pages.withColumn(
        "_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)))

    def run_bucket(b: int) -> int:
        t0 = time.time()
        started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        part = bucketed.where(F.col("_bucket") == b).drop("_bucket")
        result = flagship(part, polygons_pdf, zoom=zoom)
        path = os.path.join(out_dir, f"bucket={b}")
        result.write.mode("overwrite").parquet(path)
        n_out = spark.read.parquet(path).count()
        row = {"bucket": b, "status": "done", "rows_out": n_out,
               "wall_sec": round(time.time() - t0, 3),
               "started_epoch": round(t0, 3),
               "finished_epoch": round(time.time(), 3),
               "started_at": started,
               "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime())}
        with open(os.path.join(lineage_dir, f"bucket-{b}.json"), "w") as f:
            f.write(json.dumps(row) + "\n")
        return n_out

    todo = [b for b in range(n_buckets) if b not in done]
    if parallelism <= 1:
        for b in todo:
            stats["rows_out"] += run_bucket(b)
    else:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            for n_out in pool.map(run_bucket, todo):
                stats["rows_out"] += n_out
    return stats


def pip_join_broadcast(points: DataFrame, polygons_pdf: pd.DataFrame,
                       index_res: int | None = None) -> DataFrame:
    """Spatial join against a small polygon layer, with no shuffle and
    no Python on the executors.

    The layer is decoded once on the driver into one polygon dim
    (``joins.pip_dim_table``) and broadcast; ``joins.pip_join`` builds
    its cell cover in Catalyst, joins it on the points' cells and
    refines with ``joins.pip_filter`` — the same plan and the same
    closed-boundary predicate as the shuffle path.  One
    whole-stage-codegen pipeline runs from the parquet scan to the join
    output, so the join scales with the scan.
    """
    pids, rings, bbox = joins.pip_polygons(polygons_pdf["poly_id"],
                                           polygons_pdf["geom_wkb"])
    if not len(pids):
        # every polygon empty → empty join, not an IndexError in the
        # auto index_res median computation
        return points.withColumn("poly_id", F.lit(None).cast("bigint")) \
            .limit(0)
    if index_res is None:
        # size the cover grid to the MEDIAN polygon dimension: a cell
        # much larger than the polygons multiplies candidates per point
        # (each point cell overlaps many polygons), a cell much smaller
        # blows up the broadcast cover list
        dims = np.sort(np.minimum(bbox[:, 2] - bbox[:, 0],
                                  bbox[:, 3] - bbox[:, 1]))
        med = max(dims[len(dims) // 2], 1e-6)
        index_res = int(np.clip(round(np.log2(180.0 / med)), 4, 12))
    dim = joins.pip_dim_table(pids, rings, bbox, index_res)
    return joins.pip_join(
        points, F.broadcast(points.sparkSession.createDataFrame(dim)),
        sorted(set(dim.column("r").to_pylist())))
