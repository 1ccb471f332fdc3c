"""Web-mercator XYZ tile assignment + tile-pyramid materialization.

No reference analog (MobilityDB has no tiling); required by the
north rule: raster↔vector tile pyramids zoom 0–12 materialized as a
partitioned table.  Tile math is pure Catalyst expressions (ln/tan
are built-ins in both Spark SQL and DuckDB → oracle-checkable), so
the whole assignment stays inside whole-stage codegen.

Scale notes: the pyramid is built bottom-up — assign zoom-12 tiles
once, then aggregate each coarser zoom from the next finer one by
integer-halving tile coordinates (12 cheap map-side reductions
instead of 13 full-input scans); output is written partitioned by
``zoom`` so readers prune to one level.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_ZOOM = 12
# web-mercator clamps latitude; standard slippy-map limit
MERC_LAT_MAX = 85.05112878


def tile_x_col(lon: Column, zoom: int) -> Column:
    n = float(1 << zoom)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    return F.least(F.greatest(x, F.lit(0)), F.lit((1 << zoom) - 1))


def tile_y_col(lat: Column, zoom: int) -> Column:
    n = float(1 << zoom)
    latc = F.least(F.greatest(lat, F.lit(-MERC_LAT_MAX)), F.lit(MERC_LAT_MAX))
    rad = F.radians(latc)
    y = F.floor((F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
                 / F.lit(math.pi)) / F.lit(2.0) * F.lit(n)).cast("long")
    return F.least(F.greatest(y, F.lit(0)), F.lit((1 << zoom) - 1))


def tile_sql(lon_expr: str, lat_expr: str, zoom: int) -> tuple[str, str]:
    """(tile_x, tile_y) SQL text valid in both Spark SQL and DuckDB."""
    n = 1 << zoom
    tx = (f"LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) "
          f"AS BIGINT), 0), {n - 1})")
    lc = (f"LEAST(GREATEST({lat_expr}, -{MERC_LAT_MAX}), {MERC_LAT_MAX})")
    ty = (f"LEAST(GREATEST(CAST(FLOOR((1.0 - LN(TAN(RADIANS({lc})) + "
          f"1.0 / COS(RADIANS({lc}))) / PI()) / 2.0 * {n}) AS BIGINT), 0), {n - 1})")
    return tx, ty


def assign_tiles(points: DataFrame, lon: str = "lon", lat: str = "lat",
                 zoom: int = MAX_ZOOM) -> DataFrame:
    """Add (zoom, tile_x, tile_y) columns at the given zoom level.

    The tile columns are ``tile_sql`` text, parsed in one py4j call
    each; ``tile_x_col``/``tile_y_col`` build the same expressions at a
    round trip per node."""
    tx, ty = tile_sql(f"`{lon}`", f"`{lat}`", zoom)
    return points.withColumns({"zoom": F.lit(zoom), "tile_x": F.expr(tx),
                               "tile_y": F.expr(ty)})


def build_pyramid(points: DataFrame, lon: str = "lon", lat: str = "lat",
                  max_zoom: int = MAX_ZOOM, min_zoom: int = 0,
                  agg: dict[str, Column] | None = None) -> DataFrame:
    """Aggregate points into a zoom min..max tile pyramid.

    Bottom-up rollup in exactly TWO shuffles regardless of depth:
    (1) one groupBy at max_zoom over the raw points, then (2) the
    aggregated base (≤ #distinct tiles rows — tiny next to the input)
    is exploded into every coarser level by integer-halving tile
    coordinates and re-aggregated once.  Chaining 13 per-level
    groupBys would mean 13 shuffles + a deep union plan; this shape
    keeps the expensive shuffle proportional to the input only once.
    Default payload is ``n_points``; extra aggregates must be
    rollup-compatible (sum/min/max).
    """
    aggs = agg or {"n_points": F.count(F.lit(1))}
    base = (assign_tiles(points, lon, lat, max_zoom)
            .groupBy("zoom", "tile_x", "tile_y")
            .agg(*[a.alias(k) for k, a in aggs.items()]))
    if min_zoom >= max_zoom:
        return base
    rollups = {k: (F.sum(k).alias(k) if k.startswith(("n_", "sum_"))
                   else F.max(k).alias(k)) for k in aggs}
    # one parsed SQL expression, not ~9 py4j round trips per level
    coarse_structs = F.expr("array(" + ", ".join(
        f"struct({z} AS zoom, shiftright(tile_x, {max_zoom - z}) AS tile_x, "
        f"shiftright(tile_y, {max_zoom - z}) AS tile_y)"
        for z in range(min_zoom, max_zoom)) + ")")
    coarser = (base.select(F.explode(coarse_structs).alias("lv"), *aggs.keys())
               .select("lv.zoom", "lv.tile_x", "lv.tile_y", *aggs.keys())
               .groupBy("zoom", "tile_x", "tile_y")
               .agg(*rollups.values()))
    return base.unionByName(coarser)


def rasterize_tiles(points: DataFrame, lon: str = "lon", lat: str = "lat",
                    zoom: int = 8, px: int = 64) -> DataFrame:
    """Vector→raster: per tile, a px×px density grid of point counts
    as a flattened row-major array (north rule: raster↔vector tile
    pyramids).  Pure Catalyst: pixel = the tile coordinates at zoom
    zoom+log2(px) masked to the tile, one groupBy, dense array
    assembly via a map lookup over the pixel sequence."""
    p = px.bit_length() - 1
    assert 1 << p == px, "px must be a power of two"
    gx, gy = (F.expr(e) for e in tile_sql(f"`{lon}`", f"`{lat}`", zoom + p))
    binned = points.select(
        F.shiftright(gx, p).alias("tile_x"),
        F.shiftright(gy, p).alias("tile_y"),
        ((gy.bitwiseAND(F.lit(px - 1))) * F.lit(px)
         + gx.bitwiseAND(F.lit(px - 1))).alias("pix"))
    counts = binned.groupBy("tile_x", "tile_y", "pix").count()
    dense = (counts.groupBy("tile_x", "tile_y")
             .agg(F.map_from_arrays(F.collect_list("pix"),
                                    F.collect_list("count")).alias("m"))
             .select("tile_x", "tile_y",
                     F.transform(F.sequence(F.lit(0), F.lit(px * px - 1)),
                                 lambda i: F.coalesce(
                                     F.element_at("m", i),
                                     F.lit(0).cast("long")))
                     .alias("raster")))
    return dense.withColumn("zoom", F.lit(zoom)).withColumn("px", F.lit(px))


def vectorize_raster(raster: DataFrame, zoom: int = 8, px: int = 64
                     ) -> DataFrame:
    """Raster→vector: non-zero pixels back to weighted center points
    (lon, lat, n) — the inverse of ``rasterize_tiles`` (pixel centers
    re-rasterize into the same pixel)."""
    p = px.bit_length() - 1
    n_g = float(1 << (zoom + p))
    ex = (raster.select("tile_x", "tile_y",
                        F.posexplode("raster").alias("pix", "n"))
          .where(F.col("n") > 0))
    gx = (F.col("tile_x") * px + F.pmod(F.col("pix"), F.lit(px))).cast("double")
    gy = (F.col("tile_y") * px
          + F.floor(F.col("pix") / px).cast("long")).cast("double")
    lon = (gx + F.lit(0.5)) / F.lit(n_g) * F.lit(360.0) - F.lit(180.0)
    lat = F.degrees(F.atan(F.sinh(
        F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (gy + F.lit(0.5))
                          / F.lit(n_g)))))
    return ex.select(lon.alias("lon"), lat.alias("lat"), F.col("n"))


def write_pyramid(pyramid: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize partitioned by zoom (Iceberg-style layout on parquet).

    On a cluster with an Iceberg catalog this becomes
    ``pyramid.writeTo(tbl).partitionedBy("zoom")`` — the sandbox has no
    Iceberg jars, so the same partition layout is written via the
    parquet datasource (directory-per-zoom, prunable by readers).
    """
    (pyramid.repartition("zoom")
     .write.mode(mode).partitionBy("zoom").parquet(path))
