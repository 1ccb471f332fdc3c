"""Unit tests for the cell grid + geometry kernels (pure numpy)."""

import numpy as np
import pytest

from mobilitydb_spark import cells, geo


def test_cell_roundtrip_bounds():
    lon = np.array([-10.0, 0.0, 8.123, 34.999, 179.999, -179.999])
    lat = np.array([32.0, 0.0, 50.456, 71.999, 89.9, -89.9])
    for res in (0, 3, 9, 15, 29):
        c = cells.cell_np(lon, lat, res)
        assert (cells.cell_res(c) == res).all()
        lo, la0, hi, la1 = cells.cell_bounds(c)
        assert (lo <= lon).all() and (lon <= hi).all()
        assert (la0 <= lat).all() and (lat <= la1).all()


def test_cell_parent_consistent():
    lon = np.linspace(-179, 179, 50)
    lat = np.linspace(-89, 89, 50)
    fine = cells.cell_np(lon, lat, 12)
    coarse = cells.cell_np(lon, lat, 7)
    assert (cells.cell_parent_np(fine, 7) == coarse).all()


def test_grid_disk_contains_self_and_neighbors():
    c = cells.cell_np(np.array([8.0]), np.array([50.0]), 10)
    disk = cells.grid_disk_np(c, 1)
    assert disk.shape == (1, 9)
    assert c[0] in disk[0]
    assert len(np.unique(disk[0])) == 9


def test_grid_disk_wraps_antimeridian():
    c = cells.cell_np(np.array([-179.99]), np.array([0.0]), 8)
    disk = cells.grid_disk_np(c, 1)
    xs = (disk[0] >> cells.X_BITS) & (cells.X_SHIFT - 1)
    n = 1 << 8
    assert (n - 1) in xs and 0 in xs  # wrapped across the antimeridian


def test_cover_bbox_covers_points():
    cover = set(cells.cover_bbox_np(7.0, 49.0, 9.0, 51.0, 10).tolist())
    rng = np.random.default_rng(0)
    lon = rng.uniform(7.0, 9.0, 200)
    lat = rng.uniform(49.0, 51.0, 200)
    pts = cells.cell_np(lon, lat, 10)
    assert all(int(p) in cover for p in pts)


def test_cover_bbox_coarsens_under_cap():
    cover = cells.cover_bbox_np(-10, 32, 35, 72, 15, max_cells=256)
    assert len(cover) <= 256
    assert int(cells.cell_res(cover)[0]) < 15


def test_cover_bboxes_matches_per_bbox_loop():
    """The vectorized cover equals the per-bbox loop it replaced: the
    finest level whose cell count fits, then every (x, y) x-major."""
    def loop_cover(x0, y0, x1, y1, res, max_cells):
        r = res
        while r > 0:
            ax, ay = cells.xy_np(np.array([x0]), np.array([y0]), r)
            bx, by = cells.xy_np(np.array([x1]), np.array([y1]), r)
            if (bx[0] - ax[0] + 1) * (ay[0] - by[0] + 1) <= max_cells:
                break
            r -= 1
        ax, ay = cells.xy_np(np.array([x0]), np.array([y0]), r)
        bx, by = cells.xy_np(np.array([x1]), np.array([y1]), r)
        gx, gy = np.meshgrid(np.arange(ax[0], bx[0] + 1),
                             np.arange(by[0], ay[0] + 1), indexing="ij")
        return (np.int64(r) << cells.R_BITS) | (gx.ravel() << cells.X_BITS) \
            | gy.ravel()

    rng = np.random.default_rng(3)
    x0 = rng.uniform(-185, 185, 300)
    y0 = rng.uniform(-95, 95, 300)
    w, h = 10 ** rng.uniform(-6, 2.5, (2, 300))
    for res, cap in ((12, 256), (15, 4096), (3, 16)):
        got, owner = cells.cover_bboxes_np(x0, y0, x0 + w, y0 + h, res, cap)
        rs = cells.cover_res_np(x0, y0, x0 + w, y0 + h, res, cap)
        for i in range(300):
            want = loop_cover(x0[i], y0[i], x0[i] + w[i], y0[i] + h[i],
                              res, cap)
            assert np.array_equal(got[owner == i], want), i
            assert rs[i] == cells.cell_res(want[:1])[0], i


def test_wkb_roundtrip_polygon():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    g = geo.from_wkb(geo.polygon_wkb(ring, [hole]))
    assert g.kind == "Polygon" and len(g.parts) == 2
    np.testing.assert_allclose(g.parts[0], ring)
    assert g.bounds() == (0.0, 0.0, 4.0, 4.0)


def test_pip_square_with_hole():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    g = geo.from_wkb(geo.polygon_wkb(ring, [hole]))
    px = np.array([2.0, 1.5, 5.0, 0.0, 3.9])
    py = np.array([3.0, 1.5, 1.0, 0.0, 0.1])
    got = geo.points_in_polygon(px, py, g)
    #            in    hole  out   edge  in
    assert got.tolist() == [True, False, False, True, True]


def test_pip_empty_geometry():
    g = geo.Geometry("Polygon", [])
    assert not geo.points_in_polygon(np.array([1.0]), np.array([1.0]), g).any()


def test_haversine_known_value():
    # 1 degree of longitude at the equator ≈ 111.19 km (mean-radius sphere)
    d = geo.haversine_m(0.0, 0.0, 1.0, 0.0)
    assert abs(d / 1000.0 - 111.195) < 0.01


def test_point_segment_dist():
    d, t = geo.point_segment_dist(
        np.array([0.0, 5.0]), np.array([1.0, 0.0]),
        np.array([0.0, 0.0]), np.array([0.0, 0.0]),
        np.array([4.0, 4.0]), np.array([0.0, 0.0]))
    np.testing.assert_allclose(d, [1.0, 1.0])
    np.testing.assert_allclose(t, [0.0, 1.0])


def test_segment_crosses_polygon():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    g = geo.from_wkb(geo.polygon_wkb(ring))
    got = geo.segment_crosses_polygon(
        np.array([-1.0, 1.0, 5.0]), np.array([2.0, 1.0, 5.0]),
        np.array([2.0, 2.0, 6.0]), np.array([2.0, 2.0, 6.0]), g)
    assert got.tolist() == [True, False, False]


def test_raster_vector_roundtrip(spark):
    """rasterize → vectorize → rasterize is a fixed point, and total
    counts are conserved (north rule raster↔vector tiles)."""
    import numpy as np
    import pandas as pd
    from mobilitydb_spark import tiles
    from pyspark.sql import functions as F
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"lon": rng.uniform(-10, 35, 4000),
                        "lat": rng.uniform(32, 72, 4000)})
    pts = spark.createDataFrame(pdf)
    ras = tiles.rasterize_tiles(pts, zoom=6, px=16).cache()
    total = ras.select(
        F.aggregate("raster", F.lit(0).cast("long"),
                    lambda a, v: a + v).alias("s")) \
        .agg(F.sum("s")).collect()[0][0]
    assert total == 4000
    vec = tiles.vectorize_raster(ras, zoom=6, px=16)
    # re-rasterizing the weighted pixel centers reproduces the raster
    ras2 = tiles.rasterize_tiles(
        vec.withColumn("w", F.col("n"))
           .selectExpr("lon", "lat", "explode(sequence(1, n)) AS _i")
           .select("lon", "lat"),
        zoom=6, px=16)
    a = {(r.tile_x, r.tile_y): tuple(r.raster) for r in ras.collect()}
    b = {(r.tile_x, r.tile_y): tuple(r.raster) for r in ras2.collect()}
    assert a == b and len(a) > 0


def test_sql_text_cells_and_tiles_match_column_forms(spark):
    """``pipeline.with_cell`` and ``tiles.assign_tiles`` parse
    ``cells.cell_sql`` / ``tiles.tile_sql`` text; every value must equal
    the Column functions' (``cell_col``, ``tile_x_col``, ``tile_y_col``),
    including on cell and tile edges and at the clamps."""
    import pandas as pd
    from mobilitydb_spark import pipeline, tiles
    from pyspark.sql import functions as F
    rng = np.random.default_rng(11)
    edges = [-180.0 + k * 360.0 / 32 for k in range(33)]
    lon = np.r_[rng.uniform(-180, 180, 3000), edges, -0.0, 180.0, -180.0,
                np.nextafter(-180.0, 0.0), np.nextafter(180.0, 0.0), 8.0]
    lat = np.r_[rng.uniform(-90, 90, 3000),
                [-90.0 + k * 180.0 / 32 for k in range(33)], 0.0, 90.0,
                -90.0, 85.05112878, -85.05112878,
                np.nextafter(85.05112878, 90.0)]
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (5, 12):
        got = tiles.assign_tiles(pipeline.with_cell(pts, res), zoom=res)
        bad = got.where(
            (F.col("cell") != cells.cell_col(F.col("lon"), F.col("lat"), res))
            | (F.col("tile_x") != tiles.tile_x_col(F.col("lon"), res))
            | (F.col("tile_y") != tiles.tile_y_col(F.col("lat"), res)))
        assert bad.count() == 0
        assert dict(got.dtypes) == {"lon": "double", "lat": "double",
                                    "cell": "bigint", "zoom": "int",
                                    "tile_x": "bigint", "tile_y": "bigint"}


def test_grid_disk_sql_matches_numpy_without_duplicates(spark):
    """``cells.grid_disk_sql`` (the kNN join's Catalyst cover) holds
    the cells of ``grid_rect_np`` per row, for cells of mixed
    resolutions and ring sizes kx, ky in one column (``grid_disk_np``
    where they are equal): longitude wraps at the antimeridian,
    latitude clamps at the poles, a ring wider than the grid covers
    each column once, and no cell repeats."""
    import pandas as pd
    rng = np.random.default_rng(5)
    res = rng.integers(1, 17, 300)
    lon = np.r_[rng.uniform(-180, 180, 300),
                [-179.99, 179.99, 179.99, -179.99, 0.0, 8.0,
                 179.99, -179.99, 0.0, 170.0, -90.0]]
    lat = np.r_[rng.uniform(-90, 90, 300),
                [89.99, -89.99, 0.0, 10.0, 89.99, -89.99,
                 89.99, -89.99, 45.0, -89.99, 0.0]]
    res = np.r_[res, [10, 10, 4, 16, 1, 2, 12, 12, 3, 5, 0]]
    kx = np.r_[rng.integers(0, 5, 300), [2, 3, 1, 4, 2, 3, 5, 1, 4, 40, 1]]
    ky = np.r_[kx[:150], rng.integers(0, 9, 150),
               [2, 3, 1, 4, 2, 3, 1, 6, 1, 3, 1]]
    cell = np.array([cells.cell_np(a, b, int(r))
                     for a, b, r in zip(lon, lat, res)])
    df = spark.createDataFrame(pd.DataFrame({"cell": cell, "kx": kx,
                                             "ky": ky}))
    got = df.selectExpr(
        "cell", "kx", "ky",
        f"{cells.grid_disk_sql('cell', 'kx', 'ky')} AS disk").collect()
    assert sum(r.kx != r.ky for r in got) > 100
    for row in got:
        want = set(cells.grid_rect_np(np.array([row.cell]), row.kx,
                                      row.ky)[0])
        if row.kx == row.ky:
            assert want == set(cells.grid_disk_np(np.array([row.cell]),
                                                  row.kx)[0])
        assert len(row.disk) == len(set(row.disk)), row
        assert set(row.disk) == {int(c) for c in want}, row


def test_cover_sql_matches_numpy(spark):
    """``cells.cover_sql`` (the PIP joins' Catalyst cover) holds exactly
    the cells of ``cover_bboxes_np``, in its order and with none twice,
    for bboxes covered at mixed levels in one column: bboxes past the
    poles and the antimeridian clamp to the grid, and a bbox covered
    at level 0 takes the one cell of the whole grid.  ``cell_at_sql``
    (the points' cell at a per-row level) agrees with ``cell_np``."""
    import pandas as pd
    rng = np.random.default_rng(9)
    n = 300
    x0 = rng.uniform(-185, 180, n)
    y0 = rng.uniform(-95, 90, n)
    w = rng.uniform(0, 20, n) ** 2 / 10
    h = rng.uniform(0, 20, n) ** 2 / 20
    x0 = np.r_[x0, [-181.0, 179.9, -10.0, 170.0, -180.0, 0.0]]
    y0 = np.r_[y0, [80.0, -91.0, 89.99, -90.0, -90.0, 0.0]]
    x1 = np.r_[x0[:n] + w, [-170.0, 181.0, 10.0, 180.0, 180.0, 1.0]]
    y1 = np.r_[y0[:n] + h, [91.0, -80.0, 95.0, -89.99, 90.0, 1.0]]
    res = np.r_[rng.integers(0, 17, n), [8, 8, 12, 16, 3, 0]]
    cap = np.r_[rng.choice([1, 4, 64, 256], n), [64, 64, 256, 4, 4096, 64]]
    r = np.array([cells.cover_res_np(*b, res=int(rr), max_cells=int(c))
                  for *b, rr, c in zip(x0, y0, x1, y1, res, cap)])
    assert {0, 1} <= set(r) and len(set(r)) > 10
    df = spark.createDataFrame(pd.DataFrame(
        {"i": np.arange(len(r)), "r": r.astype(np.int32), "bx0": x0,
         "by0": y0, "bx1": x1, "by1": y1}))
    got = df.selectExpr(
        "i", f"{cells.cover_sql('r', 'bx0', 'by0', 'bx1', 'by1')} AS cover",
        f"{cells.cell_at_sql('bx0', 'by0', 'r')} AS cell"
    ).orderBy("i").collect()
    for row in got:
        i = row.i
        want = cells.cover_bboxes_np(x0[i], y0[i], x1[i], y1[i],
                                     int(res[i]), int(cap[i]))[0]
        assert list(row.cover) == want.tolist(), (i, r[i])
        assert row.cell == cells.cell_np(x0[i], y0[i], int(r[i])), i
