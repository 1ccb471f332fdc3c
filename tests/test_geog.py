"""Geography (tgeogpoint) subset: haversine length/distance, dwithin/
intersects/covers conventions (`tpoint_spatialrels.c:144-175`,
`tpoint_spatialfuncs.c:902-904`; haversine divergence per SURVEY §7)."""

import numpy as np
import pytest

from mobilitydb_spark import geo
from mobilitydb_spark.geog import (geog_covers, geog_distance, geog_dwithin,
                                   geog_intersects, geog_length, geog_nad,
                                   haversine_sql)
from mobilitydb_spark.types import parse_temporal, parse_ts


def test_geog_length_equator_degree():
    # 1° of longitude at the equator ≈ 111.195 km on the sphere
    tv = parse_temporal("[Point(0 0)@2000-01-01, Point(1 0)@2000-01-02]")
    assert geog_length(tv) == pytest.approx(111195.08, abs=1.0)
    # discrete/stepwise → 0, like planar length
    iset = parse_temporal("{Point(0 0)@2000-01-01, Point(1 0)@2000-01-02}")
    assert geog_length(iset) == 0.0


def test_geog_distance_and_nad():
    a = parse_temporal("[Point(0 0)@2000-01-01, Point(2 0)@2000-01-03]")
    d = geog_distance(a, np.array([1.0, 0.0]))
    t2 = parse_ts("2000-01-02")
    assert float(d.value_at(t2)[0]) == pytest.approx(0.0, abs=1e-6)
    assert geog_nad(a, np.array([1.0, 0.0])) == pytest.approx(0.0, abs=1e-6)
    b = parse_temporal("[Point(0 1)@2000-01-01, Point(2 1)@2000-01-03]")
    # parallel tracks 1° of latitude apart
    assert geog_nad(a, b) == pytest.approx(111195.08, abs=5.0)


def test_geog_dwithin_intersects_conventions():
    a = parse_temporal("[Point(0 0)@2000-01-01, Point(2 0)@2000-01-03]")
    b = parse_temporal("[Point(0 1)@2000-01-01, Point(2 1)@2000-01-03]")
    assert geog_dwithin(a, b, 120_000.0) is True
    assert geog_dwithin(a, b, 100_000.0) is False
    assert geog_intersects(a, b) is False
    # crossing tracks intersect (distance < 1e-5 m at the crossing)
    c = parse_temporal("[Point(1 -1)@2000-01-01, Point(1 1)@2000-01-03]")
    assert geog_intersects(a, c) is True
    # disjoint time → None
    far = parse_temporal("Point(0 0)@2010-01-01")
    assert geog_dwithin(a, far, 1.0) is None


def test_geog_covers_point_set():
    p = geo.from_wkb(geo.point_wkb(1.0, 1.0))
    const = parse_temporal("[Point(1 1)@2000-01-01, Point(1 1)@2000-01-02]")
    assert geog_covers(p, const) is True
    moving = parse_temporal("[Point(1 1)@2000-01-01, Point(2 2)@2000-01-02]")
    assert geog_covers(p, moving) is False
    empty = geo.Geometry("Point", [])
    assert geog_covers(empty, const) is None
    # areal operands are now supported (planar-topology convention):
    # the constant point (1,1) sits inside this triangle
    ring = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 0.0]])
    assert geog_covers(geo.Geometry("Polygon", [ring]), const) is True


def test_haversine_sql_matches_numpy(spark):
    rng = np.random.default_rng(7)
    lon1, lat1 = rng.uniform(-10, 35, 50), rng.uniform(32, 72, 50)
    lon2, lat2 = rng.uniform(-10, 35, 50), rng.uniform(32, 72, 50)
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"lon1": lon1, "lat1": lat1, "lon2": lon2, "lat2": lat2}))
    from pyspark.sql import functions as F
    got = df.select(F.expr(haversine_sql("lon1", "lat1", "lon2", "lat2"))
                    .alias("d")).toPandas()["d"].to_numpy()
    want = geo.haversine_m(lon1, lat1, lon2, lat2)
    assert np.allclose(got, want, rtol=1e-12, atol=1e-6)


def _assert_geog_dwithin_is_brute(spark, pdf, dist_m, res):
    from mobilitydb_spark import joins
    df = spark.createDataFrame(pdf)
    l = df.selectExpr("pid AS l_id", "lon", "lat")
    r = df.selectExpr("pid AS r_id", "lon", "lat")
    got = joins.dwithin_join_geog(l, r, dist_m, res=res).toPandas()
    got_pairs = {(a, b) for a, b in zip(got["l_id"], got["r_id"]) if a < b}
    d = geo.haversine_m(pdf["lon"].to_numpy()[:, None],
                        pdf["lat"].to_numpy()[:, None],
                        pdf["lon"].to_numpy()[None, :],
                        pdf["lat"].to_numpy()[None, :])
    ii, jj = np.nonzero(d <= dist_m)
    want = {(int(a), int(b)) for a, b in zip(ii, jj) if a < b}
    assert got_pairs == want and len(want) > 0
    return want


def test_dwithin_join_geog_matches_brute(spark):
    import pandas as pd
    rng = np.random.default_rng(11)
    n = 120
    pdf = pd.DataFrame({"pid": np.arange(n),
                        "lon": rng.uniform(-10, 35, n),
                        "lat": rng.uniform(32, 72, n)})
    _assert_geog_dwithin_is_brute(spark, pdf, 300_000.0, 6)


def test_dwithin_join_geog_high_latitude(spark):
    """Pairs above the old 75° prefilter assumption must not be
    dropped: the disk radius is now sized per row from the row's own
    latitude (ADVICE r2)."""
    import pandas as pd
    pdf = pd.DataFrame({"pid": [0, 1, 2, 3],
                        "lon": [0.0, 25.0, 120.0, 122.0],
                        "lat": [84.0, 84.0, 86.5, 86.5]})
    _assert_geog_dwithin_is_brute(spark, pdf, 300_000.0, 6)


def test_dwithin_join_geog_across_antimeridian(spark):
    """Pairs on either side of ±180° longitude are found: the ring
    wraps the grid's columns, at the equator, at 60° and beside the
    pole, and the far neighbours on the same side stay out."""
    import pandas as pd
    lon = [179.9, -179.9, 179.5, -179.5, -179.99, 178.8, 170.0, -170.0,
           179.0, -178.0]
    lat = [10.0, 10.0, 60.0, 60.0, -45.0, -45.5, 10.0, 60.0, 86.0, 86.0]
    pdf = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
    want = _assert_geog_dwithin_is_brute(spark, pdf, 150_000.0, 6)
    assert {(0, 1), (2, 3), (4, 5), (8, 9)} <= want
    assert not {(0, 6), (3, 7)} & want


def test_geog_covers_polygon_and_line_operands():
    """geog covers now accepts areal and line geographies (planar
    topology per the module convention); only GeometryCollection
    stays excluded."""
    from mobilitydb_spark import types as T
    from mobilitydb_spark.geog import geog_covers
    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0],
                     [0.0, 0.0]])
    poly = geo.Geometry("Polygon", [ring])
    inside = T.parse_temporal(
        "SRID=4326;[Point(0.2 0.2)@2000-01-01, Point(0.8 0.8)@2000-01-02]")
    leaves = T.parse_temporal(
        "SRID=4326;[Point(0.2 0.2)@2000-01-01, Point(2.0 2.0)@2000-01-02]")
    assert geog_covers(poly, inside) is True
    assert geog_covers(poly, leaves) is False
    line = geo.Geometry("LineString",
                        [np.array([[0.0, 0.0], [2.0, 2.0]])])
    on_line = T.parse_temporal(
        "SRID=4326;[Point(0.5 0.5)@2000-01-01, Point(1.5 1.5)@2000-01-02]")
    off_line = T.parse_temporal(
        "SRID=4326;[Point(0.5 0.5)@2000-01-01, Point(1.5 1.0)@2000-01-02]")
    assert geog_covers(line, on_line) is True
    assert geog_covers(line, off_line) is False
    coll = geo.Geometry("GeometryCollection", [ring])
    with pytest.raises(NotImplementedError, match="GeometryCollection"):
        geog_covers(coll, inside)
