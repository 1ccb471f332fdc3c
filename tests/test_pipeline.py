"""End-to-end flagship pipeline tests (Spark local)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mobilitydb_spark import cells, fixtures, geo, pipeline, tiles


@pytest.fixture(scope="module")
def pages_df(spark):
    return fixtures.pages(spark, 500).cache()


def test_pages_deterministic_text_per_url(spark):
    """BASELINE.json per-row invariant: byte-identical text per url."""
    a = fixtures.pages(spark, 200, partitions=4).select("url", "text").toPandas()
    b = fixtures.pages(spark, 200, partitions=13).select("url", "text").toPandas()
    am = dict(zip(a["url"], a["text"]))
    bm = dict(zip(b["url"], b["text"]))
    assert am == bm and len(am) > 0
    # html wraps text byte-identically
    row = fixtures.pages(spark, 5).select("html", "text").first()
    assert row["text"].encode() in bytes(row["html"])


def test_extract_points_matches_text(spark, pages_df):
    pts = pipeline.extract_points(pages_df)
    pdf = pts.toPandas()
    assert len(pdf) > 0
    # every extracted coordinate literally appears in the page text
    texts = dict(pages_df.select("url", "text").toPandas().values)
    sample = pdf.head(50)
    for _, r in sample.iterrows():
        assert f"geo:{r.lat:.5f},{r.lon:.5f}" in texts[r.url]
    # Europe box + hot cluster only
    assert pdf["lon"].between(-10, 35).all()
    assert pdf["lat"].between(32, 72).all()


def test_extraction_plan_is_jvm_side(spark, pages_df):
    plan = pipeline.extract_points(pages_df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cell_col_matches_numpy(spark, pages_df):
    pts = pipeline.with_cell(pipeline.extract_points(pages_df), 12)
    pdf = pts.select("lon", "lat", "cell").toPandas()
    want = cells.cell_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 12)
    assert (pdf["cell"].to_numpy() == want).all()


def test_flagship_join_matches_bruteforce(spark, pages_df):
    polys = fixtures.polygons_pd("admin", 24)
    got = pipeline.flagship(pages_df, polys)
    gdf = got.select("url", "tag_idx", "poly_id").toPandas()
    got_set = set(map(tuple, gdf.itertuples(index=False)))

    pts = pipeline.extract_points(pages_df).toPandas()
    want = set()
    for _, prow in polys.iterrows():
        g = geo.from_wkb(prow["geom_wkb"])
        if g.is_empty:
            continue
        hit = geo.points_in_polygon(pts["lon"].to_numpy(),
                                    pts["lat"].to_numpy(), g)
        for i in np.nonzero(hit)[0]:
            want.add((pts["url"].iloc[i], int(pts["tag_idx"].iloc[i]),
                      int(prow["poly_id"])))
    assert got_set == want
    assert len(want) > 0


def test_tile_assignment_bounds(spark, pages_df):
    polys = fixtures.polygons_pd("admin", 8)
    out = pipeline.flagship(pages_df, polys, zoom=12).toPandas()
    if len(out):
        assert (out["zoom"] == 12).all()
        assert out["tile_x"].between(0, 4095).all()
        assert out["tile_y"].between(0, 4095).all()


def test_pyramid_rollup_conserves_counts(spark, pages_df):
    pts = pipeline.extract_points(pages_df)
    pyr = tiles.build_pyramid(pts, max_zoom=8, min_zoom=0).toPandas()
    totals = pyr.groupby("zoom")["n_points"].sum()
    assert totals.nunique() == 1  # every level preserves the point count
    z0 = pyr[pyr["zoom"] == 0]
    assert len(z0) <= 2  # at most 2 root tiles (x in {0,1} in slippy scheme)


def test_resumable_run_skips_done_buckets(spark, pages_df, tmp_path):
    polys = fixtures.polygons_pd("admin", 8)
    out = str(tmp_path / "flagship_out")
    s1 = pipeline.run_partitioned(spark, pages_df, polys, out, n_buckets=4)
    assert s1["buckets_skipped"] == 0
    s2 = pipeline.run_partitioned(spark, pages_df, polys, out, n_buckets=4)
    assert s2["buckets_skipped"] == 4 and s2["rows_out"] == 0
    total = spark.read.parquet(out).count()
    assert total == s1["rows_out"] > 0


def test_pip_jvm_all_empty_polygons(spark):
    """ADVICE r2: every polygon empty → empty join result, not an
    IndexError in the auto index_res median computation (broadcast) or
    in the union of per-level parts (shuffle)."""
    import struct
    import pandas as pd
    from pyspark.sql import functions as F
    from mobilitydb_spark import joins, pipeline
    # POLYGON EMPTY wkb: byte order + type + 0 rings
    empty_wkb = b"\x01" + struct.pack("<I", 3) + struct.pack("<I", 0)
    polys = pd.DataFrame({"poly_id": [1, 2],
                          "geom_wkb": [empty_wkb, empty_wkb]})
    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [1.0, 2.0], "lat": [3.0, 4.0]}))
    for out in (pipeline.pip_join_broadcast(pts, polys),
                joins.pip_join_shuffle(pts, spark.createDataFrame(
                    polys, "poly_id bigint, geom_wkb binary"))):
        assert out.count() == 0
        assert out.columns == ["lon", "lat", "poly_id"]


def test_run_partitioned_buckets_overlap_in_time(spark, pages_df, tmp_path):
    """Concurrent bucket submission: with parallelism=2 the two bucket
    executions must overlap in wall-clock time (wall ≈ max, not sum)."""
    import json
    import os
    polys = fixtures.polygons_pd("admin", 8)
    out = str(tmp_path / "par_out")
    s = pipeline.run_partitioned(spark, pages_df, polys, out,
                                 n_buckets=2, parallelism=2)
    assert s["buckets_skipped"] == 0 and s["rows_out"] > 0
    rows = []
    ldir = os.path.join(out, "_lineage")
    for f in sorted(os.listdir(ldir)):
        with open(os.path.join(ldir, f)) as fh:
            rows.append(json.loads(fh.read()))
    assert len(rows) == 2
    (a, b) = sorted(rows, key=lambda r: r["started_epoch"])
    # interval overlap: the second bucket starts before the first ends
    assert b["started_epoch"] < a["finished_epoch"], rows
