"""Distributed join strategy tests: broadcast and shuffle PIP, dwithin,
kNN — each checked against a brute-force reference."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mobilitydb_spark import fixtures, geo, joins, pipeline


@pytest.fixture(scope="module")
def pts(spark):
    # extracted geotag points from the deterministic pages fixture
    pages = fixtures.pages(spark, 400)
    df = (pipeline.extract_points(pages)
          .select("url", "tag_idx", "lon", "lat").cache())
    df.count()
    return df


@pytest.fixture(scope="module")
def grid_polys(spark):
    return fixtures.polygons_pd("grid", 256)


def _brute_pip(pts_pdf, polys_pdf):
    want = set()
    for _, prow in polys_pdf.iterrows():
        g = geo.from_wkb(prow["geom_wkb"])
        if g.is_empty:
            continue
        hit = geo.points_in_polygon(pts_pdf["lon"].to_numpy(),
                                    pts_pdf["lat"].to_numpy(), g)
        for i in np.nonzero(hit)[0]:
            want.add((pts_pdf["url"].iloc[i], int(pts_pdf["tag_idx"].iloc[i]),
                      int(prow["poly_id"])))
    return want


def test_shuffle_join_matches_bruteforce(spark, pts, grid_polys):
    polys_df = spark.createDataFrame(
        grid_polys, "poly_id bigint, layer string, geom_wkb binary, srid int")
    got = joins.pip_join_shuffle(pts, polys_df, res=10)
    got_set = {(r["url"], r["tag_idx"], r["poly_id"])
               for r in got.collect()}
    want = _brute_pip(pts.toPandas(), grid_polys)
    assert got_set == want and len(want) > 0


def test_dwithin_join_matches_bruteforce(spark, pts):
    a = pts.select(F.concat_ws("#", "url", "tag_idx").alias("l_id"),
                   "lon", "lat").limit(150).cache()
    b = pts.select(F.concat_ws("#", "url", "tag_idx").alias("r_id"),
                   "lon", "lat")
    d = 0.5
    got = {(r["l_id"], r["r_id"]) for r in
           joins.dwithin_join(a, b, d, res=8).collect()}
    apdf = a.toPandas()
    bpdf = b.toPandas()
    ax = apdf["lon"].to_numpy()[:, None]
    ay = apdf["lat"].to_numpy()[:, None]
    bx = bpdf["lon"].to_numpy()[None, :]
    by = bpdf["lat"].to_numpy()[None, :]
    dist = np.sqrt((ax - bx) ** 2 + (ay - by) ** 2)
    want = {(apdf["l_id"].iloc[i], bpdf["r_id"].iloc[j])
            for i, j in zip(*np.nonzero(dist <= d))}
    assert got == want and len(want) > 0


def test_knn_join_matches_bruteforce(spark, pts):
    q = pts.select(F.concat_ws("#", "url", "tag_idx").alias("q_id"),
                   "lon", "lat").limit(40).cache()
    c = pts.select(F.concat_ws("#", "url", "tag_idx").alias("c_id"),
                   "lon", "lat")
    k = 5
    got = joins.knn_join(q, c, k, resolutions=(12, 10, 8)).toPandas()
    qpdf = q.toPandas()
    cpdf = c.toPandas()
    for _, qrow in qpdf.iterrows():
        d = np.sqrt((cpdf["lon"] - qrow["lon"]) ** 2
                    + (cpdf["lat"] - qrow["lat"]) ** 2)
        mask = cpdf["c_id"] != qrow["q_id"]
        order = sorted(zip(d[mask], cpdf["c_id"][mask]))[:k]
        want_ids = [cid for _, cid in order]
        got_ids = got[got["q_id"] == qrow["q_id"]] \
            .sort_values("rank")["c_id"].tolist()
        assert got_ids == want_ids, qrow["q_id"]


def test_knn_outlier_queries_match_brute(spark):
    """Outlier queries 1.5° and 15° from a 0.2° cluster, far outside
    every ladder cell that holds their neighbours, return the exact
    brute-force answer."""
    rng = np.random.default_rng(3)
    cl_lon = 10.0 + rng.uniform(0, 0.2, 60)
    cl_lat = 50.0 + rng.uniform(0, 0.2, 60)
    cpdf = pd.DataFrame({"c_id": [f"c{i}" for i in range(60)],
                         "lon": cl_lon, "lat": cl_lat})
    qpdf = pd.DataFrame({
        "q_id": ["near", "far"],
        "lon": [10.1 + 1.5, 10.1 + 15.0],
        "lat": [50.1, 50.1]})
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 3, resolutions=(12, 10, 8)).toPandas()
    for _, qrow in qpdf.iterrows():
        d = np.sqrt((cpdf["lon"] - qrow["lon"]) ** 2
                    + (cpdf["lat"] - qrow["lat"]) ** 2)
        want = [cid for _, cid in sorted(zip(d, cpdf["c_id"]))[:3]]
        got_ids = got[got["q_id"] == qrow["q_id"]] \
            .sort_values("rank")["c_id"].tolist()
        assert got_ids == want, qrow["q_id"]


def test_knn_queries_beside_a_cluster_match_brute(spark):
    """Queries inside, 1.5° beside and 15° away from a small cluster
    (the far ones search the whole grid at level 0) equal brute
    force."""
    rng = np.random.default_rng(3)
    cpdf = pd.DataFrame({"c_id": [f"c{i}" for i in range(60)],
                         "lon": 10.0 + rng.uniform(0, 0.2, 60),
                         "lat": 50.0 + rng.uniform(0, 0.2, 60)})
    qpdf = pd.DataFrame({"q_id": ["near", "far", "very_far"],
                         "lon": [10.1, 11.6, 25.1],
                         "lat": [50.1, 50.1, 50.1]})
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 3, resolutions=(12, 10, 8)).toPandas()
    for _, qrow in qpdf.iterrows():
        d = np.sqrt((cpdf["lon"] - qrow["lon"]) ** 2
                    + (cpdf["lat"] - qrow["lat"]) ** 2)
        want = [cid for _, cid in sorted(zip(d, cpdf["c_id"]))[:3]]
        got_ids = got[got["q_id"] == qrow["q_id"]] \
            .sort_values("rank")["c_id"].tolist()
        assert got_ids == want, qrow["q_id"]


def test_interval_join_exact_once(spark):
    """Bucketed interval join: every overlapping pair exactly once
    (claimed by the bucket of max(start)), none missed, exact overlap
    microseconds — vs a brute pairwise check."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(13)
    D = 86_400_000_000
    n = 60
    starts = rng.integers(0, 30 * D, n)
    lens = rng.integers(D // 4, 10 * D, n)
    pdf = pd.DataFrame({"id": np.arange(n), "t0_us": starts,
                        "t1_us": starts + lens})
    df = spark.createDataFrame(pdf)
    l = df.selectExpr("id AS l_id", "t0_us", "t1_us")
    r = df.selectExpr("id AS r_id", "t0_us", "t1_us")
    got = joins.interval_join(l, r).toPandas()
    # exactly once per pair
    assert not got.duplicated(["l_id", "r_id"]).any()
    want = {}
    for a in pdf.itertuples():
        for b in pdf.itertuples():
            s = max(a.t0_us, b.t0_us)
            e = min(a.t1_us, b.t1_us)
            if s <= e:
                want[(a.id, b.id)] = e - s
    got_map = {(r_.l_id, r_.r_id): r_.overlap_us for r_ in got.itertuples()}
    assert got_map == want


def test_interval_join_long_span_broadcast_split(spark):
    """r3 verdict: a span covering ~1000 buckets must NOT explode to
    ~1000 bucket rows — it takes the broadcast nested-loop pass.  The
    result must still be exact and exactly-once against brute force,
    and the bucketed (short) relation must stay bounded."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(7)
    D = 86_400_000_000
    n = 50
    starts = rng.integers(0, 900 * D, n)
    lens = rng.integers(D // 4, 5 * D, n)
    ids = np.arange(n)
    pdf = pd.DataFrame({"id": ids, "t0_us": starts,
                        "t1_us": starts + lens})
    # one ~1000-bucket outlier span on each side
    pdf.loc[len(pdf)] = [777, 0, 1000 * D - 1]
    df = spark.createDataFrame(pdf)
    l = df.selectExpr("id AS l_id", "t0_us", "t1_us")
    r = df.selectExpr("id AS r_id", "t0_us", "t1_us")
    got = joins.interval_join(l, r, bucket_us=D).toPandas()
    assert not got.duplicated(["l_id", "r_id"]).any()
    want = {}
    for a in pdf.itertuples():
        for b in pdf.itertuples():
            s, e = max(a.t0_us, b.t0_us), min(a.t1_us, b.t1_us)
            if s <= e:
                want[(a.id, b.id)] = e - s
    got_map = {(x.l_id, x.r_id): x.overlap_us for x in got.itertuples()}
    assert got_map == want
    # auto bucket sizing must give the identical result
    got_auto = joins.interval_join(l, r).toPandas()
    auto_map = {(x.l_id, x.r_id): x.overlap_us
                for x in got_auto.itertuples()}
    assert auto_map == want
    # the outlier pairs with everything -> broadcast path carried them
    assert sum(1 for k in got_map if k[0] == 777) == len(pdf)
    # the short-side explode excludes the outlier: bounded row count
    from pyspark.sql import functions as F
    W = 86_400_000_000
    nb = (F.floor(F.col("t1_us") / W) - F.floor(F.col("t0_us") / W) + 1)
    exploded_short = df.where(nb <= 64).select(
        F.sum(nb).alias("rows")).collect()[0]["rows"]
    assert exploded_short < 1000  # vs ~1000 for the outlier alone


def test_interval_join_bimodal_auto_bucket(spark):
    """ADVICE r5 (low): on bimodal spans (half instants, half
    month-long) the median span is ~0 — auto sizing must floor the
    bucket with p90 so the month-long rows stay on the BUCKETED path
    (a 1us bucket would class them all 'long' and broadcast an
    unbounded relation into a nested-loop join).  Results must still
    be exact vs brute force."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(11)
    D = 86_400_000_000
    n = 60  # 30 instants + 30 month-long spans
    starts = rng.integers(0, 90 * D, n)
    lens = np.where(np.arange(n) % 2 == 0, 0,
                    rng.integers(28 * D, 32 * D, n))
    pdf = pd.DataFrame({"id": np.arange(n), "t0_us": starts,
                        "t1_us": starts + lens})
    df = spark.createDataFrame(pdf)
    l = df.selectExpr("id AS l_id", "t0_us", "t1_us")
    r = df.selectExpr("id AS r_id", "t0_us", "t1_us")
    got = joins.interval_join(l, r).toPandas()
    assert not got.duplicated(["l_id", "r_id"]).any()
    want = {}
    for a in pdf.itertuples():
        for b in pdf.itertuples():
            s, e = max(a.t0_us, b.t0_us), min(a.t1_us, b.t1_us)
            if s <= e:
                want[(a.id, b.id)] = e - s
    got_map = {(x.l_id, x.r_id): x.overlap_us for x in got.itertuples()}
    assert got_map == want
    # the sizing formula itself: W floored at p90 keeps every span's
    # bucket count within max_buckets, so the 'long' class is EMPTY
    spans = sorted(pdf["t1_us"] - pdf["t0_us"])
    med = spans[len(spans) // 2]
    p90 = spans[int(0.9 * (len(spans) - 1))]
    W = max(2 * med, p90, 1)
    nb = (pdf["t1_us"] // W) - (pdf["t0_us"] // W) + 1
    assert (nb <= 64).all()  # nothing takes the broadcast NL pass


def _assert_knn_is_brute(got, qpdf, cpdf, k):
    """Each query's ranked neighbours equal numpy brute force over every
    candidate but itself, ordered by (distance, c_id): min(k, |C| -
    self) rows, ranks 1..n."""
    cx, cy = cpdf["lon"].to_numpy(), cpdf["lat"].to_numpy()
    cid = cpdf["c_id"].to_numpy()
    for _, qrow in qpdf.iterrows():
        d = np.sqrt((cx - qrow["lon"]) ** 2 + (cy - qrow["lat"]) ** 2)
        other = cid != qrow["q_id"]
        order = np.lexsort((cid[other], d[other]))[:k]
        mine = got[got["q_id"] == qrow["q_id"]].sort_values("rank")
        assert mine["rank"].tolist() == list(range(1, len(order) + 1)), \
            qrow["q_id"]
        assert mine["c_id"].tolist() == cid[other][order].tolist(), \
            qrow["q_id"]
        np.testing.assert_allclose(mine["dist"].to_numpy(), d[other][order],
                                   rtol=0, atol=1e-12, err_msg=qrow["q_id"])


def _knn_level(lon, lat, cpdf, levels, k):
    """The ladder level ``knn_join`` searches a query at: the finest of
    ``levels`` + (0,) whose own cell holds more than k candidates, else
    0."""
    import mobilitydb_spark.cells as C
    for r in (*levels, 0):
        own = C.cell_np(np.array([lon]), np.array([lat]), r)
        if (C.cell_np(cpdf["lon"], cpdf["lat"], r) == own).sum() > k:
            return r
    return 0


def _skewed_corpus(seed):
    """A dense 0.1° cluster (fine levels) and a sparse tail (coarse
    levels and level 0)."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "c_id": [f"c{i}" for i in range(800)],
        "lon": np.r_[10.0 + rng.uniform(0, 0.1, 600),
                     rng.uniform(-60, 60, 200)],
        "lat": np.r_[50.0 + rng.uniform(0, 0.1, 600),
                     rng.uniform(-40, 40, 200)]})


def test_knn_skewed_corpus_matches_brute(spark):
    """Queries drawn from a dense cluster plus a sparse tail, where the
    dense ones search small fine cells and the tail coarse ones, equal
    brute force."""
    cpdf = _skewed_corpus(11)
    qpdf = cpdf.iloc[::17].rename(columns={"c_id": "q_id"}).copy()
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 4, resolutions=(12, 10, 8)).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 4)
    # non-vacuity: dense queries search the finest level, tail ones
    # coarser levels
    chosen = {_knn_level(x, y, cpdf, (12, 10, 8), 4)
              for x, y in zip(qpdf["lon"], qpdf["lat"])}
    assert 12 in chosen and len(chosen) >= 2, chosen


def test_knn_mixed_levels_in_one_join_match_brute(spark):
    """Queries whose ladder picks different levels share the one
    candidate join; every level's answer equals brute force."""
    cpdf = _skewed_corpus(23)
    qpdf = cpdf.iloc[::13].rename(columns={"c_id": "q_id"}).copy()
    levels = (12, 10, 8)
    # non-vacuity: the ladder's choice, recomputed in numpy, differs
    chosen = {_knn_level(x, y, cpdf, levels, 3)
              for x, y in zip(qpdf["lon"], qpdf["lat"])}
    assert len(chosen) >= 2, chosen
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 3, resolutions=levels).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 3)


def test_knn_antimeridian_and_poles_match_brute(spark):
    """Queries within one disk of the antimeridian (the cover wraps in
    longitude) and of both poles (the cover clamps in latitude),
    including two ~0.45° from a cluster that search a coarser cell,
    equal brute force with no pair twice."""
    rng = np.random.default_rng(7)
    centres = [(179.98, 0.0), (-179.98, 10.0), (0.0, 89.98),
               (120.0, -89.98), (179.98, 89.98)]
    lon = np.concatenate([np.clip(x + rng.uniform(-0.05, 0.05, 40),
                                  -180.0, 179.9999) for x, _ in centres])
    lat = np.concatenate([np.clip(y + rng.uniform(-0.05, 0.05, 40),
                                  -90.0, 90.0) for _, y in centres])
    cpdf = pd.DataFrame({"c_id": [f"c{i}" for i in range(len(lon))],
                         "lon": lon, "lat": lat})
    qpdf = pd.concat([
        cpdf.iloc[::5].rename(columns={"c_id": "q_id"}),
        pd.DataFrame({"q_id": ["wrap", "pole"], "lon": [179.5, 0.0],
                      "lat": [0.0, 89.5]})], ignore_index=True)
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 4, resolutions=(14, 12, 10)).toPandas()
    assert not got.duplicated(["q_id", "c_id"]).any()
    _assert_knn_is_brute(got, qpdf, cpdf, 4)


def test_knn_k_above_in_radius_counts_match_brute(spark):
    """k larger than many queries' fine-cell counts: those queries
    search coarser cells or the whole grid and still equal brute
    force."""
    cpdf = _skewed_corpus(31)
    qpdf = cpdf.iloc[::9].rename(columns={"c_id": "q_id"}).copy()
    q = spark.createDataFrame(qpdf)
    c = spark.createDataFrame(cpdf)
    got = joins.knn_join(q, c, 12, resolutions=(12, 10, 8)).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 12)


def test_knn_no_more_candidates_than_k(spark):
    """|C| <= k: every query gets every candidate but itself, ranked."""
    cpdf = pd.DataFrame({"c_id": ["a", "b", "c"],
                         "lon": [10.0, 10.5, -120.0],
                         "lat": [50.0, 50.2, -30.0]})
    qpdf = pd.DataFrame({"q_id": ["a", "q1", "q2"],
                         "lon": [10.0, 10.2, 170.0],
                         "lat": [50.0, 50.1, 80.0]})
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 3).toPandas()
    assert len(got) == 2 + 3 + 3
    _assert_knn_is_brute(got, qpdf, cpdf, 3)
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 5).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 5)


def test_knn_isolated_query_searches_the_whole_grid(spark):
    """A query whose every ladder cell holds at most k candidates is
    served by level 0 only; its neighbours are in another hemisphere."""
    rng = np.random.default_rng(17)
    cpdf = pd.DataFrame({"c_id": [f"c{i}" for i in range(120)],
                         "lon": np.r_[-70.0 + rng.uniform(0, 0.3, 100),
                                      rng.uniform(100, 170, 20)],
                         "lat": np.r_[-20.0 + rng.uniform(0, 0.3, 100),
                                      rng.uniform(-80, -40, 20)]})
    qpdf = pd.DataFrame({"q_id": ["alone", "in_cluster"],
                         "lon": [20.0, -69.9], "lat": [70.0, -19.9]})
    levels = (12, 10, 8)
    assert _knn_level(20.0, 70.0, cpdf, levels, 4) == 0
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 4,
                         resolutions=levels).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 4)


def test_knn_query_at_the_edge_of_a_cluster_filling_its_cell(spark):
    """A dense cluster fills one level-8 cell; queries sit on the
    cell's edge and at its corners, where the whole cell lies to one
    side and the nearest candidates lie across the cell border.  The radius is
    the distance to the own cell's far corner, so they equal brute
    force."""
    import mobilitydb_spark.cells as C
    rng = np.random.default_rng(29)
    # level-8 cell: 1.40625° x 0.703125°, here [0, 1.40625) x (45, 45.70]
    w, h = 360.0 / 256, 180.0 / 256
    cx0, cy1 = 0.0, 90.0 - 63 * h
    # the cluster fills the cell's inner level-10 cells, so the edge
    # queries' own level-10 cells are empty and they search level 8
    fill = pd.DataFrame({"lon": cx0 + rng.uniform(w / 4, 3 * w / 4, 400),
                         "lat": cy1 - rng.uniform(h / 4, 3 * h / 4, 400)})
    # a thin ring just outside the cell, closer to the edge queries
    # than most of the cluster
    out = pd.DataFrame({"lon": np.r_[cx0 - 0.002 * np.ones(6),
                                     cx0 + w + 0.002 * np.ones(6)],
                        "lat": np.r_[cy1 - h / 2 + 0.01 * np.arange(6),
                                     cy1 - 0.001 - 0.01 * np.arange(6)]})
    cpdf = pd.concat([fill, out], ignore_index=True)
    cpdf.insert(0, "c_id", [f"c{i}" for i in range(len(cpdf))])
    qpdf = pd.DataFrame({
        "q_id": ["west_edge", "ne_corner", "sw_corner"],
        "lon": [cx0 + 1e-4, cx0 + w - 1e-4, cx0 + 1e-4],
        "lat": [cy1 - h / 2 + 0.025, cy1 - 1e-4, cy1 - h + 1e-4]})
    k = 5
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), k,
                         resolutions=(12, 10, 8)).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, k)
    # non-vacuity: the queries search the filled level-8 cell, and some
    # true neighbours lie outside it
    own = C.cell_np(qpdf["lon"], qpdf["lat"], 8)
    assert {_knn_level(x, y, cpdf, (12, 10, 8), k)
            for x, y in zip(qpdf["lon"], qpdf["lat"])} == {8}
    assert len(set(own)) == 1
    outside = got["c_id"].isin(cpdf["c_id"][len(fill):])
    assert outside.sum() >= 3


def test_knn_ring_spans_the_radius_on_each_axis(spark):
    """The own level-8 cell's k+1 candidates sit at its far east edge;
    two nearer ones lie 1.6 cell heights north and 1.3° west, beyond
    the cell.  The ring one level finer must reach them on each axis:
    half the rows or half the columns misses one."""
    w, h = 360.0 / 256, 180.0 / 256
    x0, y0 = 140 * w - 180.0, 90.0 - 61 * h  # the cell's south-west corner
    cpdf = pd.DataFrame({
        "c_id": ["e0", "e1", "e2", "e3", "north", "west"],
        "lon": [x0 + w - 0.001 - 0.0005 * i for i in range(4)]
               + [x0 + 0.001, x0 - 1.3],
        "lat": [y0 + 0.001] * 4 + [y0 + 1.6 * h, y0 + 0.001]})
    qpdf = pd.DataFrame({"q_id": ["sw"], "lon": [x0 + 0.001],
                         "lat": [y0 + 0.001]})
    assert _knn_level(x0 + 0.001, y0 + 0.001, cpdf, (12, 10, 8), 3) == 8
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 3,
                         resolutions=(12, 10, 8)).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 3)
    assert got.sort_values("rank")["c_id"].tolist()[:2] == ["north", "west"]


def test_knn_duplicate_coordinates_rank_by_candidate_id(spark):
    """Candidates stacked on one point tie in distance; the k-th rank
    goes to the smallest c_id among them, as brute force orders."""
    ids = np.array([17, 3, 42, 8, 25, 11, 30, 5])
    cpdf = pd.DataFrame({"c_id": np.r_[ids, [100, 101]],
                         "lon": np.r_[np.full(8, 5.001), [5.0005, 9.0]],
                         "lat": np.r_[np.full(8, 40.0), [40.0, 41.0]]})
    qpdf = pd.DataFrame({"q_id": [-1, -2, 3], "lon": [5.0, 5.002, 5.001],
                         "lat": [40.0, 40.0, 40.0]})
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 4).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 4)
    first = got[got["q_id"] == -1].sort_values("rank")["c_id"].tolist()
    assert first == [100, 3, 5, 8]


def test_knn_query_ids_shared_with_candidate_ids(spark):
    """A query is its own neighbour only by id: a candidate with the
    query's id is left out wherever it lies, and other queries still
    see it."""
    rng = np.random.default_rng(41)
    cpdf = pd.DataFrame({"c_id": np.arange(50),
                         "lon": 30.0 + rng.uniform(0, 0.05, 50),
                         "lat": 10.0 + rng.uniform(0, 0.05, 50)})
    # query 7 sits on candidate 7's point; query 12 on candidate 0's
    # point, so its nearest other-id candidate is 0 itself
    qpdf = pd.DataFrame({
        "q_id": [7, 12, 0],
        "lon": [cpdf["lon"][7], cpdf["lon"][0], cpdf["lon"][12]],
        "lat": [cpdf["lat"][7], cpdf["lat"][0], cpdf["lat"][12]]})
    got = joins.knn_join(spark.createDataFrame(qpdf),
                         spark.createDataFrame(cpdf), 3).toPandas()
    _assert_knn_is_brute(got, qpdf, cpdf, 3)
    assert 7 not in got[got["q_id"] == 7]["c_id"].tolist()
    assert got[(got["q_id"] == 12) & (got["rank"] == 1)]["c_id"].item() == 0


def test_knn_join_is_lazy_with_one_window(spark):
    """Calling knn_join starts no Spark job; its executed plan has one
    Window and no nested-loop or cartesian join."""
    cpdf = _skewed_corpus(5)
    qpdf = cpdf.iloc[::20].rename(columns={"c_id": "q_id"}).copy()
    q, c = spark.createDataFrame(qpdf), spark.createDataFrame(cpdf)
    sc = spark.sparkContext
    sc.setJobGroup("knn-lazy", "knn_join laziness")
    try:
        out = joins.knn_join(q, c, 3, resolutions=(12, 10, 8))
        assert list(sc.statusTracker().getJobIdsForGroup("knn-lazy")) == []
        got = out.toPandas()
        assert sc.statusTracker().getJobIdsForGroup("knn-lazy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _assert_knn_is_brute(got, qpdf, cpdf, 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    nodes = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    assert sum(n.startswith("Window ") for n in nodes) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_spatial_joins_are_lazy_without_pandas_passes(spark, pts,
                                                     grid_polys):
    """Calling either PIP join or either dwithin join starts no Spark
    job, and no executed plan holds a MapInPandas node: covers, levels
    and rings are Catalyst expressions."""
    polys_df = spark.createDataFrame(
        grid_polys, "poly_id bigint, layer string, geom_wkb binary, srid int")
    # a pandas-built copy: the fixture's own plan has a MapInPandas
    pts = spark.createDataFrame(pts.toPandas())
    a = pts.select(F.concat_ws("#", "url", "tag_idx").alias("l_id"),
                   "lon", "lat").limit(100)
    b = pts.select(F.concat_ws("#", "url", "tag_idx").alias("r_id"),
                   "lon", "lat")
    sc = spark.sparkContext
    sc.setJobGroup("spatial-lazy", "spatial join laziness")
    try:
        outs = {"broadcast": pipeline.pip_join_broadcast(pts, grid_polys),
                "shuffle": joins.pip_join_shuffle(pts, polys_df, res=10),
                "dwithin": joins.dwithin_join(a, b, 0.5, res=8),
                "geog": joins.dwithin_join_geog(a, b, 30_000.0, res=6)}
        assert list(sc.statusTracker().getJobIdsForGroup("spatial-lazy")) \
            == []
        for name, out in outs.items():
            assert len(out.collect()) > 0, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for name, out in outs.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, (name, plan)


def test_pip_joins_agree_on_boundary_points(spark):
    """Both PIP joins apply points_in_polygon's closed-boundary rule:
    interior, on-edge, corner and ±eps-band points against rectangles
    sharing an edge and a corner, a slanted triangle edge, a hole and
    a MultiPolygon."""
    e = geo.BOUNDARY_EPS
    x0, y0, x1, y1 = 10.0, 20.0, 30.0, 50.0

    def rect(a, b, c, d):
        return np.array([[a, b], [c, b], [c, d], [a, d], [a, b]])

    polys = {
        1: geo.polygon_wkb(rect(x0, y0, x1, y1)),
        2: geo.polygon_wkb(rect(x1, y0, 40.0, y1)),   # shares x = 30
        3: geo.polygon_wkb(rect(x1, y1, 40.0, 60.0)),  # corner (30, 50)
        4: geo.polygon_wkb(np.array([[0.0, 0.0], [8.0, 0.0], [0.0, 6.0],
                                     [0.0, 0.0]])),   # 3x + 4y = 24
        5: geo.polygon_wkb(rect(100.0, 0.0, 110.0, 10.0),
                           [rect(103.0, 3.0, 107.0, 7.0)]),
        6: geo.multipolygon_wkb([
            geo.polygon_wkb(rect(120.0, 0.0, 122.0, 2.0)),
            geo.polygon_wkb(rect(124.0, 0.0, 126.0, 2.0))]),
    }
    nx, ny = 0.6, 0.8  # unit normal of the triangle's slanted edge
    pts = [(20.0, 35.0), (x0, 35.0), (x1, 35.0), (20.0, y0), (20.0, y1),
           (x0, y0), (x1, y1), (x0 - 2 * e, 35.0), (x0 + 2 * e, 35.0),
           (x0 - 0.5 * e, 35.0), (x1 + 0.5 * e, y1 + 0.5 * e),
           (x1 + 2 * e, y1 + 2 * e), (5.0, 35.0), (20.0, 60.0),
           (x0 - 0.5 * e, y0 - 0.5 * e), (x0, 35.0 + 0.3 * e),
           (35.0, y1), (x1, 55.0), (x1 - 0.5 * e, y1 + 0.5 * e),
           (2.0, 2.0), (4.0, 3.0), (8.0, 0.0), (0.0, 6.0),
           (4.0 + 0.5 * e * nx, 3.0 + 0.5 * e * ny),
           (4.0 + 2 * e * nx, 3.0 + 2 * e * ny),
           (4.0 - 2 * e * nx, 3.0 - 2 * e * ny),
           (101.0, 5.0), (105.0, 5.0), (103.0, 5.0), (107.0, 7.0),
           (103.0 + 0.5 * e, 5.0), (103.0 + 2 * e, 5.0),
           (121.0, 1.0), (125.0, 1.0), (123.0, 1.0), (122.0, 1.0),
           (124.0 - 0.5 * e, 2.0), (124.0 - 2 * e, 1.0)]
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    want = set()
    for pid, wkb in polys.items():
        hit = geo.points_in_polygon(lon, lat, geo.from_wkb(wkb))
        want |= {(int(i), pid) for i in np.nonzero(hit)[0]}

    polys_pdf = pd.DataFrame({"poly_id": list(polys),
                              "geom_wkb": list(polys.values())})
    pts_df = spark.createDataFrame(
        pd.DataFrame({"pt": np.arange(len(pts)), "lon": lon, "lat": lat}))
    # the flagship reads the same doubles back from geotag text
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"u{i}" for i in range(len(pts))], "warc_ts": 0,
        "lang": "en", "text": [f"geo:{y!r},{x!r}" for x, y in pts]}))
    flag = pipeline.flagship(pages, polys_pdf).select(
        F.substring("url", 2, 9).cast("long").alias("pt"), "poly_id")
    # the shuffle join covers the 20°×30° rectangles a level coarser
    # than the rest, so its multi-level path runs
    polys_df = spark.createDataFrame(polys_pdf,
                                     "poly_id bigint, geom_wkb binary")
    levels = joins.polygon_dim(polys_df, 10).select("r").distinct()
    assert levels.count() >= 2
    got = {}
    for name, df in (
            ("flagship", flag),
            ("broadcast", pipeline.pip_join_broadcast(pts_df, polys_pdf)),
            ("broadcast_res5", pipeline.pip_join_broadcast(
                pts_df, polys_pdf, index_res=5)),
            ("shuffle", joins.pip_join_shuffle(pts_df, polys_df, res=10))):
        got[name] = {(r["pt"], r["poly_id"]) for r in df.collect()}
        assert got[name] == want, (name, sorted(got[name] ^ want))
    # the shared edge, the shared corner and the hole's edge count
    assert {(2, 1), (2, 2), (6, 1), (6, 2), (6, 3), (28, 5)} <= want
    assert (27, 5) not in want and (34, 6) not in want
