"""Round-6 optimization equivalence pins.

Each test pins a rewritten hot path to the semantics of the formulation
it replaced: the bucket-local gram kernel vs the brute candidate rule,
the numpy minhash signature vs the Catalyst permutation expressions,
and the vectorized point×rect DE-9IM classification vs relate_geoms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# point×rect DE-9IM fast path ≡ relate_geoms
# ---------------------------------------------------------------------------

def test_point_rect_de9im_classification_matches_relate_geoms():
    from mobilitydb_spark import geo as G
    from mobilitydb_spark.de9im import matches_pattern, relate_geoms
    x0, y0, x1, y1 = 2.0, 40.0, 12.0, 52.0
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)
    rect = G.Geometry("Polygon", [ring])
    mats = np.array(["FF0FFF212", "F0FFFF212", "0FFFFF212"])
    # interior / every edge / every corner / exterior on all sides.
    # relate_geoms snaps points within a ~1e-9 epsilon of an edge to
    # the boundary class; the vectorized query path uses the oracle's
    # EXACT comparisons (the two agree everywhere outside that band,
    # and the derived fixture coordinates never land inside it), so
    # the near-edge samples here sit 1e-6 off the edge.
    samples = [(7.0, 46.0), (x0, 46.0), (x1, 46.0), (7.0, y0), (7.0, y1),
               (x0, y0), (x1, y0), (x0, y1), (x1, y1),
               (x0 - 1, 46.0), (x1 + 1, 46.0), (7.0, y0 - 1), (7.0, y1 + 1),
               (x0 - 1e-6, 46.0), (x0 + 1e-6, 46.0)]
    for lon, lat in samples:
        p = G.Geometry("Point", [np.array([[lon, lat]], dtype=np.float64)])
        m = relate_geoms(p, rect)
        inside = (lon > x0) and (lon < x1) and (lat > y0) and (lat < y1)
        closed = (x0 <= lon <= x1) and (y0 <= lat <= y1)
        assert m == mats[int(closed) + int(inside)], (lon, lat)
        assert matches_pattern(m, "T*F**F***") == inside


# ---------------------------------------------------------------------------
# bucket-local gram kernel ≡ brute bucket pairing
# ---------------------------------------------------------------------------

def test_bucket_gram_pairs_matches_brute(spark):
    from mobilitydb_spark.datagen.similarity import _bucket_gram_pairs
    rng = np.random.default_rng(7)
    n, dim = 400, 16
    base = rng.standard_normal((n, dim))
    # plant near-dup clusters so scores straddle the threshold
    base[50:60] = base[50] + rng.standard_normal((10, dim)) * 0.05
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    g1 = rng.integers(0, 3, n)
    g2 = rng.integers(0, 4, n)
    rows = [(int(i), base[i].astype(np.float32).tolist(),
             int(g1[i]), int(g2[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "id bigint, e array<float>, c1 int, c2 int")
    thr, cap = 0.9, 50
    got = {(r.id_i, r.id_j): r.score
           for r in _bucket_gram_pairs(df, thr, cap, "c1", "c2").collect()}

    # brute reference: per bucket (size <= cap), all i<j pairs with the
    # strict left-fold dot rounded to 6 >= threshold
    exp = {}
    E32 = base.astype(np.float32)
    from collections import defaultdict
    buckets = defaultdict(list)
    for i in range(n):
        buckets[(g1[i], g2[i])].append(i)
    for mem in buckets.values():
        if len(mem) > cap:
            continue
        for ai in range(len(mem)):
            for bi in range(ai + 1, len(mem)):
                i, j = sorted((mem[ai], mem[bi]))
                prod = (E32[i].astype(np.float64)
                        * E32[j].astype(np.float64))
                s = round(float(np.cumsum(prod)[-1]), 6)
                if s >= thr:
                    exp[(i, j)] = s
    assert got == exp


def test_bucket_gram_pairs_drops_oversized_bucket(spark):
    from mobilitydb_spark.datagen.similarity import _bucket_gram_pairs
    # 5 identical vectors in one bucket, cap 4 -> bucket dropped
    v = (np.ones(8) / np.sqrt(8)).astype(np.float32).tolist()
    rows = [(i, v, 0, 0) for i in range(5)] + [(10, v, 1, 0), (11, v, 1, 0)]
    df = spark.createDataFrame(
        rows, "id bigint, e array<float>, c1 int, c2 int")
    got = sorted((r.id_i, r.id_j)
                 for r in _bucket_gram_pairs(df, 0.9, 4, "c1", "c2").collect())
    assert got == [(10, 11)]


# ---------------------------------------------------------------------------
# numpy minhash signature ≡ Catalyst permutation expressions
# ---------------------------------------------------------------------------

def test_minhash_numpy_minima_match_catalyst(spark):
    from mobilitydb_spark.datagen.dedup import MERSENNE31
    rng = np.random.default_rng(42)
    n_hashes = 48
    a = rng.integers(1, MERSENNE31, n_hashes, dtype=np.int64)
    b_ = rng.integers(0, MERSENNE31, n_hashes, dtype=np.int64)
    # raw shingle hashes, including negatives (xxhash64 range)
    hx = rng.integers(-(2 ** 62), 2 ** 62, 37, dtype=np.int64)
    sdf = spark.createDataFrame([(1, [int(x) for x in hx])],
                                "id bigint, hx array<bigint>")
    cat = sdf.selectExpr(*[
        f"array_min(transform(hx, x -> pmod(pmod(x, {MERSENNE31}) * "
        f"CAST({int(a[j])} AS BIGINT) + {int(b_[j])}, {MERSENNE31}))) "
        f"AS m{j}" for j in range(n_hashes)]).collect()[0]
    r = hx % np.int64(MERSENNE31)
    for j in range(n_hashes):
        y = (r * a[j] + b_[j]) % np.int64(MERSENNE31)
        assert int(y.min()) == cat[f"m{j}"], j


def test_minhash_lsh_pairs_equals_brute_small(spark):
    """End-to-end recall pin on planted near-dups (same docs through
    the rewritten signature kernel vs the quadratic exact baseline)."""
    from mobilitydb_spark.datagen.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs)
    words = [f"w{i}" for i in range(30)]
    docs = []
    for d in range(40):
        rng = np.random.default_rng(d)
        toks = [words[i] for i in rng.integers(0, 30, 25)]
        docs.append((d, " ".join(toks)))
        if d % 7 == 0:  # planted near-dup: one token changed
            toks2 = list(toks)
            toks2[3] = "zz"
            docs.append((1000 + d, " ".join(toks2)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = sorted((r.id_i, r.id_j, r.jaccard)
                 for r in minhash_lsh_pairs(df, threshold=0.6).collect())
    exp = sorted((r.id_i, r.id_j, r.jaccard)
                 for r in ngram_jaccard_pairs(df, threshold=0.6).collect())
    assert got == exp and len(got) >= 5


# ---------------------------------------------------------------------------
# vectorized per-key temporal operators ≡ per-Temporal kernel loop
# ---------------------------------------------------------------------------

def _longform_df(spark, with_z=False, with_str=False):
    """Adversarial long-form fixture: single-point keys, stationary
    segments, duplicate (key, t) rows, irregular gaps."""
    rng = np.random.default_rng(11)
    rows = []
    base = np.datetime64("2024-01-15T00:00:00", "us")
    for k in range(25):
        n = int(rng.integers(1, 12))
        ts = np.sort(rng.choice(np.arange(0, 500), n, replace=False))
        xs = rng.integers(0, 10, n) / 10.0
        ys = rng.integers(0, 10, n) / 10.0
        zs = rng.integers(0, 10, n) / 10.0
        if n > 3:
            xs[1] = xs[0]
            ys[1] = ys[0]  # stationary segment
        for i in range(n):
            t = (base + np.timedelta64(int(ts[i]) * 3600_000_000, "us")) \
                .astype("datetime64[us]").item()
            row = {"key": k, "t": t, "x": float(xs[i]), "y": float(ys[i]),
                   "v": float(xs[i] + ys[i])}
            if with_z:
                row["z"] = float(zs[i])
            if with_str:
                row["etype"] = ["ok", "error", "warn"][int(xs[i] * 10) % 3]
            rows.append(row)
    # duplicate (key, t) rows are out-of-contract upstream (grouped
    # feeds), but the harness must still drop them like the old prep
    rows.append(dict(rows[0]))
    return spark.createDataFrame(rows)


def test_vectorized_trajectory_metrics_matches_kernels(spark):
    import pandas as pd
    from mobilitydb_spark import spatial
    from mobilitydb_spark import spark_temporal as ST
    from mobilitydb_spark.spark_temporal import temporal_from_pdf
    df = _longform_df(spark)
    got = {r["key"]: r.asDict()
           for r in ST.trajectory_metrics(df).collect()}
    pdf = df.toPandas()
    for kv, g in pdf.groupby("key"):
        g2 = g.drop_duplicates(subset=["t"]).sort_values("t")
        tv = temporal_from_pdf(g2, "t", ("x", "y"))
        sp = spatial.speed(tv)
        cen = spatial.twcentroid(tv)
        r = got[kv]
        assert abs(r["length"] - spatial.length(tv)) < 1e-9
        want_max = float(sp.max_value()[0]) if sp is not None else 0.0
        assert abs(r["speed_max"] - want_max) < 1e-9
        assert abs(r["centroid_x"] - float(cen[0])) < 1e-9
        assert abs(r["centroid_y"] - float(cen[1])) < 1e-9
        assert r["n_points"] == tv.num_instants()
        assert abs(r["duration_sec"] - tv.duration_us() / 1e6) < 1e-9


def test_vectorized_twavg_azimuth_ttext_match_kernels(spark):
    import pandas as pd
    from mobilitydb_spark import spatial
    from mobilitydb_spark import spark_temporal as ST
    from mobilitydb_spark.restrict import at_value
    from mobilitydb_spark.spark_temporal import temporal_from_pdf
    from mobilitydb_spark.types import Temporal
    df = _longform_df(spark, with_str=True)
    pdf = df.toPandas()
    at_us = int(np.datetime64("2024-01-20T07:30:00", "us").astype(np.int64))

    got_tw = {r["key"]: r["twavg"]
              for r in ST.tnumber_twavg(df, v="v").collect()}
    got_az = {r["key"]: r.asDict()
              for r in ST.azimuth_cumlen_stats(df, at_us).collect()}
    got_tt = {r["key"]: r.asDict()
              for r in ST.ttext_state_stats(df, "error").collect()}

    for kv, g in pdf.groupby("key"):
        g2 = g.drop_duplicates(subset=["t"]).sort_values("t")
        tv1 = temporal_from_pdf(g2, "t", ("v",))
        assert abs(got_tw[kv] - spatial.twavg(tv1)) < 1e-9
        tv2 = temporal_from_pdf(g2, "t", ("x", "y"))
        az = spatial.azimuth(tv2)
        cl = spatial.cumulative_length(tv2)
        vat = cl.value_at(at_us)
        if az is None or vat is None:
            assert kv not in got_az
        else:
            assert abs(got_az[kv]["tw_azimuth"] - spatial.twavg(az)) < 1e-9
            assert abs(got_az[kv]["cumlen_at"] - float(vat[0])) < 1e-9
        # ttext reference: stepwise code machine
        tt = g2["t"].to_numpy().astype("datetime64[us]").astype(np.int64)
        codes, vocab = pd.factorize(g2["etype"])
        tvs = Temporal.sequence(tt, codes.astype(np.float64)[:, None],
                                linear=False)
        if "error" in list(vocab):
            hit = at_value(tvs, float(list(vocab).index("error")))
            ps = hit.get_time() if hit is not None else []
            tus = int(sum(p.upper - p.lower for p in ps))
        else:
            tus = 0
        r = got_tt[kv]
        assert r["n_inst"] == tvs.num_instants()
        assert r["target_us"] == tus
        assert r["ever_target"] == bool((g2["etype"] == "error").any())


def test_vectorized_pair_kernels_match_reference_path(spark):
    """tmath_turning_pairs / tdwithin_pair_stats (vectorized, r6) vs
    the per-Temporal kernel modules they replaced, on adversarial
    pairs: no overlap, instant overlap, stationary segments, distance
    crossings in both directions, single-knot members."""
    import pandas as pd
    from mobilitydb_spark import spark_temporal as ST
    from mobilitydb_spark import spatial
    from mobilitydb_spark.lifting import synchronize, tdiv, tmult, \
        turn_product
    from mobilitydb_spark.restrict import at_value
    from mobilitydb_spark.spark_temporal import temporal_from_pdf
    rng = np.random.default_rng(23)
    rows = []
    base = np.datetime64("2024-01-15T00:00:00", "us")
    for k in range(60):
        n = int(rng.integers(1, 10))
        off = int(rng.integers(0, 5)) * 40  # some pairs barely overlap
        ts = off + np.sort(rng.choice(np.arange(0, 200), n, replace=False))
        for i in range(n):
            t = (base + np.timedelta64(int(ts[i]) * 3600_000_000, "us")) \
                .astype("datetime64[us]").item()
            rows.append({"key": k, "pair": k // 2, "t": t,
                         "x": float(rng.integers(0, 800) / 10.0),
                         "y": float(rng.integers(0, 800) / 10.0),
                         "v": float(rng.integers(0, 1000) / 10.0)})
    df = spark.createDataFrame(rows)
    pdf = pd.DataFrame(rows)
    dist = 30.0

    got_td = {r["pair"]: (r["total_us"], r["n_periods"])
              for r in ST.tdwithin_pair_stats(df, dist).collect()}
    got_tm = {r["pair"]: r.asDict()
              for r in ST.tmath_turning_pairs(df).collect()}

    for pv, g in pdf.groupby("pair"):
        groups = [gg for _, gg in g.groupby("key")]
        if len(groups) != 2:
            assert pv not in got_td and pv not in got_tm
            continue
        prepped = [gg.drop_duplicates(subset=["t"]).sort_values("t")
                   for gg in groups]
        tvs = [temporal_from_pdf(gg, "t", ("x", "y")) for gg in prepped]
        tb = spatial.tdwithin(tvs[0], tvs[1], dist)
        if tb is None:
            assert pv not in got_td
        else:
            hit = at_value(tb, 1.0)
            ps = hit.get_time() if hit is not None else []
            want = (int(sum(p.upper - p.lower for p in ps)), len(ps))
            assert got_td[pv] == want, (pv, got_td[pv], want)
        a, b = [temporal_from_pdf(gg, "t", ("v",)) for gg in prepped]
        bs = temporal_from_pdf(
            prepped[1].assign(v=prepped[1]["v"] + 1000.0), "t", ("v",))
        m = tmult(a, b)
        dq = tdiv(a, bs)
        if m is None or dq is None:
            assert pv not in got_tm
            continue

        def n_turns(aa, bb):
            cnt = 0
            for tss, va, vb, _, _ in synchronize(aa, bb):
                for i in range(len(tss) - 1):
                    cnt += len(turn_product(va[i], va[i + 1], vb[i],
                                            vb[i + 1], int(tss[i]),
                                            int(tss[i + 1])))
            return cnt
        r = got_tm[pv]
        assert r["n_turn_mult"] == n_turns(a, b)
        assert r["n_turn_div"] == n_turns(a, bs)
        # extrema: vectorized path evaluates the full (un-normalized)
        # candidate set, the kernel the EPSILON-normalized hull
        assert abs(r["mult_max"] - float(m.max_value()[0])) < 2e-6
        assert abs(r["mult_min"] - float(m.min_value()[0])) < 2e-6
        assert abs(r["div_max"] - float(dq.max_value()[0])) < 2e-6
        assert abs(r["div_min"] - float(dq.min_value()[0])) < 2e-6


def test_vectorized_at_range_at_box_match_kernels(spark):
    """at_range_stats / at_box_stats (vectorized, r6) vs restrict.at_range
    and spatial.at_geometry_periods on adversarial keys: knots exactly
    ON range/box bounds, constant segments inside/outside, single-point
    keys, values crossing in both directions."""
    import pandas as pd
    from mobilitydb_spark import geo, spatial
    from mobilitydb_spark import spark_temporal as ST
    from mobilitydb_spark.restrict import at_range
    from mobilitydb_spark.spark_temporal import temporal_from_pdf
    rng = np.random.default_rng(31)
    rows = []
    base = np.datetime64("2024-01-15T00:00:00", "us")
    lo, hi = 20.0, 60.0
    x0, y0, x1, y1 = 10.0, 10.0, 50.0, 60.0
    for k in range(40):
        n = int(rng.integers(1, 12))
        ts = np.sort(rng.choice(np.arange(0, 300), n, replace=False))
        vs = rng.integers(0, 1000, n) / 10.0
        if n > 2:
            vs[1] = lo   # knot exactly on the lower bound
            vs[2] = vs[1]  # constant segment on the bound
        for i in range(n):
            tt = (base + np.timedelta64(int(ts[i]) * 3600_000_000, "us")) \
                .astype("datetime64[us]").item()
            rows.append({"key": k, "t": tt, "v": float(vs[i]),
                         "x": float(rng.integers(0, 700) / 10.0),
                         "y": float(rng.integers(0, 700) / 10.0)})
    df = spark.createDataFrame(rows)
    pdf = pd.DataFrame(rows)

    got_r = {r["key"]: r.asDict()
             for r in ST.at_range_stats(df, lo, hi, lo_inc=False,
                                        hi_inc=True).collect()}
    got_b = {r["key"]: r.asDict()
             for r in ST.at_box_stats(df, x0, y0, x1, y1).collect()}
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    box = geo.Geometry("Polygon", [ring])
    for kv, g in pdf.groupby("key"):
        g2 = g.drop_duplicates(subset=["t"]).sort_values("t")
        tv = temporal_from_pdf(g2, "t", ("v",))
        want = at_range(tv, lo, hi, lo_inc=False, hi_inc=True)
        ps = want.get_time() if want is not None else []
        r = got_r[kv]
        assert r["n_pieces"] == len(ps), kv
        assert r["total_us"] == int(sum(p.upper - p.lower for p in ps))
        assert r["n_knots_on_lo"] == int((g2["v"].to_numpy() == lo).sum())
        tv2 = temporal_from_pdf(g2, "t", ("x", "y"))
        ps2 = spatial.at_geometry_periods(tv2, box)
        b = got_b[kv]
        assert b["n_periods"] == len(ps2), kv
        assert b["total_us"] == int(sum(p.upper - p.lower for p in ps2))


def test_minhash_numpy_shingle_combine_matches_catalyst(spark):
    """The in-kernel xxhash64 n-gram combine must equal the zip_with
    chain it replaced (xxhash64 re-seeds from 42 per two-arg call)."""
    from pyspark.sql import functions as F
    rng = np.random.default_rng(9)
    rows = []
    for i in range(50):
        n = int(rng.integers(3, 40))
        rows.append((i, [int(x) for x in
                         rng.integers(-(2**63), 2**63, n, dtype=np.int64)]))
    df = spark.createDataFrame(rows, "id bigint, th array<bigint>")
    m = F.size("th") - 2
    comb = F.slice("th", 1, m)
    for j in range(2, 4):
        comb = F.zip_with(comb, F.slice("th", j, m),
                          lambda x, y: F.xxhash64(x, y))
    want = {r["id"]: r["c"] for r in df.select("id", comb.alias("c")).collect()}

    from mobilitydb_spark.datagen.dedup import minhash_lsh_pairs  # noqa: F401
    # replicate the kernel's port directly
    P1 = np.uint64(0x9E3779B185EBCA87); P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9); P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def hl(l, seed):
        h = seed + P5 + np.uint64(8)
        k1 = l * P2
        k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * P1
        h ^= k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * P1 + P4
        h ^= h >> np.uint64(33); h *= P2
        h ^= h >> np.uint64(29); h *= P3
        h ^= h >> np.uint64(32)
        return h

    with np.errstate(over="ignore"):
        for i, th in rows:
            t = np.array(th, dtype=np.int64).view(np.uint64)
            mm = len(t) - 2
            comb_np = t[:mm]
            for j in range(1, 3):
                comb_np = hl(t[j:j + mm], hl(comb_np, np.uint64(42)))
            assert list(comb_np.view(np.int64)) == list(want[i]), i
