"""The per-key substrate (``spark_temporal._per_key_np_kernel``): group
bounds, duplicate-knot rule and output contract, on the edge cases its
callers hit — empty partitions, single-knot groups, string keys,
pairs with the wrong member count, several rows per group — and the
same result whatever order the rows arrive in."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mobilitydb_spark import aggs
from mobilitydb_spark import spark_temporal as ST
from mobilitydb_spark.types import Temporal

BASE = pd.Timestamp("2024-03-01")


def _ts(h: int) -> pd.Timestamp:
    return BASE + pd.Timedelta(hours=h)


def _us(h: int) -> int:
    return int(_ts(h).value // 1000)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _dup_knots() -> pd.DataFrame:
    """Six tracks in three pairs, 5 hourly knots each, plus a second
    knot at hour 2 of every track with different values (smaller for
    even keys, larger for odd ones)."""
    rows = []
    for k in range(6):
        for h in range(5):
            rows.append((k, k // 2, k % 2, _ts(h), 10.0 * k + h, 2.0 * h,
                         float(h)))
        d = -5.0 if k % 2 == 0 else 5.0
        rows.append((k, k // 2, k % 2, _ts(2), 10.0 * k + 2 + d, 4.0 + d,
                     2.0 + d))
    return pd.DataFrame(rows, columns=["key", "pair", "mkey", "t", "x", "y",
                                       "v"])


def _operators():
    at, t1, t2 = _ts(2).to_pydatetime(), _us(1), _us(3)
    return {
        "traj_metrics": lambda df: ST.trajectory_metrics(df),
        "value_at": lambda df: ST.value_at_timestamp(df, at),
        "period_clip": lambda df: ST.restrict_period_clip(df, t1, t2),
        "nad_pairs": lambda df: ST.nearest_approach_pairs(df),
        "tdwithin": lambda df: ST.tdwithin_pair_stats(df, 3.0),
        "tagg_grouped": lambda df: aggs.temporal_aggregate(
            df, "sum", group="pair", member="mkey"),
        "tagg_pieces": lambda df: aggs.temporal_agg_pieces(
            df, "max", member="key"),
        "wagg_sum_max": lambda df: ST.wagg_sum_max_profile(
            df, _us(1) - _us(0), [_us(h) for h in range(6)]),
    }


def test_duplicate_knots_survivor_is_independent_of_arrival_order(spark):
    """Duplicate (key, t) knots with different values: each operator
    (the Catalyst window aggregate too) gives one result for both
    input orders under one and three input partitions, and it is the
    smallest value tuple that survives."""
    pdf = _dup_knots()
    inputs = {}
    for order in ("forward", "reversed"):
        p = pdf if order == "forward" else pdf.iloc[::-1]
        base = spark.createDataFrame(p.reset_index(drop=True))
        inputs[(order, 1)] = base.coalesce(1)
        inputs[(order, 3)] = base.repartition(3)
    for name, op in _operators().items():
        got = {cfg: _rows(op(df)) for cfg, df in inputs.items()}
        first = got[("forward", 1)]
        assert first, name
        for cfg, rows in got.items():
            assert rows == first, (name, cfg)
    at = {r["key"]: (r["x_at"], r["y_at"]) for r in
          ST.value_at_timestamp(inputs[("reversed", 1)],
                                _ts(2).to_pydatetime()).collect()}
    for k in range(6):
        want = ((10.0 * k - 3, -1.0) if k % 2 == 0
                else (10.0 * k + 2, 4.0))
        assert at[k] == want, k


def test_substrate_groups_with_empty_partitions_and_single_knots(spark):
    """Two keys over more partitions than keys (some tasks get no
    rows), one of them a single knot, and duplicate knots: the
    callback sees each group once, sorted, deduplicated."""
    rows = [(7, _ts(3), 1.0), (7, _ts(1), 2.0), (7, _ts(2), 3.0),
            (7, _ts(1), 0.5), (9, _ts(5), 4.0)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["key", "t", "v"]))
    assert spark.sparkContext.defaultParallelism > 2

    def stats(keys, starts, ends, t_us, cd):
        return {"key": keys, "n": ends - starts, "t0": t_us[starts],
                "t1": t_us[ends - 1],
                "v": [list(cd["v"][a:b]) for a, b in zip(starts, ends)]}

    got = _rows(ST._per_key_np_kernel(
        df, "key", "key bigint, n bigint, t0 bigint, t1 bigint, "
        "v array<double>", stats, cols=("v",)))
    assert got == [(7, 3, _us(1), _us(3), [0.5, 3.0, 1.0]),
                   (9, 1, _us(5), _us(5), [4.0])]


def test_substrate_string_keys_and_several_rows_per_group(spark):
    """String keys (as `structcodec.trajectories` uses urls) and a
    callback emitting one row per knot, and none for a one-knot
    group."""
    rows = [("https://b.example/x", 2, 1.5), ("https://a.example/", 0, 0.0),
            ("https://b.example/x", 0, 2.5), ("https://a.example/", 1, 1.0),
            ("https://c.example/", 4, 9.0), ("https://b.example/x", 1, 3.5)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "idx", "w"]))

    def stats(urls, starts, ends, idx, cd):
        out = [(u, int(i), float(w))
               for u, a, b in zip(urls, starts, ends) if b - a > 1
               for i, w in zip(idx[a:b], cd["w"][a:b])]
        return pd.DataFrame(out, columns=["url", "idx", "w"])

    got = _rows(ST._per_key_np_kernel(
        df, "url", "url string, idx bigint, w double", stats, "idx",
        ("w",)))
    assert got == sorted((u, i, w) for u, i, w in rows
                         if u != "https://c.example/")


def test_pairs_without_exactly_two_members_emit_no_row(spark):
    """The member split: a pair with one member and a pair with three
    emit nothing; the two-member pair sees its members in ascending
    member order."""
    rows = []
    for pair, members in ((0, (5,)), (1, (3, 1)), (2, (4, 6, 8))):
        for m in members:
            for h in range(3):
                rows.append((pair, m, _ts(h + m), float(m), float(h)))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["pair", "key", "t", "x", "y"]))

    def stats(ta, ac, tb, bc):
        return int(ac["x"][0]), int(bc["x"][0])

    got = _rows(ST._per_pair_np_kernel(
        df, "pair", "key", "pair bigint, a bigint, b bigint", stats,
        cols=("x", "y")))
    assert got == [(1, 1, 3)]
    assert [r["pair"] for r in ST.nearest_approach_pairs(df).collect()] \
        == [1]


@pytest.mark.parametrize("discrete", [False, True])
def test_grouped_aggregate_members_split_within_groups(spark, discrete):
    """`temporal_aggregate` builds one member per (group, member) run
    on the substrate; the result equals the kernel over members built
    by hand."""
    rng = np.random.default_rng(3)
    rows = []
    for g in range(3):
        for m in range(g + 1):
            hs = np.sort(rng.choice(np.arange(12), 4, replace=False))
            for h in hs:
                rows.append((g, 10 * g + m, _ts(int(h)),
                             float(rng.integers(0, 50))))
    pdf = pd.DataFrame(rows, columns=["gkey", "mkey", "t", "v"])
    got = aggs.temporal_aggregate(spark.createDataFrame(pdf), "count",
                                  discrete=discrete).toPandas()
    for g, gdf in pdf.groupby("gkey"):
        members = []
        for _, mdf in gdf.groupby("mkey"):
            mdf = mdf.sort_values("t")
            tt = (mdf["t"].astype("int64") // 1000).to_numpy()
            vv = mdf[["v"]].to_numpy()
            members.append(Temporal.instant_set(tt, vv) if discrete else
                           Temporal.sequence(tt, vv, normalize=False))
        want = aggs.tagg(members, "count")
        mine = got[got["gkey"] == g].sort_values(["seq_idx", "t"])
        assert len(mine) == want.num_instants(), g
        assert mine["v"].tolist() == [float(v) for s in want.seqs
                                      for v in s.values[:, 0]], g
