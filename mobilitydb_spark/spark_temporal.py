"""Spark integration of the temporal kernels.

Table-level temporal operators: rows in *exploded long form*
(key, t, x[, y]) are co-located per key by one repartition, and each
task flattens its whole partition to numpy once (``_per_key_np_kernel``:
sort by key and time, drop duplicate knots, find the group bounds).
The kernels then run either vectorized across every key of the
partition at once, or per group on array slices that become
``types.Temporal`` values for the restrict/lifting/spatial kernels.
The profile aggregates need no Python at all: they are Catalyst
window and join plans.

This is the engine's equivalent of MobilityDB evaluating
``length(trip)`` / ``twAvg(speed(trip))`` per row of a trips table
(`point/test/queries/56_tpoint_spatialfuncs_tbl.test.sql`): our rows
are whole trajectories keyed by ``key``.

Scale notes: the only shuffle is the repartition on the key.  Keys are
assumed to fit a task comfortably (trajectories are bounded); for
mega-keys use time-window sub-splitting upstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import spatial
from .types import Temporal


def temporal_from_pdf(pdf: pd.DataFrame, t_col: str = "t",
                      value_cols: tuple[str, ...] = ("x", "y"),
                      linear: bool = True, normalize: bool = False) -> Temporal:
    """Assemble one Temporal from long-form rows (sorted by t)."""
    pdf = pdf.sort_values(t_col, kind="mergesort")
    t = pdf[t_col].to_numpy()
    if np.issubdtype(t.dtype, np.datetime64):
        t = t.astype("datetime64[us]").astype(np.int64)
    else:
        t = t.astype(np.int64)
    vals = pdf[list(value_cols)].to_numpy(dtype=np.float64)
    return Temporal.sequence(t, vals, normalize=normalize, linear=linear)


def _sortable(a: np.ndarray) -> np.ndarray:
    """A sort key for ``np.lexsort``: object columns (strings, with
    nulls) become their sorted factor codes, nulls first."""
    return pd.factorize(a, sort=True)[0] if a.dtype == object else a


def _per_key_np_kernel(points: DataFrame, key: str, schema: str,
                       np_stats, t: str = "t", cols: tuple[str, ...] = (),
                       member: str | None = None) -> DataFrame:
    """The per-key substrate every per-trajectory kernel runs on.

    One repartition on ``key`` co-locates each group; each task then
    flattens its whole partition to numpy once, instead of one pandas
    groupby (and one sort and dedup) per group:

    - lexsort by (key[, member], t, *cols);
    - drop duplicate (key[, member], t) knots, keeping the first row
      of each run: the one with the smallest ``cols`` tuple, so the
      survivor depends on the rows' values only, never on the order
      in which the shuffle delivered them;
    - group bounds from the key changes.

    ``np_stats(keys, starts, ends, t_us, cols)`` then sees the whole
    partition: group ``i`` has key ``keys[i]`` and owns rows
    ``starts[i]:ends[i]``; ``t_us`` is int64 microseconds (``t`` as an
    integer when it is not a timestamp), ascending within a group, or
    within a member's run when ``member`` is given; ``cols`` maps each
    column of ``cols``, and ``member``, to its sorted array.  It
    returns the output columns named in ``schema``, as a dict of
    equal-length arrays or a DataFrame, with one row per group,
    several, or none.  Only ``key``, ``member``, ``t`` and ``cols``
    reach Python.

    Why one pass per partition: at sf1.0 (1M instants, 15k keys) a
    pandas groupby with a per-group dedup, sort and one-row DataFrame
    cost ~0.42 s of a 0.73 s partition whose numpy kernels took
    0.03 s."""
    n_parts = points.sparkSession.sparkContext.defaultParallelism
    by = [key] if member is None else [key, member]
    names = list(dict.fromkeys([*by, t, *cols]))

    def kernel(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        tv = pdf[t].to_numpy()
        if np.issubdtype(tv.dtype, np.datetime64):
            tv = tv.astype("datetime64[us]").astype(np.int64)
        else:
            tv = tv.astype(np.int64)
        arr = {c: pdf[c].to_numpy() for c in dict.fromkeys([*by, *cols])}
        order = np.lexsort([_sortable(arr[c]) for c in reversed(cols)]
                           + [tv]
                           + [_sortable(arr[c]) for c in reversed(by)])
        tv = tv[order]
        arr = {c: a[order] for c, a in arr.items()}
        first = np.ones(len(tv), dtype=bool)
        first[1:] = tv[1:] != tv[:-1]
        for c in by:
            first[1:] |= arr[c][1:] != arr[c][:-1]
        tv = tv[first]
        cd = {c: a[first] for c, a in arr.items()}
        k = cd.pop(key)
        starts = np.concatenate(([0], np.flatnonzero(k[1:] != k[:-1]) + 1))
        ends = np.concatenate((starts[1:], [len(k)]))
        res = pd.DataFrame(np_stats(k[starts], starts, ends, tv, cd))
        if len(res):
            yield res

    return (points.select(*names).repartition(n_parts, key)
            .mapInPandas(kernel, schema))


def _member_runs(m: np.ndarray, s0: int, e0: int) -> list[tuple[int, int]]:
    """``[start, end)`` of each member's run in the group ``s0:e0`` of
    a partition sorted by (key, member, t)."""
    b = [s0, *(s0 + 1 + np.flatnonzero(m[s0 + 1:e0] != m[s0:e0 - 1])), e0]
    return list(zip(b[:-1], b[1:]))


def _per_pair_np_kernel(points: DataFrame, pair: str, member: str,
                        schema: str, pair_stats, t: str = "t",
                        cols: tuple[str, ...] = ()) -> DataFrame:
    """Pair kernels as the member split of the per-key substrate:
    groups are pairs, runs within a group are its members (ascending
    member id), and ``pair_stats(ta, a_cols, tb, b_cols)`` runs per
    pair on the two members' array slices (``cols`` as float64),
    returning the row after ``pair`` as a tuple.  Pairs without
    exactly two members, or for which ``pair_stats`` returns None,
    emit no row."""
    out_cols = [c.strip().split()[0] for c in schema.split(",")]

    def stats(keys, starts, ends, t_us, cd):
        vals = {c: cd[c].astype(np.float64) for c in cols}
        rows = []
        for kv, s0, e0 in zip(keys, starts, ends):
            runs = _member_runs(cd[member], s0, e0)
            if len(runs) != 2:
                continue
            a, b = slice(*runs[0]), slice(*runs[1])
            got = pair_stats(t_us[a], {c: v[a] for c, v in vals.items()},
                             t_us[b], {c: v[b] for c, v in vals.items()})
            if got is not None:
                rows.append((kv, *got))
        return pd.DataFrame(rows, columns=out_cols)

    return _per_key_np_kernel(points, pair, schema, stats, t, cols, member)


def _values(cd: dict, cols: tuple[str, ...]) -> np.ndarray:
    """The ``cols`` arrays of a substrate partition as one (n, d)
    float64 matrix, for ``Temporal`` constructors on group slices."""
    return np.column_stack([cd[c] for c in cols]).astype(np.float64)


def _samp1(tk: np.ndarray, vk: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """1-D twin of ``lifting._sample``: same searchsorted bracket,
    same float op order for the lerp, exact-knot override."""
    idx = np.searchsorted(tk, ts, side="right") - 1
    idx = np.clip(idx, 0, len(tk) - 1)
    exact = tk[idx] == ts
    if len(tk) == 1:
        return vk[idx].copy()
    nxt = np.clip(idx + 1, 0, len(tk) - 1)
    t0 = tk[idx].astype(np.float64)
    t1 = tk[nxt].astype(np.float64)
    dt = np.where(t1 > t0, t1 - t0, 1.0)
    r = (ts.astype(np.float64) - t0) / dt
    out = vk[idx] + (vk[nxt] - vk[idx]) * r
    out[exact] = vk[idx[exact]]
    return out


def _sync_grid(ta: np.ndarray, tb: np.ndarray) -> np.ndarray | None:
    """Synchronized instant grid of two single-sequence domains
    (`lifting.synchronize` for SEQUENCE×SEQUENCE): both members'
    knots inside the common closed window plus its bounds; None when
    the domains do not overlap."""
    lo = max(int(ta[0]), int(tb[0]))
    hi = min(int(ta[-1]), int(tb[-1]))
    if lo > hi:
        return None
    return np.unique(np.concatenate((
        ta[(ta >= lo) & (ta <= hi)], tb[(tb >= lo) & (tb <= hi)],
        np.array([lo, hi], dtype=np.int64))))


def _seg_reduceat(contrib: np.ndarray, starts: np.ndarray,
                  cross: np.ndarray, op=np.add) -> np.ndarray:
    """Per-group reduction of a per-segment array (len n-1 for n
    points): segment i joins points i and i+1, so positions where
    i+1 starts a new group are zeroed (``cross``), a trailing zero is
    appended, and ufunc.reduceat over the POINT starts yields each
    group's own segments plus harmless zeros — single-point groups
    reduce to exactly their zeroed boundary slot."""
    zero = contrib.dtype.type(0) if len(contrib) else 0.0
    c = np.concatenate((np.where(cross, zero, contrib), [zero]))
    return op.reduceat(c, starts)


def trajectory_metrics(points: DataFrame, key: str = "key",
                       t: str = "t", x: str = "x", y: str = "y") -> DataFrame:
    """Per-key trajectory metrics computed by the spatial kernel
    semantics (length `tpoint_spatialfuncs.c:887`, stepwise speed
    `:1073`, twcentroid `:1184`), vectorized across keys: per-segment
    displacement/speed/trapezoid terms in one pass, per-key totals by
    reduceat (the per-Temporal loop formulation is kept by the kernel
    modules and pinned equal by tests/test_r06_optimizations.py)."""
    schema = (f"{key} bigint, length double, speed_max double, "
              "speed_twavg double, centroid_x double, centroid_y double, "
              "duration_sec double, n_points bigint")

    def stats(keys, starts, ends, t_us, cd):
        xs, ys = cd[x].astype(np.float64), cd[y].astype(np.float64)
        cross = np.zeros(max(len(xs) - 1, 0), dtype=bool)
        cross[ends[:-1] - 1] = True
        dxx = np.diff(xs)
        dyy = np.diff(ys)
        dt_s = np.diff(t_us) / 1e6
        seglen = np.sqrt(dxx * dxx + dyy * dyy)
        length = _seg_reduceat(seglen, starts, cross)
        with np.errstate(divide="ignore", invalid="ignore"):
            sp = np.where(dt_s > 0, seglen / dt_s, 0.0)
        speed_max = _seg_reduceat(sp, starts, cross, np.maximum)
        num_x = _seg_reduceat((xs[:-1] + xs[1:]) / 2.0 * dt_s, starts, cross)
        num_y = _seg_reduceat((ys[:-1] + ys[1:]) / 2.0 * dt_s, starts, cross)
        den = _seg_reduceat(dt_s, starts, cross)
        sp_num = _seg_reduceat(sp * dt_s, starts, cross)
        single = ends - starts == 1
        with np.errstate(divide="ignore", invalid="ignore"):
            cx = np.where(single, xs[np.minimum(starts, len(xs) - 1)],
                          num_x / np.where(den > 0, den, 1.0))
            cy = np.where(single, ys[np.minimum(starts, len(ys) - 1)],
                          num_y / np.where(den > 0, den, 1.0))
            twsp = np.where(single, 0.0,
                            sp_num / np.where(den > 0, den, 1.0))
        return {
            key: keys,
            "length": np.where(single, 0.0, length),
            "speed_max": np.where(single, 0.0, speed_max),
            "speed_twavg": twsp,
            "centroid_x": cx, "centroid_y": cy,
            "duration_sec": (t_us[ends - 1] - t_us[starts]) / 1e6,
            "n_points": ends - starts,
        }

    return _per_key_np_kernel(points, key, schema, stats, t, (x, y))


def value_at_timestamp(points: DataFrame, at_ts, key: str = "key",
                       t: str = "t", x: str = "x", y: str | None = "y"
                       ) -> DataFrame:
    """Per-key exact linear interpolation at one timestamp
    (valueAtTimestamp, `src/temporal.c:2910`)."""
    cols = (x,) if y is None else (x, y)
    out_vals = ("x_at double" if y is None else "x_at double, y_at double")
    schema = f"{key} bigint, {out_vals}"
    at_us = int(np.datetime64(at_ts, "us").astype(np.int64))

    def interp(keys, starts, ends, t_us, cd):
        vals = _values(cd, cols)
        rows = []
        for kv, s0, e0 in zip(keys, starts, ends):
            v = Temporal.sequence(t_us[s0:e0], vals[s0:e0],
                                  normalize=False).value_at(at_us)
            if v is not None:
                rows.append((kv, *(float(c) for c in v)))
        return pd.DataFrame(rows,
                            columns=[key, "x_at", "y_at"][:1 + len(cols)])

    return _per_key_np_kernel(points, key, schema, interp, t, cols)


def tnumber_twavg(points: DataFrame, key: str = "key", t: str = "t",
                  v: str = "v") -> DataFrame:
    """Per-key time-weighted average of a tfloat (twAvg,
    `src/temporal.c:3256`) — trapezoid integral / duration, vectorized
    across keys (see ``_per_key_np_kernel``)."""
    schema = f"{key} bigint, twavg double"

    def stats(keys, starts, ends, t_us, cd):
        vs = cd[v].astype(np.float64)
        cross = np.zeros(max(len(vs) - 1, 0), dtype=bool)
        cross[ends[:-1] - 1] = True
        dt_s = np.diff(t_us) / 1e6
        num = _seg_reduceat((vs[:-1] + vs[1:]) / 2.0 * dt_s, starts, cross)
        den = _seg_reduceat(dt_s, starts, cross)
        single = ends - starts == 1
        with np.errstate(divide="ignore", invalid="ignore"):
            tw = np.where(single, vs[np.minimum(starts, len(vs) - 1)],
                          num / np.where(den > 0, den, 1.0))
        return {key: keys, "twavg": tw}

    return _per_key_np_kernel(points, key, schema, stats, t, (v,))


def _lerp_at_probes(points: DataFrame, probes_us: list[int],
                    key: str, t: str, value_cols: tuple[str, ...],
                    step: bool = False) -> DataFrame:
    """Pure-Catalyst member sampling: every member's value at every
    probe inside its domain, by linear interpolation from the
    surrounding knots (STEP: previous knot only).

    Shape: ONE window (lead) turns knots into segments, then a
    BROADCAST range join attaches each tiny probe set row to the
    segment containing it — no shuffle beyond the per-key window
    exchange, and the join is codegen CPU work that scales with rows
    (an earlier union+two-window formulation moved 2× the rows
    through 3 exchanges and was shuffle-IO-bound).  Output: one row
    per (key, in-domain probe).
    """
    from pyspark.sql import Window, functions as F
    spark = points.sparkSession
    pts = points.select(
        key, F.unix_micros(F.col(t).cast("timestamp")).alias("t_us"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols])
    # value cols as orderBy tiebreakers: with duplicate (key, t_us)
    # knots an order on t_us alone leaves which duplicate survives the
    # lag-dedup nondeterministic (ADVICE r3) — ties now keep the row
    # with the smallest value tuple, deterministically, the same rule
    # as the kernel substrate's (``_per_key_np_kernel``)
    w = Window.partitionBy(key).orderBy(
        "t_us", *[f"_v_{c}" for c in value_cols])
    # dedup INSIDE the window partitioning (one exchange + one sort
    # serve both the dedup and the lead(): dropDuplicates would add a
    # second 16M-row exchange on (key, t_us))
    pts = pts.withColumn("_dup", F.lag("t_us").over(w) == F.col("t_us")) \
        .where(~F.coalesce(F.col("_dup"), F.lit(False))).drop("_dup")
    seg = pts.withColumn("_nt", F.lead("t_us").over(w))
    for c in value_cols:
        seg = seg.withColumn(f"_nv_{c}", F.lead(f"_v_{c}").over(w))
    # a probe belongs to the half-open segment [t_us, _nt); the last
    # knot is its own terminal row (_nt null) matching p == t_us, so
    # the closed upper domain bound is covered exactly once
    ps = sorted(set(int(p) for p in probes_us))
    steps = {ps[i + 1] - ps[i] for i in range(len(ps) - 1)}
    if len(ps) > 2 and len(steps) == 1:
        # UNIFORM probe grid (the common time-bucketed shape): the
        # covered probe-index range of each segment is pure per-row
        # arithmetic + a bounded explode — O(segments + matches).
        # The general broadcast range join below evaluates every
        # (segment, probe) pair: 16M segments x 240 probes = 3.8e9
        # codegen predicate rounds, the r4/r5 tagg scaling ceiling.
        base, stp, nprobes = ps[0], steps.pop(), len(ps)
        a = F.col("t_us") - F.lit(base)
        # integer ceil/floor via non-negative pmod (timestamps exceed
        # double's exact-integer range at µs scale, so no doubles)
        lo = (a + F.pmod(-a, F.lit(stp))) / F.lit(stp)
        b = F.when(F.col("_nt").isNotNull(),
                   F.col("_nt") - 1 - F.lit(base)).otherwise(a)
        hi = (b - F.pmod(b, F.lit(stp))) / F.lit(stp)
        # terminal knot rows match a probe only exactly
        lo = F.greatest(lo.cast("bigint"), F.lit(0))
        hi = F.least(hi.cast("bigint"), F.lit(nprobes - 1))
        cand = (seg.withColumn(
                    "_pidx", F.explode(F.when(
                        lo <= hi, F.sequence(lo, hi)
                    ).otherwise(F.array().cast("array<bigint>"))))
                .withColumn("p_us",
                            F.lit(base) + F.col("_pidx") * F.lit(stp))
                .drop("_pidx"))
    else:
        probes_df = F.broadcast(spark.createDataFrame(
            [(int(p),) for p in ps], "p_us bigint"))
        on_seg = (F.col("_nt").isNotNull()
                  & (F.col("p_us") >= F.col("t_us"))
                  & (F.col("p_us") < F.col("_nt")))
        on_last = F.col("_nt").isNull() & (F.col("p_us") == F.col("t_us"))
        cand = seg.join(probes_df, on_seg | on_last)
    ratio = (F.col("p_us") - F.col("t_us")).cast("double") \
        / (F.col("_nt") - F.col("t_us"))
    sel = [F.col(key), F.col("p_us").alias("t_us")]
    for c in value_cols:
        if step:
            val = F.col(f"_v_{c}")
        else:
            # exact-knot probes take the knot value (kernel parity)
            val = F.when(F.col("p_us") == F.col("t_us"),
                         F.col(f"_v_{c}")) \
                .otherwise(F.col(f"_v_{c}")
                           + (F.col(f"_nv_{c}") - F.col(f"_v_{c}"))
                           * ratio)
        sel.append(val.alias(c))
    return cand.select(*sel)


def temporal_agg_profile(points: DataFrame, probes_us: list[int],
                         key: str = "key", t: str = "t", v: str = "v"
                         ) -> DataFrame:
    """Global tcount/tmin/tmax/tsum/tavg over per-key tfloats, sampled
    at probe instants (`src/temporal_aggfuncs.c` tagg semantics: value
    at an instant aggregates the members defined there).

    PURE CATALYST: each member is lerped at each in-domain probe
    (window functions per key — parallel across keys), then one
    groupBy(probe) aggregation with map-side partial combine.  This is
    the declarative equivalent of the reference's transfn/combinefn
    split (`36_temporal_aggfuncs.in.sql:23-76`) for sampled output —
    no Python anywhere, no single-task stage, scales with rows.  The
    FULL-profile (piece list) form of the ungrouped aggregate lives in
    `aggs.partial_profile_rows` + merge (the two-level kernel path);
    grouped full profiles in `aggs.temporal_aggregate`."""
    from pyspark.sql import functions as F
    vals = _lerp_at_probes(points, probes_us, key, t, (v,))
    return (vals.groupBy(F.col("t_us"))
            .agg(F.count(F.lit(1)).alias("n_def"),
                 F.min(v).alias("vmin"), F.max(v).alias("vmax"),
                 F.sum(v).alias("vsum"), F.avg(v).alias("vavg"))
            .select("t_us", "n_def", "vmin", "vmax", "vsum", "vavg"))


def temporal_centroid_profile(points: DataFrame, probes_us: list[int],
                              key: str = "key", t: str = "t",
                              x: str = "x", y: str = "y") -> DataFrame:
    """Global tcentroid aggregate of per-key tpoints sampled at probe
    instants (`point/src/tpoint_aggfuncs.c:285-489`: per-instant mean
    of the members defined there) — pure Catalyst, same shape as
    ``temporal_agg_profile`` (the tdouble3 (Σx, Σy, n) state is the
    AVG's partial aggregate, which Spark's hash aggregate maintains
    map-side)."""
    from pyspark.sql import functions as F
    vals = _lerp_at_probes(points, probes_us, key, t, (x, y))
    return (vals.groupBy(F.col("t_us"))
            .agg(F.count(F.lit(1)).alias("n_def"),
                 F.avg(x).alias("cx"), F.avg(y).alias("cy"))
            .select("t_us", "n_def", "cx", "cy"))


def restrict_period_clip(points: DataFrame, t1_us: int, t2_us: int,
                         key: str = "key", t: str = "t",
                         x: str = "x", y: str = "y") -> DataFrame:
    """Per-key atPeriod restriction to the closed period [t1, t2]
    (atPeriod, `src/temporal.c:2936`): instant count, exact duration,
    and interpolated clip-bound values."""
    from .restrict import at_period
    from .types import Period
    schema = (f"{key} bigint, n_inst bigint, dur_us bigint, "
              "x0 double, y0 double, x1 double, y1 double")
    p = Period(int(t1_us), int(t2_us), True, True)

    def clip(keys, starts, ends, t_us, cd):
        vals = _values(cd, (x, y))
        rows = []
        for kv, s0, e0 in zip(keys, starts, ends):
            got = at_period(Temporal.sequence(t_us[s0:e0], vals[s0:e0],
                                              normalize=False), p)
            if got is None:
                continue
            first, last = got.seqs[0], got.seqs[-1]
            rows.append((kv, got.num_instants(), got.duration_us(),
                         float(first.values[0, 0]), float(first.values[0, 1]),
                         float(last.values[-1, 0]), float(last.values[-1, 1])))
        return pd.DataFrame(rows, columns=[key, "n_inst", "dur_us",
                                           "x0", "y0", "x1", "y1"])

    return _per_key_np_kernel(points, key, schema, clip, t, (x, y))


def at_box_stats(points: DataFrame, x0: float, y0: float,
                 x1: float, y1: float, key: str = "key", t: str = "t",
                 x: str = "x", y: str = "y") -> DataFrame:
    """Per-key atGeometry restriction to a rectangle
    (``tpointseq_at_geometry1``, `tpoint_spatialfuncs.c:1627`):
    connected-component count, knots inside, exact total microseconds."""
    from . import geo
    schema = (f"{key} bigint, n_periods bigint, n_knots_in bigint, "
              "total_us bigint")
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)
    box = geo.Geometry("Polygon", [ring])
    e0, e1 = ring[:-1], ring[1:]
    ed = e1 - e0

    def stats(keys, starts, ends, t_us, cd):
        # `spatial.at_geometry_periods` (the per-sequence vectorized
        # kernel) applied across ALL keys at once: same crossing
        # formula, same exact-dedupe of (segment, r), same midpoint
        # points_in_polygon classification and banker's-rounded µs
        # bounds — cross-key segments are simply excluded up front.
        xs, ys = cd[x].astype(np.float64), cd[y].astype(np.float64)
        nk = len(starts)
        size = ends - starts
        point_key = np.repeat(np.arange(nk), size)
        n_in = np.add.reduceat(
            ((xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1))
            .astype(np.int64), starts)
        seg_ok = np.flatnonzero(point_key[:-1] == point_key[1:])
        v0 = np.stack((xs[seg_ok], ys[seg_ok]), axis=1)
        v1 = np.stack((xs[seg_ok + 1], ys[seg_ok + 1]), axis=1)
        d = v1 - v0
        nseg = len(seg_ok)
        denom = (d[:, 0, None] * ed[None, :, 1]
                 - d[:, 1, None] * ed[None, :, 0])
        ok = denom != 0.0
        safe = np.where(ok, denom, 1.0)
        w0 = e0[None, :, 0] - v0[:, 0, None]
        w1 = e0[None, :, 1] - v0[:, 1, None]
        r = np.where(ok, (w0 * ed[None, :, 1]
                          - w1 * ed[None, :, 0]) / safe, -1.0)
        srel = np.where(ok, (w0 * d[:, 1, None]
                             - w1 * d[:, 0, None]) / safe, -1.0)
        hit = ok & (r > 0.0) & (r < 1.0) & (srel >= 0.0) & (srel <= 1.0)
        si, jj = np.nonzero(hit)
        rv = r[si, jj]
        order = np.lexsort((rv, si))
        si, rv = si[order], rv[order]
        if len(si):
            keep = np.ones(len(si), dtype=bool)
            keep[1:] = (si[1:] != si[:-1]) | (rv[1:] != rv[:-1])
            si, rv = si[keep], rv[keep]
        counts = np.bincount(si, minlength=nseg)
        total_pc = counts + 1
        offsets = np.concatenate(([0], np.cumsum(total_pc)))
        npieces = int(offsets[-1])
        A = np.zeros(npieces)
        B = np.ones(npieces)
        if len(si):
            pos = np.arange(len(si)) - np.concatenate(
                ([0], np.cumsum(counts)))[si]
            A[offsets[si] + pos + 1] = rv
            B[offsets[si] + pos] = rv
        seg_of = np.repeat(np.arange(nseg), total_pc)
        mids = v0[seg_of] + d[seg_of] * ((A + B) / 2.0)[:, None]
        inside = geo.points_in_polygon(mids[:, 0], mids[:, 1], box)
        t0s = t_us[seg_ok].astype(np.float64)[seg_of]
        dts = (t_us[seg_ok + 1] - t_us[seg_ok]).astype(
            np.float64)[seg_of]
        ta = np.rint(t0s + dts * A).astype(np.int64)
        tb = np.rint(t0s + dts * B).astype(np.int64)
        pk = point_key[seg_ok][seg_of][inside]
        pa, pb = ta[inside], tb[inside]
        # single-point keys: instant period when the knot is inside
        s1 = size == 1
        s1_idx = starts[s1]
        s1_in = np.zeros(0, dtype=np.int64)
        if s1.any():
            pin = geo.points_in_polygon(xs[s1_idx], ys[s1_idx], box)
            s1_in = np.flatnonzero(s1)[pin]
            s1_ts = t_us[s1_idx[pin]]
        pk = np.concatenate((pk, s1_in))
        pa = np.concatenate((pa, s1_ts if len(s1_in) else
                             np.zeros(0, np.int64)))
        pb = np.concatenate((pb, s1_ts if len(s1_in) else
                             np.zeros(0, np.int64)))
        inc = np.ones(len(pk), dtype=bool)  # all bounds closed
        order2 = np.lexsort((pa, pk))
        n_per, total = _merge_count_totals(
            pk[order2], pa[order2], pb[order2], inc[order2], inc[order2],
            nk)
        return {key: keys, "n_periods": n_per, "n_knots_in": n_in,
                "total_us": total}

    return _per_key_np_kernel(points, key, schema, stats, t, (x, y))


def tdwithin_pair_stats(points: DataFrame, dist: float,
                        pair: str = "pair", member: str = "key",
                        t: str = "t", x: str = "x", y: str = "y"
                        ) -> DataFrame:
    """Per pair of tpoints: exact total microseconds and component
    count where tdwithin(a, b, dist) is true
    (`tpoint_tempspatialrels.c:952-1098` quadratic solver)."""
    from .types import EPSILON
    schema = f"{pair} bigint, total_us bigint, n_periods bigint"
    d = float(dist)

    def stats(ta, ac, tb, bc):
        ts = _sync_grid(ta, tb)
        if ts is None:
            return None
        ax = _samp1(ta, ac[x], ts)
        ay = _samp1(ta, ac[y], ts)
        bx = _samp1(tb, bc[x], ts)
        by = _samp1(tb, bc[y], ts)
        if len(ts) == 1:
            dx0, dy0 = ax[0] - bx[0], ay[0] - by[0]
            within = float(np.sqrt(dx0 * dx0 + dy0 * dy0)) <= d
            return (0, 1) if within else (0, 0)
        # per synced segment: the reference solver vectorized
        # (`tpoint_tempspatialrels.c:952-1290` via spatial._tdw_solve
        # / _tdwithin_segment, linear×linear branches; li is always
        # True on a closed sync window, ui only on the final segment)
        lower, upper = ts[:-1], ts[1:]
        nseg = len(lower)
        ui = np.zeros(nseg, dtype=bool)
        ui[-1] = True
        dax = np.diff(ax) - np.diff(bx)
        day = np.diff(ay) - np.diff(by)
        dcx = ax[:-1] - bx[:-1]
        dcy = ay[:-1] - by[:-1]
        const = (np.diff(ax) == 0) & (np.diff(ay) == 0) \
            & (np.diff(bx) == 0) & (np.diff(by) == 0)
        start_within = np.sqrt(dcx * dcx + dcy * dcy) <= d
        qa = dax * dax + day * day
        qb = (2.0 * dax * dcx) + (2.0 * day * dcy)
        qc = (dcx * dcx + dcy * dcy) - d * d
        # piece accumulators: at most one true interval per segment
        plo = np.zeros(nseg, dtype=np.int64)
        phi = np.zeros(nseg, dtype=np.int64)
        plo_inc = np.zeros(nseg, dtype=bool)
        phi_inc = np.zeros(nseg, dtype=bool)
        has = np.zeros(nseg, dtype=bool)

        def put(m, lo_, hi_, li_, hi_i):
            has[m] = True
            plo[m], phi[m] = lo_, hi_
            plo_inc[m], phi_inc[m] = li_, hi_i

        whole = const & start_within  # constant pair within d
        put(whole, lower[whole], upper[whole], True, ui[whole])
        par = (~const) & (qa == 0.0) & start_within  # parallel, same v
        put(par, lower[par], upper[par], True, ui[par])
        solve = (~const) & (qa != 0.0)
        if solve.any():
            la = qa[solve].astype(np.longdouble)
            lb = qb[solve].astype(np.longdouble)
            lc = qc[solve].astype(np.longdouble)
            ldur = (upper[solve] - lower[solve]).astype(
                np.float64).astype(np.longdouble)
            disc = lb * lb - 4 * la * lc
            with np.errstate(divide="ignore", invalid="ignore"):
                sq = np.sqrt(np.maximum(disc, 0))
                t5 = np.where(qb[solve] >= 0.0,
                              (-lb - sq) / (2 * la), (2 * lc) / (-lb + sq))
                t6 = np.where(qb[solve] >= 0.0,
                              (2 * lc) / (-lb - sq), (-lb + sq) / (2 * la))
                tno = np.where(disc == 0, (-lb) / (2 * la),
                               np.longdouble(0.0))
            t7 = np.maximum(np.longdouble(0.0), t5)
            t8 = np.minimum(np.longdouble(1.0), t6)
            sl = np.flatnonzero(solve)
            # disc == 0: one root (if inside [0, 1])
            one0 = (disc == 0) & (tno >= 0.0) & (tno <= 1.0)
            tt0 = np.zeros(len(sl), dtype=np.int64)
            tt0[one0] = lower[sl][one0] + (tno[one0]
                                           * ldur[one0]).astype(np.int64)
            # disc > 0 with window overlap
            two = (disc > 0) & ~(t6 < 0.0) & ~(t5 > 1.0)
            near = two & (np.abs(t7 - t8) < EPSILON)
            full2 = two & ~near
            t1i = np.zeros(len(sl), dtype=np.int64)
            t2i = np.zeros(len(sl), dtype=np.int64)
            t1i[two] = lower[sl][two] + (t7[two]
                                         * ldur[two]).astype(np.int64)
            t2i[full2] = lower[sl][full2] + (t8[full2]
                                             * ldur[full2]).astype(np.int64)
            # nsol == 1 (disc==0 root, or EPSILON-collapsed pair):
            # a single instant, dropped on an excluded bound
            one = one0 | near
            t1o = np.where(near, t1i, tt0)
            keep1 = one & ~((t1o == upper[sl]) & ~ui[sl])
            m1 = sl[keep1]
            put(m1, t1o[keep1], t1o[keep1], True, True)
            # nsol == 2: the true window [t1, t2] with the reference's
            # branch-exact bounds
            m2 = sl[full2]
            lo2, hi2 = t1i[full2], t2i[full2]
            at_lo = lo2 == lower[m2]
            at_hi = hi2 == upper[m2]
            # the lower bound is inclusive either way: at the segment
            # start it takes li, which is True on a closed sync window
            # (see above), and past the start the reference's branch
            # sets it inclusive
            put(m2, lo2, hi2, True,
                np.where(at_hi, ui[m2], np.where(at_lo & ~at_hi,
                                                 False, True)))
        if not has.any():
            return (0, 0)
        lo_k = plo[has]
        hi_k = phi[has]
        li_k = plo_inc[has]
        hi_inc_k = phi_inc[has]
        total = int((hi_k - lo_k).sum())
        new = np.ones(len(lo_k), dtype=bool)
        new[1:] = (lo_k[1:] > hi_k[:-1]) | \
            ((lo_k[1:] == hi_k[:-1]) & ~(hi_inc_k[:-1] | li_k[1:]))
        return (total, int(new.sum()))

    return _per_pair_np_kernel(points, pair, member, schema, stats,
                               t, (x, y))


def nearest_approach_pairs(points: DataFrame, pair: str = "pair",
                           member: str = "key", t: str = "t",
                           x: str = "x", y: str = "y") -> DataFrame:
    """Per pair of tpoints: NAD + NAI (`tpoint_spatialfuncs.c:
    2107-2506` via the temporal distance's turning points)."""
    schema = f"{pair} bigint, nad double, nai_us bigint"

    def stats(ta, ac, tb, bc):
        a = Temporal.sequence(ta, np.column_stack((ac[x], ac[y])),
                              normalize=False)
        b = Temporal.sequence(tb, np.column_stack((bc[x], bc[y])),
                              normalize=False)
        try:
            nai, nad = spatial.nearest_approach_instant(a, b)
        except ValueError:  # no temporal overlap
            return None
        return float(nad), int(nai)

    return _per_pair_np_kernel(points, pair, member, schema, stats,
                               t, (x, y))


def _wagg_probe_join(points: DataFrame, window_us: int,
                     probes_us: list[int], key: str, t: str, v: str
                     ) -> DataFrame:
    """Instant rows joined to the broadcast probe set they are active
    for (an instant extends to [t, t+w], so it is active at probe p
    iff p−w ≤ t ≤ p) — the pure-Catalyst base of the window-aggregate
    profiles (`src/temporal_waggfuncs.c:31-60`)."""
    from pyspark.sql import functions as F
    spark = points.sparkSession
    probes_df = F.broadcast(spark.createDataFrame(
        [(int(p),) for p in sorted(set(probes_us))], "p_us bigint"))
    # duplicate (key, t) knots keep the smallest value, the substrate's
    # rule; dropDuplicates would keep whichever row arrives first
    pts = points.groupBy(
        key, F.unix_micros(F.col(t).cast("timestamp")).alias("t_us")) \
        .agg(F.min(v).alias("_v"))
    return pts.join(
        probes_df,
        (F.col("t_us") >= F.col("p_us") - F.lit(int(window_us)))
        & (F.col("t_us") <= F.col("p_us")))


def wagg_count_profile(points: DataFrame, window_us: int,
                       probes_us: list[int], key: str = "key",
                       t: str = "t", v: str = "v") -> DataFrame:
    """Global wcount over per-key instant sets, sampled at probes
    (each instant extends to [t, t+w]; the aggregate counts active
    extensions) — pure Catalyst: broadcast probe join + one
    groupBy(probe) with map-side partial combine."""
    from pyspark.sql import functions as F
    j = _wagg_probe_join(points, window_us, probes_us, key, t, v)
    return (j.groupBy(F.col("p_us").alias("t_us"))
            .agg(F.count(F.lit(1)).alias("wcount")))


def wagg_sum_max_profile(points: DataFrame, window_us: int,
                         probes_us: list[int], key: str = "key",
                         t: str = "t", v: str = "v") -> DataFrame:
    """Global wsum + wmax over per-key instant sets, sampled at probes
    (`src/temporal_waggfuncs.c`) — pure Catalyst like
    ``wagg_count_profile``."""
    from pyspark.sql import functions as F
    j = _wagg_probe_join(points, window_us, probes_us, key, t, v)
    return (j.groupBy(F.col("p_us").alias("t_us"))
            .agg(F.sum("_v").alias("wsum"), F.max("_v").alias("wmax")))


def period_business_stats(points: DataFrame, windows: list[tuple[int, int]],
                          key: str = "key", t: str = "t") -> DataFrame:
    """Per-key period algebra vs a fixed window set (timeops.c union/
    intersection/minus): the key's observation span [min_t, max_t]
    intersected with / minus the half-open windows — exact integer
    microsecond totals and piece counts."""
    from . import timeops
    from .types import Period
    schema = (f"{key} bigint, inter_us bigint, n_inter bigint, "
              "minus_us bigint, n_minus bigint")
    wins = [Period(int(a), int(b), True, False) for a, b in windows]

    def stats(keys, starts, ends, t_us, cd):
        rows = []
        for kv, s0, e0 in zip(keys, starts, ends):
            dom = [Period(int(t_us[s0]), int(t_us[e0 - 1]), True, True)]
            inter = timeops.intersection(dom, wins)
            mins = timeops.minus(dom, wins)
            rows.append((kv, int(sum(p.upper - p.lower for p in inter)),
                         len(inter),
                         int(sum(p.upper - p.lower for p in mins)),
                         len(mins)))
        return pd.DataFrame(rows, columns=[key, "inter_us", "n_inter",
                                           "minus_us", "n_minus"])

    return _per_key_np_kernel(points, key, schema, stats, t)


def lifted_pair_stats(points: DataFrame, pair: str = "pair",
                      member: str = "key", t: str = "t", v: str = "v"
                      ) -> DataFrame:
    """Per pair of tfloats: lifted arithmetic + comparison
    (`src/temporal_compops.c`, `tnumber_mathfuncs.c`): a+b and a·b
    sampled at the sync instants (sums), plus the exact microseconds
    where a < b (crossing-split stepwise tbool)."""
    from .aggs import _values_at_many
    from .lifting import lift_comparison, synchronize, tadd, tmult
    from .restrict import at_value
    schema = (f"{pair} bigint, n_sync bigint, sum_add double, "
              "sum_mult double, lt_total_us bigint")

    def stats(ta, ac, tb, bc):
        a = Temporal.sequence(ta, ac[v][:, None], normalize=False)
        b = Temporal.sequence(tb, bc[v][:, None], normalize=False)
        pieces = synchronize(a, b)
        if not pieces:
            return None
        ts = np.unique(np.concatenate([p[0] for p in pieces]))
        add_v, _ = _values_at_many(tadd(a, b), ts)
        mul_v, _ = _values_at_many(tmult(a, b), ts)
        lt = lift_comparison("lt", a, b)
        hit = at_value(lt, 1.0) if lt is not None else None
        ps = hit.get_time() if hit is not None else []
        return (len(ts), float(add_v[:, 0].sum()),
                float(mul_v[:, 0].sum()),
                int(sum(p.upper - p.lower for p in ps)))

    return _per_pair_np_kernel(points, pair, member, schema, stats,
                               t, (v,))


def ttext_state_stats(points: DataFrame, target: str,
                      key: str = "key", t: str = "t", v: str = "etype"
                      ) -> DataFrame:
    """Per-key ttext state machine over a string column: build the
    stepwise temporal text (vocab-coded, `ttext.TText`), then
    normalized instant count, exact microseconds in the ``target``
    state (atValue on the stepwise code), and ever_eq."""
    schema = (f"{key} bigint, n_inst bigint, target_us bigint, "
              "ever_target boolean")

    def stats(keys, starts, ends, t_us, cd):
        # global first-appearance coding: code equality == string
        # equality, which is all the stepwise state machine needs
        codes, vocab = pd.factorize(pd.Series(cd[v]))
        codes = codes.astype(np.int64)
        tcode = -2
        for i, w in enumerate(vocab):
            if str(w) == target:
                tcode = i
                break
        size = ends - starts
        nseg = max(len(codes) - 1, 0)
        cross = np.zeros(nseg, dtype=bool)
        cross[ends[:-1] - 1] = True
        # normalized stepwise instant count (exact integers, the
        # `normalize_instants(linear=False)` rule): 1 + value changes,
        # plus a terminal knot when the last value repeats the
        # previous one (the sequence must still end at the domain end)
        chg = (codes[1:] != codes[:-1]).astype(np.int64)
        changes = _seg_reduceat(chg, starts, cross)
        last_eq = np.zeros(len(starts), dtype=np.int64)
        multi = size > 1
        last_eq[multi] = (codes[ends[multi] - 1]
                          == codes[ends[multi] - 2]).astype(np.int64)
        n_inst = np.where(size == 1, 1, 1 + changes + last_eq)
        # atValue total: a stepwise knot with the target value holds
        # it on [t_i, t_{i+1}) — exact integer microseconds
        dt_us = np.diff(t_us)
        hit = np.where(codes[:-1] == tcode, dt_us, 0)
        target_us = _seg_reduceat(hit, starts, cross)
        # ever_eq sees every instant: point-level reduceat needs no
        # boundary trick
        ever = np.maximum.reduceat(
            (codes == tcode).astype(np.int64), starts) > 0
        return {key: keys, "n_inst": n_inst, "target_us": target_us,
                "ever_target": ever}

    return _per_key_np_kernel(points, key, schema, stats, t, (v,))


def traj3d_stats(points: DataFrame, key: str = "key", t: str = "t",
                 x: str = "x", y: str = "y", z: str = "z") -> DataFrame:
    """Per-key 3D trajectory metrics: the dimension-agnostic length /
    speed semantics over (x, y, z) plus the STBOX z extent
    (`tpoint_distance.c:172-243` 3D forms; STBOX z `temporal.h:118`),
    vectorized across keys (see ``_per_key_np_kernel``)."""
    schema = (f"{key} bigint, length3d double, speed_max double, "
              "zmin double, zmax double")

    def stats(keys, starts, ends, t_us, cd):
        xs = cd[x].astype(np.float64)
        ys = cd[y].astype(np.float64)
        zs = cd[z].astype(np.float64)
        cross = np.zeros(max(len(xs) - 1, 0), dtype=bool)
        cross[ends[:-1] - 1] = True
        dxx, dyy, dzz = np.diff(xs), np.diff(ys), np.diff(zs)
        dt_s = np.diff(t_us) / 1e6
        seglen = np.sqrt(dxx * dxx + dyy * dyy + dzz * dzz)
        length = _seg_reduceat(seglen, starts, cross)
        with np.errstate(divide="ignore", invalid="ignore"):
            sp = np.where(dt_s > 0, seglen / dt_s, 0.0)
        speed_max = _seg_reduceat(sp, starts, cross, np.maximum)
        single = ends - starts == 1
        # point-level reductions need no boundary trick: reduceat over
        # the point starts reduces exactly each group's members
        zmin = np.minimum.reduceat(zs, starts)
        zmax = np.maximum.reduceat(zs, starts)
        return {key: keys, "length3d": np.where(single, 0.0, length),
                "speed_max": np.where(single, 0.0, speed_max),
                "zmin": zmin, "zmax": zmax}

    return _per_key_np_kernel(points, key, schema, stats, t, (x, y, z))


def azimuth_cumlen_stats(points: DataFrame, at_us: int,
                         key: str = "key", t: str = "t",
                         x: str = "x", y: str = "y") -> DataFrame:
    """Per-key azimuth + cumulativeLength kernels
    (`tpoint_spatialfuncs.c:942-1070, :1520-1595`): time-weighted
    average bearing over moving segments and the running length
    interpolated at one probe instant."""
    schema = f"{key} bigint, tw_azimuth double, cumlen_at double"
    at_us = int(at_us)

    def stats(keys, starts, ends, t_us, cd):
        xs, ys = cd[x].astype(np.float64), cd[y].astype(np.float64)
        nseg = max(len(xs) - 1, 0)
        cross = np.zeros(nseg, dtype=bool)
        cross[ends[:-1] - 1] = True
        dxx, dyy = np.diff(xs), np.diff(ys)
        dt_s = np.diff(t_us) / 1e6
        # azimuth (`tpoint_spatialfuncs.c:1520`): radians clockwise
        # from north over MOVING segments only; stationary segments
        # contribute neither weight nor time
        az = np.arctan2(dxx, dyy)
        az = np.where(az < 0, az + 2 * np.pi, az)
        moving = (np.abs(dxx) > 0) | (np.abs(dyy) > 0)
        w = np.where(moving, dt_s, 0.0)
        num = _seg_reduceat(az * w, starts, cross)
        den = _seg_reduceat(w, starts, cross)
        # cumulativeLength (`:942`) at one probe: running length at
        # at_us, linear between knots; keys whose domain excludes the
        # probe drop (value_at -> None), matching the kernel
        seglen = np.sqrt(dxx * dxx + dyy * dyy)
        seg_c = np.concatenate((np.where(cross, 0.0, seglen), [0.0]))
        cum = np.concatenate(([0.0], np.cumsum(seg_c)))
        base = cum[starts]
        # locate the knot interval containing at_us per key: t_us is
        # sorted only WITHIN a key, so bracket via per-key counts of
        # knots <= at_us (point-level reduceat, no global searchsorted)
        cnt_le = np.add.reduceat((t_us <= at_us).astype(np.int64), starts)
        in_dom = (cnt_le >= 1) & (t_us[ends - 1] >= at_us)
        i0 = np.clip(starts + cnt_le - 1, starts,
                     np.maximum(ends - 2, starts))
        hi_i = np.minimum(i0 + 1, ends - 1)
        lo_t, hi_t = t_us[i0], t_us[hi_i]
        cum_lo = cum[i0] - base
        cum_hi = cum[hi_i] - base
        with np.errstate(divide="ignore", invalid="ignore"):
            frac = np.where(hi_t > lo_t,
                            (at_us - lo_t) / (hi_t - lo_t), 0.0)
            tw = num / np.where(den > 0, den, 1.0)
        # exact-knot probes take the knot's running length (kernel
        # parity: value_at returns the knot value, no lerp round-trip)
        cumlen = np.where(at_us == hi_t, cum_hi,
                          cum_lo + (cum_hi - cum_lo) * frac)
        mask = in_dom & (den > 0) & (ends - starts > 1)
        return {key: keys[mask], "tw_azimuth": tw[mask],
                "cumlen_at": cumlen[mask]}

    return _per_key_np_kernel(points, key, schema, stats, t, (x, y))


def extent(points: DataFrame, key: str = "key", t: str = "t",
           x: str = "x", y: str = "y") -> DataFrame:
    """Per-key STBOX extent — pure built-ins, no UDF (the `extent`
    aggregate, `src/temporal_aggfuncs.c:1214-1348`)."""
    from pyspark.sql import functions as F
    return points.groupBy(key).agg(
        F.min(x).alias("xmin"), F.max(x).alias("xmax"),
        F.min(y).alias("ymin"), F.max(y).alias("ymax"),
        F.min(t).alias("tmin"), F.max(t).alias("tmax"))


def tbool_agg_profile(points: DataFrame, probes_us: list[int],
                      threshold: float, key: str = "key", t: str = "t",
                      v: str = "v") -> DataFrame:
    """Global tand/tor over per-key STEPWISE tbools (v > threshold),
    sampled at probes (`src/temporal_aggfuncs.c:1351-1428`
    tbool_tand/tbool_tor) — pure Catalyst: the step value at a probe
    is the previous knot's flag; bool_and/bool_or aggregate with
    map-side partial combine."""
    from pyspark.sql import functions as F
    vals = _lerp_at_probes(points, probes_us, key, t, (v,), step=True)
    return (vals.groupBy(F.col("t_us"))
            .agg(F.count(F.lit(1)).alias("n_def"),
                 F.bool_and(F.col(v) > F.lit(threshold)).alias("tand"),
                 F.bool_or(F.col(v) > F.lit(threshold)).alias("tor"))
            .select("t_us", "n_def", "tand", "tor"))


def timeops_matrix_stats(points: DataFrame, windows: list[tuple[int, int]],
                         instants_us: list[int], key: str = "key",
                         t: str = "t") -> DataFrame:
    """Per-key period-algebra operand matrix (timeops.c:2468-4081):
    the key's observation span against a fixed PERIODSET (union piece
    count + exact µs) and a fixed TIMESTAMPSET (intersection instant
    count, minus piece count) — the operand combos period_business
    does not cover."""
    from . import timeops
    from .types import Period
    schema = (f"{key} bigint, u_ps_us bigint, n_u_ps bigint, "
              "n_i_ts bigint, n_m_ts bigint")
    wins = [Period(int(a), int(b), True, False) for a, b in windows]
    tset = [Period(int(p), int(p), True, True) for p in sorted(instants_us)]

    def stats(keys, starts, ends, t_us, cd):
        rows = []
        for kv, s0, e0 in zip(keys, starts, ends):
            dom = [Period(int(t_us[s0]), int(t_us[e0 - 1]), True, True)]
            u = timeops.union(dom, wins)
            rows.append((kv, int(sum(p.upper - p.lower for p in u)), len(u),
                         len(timeops.intersection(dom, tset)),
                         len(timeops.minus(dom, tset))))
        return pd.DataFrame(rows, columns=[key, "u_ps_us", "n_u_ps",
                                           "n_i_ts", "n_m_ts"])

    return _per_key_np_kernel(points, key, schema, stats, t)


def tmath_turning_pairs(points: DataFrame, div_shift: float = 1000.0,
                        pair: str = "pair", member: str = "key",
                        t: str = "t", v: str = "v") -> DataFrame:
    """Per pair of tfloats: temporal × and ÷ with TURNING POINTS
    (`tnumber_mathfuncs.c:127-160`
    ``tnumberseq_mult_maxmin_at_timestamp``): count of inserted
    quadratic-vertex instants and the vertex-exact extrema of a·b and
    a/(b+shift) (the divisor is shifted positive so the quotient stays
    bounded — the turning-point kernel is exercised identically)."""
    schema = (f"{pair} bigint, n_turn_mult bigint, mult_max double, "
              "mult_min double, n_turn_div bigint, div_max double, "
              "div_min double")

    def turns(ts: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Vectorized `lifting.turn_product` over every synced
        segment: quadratic-vertex parameter r strictly inside (0, 1),
        timestamp via banker's round (np.rint == Python round), kept
        only strictly inside the segment."""
        if len(ts) < 2:
            return np.empty(0, dtype=np.int64)
        dx = x[1:] - x[:-1]
        dy = y[1:] - y[:-1]
        denom = 2.0 * dx * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            r = -(x[:-1] * dy + y[:-1] * dx) / np.where(denom == 0.0,
                                                        1.0, denom)
        ok = (denom != 0.0) & (r > 0.0) & (r < 1.0)
        t0, t1 = ts[:-1][ok], ts[1:][ok]
        tt = np.rint(t0 + (t1 - t0) * r[ok]).astype(np.int64)
        return tt[(tt > t0) & (tt < t1)]

    def stats(ta, ac, tb, bc):
        av, bv = ac[v], bc[v]
        ts = _sync_grid(ta, tb)
        if ts is None:
            return None
        va = _samp1(ta, av, ts)
        vb = _samp1(tb, bv, ts)
        # the shifted divisor lerps from SHIFTED knots (knot-level
        # derivation, not vb + shift: (v1+s)-(v0+s) != v1-v0 in float)
        ws = bv + div_shift
        tm = turns(ts, va, vb)
        td_ = turns(ts, va, _samp1(tb, ws, ts))
        # extrema over every sync knot + every turning instant, both
        # members lerped from ORIGINAL knots (the oracle's candidate
        # rule; lift_binary's normalize pass only ever drops knots
        # within EPSILON of the retained hull, which the oracle never
        # modelled either)
        ts2 = np.unique(np.concatenate((ts, tm)))
        mv = _samp1(ta, av, ts2) * _samp1(tb, bv, ts2)
        ts3 = np.unique(np.concatenate((ts, td_)))
        dv = _samp1(ta, av, ts3) / _samp1(tb, ws, ts3)
        return (len(tm), float(mv.max()), float(mv.min()),
                len(td_), float(dv.max()), float(dv.min()))

    return _per_pair_np_kernel(points, pair, member, schema, stats,
                               t, (v,))


def _merge_count_totals(piece_key: np.ndarray, a: np.ndarray,
                        b: np.ndarray, a_inc: np.ndarray,
                        b_inc: np.ndarray, n_keys: int):
    """Island-merge ordered per-key clip pieces (normalize_periods
    rule: merge on overlap or on touch when either facing bound is
    inclusive) → (n_pieces, total_us) per key index.  Pieces must be
    grouped by key and time-ordered within each key, mutually
    disjoint except for touching endpoints."""
    n_pieces = np.zeros(n_keys, dtype=np.int64)
    total = np.zeros(n_keys, dtype=np.int64)
    if not len(piece_key):
        return n_pieces, total
    new = np.ones(len(a), dtype=bool)
    same = piece_key[1:] == piece_key[:-1]
    new[1:] = ~same | (a[1:] > b[:-1]) | \
        ((a[1:] == b[:-1]) & ~(b_inc[:-1] | a_inc[1:]))
    np.add.at(n_pieces, piece_key[new], 1)
    np.add.at(total, piece_key, b - a)
    return n_pieces, total


def at_range_stats(points: DataFrame, lo: float, hi: float,
                   lo_inc: bool, hi_inc: bool, key: str = "key",
                   t: str = "t", v: str = "v") -> DataFrame:
    """Per-key atRange restriction of a linear tfloat to a value range
    with explicit bound inclusivity (`tnumberseq_at_range1`,
    src/temporal.c:2583): piece count, exact total microseconds, and
    the number of knots sitting exactly ON the lower bound — the
    `restrict.at_range` per-segment clip rules vectorized across keys
    (same ceil/floor/banker's crossing timestamps and bound
    inheritance; equivalence pinned in tests/test_r06_optimizations)."""
    schema = (f"{key} bigint, n_pieces bigint, total_us bigint, "
              "n_knots_on_lo bigint")
    lo, hi = float(lo), float(hi)

    def in_range(vv):
        r = (lo < vv) & (vv < hi)
        if lo_inc:
            r |= vv == lo
        if hi_inc:
            r |= vv == hi
        return r

    def stats(keys, starts, ends, t_us, cd):
        vs = cd[v].astype(np.float64)
        n = len(vs)
        nk = len(starts)
        size = ends - starts
        point_key = np.repeat(np.arange(nk), size)
        v0, v1 = vs[:-1], vs[1:]
        t0, t1 = t_us[:-1], t_us[1:]
        seg_ok = point_key[:-1] == point_key[1:]
        const = seg_ok & (v0 == v1)
        lin = seg_ok & (v0 != v1)
        # crossing timestamp t_of(c), same float op order as the
        # kernel: t0 + (c - v0)/(v1 - v0) * (t1 - t0)
        with np.errstate(divide="ignore", invalid="ignore"):
            dv = np.where(v0 != v1, v1 - v0, 1.0)

            def t_of(c):
                return t0 + (c - v0) / dv * (t1 - t0)

            up = v0 < v1
            ca, cb = np.where(up, lo, hi), np.where(up, hi, lo)
            # a side: value bound ca (lo when rising, hi when falling)
            a_cross = np.where(up, v0 < lo, v0 > hi)
            ta_cr = t_of(ca)
            inc_a = np.where(up, lo_inc, hi_inc)
            a = np.where(
                a_cross,
                np.where(inc_a,
                         np.maximum(t0, np.ceil(ta_cr)).astype(np.int64),
                         np.rint(ta_cr).astype(np.int64)),
                t0)
            a_inc = np.where(a_cross, inc_a,
                             np.where(v0 == ca, inc_a, True))
            # b side: value bound cb (hi when rising, lo when falling)
            b_cross = np.where(up, v1 > hi, v1 < lo)
            tb_cr = t_of(cb)
            inc_b = np.where(up, hi_inc, lo_inc)
            b = np.where(
                b_cross,
                np.where(inc_b,
                         np.minimum(t1, np.floor(tb_cr)).astype(np.int64),
                         np.rint(tb_cr).astype(np.int64)),
                t1)
            b_inc = np.where(b_cross, inc_b,
                             np.where(v1 == cb, inc_b, True))
        has_lin = lin & ((a < b) | ((a == b) & a_inc & b_inc))
        has_const = const & in_range(v0)
        a = np.where(const, t0, a)
        b = np.where(const, t1, b)
        a_inc = np.where(const, True, a_inc)
        b_inc = np.where(const, True, b_inc)
        has = has_lin | has_const
        # single-point keys: instantaneous piece when in range
        s1 = size == 1
        s1_in = s1 & in_range(vs[np.minimum(starts, n - 1)])
        pk = np.concatenate((point_key[:-1][has],
                             np.flatnonzero(s1_in)))
        pa = np.concatenate((a[has], t_us[starts[s1_in]]))
        pb = np.concatenate((b[has], t_us[starts[s1_in]]))
        pai = np.concatenate((a_inc[has].astype(bool),
                              np.ones(int(s1_in.sum()), bool)))
        pbi = np.concatenate((b_inc[has].astype(bool),
                              np.ones(int(s1_in.sum()), bool)))
        order = np.lexsort((pa, pk))
        n_pieces, total = _merge_count_totals(
            pk[order], pa[order], pb[order], pai[order], pbi[order], nk)
        on_lo = np.add.reduceat((vs == lo).astype(np.int64), starts) \
            if n else np.zeros(nk, np.int64)
        return {key: keys, "n_pieces": n_pieces, "total_us": total,
                "n_knots_on_lo": on_lo}

    return _per_key_np_kernel(points, key, schema, stats, t, (v,))
