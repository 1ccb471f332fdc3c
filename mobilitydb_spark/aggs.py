"""Temporal aggregates — SURVEY §2.4 (`src/temporal_aggfuncs.c`,
`point/src/tpoint_aggfuncs.c`).

The result of aggregating N temporal values is a temporal value whose
value at each instant aggregates the inputs *defined at that instant*.
The reference maintains a skiplist of disjoint pieces spliced per
input (`skiplist_splice`, `temporal_aggfuncs.c:289-420`); the
equivalent here is a **sweep-line over elementary intervals**:

1. boundaries = every instant of every input (+ bound instants);
2. each elementary piece is either a boundary instant [t] or an open
   interval (a, b) with no boundary inside — every active input is
   linear (or constant) there, so count/sum/avg are linear and exact;
3. min/max additionally insert pairwise segment crossings inside the
   elementary interval (the `_cross` requirement,
   `temporalseq_tagg1` `:860-993`);
4. pieces are assembled into maximal sequences, splitting at value
   discontinuities (bounds get the one-sided limit value, matching
   the reference's piece representation).

Aggregation kinds: count, and, or, min, max, sum, avg, centroid
(tpoint → tdouble3-style (Σx, Σy, n) finalize divide,
`tpoint_aggfuncs.c:285-489`).

Spark integration: ``temporal_aggregate`` co-partitions long-form
instant rows by group key and runs the kernel per group on the
per-key substrate (`spark_temporal._per_key_np_kernel`, members split
inside each group); the ungrouped transfn/combinefn split lives in
``partial_profile_rows`` / ``temporal_agg_pieces``, on the same
substrate keyed by member.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .types import (INSTANT, INSTANTSET, SEQUENCE, SEQUENCESET, EPSILON,
                    Seq, Temporal, normalize_instants)

_STEP_KINDS = {"count", "and", "or"}


def _combine(kind: str, vals: np.ndarray) -> np.ndarray:
    """Combine a (n_active, dim) value matrix → result vector."""
    if kind == "count":
        return np.array([float(len(vals))])
    if kind == "and":
        return np.array([vals[:, 0].min()])
    if kind == "or":
        return np.array([vals[:, 0].max()])
    if kind == "min":
        return np.array([vals[:, 0].min()])
    if kind == "max":
        return np.array([vals[:, 0].max()])
    if kind == "sum":
        return vals.sum(axis=0)
    if kind == "avg":
        return np.array([vals[:, 0].mean()])
    if kind == "centroid":
        return vals.mean(axis=0)
    raise ValueError(kind)


def _value_on(seq: Seq, t_lo: int, t_hi: int, linear: bool):
    """Endpoint values of one input on elementary open interval
    (t_lo, t_hi) ⊆ one of its segments, or None if not active."""
    if len(seq.times) < 2 or t_lo < seq.times[0] or t_hi > seq.times[-1]:
        return None
    # active on the open interval iff (t_lo, t_hi) lies inside one
    # segment (bound instants are separate knot pieces)
    i = int(np.searchsorted(seq.times, t_lo, side="right")) - 1
    if i < 0 or i >= len(seq.times) - 1:
        return None
    t0, t1 = int(seq.times[i]), int(seq.times[i + 1])
    if not (t0 <= t_lo and t_hi <= t1):
        return None
    if not linear:
        v = seq.values[i]
        return v, v
    r0 = (t_lo - t0) / (t1 - t0)
    r1 = (t_hi - t0) / (t1 - t0)
    v0 = seq.values[i] + (seq.values[i + 1] - seq.values[i]) * r0
    v1 = seq.values[i] + (seq.values[i + 1] - seq.values[i]) * r1
    return v0, v1


def _values_at_many(tv: Temporal, ts: np.ndarray):
    """Vectorized value_at over many timestamps:
    returns (values (B, dim), defined_mask (B,))."""
    B = len(ts)
    vals = np.zeros((B, tv.dim))
    mask = np.zeros(B, dtype=bool)
    for s in tv.seqs:
        lo, hi = int(s.times[0]), int(s.times[-1])
        inside = (ts >= lo) & (ts <= hi)
        if not s.lower_inc:
            inside &= ts > lo
        if not s.upper_inc:
            inside &= ts < hi
        if not inside.any():
            continue
        tt = ts[inside]
        idx = np.searchsorted(s.times, tt, side="right") - 1
        idx = np.clip(idx, 0, len(s.times) - 1)
        exact = s.times[idx] == tt
        if tv.linear and len(s.times) > 1:
            nxt = np.clip(idx + 1, 0, len(s.times) - 1)
            t0 = s.times[idx].astype(np.float64)
            t1 = s.times[nxt].astype(np.float64)
            dt = np.where(t1 > t0, t1 - t0, 1.0)
            r = (tt.astype(np.float64) - t0) / dt
            v = s.values[idx] + (s.values[nxt] - s.values[idx]) * r[:, None]
            v[exact] = s.values[idx[exact]]
        else:
            v = s.values[idx]
        vals[inside] = v
        mask[inside] = True
    return vals, mask


def _combine_matrix(kind: str, vals: np.ndarray, mask: np.ndarray):
    """Columnwise combine over (M, B, dim) values with (M, B) mask →
    (B, dim) result + (B,) any-defined."""
    any_def = mask.any(axis=0)
    cnt = mask.sum(axis=0).astype(np.float64)
    cnt_safe = np.where(cnt == 0, 1.0, cnt)
    if kind == "count":
        return cnt[:, None], any_def
    m3 = mask[:, :, None]
    if kind in ("and", "min"):
        return np.where(m3, vals, np.inf).min(axis=0), any_def
    if kind in ("or", "max"):
        return np.where(m3, vals, -np.inf).max(axis=0), any_def
    s = np.where(m3, vals, 0.0).sum(axis=0)
    if kind == "sum":
        return s, any_def
    if kind in ("avg", "centroid"):
        return s / cnt_safe[:, None], any_def
    raise ValueError(kind)


def tagg(values: list[Temporal], kind: str,
         finalize_divide: bool = False,
         validate_operands: bool = True) -> Temporal | None:
    """Sweep-line temporal aggregation of N temporal values.

    ``finalize_divide`` is the reference's double2/double3 finalfn
    (`src/temporal_aggfuncs.c:716-812`, `point/src/tpoint_aggfuncs.c:
    285-489`): inputs are (components..., weight) SUM partials; every
    evaluated point divides components by the weight, so avg/centroid
    merge exactly from parallel partials.  Requires kind == 'sum'."""
    values = [v for v in values if v is not None]
    if not values:
        return None
    if finalize_divide and kind != "sum":
        raise ValueError("finalize_divide requires kind='sum'")
    # transfn operand-class validation (`src/temporal_aggfuncs.c:
    # 1075-1200`): the skiplist state holds either instants (INST/I
    # decompose) or sequences (SEQ/S) — mixing classes errors, and
    # sequence states must share the interpolation flag (tcount
    # transforms every piece to step first, so it never hits the
    # interpolation check).  Applies to USER operands only — internal
    # callers (wagg's window-extension pieces, the two-level partial
    # merges) deliberately mix constant step pieces with linear ones,
    # exactly like the reference's post-transform skiplists.
    if validate_operands:
        inst_class = [v.duration in (INSTANT, INSTANTSET)
                      for v in values]
        if any(inst_class) and not all(inst_class):
            raise ValueError(
                "Cannot aggregate temporal values of different duration")
        if not inst_class[0] and kind not in ("count", "and", "or") and \
                any(v.linear != values[0].linear for v in values):
            raise ValueError("Cannot aggregate temporal values of "
                             "different interpolation")
    dim = values[0].dim
    if dim > 1:  # tpoint operands: the reference's transfn validation
        # (`point/src/tpoint_aggfuncs.c:40-49`, 64-suite error block)
        if any(v.srid != values[0].srid for v in values):
            raise ValueError("Geometries must have the same SRID for "
                             "temporal aggregation")
        if any(v.dim != dim for v in values):
            raise ValueError("Geometries must have the same "
                             "dimensionality for temporal aggregation")
    result_linear = (kind not in _STEP_KINDS) and all(
        v.linear for v in values)
    if kind in ("count", "and", "or"):
        result_linear = False

    def fin(v: np.ndarray) -> np.ndarray:
        if not finalize_divide:
            return v
        return v[:-1] / v[-1]

    # 1. global boundary set
    bounds = np.unique(np.concatenate([v.times for v in values]))

    # 2. elementary pieces → atoms
    # knots, fully vectorized: one searchsorted pass per member
    per_member = [_values_at_many(v, bounds) for v in values]
    all_vals = np.stack([vm[0] for vm in per_member])
    all_mask = np.stack([vm[1] for vm in per_member])
    kvals, kdef = _combine_matrix(kind, all_vals, all_mask)
    knots: list[tuple[int, np.ndarray]] = [
        (int(bounds[i]), fin(kvals[i])) for i in np.nonzero(kdef)[0]]
    intervals: list[tuple[int, int, np.ndarray, np.ndarray]] = []
    all_discrete = all(v.duration in (INSTANT, INSTANTSET) for v in values)
    for a, b in ([] if all_discrete else zip(bounds[:-1], bounds[1:])):
        a, b = int(a), int(b)
        segs = []
        for v in values:
            for s in v.seqs:
                if v.duration in (INSTANT, INSTANTSET):
                    continue
                got = _value_on(s, a, b, v.linear)
                if got is not None:
                    segs.append(got)
        if not segs:
            continue
        v0 = np.vstack([g[0] for g in segs])
        v1 = np.vstack([g[1] for g in segs])
        # min/max: insert pairwise crossings inside (a, b)
        if kind in ("min", "max") and result_linear and len(segs) > 1:
            rs = set()
            for i in range(len(segs)):
                for j in range(i + 1, len(segs)):
                    d0 = float(v0[i, 0] - v0[j, 0])
                    d1 = float(v1[i, 0] - v1[j, 0])
                    if d0 == d1:
                        continue
                    r = d0 / (d0 - d1)
                    if 0.0 < r < 1.0:
                        tc = int(round(a + (b - a) * r))
                        if a < tc < b:
                            rs.add(tc)
            subs = [a] + sorted(rs) + [b]
        else:
            subs = [a, b]
        for si, (lo, hi) in enumerate(zip(subs[:-1], subs[1:])):
            r_lo = (lo - a) / (b - a)
            r_hi = (hi - a) / (b - a)
            w0 = v0 + (v1 - v0) * r_lo
            w1 = v0 + (v1 - v0) * r_hi
            # si > 0: interior crossing subdivision — continuous with
            # the previous sub-interval by construction (no knot atom
            # exists at a crossing instant)
            intervals.append((lo, hi, fin(_combine(kind, w0)),
                              fin(_combine(kind, w1)), si > 0))

    if not knots and not intervals:
        return None

    # 3. assemble maximal sequences
    atoms: list[tuple] = [("k", t, v) for t, v in knots] + \
        [("i", lo, hi, v0, v1, cont) for lo, hi, v0, v1, cont in intervals]
    atoms.sort(key=lambda at: (at[1], 0 if at[0] == "k" else 1))

    seqs: list[Seq] = []
    cur_t: list[int] = []
    cur_v: list[np.ndarray] = []
    cur_lo_inc = True
    cur_hi_inc = False
    pending_knot: tuple[int, np.ndarray] | None = None

    def flush():
        nonlocal cur_t, cur_v, cur_lo_inc, cur_hi_inc
        if cur_t:
            ts = np.array(cur_t, dtype=np.int64)
            vs = np.vstack(cur_v)
            keep = np.ones(len(ts), dtype=bool)
            keep[1:] = np.diff(ts) > 0
            ts, vs = ts[keep], vs[keep]
            if len(ts) > 2:
                ts, vs = normalize_instants(ts, vs, result_linear)
            if len(ts) == 1:
                seqs.append(Seq(ts, vs, True, True))
            else:
                seqs.append(Seq(ts, vs, cur_lo_inc, cur_hi_inc))
        cur_t, cur_v = [], []
        cur_lo_inc, cur_hi_inc = True, False

    def close(u, w):
        return bool(np.all(np.abs(u - w) <= 1e-12))

    # instant at which the result is DEFINED and absorbed into `cur`
    # — an interval may only continue `cur` across a joint that has a
    # knot: two spans abutting with both bounds exclusive leave the
    # shared instant undefined, and the reference keeps them as two
    # sequences even when the values agree (temporalseqarr_normalize
    # requires `adjacent` = upper_inc OR lower_inc; 36/38 `_tbl`
    # numSequences goldens)
    joint_ok: int | None = None

    for at in atoms:
        if at[0] == "k":
            t, v = at[1], at[2]
            if pending_knot is not None:
                # previous knot was never absorbed by an interval →
                # it is an isolated instant
                kt, kv = pending_knot
                seqs.append(Seq(np.array([kt], dtype=np.int64), kv[None, :]))
                pending_knot = None
            if cur_t and cur_t[-1] == t:
                joint_ok = t
                if close(cur_v[-1], v):
                    cur_hi_inc = True
                elif not result_linear:
                    # STEP result: a value change AT an interior knot
                    # is representable in one sequence ([a@t0, b@t1]
                    # = a on [t0,t1), b at t1) — the reference's
                    # skiplist splice keeps one sequence here; only
                    # coverage gaps split (36_tbl numSequences)
                    cur_v[-1] = v
                    cur_hi_inc = True
                else:
                    # discontinuity: close exclusive, knot pends
                    joint_ok = None
                    cur_hi_inc = False
                    flush()
                    pending_knot = (t, v)
            else:
                if cur_t:
                    flush()
                pending_knot = (t, v)
            continue
        lo, hi, v0, v1, cont = at[1], at[2], at[3], at[4], at[5]
        if pending_knot is not None:
            kt, kv = pending_knot
            pending_knot = None
            if kt == lo and close(kv, v0):
                flush()
                cur_t, cur_v = [kt], [kv]
                cur_lo_inc = True
                joint_ok = kt
            else:
                seqs.append(Seq(np.array([kt], dtype=np.int64), kv[None, :]))
        if cur_t and cur_t[-1] == lo and close(cur_v[-1], v0) \
                and (joint_ok == lo or cont):
            cur_t.append(hi)
            cur_v.append(v1)
            cur_hi_inc = False
        else:
            if cur_t:
                flush()
            cur_t, cur_v = [lo, hi], [v0, v1]
            cur_lo_inc = False
            cur_hi_inc = False
    if pending_knot is not None:
        kt, kv = pending_knot
        seqs.append(Seq(np.array([kt], dtype=np.int64), kv[None, :]))
    flush()

    seqs.sort(key=lambda s: int(s.times[0]))
    if all(v.duration in (INSTANT, INSTANTSET) for v in values):
        dur = INSTANT if len(seqs) == 1 else INSTANTSET
    else:
        dur = SEQUENCE if len(seqs) == 1 else SEQUENCESET
    step_def = values[0].step_default or kind in ("count", "and", "or")
    if kind == "avg":
        # tavg returns TFLOAT whatever the input type
        # (src/temporal_aggfuncs.c tavg finalfn), so a step result
        # must carry the Interp=Stepwise prefix
        step_def = False
    out = Temporal(dur, seqs, result_linear, values[0].srid, step_def)
    if kind in ("and", "or"):
        out.is_bool = True  # tand/tor return TBOOL
    return out


def tnumber_integral(tv: Temporal) -> float:
    """Area under the curve (`src/temporal.c:3236-3254`): trapezoid
    per linear segment written in the reference's (max+min)*dt/2
    summation order (`src/temporalseq.c:3797-3812`), value*dt per
    step segment; instants and instant sets integrate to 0."""
    if tv.duration in (INSTANT, INSTANTSET):
        return 0.0
    result = 0.0
    for s in tv.seqs:
        # per-sequence subtotal first, then add — mirrors the FP
        # summation order of tnumbers_integral (temporals.c:2265-2270)
        sub = 0.0
        for i in range(1, len(s.times)):
            dt = float(int(s.times[i]) - int(s.times[i - 1]))
            if tv.linear:
                v1 = float(s.values[i - 1][0])
                v2 = float(s.values[i][0])
                sub += (max(v1, v2) + min(v1, v2)) * dt / 2.0
            else:
                sub += float(s.values[i - 1][0]) * dt
        result += sub
    return result


def tnumber_twavg(tv: Temporal) -> float:
    """Time-weighted average (`src/temporal.c:3256-3278`): instant ->
    its value, instant set -> plain mean (`src/temporali.c:1662`),
    sequence (set) -> integral / total duration, with the
    all-instantaneous-sequences fallback to the mean of per-sequence
    values (`src/temporals.c:2274-2295`)."""
    if tv.duration == INSTANT:
        return float(tv.seqs[0].values[0][0])
    if tv.duration == INSTANTSET:
        vals = [float(s.values[0][0]) for s in tv.seqs]
        return sum(vals) / len(vals)
    duration = float(sum(int(s.times[-1]) - int(s.times[0])
                         for s in tv.seqs))
    if duration == 0:
        vals = [float(s.values[0][0]) for s in tv.seqs]
        return sum(vals) / len(vals)
    return tnumber_integral(tv) / duration


def extent(values: list[Temporal]):
    """Bounding STBox of all inputs (`temporal_aggfuncs.c:1214-1348`)."""
    from .boxops import STBox
    boxes = [STBox.of(v) for v in values if v is not None]
    if not boxes:
        return None
    return STBox(min(b.xmin for b in boxes), max(b.xmax for b in boxes),
                 min(b.ymin for b in boxes), max(b.ymax for b in boxes),
                 min(b.tmin for b in boxes), max(b.tmax for b in boxes))


def wagg(values: list[Temporal], kind: str, window_us: int) -> Temporal | None:
    """Window aggregates w{count,sum,min,max,avg}
    (`src/temporal_waggfuncs.c:31-258`): every instant/segment
    extended by the interval into an independent piece, then swept by
    ``tagg``.  Piece shapes match the reference exactly (36/38 `_tbl`
    numSequences goldens):

    - instants / instant sets: one CLOSED [t, t+w] constant piece per
      instant (``temporalinst_extend`` / ``temporali_extend``)
    - step / constant segments: [t_i, t_{i+1}+w] constant at v_i, the
      sequence's own lower bound on its first piece, upper bound only
      on its last (``tstepwseq_extend``, ``temporalseq_transform_*``)
    - linear min/max segments (``tlinearseq_extend``): rising∧min or
      falling∧max holds the start value for one window then tracks
      [v0@t0, v0@t0+w, v1@t1+w]; otherwise the segment runs and the
      end value holds: [v0@t0, v1@t1, v1@t1+w]
    - wsum over LINEAR float sequences errors, like the reference
      (`temporal_waggfuncs.c:637`)
    """
    minflag = kind == "min"
    pieces: list[Temporal] = []
    for v in values:
        if v is None:
            continue
        # piece interpolation mirrors the reference's transforms:
        # wcount is INT4 step; wavg is double2 LINEAR always
        # (tnumberinst/tintseq_transform_wavg set linear=true); the
        # extend-based kinds inherit the BASE TYPE default
        # (temporalinst_extend: linear_interpolation(valuetypid)) —
        # the flag decides whether the swept result may merge value
        # jumps at knots, i.e. the 38_tbl numSequences counts
        if kind == "count":
            inst_linear = False
        elif kind == "avg":
            inst_linear = True
        else:
            inst_linear = not v.step_default and not v.is_bool
        discrete = v.duration in (INSTANT, INSTANTSET)
        for s in v.seqs:
            n = len(s.times)
            if discrete or n == 1:
                for i in range(n):
                    t = int(s.times[i])
                    pieces.append(Temporal(SEQUENCE, [Seq(
                        np.array([t, t + window_us]),
                        np.vstack([s.values[i], s.values[i]]),
                        True, True)], inst_linear, v.srid,
                        not inst_linear))
                continue
            if kind == "sum" and v.linear:
                raise ValueError(
                    "Operation not supported for temporal float sequences")
            lower = s.lower_inc
            for i in range(n - 1):
                upper_inc = s.upper_inc if i == n - 2 else False
                t0, t1 = int(s.times[i]), int(s.times[i + 1])
                v0, v1 = s.values[i], s.values[i + 1]
                if kind in ("min", "max") and v.linear \
                        and not np.array_equal(v0, v1):
                    rising = float(v1[0]) > float(v0[0])
                    if rising == minflag:
                        ts = np.array([t0, t0 + window_us, t1 + window_us])
                        vs = np.vstack([v0, v0, v1])
                    else:
                        ts = np.array([t0, t1, t1 + window_us])
                        vs = np.vstack([v0, v1, v1])
                    pieces.append(Temporal(SEQUENCE, [Seq(
                        ts, vs, lower, upper_inc)], True, v.srid))
                else:
                    seg_linear = kind == "avg"  # transform_wavg: true
                    pieces.append(Temporal(SEQUENCE, [Seq(
                        np.array([t0, t1 + window_us]),
                        np.vstack([v0, v0]), lower, upper_inc)],
                        seg_linear, v.srid, not seg_linear))
                lower = True
    return tagg(pieces, kind, validate_operands=False)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

# The reference parallelizes ungrouped temporal aggregation with a
# transfn/combinefn pair over skiplist partial states
# (`src/sql/36_temporal_aggfuncs.in.sql:23-76`).  The Spark analog is
# TWO-LEVEL: a per-partition partial `tagg` (mapInPandas over
# member-co-partitioned rows — rows never funnel through one task)
# followed by ONE cheap merge of the partial piece-lists, whose size is
# bounded by knot/probe counts, not row counts.

def _member_values(runs, t_us: np.ndarray, vals: np.ndarray,
                   linear: bool, discrete: bool) -> list[Temporal]:
    """One Temporal per ``[start, end)`` run of a per-key substrate
    partition: an instant set when ``discrete``, else a sequence."""
    if discrete:
        return [Temporal.instant_set(t_us[a:b], vals[a:b]) for a, b in runs]
    return [Temporal.sequence(t_us[a:b], vals[a:b], normalize=False,
                              linear=linear) for a, b in runs]


def partial_profile_rows(points: DataFrame, partial_kinds: tuple[str, ...],
                         member: str = "mkey", t: str = "t",
                         value_cols: tuple[str, ...] = ("v",),
                         linear: bool = True, discrete: bool = False,
                         window_us: int | None = None) -> DataFrame:
    """Stage 1 (transfn analog): per-partition partial temporal
    aggregates as long-form piece rows.

    Rows are co-partitioned by ``member`` (one shuffle — a member's
    instants must land in one task so its segments stay whole), then
    each task runs the sweep-line kernel over ITS members only and
    emits its partial result pieces (pid, kind, seq_idx, bounds, t, v).
    """
    from pyspark import TaskContext
    from .spark_temporal import _per_key_np_kernel, _values
    schema = ("pid int, kind string, seq_idx int, lower_inc boolean, "
              "upper_inc boolean, t_us bigint, vals array<double>")

    def kernel(keys, starts, ends, t_us, cd):
        pid = TaskContext.get().partitionId()
        members = _member_values(zip(starts, ends), t_us,
                                 _values(cd, value_cols), linear, discrete)
        rows = []
        for kind in partial_kinds:
            res = (wagg(members, kind, window_us) if window_us is not None
                   else tagg(members, kind))
            if res is None:
                continue
            for si, s in enumerate(res.seqs):
                for i in range(len(s.times)):
                    rows.append((pid, kind, si, bool(s.lower_inc),
                                 bool(s.upper_inc), int(s.times[i]),
                                 [float(xv) for xv in s.values[i]]))
        return pd.DataFrame(rows, columns=["pid", "kind", "seq_idx",
                                           "lower_inc", "upper_inc",
                                           "t_us", "vals"])

    return _per_key_np_kernel(points, member, schema, kernel, t, value_cols)


def temporal_from_partial_rows(g: pd.DataFrame, linear: bool,
                               step_default: bool) -> Temporal:
    """Rebuild one partial-aggregate Temporal from its piece rows
    (inverse of the partial_profile_rows emission)."""
    seqs = []
    for _, sg in g.groupby("seq_idx"):
        sg = sg.sort_values("t_us")
        ts = sg["t_us"].to_numpy(dtype=np.int64)
        vs = np.vstack(sg["vals"].to_numpy())
        seqs.append(Seq(ts, vs, bool(sg["lower_inc"].iloc[0]),
                        bool(sg["upper_inc"].iloc[0])))
    seqs.sort(key=lambda s: int(s.times[0]))
    dur = SEQUENCE if len(seqs) == 1 else SEQUENCESET
    return Temporal(dur, seqs, linear, 0, step_default)


def rebuild_partials(pdf: pd.DataFrame, linear_of, step_of) -> dict:
    """Group partial piece rows by (pid, kind) → {kind: [Temporal]}.
    ``linear_of``/``step_of`` map a kind to the partial's interp."""
    by: dict[str, list[Temporal]] = {}
    for (pid, kind), g in pdf.groupby(["pid", "kind"]):
        by.setdefault(kind, []).append(
            temporal_from_partial_rows(g, linear_of(kind), step_of(kind)))
    return by


def temporal_agg_pieces(points: DataFrame, kind: str,
                        member: str = "mkey", t: str = "t",
                        value_cols: tuple[str, ...] = ("v",),
                        linear: bool = True, discrete: bool = False,
                        window_us: int | None = None) -> DataFrame:
    """UNGROUPED full-profile temporal aggregate (the piece-list
    result of ``SELECT tagg(x) FROM t``) via the two-level
    transfn/combinefn analog: per-partition partial `tagg`/`wagg`
    over member-co-partitioned rows (`partial_profile_rows`), one
    merge of the bounded partial piece-lists.  The sampled-profile
    operators in spark_temporal are pure Catalyst; this is the exact
    piece representation (crossing insertion included).

    Output: long form (seq_idx, lower_inc, upper_inc, t, v...).
    """
    from pyspark.sql import functions as F
    merge_kind = {"count": "sum", "sum": "sum", "min": "min",
                  "max": "max", "and": "and", "or": "or",
                  "avg": "sum", "centroid": "sum"}[kind]
    finalize = kind in ("avg", "centroid")
    if finalize and window_us is not None:
        raise ValueError(f"windowed {kind}: use the wagg kinds instead")
    partial_kind = "sum" if finalize else kind
    partial_cols = value_cols
    if finalize:
        # double2/double3 partials: each member carries a constant-1
        # weight component, so a partition's partial SUM profile is
        # (sum components..., member count) and the merge divides
        points = points.withColumn("_w", F.lit(1.0))
        partial_cols = (*value_cols, "_w")
    out_cols = value_cols
    vcols = ", ".join(f"{c} double" for c in out_cols)
    schema = (f"seq_idx int, lower_inc boolean, upper_inc boolean, "
              f"t timestamp, {vcols}")
    partials = partial_profile_rows(points, (partial_kind,),
                                    member=member, t=t,
                                    value_cols=partial_cols, linear=linear,
                                    discrete=discrete, window_us=window_us)
    step_partial = (partial_kind in _STEP_KINDS) or window_us is not None \
        or not linear

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        by = rebuild_partials(pdf, linear_of=lambda k: not step_partial,
                              step_of=lambda k: step_partial)
        res = tagg(by.get(partial_kind, []), merge_kind,
                   validate_operands=False,
                   finalize_divide=finalize)
        rows = []
        if res is not None:
            for si, s in enumerate(res.seqs):
                for i in range(len(s.times)):
                    rows.append((si, bool(s.lower_inc), bool(s.upper_inc),
                                 np.datetime64(int(s.times[i]), "us"),
                                 *[float(xv) for xv in s.values[i]]))
        return pd.DataFrame(rows, columns=["seq_idx", "lower_inc",
                                           "upper_inc", t, *out_cols])

    return (partials.groupBy(F.lit(0).alias("_g"))
            .applyInPandas(lambda pdf: merge(pdf), schema))


def tcount_instants(points: DataFrame, member: str = "mkey",
                    t: str = "t") -> DataFrame:
    """Ungrouped tcount over DISCRETE instant sets — pure Catalyst
    (`temporal_aggfuncs.c:1739`): the value at each instant is the
    number of members defined there.  groupBy(t) gets map-side partial
    aggregation; no single-task stage anywhere."""
    from pyspark.sql import functions as F
    return points.groupBy(t).agg(
        F.countDistinct(member).alias("n_defined"))


def tcount_sequences(points: DataFrame, member: str = "mkey",
                     t: str = "t", n_buckets: int = 64) -> DataFrame:
    """Ungrouped tcount over per-member SEQUENCE domains as a
    (t, ±delta) stream + bucketed parallel prefix sum — pure Catalyst.

    Each member contributes +1 at its domain start and −1 after its
    domain end; the running sum over event time is the stepwise count
    profile (`temporal_aggfuncs.c` tcount over sequences).  The prefix
    sum is two-phase: per-bucket window cumsum (parallel) + a tiny
    bucket-offset table (n_buckets rows) — no row-level single-task
    exchange at any point.

    Output: (t_us, n) — the count on [t_us, next boundary).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    # cast covers TIMESTAMP_NTZ inputs (session tz is UTC — lossless)
    dom = points.groupBy(member).agg(
        F.unix_micros(F.min(t).cast("timestamp")).alias("t0"),
        F.unix_micros(F.max(t).cast("timestamp")).alias("t1"))
    # delta stream: +1 at t0; −1 just AFTER t1 (closed upper bound)
    ev = (dom.select(F.col("t0").alias("t_us"), F.lit(1).alias("d"))
          .unionAll(dom.select((F.col("t1") + 1).alias("t_us"),
                               F.lit(-1).alias("d"))))
    per_t = ev.groupBy("t_us").agg(F.sum("d").alias("d"))
    # global [lo, hi] via a broadcast 1-row aggregate (NOT a driver
    # collect: that would run the whole upstream as a separate job;
    # as a join branch the groupBy exchange is reused)
    rng = per_t.agg(F.min("t_us").alias("_lo"), F.max("t_us").alias("_hi"))
    span = F.greatest(F.col("_hi") - F.col("_lo"), F.lit(1))
    bucket = F.least(
        F.floor((F.col("t_us") - F.col("_lo")) * n_buckets / span),
        F.lit(n_buckets - 1)).cast("int")
    bt = per_t.crossJoin(F.broadcast(rng)).withColumn("b", bucket) \
        .drop("_lo", "_hi")
    # phase 1: per-bucket running sum (parallel window per bucket)
    w_in = Window.partitionBy("b").orderBy("t_us") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = bt.withColumn("cum_in", F.sum("d").over(w_in))
    # phase 2: bucket offsets — n_buckets rows, trivially small
    w_b = Window.orderBy("b") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    totals = bt.groupBy("b").agg(F.sum("d").alias("tot"))
    offsets = totals.select(
        "b", F.coalesce(F.sum("tot").over(w_b), F.lit(0)).alias("off"))
    out = local.join(F.broadcast(offsets), "b")
    # drop the sentinel boundary after the global max (count 0 there)
    return (out.select("t_us",
                       (F.col("cum_in") + F.col("off")).cast("long")
                       .alias("n"))
            .where(F.col("n") > 0))


def temporal_aggregate(points: DataFrame, kind: str, group: str = "gkey",
                       member: str = "mkey", t: str = "t",
                       value_cols: tuple[str, ...] = ("v",),
                       linear: bool = True,
                       discrete: bool = False) -> DataFrame:
    """GROUP BY ``group`` temporal aggregation: rows are instants of
    per-``member`` temporal values; the kernel merges members inside
    each group (Agg node analog of `36_temporal_aggfuncs.in.sql`).

    Output: long-form instants of the aggregate
    (group, seq_idx, lower_inc, upper_inc, t, v...).
    """
    from .spark_temporal import _member_runs, _per_key_np_kernel, _values
    vcols = ", ".join(f"{c} double" for c in
                      (value_cols if kind != "centroid" else ("x", "y")))
    out_cols = value_cols if kind != "centroid" else ("x", "y")
    schema = (f"{group} bigint, seq_idx int, lower_inc boolean, "
              f"upper_inc boolean, t timestamp, {vcols}")

    def agg(keys, starts, ends, t_us, cd):
        vals = _values(cd, value_cols)
        rows = []
        for gk, s0, e0 in zip(keys, starts, ends):
            result = tagg(_member_values(_member_runs(cd[member], s0, e0),
                                         t_us, vals, linear, discrete), kind)
            if result is None:
                continue
            for si, s in enumerate(result.seqs):
                for i in range(len(s.times)):
                    rows.append((gk, si, bool(s.lower_inc),
                                 bool(s.upper_inc),
                                 np.datetime64(int(s.times[i]), "us"),
                                 *[float(x) for x in s.values[i]]))
        return pd.DataFrame(rows, columns=[group, "seq_idx", "lower_inc",
                                           "upper_inc", t, *out_cols])

    return _per_key_np_kernel(points, group, schema, agg, t, value_cols,
                              member)
