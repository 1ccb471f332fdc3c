"""tpoint/tfloat struct-column codec + accessor expressions.

The nested struct encoding from SURVEY §1.2 — the columnar stand-in
for MobilityDB's varlena datum:

    STRUCT<duration TINYINT, srid INT, linear BOOLEAN,
           seqs ARRAY<STRUCT<lower_inc BOOLEAN, upper_inc BOOLEAN,
                             insts ARRAY<STRUCT<t TIMESTAMP,
                                                x DOUBLE, y DOUBLE>>>>>

- ``to_row``/``from_row``: Temporal ⇄ nested python structure (the
  Arrow boundary used by pandas UDF kernels)
- ``trajectories``: builds the FIXTURES.md §3 trajectories table from
  extracted page geotags (duration mix 1:2:4:3, ≤10 instants/seq)
- accessor Column expressions (`src/temporal.c:1264-2098` surface):
  pure built-ins over the struct — no UDF for startValue/endValue/
  numInstants/numSequences/start/endTimestamp/duration name.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .types import (INSTANT, INSTANTSET, SEQUENCE, SEQUENCESET, Seq,
                    Temporal, TPOINT_SPARK_SCHEMA)

TRAJ_SCHEMA = f"key string, tpoint {TPOINT_SPARK_SCHEMA}"


def to_row(tv: Temporal) -> dict:
    """Temporal → nested dict matching TPOINT_SPARK_SCHEMA."""
    return {
        "duration": tv.duration,
        "srid": tv.srid,
        "linear": bool(tv.linear),
        "seqs": [{
            "lower_inc": bool(s.lower_inc),
            "upper_inc": bool(s.upper_inc),
            "insts": [{"t": np.datetime64(int(t), "us"),
                       "x": float(v[0]),
                       "y": float(v[1]) if len(v) > 1 else 0.0}
                      for t, v in zip(s.times, s.values)],
        } for s in tv.seqs],
    }


def from_row(row) -> Temporal:
    """Nested dict/Row → Temporal."""
    get = (lambda o, k: o[k]) if isinstance(row, dict) else getattr
    seqs = []
    for s in get(row, "seqs"):
        g = (lambda o, k: o[k]) if isinstance(s, dict) else getattr
        insts = g(s, "insts")
        gi = (lambda o, k: o[k]) if isinstance(insts[0], dict) else getattr
        times = np.array([np.datetime64(gi(i, "t"), "us").astype(np.int64)
                          for i in insts], dtype=np.int64)
        vals = np.array([[gi(i, "x"), gi(i, "y")] for i in insts])
        seqs.append(Seq(times, vals, bool(g(s, "lower_inc")),
                        bool(g(s, "upper_inc"))))
    return Temporal(int(get(row, "duration")), seqs,
                    bool(get(row, "linear")), int(get(row, "srid")))


def trajectories(pages: DataFrame) -> DataFrame:
    """FIXTURES.md §3: per-url tpoint values from page geotags.

    Duration assigned deterministically by hash(url) in the 1:2:4:3
    Instant:InstantSet:Sequence:SequenceSet ratio; ≤10 instants per
    sequence (`create_test_tables_tpoint_big.sql:168-258` params).
    """
    from .pipeline import extract_points
    from .spark_temporal import _per_key_np_kernel, _values
    base = np.datetime64("2001-06-01T00:00:00", "us").astype(np.int64)
    step = 3600_000_000

    def build(urls, starts, ends, tag_idx, cd):
        lonlat = _values(cd, ("lon", "lat"))
        rows = []
        for url, s0, e0 in zip(urls, starts, ends):
            coords = lonlat[s0:e0]
            n = e0 - s0
            h = hash(url) % 10
            times = base + np.arange(n, dtype=np.int64) * step
            if h < 1 or n == 1:                       # 1/10 Instant
                tv = Temporal.instant(int(times[0]), coords[0], 4326)
            elif h < 3:                               # 2/10 InstantSet
                tv = Temporal.instant_set(times, coords, 4326)
            elif h < 7:                               # 4/10 Sequence
                tv = Temporal.sequence(times[:10], coords[:10], srid=4326,
                                       normalize=False)
            else:                                     # 3/10 SequenceSet
                half = max(1, n // 2)
                s1 = Seq(times[:half], coords[:half])
                s2 = Seq(times[half:] + step * 100, coords[half:]) \
                    if n - half > 0 else None
                seqs = [s1] + ([s2] if s2 is not None else [])
                tv = Temporal.sequence_set(seqs, 4326, normalize=False)
            rows.append((url, to_row(tv)))
        return pd.DataFrame(rows, columns=["key", "tpoint"])

    return _per_key_np_kernel(extract_points(pages), "url", TRAJ_SCHEMA,
                              build, "tag_idx", ("lon", "lat"))


# ---------------------------------------------------------------------------
# accessor expressions (pure built-ins; temporal.c:1264-2098)
# ---------------------------------------------------------------------------

def duration_name(tp: Column) -> Column:
    return (F.when(tp["duration"] == INSTANT, "Instant")
             .when(tp["duration"] == INSTANTSET, "InstantSet")
             .when(tp["duration"] == SEQUENCE, "Sequence")
             .otherwise("SequenceSet"))


def num_sequences(tp: Column) -> Column:
    return F.size(tp["seqs"])


def num_instants(tp: Column) -> Column:
    return F.aggregate(tp["seqs"], F.lit(0),
                       lambda acc, s: acc + F.size(s["insts"]))


def start_timestamp(tp: Column) -> Column:
    return F.element_at(F.element_at(tp["seqs"], 1)["insts"], 1)["t"]


def end_timestamp(tp: Column) -> Column:
    return F.element_at(F.element_at(tp["seqs"], -1)["insts"], -1)["t"]


def start_value(tp: Column) -> Column:
    i = F.element_at(F.element_at(tp["seqs"], 1)["insts"], 1)
    return F.struct(i["x"].alias("x"), i["y"].alias("y"))


def end_value(tp: Column) -> Column:
    i = F.element_at(F.element_at(tp["seqs"], -1)["insts"], -1)
    return F.struct(i["x"].alias("x"), i["y"].alias("y"))


def stbox(tp: Column) -> Column:
    """Precomputed-bbox equivalent (`temporalseq.c:43-59`) as an
    expression: min/max over the nested instants."""
    xs = F.flatten(F.transform(
        tp["seqs"], lambda s: F.transform(s["insts"], lambda i: i["x"])))
    ys = F.flatten(F.transform(
        tp["seqs"], lambda s: F.transform(s["insts"], lambda i: i["y"])))
    return F.struct(
        F.array_min(xs).alias("xmin"), F.array_max(xs).alias("xmax"),
        F.array_min(ys).alias("ymin"), F.array_max(ys).alias("ymax"),
        start_timestamp(tp).alias("tmin"), end_timestamp(tp).alias("tmax"))


def explode_instants(traj: DataFrame, tp_col: str = "tpoint") -> DataFrame:
    """Struct → exploded long form (key, seq_idx, inst_idx, t, x, y) —
    the working representation for vectorized kernels."""
    return (traj
            .select("key", F.col(tp_col)["linear"].alias("linear"),
                    F.posexplode(F.col(tp_col)["seqs"])
                    .alias("seq_idx", "seq"))
            .select("key", "linear", "seq_idx",
                    F.col("seq")["lower_inc"].alias("lower_inc"),
                    F.col("seq")["upper_inc"].alias("upper_inc"),
                    F.posexplode(F.col("seq")["insts"])
                    .alias("inst_idx", "inst"))
            .select("key", "linear", "seq_idx", "lower_inc", "upper_inc",
                    "inst_idx", F.col("inst")["t"].alias("t"),
                    F.col("inst")["x"].alias("x"),
                    F.col("inst")["y"].alias("y")))
