#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "pages_per_sec": ...}

The flagship spatial pipeline runs over a deterministic synthetic
pages table sized to the scale factor (cached under .cache/bench so
repeat runs measure the engine, not the generator).  Relational /
datagen queries run over the driver's parquet tables.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_MASTER (e.g. local[8] for the scaling-efficiency runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAGES_BY_SF = {"sf0.001": 2_000, "sf0.01": 20_000, "sf0.1": 200_000,
               "sf1": 2_000_000}

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_sample() -> tuple[int, dict[int, tuple[int, int]]]:
    """(host_busy_jiffies, {pid: (self_jiffies, reaped_child_jiffies)})
    over the process subtree rooted at this python — the
    self-attestation counters (r4 verdict: the official bench artifact
    could not prove it ran on a quiet host).  Host busy time comes from
    /proc/stat; our own share walks the live subtree (this python + the
    Spark JVM, plus separate executor JVMs in local-cluster mode), so
    `(host_busy - own) / wall` is the average number of cores OTHER
    tenants burned while a query ran — loadavg alone can't separate our
    32-thread bursts from external contention.  Per-pid maps (not one
    sum) because subtree processes churn mid-window — Python workers
    are reaped, local-cluster executors respawn — and a dead process's
    ACCUMULATED jiffies leaving a summed counter fabricates impossible
    external readings (observed: 115.9 "cores" on a 32-core host);
    `_ext_cores` pairs two samples and counts survivors by delta,
    in-window spawns in full, and corrects reaped children via the
    parent's cutime/cstime."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    busy = sum(vals) - vals[3] - vals[4]  # total - idle - iowait
    procs: dict[int, tuple[int, int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            procs[int(d)] = (int(parts[1]),
                             int(parts[11]) + int(parts[12]),
                             int(parts[13]) + int(parts[14]))
        except (OSError, IndexError, ValueError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _s, _c) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    own: dict[int, tuple[int, int]] = {}
    stack = [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            own[p] = (procs[p][1], procs[p][2])
        stack.extend(kids.get(p, []))
    return busy, own


def _ext_cores(s0: tuple[int, dict], s1: tuple[int, dict],
               wall: float) -> float:
    """Average external busy cores between two `_proc_sample`s.

    Survivors count by delta; pids spawned in-window count their whole
    life; pids that DIED in-window have just been folded (full
    lifetime) into an ancestor's reaped-child counter, so subtracting
    the pre-window jiffies we observed at s0 leaves exactly their
    in-window usage.  cutime propagates RECURSIVELY at reap time (the
    kernel folds a child's own cutime into the parent's on wait), so a
    dead pid's pre-window reaped-grandchildren jiffies (r0) arrive in
    the ancestor's counter too and must be subtracted along with its
    self time.  Only an orphan reparented outside the subtree still
    leaks (to the external term, i.e. conservatively)."""
    b0, m0 = s0
    b1, m1 = s1
    own = 0
    for pid, (self1, reaped1) in m1.items():
        prev = m0.get(pid)
        if prev is not None:
            own += (self1 - prev[0]) + (reaped1 - prev[1])
        else:
            own += self1 + reaped1
    own -= sum(j0 + r0 for pid, (j0, r0) in m0.items() if pid not in m1)
    return max(0.0, ((b1 - b0) - max(own, 0)) / _CLK_TCK / wall)


def _bandwidth_canary_gbps(n_bytes: int = 1 << 30) -> float:
    """Achieved single-thread memcpy bandwidth (GB/s) on a fixed 1 GiB
    working set — the attestation CPU-time cannot see: two clean runs
    with identical per-query external_cores ~0 still differed 40% on
    the memory-bound queries, because co-tenant MEMORY-BUS pressure
    never appears in any /proc CPU counter.  A fixed-size copy probe
    moves the same bytes every run, so its GB/s is a direct canary for
    the memory subsystem's state; record it at suite start and end and
    compare across runs (the ratio between two runs' canaries bounds
    how much of a per-query delta is the box, not the code)."""
    import numpy as np
    src = np.ones(n_bytes // 8, dtype=np.int64)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # touch both buffers (page-in, not timed)
    t0 = time.time()
    np.copyto(dst, src)
    dt = time.time() - t0
    del src, dst
    return round(n_bytes / dt / 1e9, 2)


def main() -> None:
    from pyspark.sql import functions as F

    from mobilitydb_spark import fixtures, pipeline, queries, tiles
    from mobilitydb_spark.session import get_spark

    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    n_pages = PAGES_BY_SF.get(sf_name, 200_000)
    spark = get_spark("mobilitydb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # materialize the pages table once (generator cost excluded)
    pages_path = os.path.join(REPO, ".cache", "bench", f"pages_{n_pages}.parquet")
    if not os.path.exists(pages_path):
        fixtures.pages(spark, n_pages, partitions=64) \
            .write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    admin = fixtures.polygons_pd("admin", 64)
    grid = fixtures.polygons_pd("grid", 4096)

    timings: dict[str, float] = {}
    raw_reps: dict[str, list[list[float]]] = {}
    ext_cores: dict[str, float] = {}

    def force(df):
        """Evaluate EVERY output column — a bare .count() lets
        Catalyst prune unused projections, so a pure-Catalyst query
        would be timed hollow (kernel-backed queries are opaque to
        pruning either way)."""
        cols = [F.col(c) for c in df.columns]
        return df.select(F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64(*cols)).alias("chk")).collect()

    def run(name, fn):
        """Warm reps per query, each self-attested with the external
        busy-core average over its window (r4 verdict: 13 rows were
        host-contention artifacts and the bench could not prove it).
        Statistic: MIN of 3 warm reps when the query is short (first
        rep <= 5 s — min is the right noise-robust statistic for
        CPU-bound work), median-of-3 up to 20 s, min-of-2 to 90 s,
        else 1 rep.  Reported external cores belong to the CHOSEN rep,
        so the printed time attests its own window."""
        reps: list[list[float]] = []  # [sec, ext_cores] per rep

        def one_rep():
            s0 = _proc_sample()
            t0 = time.time()
            fn()
            wall = time.time() - t0
            ext = _ext_cores(s0, _proc_sample(), wall)
            reps.append([round(wall, 3), round(ext, 2)])

        one_rep()
        # a cold first rep on this host can spike 2-10x, so even slow
        # queries get a second (warm) rep before we trust the number
        first = reps[0][0]
        max_reps = 3 if first <= 20.0 else (2 if first <= 90.0 else 1)
        while len(reps) < max_reps:
            one_rep()
        ordered = sorted(reps)
        chosen = (ordered[1] if len(ordered) == 3 and first > 5.0
                  else ordered[0])
        timings[name] = chosen[0]
        ext_cores[name] = chosen[1]
        raw_reps[name] = reps

    # JVM/JIT + Arrow warm-up (untimed): the first query in a fresh
    # session otherwise absorbs codegen/JIT cost and skews per-core
    # comparisons
    pipeline.flagship(pages.limit(5000), admin, zoom=12).count()

    canary_start = _bandwidth_canary_gbps()

    # headline: flagship spatial join + tile assignment (pages/sec basis)
    run("flagship_pip_tiles",
        lambda: pipeline.flagship(pages, admin, zoom=12).count())
    # the broadcast join, the flagship's refine, against the grid layer
    run("pip_broadcast_4096",
        lambda: pipeline.pip_join_broadcast(
            pipeline.with_cell(pipeline.extract_points(pages)), grid,
            index_res=7).count())
    run("tile_pyramid_z12_z0",
        lambda: tiles.build_pyramid(
            pipeline.extract_points(pages), max_zoom=12, min_zoom=0).count())

    # shuffle-path spatial joins over the extracted points
    from pyspark.sql import functions as SF
    from mobilitydb_spark import joins
    pts = pipeline.extract_points(pages) \
        .select(SF.concat_ws("#", "url", "tag_idx").alias("pt_id"),
                "url", "tag_idx", "lon", "lat")
    grid_df = spark.createDataFrame(
        grid, "poly_id bigint, layer string, geom_wkb binary, srid int")
    run("pip_shuffle_4096",
        lambda: joins.pip_join_shuffle(
            pts.drop("pt_id"), grid_df, res=10).count())
    qpts = pts.limit(2000).select(SF.col("pt_id").alias("q_id"),
                                  "lon", "lat").cache()
    cpts = pts.select(SF.col("pt_id").alias("c_id"), "lon", "lat")
    run("knn_join_k5",
        lambda: joins.knn_join(qpts, cpts, 5).count())

    # registry queries over driver tables
    reg = queries.registry()
    for name in ["tpch_q1", "top_customers", "events_hourly",
                 "geo_cells_tiles", "dedup_exact", "doc_stats",
                 "knn_cosine_brute", "traj_metrics", "twavg",
                 "minhash_dedup", "simhash_pairs", "ann_lsh_topk",
                 "langid", "fingerprint_md5",
                 "at_box", "tdwithin_pairs", "tagg_profile",
                 "geog_dwithin_join", "azimuth_cumlen", "ttext_states",
                 "traj3d_metrics", "ann_ivf_topk", "tagg_tcount_seq",
                 "tbool_tand_tor", "posops_boxes", "tmath_turning",
                 "relate_rect",
                 # r4 additions: interval join, cosine LSH near-dup,
                 # trajectory WKT, projected rels table, range clip
                 "interval_join", "cosine_neardup_lsh",
                 "trajectory_wkt", "spatial_rels_rect",
                 "at_range_clip", "cosine_neardup_banded",
                 "nad_line"]:
        fn, _ = reg[name]
        run(name, lambda fn=fn: force(fn(spark, SF_DIR)))

    total = round(sum(timings.values()), 3)
    flagship_sec = timings["flagship_pip_tiles"]
    # Raw per-rep samples go to a side file: the r3 driver could not
    # parse the official line because the inline reps dict overflowed
    # its tail capture.  The printed line carries medians only.
    master_tag = spark.sparkContext.master.replace("[", "").replace("]", "")
    reps_path = os.path.join(REPO, "BENCH",
                             f"reps_{sf_name}_{master_tag}.json")
    os.makedirs(os.path.dirname(reps_path), exist_ok=True)
    with open(reps_path, "w") as fh:
        json.dump({"sf": sf_name, "master": spark.sparkContext.master,
                   "reps": raw_reps}, fh, indent=1)
    # threshold 1.0 (was 2.0): an sf0.1 run with ext 1.2-1.6 on two
    # queries measured them 1.8-2x slower than the clean artifact —
    # even ~1.5 stray cores of 32 contaminates a memory-bound burst
    contended = sorted(n for n, e in ext_cores.items() if e > 1.0)
    out = {
        "metric": "spatial-join+tile-assignment headline suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "external_cores": ext_cores,
        "contended": contended,
        "rep_policy": "warm reps: min-of-3 if first<=5s, median-of-3 "
                      "to 20s, min-of-2 to 90s, else 1; external_cores "
                      "= avg non-our busy cores during the chosen rep "
                      "(/proc/stat minus own subtree); contended = "
                      "queries with >1 external core; raw reps in " +
                      os.path.relpath(reps_path, REPO),
        "sf": sf_name,
        "n_pages": n_pages,
        "pages_per_sec": round(n_pages / flagship_sec, 1),
        "master": spark.sparkContext.master,
        # memory-bus canary: single-thread GB/s on a fixed 1 GiB copy
        # at suite start/end — co-tenant bandwidth pressure is invisible
        # to CPU-time attestation; compare canaries ACROSS runs
        "membw_canary_gbps": [canary_start, _bandwidth_canary_gbps()],
    }
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
