"""Benchmark entry point.

    python3 perfbench/run.py --workload geotag_tiles --seed 1 \
        --seconds 4 --trace 0

Run from the repository root. One run: generate the seeded inputs and
write them to parquet (three times, the median counts), start a Spark
session on ``local[<cores>]``, run one cold pass of the workload's
operations, a fixed number of untimed warm passes, then timed passes
until ``--seconds`` of operation time have been measured. Every
operation's output is checked against an independent computation
after it ran; what the program left persisted is counted and
released. The last line of standard output is the result JSON.

``--trace 1`` runs the same protocol with Spark's event log on, the
timed operations under job groups and spans, followed by the pipeline
prefixes forced to a noop sink, and prints the per-layer metrics
instead of the end-to-end ones. The tracing cost is its ``warm_s``
minus the median ``warm_s`` of the untraced runs recorded for the same
workload, size and run length; with none recorded, the traced run first
runs the untraced protocol in a JVM of its own. Spans and the folded
table are written to ``<run dir>/trace.json``.

Outputs live under ``.perfbench/`` in the working directory; inputs,
results and event logs are removed when the run ends, the run report
and trace are kept.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

HEAP = "2g"  # driver heap, fixed (-Xms = -Xmx) so peak memory compares
SETUP_REPS = 3
PREFIX_REPS = 3

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "rows_per_s": "1/s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}

SPARK_LAYER = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
               "shuffle_write_mb", "spill_mb", "python_s", "to_python_mb",
               "from_python_mb")


def per_layer_units() -> dict[str, str]:
    from workloads import TRAJ_QUERIES
    units = {}
    for k in ("scan", "extract", "cells", "pip", "tiles", "pyramid"):
        units[f"{k}.self_s"] = "s"
    units["pip.match_per_candidate"] = "ratio"
    units.update({"write.self_s": "s", "write.mb": "MB"})
    units.update({
        "pip_shuffle.self_s": "s", "pip_shuffle.python_s": "s",
        "pip_shuffle.shuffle_mb": "MB",
        "pip_shuffle.match_per_candidate": "ratio",
        "pip_broadcast.self_s": "s",
        "dwithin.self_s": "s", "dwithin.shuffle_mb": "MB",
        "dwithin.match_per_candidate": "ratio",
        "knn.self_s": "s", "knn.stages": "count", "knn.shuffle_mb": "MB",
        "knn.leaked_rdds": "count"})
    for q in TRAJ_QUERIES:
        units[f"{q}.self_s"] = "s"
        units[f"{q}.python_s"] = "s"
    for k in SPARK_LAYER:
        units[f"spark.{k}"] = ("count" if k in ("jobs", "stages", "tasks")
                               else "MB" if k.endswith("_mb") else "s")
    units["trace.overhead_s"] = "s"
    return units


class Tracer:
    """In-memory spans: name, start, end, parent index (seconds since
    the tracer started). A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.spans.append({
            "name": name, "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, "end": None})
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            i = self._stack.pop()
            self.spans[i]["end"] = time.perf_counter() - self._t0


class Runner:
    """Runs passes of a workload's operations and keeps the counts."""

    def __init__(self, wl, tracer: Tracer) -> None:
        self.wl = wl
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []
        self.known: list[str] = []
        self.passes: list[dict] = []

    def one_pass(self, spark, ops, tag: str, group: str | None = None
                 ) -> dict:
        import measure
        from workloads import KNOWN_FAULT
        rec = {"tag": tag, "wall": 0.0, "cpu": 0.0, "ops": {},
               "leaked": {}}
        sc = spark.sparkContext
        with self.tracer.span(f"pass:{tag}"):
            for op in ops:
                if group is not None:
                    sc.setJobGroup(f"{op.name}#{group}", op.name)
                with self.tracer.span(f"op:{op.name}"):
                    s0 = measure.Sample()
                    t0 = time.perf_counter()
                    op.run()
                    wall = time.perf_counter() - t0
                    s1 = measure.Sample()
                rec["wall"] += wall
                rec["cpu"] += measure.cpu_seconds(s0, s1)
                rec["ops"][op.name] = wall
                rec["leaked"][op.name] = release(spark)
                with self.tracer.span(f"check:{op.name}"):
                    problems = self.wl.check(op.name)
                self.attempted += 1
                if problems:
                    self.failed += 1
                    (self.known if op.name == KNOWN_FAULT
                     else self.unexpected).extend(problems)
            if group is not None:
                # bookkeeping jobs stay out of the operations' groups
                sc.setJobGroup("bench", "bench")
        self.passes.append(rec)
        return rec

    def timed(self, spark, ops, seconds: float, tag: str,
              group: bool = False) -> list[dict]:
        out: list[dict] = []
        while not out or sum(p["wall"] for p in out) < seconds:
            out.append(self.one_pass(
                spark, ops, f"{tag}#{len(out)}",
                str(len(out)) if group else None))
        return out


def release(spark) -> int:
    """Count the RDDs left persisted, then release them all."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    if n:
        spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
    return n


def start_spark(run_dir: str, log_dir: str | None = None):
    from mobilitydb_spark.session import get_spark
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap is committed and touched at start, so the JVM's
        # share of peak memory does not depend on when the heap grew
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            # plan text is not folded; keep the log small
            "spark.sql.maxPlanStringLength": "2048",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM and wait for it and its workers to end."""
    import measure
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in measure.tree_pids() if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def protocol(wl, runner: Runner, run_dir: str, seconds: float,
             log_dir: str | None = None) -> dict:
    """One Spark session through the fixed protocol: cold pass, warm
    passes, timed passes; with ``log_dir`` the event log is on, timed
    operations run under job groups and the noop prefixes follow."""
    import measure
    t0 = time.perf_counter()
    spark = start_spark(run_dir, log_dir)
    out = {"session_s": time.perf_counter() - t0}
    try:
        ops = wl.bind(spark)
        out["cold"] = runner.one_pass(spark, ops, "cold")
        for i in range(wl.warm_passes):
            runner.one_pass(spark, ops, f"warm#{i}")
        s0 = measure.Sample()
        out["timed"] = runner.timed(spark, ops, seconds, "timed",
                                    group=log_dir is not None)
        out["external_cores"] = measure.external_cores(s0, measure.Sample())
        out["prefix_walls"] = {}
        if log_dir is not None:
            for name, fn in wl.prefixes(spark):
                for r in range(PREFIX_REPS):
                    spark.sparkContext.setJobGroup(f"prefix:{name}#{r}",
                                                   name)
                    with runner.tracer.span(f"prefix:{name}"):
                        t0 = time.perf_counter()
                        fn()
                        out["prefix_walls"].setdefault(name, []).append(
                            time.perf_counter() - t0)
    finally:
        spark.stop()
        stop_jvm()
    return out


def summarize(wl, proto: dict, gen_s: list[float], peak: int) -> dict:
    """End-to-end metrics of one protocol."""
    timed = proto["timed"]
    return {
        "setup_s": proto["session_s"] + median(gen_s),
        "cold_s": proto["cold"]["wall"],
        "warm_s": median([p["wall"] for p in timed]),
        "rows_per_s": wl.rows * len(timed) / sum(p["wall"] for p in timed),
        "cpu_s": median([p["cpu"] for p in timed]),
        "peak_rss_mb": peak / (1 << 20),
    }


def recorded_warm_s(args, rows: int) -> float | None:
    """Median ``warm_s`` of the untraced runs of this workload, input
    size and run length recorded under ``.perfbench/runs``, if any."""
    vals = []
    pattern = os.path.join(".perfbench", "runs", f"{args.workload}-s*-t0-*",
                           "report.json")
    for path in glob.glob(pattern):
        try:
            with open(path) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if r.get("rows") == rows and r.get("seconds") == args.seconds:
            vals.append(r["result"]["warm_s"])
    return median(vals) if vals else None


def run(args) -> dict:
    import measure
    from workloads import WORKLOADS

    run_dir = os.path.abspath(os.path.join(
        ".perfbench", "runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    log_dir = os.path.join(run_dir, "eventlog")
    for d in (in_dir, out_dir, log_dir, os.path.join(run_dir, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd(), HERE] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p])

    wl = WORKLOADS[args.workload](args.seed, in_dir, out_dir)
    runner = Runner(wl, Tracer(False))
    rss = measure.RssPeak()
    layers = None
    try:
        gen_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        wl.prepare()
        reference = recorded_warm_s(args, wl.rows) if args.trace else None
        if reference is None:
            proto = protocol(wl, runner, run_dir, args.seconds)
            result = summarize(wl, proto, gen_s, rss.close())
            proto["peak_by"] = rss.at_peak
            reference = result["warm_s"]
        if args.trace:
            runner.tracer = Tracer(True)
            proto = protocol(wl, runner, run_dir, args.seconds, log_dir)
            result = summarize(wl, proto, gen_s, rss.close())
            proto["peak_by"] = rss.at_peak
            with runner.tracer.span("fold"):
                layers = fold_layers(wl, proto, log_dir, reference)
        write_report(args, run_dir, wl, runner, proto, gen_s, result,
                     layers)
    finally:
        rss.close()
        for d in (in_dir, out_dir, log_dir, os.path.join(run_dir, "tmp"),
                  os.path.join(run_dir, "warehouse")):
            shutil.rmtree(d, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(result[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": not runner.unexpected,
            "attempted": runner.attempted, "failed": runner.failed,
            "metrics": metrics}


def fold_layers(wl, traced: dict, log_dir: str, untraced_warm_s: float
                ) -> dict:
    """Per-layer table of a traced protocol from its walls, leaks and
    the event log folded per job group."""
    import eventlog
    groups = eventlog.fold(log_dir)
    timed = traced["timed"]
    op_walls = {o: [p["ops"][o] for p in timed] for o in wl.ops}
    layers = wl.layers(op_walls, traced["prefix_walls"], groups)
    if "knn" in wl.ops:
        layers["knn.leaked_rdds"] = median([p["leaked"]["knn"]
                                            for p in timed])
    timed_groups = [g for k, g in groups.items()
                    if "#" in k and k.split("#")[0] in wl.ops]
    for k in SPARK_LAYER:
        layers[f"spark.{k}"] = sum(g.table()[k] for g in timed_groups) \
            / len(timed)
    layers["trace.overhead_s"] = median([p["wall"] for p in timed]) \
        - untraced_warm_s
    layers["groups"] = {k: g.table() for k, g in sorted(groups.items())}
    return layers


def write_report(args, run_dir, wl, runner, proto, gen_s, result, layers
                 ) -> None:
    leaked = sum(sum(p["leaked"].values()) for p in runner.passes)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "rows": wl.rows,
        "session_s": proto["session_s"], "generate_s": gen_s,
        "external_cores": proto["external_cores"], "result": result,
        "peak_by_process_mb": {
            k: v / (1 << 20) for k, v in proto["peak_by"].items()},
        "passes": runner.passes,
        "attempted": runner.attempted, "failed": runner.failed,
        "known_fault": runner.known[:5],
        "unexpected": runner.unexpected[:20], "leaked_rdds": leaked,
    }
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    if layers is not None:
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump({"spans": runner.tracer.spans, "layers": layers}, fh,
                      indent=1)
    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"passes={len(runner.passes)} "
          f"external_cores={proto['external_cores']:.2f} "
          f"leaked_rdds={leaked} "
          f"report={os.path.relpath(run_dir)}/report.json", file=sys.stderr)
    for p in runner.unexpected[:5] + runner.known[:1]:
        print(f"[perfbench] check: {p}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["geotag_tiles", "spatial_joins",
                             "trajectories"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("mobilitydb_spark", "__init__.py")):
        print("perfbench: run from the repository root; mobilitydb_spark "
              "not found in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    out = run(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
