"""The benchmark's own tests: the generator and oracles on known cases,
the event-log folder on a small recorded log, and each workload end to
end at a tiny size.

    python3 -m pytest perfbench/tests -q

Run from the repository root; the end-to-end tests start Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402


def test_generator_is_seeded():
    a, ta = gen.pages(7, 200)
    b, tb = gen.pages(7, 200)
    c, _ = gen.pages(8, 200)
    assert a.equals(b)
    assert all(np.array_equal(ta[k], tb[k]) for k in ta)
    assert not a.equals(c)
    assert gen.events(3, 500, 20).equals(gen.events(3, 500, 20))


def test_tags_carry_five_decimals_in_order():
    table, truth = gen.pages(1, 50)
    texts = table.column("text").to_pylist()
    first = int(np.flatnonzero(truth["page"] == truth["page"][0])[0])
    page = truth["page"][first]
    tags = [w for w in texts[page].split() if w.startswith("geo:")]
    lat, lon = tags[0][4:].split(",")
    assert len(lat.split(".")[1]) == 5 and len(lon.split(".")[1]) == 5
    assert round(float(lon) * gen.LATTICE) == truth["lon"][first]
    assert round(float(lat) * gen.LATTICE) == truth["lat"][first]


def test_grid_oracle_counts_edges_and_corners():
    ex, ey = gen.edge_points()
    pi, _ = oracle.grid_matches(ex, ey)
    per_point = np.bincount(pi, minlength=len(ex))
    assert sorted(per_point.tolist()) == [2] * 6 + [4] * 2
    # an interior point lies in exactly one cell
    pi, pid = oracle.grid_matches(np.array([gen.HOT[0] * gen.LATTICE]),
                                  np.array([gen.HOT[1] * gen.LATTICE]))
    assert len(pi) == 1


def test_admin_edges_stay_off_the_lattice():
    """No five-decimal point can lie on an admin edge, so the boundary
    rule never decides an admin match."""
    for ring in gen.admin_rings4():
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            dx, dy = bx - ax, by - ay
            # lattice points are multiples of 4 in quarter units
            if dx == 0:
                assert ax % 4 != 0
            elif dy == 0:
                assert ay % 4 != 0
            else:
                assert abs(dx) == abs(dy)
                assert (ay - np.sign(dy) * np.sign(dx) * ax) % 4 != 0


def test_admin_oracle_matches_a_ray_cast():
    rng = np.random.default_rng(0)
    lon, lat = gen.lattice_points(rng, 3000)
    pi, pid = oracle.admin_matches(lon, lat)
    got = set(zip(pi.tolist(), pid.tolist()))
    want = set()
    for k, ring in enumerate(gen.admin_rings4()):
        x, y = ring[:, 0] / 4, ring[:, 1] / 4
        for i in range(len(lon)):
            inside = False
            for j in range(len(ring) - 1):
                if (y[j] > lat[i]) != (y[j + 1] > lat[i]):
                    xc = x[j] + (lat[i] - y[j]) / (y[j + 1] - y[j]) \
                        * (x[j + 1] - x[j])
                    inside ^= lon[i] < xc
            if inside:
                want.add((i, k + 1))
    assert got == want and len(got) > 100


def test_dwithin_oracle_matches_brute_force():
    rng = np.random.default_rng(1)
    lon = rng.integers(0, 3000, 400)
    lat = rng.integers(0, 3000, 400)
    r2 = 250_050
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    assert oracle.dwithin_pairs(lon, lat, r2) == int((d2 <= r2).sum())


def test_pyramid_check_catches_a_wrong_parent():
    import pandas as pd
    rows = [(z, 5 >> (12 - z), 9 >> (12 - z), 3) for z in range(13)]
    df = pd.DataFrame(rows, columns=["zoom", "tile_x", "tile_y", "n_points"])
    assert oracle.check_pyramid(df, 3, 12) == []
    df.loc[df.zoom == 4, "tile_x"] += 1
    assert oracle.check_pyramid(df, 3, 12)


def test_fold_recorded_event_log():
    groups = eventlog.fold(os.path.join(HERE, "data", "eventlog"))
    g = groups["demo#0"]
    t = g.table()
    assert t["jobs"] >= 1 and t["stages"] >= 2 and t["tasks"] >= 4
    assert t["shuffle_write_mb"] > 0
    assert t["python_s"] >= 0 and t["to_python_mb"] > 0
    assert t["from_python_mb"] > 0
    refined = g.rows(lambda n, s: n == "MapInPandas")
    assert refined == 500  # the kernel keeps even ids of range(1000)
    assert "other#0" not in groups or groups["other#0"].jobs.isdisjoint(
        g.jobs)


TINY = {"PAGES": 300, "POINTS": 400, "QUERY_EVERY": 20, "EVENTS": 600,
        "USERS": 9}


def _run(workload, monkeypatch, trace=0):
    """One run of ``workload`` at a tiny input size; its JSON result."""
    import contextlib
    import io

    import run
    import workloads
    cls = workloads.WORKLOADS[workload]
    for k, v in TINY.items():
        if hasattr(cls, k):
            monkeypatch.setattr(cls, k, v)
    monkeypatch.chdir(ROOT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "5", "--seconds",
                       "0.1", "--trace", str(trace)])
    assert rc == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("workload,share", [
    ("geotag_tiles", 0.0), ("spatial_joins", 0.25), ("trajectories", 0.0)])
def test_workload_tiny(workload, share, monkeypatch):
    res = _run(workload, monkeypatch)
    assert res["correct"] is True
    assert res["failed"] / res["attempted"] == share
    import run
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_prints_every_layer_metric(monkeypatch):
    import run
    res = _run("geotag_tiles", monkeypatch, trace=1)
    assert set(res["metrics"]) == set(run.per_layer_units())
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert res["metrics"]["pip.match_per_candidate"]["value"] > 0
