"""Each workload's correctness check accepts its reference and rejects a
perturbed result. No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import data as D  # noqa: E402
from perfbench import workloads as W  # noqa: E402

SEED, N_DOCS = 5, 20_000


@pytest.fixture(scope="module")
def pts():
    return D.points(SEED, N_DOCS)


def test_seed_moves_the_points():
    a, b = D.points(1, 2_000), D.points(2, 2_000)
    assert not np.intersect1d(a["point_id"], b["point_id"]).size
    shared = {*zip(a["x"], a["y"])} & {*zip(b["x"], b["y"])}
    # only the 1% of points snapped to fixed polygon edge midpoints can recur
    assert len(shared) <= 0.02 * len(a["x"])


def test_join_tile_check(pts):
    w = W.JoinTile(SEED, 4)
    w.expected = D.join_reference(pts)
    good = {"counts": dict(w.expected)}
    assert w.check(good) == []
    key = next(iter(w.expected))
    off_by_one = copy.deepcopy(good)
    off_by_one["counts"][key] += 1
    assert w.check(off_by_one)
    missing = copy.deepcopy(good)
    del missing["counts"][key]
    assert w.check(missing)


@pytest.fixture(scope="module")
def rkr(pts):
    """raster_knn_resume with its references and a result that matches them."""
    w = W.RasterKnnResume(SEED, 4)
    w.expected_zonal = D.zonal_reference(D.zones_reference(w.raster))
    w.expected_extract = D.extract_reference(pts, w.raster)
    w.targets = D.sample_targets(w.knn_grid, 24)
    w.expected_knn = D.knn_reference(pts, w.knn_grid, w.targets, w.k)
    cells = range(w.knn_grid.rows * w.knn_grid.cols)
    good = {"zonal": copy.deepcopy(w.expected_zonal), "extract": w.expected_extract,
            "nn": {c: 0.0 for c in cells}, "idw": {c: 0.0 for c in cells}}
    for t, (nn, idw) in w.expected_knn.items():
        good["nn"][t], good["idw"][t] = nn, idw
    manifests = {b: {"bucket": b, "row_count": 10 + b, "content_hash": str(100 + b)}
                 for b in range(w.n_buckets)}
    w.expected_rows = sum(m["row_count"] for m in manifests.values())
    lost = [b for b in range(w.n_buckets) if b % 2 == 1]
    good.update({"ran": list(range(w.n_buckets)), "fresh": manifests, "lost": lost,
                 "resumed_ran": lost, "resumed": copy.deepcopy(manifests)})
    assert w.check(good) == []
    return w, good


def _with(good, *path, value):
    """A deep copy of `good` with the entry at `path` set to `value`."""
    bad = copy.deepcopy(good)
    *outer, last = path
    node = bad
    for key in outer:
        node = node[key]
    node[last] = value
    return bad


def _without(good, *path):
    """A deep copy of `good` with the entry at `path` removed."""
    bad = copy.deepcopy(good)
    *outer, last = path
    node = bad
    for key in outer:
        node = node[key]
    del node[last]
    return bad


def test_raster_checks(rkr):
    w, good = rkr
    zone = next(iter(good["zonal"]))
    assert w.check(_with(good, "zonal", zone, "median", value=good["zonal"][zone]["median"] + 0.1))
    assert w.check(_without(good, "zonal", zone))
    n, s = good["extract"]
    assert w.check(_with(good, "extract", value=(n - 1, s)))
    assert w.check(_with(good, "extract", value=(n, s * (1 + 1e-6))))


def test_knn_checks(rkr):
    w, good = rkr
    t = int(w.targets[3])
    assert w.check(_with(good, "nn", t, value=good["nn"][t] + 1.0))
    assert w.check(_with(good, "idw", t, value=good["idw"][t] * (1 + 1e-6)))
    assert w.check(_without(good, "idw", 0))


def test_knn_reference_breaks_ties_by_point_id():
    g = W.RasterKnnResume.knn_grid
    tx, ty = g.west + 0.5 * g.res_x, g.north - 0.5 * g.res_y
    tie = {"point_id": np.array([9, 4, 7]), "x": np.array([tx + 1, tx - 1, tx + 3]),
           "y": np.array([ty, ty, ty]), "z": np.array([1.0, 2.0, 3.0])}
    nn, _ = D.knn_reference(tie, g, np.array([0]), 2)[0]
    assert nn == 2.0  # point 4 wins the tie with point 9


def test_lineage_checks(rkr):
    w, good = rkr
    b = good["lost"][0]
    assert w.check(_with(good, "resumed", b, "content_hash", value="0"))
    assert w.check(_with(good, "resumed", b, "row_count", value=0))
    assert w.check(_with(good, "resumed_ran", value=list(range(w.n_buckets))))
    assert w.check(_with(good, "fresh", 0, "row_count", value=9))


def test_zonal_reference_matches_direct_stats():
    g = W.RasterKnnResume.raster
    zone = D.zones_reference(g)
    ref = D.zonal_reference(zone)
    first_zone = next(iter(ref))
    r, c = np.nonzero(zone == first_zone)
    v = D.dem_values(r, c)
    first = ref[first_zone]
    assert first["n"] == len(v) and first["total"] == pytest.approx(v.sum())
