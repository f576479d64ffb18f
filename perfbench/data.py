"""Seeded inputs and independent numpy references for the benchmark.

Inputs are geodoc parquet files written through the engine's public
generator, `datagen.generate_chunk(start, count, seed)`. The generator's
points are hashes of the document index, and its seed only moves the five
hotspot centres, so the document window itself is derived from the seed:
two seeds share no documents. Files are cached per (seed, size) under
`perfbench/.data/`.

The references below never touch Spark. They rebuild the points from
`datagen.doc_points` (through the 9-decimal text the spans carry), and use
`geometry.point_in_parts` and plain numpy arithmetic for everything else.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from collections import Counter

import numpy as np

from whitebox_tools_spark import geometry as G
from whitebox_tools_spark import synth
from whitebox_tools_spark.datagen import doc_points, generate_chunk
from whitebox_tools_spark.grid import CellIndex, GridSpec

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".data")
FORMAT_VERSION = "v1"
# input sets kept on disk (~25 MB each at 400k documents)
CACHE_ENTRIES = 8

WORLD = synth.WORLD
# the polygon layer the generator snaps its edge points to (datagen.doc_points)
PARTS = synth.polygons_as_parts(synth.make_polygons(seed=7))
JOIN_INDEX = CellIndex(0.0, 0.0, WORLD, 5)
TILE = dict(width=125.0, height=125.0, origin_x=0.0, origin_y=0.0,
            min_x=0.0, min_y=0.0, max_x=WORLD, max_y=WORLD)


def doc_window_start(seed: int) -> int:
    """First document index for a seed. Windows are 1M documents apart, and
    every index stays below 2^31 so the generator's int64 hashes cannot wrap."""
    return (seed % 2000) * 1_000_000


def generator_seed(seed: int) -> int:
    return seed % (2**31)


def _write_parts(jobs: list) -> None:
    import pyarrow.parquet as pq

    for path, start, count, seed in jobs:
        pq.write_table(generate_chunk(start, count, seed), path)


# a generator worker: `python3 -c WORKER '<json list of jobs>'`, run from the
# checkout root so `perfbench` and the engine import. Not a multiprocessing
# pool: its spawn context starts a resource-tracker process that outlives
# the run.
WORKER = "import json, sys; from perfbench.data import _write_parts; _write_parts(json.loads(sys.argv[1]))"


def geodocs(seed: int, n_docs: int, n_files: int) -> str:
    """Parquet directory of `n_docs` geodocs for `seed`, written once as
    `n_files` files by up to one worker process per CPU, and cached
    afterwards. The workers are plain child processes, each waited for."""
    path = os.path.join(DATA_DIR, f"geodocs-{FORMAT_VERSION}-s{seed}-n{n_docs}-f{n_files}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    start = doc_window_start(seed)
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    jobs = [
        (os.path.join(path, f"part-{i:03d}.parquet"), start + int(lo), int(hi - lo), generator_seed(seed))
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
    ]
    n_workers = min(n_files, len(os.sched_getaffinity(0)))
    procs = [subprocess.Popen([sys.executable, "-c", WORKER, json.dumps(jobs[i::n_workers])],
                              cwd=os.path.dirname(HERE))
             for i in range(n_workers)]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"geodocs generator workers exited with {codes}")
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write(f"{seed} {n_docs}\n")
    _evict(keep=CACHE_ENTRIES)
    return path


def _evict(keep: int) -> None:
    """Remove all but the `keep` most recently written input sets."""
    entries = sorted((os.path.join(DATA_DIR, d) for d in os.listdir(DATA_DIR)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# decoded points, rebuilt without Spark
# ---------------------------------------------------------------------------
def points(seed: int, n_docs: int) -> dict[str, np.ndarray]:
    """The points `ingest.decode_points` yields for the window: point_id, x,
    y, and z (NaN where the span is a plain point). Every 1000th document
    carries a polygon instead of a point (datagen.generate_chunk)."""
    idx = np.arange(doc_window_start(seed), doc_window_start(seed) + n_docs, dtype=np.int64)
    x, y, z = doc_points(idx, generator_seed(seed))
    h = (idx * 1103515245 + 12345) % (2**31)
    keep = idx % 1000 != 999
    # the span text carries 9 decimals; decode parses that text back
    as_text = lambda a: np.char.mod("%.9f", a).astype(np.float64)  # noqa: E731
    return {
        "point_id": idx[keep],
        "x": as_text(x[keep]),
        "y": as_text(y[keep]),
        "z": np.where(h[keep] % 10 == 3, as_text(z[keep]), np.nan),
    }


def tile_of(x: np.ndarray, y: np.ndarray, *, width, height, origin_x, origin_y,
            min_x, min_y, max_x, max_y) -> np.ndarray:
    """LidarTile tile id: row * cols + col with floor-anchored grid origin."""
    sx = math.floor((min_x - origin_x) / width)
    sy = math.floor((min_y - origin_y) / height)
    cols = abs(math.ceil((max_x - origin_x) / width) - sx)
    tcol = np.floor((x - origin_x) / width - sx).astype(np.int64)
    trow = np.floor((y - origin_y) / height - sy).astype(np.int64)
    return trow * cols + tcol


def _bbox(parts) -> tuple[float, float, float, float]:
    xs = np.concatenate([p[0] for p in parts])
    ys = np.concatenate([p[1] for p in parts])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def containment(x: np.ndarray, y: np.ndarray, parts_list=PARTS) -> list[tuple[int, np.ndarray]]:
    """[(poly_id, indices of the points inside it)] by the even-odd winding
    rule with later parts winning (geometry.point_in_parts)."""
    out = []
    for pid, parts in parts_list:
        x0, y0, x1, y1 = _bbox(parts)
        cand = np.nonzero((x >= x0) & (x <= x1) & (y >= y0) & (y <= y1))[0]
        inside = G.point_in_parts(x[cand], y[cand], parts)
        out.append((pid, cand[inside]))
    return out


def join_reference(pts: dict[str, np.ndarray]) -> Counter:
    """(tile, poly_id) -> number of points: the join_tile pass result."""
    tiles = tile_of(pts["x"], pts["y"], **TILE)
    counts: Counter = Counter()
    for pid, hit in containment(pts["x"], pts["y"]):
        for t, n in zip(*np.unique(tiles[hit], return_counts=True)):
            counts[(int(t), int(pid))] += int(n)
    return counts


def cover_rows(index: CellIndex, parts_list=PARTS) -> int:
    """Rows of the broadcast cell-cover table: one per (poly, bbox cell)."""
    return sum(len(index.cover_bbox(*_bbox(parts))) for _, parts in parts_list)


def candidate_pairs(x: np.ndarray, y: np.ndarray, index: CellIndex, parts_list=PARTS) -> int:
    """(point, poly) pairs that survive the cell-cover join and the bbox
    filter, i.e. the pairs the exact winding refine has to test."""
    cells = index.cell_id_of(index.ix_of(x), index.iy_of(y))
    total = 0
    for _, parts in parts_list:
        x0, y0, x1, y1 = _bbox(parts)
        cover = np.asarray(index.cover_bbox(x0, y0, x1, y1), dtype=np.int64)
        total += int(np.count_nonzero(
            np.isin(cells, cover) & (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
        ))
    return total


# ---------------------------------------------------------------------------
# kNN references
# ---------------------------------------------------------------------------
def knn_value(pts: dict[str, np.ndarray]) -> np.ndarray:
    """The value gridded by knn_grid: z where the span has one, else y."""
    return np.where(np.isnan(pts["z"]), pts["y"], pts["z"])


def index_zoom_for(n_points: int, points_per_cell: float) -> int:
    """Smallest zoom whose mean occupancy is at most `points_per_cell`."""
    return max(0, min(26, math.ceil(math.log(max(n_points / points_per_cell, 1.0), 4))))


def max_points_per_cell(x: np.ndarray, y: np.ndarray, index: CellIndex) -> int:
    cells = index.cell_id_of(index.ix_of(x), index.iy_of(y))
    return int(np.unique(cells, return_counts=True)[1].max())


def sample_targets(grid: GridSpec, n: int) -> np.ndarray:
    """A fixed, evenly strided sample of target ids (row * cols + col)."""
    total = grid.rows * grid.cols
    return np.unique(np.linspace(0, total - 1, min(n, total)).astype(np.int64))


def knn_reference(pts: dict[str, np.ndarray], grid: GridSpec, targets: np.ndarray,
                  k: int, weight: float = 2.0) -> dict[int, tuple[float, float]]:
    """target id -> (nearest-neighbour value, IDW value over the k nearest),
    by brute force with ties broken by (dist^2, point_id)."""
    v = knn_value(pts)
    pid = pts["point_id"]
    out = {}
    for t in targets:
        row, col = divmod(int(t), grid.cols)
        tx = grid.west + (col + 0.5) * grid.res_x
        ty = grid.north - (row + 0.5) * grid.res_y
        d2 = (pts["x"] - tx) * (pts["x"] - tx) + (pts["y"] - ty) * (pts["y"] - ty)
        part = np.argpartition(d2, k)[: k + 1] if len(d2) > k + 1 else np.arange(len(d2))
        # widen the partition to every point tied with the kth distance
        kth = np.sort(d2[part])[min(k, len(part)) - 1]
        near = np.nonzero(d2 <= kth)[0]
        near = near[np.lexsort((pid[near], d2[near]))][:k]
        nd2, nv = d2[near], v[near]
        zero = nd2 == 0.0
        if zero.any():
            idw = float(nv[zero].min())
        else:
            w = 1.0 / np.power(np.sqrt(nd2), weight)
            idw = float((nv * w).sum() / w.sum())
        out[int(t)] = (float(nv[0]), idw)
    return out


# ---------------------------------------------------------------------------
# raster references
# ---------------------------------------------------------------------------
DEM_A, DEM_B, DEM_M = 7919, 104729, 10007


def dem_values(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Generated DEM: ((row*7919 + col*104729) mod 10007) / 10, exact in
    double arithmetic on both engines."""
    return ((rows * DEM_A + cols * DEM_B) % DEM_M).astype(np.float64) / 10.0


def zones_reference(grid: GridSpec, parts_list=PARTS) -> np.ndarray:
    """(rows, cols) zone raster: FID (poly_id + 1) of the last polygon whose
    interior holds the cell centre, 0 where none does."""
    rows, cols = np.divmod(np.arange(grid.rows * grid.cols, dtype=np.int64), grid.cols)
    cx = grid.x_center(cols)
    cy = grid.y_center(rows)
    zone = np.zeros(len(rows), dtype=np.int64)
    for pid, hit in containment(cx, cy, parts_list):
        zone[hit] = np.maximum(zone[hit], pid + 1)
    return zone.reshape(grid.rows, grid.cols)


def zonal_reference(zone: np.ndarray) -> dict[int, dict[str, float]]:
    """zone -> n, total, mean, min, max, range, sample sd (0 for n=1) and the
    interpolated median of the DEM cells inside it."""
    rows, cols = np.indices(zone.shape)
    dem = dem_values(rows.ravel(), cols.ravel())
    z = zone.ravel()
    out = {}
    for zid in np.unique(z[z > 0]):
        v = dem[z == zid]
        out[int(zid)] = {
            "n": len(v), "total": float(v.sum()), "mean_v": float(v.mean()),
            "min_v": float(v.min()), "max_v": float(v.max()),
            "range_v": float(v.max() - v.min()),
            "sd": float(v.std(ddof=1)) if len(v) > 1 else 0.0,
            "median": float(np.median(v)),
        }
    return out


def extract_reference(pts: dict[str, np.ndarray], grid: GridSpec) -> tuple[int, float]:
    """(points on a DEM cell, sum of the DEM values they read)."""
    col = grid.col_of(pts["x"])
    row = grid.row_of(pts["y"])
    inside = (row >= 0) & (row < grid.rows) & (col >= 0) & (col < grid.cols)
    return int(inside.sum()), float(dem_values(row[inside], col[inside]).sum())
