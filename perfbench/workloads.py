"""The workloads: inputs, one pass, its correctness check, its trace.

Each workload calls the engine's public layer functions directly:
`ingest`, `operators.tiling`, `operators.pip`, `operators.knn`, `lineage`,
`operators.raster_vector`, `operators.zonal` and `operators.extract`.
A pass returns a plain dict; `check` compares it with a reference computed
once per seed in numpy (perfbench/data.py) and returns the list of problems
(empty when the pass is correct).
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import data as D
from perfbench.harness import WORK_DIR, rows_of
from whitebox_tools_spark import lineage
from whitebox_tools_spark.grid import CellIndex, GridSpec
from whitebox_tools_spark.ingest import decode_points
from whitebox_tools_spark.operators.extract import extract_raster_values_at_points
from whitebox_tools_spark.operators.knn import idw_gridding, nearest_neighbour_gridding
from whitebox_tools_spark.operators.pip import points_in_polygons
from whitebox_tools_spark.operators.raster_vector import polygons_to_raster
from whitebox_tools_spark.operators.tiling import assign_tiles
from whitebox_tools_spark.operators.zonal import zonal_statistics

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def _prefix_times(tr, plans: dict, reps: int = 3) -> dict:
    """Best of `reps` runs of each plan prefix, forced with the `noop` write
    sink, each in a span `prefix.<step>`. The rounds go through every step in
    turn, so JIT warm-up during the probes favours no step."""
    best = {step: float("inf") for step in plans}
    for _ in range(reps):
        for step, plan in plans.items():
            with tr.span(f"prefix.{step}") as sp:
                plan().write.format("noop").mode("overwrite").save()
            best[step] = min(best[step], sp["seconds"])
    return best


class Workload:
    """One closed-loop, single-client batch workload."""

    name = ""
    n_docs = 0
    # untimed passes between the warm-up pass and the timed ones
    settle_passes = 0
    # timed passes a run makes however short --seconds is
    min_passes = 1
    # whether the traced run measures spark.scaling_eff (local[nproc/4])
    scaling = False

    def __init__(self, seed: int, nproc: int):
        self.seed, self.nproc = seed, nproc
        self.spark = None

    # set-up outside the timed region: inputs and references
    def inputs(self) -> None:
        self.docs_path = D.geodocs(self.seed, self.n_docs, n_files=2 * self.nproc)
        self.pts = D.points(self.seed, self.n_docs)

    # per-session set-up (part of setup_s): caches the pass relies on
    def prepare(self, spark) -> None:
        self.spark = spark

    def release(self) -> None:
        """Drop what `prepare` cached before the session stops."""

    def run(self) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def trace(self, tracer) -> tuple[dict, list[str]]:
        """One pass with a span around every layer call, plus any self-time
        probes; returns this workload's per-layer metrics and the traced
        pass's problems (as `check`)."""
        raise NotImplementedError

    def docs(self):
        return self.spark.read.parquet(self.docs_path)


# ---------------------------------------------------------------------------
class JoinTile(Workload):
    """geodoc parquet -> decode_points -> assign_tiles -> points_in_polygons
    (tile carried) -> (tile, poly_id) counts."""

    name = "join_tile"
    n_docs = 400_000
    settle_passes = 3
    min_passes = 4
    scaling = True

    def inputs(self) -> None:
        super().inputs()
        self.expected = D.join_reference(self.pts)

    def run(self) -> dict:
        return {"counts": self._counts(self._plan())}

    def _plan(self, upto: str = "agg"):
        stages = {}
        stages["scan"] = docs = self.docs()
        stages["decode"] = pts = decode_points(docs).drop("z")
        stages["tile"] = tiled = assign_tiles(pts, **D.TILE)
        stages["pip"] = hits = points_in_polygons(tiled, D.PARTS, D.JOIN_INDEX, carry_cols=["tile"])
        stages["agg"] = hits.groupBy("tile", "poly_id").agg(F.count(F.lit(1)).alias("n"))
        return stages[upto]

    @staticmethod
    def _counts(df) -> dict:
        return {(r["tile"], r["poly_id"]): r["n"] for r in df.collect()}

    def check(self, result: dict) -> list[str]:
        got = result["counts"]
        if got == self.expected:
            return []
        diff = {k for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k)}
        return [f"join_tile: {len(diff)} (tile, poly) counts differ, e.g. {sorted(diff)[:3]}"]

    def trace(self, tr) -> tuple[dict, list[str]]:
        with tr.span("join_tile.pass"):
            with tr.span("pip+tiling.collect"):
                counts = self._counts(self._plan())
        problems = self.check({"counts": counts})
        # cumulative prefixes, each forced with the noop sink; a layer's self
        # time is its prefix minus the previous one (approximate: the stages
        # fuse into one whole-stage-codegen pipeline)
        # the scan prefix reads the spans column without re-materialising it
        plans = {"scan": lambda: self.docs().select(F.size("spans"))}
        plans.update({s: (lambda s=s: self._plan(s)) for s in ("decode", "tile", "pip", "agg")})
        prefix = _prefix_times(tr, plans)
        pipc = tr.find("prefix.pip")["counters"]
        decc = tr.find("prefix.decode")["counters"]
        cand = D.candidate_pairs(self.pts["x"], self.pts["y"], D.JOIN_INDEX)
        hits = rows_of(pipc, "BroadcastHashJoin")
        return {
            "ingest.scan_s": prefix["scan"],
            "ingest.decode_s": prefix["decode"] - prefix["scan"],
            "ingest.spans_exploded": rows_of(decc, "Generate"),
            "ingest.points_decoded": rows_of(decc, "Filter", "kind"),
            "tiling.assign_s": prefix["tile"] - prefix["decode"],
            "pip.refine_s": prefix["pip"] - prefix["tile"],
            "tiling.agg_s": prefix["agg"] - prefix["pip"],
            "tiling.tiles_out": len(counts),
            "pip.cover_rows": D.cover_rows(D.JOIN_INDEX),
            "pip.candidate_pairs": cand,
            "pip.hits": hits,
            "pip.hits_per_candidate": hits / cand if cand else 0.0,
        }, problems


# ---------------------------------------------------------------------------
class RasterKnnResume(Workload):
    """The layers join_tile leaves idle, one step after the other:
    polygons_to_raster on a dense grid -> zonal_statistics of a generated
    DEM per zone -> extract_raster_values_at_points for the decoded points
    -> nearest_neighbour_gridding + idw_gridding(min_points=8) of the points
    (decoded and cached at set-up) -> lineage.run_stage of the submit_job
    bucket plan written fresh, then half the manifests removed and the
    stage resumed."""

    name = "raster_knn_resume"
    n_docs = 50_000
    # a pass takes ~10 s; two fit the run budget
    min_passes = 2
    # cell sizes that are not exact in binary, as real rasters have
    raster = GridSpec(west=0.0, north=D.WORLD, res_x=D.WORLD / 384, res_y=D.WORLD / 384,
                      rows=384, cols=384)
    knn_grid = GridSpec(west=0.0, north=D.WORLD, res_x=D.WORLD / 24, res_y=D.WORLD / 24,
                        rows=24, cols=24)
    k = 8
    points_per_cell = 4.0
    n_sample = 192
    n_buckets = 2

    def inputs(self) -> None:
        super().inputs()
        self.expected_zonal = D.zonal_reference(D.zones_reference(self.raster))
        self.expected_extract = D.extract_reference(self.pts, self.raster)
        n = len(self.pts["point_id"])
        self.index = CellIndex(0.0, 0.0, D.WORLD, D.index_zoom_for(n, self.points_per_cell))
        self.targets = D.sample_targets(self.knn_grid, self.n_sample)
        self.expected_knn = D.knn_reference(self.pts, self.knn_grid, self.targets, self.k)
        self.expected_rows = sum(D.join_reference(self.pts).values())
        self.passes = 0

    def prepare(self, spark) -> None:
        super().prepare(spark)
        pts = decode_points(self.docs())
        self.points = pts.select(
            "point_id", "x", "y", F.coalesce(F.col("z"), F.col("y")).alias("v")
        ).cache()
        self.points.count()
        plain = pts.drop("z")
        nb = self.n_buckets

        def df_for_bucket(b: int):
            bucket_pts = plain.filter(F.pmod(F.xxhash64("doc_id"), F.lit(nb)) == b)
            hits = points_in_polygons(bucket_pts, D.PARTS, D.JOIN_INDEX)
            tiled = assign_tiles(bucket_pts, **D.TILE).select(
                "point_id", "tile",
                D.JOIN_INDEX.cell_of_xy_expr(F.col("x"), F.col("y")).alias("cell_id"),
            )
            return hits.join(tiled, "point_id")

        self.df_for_bucket = df_for_bucket

    def release(self) -> None:
        self.points.unpersist()

    # raster: p2r -> zonal, and extract ---------------------------------------
    def _dem(self):
        g = self.raster
        return self.spark.range(g.rows * g.cols, numPartitions=self.nproc).select(
            (F.col("id") / g.cols).cast("long").alias("row"),
            (F.col("id") % g.cols).alias("col"),
        ).withColumn(
            "value",
            ((F.col("row") * D.DEM_A + F.col("col") * D.DEM_B) % D.DEM_M).cast("double") / 10.0,
        )

    def _p2r_zonal(self) -> dict:
        zones = polygons_to_raster(self.spark, D.PARTS, self.raster, D.JOIN_INDEX)
        cells = self._dem().join(zones.select("row", "col", F.col("value").alias("zone_id")), ["row", "col"])
        return {int(r["zone_id"]): r.asDict() for r in zonal_statistics(cells).collect()}

    def _p2r_only(self) -> int:
        return polygons_to_raster(self.spark, D.PARTS, self.raster, D.JOIN_INDEX).count()

    def _extract(self) -> tuple[int, float]:
        pts = decode_points(self.docs()).drop("z")
        out = extract_raster_values_at_points(pts, self._dem(), self.raster)
        row = out.agg(
            F.count(F.when(F.col("value1") != F.lit(self.raster.nodata), 1)).alias("n"),
            F.sum(F.when(F.col("value1") != F.lit(self.raster.nodata), F.col("value1"))).alias("s"),
        ).collect()[0]
        return int(row["n"]), float(row["s"] or 0.0)

    # knn: NN and IDW gridding --------------------------------------------------
    def _gridded(self, df) -> dict:
        return {r["row"] * self.knn_grid.cols + r["col"]: r["value"] for r in df.collect()}

    def _nn(self) -> dict:
        return self._gridded(nearest_neighbour_gridding(self.points, self.knn_grid, self.index, z="v"))

    def _idw(self) -> dict:
        return self._gridded(idw_gridding(self.points, self.knn_grid, self.index, z="v", min_points=self.k))

    # lineage: fresh bucketed write, then resume ---------------------------------
    def _root(self) -> str:
        self.passes += 1
        return os.path.join(WORK_DIR, "lineage", f"pass-{self.passes}")

    def _stage(self, root: str) -> tuple[list[int], dict]:
        # run_stage skips every bucket whose manifest exists
        ran = lineage.run_stage(self.df_for_bucket, list(range(self.n_buckets)), root)
        return ran, {m["bucket"]: m for m in lineage.stage_metrics(root)}

    def _drop_half(self, root: str) -> list[int]:
        lost = [b for b in range(self.n_buckets) if b % 2 == 1]
        for b in lost:
            os.remove(os.path.join(root, "_manifest", f"{b}.json"))
        return lost

    def run(self) -> dict:
        out = {"zonal": self._p2r_zonal(), "extract": self._extract(),
               "nn": self._nn(), "idw": self._idw()}
        root = out["root"] = self._root()
        out["ran"], out["fresh"] = self._stage(root)
        out["lost"] = self._drop_half(root)
        t0 = time.perf_counter()
        out["resumed_ran"], out["resumed"] = self._stage(root)
        out["detail"] = {"resume_s": time.perf_counter() - t0}
        return out

    # checks -----------------------------------------------------------------------
    def check(self, result: dict) -> list[str]:
        # the pass's output is not needed once its manifests are compared
        shutil.rmtree(result.get("root", ""), ignore_errors=True)
        return [*self._check_raster(result), *self._check_knn(result), *self._check_lineage(result)]

    def _check_raster(self, result: dict) -> list[str]:
        problems = []
        got, exp = result["zonal"], self.expected_zonal
        if set(got) != set(exp):
            problems.append(f"zonal: zones {sorted(got)} != {sorted(exp)}")
        for z in set(got) & set(exp):
            bad = [k for k, v in exp[z].items() if not _close(float(got[z][k]), v)]
            if bad:
                problems.append(f"zonal: zone {z} stats {bad} differ")
        n, s = result["extract"]
        en, es = self.expected_extract
        if n != en or not _close(s, es):
            problems.append(f"extract: matched {n} (sum {s}), expected {en} (sum {es})")
        return problems

    def _check_knn(self, result: dict) -> list[str]:
        problems = []
        cells = self.knn_grid.rows * self.knn_grid.cols
        for key in ("nn", "idw"):
            if len(result[key]) != cells:
                problems.append(f"knn {key}: {len(result[key])} cells, expected {cells}")
        bad_nn = [t for t, (nn, _) in self.expected_knn.items() if result["nn"].get(t) != nn]
        bad_idw = [t for t, (_, idw) in self.expected_knn.items()
                   if t not in result["idw"] or not _close(result["idw"][t], idw)]
        if bad_nn:
            problems.append(f"knn nn: {len(bad_nn)} sampled targets differ, e.g. {bad_nn[:3]}")
        if bad_idw:
            problems.append(f"knn idw: {len(bad_idw)} sampled targets differ, e.g. {bad_idw[:3]}")
        return problems

    def _check_lineage(self, result: dict) -> list[str]:
        problems = []
        if sorted(result["ran"]) != list(range(self.n_buckets)):
            problems.append(f"lineage: fresh run ran buckets {result['ran']}")
        if sorted(result["resumed_ran"]) != result["lost"]:
            problems.append(f"lineage: resume ran {result['resumed_ran']}, lost {result['lost']}")
        rows = sum(m["row_count"] for m in result["fresh"].values())
        if rows != self.expected_rows:
            problems.append(f"lineage: {rows} rows written, reference has {self.expected_rows}")
        for b, m in result["fresh"].items():
            r = result["resumed"].get(b, {})
            if (r.get("row_count"), r.get("content_hash")) != (m["row_count"], m["content_hash"]):
                problems.append(f"lineage: bucket {b} manifest changed on resume")
        return problems

    # trace --------------------------------------------------------------------------
    def trace(self, tr) -> tuple[dict, list[str]]:
        root = self._root()
        out = {"root": root}
        with tr.span(f"{self.name}.pass"):
            with tr.span("p2r+zonal"):
                out["zonal"] = self._p2r_zonal()
            with tr.span("extract"):
                out["extract"] = self._extract()
            with tr.span("knn.nn"):
                out["nn"] = self._nn()
            with tr.span("knn.idw"):
                out["idw"] = self._idw()
            with tr.span("lineage.fresh"):
                out["ran"], out["fresh"] = self._stage(root)
            out["lost"] = self._drop_half(root)
            with tr.span("lineage.resume"):
                out["resumed_ran"], out["resumed"] = self._stage(root)
        bytes_written = sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))
        problems = self.check(out)
        # p2r alone, to split the p2r+zonal span into its two layers
        with tr.span("p2r"):
            covered = self._p2r_only()
        knn = [tr.find("knn.nn")["counters"], tr.find("knn.idw")["counters"]]
        execs = tr.find("lineage.fresh")["counters"]["executions"] + \
            tr.find("lineage.resume")["counters"]["executions"]
        writes = [e for e in execs if "InsertIntoHadoopFsRelationCommand" in e["plan"]]
        verifies = [e for e in execs if e not in writes]
        decc = tr.find("extract")["counters"]
        g = self.raster
        cx = g.x_center(np.arange(g.rows * g.cols) % g.cols)
        cy = g.y_center(np.arange(g.rows * g.cols) // g.cols)
        cand = D.candidate_pairs(cx, cy, D.JOIN_INDEX)
        hits = rows_of(tr.find("p2r")["counters"], "BroadcastHashJoin")
        return {
            "raster_vector.p2r_s": tr.total("p2r"),
            "zonal.stats_s": tr.total("p2r+zonal") - tr.total("p2r"),
            "raster_vector.cells_covered": covered,
            "extract.lookup_s": tr.total("extract"),
            "extract.points_matched": out["extract"][0],
            "ingest.spans_exploded": rows_of(decc, "Generate"),
            "ingest.points_decoded": rows_of(decc, "Filter", "kind"),
            "pip.cover_rows": D.cover_rows(D.JOIN_INDEX),
            "pip.candidate_pairs": cand,
            "pip.hits": hits,
            "pip.hits_per_candidate": hits / cand if cand else 0.0,
            "knn.nn_s": tr.total("knn.nn"),
            "knn.idw_s": tr.total("knn.idw"),
            "knn.spark_jobs": sum(c["jobs"] for c in knn),
            "knn.shuffle_records_per_target":
                sum(c["shuffle_write_records"] for c in knn) / (self.knn_grid.rows * self.knn_grid.cols),
            "knn.max_points_per_cell": D.max_points_per_cell(self.pts["x"], self.pts["y"], self.index),
            "lineage.buckets_run": len(out["ran"]) + len(out["resumed_ran"]),
            "lineage.buckets_skipped": self.n_buckets - len(out["resumed_ran"]),
            "lineage.scan_rows_per_doc": rows_of({"executions": execs}, "Scan parquet") / self.n_docs,
            "lineage.write_exec_s": sum(e["seconds"] for e in writes),
            "lineage.verify_exec_s": sum(e["seconds"] for e in verifies),
            "lineage.bytes_written": bytes_written,
            "lineage.resume_s": tr.total("lineage.resume"),
        }, problems


WORKLOADS = {w.name: w for w in (JoinTile, RasterKnnResume)}
