"""Turn passes and traces into the benchmark's metrics.

`measured` gives the end-to-end metrics (tracing off); `traced` gives the
per-layer metrics. Every workload reports every metric; a layer a workload
does not use reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import harness as H

# end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
}

# per-layer metrics: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "ingest.scan_s": "s",
    "ingest.decode_s": "s",
    "ingest.spans_exploded": "count",
    "ingest.points_decoded": "count",
    "tiling.assign_s": "s",
    "tiling.agg_s": "s",
    "tiling.tiles_out": "count",
    "pip.refine_s": "s",
    "pip.cover_rows": "count",
    "pip.candidate_pairs": "count",
    "pip.hits": "count",
    "pip.hits_per_candidate": "ratio",
    "knn.nn_s": "s",
    "knn.idw_s": "s",
    "knn.spark_jobs": "count",
    "knn.shuffle_records_per_target": "count",
    "knn.max_points_per_cell": "count",
    "lineage.buckets_run": "count",
    "lineage.buckets_skipped": "count",
    "lineage.scan_rows_per_doc": "ratio",
    "lineage.write_exec_s": "s",
    "lineage.verify_exec_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.resume_s": "s",
    "raster_vector.p2r_s": "s",
    "raster_vector.cells_covered": "count",
    "zonal.stats_s": "s",
    "extract.lookup_s": "s",
    "extract.points_matched": "count",
    "spark.busy_core_s": "s",
    "spark.idle_core_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.scaling_eff": "ratio",
    "host.sys_share": "ratio",
    "host.steal_share": "ratio",
    "trace.overhead_s": "s",
}

def small_cores(nproc: int) -> int:
    """The N of the N -> 4N scaling pair (local[nproc/4])."""
    return max(1, nproc // 4)


def set_up(w, cores: int):
    """Fresh session + the workload's per-session set-up + one warm-up pass.
    Returns (spark, session start seconds, warm-up seconds, warm-up pass)."""
    t0 = time.perf_counter()
    spark = H.start_session(cores)
    t1 = time.perf_counter()
    w.prepare(spark)
    warm = H.timed_pass("warmup", w.run, w.check)
    return spark, t1 - t0, time.perf_counter() - t1, warm


def _tear_down(w, spark) -> None:
    w.release()
    spark.stop()


def _result(passes, metrics: dict, lines: list[str]) -> dict:
    failed = sum(not p.ok for p in passes)
    for p in passes:
        if not p.ok:
            lines.append(f"FAILED {p.phase} pass: {p.error}")
    return {
        "lines": lines,
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _job_s(passes) -> float:
    ok = [p.seconds for p in passes if p.ok]
    return statistics.median(ok or [p.seconds for p in passes])


def settle(w) -> list:
    """Untimed passes after the warm-up pass: the JIT keeps compiling over
    the first few passes of a fresh JVM, and timing them would measure that."""
    return [H.timed_pass("settle", w.run, w.check) for _ in range(w.settle_passes)]


def measured(w, seconds: float) -> dict:
    """End-to-end run: set-up, settle passes, then closed-loop passes on
    local[nproc] for `seconds` (at least `w.min_passes`)."""
    spark, start_s, warm_s, warm = set_up(w, w.nproc)
    settled = settle(w)
    timed = H.run_for(f"local[{w.nproc}]", seconds, w.min_passes, w.run, w.check)
    _tear_down(w, spark)

    job_s = _job_s(timed)
    setup_s = start_s + warm_s
    values = {"setup_s": setup_s, "job_s": job_s}
    metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    passes = [warm, *settled, *timed]
    lines = [
        f"workload {w.name}  seed {w.seed}  nproc {w.nproc}  docs {w.n_docs}",
        f"setup_s {setup_s:.4f} s  (session start {start_s:.4f} s, warm-up {warm_s:.4f} s)",
    ]
    for p in passes:
        lines.append(f"  pass {p.phase:<16} {p.seconds:8.4f} s  ok={p.ok}  host.sys_share={p.sys_share:.4f}"
                     f"  host.steal_share={p.steal_share:.4f}"
                     + "".join(f"  {k}={v:.4f}" for k, v in p.detail.items()))
    for k, (v, u) in metrics.items():
        lines.append(f"{k} {v:.6g} {u}")
    lines.append(f"job_s is the median of {len(timed)} timed passes")
    if w.name == "join_tile":
        lines.append(f"docs_per_s {w.n_docs / job_s:.6g} docs/s  (n_docs / job_s)")
    resume = [p.detail["resume_s"] for p in timed if p.ok and "resume_s" in p.detail]
    if resume:
        lines.append(f"resume_s {statistics.median(resume):.6g} s  (median over timed passes)")
    failed = sum(not p.ok for p in passes)
    lines.append(f"fail_frac {failed / len(passes):.4f}  ({failed} of {len(passes)} passes)")
    return _result(passes, metrics, lines)


def traced(w, seconds: float) -> dict:
    """Per-layer run: set-up, settle passes, an untraced pass, the traced
    pass (spans + status-store counters around each layer call) with the
    workload's self-time probes, and a second untraced pass; then, for a
    workload that reports spark.scaling_eff, a second session on
    local[nproc/4] with a warm-up pass and untraced passes for half of
    `seconds`. Spans are written to perfbench/.work/."""
    spark, start_s, warm_s, warm = set_up(w, w.nproc)
    settled = settle(w)
    plain = [H.timed_pass("untraced", w.run, w.check)]
    tr = H.Tracer(spark)
    c0 = H.cpu_jiffies()
    with tr.span(f"{w.name}.traced"):
        layer, problems = w.trace(tr)
    shares = H.host_shares(c0, H.cpu_jiffies())
    plain.append(H.timed_pass("untraced", w.run, w.check))
    _tear_down(w, spark)
    small_passes, scaling_eff = [], 0.0
    if w.scaling:
        # the first pass of a new session is slower even in a warm JVM (new
        # executor, Python worker pool, broadcasts), so it is not timed
        n_small = small_cores(w.nproc)
        spark = H.start_session(n_small)
        w.prepare(spark)
        small_warm = H.timed_pass(f"local[{n_small}] warmup", w.run, w.check)
        small = H.run_for(f"local[{n_small}]", seconds / 2, 1, w.run, w.check)
        _tear_down(w, spark)
        small_passes = [small_warm, *small]
        scaling_eff = _job_s(small) / _job_s(plain) / (w.nproc / n_small)

    pass_span = tr.spans[1]
    traced_pass = H.Pass("traced", pass_span["seconds"], not problems, *shares, error="; ".join(problems))
    c = pass_span["counters"]
    metrics = {k: 0 for k in PER_LAYER}
    metrics.update(layer)
    metrics.update({
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "spark.busy_core_s": c["busy_core_s"],
        "spark.idle_core_s": w.nproc * pass_span["seconds"] - c["busy_core_s"],
        "spark.gc_s": c["gc_s"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.tasks": c["tasks"],
        "spark.failed_tasks": c["failed_tasks"],
        "spark.scaling_eff": scaling_eff,
        "host.sys_share": shares[0],
        "host.steal_share": shares[1],
        "trace.overhead_s": pass_span["seconds"] - statistics.median(p.seconds for p in plain),
    })
    tr.write(os.path.join(H.WORK_DIR, f"trace-{w.name}-seed{w.seed}.json"),
             {"workload": w.name, "seed": w.seed, "metrics": metrics})
    lines = [f"workload {w.name}  seed {w.seed}  nproc {w.nproc}  (traced)",
             "self times from noop-forced prefixes are approximate: "
             "whole-stage codegen fuses the layers they subtract"]
    lines += [f"{k} {metrics[k]:.6g} {u}" for k, u in PER_LAYER.items()]
    return _result([warm, *settled, *plain, traced_pass, *small_passes],
                   {k: (metrics[k], u) for k, u in PER_LAYER.items()}, lines)
