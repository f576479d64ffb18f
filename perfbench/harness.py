"""Session lifecycle, pass timing, Spark status-store counters and spans.

Everything the benchmark writes (Spark local dirs, JVM and Python temp
files, lineage output, traces) goes under `perfbench/.work/`, and the JVM
runs with `-XX:-UsePerfData` so it leaves nothing in the system temp dir.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(HERE, ".work")
# heap per JVM; session.get_spark pins and pre-touches it (default 8g)
DRIVER_MEM = "2g"
# when the run started (this module is imported first thing), and the time
# into the run after which `run_for` starts no pass that would end later
STARTED = time.perf_counter()
LAST_PASS_BY_S = 125.0


def prepare_environment() -> None:
    """Point every temp and scratch location at the work dir. Must run
    before pyspark starts its gateway (and before `tempfile` is used)."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # Python workers (pandas UDFs) import the engine from the checkout
    root = os.path.dirname(HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(cores: int):
    """A fresh session on local[cores] through the engine's factory."""
    from whitebox_tools_spark.session import get_spark

    return get_spark(
        app_name=f"perfbench-local{cores}",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# child processes: none may outlive the run
# ---------------------------------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. Spark's
    Python worker daemon is started by the JVM and outlives it for a
    moment; as our child it can be found and waited for by `end_children`."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(entry))
    return out


def end_children(grace_s: float = 5.0) -> None:
    """Wait for every child process to exit, asking each to stop (SIGTERM,
    then SIGKILL once `grace_s` has passed), and reap it."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                os.kill(pid, sig)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# host CPU accounting
# ---------------------------------------------------------------------------
def cpu_jiffies() -> tuple[int, int, int, int]:
    """(busy, kernel, steal, total) jiffies summed over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = f
    busy = user + nice + system + irq + softirq + steal
    return busy, system + irq + softirq, steal, busy + idle + iowait


def host_shares(before, after) -> tuple[float, float]:
    """(kernel share of busy CPU, hypervisor steal share of all CPU time)
    between two `cpu_jiffies` samples."""
    busy, kernel, steal, total = (a - b for a, b in zip(after, before))
    return (kernel / busy if busy > 0 else 0.0), (steal / total if total > 0 else 0.0)


# ---------------------------------------------------------------------------
# pass records
# ---------------------------------------------------------------------------
@dataclass
class Pass:
    phase: str
    seconds: float
    ok: bool
    sys_share: float
    steal_share: float
    detail: dict = field(default_factory=dict)
    error: str = ""


def timed_pass(phase: str, run, check) -> Pass:
    """Run one pass (`run()` returns its result), time it, and check it.
    An exception or a wrong result is a failed pass, not a crash."""
    c0 = cpu_jiffies()
    t0 = time.perf_counter()
    try:
        result = run()
    except Exception as exc:  # a failing operation is counted, not fatal
        return Pass(phase, time.perf_counter() - t0, False, *host_shares(c0, cpu_jiffies()),
                    error=f"{type(exc).__name__}: {exc}"[:500])
    seconds = time.perf_counter() - t0
    shares = host_shares(c0, cpu_jiffies())
    problems = check(result)
    return Pass(phase, seconds, not problems, *shares,
                detail=result.get("detail", {}) if isinstance(result, dict) else {},
                error="; ".join(problems)[:500])


def run_for(phase: str, seconds: float, min_passes: int, run, check) -> list[Pass]:
    """Closed loop, one client: the next pass starts when the previous one
    ends, until `seconds` have elapsed and at least `min_passes` ran. On a
    host so slow that the next pass would end more than `LAST_PASS_BY_S`
    into the run, no further pass starts, so the run keeps its deadline."""
    out: list[Pass] = []
    t_end = time.perf_counter() + seconds
    while True:
        now = time.perf_counter()
        if out and ((now >= t_end and len(out) >= min_passes)
                    or now + out[-1].seconds > STARTED + LAST_PASS_BY_S):
            return out
        out.append(timed_pass(phase, run, check))


# ---------------------------------------------------------------------------
# Spark status stores (read from outside the program, spark.ui.enabled=false)
# ---------------------------------------------------------------------------
def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class StatusProbe:
    """Snapshots of the core and SQL status stores; `delta()` returns the
    counters of the stages, jobs and SQL executions that started after
    `mark()`."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark.sparkContext._jvm
        self.gateway = spark.sparkContext._gateway
        self.mark()

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def _stages(self) -> list:
        no_quantiles = self.gateway.new_array(self.jvm.double, 0)
        return _seq(self.sc.statusStore().stageList(None, False, False, no_quantiles, None))

    def _jobs(self) -> list:
        return _seq(self.sc.statusStore().jobsList(None))

    def _executions(self) -> list:
        return _seq(self.spark._jsparkSession.sharedState().statusStore().executionsList())

    def mark(self) -> None:
        self._drain()
        self.stage0 = max((s.stageId() for s in self._stages()), default=-1)
        self.job0 = max((j.jobId() for j in self._jobs()), default=-1)
        self.exec0 = max((e.executionId() for e in self._executions()), default=-1)

    def delta(self) -> dict:
        self._drain()
        stages = [s for s in self._stages() if s.stageId() > self.stage0]
        jobs = [j for j in self._jobs() if j.jobId() > self.job0]
        execs = [e for e in self._executions() if e.executionId() > self.exec0]
        return {
            "busy_core_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "shuffle_write_records": sum(s.shuffleWriteRecords() for s in stages),
            "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
            "output_bytes": sum(s.outputBytes() for s in stages),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
            "jobs": len(jobs),
            "executions": [self._execution_summary(e) for e in execs],
        }

    def _execution_summary(self, e) -> dict:
        """Duration, plan text and per-operator row counts of one SQL
        execution: `rows` is [(node name, node description, rows out)]."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        values = store.executionMetrics(e.executionId())
        rows = []
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                    v = values.apply(m.accumulatorId()).replace(",", "").strip()
                    if v.isdigit():
                        rows.append((node.name(), node.desc(), int(v)))
        done = e.completionTime()
        end = done.get().getTime() if done.isDefined() else e.submissionTime()
        return {
            "id": e.executionId(),
            "seconds": (end - e.submissionTime()) / 1000.0,
            "plan": e.physicalPlanDescription(),
            "rows": rows,
        }


def rows_of(delta: dict, node: str, desc_has: str = "") -> int:
    """Summed 'number of output rows' of the plan nodes whose name starts
    with `node` and whose description contains `desc_has`."""
    return sum(n for e in delta["executions"] for name, desc, n in e["rows"]
               if name.startswith(node) and desc_has in desc)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent) around layer calls, each
    with the status-store counters of the work it covered."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str):
        return _Span(self, name)

    def total(self, name: str) -> float:
        """Summed seconds of the spans called `name`."""
        return sum(s["seconds"] for s in self.spans if s["name"] == name)

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{k: v for k, v in s.items() if k != "counters"} |
                 {"counters": {k: v for k, v in s["counters"].items() if k != "executions"}}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        self.probe = StatusProbe(tr.spark)
        self.record = {
            "id": len(tr.spans),
            "name": self.name,
            "parent": tr._stack[-1] if tr._stack else None,
            "start": time.perf_counter() - tr._t0,
        }
        tr.spans.append(self.record)
        tr._stack.append(self.record["id"])
        self.record["_t"] = time.perf_counter()
        return self.record

    def __exit__(self, *exc):
        tr = self.tracer
        end = time.perf_counter()
        self.record["end"] = end - tr._t0
        self.record["seconds"] = end - self.record.pop("_t")
        self.record["counters"] = self.probe.delta()
        tr._stack.pop()
        return False
