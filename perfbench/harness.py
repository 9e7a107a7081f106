"""Shared plumbing for the perfbench workloads: the Spark session, the
per-run work directory, latency statistics, host probes, spans, and the
Spark event-log reader that turns a traced run into per-layer numbers.

Everything here is benchmark-side. Nothing patches the engine unless a
workload asks for spans (traced runs only), and then only by wrapping
public functions from the outside.
"""

from __future__ import annotations

import bisect
import gc
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: executor metrics read from the event log, per completed stage
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.memoryBytesSpilled": "spill_mem_b",
    "internal.metrics.diskBytesSpilled": "spill_disk_b",
    "internal.metrics.jvmGCTime": "gc_ms",
}


def cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


class WorkDir:
    """A fresh directory under ``.bench_work/`` in the checkout for one
    run: Spark local dirs, temp files, generated inputs, stores and the
    event log all live here and are removed when the run ends."""

    def __init__(self, name: str) -> None:
        root = os.path.join(REPO, ".bench_work")
        os.makedirs(root, exist_ok=True)
        self.path = os.path.join(root, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir, app: str, event_log: bool):
    """The engine's own session factory on ``local[$SPARK_GRAFT_CPUS]``,
    with every scratch path inside the work dir. The event log is on
    only for traced runs, uncompressed and unrolled so the standard
    library can read it."""
    tmp = work.sub("tmp")
    # both inherited by the JVM; SPARK_LOCAL_DIRS overrides spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work.sub("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from tantalus_spark import get_spark

    return get_spark(app, extra_conf=conf)


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.update(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _descendants(pid: int) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        for c in _children(todo.pop()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark=None, timeout: float = 60.0) -> None:
    """Stop the session (if any) and the JVM this process launched, and
    wait until the JVM and every process it started (Python workers)
    have ended. ``spark.stop()`` alone leaves the JVM running until this
    process exits, and it then outlives it while its shutdown hooks
    run."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            kids = _descendants(proc.pid)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            # the JVM's gateway server exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            _wait_gone(kids, timeout)


def _wait_gone(pids: set[int], timeout: float) -> None:
    """Wait for processes that are not our children to end; kill what is
    left after ``timeout`` and wait for that too."""
    for last in (False, True):
        deadline = time.monotonic() + timeout
        while pids and time.monotonic() < deadline:
            pids = {p for p in pids if _alive(p)}
            if pids:
                time.sleep(0.05)
        if not pids or last:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# host probes
# --------------------------------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python driver plus its JVM child."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def heap_live_mb(spark) -> float:
    """The JVM's used heap after full collections: what the engine keeps
    live (cached frames, checkpoint blocks, plans). Python collects
    first so py4j releases the JVM objects it no longer holds; the JVM
    then collects until the reading settles, since its cleaners free
    some objects only after an earlier collection found them."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(10):
        bean.gc()
        used = bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)
        if last - used < 0.5:
            return min(used, last)
        last = used
        time.sleep(0.5)
    return last


def calibrate_ms(spark, reps: int = 3) -> float:
    """A fixed JVM workload (codegen'd 30M-row aggregate); its median wall
    tracks how fast the box runs Spark right now, independent of the
    engine under test. Untimed calls first let the JIT compile it."""
    for _ in range(3):
        spark.range(30_000_000).selectExpr("sum(id * 2 + 1)").collect()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(30_000_000).selectExpr("sum(id * 2 + 1)").collect()
        walls.append((time.perf_counter() - t0) * 1000.0)
    return median(walls)


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans: (name, op index, start, end) in epoch seconds.
    Disabled tracers record nothing; workloads only install wrappers
    when tracing is on, so an untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, int, float, float]] = []
        self.counts: dict[str, list[float]] = {}
        self.op = -1

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append((name, self.op, t0, time.time()))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def per_op(self, name: str) -> dict[int, float]:
        """Seconds covered by spans ``name`` per op index; nested or
        overlapping spans of one op count once."""
        by_op: dict[int, list[tuple[float, float]]] = {}
        for n, op, t0, t1 in self.spans:
            if n == name:
                by_op.setdefault(op, []).append((t0, t1))
        out = {}
        for op, spans in by_op.items():
            total, end = 0.0, float("-inf")
            for t0, t1 in sorted(spans):
                total += max(0.0, t1 - max(t0, end))
                end = max(end, t1)
            out[op] = total
        return out


def wrap(owner, attr: str, tracer: Tracer, name: str, after=None):
    """Replace ``owner.attr`` with a spanned call-through. ``after``
    (optional) sees the result, e.g. to record a count."""
    real = getattr(owner, attr)

    def spanned(*args, **kwargs):
        with tracer.span(name):
            out = real(*args, **kwargs)
        if after is not None and tracer.enabled:
            after(out)
        return out

    setattr(owner, attr, spanned)


def overhead_pct(traced: list[dict], *untraced: list[dict]) -> float:
    """Traced phase time against the mean of untraced phases of the same
    operations."""
    def busy(records):
        return sum(r["lat"] for r in records)

    ref = sum(busy(u) for u in untraced) / len(untraced)
    return 100.0 * (busy(traced) / ref - 1.0)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the single uncompressed event-log file: jobs
    as {t}, completed stages as {t, tasks, <metrics>}, with ``t`` the
    submission time in epoch seconds."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    jobs, stages = [], []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"t": ev["Submission Time"] / 1000.0})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue
                st = {"t": info["Submission Time"] / 1000.0,
                      "tasks": info.get("Number of Tasks", 0)}
                for v in _STAGE_METRICS.values():
                    st[v] = 0
                for acc in info.get("Accumulables", []):
                    key = _STAGE_METRICS.get(acc.get("Name"))
                    if key is not None:
                        st[key] += int(acc.get("Value", 0))
                stages.append(st)
    return jobs, stages


def attribute(events: list[dict], windows: list[tuple[int, float, float]]
              ) -> dict[int, list[dict]]:
    """Assign each event to the op window [t0, t1] holding its
    submission time. The benchmark client is one closed loop, so op
    windows never overlap and every job an op causes starts inside it."""
    out: dict[int, list[dict]] = {op: [] for op, _, _ in windows}
    ws = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in ws]
    for ev in events:
        i = bisect.bisect_right(starts, ev["t"]) - 1
        if i >= 0 and ev["t"] <= ws[i][2]:
            out[ws[i][0]].append(ev)
    return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    tot = {"stages": float(len(stages)),
           "tasks": float(sum(s["tasks"] for s in stages))}
    for v in _STAGE_METRICS.values():
        tot[v] = float(sum(s[v] for s in stages))
    return tot


def executor_metrics(stages_by_op: dict[int, list[dict]]) -> dict[str, float]:
    """Executor time, shuffle, spill and GC summed over a phase's ops."""
    tot = stage_totals([s for ss in stages_by_op.values() for s in ss])
    mb = 1.0 / (1024 * 1024)
    return {
        "spark.executor_run_s": tot["run_ms"] / 1000.0,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] * mb,
        "spark.spill_mb": (tot["spill_mem_b"] + tot["spill_disk_b"]) * mb,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
    }


def plan_depth(df) -> int:
    """Depth of the DataFrame's analyzed logical plan tree."""
    text = df._jdf.queryExecution().analyzed().treeString()
    depth = 0
    for line in text.splitlines():
        m = re.match(r"^[ :|]*[+:]- ", line)
        if m:
            depth = max(depth, len(m.group(0)) // 3)
    return depth + 1


def join_count(df) -> int:
    """Join operators in the DataFrame's analyzed logical plan."""
    text = df._jdf.queryExecution().analyzed().treeString()
    return sum(1 for line in text.splitlines()
               if re.match(r"^[ :|+\-]*Join ", line))


# --------------------------------------------------------------------------
# result
# --------------------------------------------------------------------------

def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: the last line of stdout, one JSON object."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
