"""Measurement plumbing shared by the workloads: pinned session
environment, spans, RSS sampling, event-log parsing and the summary
statistics the benchmark reports."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Driver heap for the single local-mode JVM: far below the RAM of a
# 15 GiB box whose /dev/shm also lives in RAM, and ample for the input
# sizes in gen.py. The initial heap is pinned to the same size and its
# pages are touched at start, so the run-to-run RSS and GC timing do not
# depend on when G1 grows the heap or first writes a region.
DRIVER_MEM = "2g"


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


# ----------------------------------------------------------- statistics
def tail_percentile(samples: list[float], n_min: int | None = None,
                    cap: float = 0.9) -> tuple[float, float]:
    """The highest percentile (at most ``cap``) that has at least ten
    samples beyond it, as ``(fraction, value)``, nearest-rank on the
    sorted samples.

    The fraction is chosen from ``n_min`` (default: the sample count),
    the fewest samples a run can have, so that every run of a workload
    reports the same percentile however many passes fit in its time.
    Below twenty samples no percentile above the median has ten beyond
    it; the sample does not support the rule and the ``cap`` percentile
    itself is returned (the maximum when fewer than ten samples)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    n0 = min(n_min or n, n)
    q = cap if n0 < 20 else min(cap, (n0 - 10) / n0)
    # nearest rank: the rank-th smallest; the epsilon keeps 0.9 * 20 at 18
    rank = max(1, math.ceil(q * n - 1e-9))
    return q, xs[rank - 1]


def iqr_spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


# ---------------------------------------------------------- environment
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> dict:
    """Pin everything the session reads from the environment, and keep
    every file Spark, the JVM and Python write inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON") or sys.executable,
    }
    os.environ.update(env)
    time.tzset()
    return env


def session_conf(work_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "checkpoints"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def machine_info(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark_master": spark.sparkContext.master,
    }


# ----------------------------------------------------------------- spans
class Tracer:
    """Spans around layer calls, kept in memory and written at the end.

    When enabled, every span also becomes the Spark job description and
    the ``perfbench.span`` local property, so the event log attributes
    each job, stage and task to the span that submitted it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def new_pass(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]

    def _label(self, idx: int | None) -> str | None:
        return None if idx is None else f"{idx}:{self.spans[idx]['name']}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": parent, "run_id": self.run_id,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        self._sc.setJobDescription(name)
        self._sc.setLocalProperty("perfbench.span", self._label(idx))
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            up = self._stack[-1] if self._stack else None
            self._sc.setJobDescription(None if up is None else self.spans[up]["name"])
            self._sc.setLocalProperty("perfbench.span", self._label(up))

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
        return out


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two samples: runs
    measured while it is high are slower for reasons outside the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


# ------------------------------------------------------------ RSS sampler
def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _mem_kb(pid: int) -> tuple[int, int, int]:
    """(parent pid, VmSize, VmRSS) in kB; zeros for a process that is gone."""
    vals = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key = line.split(":", 1)[0]
                if key in ("PPid", "VmSize", "VmRSS"):
                    vals[key] = int(line.split()[1])
    except OSError:
        pass
    return vals.get("PPid", 0), vals.get("VmSize", 0), vals.get("VmRSS", 0)


def _summed_rss_kb(pids: list[int]) -> int:
    """RSS summed over ``pids``, leaving out a child whose virtual size
    equals its parent's: a child between fork and exec (the JVM starting
    a helper, the PySpark daemon forking a worker) maps its parent's
    pages, and counting it would add the parent's RSS a second time."""
    mem = {p: _mem_kb(p) for p in pids}
    total = 0
    for ppid, size, rss in mem.values():
        parent = mem.get(ppid)
        if parent is None or parent[1] != size:
            total += rss
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM and Python workers), sampled from /proc every ``interval``."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pids = _descendants(os.getpid())
        last_scan = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - last_scan > 1.0:
                pids = _descendants(os.getpid())
                last_scan = time.monotonic()
            self.peak_kb = max(self.peak_kb, _summed_rss_kb(pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- event log
def _walk_plan(node: dict, names: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _walk_plan(c, names)


def parse_event_log(log_dir: str) -> dict:
    """Totals of the jobs, stages and tasks a span submitted (work
    without the ``perfbench.span`` property, such as an untraced
    warm-up, is skipped), plus per-span task totals, from a Spark event
    log directory holding one application."""
    paths = []
    for entry in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            paths.extend(os.path.join(p, f) for f in sorted(os.listdir(p)) if f.startswith("events_"))
        else:
            paths.append(p)
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
           "task_retries": 0, "bytes_read": 0, "bytes_written": 0,
           "scan_task_ms": 0, "write_task_ms": 0, "files_written": 0}
    stage_span: dict[int, str] = {}
    scan_stages: set[int] = set()
    traced_sql: set[int] = set()
    acc_names: dict[int, str] = {}
    per_span: dict[str, dict] = {}
    for ev in events:
        et = ev.get("Event", "")
        props = ev.get("Properties") or {}
        if et == "SparkListenerJobStart" and props.get("perfbench.span"):
            tot["jobs"] += 1
            if props.get("spark.sql.execution.id"):
                traced_sql.add(int(props["spark.sql.execution.id"]))
        elif et == "SparkListenerStageSubmitted" and props.get("perfbench.span"):
            si = ev["Stage Info"]
            stage_span[si["Stage ID"]] = props["perfbench.span"]
            if any("FileScanRDD" in r.get("Name", "") for r in si.get("RDD Info", [])):
                scan_stages.add(si["Stage ID"])
        elif et.endswith("SparkListenerSQLExecutionStart") or et.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo") or {}, acc_names)
    for ev in events:
        et = ev.get("Event", "")
        if et == "SparkListenerStageCompleted":
            tot["stages"] += ev["Stage Info"]["Stage ID"] in stage_span
        elif et == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_span:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            run = m.get("Executor Run Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            tot["tasks"] += 1
            tot["task_ms"] += run
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["bytes_written"] += written
            tot["write_task_ms"] += run if written else 0
            tot["scan_task_ms"] += run if ev["Stage ID"] in scan_stages else 0
            tot["task_retries"] += info.get("Attempt", 0) > 0 or bool(info.get("Failed"))
            s = per_span.setdefault(stage_span[ev["Stage ID"]], {"tasks": 0, "task_ms": 0})
            s["tasks"] += 1
            s["task_ms"] += run
        elif et.endswith("SparkListenerDriverAccumUpdates") and ev.get("executionId") in traced_sql:
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_names.get(acc_id) == "number of written files":
                    tot["files_written"] += value
    tot["per_span"] = per_span
    return tot
