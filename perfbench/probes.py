"""Counters and spans the benchmark records around its calls.

Nothing here reaches into the program under test: every number comes
from the Spark status tracker, the JVM's management beans, Spark's
codegen metrics, ``/proc`` and, in a traced run, the Spark event log.

* ``Counters`` reads the cumulative JVM and Spark counters; a
  difference of two readings is the work done between them.
* ``Harness`` times each call into a layer function, counts the Spark
  jobs it ran through a job group of its own, and counts calls that
  raised. With tracing on it also keeps one span per call.
* ``summarize_event_log`` attributes task time, input, shuffle and
  spill bytes from the event log to the job group that ran them.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from dataclasses import dataclass, field


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


class Counters:
    """Cumulative counters of the driver JVM and Spark's code generator."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._compile = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def read(self) -> dict:
        """``jit_s`` and ``gc_s`` are cumulative JVM times. ``compiles``
        counts Janino compilations; ``compile_ms_mean`` is the mean of
        the codegen histogram's recent-biased reservoir, so compiles x
        mean estimates compile time."""
        snap = self._compile.getSnapshot()
        return {
            "jit_s": self._jit.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "compiles": int(self._compile.getCount()),
            "compile_ms_mean": float(snap.getMean()),
        }

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        n = b["compiles"] - a["compiles"]
        return {
            "jit_s": b["jit_s"] - a["jit_s"],
            "gc_s": b["gc_s"] - a["gc_s"],
            "compiles": n,
            "compile_s": n * b["compile_ms_mean"] / 1000.0,
        }

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory of the Python driver and of the JVM."""
        return {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(self.jvm_pid)}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    span_id: str
    run_id: str
    cycle: int
    jobs: int
    ok: bool
    rows: int = 0
    tasks: dict | None = None  # task metrics of the span's job group

    def as_dict(self) -> dict:
        return dict(self.__dict__)


@dataclass
class Harness:
    """Closed-loop call wrapper shared by all workloads.

    ``call`` runs one call into a layer function and records its wall
    time. In a traced cycle, each call gets its own Spark job group
    (so its jobs, and in the event log its tasks, can be attributed
    to it) and a span; in an untraced cycle, the whole cycle shares one
    job group, which is all ``jobs_per_cycle`` needs."""

    spark: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    check_s: dict[str, float] = field(default_factory=dict)
    cycle: int = -1
    traced_cycle: bool = False
    _cycle_group: str = ""
    _cycle_span: str | None = None

    def _group(self, name: str) -> str:
        return f"{self.run_id}:{self.cycle}:{name}"

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def _jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def begin_cycle(self, cycle: int, traced: bool) -> None:
        self.cycle = cycle
        self.traced_cycle = traced
        self._cycle_group = self._group("cycle")
        self._cycle_span = self._cycle_group if traced else None
        self._set_group(self._cycle_group)
        self._cycle_start = time.perf_counter()

    def end_cycle(self) -> tuple[float, int]:
        """Wall time and Spark jobs of the cycle that just ended."""
        end = time.perf_counter()
        wall = end - self._cycle_start
        if self.traced_cycle:
            jobs = sum(s.jobs for s in self.spans if s.cycle == self.cycle and s.parent)
            self.spans.append(Span(
                "cycle", self._cycle_start, end, None, self._cycle_group,
                self.run_id, self.cycle, jobs, True,
            ))
        else:
            jobs = self._jobs(self._cycle_group)
        # jobs run after the window (the checks) belong to no cycle
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return wall, jobs

    def call(self, name: str, fn, rows: int = 0):
        """Run ``fn()``; a call that raises is counted as failed and
        returns None, so the closed loop goes on to its next call."""
        self.attempted += 1
        traced = self.traced_cycle
        group = self._group(name) if traced else self._cycle_group
        if traced:
            self._set_group(group)
        start = time.perf_counter()
        ok, out = True, None
        try:
            out = fn()
        except Exception:  # a failed call is a measured outcome
            ok = False
            self.failed += 1
            self.errors.append(f"{name} (cycle {self.cycle}):\n{traceback.format_exc()}")
        end = time.perf_counter()
        if traced:
            self.spans.append(Span(
                name, start, end, self._cycle_span, group, self.run_id,
                self.cycle, self._jobs(group), ok, rows,
            ))
            self._set_group(self._cycle_group)
        return out

    def check(self, name: str, fn) -> bool:
        """One output check: ``fn()`` returns a list of mismatch
        descriptions; an empty list passes."""
        self.attempted += 1
        start = time.perf_counter()
        try:
            problems = fn()
        except Exception:
            problems = [traceback.format_exc()]
        self.check_s[name] = time.perf_counter() - start
        if problems:
            self.failed += 1
            self.errors.append(f"check {name}: " + "; ".join(problems)[:2000])
        return not problems

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


TASK_METRICS = ("task_s", "input_bytes", "input_records", "shuffle_bytes", "spill_bytes")


def summarize_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics per job group from the Spark event log(s) under
    ``log_dir``: ``{group: {metric: total}}`` for ``TASK_METRICS``.
    ``task_s`` is executor run time. Shuffle bytes are bytes written by
    map tasks; spill bytes are memory plus disk bytes spilled. Spark
    counts input bytes only for reads made on the task thread, so for
    local parquet scans ``input_bytes`` is far below the file sizes;
    ``input_records`` is exact."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    files = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(log_dir)
        for f in names
        if not f.endswith(".crc")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(TASK_METRICS, 0))
                    inp = m.get("Input Metrics") or {}
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["input_bytes"] += inp.get("Bytes Read", 0)
                    acc["input_records"] += inp.get("Records Read", 0)
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
