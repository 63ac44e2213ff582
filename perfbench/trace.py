"""Per-span tracing from the Spark application status store.

A span wraps one call into the program. With tracing on, the span runs under
its own Spark job group; when it ends, the tracer reads every job of that
group from the status store (which exists with ``spark.ui.enabled=false``)
and sums the stage counters. Spans stay in memory and are written once, at
the end of the run.

Decomposition of a span's wall time (all from the same wall clock):

    wall_s = driver_self_s + stage_s + unaccounted_s

- ``job_s``: union of the span's job intervals, clipped to the span.
- ``driver_self_s = wall_s - job_s``: time with no job running — plan
  building, eager materialization barriers, Python on the driver.
- ``stage_s``: union of the span's stage intervals (skipped stages excluded).
- ``unaccounted_s = job_s - stage_s``: time inside jobs where no stage ran
  (scheduling, result fetch), reported so the sum closes exactly.

Call-site attribution: a sampler thread records which module of the program
package the driver's main thread is in every few milliseconds; each job is
attributed to the module sampled most often while it ran (PySpark DataFrame
actions carry no Python call site in the status store).
"""

from __future__ import annotations

import bisect
import collections
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "canvas_data_aws_spark"

#: call-site categories: the module file (or package dir) that issued a job
CALLSITE_MODULES = {
    "operators/dedup.py": "dedup",
    "operators/clustering.py": "clustering",
    "operators/linkage.py": "linkage",
    "operators/assembly.py": "assembly",
    "operators/text.py": "text",
    "pipelines/": "pipelines",
    "ingest/": "ingest",
    "sources/": "sources",
    "plans/": "plans",
}


def _callsite_of(filename: str) -> str:
    rel = filename.split(f"/{PACKAGE}/", 1)[1]
    for prefix, cat in CALLSITE_MODULES.items():
        if rel.startswith(prefix):
            return cat
    return "other"


class StackSampler(threading.Thread):
    """Samples the innermost program-package frame of one thread."""

    def __init__(self, thread_id: int, interval_s: float = 0.005):
        super().__init__(name="perfbench-sampler", daemon=True)
        self.thread_id = thread_id
        self.interval_s = interval_s
        self.times: list[float] = []
        self.cats: list[str] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        marker = f"/{PACKAGE}/"
        while not self._stop_evt.wait(self.interval_s):
            frame = sys._current_frames().get(self.thread_id)
            while frame is not None and marker not in frame.f_code.co_filename:
                frame = frame.f_back
            if frame is not None:
                self.times.append(time.time())
                self.cats.append(_callsite_of(frame.f_code.co_filename))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)

    def category(self, start: float, end: float) -> str:
        lo = bisect.bisect_left(self.times, start)
        hi = bisect.bisect_right(self.times, end)
        if hi > lo:
            return collections.Counter(self.cats[lo:hi]).most_common(1)[0][0]
        if not self.times:
            return "other"
        # job shorter than the sampling interval: nearest sample before it
        return self.cats[max(0, lo - 1)]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Times spans; with ``enabled`` also reads status-store counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self.sampler: StackSampler | None = None
        if enabled:
            self.sampler = StackSampler(threading.get_ident())
            self.sampler.start()

    def close(self) -> None:
        if self.sampler is not None:
            self.sampler.stop()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.spans)}"
        if self.enabled:
            sc.setJobGroup(group, name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            rec = {"name": name, "wall_s": wall, "start": start, "end": start + wall}
            if self.enabled:
                b0 = time.perf_counter()
                sc._jsc.clearJobGroup()
                rec.update(self._collect(group, rec["start"], rec["end"], wall))
                self.bookkeeping_s += time.perf_counter() - b0
            self.spans.append(rec)

    def _collect(self, group: str, start: float, end: float, wall: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty_tasks = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        job_iv, stage_iv, by_site = [], [], collections.defaultdict(lambda: [0, 0.0])
        seen_stages: set[int] = set()
        c = collections.Counter()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            js, je = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if js is None:
                continue
            js, je = max(js, start), min(je if je is not None else end, end)
            job_iv.append((js, je))
            site = self.sampler.category(js, je) if self.sampler else "other"
            by_site[site][0] += 1
            by_site[site][1] += max(0.0, je - js)
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                attempts = store.stageData(sid, False, empty_tasks, False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    ss = _opt_ms(st.submissionTime())
                    if ss is None:  # skipped: its output was reused
                        continue
                    se = _opt_ms(st.completionTime()) or end
                    stage_iv.append((max(ss, start), min(se, end)))
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ns"] += st.executorCpuTime()
                    c["executor_gc_ms"] += st.jvmGcTime()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["input_bytes"] += st.inputBytes()
                    c["output_bytes"] += st.outputBytes()
        job_s = _union(job_iv)
        stage_s = _union(stage_iv)
        return {
            "jobs": len(job_iv),
            "stages": c["stages"],
            "tasks": c["tasks"],
            "job_s": job_s,
            "stage_s": stage_s,
            "driver_self_s": max(0.0, wall - job_s),
            "unaccounted_s": max(0.0, job_s - stage_s),
            "executor_run_s": c["executor_run_ms"] / 1000.0,
            "executor_cpu_s": c["executor_cpu_ns"] / 1e9,
            "executor_gc_s": c["executor_gc_ms"] / 1000.0,
            "shuffle_write_bytes": c["shuffle_write_bytes"],
            "shuffle_read_bytes": c["shuffle_read_bytes"],
            "spill_bytes": c["spill_bytes"],
            "input_bytes": c["input_bytes"],
            "output_bytes": c["output_bytes"],
            "callsite": {k: {"jobs": v[0], "job_s": v[1]} for k, v in by_site.items()},
        }


def jvm_counters(spark) -> dict:
    """Process-wide JVM counters read as deltas around the measured work:
    whole-stage codegen compilations and driver-JVM GC time (local mode runs
    every executor thread in this JVM)."""
    jvm = spark.sparkContext._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {
        # the histogram's count is exact; its reservoir is sampled, so the
        # compile time comes from CodeGenerator's running total (nanoseconds)
        "codegen_classes": hist.getCount(),
        "codegen_compile_ms": jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6,
        "gc_s": sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0,
    }
