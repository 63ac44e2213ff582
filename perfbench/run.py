"""Benchmark of the engine's user jobs, run from the root of a checkout.

    python3 perfbench/run.py --workload lake_sync --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists and what it covers):

- ``lake_sync`` (benched): mirror gzip-TSV extracts into a lake (day 1,
  then day 2 with churn), register the catalog twice, compact to parquet,
  then run the analyst SQL mix over the compacted lake.
- ``train_data`` (benched): curate -> assemble --keep-from -> link over a
  90% scope, in one process.
- ``link``: link over a 90% scope, then incrementally over all documents,
  each in its own process.
- ``graph_deep``: connected_components on a shallow and a deep graph.
- ``all``: the four above, printing every per-verb metric by name.

A pass of a workload runs each of its steps (one or more CLI verbs) in a
fresh worker process, the way cron starts a CLI verb, so every process is
a cold start; ``setup_s`` is the median over a run's processes. Passes
repeat until ``--seconds`` of timed calls were measured; one pass of either
benched workload takes longer than that, so a run is one pass. Inputs come from ``--seed``
and are cached under ``.perfbench_work/`` in the checkout; generating them
is timed and reported but is in no metric. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
gives the end-to-end metrics, ``--trace 1`` the per-layer ones.

Every run also records the ambient load (``Ambient``): the 1-minute loadavg
at start and end, the share of CPU time the hypervisor stole and the share
of time some task waited for a CPU over the run, and a fixed pure-Python
CPU probe. A traced run adds ``bench._ref_query_sec``, the repo's fixed
machine-speed query, run in the last worker after its timed calls. All are
printed; none rescales a metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import worker  # noqa: E402  (stdlib-only at import; steps import Spark lazily)

#: wall budget of one invocation (a run must end within 180 s)
RUN_BUDGET_S = 170.0
#: driver JVM heap for the benchmark's Spark processes. The program's default
#: (48g) is larger than the 15 GB of the VM the benchmark is sized for, so a
#: heap allowed to grow that far could take the memory other processes need;
#: GC time, spill and peak RSS are measured at this heap.
DRIVER_MEM = "4g"

WORKLOADS = tuple(worker.WORKLOADS)


class ProcessGroupWatch(threading.Thread):
    """Tracks the peak resident set (``VmHWM``, kept by the kernel, so no
    short peak is missed between samples) of every process in one group."""

    def __init__(self, pgid: int, interval_s: float = 0.2):
        super().__init__(name="rss-watch", daemon=True)
        self.pgid = pgid
        self.interval_s = interval_s
        self.hwm_kb: dict[int, int] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            for pid in group_members(self.pgid):
                try:
                    with open(f"/proc/{pid}/status") as fh:
                        for line in fh:
                            if line.startswith("VmHWM:"):
                                kb = int(line.split()[1])
                                self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                                break
                except OSError:
                    continue
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)

    @property
    def peak_bytes(self) -> int:
        """Sum of the per-process peaks: the driver JVM's dominates."""
        return 1024 * sum(self.hwm_kb.values())


def group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (stat field 3), fields[2] the pgrp (field 5)
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(pid))
    return out


def stop_group(pgid: int) -> None:
    """Terminate every process left in the group and wait until all ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while group_members(pgid) and time.time() < deadline:
            time.sleep(0.1)
    if group_members(pgid):
        raise SystemExit(f"processes of group {pgid} did not exit")


class Ambient:
    """What else the box was doing during a run, from counters the kernel
    keeps (no sampling thread): read once at the start and once at the end."""

    def __init__(self):
        self.load0 = os.getloadavg()[0]
        self.stat0, self.psi0, self.t0 = _cpu_stat(), _cpu_psi_us(), time.perf_counter()
        self.probe_s = cpu_probe_s()

    def finish(self) -> dict:
        stat1, psi1, wall = _cpu_stat(), _cpu_psi_us(), time.perf_counter() - self.t0
        busy = stat1[1] - self.stat0[1]
        return {
            "loadavg": [self.load0, os.getloadavg()[0]],
            "steal_frac": (stat1[0] - self.stat0[0]) / busy if busy else 0.0,
            "cpu_wait_frac": (psi1 - self.psi0) / 1e6 / wall if psi1 is not None else None,
            "cpu_probe_s": self.probe_s,
        }


def _cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _cpu_psi_us() -> int | None:
    """Total microseconds some runnable task waited for a CPU (PSI)."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


def cpu_probe_s() -> float:
    """A fixed single-core Python loop, min of 3 (~0.1 s each): reads
    higher when the box's CPUs are slowed or shared."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * 7) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def run_worker(argv: list[str], env: dict, log: str, timeout_s: float) -> tuple[int, int]:
    """Run one worker process to completion; returns (returncode, peak rss)."""
    with open(log, "ab") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv, "--spawned-at", repr(time.time())],
            env=env,
            stdout=fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    watcher = ProcessGroupWatch(proc.pid)
    watcher.start()
    try:
        rc = proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        watcher.stop()
        stop_group(proc.pid)
        proc.wait()
    return rc, watcher.peak_bytes


def _tail(path: str, n: int = 3000) -> str:
    with open(path, "rb") as fh:
        fh.seek(0, os.SEEK_END)
        fh.seek(max(0, fh.tell() - n))
        return fh.read().decode(errors="replace")


def run_workload(name: str, seed: int, seconds: float, trace: int, root: str, deadline: float) -> dict:
    """Generate inputs, then run passes of the workload until ``seconds`` of
    timed calls were measured (at least one pass). A pass runs each step of
    the workload in its own fresh worker process."""
    import checks
    import gen

    work = os.path.join(root, ".perfbench_work")
    inputs, gen_s = gen.ensure_seed(work, seed, name)
    base = gen.ensure_base(work)
    if name == "lake_sync":
        t0 = time.perf_counter()
        checks.ensure_oracle(base, gen.SQL_QUERIES)
        gen_s += time.perf_counter() - t0
    run_dir = os.path.join(work, "runs", f"{name}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PERFBENCH_WORK=work,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM (the launcher's too) keeps its perf counters in memory
        # instead of /tmp/hsperfdata_*: a run writes only inside the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        CDA_SUPPLEMENT_CACHE=os.path.join(work, "supplement"),
    )
    log = os.path.join(work, f"worker-{name}.log")
    if os.path.exists(log):
        os.remove(log)
    ambient = Ambient()
    n_steps = len(worker.WORKLOADS[name])
    passes: list[list[dict]] = []
    measured = 0.0
    while not passes or measured < seconds:
        scratch = os.path.join(run_dir, f"pass{len(passes)}")
        steps = []
        for i in range(n_steps):
            out = os.path.join(run_dir, f"step-{len(passes)}-{i}.json")
            argv = ["--workload", name, "--step", str(i), "--inputs", inputs, "--base", base,
                    "--scratch", scratch, "--result", out, "--trace", str(trace)]
            if trace and not passes and i == n_steps - 1:
                argv.append("--ref-query")
            rc, peak = run_worker(argv, env, log, deadline - time.time())
            if rc != 0:
                raise RuntimeError(f"{name} step {i} worker rc={rc}:\n{_tail(log)}")
            with open(out) as fh:
                steps.append(json.load(fh))
            steps[-1]["peak_rss_mb"] = peak / 2**20
        passes.append(steps)
        measured += sum(c["seconds"] for st in steps for c in st["calls"])
        shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    procs = [st for p in passes for st in p]
    res = {
        "passes": [[c for st in p for c in st["calls"]] for p in passes],
        "spans": [sp for st in procs for sp in st["spans"]],
        "setup_samples": [st["setup_s"] for st in procs],
        "peak_rss_mb": max(st["peak_rss_mb"] for st in procs),
        "tracing_bookkeeping_s": sum(st["tracing_bookkeeping_s"] for st in procs),
        "jvm": {k: sum(st["jvm"][k] for st in procs) for k in procs[0]["jvm"]},
        "gen_s": gen_s,
        "ambient": ambient.finish(),
    }
    for st in procs:
        res.update(st["extra"])
    with open(os.path.join(work, f"trace-{name}.json"), "w") as fh:
        json.dump(res, fh, indent=1)  # spans kept in memory, written once here
    return res


# -- metrics --------------------------------------------------------------------


def call_seconds(res: dict) -> dict[str, float]:
    """Median seconds per call name over the run's passes."""
    by_name: dict[str, list[float]] = {}
    for calls in res["passes"]:
        for c in calls:
            by_name.setdefault(c["name"], []).append(c["seconds"])
    return {k: statistics.median(v) for k, v in by_name.items()}


def end_to_end(res: dict) -> dict:
    per_call = call_seconds(res)
    return {
        "setup_s": (statistics.median(res["setup_samples"]), "s"),
        "job_s": (statistics.median(sum(c["seconds"] for c in p) for p in res["passes"]), "s"),
        "call_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in per_call.values())), "s"),
    }


SPAN_FIELDS = (
    ("wall_s", "s"), ("job_s", "s"), ("stage_s", "s"), ("driver_self_s", "s"),
    ("unaccounted_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("executor_gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("input_bytes", "bytes"), ("output_bytes", "bytes"),
)


def span_table(spans: list[dict]) -> dict[str, dict]:
    """Span records summed per span name (``sql.exec`` runs once per query)."""
    out: dict[str, dict] = {}
    for sp in spans:
        agg = out.setdefault(sp["name"], {"calls": 0, "callsite": {}})
        agg["calls"] += 1
        for f, _ in SPAN_FIELDS:
            agg[f] = agg.get(f, 0) + sp.get(f, 0)
        for site, v in sp.get("callsite", {}).items():
            s = agg["callsite"].setdefault(site, {"jobs": 0, "job_s": 0.0})
            s["jobs"] += v["jobs"]
            s["job_s"] += v["job_s"]
    return out


def per_layer(res: dict) -> dict:
    spans = res["spans"]
    wall = sum(s["wall_s"] for s in spans)
    out = {f"trace.{f}": (sum(s.get(f, 0) for s in spans), u) for f, u in SPAN_FIELDS}
    attributed = sum(
        v["jobs"] for s in spans for k, v in s.get("callsite", {}).items() if k != "other"
    )
    out["callsite.attributed_frac"] = (attributed / max(1, out["trace.jobs"][0]), "ratio")
    out["codegen.compile_ms"] = (res["jvm"]["codegen_compile_ms"], "ms")
    out["codegen.classes"] = (res["jvm"]["codegen_classes"], "count")
    out["jvm.gc_s"] = (res["jvm"]["gc_s"], "s")
    out["tracing.overhead_frac"] = (res["tracing_bookkeeping_s"] / wall, "ratio")
    out["mem.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    out["ambient.loadavg"] = (statistics.fmean(res["ambient"]["loadavg"]), "load")
    out["ambient.ref_query_s"] = (res["ref_query_s"], "s")
    out["ambient.cpu_probe_s"] = (res["ambient"]["cpu_probe_s"], "s")
    return out


def tail_latency(samples: list[float]) -> tuple[float | None, float | None, int]:
    """Highest percentile with at least ten samples beyond it: (p, value,
    n); (None, None, n) when fewer than 11 samples leave no such percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None, None, n
    return 100.0 * (n - 10) / n, xs[n - 11], n


def named_metrics(name: str, res: dict) -> dict:
    """The per-verb metrics of one workload, by the names users know."""
    per_call = call_seconds(res)
    calls = [c for p in res["passes"] for c in p]
    out = {
        "setup_s": (statistics.median(res["setup_samples"]), "s"),
        "failed_frac": (sum(not c["ok"] for c in calls) / max(1, len(calls)), "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    if name == "lake_sync":
        q = [c["seconds"] for c in calls if c["name"].startswith("sql:")]
        p, tail, n = tail_latency(q)
        out.update(
            sync_full_s=(per_call["sync_full"], "s"),
            sync_incr_s=(per_call["sync_incr"], "s"),
            compact_s=(per_call["compact"], "s"),
            sql_qps=(len(q) / sum(q), "queries/s"),
            sql_query_p50_s=(statistics.median(q), "s"),
            sql_query_tail_s=(tail, "s"),
        )
        out["sql_query_tail_s"] += (f"p{p:.1f} of n={n}" if p is not None else f"n/a: n={n} < 11",)
    else:
        for k in per_call:
            out[f"{k}_s"] = (per_call[k], "s")
    if name == "graph_deep":
        out["cc_deep_wrong_components"] = (res.get("deep_wrong_components", 0), "count")
    return out


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(name: str, res: dict, trace: int) -> None:
    """Human-readable lines: verdicts, per-verb metrics, spans, ambient."""
    calls = [c for p in res["passes"] for c in p]
    bad = [c for c in calls if not c["ok"]]
    print(f"== {name}: {'correct' if not bad else 'INCORRECT'} "
          f"({len(calls) - len(bad)}/{len(calls)} calls ok, {len(res['passes'])} pass(es))")
    for c in bad:
        print(f"   FAILED {c['name']}: {c['error']}")
    for k, v in named_metrics(name, res).items():
        print(f"   {k:<26} {_fmt(v[0]):>12} {v[1]}" + (f"  ({v[2]})" if len(v) > 2 else ""))
    print(f"   inputs generated in {res['gen_s']:.2f} s (not in any metric); "
          f"setup samples {[round(s, 3) for s in res['setup_samples']]}; "
          f"ambient {json.dumps(res['ambient'])}"
          + (f"; ref_query_s {res['ref_query_s']}" if "ref_query_s" in res else ""))
    if trace:
        print(f"   {'span':<18}{'calls':>6}{'wall_s':>9}{'self_s':>9}{'stage_s':>9}"
              f"{'unacc_s':>9}{'jobs':>6}{'stages':>7}{'exec_s':>9}{'shufW_MB':>9}{'spill_MB':>9}")
        for sname, a in span_table(res["spans"]).items():
            print(f"   {sname:<18}{a['calls']:>6}{a['wall_s']:>9.3f}{a['driver_self_s']:>9.3f}"
                  f"{a['stage_s']:>9.3f}{a['unaccounted_s']:>9.3f}{a['jobs']:>6}{a['stages']:>7}"
                  f"{a['executor_run_s']:>9.2f}{a['shuffle_write_bytes'] / 2**20:>9.2f}"
                  f"{a['spill_bytes'] / 2**20:>9.2f}")
            sites = ", ".join(
                f"{k}={v['jobs']}j/{v['job_s']:.2f}s" for k, v in sorted(a["callsite"].items())
            )
            print(f"   {'':<18}callsite: {sites or '-'}")
        for k, v in lake_ratios(res).items():
            print(f"   {k:<34} {_fmt(v)}")


def lake_ratios(res: dict) -> dict:
    """Useful-work ratios of a traced lake_sync run, from its spans."""
    if "sync_full_files" not in res:
        return {}
    spans = span_table(res["spans"])
    full, compact, sql = spans["sync.full"], spans["compact"], spans["sql.exec"]
    return {
        "sync.full.files_per_s": res["sync_full_files"] / full["wall_s"],
        "sync.full.mb_per_s": res["sync_full_bytes"] / 2**20 / full["wall_s"],
        "sync.incr.skip_frac": res["sync_incr_skip_frac"],
        "compact.bytes_out_per_byte_in": compact["output_bytes"] / max(1, compact["input_bytes"]),
        "sql.exec.input_bytes_per_query": sql["input_bytes"] / sql["calls"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    program = os.path.join(root, "canvas_data_aws_spark")
    if not (os.path.isdir(program) and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(canvas_data_aws_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    deadline = time.time() + RUN_BUDGET_S * len(names)
    results = {}
    for name in names:
        try:
            results[name] = run_workload(name, args.seed, args.seconds, args.trace, root, deadline)
        except (RuntimeError, OSError, KeyError, ValueError) as exc:
            print(f"perfbench: {name} did not complete: {exc}", file=sys.stderr)
            return 1
        report(name, results[name], args.trace)

    calls = [c for r in results.values() for p in r["passes"] for c in p]
    failed = sum(not c["ok"] for c in calls)
    if args.workload == "all":
        metrics = {}
        for name, res in results.items():
            for k, v in named_metrics(name, res).items():
                if k not in ("setup_s", "failed_frac", "peak_rss_mb"):
                    metrics[k] = v
        setups = [s for r in results.values() for s in r["setup_samples"]]
        metrics["setup_s"] = (statistics.median(setups), "s")
        metrics["failed_frac"] = (failed / max(1, len(calls)), "ratio")
        metrics["peak_rss_mb"] = (max(r["peak_rss_mb"] for r in results.values()), "MB")
        metrics.pop("cc_deep_wrong_components", None)
    else:
        res = results[args.workload]
        metrics = per_layer(res) if args.trace else end_to_end(res)
    out = {
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
