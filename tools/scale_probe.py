"""One-off core-scaling spot check at ~sf1 (VERDICT r13 item 6).

The driver's 8-vs-32-core bench block at sf0.1 shows ratios ~1.0 across
the board — at 11 MB of lineitem no query scales with cores, so the local
bench prices plan shape only and the 100 TB claims lean on plan-census
arguments. This tool gives those claims a second MEASURED leg: it times
the top headline queries at a 10x disjoint-replica of sf0.1 (~sf1 —
tools/probe10x.py's replica builder, reused verbatim) under
SPARK_GRAFT_CPUS=32 vs 8, one FRESH process per (query, cpus) sample
(back-to-back probes in one JVM contaminate each other; see SCALE.md),
warm-up + min-of-2 noop runs inside each child.

Deliberately NOT part of bench.py: the bench series' contract (sf0.1,
fixed methodology) stays frozen; this is committed once as evidence
(tools/scale_probe.json + a SCALE.md paragraph).

Usage:
    python tools/scale_probe.py              # default top-10 headline set
    python tools/scale_probe.py q1 q2 ...    # explicit query list
    python tools/scale_probe.py --child Q    # internal (one timing sample)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)
sys.path.insert(0, TOOLS)

FACTOR = int(os.environ.get("CDA_PROBE_FACTOR", "10"))
DST = f"/tmp/cda{FACTOR}x"
OUT = os.path.join(TOOLS, f"scale_probe_{FACTOR}x.json")

#: the 10 slowest headline queries of the round-13 driver bench
DEFAULT_QUERIES = [
    "graph_label_propagation",
    "graph_triangle_count",
    "graph_connected_components",
    "stream_stream_join",
    "corpus_dup_span_strip",
    "graph_k_core",
    "link_eval_truth",
    "dedup_minhash_calibration",
    "link_incremental_match",
    "corpus_dup_ngram_spans",
]


def child(qname: str) -> None:
    """One timing sample: ensure the 10x replica exists, warm once, min-of-2
    noop runs. Prints ONE JSON line. Runs with whatever SPARK_GRAFT_CPUS
    the parent exported (session.py sets master AND shuffle partitions
    from it — the same contract bench.py honors)."""
    import probe10x  # module import builds the SparkSession

    probe10x.build()
    from canvas_data_aws_spark.plans.registry import all_queries

    fn = all_queries()[qname].fn
    spark = probe10x.spark
    fn(spark, DST).write.format("noop").mode("overwrite").save()  # warm-up
    best = 1e9
    for _ in range(2):
        t0 = time.time()
        fn(spark, DST).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    print(json.dumps({
        "query": qname, "cpus": os.environ["SPARK_GRAFT_CPUS"], "sec": round(best, 3),
        "src": probe10x.SRC,
    }))


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--child":
        child(args[1])
        return
    queries = args or DEFAULT_QUERIES
    rows = {}
    src = None
    for q in queries:
        rows[q] = {}
        for cpus in ("32", "8"):
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", q],
                env=env, capture_output=True, text=True, cwd=REPO,
            )
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
            if not line:
                print(f"{q} cpus={cpus}: CHILD FAILED\n{r.stderr[-2000:]}", file=sys.stderr)
                rows[q][cpus] = None
                continue
            # src is probe10x.SRC as the child saw it (importing it here starts Spark)
            sample = json.loads(line[-1])
            rows[q][cpus], src = sample["sec"], sample["src"]
            print(f"{q} cpus={cpus}: {rows[q][cpus]}s", flush=True)
    report = {
        "factor": FACTOR,
        "src": src,
        "method": "fresh process per sample, warm-up + min-of-2, noop sink",
        "per_query": {
            q: {
                "sec_32": v.get("32"),
                "sec_8": v.get("8"),
                "ratio_8_over_32": round(v["8"] / v["32"], 2)
                if v.get("8") and v.get("32")
                else None,
            }
            for q, v in rows.items()
        },
    }
    with open(OUT, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report["per_query"]))


if __name__ == "__main__":
    main()
