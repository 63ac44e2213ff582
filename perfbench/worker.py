"""One fresh benchmark process: start Spark, run one step of a workload,
check its outputs.

Started by ``run.py`` the way cron starts a CLI verb: a new interpreter, a
new SparkSession, one job. It writes one JSON result file and exits.

    python3 perfbench/worker.py --workload lake_sync --step 0 --inputs DIR \
        --base DIR --scratch DIR --result FILE --spawned-at EPOCH [--trace 0|1]
        [--ref-query]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


class Calls:
    """The timed calls of one step, each with its verdict."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls: list[dict] = []

    def call(self, name: str, span: str | None, fn):
        """Run ``fn`` inside a span (none when ``span`` is None: ``fn`` opens
        its own); a raise marks the call failed."""
        rec = {"name": name, "span": span, "ok": True, "error": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) if span else contextlib.nullcontext():
                out = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            out = None
        rec["seconds"] = time.perf_counter() - t0
        self.calls.append(rec)
        return out

    def fail(self, name: str, why: str) -> None:
        """Mark the last call named ``name`` failed by an output check."""
        for rec in reversed(self.calls):
            if rec["name"] == name:
                if rec["ok"]:
                    rec.update(ok=False, error=f"check: {why}"[:300])
                return


# -- workload steps ---------------------------------------------------------------
# A workload is a sequence of steps; each step runs in its own fresh process,
# as one cron-launched CLI invocation. Steps share files through ``ctx.scratch``.


class Context:
    def __init__(self, inputs: str, base: str, scratch: str, traced: bool):
        self.inputs, self.base, self.scratch, self.traced = inputs, base, scratch, traced

    def load(self, name: str):
        with open(os.path.join(self.inputs, name)) as fh:
            return json.load(fh)


def sync_step(spark, timed: Calls, ctx: Context) -> dict:
    """Day-1 mirror into an empty lake, catalog registration (create, then
    the update path), and the day-2 mirror with churn."""
    from canvas_data_aws_spark.ingest.reconciler import SyncEngine, copy_fetcher
    from canvas_data_aws_spark.sources.catalog import register_schema

    manifest = ctx.load("manifest.json")
    with open(os.path.join(ctx.base, "canvas_schema.json")) as fh:
        schema = json.load(fh)
    lake = os.path.join(ctx.scratch, "lake")
    engine = SyncEngine(root=lake)
    fetcher = copy_fetcher()
    raw = f"{lake}/raw_files"

    full = timed.call("sync_full", "sync.full", lambda: engine.apply(spark, manifest["day1"], fetcher))
    reg1 = timed.call("register", "catalog.register", lambda: register_schema(spark, schema, raw))
    reg2 = timed.call("reregister", "catalog.register", lambda: register_schema(spark, schema, raw))
    plan = None
    if ctx.traced:  # read-only reconcile: the diff half of the day-2 sync
        plan = timed.call(
            "sync_plan",
            "sync.plan",
            lambda: {
                r["verdict"]: r["count"]
                for r in engine.plan(spark, manifest["day2"]).groupBy("verdict").count().collect()
            },
        )
    incr = timed.call("sync_incr", "sync.incr", lambda: engine.apply(spark, manifest["day2"], fetcher))

    # -- output checks (untimed) --
    expect = manifest["expect"]
    for call, got, want in (("sync_full", full, expect["day1"]), ("sync_incr", incr, expect["day2"])):
        if got is None:
            continue
        got_d = got.as_dict()
        bad = {k: (got_d[k], v) for k, v in want.items() if got_d[k] != v}
        if bad or got_d["files_failed"]:
            timed.fail(call, f"summary {bad} failed={got_d['files_failed']}")
    if plan is not None:
        want = expect["day2"]
        verdicts = (plan.get("fetch", 0), plan.get("delete", 0), plan.get("skip", 0))
        if verdicts != (want["files_fetched"], want["files_removed"], want["files_skipped"]):
            timed.fail("sync_plan", f"verdicts {plan}")
    n_tables = len(schema)
    extra = {}
    if ctx.traced and full is not None and incr is not None:
        extra["sync_full_files"] = len(manifest["day1"])
        extra["sync_full_bytes"] = sum(
            os.path.getsize(r["url"].removeprefix("file://")) for r in manifest["day1"]
        )
        extra["sync_incr_skip_frac"] = incr.files_skipped / incr.total_files
    if reg1 is not None and (reg1.created, reg1.updated) != (n_tables, 0):
        timed.fail("register", f"created={reg1.created} updated={reg1.updated}")
    if reg2 is not None and (reg2.created, reg2.updated) != (0, n_tables):
        timed.fail("reregister", f"created={reg2.created} updated={reg2.updated}")
    return extra


def analyst_step(spark, timed: Calls, ctx: Context) -> None:
    """Compact every raw table to parquet, then run the analyst SQL mix
    over the compacted lake in the seed's order."""
    from canvas_data_aws_spark.ingest.compaction import compact_raw_tsv
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.schema import schema_registry

    import checks

    with open(os.path.join(ctx.base, "canvas_schema.json")) as fh:
        structs = schema_registry(json.load(fh))
    raw = os.path.join(ctx.scratch, "lake", "raw_files")
    curated = os.path.join(ctx.scratch, "curated")

    def _compact():
        return {
            t: compact_raw_tsv(spark, f"{raw}/{t}", s, f"{curated}/{t}.parquet")
            for t, s in structs.items()
        }

    compacted = timed.call("compact", "compact", _compact)

    registry = all_queries()
    results = {}
    for name in ctx.load("sql_order.json"):
        fn = registry[name].fn

        def query(fn=fn):
            """One query as the analyst sees it: build, then execute."""
            with timed.tracer.span("sql.build"):
                df = fn(spark, curated)
            with timed.tracer.span("sql.exec"):
                return df.columns, df.collect()

        results[name] = timed.call(f"sql:{name}", None, query)

    # -- output checks (untimed) --
    if compacted is not None:
        want_hash = checks.base_hashes(spark, ctx.base)
        for t, df in compacted.items():
            got = checks.table_hash(df)
            if list(got) != want_hash[t]:
                timed.fail("compact", f"{t}: {got} != {want_hash[t]}")
    oracle = checks.load_oracle(ctx.base)
    for name, rows in results.items():
        if rows is None:
            continue
        # JSON round trip: the oracle was stored as JSON lists
        got = json.loads(json.dumps(checks.canonical_rows(*rows)))
        why = checks.rows_match(got, oracle[name])
        if why:
            timed.fail(f"sql:{name}", why)


def _corpus(ctx: Context) -> str:
    return os.path.join(ctx.inputs, "corpus")


def curate_step(spark, timed: Calls, ctx: Context) -> None:
    from canvas_data_aws_spark.pipelines.curate import curate

    out = os.path.join(ctx.scratch, "curated")
    funnel = timed.call("curate", "curate", lambda: curate(spark, _corpus(ctx), out))
    if funnel is None:
        return
    f = funnel.as_dict()
    n_docs = spark.read.parquet(os.path.join(_corpus(ctx), "documents.parquet")).count()
    stages = [f[k] for k in ("n_raw", "n_quality", "n_exact", "n_near", "n_train", "n_clean")]
    n_out = spark.read.parquet(out).select("doc_id").distinct().count()
    if stages[0] != n_docs or stages != sorted(stages, reverse=True) or n_out != f["n_clean"]:
        timed.fail("curate", f"funnel {stages} written={n_out}")


def assemble_step(spark, timed: Calls, ctx: Context) -> None:
    from canvas_data_aws_spark.pipelines.assemble import run_assemble, verify_assemble

    cur, out = os.path.join(ctx.scratch, "curated"), os.path.join(ctx.scratch, "assembled")
    summary = timed.call(
        "assemble", "assemble", lambda: run_assemble(spark, _corpus(ctx), out, keep_from=cur)
    )
    if summary is not None:
        report = verify_assemble(spark, out)
        if summary.get("mode") != "built" or not report["ok"]:
            timed.fail("assemble", f"verify_assemble {report}")


def _link_step(incremental: bool):
    def step(spark, timed: Calls, ctx: Context) -> None:
        import pyspark.sql.functions as F

        from canvas_data_aws_spark.pipelines.link import run_link

        residue = ctx.load("holdout.json")["residue"]
        out = os.path.join(ctx.scratch, "link")
        docs = spark.read.parquet(os.path.join(_corpus(ctx), "documents.parquet"))
        if incremental:
            got = timed.call("link_incr", "link.incr", lambda: run_link(spark, _corpus(ctx), out))
        else:
            where = f"doc_id % 10 != {residue}"
            got = timed.call("link_batch", "link.batch", lambda: run_link(spark, _corpus(ctx), out, where=where))
        if got is None:
            return
        n_docs = docs.count()
        n_held = docs.filter(f"doc_id % 10 = {residue}").count()
        with open(os.path.join(out, "_link_state.json")) as fh:
            state = json.load(fh)
        ent = spark.read.parquet(os.path.join(out, state["dirs"]["entities"]))
        row = ent.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("d")).first()
        n_scope = n_docs if incremental else n_docs - n_held
        ok = (row["n"], row["d"]) == (n_scope, n_scope)  # every doc in exactly one entity
        if incremental:
            ok = ok and got["mode"] == "incremental" and got["n_delta"] == n_held
            ok = ok and got["n_scope"] == (n_docs - n_held) + got["n_delta"]
        else:
            ok = ok and got["mode"] == "batch" and got["n_scope"] == n_scope
        if not ok:
            name = "link_incr" if incremental else "link_batch"
            timed.fail(name, f"summary {got} entities rows={row['n']} distinct={row['d']}")

    return step


def _cc_step(kind: str):
    def step(spark, timed: Calls, ctx: Context) -> dict:
        """connected_components with its default budget, as every call site
        uses it, checked against a union-find."""
        import numpy as np
        import pyarrow.parquet as pq

        from canvas_data_aws_spark.operators.clustering import connected_components

        import gen

        path = os.path.join(ctx.inputs, f"{kind}_edges.parquet")
        edges = spark.read.parquet(path)
        got = timed.call(
            f"cc_{kind}",
            f"cc.{kind}",
            lambda: {r[0]: r[1] for r in connected_components(None, edges).collect()},
        )
        if got is None:
            return {}
        tbl = pq.read_table(path)
        e = np.stack([tbl["id_a"].to_numpy(), tbl["id_b"].to_numpy()], axis=1)
        want = gen.union_find_components(e, np.unique(e))
        wrong = len(set(got.values())) - len(set(want.values()))
        if got != want:
            timed.fail(f"cc_{kind}", f"{wrong} extra components vs union-find")
        return {f"{kind}_wrong_components": wrong}

    return step


def _chain(*steps):
    """One process running several verbs back to back."""

    def step(spark, timed: Calls, ctx: Context) -> dict:
        out: dict = {}
        for st in steps:
            out.update(st(spark, timed, ctx) or {})
        return out

    return step


_TRAIN = ("canvas_data_aws_spark.pipelines.curate", "canvas_data_aws_spark.pipelines.assemble")
_LINK = ("canvas_data_aws_spark.pipelines.link",)
_INGEST = ("canvas_data_aws_spark.ingest.reconciler", "canvas_data_aws_spark.sources.catalog")
_ANALYST = ("canvas_data_aws_spark.ingest.compaction", "canvas_data_aws_spark.plans.registry")
_CLUSTER = ("canvas_data_aws_spark.operators.clustering",)

#: workload -> steps: (step function, program modules its CLI verbs import)
WORKLOADS = {
    "lake_sync": ((_chain(sync_step, analyst_step), _INGEST + _ANALYST),),
    "train_data": ((_chain(curate_step, assemble_step, _link_step(False)), _TRAIN + _LINK),),
    "link": (
        (_link_step(False), _LINK),
        (_link_step(True), _LINK),
    ),
    "graph_deep": ((_cc_step("shallow"), _CLUSTER), (_cc_step("deep"), _CLUSTER)),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--step", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--base", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--ref-query", action="store_true")
    args = ap.parse_args()

    import importlib

    step, imports = WORKLOADS[args.workload][args.step]
    for mod in imports:
        importlib.import_module(mod)
    from canvas_data_aws_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    spark = get_spark(
        app_name=f"perfbench-{args.workload}-{args.step}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
        },
    )
    spark.range(1).count()
    result: dict = {"setup_s": time.time() - args.spawned_at}
    try:
        result.update(_run(spark, step, args))
    finally:
        spark.stop()
    tmp = args.result + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, args.result)
    return 0


def _run(spark, step, args) -> dict:
    import trace as tr

    tracer = tr.Tracer(spark, enabled=bool(args.trace))
    jvm0 = tr.jvm_counters(spark)
    timed = Calls(tracer)
    ctx = Context(args.inputs, args.base, args.scratch, bool(args.trace))
    try:
        extra = step(spark, timed, ctx) or {}
    except Exception:  # noqa: BLE001 - a crashed check fails the step
        timed.calls.append(
            {"name": "step", "span": "-", "ok": False,
             "error": traceback.format_exc()[-600:], "seconds": 0.0}
        )
        extra = {}
    finally:
        tracer.close()
    jvm1 = tr.jvm_counters(spark)
    result = {
        "calls": timed.calls,
        "spans": tracer.spans,
        "tracing_bookkeeping_s": tracer.bookkeeping_s,
        "jvm": {k: jvm1[k] - jvm0[k] for k in jvm0},
        "extra": extra,
    }
    if args.ref_query:
        import bench  # the repo's frozen bench: its machine-speed probe

        extra["ref_query_s"] = bench._ref_query_sec(spark)
    return result


if __name__ == "__main__":
    sys.exit(main())
