"""The sync engine: manifest reconciliation as one declarative join.

The reference's sync core (/root/reference/lambda/sync-canvas-data-files.py:58-112)
is an imperative diff: remote files not present locally are fetched, local
keys no longer listed remotely are deleted, matches are skipped. That is
exactly a full-outer join on file key with a three-way verdict (SURVEY.md §2
Part A observations) — one Spark expression instead of a fan-out of worker
invocations:

    remote ⟗ local on key:
        both sides  -> 'skip'    (:62-67)
        remote only -> 'fetch'   (:69-84)
        local only  -> 'delete'  (:104-112)

Scale: manifests are metadata (one row per *file*, not per record), so even
a 100 TB lake is a few million manifest rows — the reconciliation join is
trivially broadcastable on either side; fetch execution parallelism comes
from partitioning the fetch list across executors (the Spark-native analog
of one-Lambda-per-file, :78-84). Python runs once per task slot: the
manifest and listing are Arrow-built ``LocalTableScan``s, and the fan-out is
one ``mapInArrow`` pass per task that fetches and rolls up its outcomes,
with ``max_fetch_tasks x io_threads`` fetches in flight.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

MANIFEST_SCHEMA = StructType(
    [
        StructField("table", StringType(), False),
        StructField("filename", StringType(), False),
        StructField("url", StringType(), True),
    ]
)

LISTING_SCHEMA = StructType([StructField("key", StringType(), False)])

#: Layout rule: every file lives under its table's directory
#: (key construction, sync-canvas-data-files.py:60).
RAW_PREFIX = "raw_files/"


def _local_frame(spark: SparkSession, schema: StructType, rows: list[dict]) -> DataFrame:
    """String-column dict rows as a ``LocalTableScan``, via a pyarrow.Table:
    a list of Rows would plan a Python stage (``applySchemaToPythonRDD``).
    A null in a non-nullable column raises."""
    import pyarrow as pa

    cols = {f.name: pa.array([r.get(f.name) for r in rows], pa.string()) for f in schema}
    return spark.createDataFrame(pa.table(cols), schema)


def manifest_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Remote manifest as a DataFrame (source_remote_manifest: the API's
    {'files': [{table, filename, url}]} listing, sync-canvas-data-files.py:46-48)."""
    return _local_frame(spark, MANIFEST_SCHEMA, rows)


def with_key(manifest: DataFrame, prefix: str = RAW_PREFIX) -> DataFrame:
    """partition_by_table: key = '{prefix}{table}/{filename}'."""
    return manifest.withColumn(
        "key", F.concat(F.lit(prefix), F.col("table"), F.lit("/"), F.col("filename"))
    )


def local_listing(spark: SparkSession, root: str, prefix: str = RAW_PREFIX) -> DataFrame:
    """source_local_listing: existing object keys under the prefix
    (the S3 listing at sync-canvas-data-files.py:38-43). Local-FS flavor:
    walk ``root`` and emit relative keys. Listing is metadata-scale, so a
    driver-side walk into a local table is the honest equivalent of the
    reference's paginated list_objects."""
    import os

    keys = []
    base = os.path.join(root, prefix)
    for dirpath, _dirs, files in os.walk(base):
        for fn in sorted(files):
            rel = os.path.relpath(os.path.join(dirpath, fn), root)
            keys.append({"key": rel.replace(os.sep, "/")})
    return _local_frame(spark, LISTING_SCHEMA, keys)


def reconcile(
    remote: DataFrame,
    local: DataFrame,
    prefix: str = RAW_PREFIX,
    additive: bool = False,
) -> DataFrame:
    """diff_fetch_set + diff_delete_set as ONE join.

    Mirror mode (default): full-outer join; verdict in ('skip', 'fetch',
    'delete') — converge local to exactly the remote snapshot. The two
    anti-joins of the reference fall out of one exchange instead of two.

    Additive mode (``additive=True``): left join from the remote manifest;
    verdict in ('skip', 'fetch') only. This is the dump-incremental
    contract — a dump manifest lists just that dump's files, so local files
    it doesn't mention (other tables, earlier dumps) are NOT deletions.
    """
    r = with_key(remote, prefix).alias("r")
    l = local.select(F.col("key").alias("lkey")).alias("l")
    how = "left_outer" if additive else "full_outer"
    joined = r.join(l, F.col("r.key") == F.col("l.lkey"), how)
    verdict = F.when(F.col("l.lkey").isNull(), F.lit("fetch"))
    if not additive:
        verdict = verdict.when(F.col("r.key").isNull(), F.lit("delete"))
    return joined.select(
        F.coalesce(F.col("r.key"), F.col("l.lkey")).alias("key"),
        F.col("r.table").alias("table"),
        F.col("r.filename").alias("filename"),
        F.col("r.url").alias("url"),
        verdict.otherwise(F.lit("skip")).alias("verdict"),
    )


@dataclass
class SyncSummary:
    """metrics_summary parity (sync-canvas-data-files.py:50-54,125-139)."""

    total_files: int = 0
    files_fetched: int = 0
    files_skipped: int = 0
    files_removed: int = 0
    #: files whose fetch/delete raised (isolated per-file; absent from the
    #: lake, re-planned as fetch by the next converge run)
    files_failed: int = 0
    #: work items beyond max_files_per_run, left for the next run
    #: (continuation_reinvoke analog — re-run to converge)
    files_remaining: int = 0
    tables_created: int = 0
    tables_updated: int = 0
    dry_run: bool = False

    def as_dict(self) -> dict:
        return dict(self.__dict__)


@dataclass
class SyncEngine:
    """Snapshot-mirror sync: converge local state to the remote manifest.

    ``fetcher(url, dest_path) -> None`` is pluggable (tests copy local
    files; production would stream HTTPS — the worker body of
    fetch-canvas-data-file.py:14-42). ``dry_run`` logs intent without side
    effects (the reference's env-flag mode, sync-canvas-data-files.py:15).
    """

    root: str
    prefix: str = RAW_PREFIX
    dry_run: bool = False
    fetch_chunk_bytes: int = 8 * 1024 * 1024  # worker chunk size parity (:20)
    max_fetch_tasks: int = 16  # cap: fan-out runs min(this, defaultParallelism) tasks
    io_threads: int = 8  # fetches in flight per task at the cap (see _fan_out)
    on_summary: Callable[["SyncSummary"], None] | None = None  # sink_notify
    log_sample_cap: int = 10_000  # max per-file lines the driver retains
    #: continuation_reinvoke analog (sync-canvas-data-files.py:88-98): the
    #: reference re-invokes itself when <30 s of Lambda budget remain,
    #: paginating the work list cursor-free across invocations. Spark jobs
    #: have no 15-minute bound, but the SAME bounded-converge contract is
    #: useful (maintenance windows, rate-limited origins): cap the files
    #: applied per run; reconciliation is idempotent, so repeated runs
    #: converge — each run re-plans and the already-fetched prefix verdicts
    #: 'skip'. None = unbounded (single-run converge). Starvation guard:
    #: a naive key-ordered prefix would re-dispatch the SAME low-keyed
    #: files every run, so >= max_files_per_run permanently-failing
    #: low-keyed files would starve all later-keyed work forever. Bounded
    #: runs therefore persist the keys that failed (``FAILED_KEYS_FILE``
    #: under the lake root, capped at ``FAILED_KEYS_CAP``) and sort them
    #: AFTER fresh work in the next run's prefix — failing files still
    #: retry (eventually, when fresh work drains), but can never pin the
    #: prefix. The ledger drops a key the run it succeeds and is deleted
    #: when a run converges cleanly.
    max_files_per_run: int | None = None
    log: list[str] = field(default_factory=list)

    def plan(
        self,
        spark: SparkSession,
        remote_rows: list[dict],
        additive: bool = False,
    ) -> DataFrame:
        remote = manifest_from_rows(spark, remote_rows)
        local = local_listing(spark, self.root, self.prefix)
        return reconcile(remote, local, self.prefix, additive=additive)

    def _fan_out(self, spark: SparkSession) -> tuple[int, int]:
        """(tasks, threads per task) of the fetch fan-out: one task per slot
        up to the cap, each pool scaled up by the tasks the cap allowed but
        the slots did not, so max_fetch_tasks x io_threads fetches stay in
        flight at any cluster size."""
        cap = max(1, self.max_fetch_tasks)
        n_tasks = min(cap, spark.sparkContext.defaultParallelism)
        return n_tasks, max(1, self.io_threads) * -(-cap // n_tasks)

    def apply(
        self,
        spark: SparkSession,
        remote_rows: list[dict],
        fetcher: Callable[[str, str], None],
        additive: bool = False,
    ) -> SyncSummary:
        from pyspark.sql import Observation

        # metrics_summary via observed metrics (df.observe — the Spark
        # answer to the reference's hand-counted summary dict,
        # sync-canvas-data-files.py:50-54,125-139): CollectMetrics rides
        # the apply action, so the counts cost no extra job. The filter
        # below cannot push past the observe node, so metrics see every
        # reconciled file.
        obs = Observation("sync_metrics")
        observed = self.plan(spark, remote_rows, additive=additive).observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("verdict") == "fetch").cast("long")).alias("fetch"),
            F.sum((F.col("verdict") == "skip").cast("long")).alias("skip"),
            F.sum((F.col("verdict") == "delete").cast("long")).alias("delete"),
        )
        work = observed.filter(F.col("verdict").isin("fetch", "delete"))
        known_failed: list[str] = []
        if self.max_files_per_run is not None:
            # bounded converge: a deterministic key-ordered prefix of the
            # work list (TakeOrdered — the cap is driver-bounded); the
            # remainder is simply not dispatched and the next run's plan
            # picks it up (fetched files verdict 'skip' then). Keys that
            # failed in earlier bounded runs sort LAST so they cannot pin
            # the prefix and starve later-keyed work (see
            # max_files_per_run docstring).
            known_failed = self._load_failed_keys()
            if known_failed:
                # Plan-size trade: isin() compiles the ledger into an
                # IN-literal inside the sort expression — bounded by
                # FAILED_KEYS_CAP (10k keys, ~1 MB of plan). Beyond that
                # cap a broadcast flag-join (left join a tiny failed-keys
                # DF, sort on the null-ness of the flag) would keep the
                # plan size constant; at the documented cap the literal is
                # simpler and avoids an extra join node.
                work = work.orderBy(
                    F.col("key").isin(known_failed).asc(), F.col("key").asc()
                )
            else:
                work = work.orderBy("key")
            work = work.limit(int(self.max_files_per_run))

        totals: dict[str, int] = {}  # action -> files, from the fan-out rollup
        if self.dry_run:
            work_rows = work.collect()
            statuses = [
                (r["key"], "would fetch" if r["verdict"] == "fetch" else "would delete")
                for r in work_rows
            ]
            for key, action in sorted(statuses)[: self.log_sample_cap]:
                self.log.append(f"DRY RUN: {action} {key}")
            if len(statuses) > self.log_sample_cap:
                self.log.append(
                    f"DRY RUN: ... ({len(statuses) - self.log_sample_cap} more files)"
                )
        else:
            # Fetch/delete fan-out ON THE EXECUTORS (the analog of the
            # one-Lambda-per-file dispatch, sync-canvas-data-files.py:78-84):
            # one task per slot (``_fan_out``), each running the guarded
            # fetch body (fetch-canvas-data-file.py:25-38) on an I/O thread
            # pool and rolling its outcomes up in the same Python pass, so the
            # driver holds O(tasks x actions) rows at any manifest size; the
            # per-file Lambda-log analog is a capped sample (log_sample_cap).
            n_tasks, threads = self._fan_out(spark)
            per_task_cap = max(1, self.log_sample_cap // n_tasks)
            if self.max_files_per_run is not None:
                # bounded mode needs COMPLETE per-key outcomes to maintain
                # the failed-keys ledger; total dispatched work is already
                # <= max_files_per_run, so the rollup stays driver-bounded
                per_task_cap = max(per_task_cap, int(self.max_files_per_run))
            rolled = work.repartition(n_tasks).mapInArrow(
                _apply_worker(self.root, fetcher, threads, per_task_cap),
                "action string, n long, sample array<string>",
            ).collect()
            samples: list[tuple[str, str]] = []
            for r in rolled:
                totals[r["action"]] = totals.get(r["action"], 0) + r["n"]
                samples.extend((k, r["action"]) for k in r["sample"])
            shown = sorted(samples)[: self.log_sample_cap]
            for key, action in shown:
                self.log.append(f"{action}: {key}")
            omitted = sum(totals.values()) - len(shown)
            if omitted > 0:
                self.log.append(
                    f"... ({omitted} more files; log sampled at {self.log_sample_cap})"
                )

        metrics = obs.get
        # plan-level counts from the observed metrics; failure count from
        # the executor rollup (actions beginning "failed") — plan counts
        # stay the verdict totals (sync_metrics_summary parity), failures
        # report how much of the fetch plan did NOT land this run
        n_fetch, n_delete = int(metrics["fetch"] or 0), int(metrics["delete"] or 0)
        bounded = not self.dry_run and self.max_files_per_run is not None
        summary = SyncSummary(
            total_files=int(metrics["total"]),
            files_fetched=n_fetch,
            files_skipped=int(metrics["skip"] or 0),
            files_removed=n_delete,
            files_failed=sum(t for a, t in totals.items() if a.startswith("failed")),
            files_remaining=(
                max(0, n_fetch + n_delete - sum(totals.values())) if bounded else 0
            ),
            dry_run=self.dry_run,
        )
        if bounded:
            if summary.files_remaining == 0 and summary.files_failed == 0:
                # Converged cleanly. In MIRROR mode the plan is a full-outer
                # join enumerating every remote AND local key, so a ledger
                # key absent from it exists on neither side — no future plan
                # can ever cover it, and keeping it would waste cap space in
                # the 10k-bounded ledger forever (round-9 advice). Covered
                # keys were just applied cleanly. Both cases drop: clear the
                # whole ledger, no collect needed.
                if not additive:
                    self._store_failed_keys(set())
                # An ADDITIVE dump-mode run's manifest never mentions keys
                # that failed in a prior snapshot run; deleting those
                # entries would hand them back their prefix-pinning power
                # on the next bounded snapshot sync (round-8 advice) — drop
                # only the keys THIS run's plan actually covered. The
                # coverage check re-evaluates the plan filtered to the
                # ledger keys: <= FAILED_KEYS_CAP rows, only on this path.
                elif known_failed:
                    covered = {
                        r["key"]
                        for r in self.plan(spark, remote_rows, additive=additive)
                        .filter(F.col("key").isin(known_failed))
                        .select("key")
                        .collect()
                    }
                    self._store_failed_keys(set(known_failed) - covered)
                else:
                    self._store_failed_keys(set())
            else:
                failed_now = {k for k, a in samples if a.startswith("failed")}
                ok_now = {k for k, a in samples if not a.startswith("failed")}
                self._store_failed_keys((set(known_failed) | failed_now) - ok_now)
        if summary.files_remaining > 0:
            self.log.append(
                f"continuation: {summary.files_remaining} work items remain "
                "(bounded run); re-run to converge"
            )
        # sink_notify analog (sync-canvas-data-files.py:141-145): the
        # reference publishes the run summary to SNS; here any callable
        # sink (log, file, queue) observes the same payload.
        if self.on_summary is not None:
            self.on_summary(summary)
        return summary

    # -- bounded-converge failed-keys ledger ---------------------------------

    #: Keys whose fetch/delete failed in a previous BOUNDED run, persisted
    #: under the lake root so fresh SyncEngine instances (cron re-runs)
    #: inherit the deprioritization. Same atomic tmp+rename discipline as
    #: the dump watermark.
    FAILED_KEYS_FILE = "_sync_failed_keys.json"
    #: Hard cap on the ledger: the deprioritization rides an IN expression
    #: in the sort key, so it must stay literal-sized. More failures than
    #: this means the origin is broken, not the scheduler; excess keys just
    #: fall back to natural key order.
    FAILED_KEYS_CAP = 10_000

    def _load_failed_keys(self) -> list[str]:
        import json
        import os

        path = os.path.join(self.root, self.FAILED_KEYS_FILE)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            keys = json.load(f).get("failed_keys", [])
        return [str(k) for k in keys][: self.FAILED_KEYS_CAP]

    def _store_failed_keys(self, keys: set[str]) -> None:
        import json
        import os

        path = os.path.join(self.root, self.FAILED_KEYS_FILE)
        if not keys:
            if os.path.exists(path):
                os.remove(path)
            return
        os.makedirs(self.root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"failed_keys": sorted(keys)[: self.FAILED_KEYS_CAP]}, f)
        os.replace(tmp, path)

    # -- dump-incremental mode ---------------------------------------------

    #: Watermark file under the lake root recording the highest dump
    #: sequence already applied. The reference is snapshot-only
    #: (sync-canvas-data-files.py:47); dump mode is this engine's cheaper
    #: extension: reconcile only the files each NEW dump ships.
    DUMP_STATE_FILE = "_dump_sync_state.json"

    def last_synced_sequence(self) -> int:
        import json
        import os

        path = os.path.join(self.root, self.DUMP_STATE_FILE)
        if not os.path.exists(path):
            return -1
        with open(path) as f:
            return int(json.load(f).get("last_sequence", -1))

    def _write_synced_sequence(self, sequence: int) -> None:
        import json
        import os

        path = os.path.join(self.root, self.DUMP_STATE_FILE)
        os.makedirs(self.root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_sequence": int(sequence)}, f)
        os.replace(tmp, path)  # atomic: a crash never corrupts the watermark

    def sync_dumps(
        self,
        spark: SparkSession,
        client,
        fetcher: Callable[[str, str], None],
    ) -> list[tuple[str, SyncSummary]]:
        """Incremental sync: discover dumps newer than the watermark via the
        API (``get_dumps(after=...)``), apply each IN SEQUENCE ORDER as an
        additive reconcile (fetch-only — a dump manifest never implies
        deletion of files it doesn't list), and advance the watermark after
        each dump so a crash resumes at the first unapplied dump.

        ``client`` needs ``get_dumps(after=...)`` and
        ``dump_manifest_rows(dump_id)`` (``CanvasDataClient`` provides
        both). Returns ``[(dump_id, summary), ...]`` for the dumps applied.
        Unfinished dumps are skipped (still being written portal-side) and
        NOT watermarked past, so they are retried next run — matching the
        at-least-once semantics of the snapshot mode's idempotent fetch.
        """
        after = self.last_synced_sequence()
        dumps = client.get_dumps(after=after if after >= 0 else None)
        ready: list[dict] = []
        for d in sorted(dumps, key=lambda d: d.get("sequence", 0)):
            if d.get("sequence", 0) <= after:
                continue  # server ignored `after`; filter client-side too
            if not d.get("finished", True):
                break  # stop at the first unfinished dump — keep ordering
            ready.append(d)
        results: list[tuple[str, SyncSummary]] = []
        for d in ready:
            rows = client.dump_manifest_rows(d["dumpId"])
            summary = self.apply(spark, rows, fetcher, additive=True)
            self._write_synced_sequence(d["sequence"])
            results.append((d["dumpId"], summary))
        return results


def json_line_notifier(path: str) -> Callable[[SyncSummary], None]:
    """sink_notify: append the run summary as one JSON line to ``path`` —
    the engine's stand-in for the reference's SNS publish of the summary
    dict (sync-canvas-data-files.py:141-145, topic at
    canvas_data_aws.yaml:68-78). Any messaging sink plugs in the same way
    via ``SyncEngine.on_summary``."""
    import json

    def _notify(summary: SyncSummary) -> None:
        with open(path, "a") as f:
            f.write(json.dumps(summary.as_dict(), sort_keys=True) + "\n")

    return _notify


def _apply_worker(
    root: str, fetcher: Callable[[str, str], None], io_threads: int, sample_cap: int
):
    """Task body for the distributed apply: runs on executors via
    mapInArrow. (key, verdict, url) rows in; one (action, n, sample) row
    per action out, covering the whole task, with at most ``sample_cap``
    sorted keys in each sample.

    The idempotence guard lives HERE, inside the task, exactly like the
    reference worker's existence check (fetch-canvas-data-file.py:25-31) —
    a racing duplicate dispatch sees the destination and skips. Deletes are
    the mirror semantics of sync-canvas-data-files.py:104-112. ``fetcher``
    is cloudpickled to the workers, so it must not rely on driver-side
    mutable state for its effect.
    """
    import os
    from concurrent.futures import ThreadPoolExecutor

    def _one(key: str, verdict: str, url: str | None) -> str:
        # Per-file failure ISOLATION, matching the reference's
        # one-Lambda-per-file blast radius: a single permanently-failing
        # URL must not abort the whole sync job (an uncaught raise here
        # fails the Spark task and with it every other file's work). The
        # failure is reported as its own action; the file stays absent, so
        # the NEXT converge run re-plans it as a fetch — eventual
        # consistency through idempotent re-runs, exactly the reference's
        # daily-retry semantics.
        dest = os.path.join(root, key)
        try:
            if verdict == "delete":
                if os.path.exists(dest):
                    os.remove(dest)
                    return "deleted"
                return "already absent"
            if os.path.exists(dest):
                return "skip (exists)"
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            fetcher(url, dest)
            return "fetched"
        except Exception as e:  # noqa: BLE001 — isolate ANY per-file failure
            return f"failed ({type(e).__name__})"

    def _worker(batches):
        import pyarrow as pa

        counts: dict[str, int] = {}
        samples: dict[str, list[str]] = {}
        with ThreadPoolExecutor(max_workers=max(1, io_threads)) as pool:
            for batch in batches:
                keys, verdicts, urls = (
                    batch.column(c).to_pylist() for c in ("key", "verdict", "url")
                )
                for key, action in zip(keys, pool.map(_one, keys, verdicts, urls)):
                    counts[action] = counts.get(action, 0) + 1
                    samples.setdefault(action, []).append(key)
                for action, sample in samples.items():
                    samples[action] = sorted(sample)[:sample_cap]
        if counts:
            actions = sorted(counts)
            yield pa.RecordBatch.from_pydict(
                {
                    "action": actions,
                    "n": [counts[a] for a in actions],
                    "sample": [samples[a] for a in actions],
                },
                schema=pa.schema(
                    [("action", pa.string()), ("n", pa.int64()),
                     ("sample", pa.list_(pa.string()))]
                ),
            )

    return _worker


def copy_fetcher(chunk_bytes: int = 8 * 1024 * 1024) -> Callable[[str, str], None]:
    """A bounded-memory streamed copy (the worker's 8 MiB chunk loop,
    fetch-canvas-data-file.py:20,33-38) for file:// urls — the test double
    for the HTTPS streamer."""

    def _fetch(url: str, dest: str) -> None:
        src = url.removeprefix("file://")
        with open(src, "rb") as fin, open(dest, "wb") as fout:
            while True:
                chunk = fin.read(chunk_bytes)
                if not chunk:
                    break
                fout.write(chunk)

    return _fetch
