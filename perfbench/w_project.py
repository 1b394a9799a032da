"""`project` workload: projection maintenance on Spark.

The input is a seeded event log over Zipf-sized streams, its payloads
serialized by the library's event model.  Set-up lays it down as store
fragments of a ParquetEventStore, initializes the store and compacts it.
One untimed rebuild warms the JVM and the Python workers.  Phase A
rebuilds the projection from the whole log once more, timed, with
ProjectionsRebuildProcessor (distributed mode) into a
ParquetProjectionRepository.  Phase B, for the measuring time, runs
SparkStreamingProjectionsObserver.start() while the benchmark appends on
a fixed open-loop schedule of APPEND_RATE, and measures each append's
lag: from append_to_stream returning to the end of the micro-batch that
folded its fragment (the fragment-to-batch map comes from the file-source
log in the observer's checkpoint).  Reported: throughput is rebuilt
events per second, p50_ms the median live micro-batch that started while
the schedule ran.

Why: streaming projection maintenance is the library's central
engineering, and this snapshot is what the query workload only reads.

APPEND_RATE is a quarter of the sustainable rate measured on a 4-core
host (traced 8 s runs, two seeds per rate).  Up to 32 appends/s the
micro-batch stays at 2.5-3.1 s, lag p50 at 3.8-5.0 s and the fragments
left unpicked at the schedule's end (streaming.backlog_end) at 4-66.  At
48/s lag p50 rises to 7.7-8.8 s and the backlog to 208-224, at 64/s to
9.7-9.8 s and 280-334: the observer falls behind.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import os
import time
from statistics import median

from perfbench import gen
from perfbench.probes import SparkJobs, percentile
from perfbench.tracing import NullTracer

N_EVENTS = 12_000
N_STREAMS = 1_000
N_FRAGMENTS = 4
SETUP_REPS = 11
APPEND_RATE = 8.0  # appends/s in phase B; sustainable: about 32/s
DRAIN_TIMEOUT_S = 60.0
USER = {"userId": "perfbench"}


def _log_table(rows):
    """Generated log rows as a table in the event store's physical schema,
    payloads serialized by the library's event model."""
    import pyarrow as pa

    from cloudfabric_eventsourcing_spark.benchmarks import BENCH_PARTITION, BenchValueEvent
    from cloudfabric_eventsourcing_spark.eventstore.store import _ARROW_SCHEMA

    cols = {name: [] for name in _ARROW_SCHEMA.names}
    for eid, sid, version, ts, kind, value in rows:
        payload = BenchValueEvent(aggregate_id=sid, partition_key=BENCH_PARTITION,
                                  timestamp=ts, kind=kind, value=value).payload_json()
        for name, v in (("id", eid), ("partition_key", BENCH_PARTITION),
                        ("created_at", ts), ("stream_id", sid),
                        ("stream_version", version), ("event_type", "BenchValueEvent"),
                        ("event_data", payload), ("user_info", "{}"),
                        ("eventstore_schema_version", 1)):
            cols[name].append(v)
    return pa.table(cols, schema=_ARROW_SCHEMA)


def _write_store(table, path: str):
    """Lay the log down as N_FRAGMENTS chronological store fragments, then
    let the store compact them."""
    import pyarrow.parquet as pq

    from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FRAGMENTS)
    for k in range(N_FRAGMENTS):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k + 1:020d}-seedlog.parquet"))
    store = ParquetEventStore(path)
    store.initialize()
    store.compact()
    return store


class _Projection:
    """Fresh state store + ParquetProjectionRepository + rebuild processor
    over one store."""

    def __init__(self, spark, store, path: str, tracer) -> None:
        from cloudfabric_eventsourcing_spark.benchmarks import BenchUserStatsBuilder, bench_schema
        from cloudfabric_eventsourcing_spark.eventstore import InMemoryMetadataRepository
        from cloudfabric_eventsourcing_spark.projections import (
            IndexSelector,
            ParquetProjectionRepository,
            ProjectionIndexStateStore,
            ProjectionsEngine,
            ProjectionsRebuildProcessor,
        )

        self.state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        self.raw_repo = ParquetProjectionRepository(bench_schema(), self.state, path, spark=spark)
        self.raw_repo.ensure_index()
        self.repo = tracer.wrap(self.raw_repo, "projections",
                                ("overwrite_from_df", "merge_from_df"))
        self.path = path

        def factory(_index_name):
            engine = ProjectionsEngine(store)
            engine.add_projection_builder(
                BenchUserStatsBuilder(self.repo, IndexSelector.ProjectionRebuild))
            return engine

        self.processor = tracer.wrap(
            ProjectionsRebuildProcessor(self.state, factory, store, spark=spark,
                                        mode="distributed"),
            "projections", ("rebuild_projections_that_require_rebuild",))
        self.builder_cls, self.selector = BenchUserStatsBuilder, IndexSelector

    def rebuild(self) -> None:
        done = self.processor.rebuild_projections_that_require_rebuild()
        if len(done) != 1:
            raise RuntimeError(f"rebuild processor rebuilt {done!r}")


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _projection_matches_store(spark, store, repo) -> tuple[bool, str]:
    """Hash-compare the projection with a Spark SQL groupBy fold of the
    store (the builder's per-stream counters, recomputed declaratively)."""
    from pyspark.sql import functions as F

    ev = store.to_df(spark)
    kind = F.get_json_object("event_data", "$.kind")
    value = F.get_json_object("event_data", "$.value").cast("double")
    expected = ev.groupBy(
        F.col("stream_id").alias("Id"), F.col("partition_key").alias("PartitionKey")
    ).agg(
        F.sum((kind == "purchase").cast("long")).alias("Purchases"),
        F.count(F.lit(1)).alias("NEvents"),
        F.sum(F.round(value * 100).cast("long")).alias("ValueCents"),
    )
    cols = ["Id", "PartitionKey", "Purchases", "NEvents", "ValueCents"]
    want = [tuple(r) for r in expected.select(*cols).collect()]
    got = [tuple(r) for r in repo.to_df().select(*cols).collect()]
    a, b = _digest(want), _digest(got)
    return a == b, f"{len(got)} docs (hash {b[:12]}) vs fold {len(want)} (hash {a[:12]})"


def _progress_start(p: dict) -> float:
    start = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=datetime.timezone.utc).timestamp()


def _progress_end(p: dict) -> float:
    return _progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _fragment_batches(checkpoint: str) -> dict[str, int]:
    """fragment file name -> micro-batch id, from the file-source log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _committed(checkpoint: str) -> set[int]:
    return {int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()}


def run(ctx, res) -> None:
    from cloudfabric_eventsourcing_spark.benchmarks import BENCH_PARTITION, BenchValueEvent
    from cloudfabric_eventsourcing_spark.streaming import SparkStreamingProjectionsObserver

    spark, tr = ctx.spark, ctx.tracer
    # the seeded log as the store's physical table: input generation, so
    # untimed; serializing payloads is the command workload's concern
    table = _log_table(gen.event_log(ctx.seed, N_EVENTS, N_STREAMS))

    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        store = _write_store(table, ctx.path(f"events-{rep}"))
        setups.append(time.perf_counter() - t0)
    res.setup_s = median(setups)
    ctx.log("project: set-up done")

    # warm-up: one untimed rebuild of the whole log starts the Python
    # workers and compiles the rebuild's plans and the JVM's hot paths, so
    # the timed rebuild below measures the steady cost
    _Projection(spark, store, ctx.path("warm-proj"), NullTracer()).rebuild()
    ctx.log("project: warm-up done")

    jobs = SparkJobs(spark) if tr.enabled else None
    windows = []
    t_window = time.time()

    # -- phase A: full distributed rebuild --------------------------------
    res.phases.append("project.rebuild")
    proj = _Projection(spark, store, ctx.path("proj"), tr)
    res.attempted += 1
    with tr.span("project.rebuild"):
        t0 = time.perf_counter()
        try:
            proj.rebuild()
        except Exception as exc:  # noqa: BLE001 - counted
            res.fail(exc)
            res.gate(False, "project: the rebuild failed")
            return
        rebuild_s = time.perf_counter() - t0
    ctx.log(f"project: rebuild {rebuild_s:.3f} s")
    windows.append((t_window, time.time()))
    ok, msg = _projection_matches_store(spark, store, proj.raw_repo)
    ctx.log("project: rebuild gate done")
    res.gate(ok, f"project: rebuilt projection differs from the store fold: {msg}")

    # -- phase B: live maintenance under an open-loop append schedule -----
    checkpoint = ctx.path("observer-checkpoint")
    engine_builder = proj.builder_cls(proj.repo, proj.selector.Write)
    from cloudfabric_eventsourcing_spark.projections import ProjectionsEngine

    engine = ProjectionsEngine(store)
    engine.add_projection_builder(engine_builder)
    observer = SparkStreamingProjectionsObserver(
        spark, store, engine, checkpoint, date_from=gen.LIVE_TS)
    query = observer.start()
    try:
        # the first micro-batch lists the seeded fragments (all older than
        # LIVE_TS); the schedule starts once it has committed
        t_wait = time.perf_counter() + DRAIN_TIMEOUT_S
        while not (os.path.isdir(os.path.join(checkpoint, "commits"))
                   and _committed(checkpoint)):
            if time.perf_counter() > t_wait:
                raise TimeoutError("observer never committed its first batch")
            time.sleep(0.05)
        startup_batches = {p["batchId"] for p in query.recentProgress}
        ctx.log("project: observer running")

        live_store = tr.wrap(store, "eventstore", ("append_to_stream",))
        versions: dict[str, int] = {}
        for sid, version in zip(table.column("stream_id").to_pylist(),
                                table.column("stream_version").to_pylist()):
            versions[sid] = max(versions.get(sid, 0), version)
        appends = gen.live_appends(ctx.seed, N_STREAMS)
        seen = set(os.listdir(store.path))
        returned: dict[str, float] = {}  # fragment -> epoch append returned
        late_max = 0.0
        res.phases.append("project.live")
        t_window = time.time()
        with tr.span("project.live"):
            t0 = time.perf_counter()
            n = int(ctx.seconds * APPEND_RATE)
            for i in range(n):
                due = t0 + i / APPEND_RATE
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
                late_max = max(late_max, time.perf_counter() - due)
                sid, kind, value, ts = next(appends)
                event = BenchValueEvent(aggregate_id=sid, partition_key=BENCH_PARTITION,
                                        timestamp=ts, kind=kind, value=value)
                res.attempted += 1
                try:
                    live_store.append_to_stream(USER, sid, versions.get(sid, 0), [event])
                except Exception as exc:  # noqa: BLE001 - counted
                    res.fail(exc)
                    continue
                done_at = time.time()
                versions[sid] = versions.get(sid, 0) + 1
                now_files = set(os.listdir(store.path))
                for name in now_files - seen:
                    if name.startswith("part-"):
                        returned[name] = done_at
                seen = now_files
        schedule_end = time.time()
        picked_at_end = _fragment_batches(checkpoint)

        # drain: wait until every appended fragment sits in a committed
        # batch whose progress report has been published (it follows the
        # commit)
        t_wait = time.perf_counter() + DRAIN_TIMEOUT_S
        while True:
            batch_of = _fragment_batches(checkpoint)
            committed = _committed(checkpoint)
            progress = {p["batchId"]: p for p in query.recentProgress}
            pending = [f for f in returned
                       if batch_of.get(f) not in committed or batch_of[f] not in progress]
            if not pending or time.perf_counter() > t_wait:
                break
            time.sleep(0.05)
        windows.append((t_window, time.time()))
        ctx.log("project: live phase drained")
    finally:
        observer.stop()

    lags = []
    for frag in pending:
        res.fail(TimeoutError(f"{frag} was not folded within {DRAIN_TIMEOUT_S} s"))
    for frag, at in returned.items():
        if frag not in pending:
            lags.append(_progress_end(progress[batch_of[frag]]) - at)
    ok, msg = _projection_matches_store(spark, store, proj.raw_repo)
    ctx.log("project: live gate done")
    res.gate(ok, f"project: live projection differs from the store fold: {msg}")
    live = [p for bid, p in sorted(progress.items())
            if bid not in startup_batches and p.get("numInputRows")]
    # the gated median is over batches that started under the append
    # schedule; the drain's last batches run without it and with a
    # remainder of rows, so their share would vary from run to run
    loaded_ms = [p["durationMs"].get("triggerExecution", 0) for p in live
                 if _progress_start(p) < schedule_end]
    if not lags or not loaded_ms:
        res.gate(False, "project: no live append was folded under the schedule")
        return

    res.throughput = N_EVENTS / rebuild_s
    # the median live micro-batch: the lag's own median also carries where
    # appends fall within a batch cycle, and ran no steadier between runs
    res.p50_ms = median(loaded_ms)
    res.named.update({
        "project.rebuild_events_per_s": (res.throughput, "1/s"),
        "project.live_batch_p50_ms": (res.p50_ms, "ms"),
        "project.lag_p50_s": (percentile(lags, 50), "s"),
        "project.lag_p95_s": (percentile(lags, 95), "s"),
        "project.appends": (len(lags), "count"),
        "project.append_rate": (APPEND_RATE, "1/s"),
    })

    if tr.enabled:
        from perfbench.context import timing_layer

        layers = res.layers
        layers.update(timing_layer(tr, "eventstore.append_to_stream", "eventstore.append"))
        frags = glob.glob(os.path.join(store.path, "part-*.parquet"))
        layers["eventstore.fragments_end"] = len(frags)
        layers["eventstore.bytes_per_event"] = (
            sum(os.path.getsize(f) for f in frags)
            / max(1, N_EVENTS + len(returned)))
        layers["projections.rebuild_s"] = rebuild_s
        layers["projections.rebuild_jobs"] = len(jobs.jobs(*windows[0]))
        merges = tr.durations("projections.merge_from_df")
        layers["projections.merge_calls"] = len(merges)
        layers["projections.merge_busy_s"] = sum(merges)
        layers["projections.snapshot_bytes"] = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(proj.path, "**", "*.parquet"), recursive=True))
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in live)  # noqa: E731
        layers["streaming.batches"] = len(live)
        layers["streaming.batch_p50_ms"] = res.p50_ms
        layers["streaming.add_batch_ms_sum"] = dur("addBatch")
        layers["streaming.latest_offset_ms_sum"] = dur("latestOffset")
        layers["streaming.query_planning_ms_sum"] = dur("queryPlanning")
        layers["streaming.wal_commit_ms_sum"] = dur("walCommit")
        # appended fragments no micro-batch had picked up when the
        # schedule ended: bounded at a sustainable rate, growing otherwise
        layers["streaming.backlog_end"] = sum(
            1 for frag in returned if frag not in picked_at_end)
        layers["streaming.generator_late_ms_max"] = late_max * 1000.0
        layers.update(jobs.summary(windows))
