"""`curate` workload: LLM-data dedup operators on Spark.

The input is a seeded text corpus with planted near-duplicate families.
Phase A (batch) runs dedup.minhash_lsh_pairs with the p04 configuration
of the headline suite, then graph.duplicate_clusters.  Phase B (stream)
drains the same corpus through streaming.curation.curate_stream from a
cold index in fixed micro-batches (one source file per trigger).
Reported: throughput is documents curated per second over both phases;
p50_ms is the median stream micro-batch.

Why: operators/ is over half the library and no other workload touches
it; the gate checks that both phases recover exactly the planted
families.
"""

from __future__ import annotations

import os
import time
from statistics import median

from perfbench import gen
from perfbench.probes import SparkJobs, percentile
from perfbench.tracing import NullTracer

N_DOCS, N_FAMILIES, FAMILY_SIZE = 1_000, 40, (2, 5)
WARM = (200, 8)  # warm-up corpus: docs, families
N_FILES = 2  # micro-batches in phase B
SETUP_REPS = 3
STREAM_TIMEOUT_S = 120
P04 = dict(threshold=0.9, num_perm=128, bands=32, max_bucket_size=512,
           broadcast_grams=True, materialize=True)


def _write_source(docs, path: str) -> None:
    """The corpus as N_FILES parquet files, one micro-batch each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for k in range(N_FILES):
        part = docs[k::N_FILES]
        pq.write_table(
            pa.table({"doc_id": pa.array([d[0] for d in part], pa.int64()),
                      "text": pa.array([d[1] for d in part], pa.string())}),
            os.path.join(path, f"part-{k:03d}.parquet"))


def _prepare(spark, docs, path: str) -> None:
    """Set-up: source files and a cold (empty) MinHash index."""
    from cloudfabric_eventsourcing_spark.operators import dedup

    _write_source(docs, os.path.join(path, "incoming"))
    dedup.save_minhash_index(spark.createDataFrame([], "doc_id long, text string"),
                             os.path.join(path, "index"))


def _warm_up(ctx) -> None:
    """The batch phase once on a small corpus of another seed, untimed, so
    Python workers and codegen are ready before anything is measured."""
    warm_docs, _ = gen.corpus(ctx.seed + 1, WARM[0], WARM[1], FAMILY_SIZE)
    _batch(ctx.spark, warm_docs, NullTracer())
    ctx.log("curate: warm-up done")


def _batch(spark, docs, tr, jobs=None):
    """Phase A: (pairs, clusters as {cluster_id: {doc ids}}, cc_jobs)."""
    from cloudfabric_eventsourcing_spark.operators import dedup, graph

    df = spark.createDataFrame(docs, "doc_id long, text string")
    with tr.span("operators.minhash_lsh_pairs"):
        pairs = dedup.minhash_lsh_pairs(df, **P04).persist()
        n_pairs = pairs.count()
    e0 = time.time()
    with tr.span("operators.duplicate_clusters"):
        rows = graph.duplicate_clusters(pairs).collect()
    cc_jobs = len(jobs.jobs(e0, time.time())) if jobs else 0
    pairs.unpersist()
    clusters: dict[int, set] = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    return n_pairs, clusters, cc_jobs


def _stream(spark, path: str, tr):
    """Phase B: drain the source files; returns (accepted ids, progress)."""
    from cloudfabric_eventsourcing_spark.streaming.curation import curate_stream

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(path, "incoming")))
    corpus_out = os.path.join(path, "corpus")
    with tr.span("curation.curate_stream"):
        query = curate_stream(stream, os.path.join(path, "index"), corpus_out,
                              os.path.join(path, "checkpoint"), threshold=P04["threshold"])
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            query.stop()
            raise TimeoutError("curate_stream did not drain")
    progress = [p for p in query.recentProgress if p.get("numInputRows")]
    accepted = {r["doc_id"] for r in spark.read.parquet(corpus_out).select("doc_id").collect()}
    return accepted, progress


def _families_ok(families, clusters: dict) -> bool:
    return sorted(sorted(c) for c in clusters.values()) == sorted(sorted(f) for f in families)


def _stream_ok(docs, families, accepted: set) -> bool:
    members = {m for f in families for m in f}
    singles = {d[0] for d in docs} - members
    return singles <= accepted and all(
        len(accepted.intersection(f)) == 1 for f in families
    ) and len(accepted) == len(singles) + len(families)


def _measure(ctx, res, docs, families, path: str):
    """Both phases on one prepared corpus, each a root span; checks their
    outputs and fills the operators/curation layers when traced.  Returns
    (batch seconds, stream seconds, stream micro-batch milliseconds,
    the phases' wall-clock windows)."""
    tr = ctx.tracer
    jobs = SparkJobs(ctx.spark) if tr.enabled else None
    windows = []
    t_window = time.time()
    res.phases.append("curate.batch")
    res.attempted += 1
    with tr.span("curate.batch"):
        t0 = time.perf_counter()
        try:
            n_pairs, clusters, cc_jobs = _batch(ctx.spark, docs, tr, jobs)
        except Exception as exc:  # noqa: BLE001 - counted
            res.fail(exc)
            n_pairs, clusters, cc_jobs = 0, {}, 0
        batch_s = time.perf_counter() - t0
    windows.append((t_window, time.time()))
    ctx.log("curate: batch phase done")
    res.gate(_families_ok(families, clusters),
             f"curate: batch clusters {len(clusters)} != planted families {len(families)}")

    res.phases.append("curate.stream")
    t_window = time.time()
    res.attempted += 1
    with tr.span("curate.stream"):
        t0 = time.perf_counter()
        try:
            accepted, progress = _stream(ctx.spark, path, tr)
        except Exception as exc:  # noqa: BLE001 - counted
            res.fail(exc)
            accepted, progress = set(), []
        stream_s = time.perf_counter() - t0
    windows.append((t_window, time.time()))
    ctx.log("curate: stream phase done")
    res.gate(_stream_ok(docs, families, accepted),
             f"curate: stream kept {len(accepted)} docs, expected one per family "
             f"plus every unrelated doc")
    res.gate(bool(progress), "curate: the stream reported no micro-batch")
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    if tr.enabled and progress:
        layers = res.layers
        layers["operators.lsh_pairs_s"] = sum(tr.durations("operators.minhash_lsh_pairs"))
        layers["operators.pairs_out"] = n_pairs
        layers["operators.clusters_s"] = sum(tr.durations("operators.duplicate_clusters"))
        layers["operators.clusters_out"] = len(clusters)
        layers["operators.cc_jobs"] = cc_jobs
        layers["curation.batches"] = len(progress)
        layers["curation.batch_p50_ms"] = percentile(batch_ms, 50)
        layers["curation.add_batch_ms_sum"] = sum(
            p["durationMs"].get("addBatch", 0) for p in progress)
        layers["curation.kept"] = len(accepted)
        layers["curation.rejected"] = N_DOCS - len(accepted)
    return batch_s, stream_s, batch_ms, windows


def trace_layers(ctx, res) -> None:
    """The operators and curation layers for another workload's traced run:
    one prepared corpus, both phases measured, no end-to-end figures."""
    _warm_up(ctx)
    docs, families = gen.corpus(ctx.seed, N_DOCS, N_FAMILIES, FAMILY_SIZE)
    _prepare(ctx.spark, docs, ctx.path("curate"))
    _measure(ctx, res, docs, families, ctx.path("curate"))


def run(ctx, res) -> None:
    spark, tr = ctx.spark, ctx.tracer
    docs, families = gen.corpus(ctx.seed, N_DOCS, N_FAMILIES, FAMILY_SIZE)
    _warm_up(ctx)
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        _prepare(spark, docs, ctx.path(f"stream-{rep}"))
        setups.append(time.perf_counter() - t0)
    res.setup_s = median(setups)
    ctx.log("curate: set-up done")

    batch_s, stream_s, batch_ms, windows = _measure(
        ctx, res, docs, families, ctx.path(f"stream-{SETUP_REPS - 1}"))
    if not batch_ms:
        return
    # both phases curate the same corpus; their combined rate is the
    # steadier figure (several seconds of work instead of one short job)
    res.throughput = 2 * N_DOCS / (batch_s + stream_s)
    res.p50_ms = percentile(batch_ms, 50)
    res.named.update({
        "curate.docs_per_s": (res.throughput, "1/s"),
        "curate.batch_docs_per_s": (N_DOCS / batch_s, "1/s"),
        "curate.stream_docs_per_s": (N_DOCS / stream_s, "1/s"),
        "curate.stream_batch_p50_ms": (res.p50_ms, "ms"),
        "curate.stream_batch_max_ms": (max(batch_ms), "ms"),
    })
    if tr.enabled:
        res.layers.update(SparkJobs(spark).summary(windows))
