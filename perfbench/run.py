"""Seeded end-to-end benchmark of cloudfabric_eventsourcing_spark.

    python3 perfbench/run.py --workload {command,project,query,curate,all}
        --seed N --seconds S --trace {0,1}

Workloads (why each exists is in its module docstring) and what the
generic end-to-end figures mean on each:

  workload  module        throughput         p50_ms
  command   w_command.py  commands/s         command latency
  project   w_project.py  rebuild events/s   live micro-batch duration
  query     w_query.py    queries/s          query latency
  curate    w_curate.py   docs/s, 2 phases   stream micro-batch

Each workload also prints its tail (p99 / p95 / p95 / slowest batch) by
name, and project its append-to-fold lag; at this run length the tails
are too few samples deep to gate on.

setup_s is the median of several set-ups of the workload's inputs in the
library's stores.  <workload>.peak_rss_mb, printed by name, is the peak
proportional set size of this process, the Spark JVM and its Python workers
together; it swings with JVM heap growth too much between runs to gate on.

Inputs come only from --seed (perfbench/gen.py).  Each workload measures
for about --seconds, checks its outputs against an independent model, and
the last stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}.  With --trace 0 the metrics are the generic end-to-end figures
of BENCHMARK.json (E2E below); with --trace 1 the per-layer figures of
the traced run (LAYERS below).  Lines before it name every workload metric
with its unit and, when traced, each layer's self time.  The exit code is
0 only when every correctness gate passed and no operation failed.

Runs from any working directory: the checkout root is this file's parent
directory.  Stores, checkpoints, warehouse and Spark scratch live in a
temporary directory under <root>/.perfbench-tmp that is removed at exit;
traced runs write their spans to <root>/.perfbench-out/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_WORKLOADS = ("project", "query", "curate")
WORKLOADS = ("command",) + SPARK_WORKLOADS

#: end-to-end metrics every run reports with --trace 0 (name -> unit)
E2E = {
    "throughput": "1/s",
    "p50_ms": "ms",
    "setup_s": "s",
}

#: per-layer metrics every run reports with --trace 1; a layer the
#: workload does not exercise reads 0
LAYERS = {
    "eventstore.append_calls": "count",
    "eventstore.append_busy_s": "s",
    "eventstore.append_p50_ms": "ms",
    "eventstore.append_p99_ms": "ms",
    "eventstore.load_stream_calls": "count",
    "eventstore.load_stream_busy_s": "s",
    "eventstore.load_stream_p50_ms": "ms",
    "eventstore.load_stream_p99_ms": "ms",
    "eventstore.compact_calls": "count",
    "eventstore.compact_busy_s": "s",
    "eventstore.fragments_end": "count",
    "eventstore.bytes_per_event": "B",
    "eventstore.occ_conflicts": "count",
    "domain.load_busy_s": "s",
    "domain.save_busy_s": "s",
    "domain.fold_self_s": "s",
    "domain.save_self_s": "s",
    "domain.events_folded": "count",
    "projections.rebuild_s": "s",
    "projections.rebuild_jobs": "count",
    "projections.merge_calls": "count",
    "projections.merge_busy_s": "s",
    "projections.snapshot_bytes": "B",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms_sum": "ms",
    "streaming.latest_offset_ms_sum": "ms",
    "streaming.query_planning_ms_sum": "ms",
    "streaming.wal_commit_ms_sum": "ms",
    "streaming.backlog_end": "count",
    "streaming.generator_late_ms_max": "ms",
    "queries.decode_us_p50": "us",
    "plans.plan_build_ms_p50": "ms",
    "plans.jobs_per_query": "count",
    "operators.lsh_pairs_s": "s",
    "operators.pairs_out": "count",
    "operators.clusters_s": "s",
    "operators.clusters_out": "count",
    "operators.cc_jobs": "count",
    "curation.batches": "count",
    "curation.batch_p50_ms": "ms",
    "curation.add_batch_ms_sum": "ms",
    "curation.kept": "count",
    "curation.rejected": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_residual_s": "s",
    "host.py_driver_cpu_s": "s",
    "host.jvm_cpu_s": "s",
    "host.cpu_probe_ms": "ms",
    "host.loadavg_start": "load",
    "host.steal_share": "share",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _import_library() -> None:
    """Fail fast (no result line) when the checkout lacks the library."""
    sys.path.insert(0, ROOT)
    import cloudfabric_eventsourcing_spark  # noqa: F401
    import tests.domain_fixtures  # noqa: F401


def _private_tmp() -> str:
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # library code, pyspark's gateway handshake and the JVM all create
    # scratch files; keep every one of them inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return tmp


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _start_spark(tmp: str):
    from cloudfabric_eventsourcing_spark.session import build_session

    # Python workers must import the library and perfbench
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java_tmp = os.path.join(tmp, "jvm")
    os.makedirs(java_tmp, exist_ok=True)
    # every JVM the launch scripts start: no hsperfdata files in /tmp,
    # scratch files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={java_tmp}"
    n = _cpus()
    return build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={java_tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid() -> int | None:
    from perfbench.probes import process_tree

    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _run_workload(name: str, args, tmp: str, spark):
    from perfbench import probes
    from perfbench.context import Ctx, Result
    from perfbench.tracing import NullTracer, Tracer

    module = __import__(f"perfbench.w_{name}", fromlist=["run"])
    tracer = Tracer() if args.trace else NullTracer()
    weather = probes.host_weather()
    ctx = Ctx(seed=args.seed, seconds=args.seconds, tracer=tracer,
              tmp=os.path.join(tmp, name), spark=spark)
    os.makedirs(ctx.tmp, exist_ok=True)
    res = Result()
    jvm = _jvm_pid()
    cpu0, jvm0 = probes.driver_cpu_seconds(), probes.cpu_seconds(jvm) if jvm else 0.0
    steal0, ticks0 = probes.cpu_ticks()
    with probes.RssSampler() as rss:
        module.run(ctx, res)
    peak_rss = rss.peak_mb
    steal1, ticks1 = probes.cpu_ticks()
    steal_share = (steal1 - steal0) / max(1, ticks1 - ticks0)
    res.layers["host.py_driver_cpu_s"] = probes.driver_cpu_seconds() - cpu0
    res.layers["host.jvm_cpu_s"] = probes.cpu_seconds(jvm) - jvm0 if jvm else 0.0
    res.layers["host.cpu_probe_ms"] = weather["cpu_probe_ms"]
    res.layers["host.loadavg_start"] = weather["loadavg"]
    res.layers["host.steal_share"] = steal_share
    e2e = {
        "throughput": res.throughput,
        "p50_ms": res.p50_ms,
        "setup_s": res.setup_s,
    }
    res.named[f"{name}.failed_share"] = (res.failed / max(1, res.attempted), "share")
    res.named[f"{name}.setup_s"] = (res.setup_s, "s")
    res.named[f"{name}.peak_rss_mb"] = (peak_rss, "MB")
    for key, (value, unit) in res.named.items():
        print(f"{key} {value:.6g} {unit}")
    for msg in res.gate_failures:
        print(f"GATE FAILED {msg}")
    if tracer.enabled:
        _report_trace(name, args, tracer, res)
    print("perfbench-e2e " + json.dumps({
        "workload": name, **e2e, "peak_rss_mb": peak_rss,
        "cpu_probe_ms": weather["cpu_probe_ms"], "loadavg": weather["loadavg"],
        "steal_share": steal_share}))
    return res, e2e


def _report_trace(name: str, args, tracer, res) -> None:
    """Print self time per layer and the residual for each measured phase,
    and write the spans to .perfbench-out/."""
    for phase in res.phases:
        root = tracer.root_index(phase)
        wall = tracer.spans[root][2] - tracer.spans[root][1]
        selfs = tracer.self_times(root)
        residual = selfs.pop(phase, 0.0)
        by_layer: dict[str, float] = {}
        for span, secs in selfs.items():
            layer = span.split(".", 1)[0]
            by_layer[layer] = by_layer.get(layer, 0.0) + secs
        print(f"trace {phase}: wall {wall:.4f} s")
        for layer, secs in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"trace {phase}:   {layer:<12} self {secs:.4f} s")
        print(f"trace {phase}:   {'residual':<12} self {residual:.4f} s "
              f"(sum {sum(by_layer.values()) + residual:.4f} s)")
    # spans opened on other threads (the streaming engine's micro-batch
    # thread) run concurrently with a phase; they are listed, not summed
    concurrent: dict[str, float] = {}
    for span, start, end, parent in tracer.spans:
        if parent == -1 and span not in res.phases and end is not None:
            concurrent[span] = concurrent.get(span, 0.0) + end - start
    for span, secs in sorted(concurrent.items()):
        print(f"trace concurrent: {span} busy {secs:.4f} s")
    out = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"spans-{name}-seed{args.seed}.jsonl"))


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        _import_library()
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench.context import Ctx

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    tmp = _private_tmp()
    spark = None
    results = []
    try:
        for name in names:
            if name in SPARK_WORKLOADS and spark is None:
                spark = _start_spark(tmp)
                Ctx.log("spark session ready")
            results.append((name,) + _run_workload(name, args, tmp, spark))
    finally:
        if spark is not None:
            _stop_spark(spark)
            Ctx.log("spark stopped")
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is live
            os.rmdir(os.path.dirname(tmp))

    correct = all(not r.gate_failures for _, r, _ in results)
    attempted = sum(r.attempted for _, r, _ in results)
    failed = sum(r.failed for _, r, _ in results)
    if args.workload == "all":
        metrics = {k: {"value": v, "unit": u}
                   for _, r, _ in results for k, (v, u) in r.named.items()}
    elif args.trace:
        layers = results[0][1].layers
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYERS.items()}
    else:
        e2e = results[0][2]
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(3)
