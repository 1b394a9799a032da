"""`query` workload: the ProjectionQuery read path on Spark.

Set-up writes a seeded document projection (text fields, numbers, a
timestamp, a tag array and a nested item array) into a
ParquetProjectionRepository.  WARM_ROUNDS untimed rounds of another
seed's mix follow, so every run measures after the same number of
queries.  The load is a closed loop with one client:
whole rounds of every query template, each round in a seeded order with
seeded parameters, until the measuring time has passed, so each run sees
the same template mix.  Every query goes through
querystring.serialize_query -> deserialize_query -> repository.query; the
wire format carries neither the scoring profile nor facet requests, so
the receiving side re-attaches them, as a service configuring them would.

Why: selective templates are dominated by the fixed per-query cost
(planning, py4j, job scheduling) and scan/search templates add executor
work, so changes to either show.  At N_DOCS the fixed cost still
dominates every template (executor time is a small share of a traced
run's wall); a larger projection would not fit the run-time budget.  The correctness gate replays a seeded
sample of the run's queries on InMemoryProjectionRepository (the
pure-Python evaluator) over the same documents, outside the timed loop.
"""

from __future__ import annotations

import datetime
import random
import time
from statistics import median

from perfbench import gen
from perfbench.probes import SparkJobs, percentile

N_DOCS = 8_000
SETUP_REPS = 11
GATE_SAMPLE = 6
WARM_ROUNDS = 2  # untimed rounds of the mix before measuring


def doc_schema():
    from cloudfabric_eventsourcing_spark.schema import (
        ARRAY, DATETIME, DOUBLE, INT64, STRING, ProjectionSchema, PropertySchema,
    )

    return ProjectionSchema("perfbench_products", [
        PropertySchema("Id", STRING, is_key=True, is_sortable=True),
        PropertySchema("PartitionKey", STRING, is_filterable=True),
        PropertySchema("Title", STRING, is_searchable=True, is_filterable=True,
                       is_sortable=True),
        PropertySchema("Body", STRING, is_searchable=True, is_filterable=True),
        PropertySchema("Category", STRING, is_filterable=True, is_sortable=True,
                       is_facetable=True),
        PropertySchema("Price", DOUBLE, is_filterable=True, is_sortable=True,
                       is_facetable=True),
        PropertySchema("Views", INT64, is_filterable=True, is_sortable=True),
        PropertySchema("CreatedAt", DATETIME, is_filterable=True, is_sortable=True),
        PropertySchema("Tags", ARRAY, is_filterable=True, array_element_type=STRING),
        PropertySchema("Items", ARRAY, is_filterable=True, nested_properties=[
            PropertySchema("Sku", STRING, is_filterable=True),
            PropertySchema("Qty", INT64, is_filterable=True),
        ]),
    ])


def build_query(template: str, p: dict):
    """(ProjectionQuery, partition_key) for one generated spec.  Every
    template pages with a total order (Id breaks ties), so the Spark and
    in-memory results compare record by record."""
    from cloudfabric_eventsourcing_spark.queries import (
        Filter, FilterConnector, P, ProjectionQuery, SortInfo,
    )

    by_id = SortInfo("Id")
    q, pk = ProjectionQuery(limit=50, order_by=[by_id]), None
    if template == "point":
        pk = p["tenant"]
        q.filters = [Filter("Category", "eq", p["category"]),
                     Filter("Tags", "array-contains", p["tag"])]
    elif template == "range":
        q.filters = [
            Filter("Price", "ge", p["lo"]), Filter("Price", "le", p["hi"]),
            Filter("CreatedAt", "gt", gen.BASE_TS + datetime.timedelta(minutes=p["after"])),
            Filter("Views", "ge", p["views"]),
        ]
        q.order_by = [SortInfo("Price"), by_id]
    elif template == "tree":
        cats = Filter("Category", "eq", p["cats"][0]).or_("Category", "eq", p["cats"][1])
        inner = Filter("Views", "gt", p["views"]).and_("Tags", "array-contains", p["tag"])
        cheap = Filter("Price", "lt", p["price"])
        cheap.filters.append(FilterConnector("or", inner))
        q.filters = [cats, cheap]
        q.order_by = [SortInfo("Views", "desc"), by_id]
    elif template == "ignore_case":
        q.filters = [P("Title").startswith(p["prefix"], ignore_case=True)
                     | P("Body").contains(p["word"], ignore_case=True)]
    elif template == "any_tags":
        q.filters = [P("Items").any((P("Sku") == p["sku"]) | (P("Qty") >= p["qty"]))
                     & P("Tags").array_contains(p["tag"])]
    elif template in ("search", "search_tf"):
        q.search_text, q.limit = p["text"], p["limit"]
        if template == "search_tf":
            q.order_by = []  # relevance order: score desc, then Id
        else:
            q.order_by = [SortInfo("CreatedAt", "desc"), by_id]
    elif template == "sorted_page":
        pk = p["tenant"]
        q.order_by = [SortInfo("Category"), SortInfo("Price", "desc"), by_id]
        q.offset, q.limit = p["offset"], p["limit"]
    elif template == "facets":
        q.filters = [Filter("Tags", "array-contains", p["tag"]), Filter("Price", "ge", p["lo"])]
        q.limit = 10
    else:
        raise ValueError(template)
    return q, pk


def _server_side(template: str, decoded):
    """Options the wire format does not carry, set by the receiving side."""
    from cloudfabric_eventsourcing_spark.queries import FacetInfoRequest

    if template == "search_tf":
        decoded.scoring_profile = "tf"
    if template == "facets":
        decoded.facet_info_to_return = [
            FacetInfoRequest("Category"),
            FacetInfoRequest("Price", ranges=[10.0, 100.0, 500.0]),
        ]
    return decoded


def _norm(value):
    if isinstance(value, dict):
        return {k: _norm(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_norm(v) for v in value]
    if isinstance(value, float):
        return round(value, 6)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    return value


def _result_key(result) -> tuple:
    return (result.total_records_found,
            [(_norm(r.document), round(r.score, 6)) for r in result.records])


def _filled(repo, docs: list[dict]):
    """Register the index, mark it built and upsert every tenant's docs."""
    schema = repo.schema
    repo.ensure_index()
    repo.state_store.update_rebuild_progress(
        schema.schema_name, schema.index_name(), 0, completed=True)
    for tenant in gen.TENANTS:
        repo.upsert_batch([d for d in docs if d["PartitionKey"] == tenant], tenant)
    return repo


def _state():
    from cloudfabric_eventsourcing_spark.eventstore import InMemoryMetadataRepository
    from cloudfabric_eventsourcing_spark.projections import ProjectionIndexStateStore

    return ProjectionIndexStateStore(InMemoryMetadataRepository())


def _warm_up(repo, seed: int) -> None:
    """WARM_ROUNDS untimed whole rounds of another seed's mix."""
    specs = gen.query_specs(seed)
    for _ in range(WARM_ROUNDS * len(gen.TEMPLATES)):
        template, p = next(specs)
        q, pk = build_query(template, p)
        repo.query(_server_side(template, q), partition_key=pk)


def run(ctx, res) -> None:
    from cloudfabric_eventsourcing_spark.plans import translator
    from cloudfabric_eventsourcing_spark.projections import (
        InMemoryProjectionRepository, ParquetProjectionRepository,
    )
    from cloudfabric_eventsourcing_spark.queries import querystring

    spark, tr = ctx.spark, ctx.tracer
    docs = gen.documents(ctx.seed, N_DOCS)
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        raw_repo = _filled(ParquetProjectionRepository(
            doc_schema(), _state(), ctx.path(f"projection-{rep}"), spark=spark), docs)
        setups.append(time.perf_counter() - t0)
    res.setup_s = median(setups)
    ctx.log("query: set-up done")
    # set-up ran on a cold JVM (its median is of warm reps); the query
    # path keeps speeding up over its first few dozen queries as the JVM
    # compiles it, so every run measures after the same number of them
    _warm_up(raw_repo, ctx.seed + 1)
    ctx.log("query: warm-up done")
    repo = tr.wrap(raw_repo, "projections", ("query",))
    schema = doc_schema()
    specs = gen.query_specs(ctx.seed)  # the measured mix starts a round
    jobs = SparkJobs(spark) if tr.enabled else None
    sc = spark.sparkContext
    lat, run_log = [], []
    t_window = time.time()
    res.phases.append("query")
    with tr.span("query"):
        t_start = time.perf_counter()
        deadline = t_start + ctx.seconds
        # whole rounds only, so every run measures the same template mix
        while time.perf_counter() < deadline or res.attempted % len(gen.TEMPLATES):
            template, p = next(specs)
            query, pk = build_query(template, p)
            res.attempted += 1
            group = f"perfbench-q{res.attempted}"
            if jobs:
                sc.setJobGroup(group, template)
            t0 = time.perf_counter()
            try:
                with tr.span("queries.serialize_query"):
                    wire = querystring.serialize_query(query)
                with tr.span("queries.deserialize_query"):
                    decoded = _server_side(template, querystring.deserialize_query(wire))
                result = repo.query(decoded, partition_key=pk)
            except Exception as exc:  # noqa: BLE001 - counted
                res.fail(exc)
                continue
            lat.append(time.perf_counter() - t0)
            run_log.append((template, p, wire, result, group, decoded, pk))
        wall = time.perf_counter() - t_start
    if jobs:
        sc.setLocalProperty("spark.jobGroup.id", None)
    t_window_end = time.time()

    if jobs:
        # probes after the measured window, so neither the phase wall nor
        # the spark.* window pays for them: one status-store pass for the
        # jobs of every query's group, then each decoded query's plan built
        # again without an action
        per_group: dict[str, int] = {}
        for job in jobs.jobs(t_window, t_window_end):
            per_group[job[1]] = per_group.get(job[1], 0) + 1
        jobs_per_q = [per_group.get(group, 0) for *_, group, _, _ in run_log]
        plan_ms = []
        for *_, decoded, pk in run_log:
            t0 = time.perf_counter()
            translator.apply_query(raw_repo.to_df(), decoded, schema, pk)
            plan_ms.append((time.perf_counter() - t0) * 1000.0)

    ctx.log("query: measured phase done")
    # gate: a seeded sample of the executed queries, replayed on the
    # in-memory repository (pyeval) over the same documents
    oracle = _filled(InMemoryProjectionRepository(doc_schema(), _state()), docs)
    pick = random.Random(f"query-gate:{ctx.seed}")
    for template, p, wire, result, *_ in pick.sample(run_log, min(GATE_SAMPLE, len(run_log))):
        _, pk = build_query(template, p)
        want = oracle.query(_server_side(template, querystring.deserialize_query(wire)),
                            partition_key=pk)
        res.gate(_result_key(result) == _result_key(want),
                 f"query: {template} {wire!r} differs from the in-memory evaluator "
                 f"({result.total_records_found} vs {want.total_records_found} found)")
    ctx.log("query: gate done")
    if not lat:
        res.gate(False, "query: no query completed")
        return

    res.throughput = len(lat) / wall
    res.p50_ms = median(lat) * 1000.0
    res.named.update({
        "query.latency_p50_ms": (res.p50_ms, "ms"),
        "query.latency_p95_ms": (percentile(lat, 95) * 1000.0, "ms"),
        "query.queries_per_s": (res.throughput, "1/s"),
        "query.queries": (len(lat), "count"),
    })
    by_template: dict[str, list] = {}
    for (template, *_), secs in zip(run_log, lat):
        by_template.setdefault(template, []).append(secs)
    for template in gen.TEMPLATES:
        if template in by_template:
            res.named[f"query.{template}_p50_ms"] = (
                percentile(by_template[template], 50) * 1000.0, "ms")
    if tr.enabled:
        decode_us = [d * 1e6 for d in tr.durations("queries.deserialize_query")]
        res.layers["queries.decode_us_p50"] = percentile(decode_us, 50)
        res.layers["plans.plan_build_ms_p50"] = percentile(plan_ms, 50)
        res.layers["plans.jobs_per_query"] = median(jobs_per_q)
        res.layers.update(jobs.summary([(t_window, t_window_end)]))
        # BENCHMARK.json lists no curate workload (its runs do not fit the
        # run-time budget next to these three); its layers ride along in
        # this traced run, after everything above is measured
        from perfbench import w_curate

        w_curate.trace_layers(ctx, res)
