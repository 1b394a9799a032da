"""`command` workload: aggregate commands on a fresh ParquetEventStore.

Spark-free, closed loop, one client.  Most commands are the reference's
only published scenario (place an order, reload it, add about 100 items,
save, reload); the rest amend an earlier order picked with Zipf skew, so
point reads span compacted and fresh fragments.  `compact()` runs every
64 commands inside the command that triggers it, so compaction stalls
land in the latency tail rather than the median.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import time
from statistics import median

from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import (
    OptimisticConcurrencyError,
    ParquetEventStore,
)
from perfbench import gen
from perfbench.context import timing_layer
from perfbench.probes import percentile
from perfbench.tracing import NullTracer
from tests.domain_fixtures import ORDERS_PARTITION_KEY, Order, OrderItem

COMPACT_EVERY = 64
SETUP_REPS = 11
PRELOAD_OPS = 8  # commands replayed into the store during set-up
USER = {"userId": "perfbench"}


class _Client:
    """Executes generated ops through the repository and keeps the model
    the correctness gate compares against."""

    def __init__(self, store, seed: int) -> None:
        self.raw_store = store
        self.instrument(NullTracer())
        self.ops = gen.command_ops(seed)
        self.orders: dict[int, tuple[str, list]] = {}  # index -> (id, items)
        self.commands = 0
        self.events_folded = 0
        self.conflicts = 0

    def instrument(self, tracer) -> None:
        self.tracer = tracer
        self.store = tracer.wrap(
            self.raw_store, "eventstore", ("append_to_stream", "load_stream", "compact"))
        self.repo = tracer.wrap(
            AggregateRepository(self.store, Order), "domain", ("load", "save"))

    def _item(self, it):
        name, cents, k = it
        return OrderItem(gen.BASE_TS + datetime.timedelta(seconds=k), name,
                         decimal.Decimal(cents) / 100)

    def _load(self, order_id: str):
        agg = self.repo.load(order_id, ORDERS_PARTITION_KEY)
        self.events_folded += agg.version
        return agg

    def _add(self, agg, items) -> None:
        with self.tracer.span("domain.apply"):
            for it in items:
                agg.add_item(self._item(it))

    def step(self) -> None:
        op = next(self.ops)
        try:
            if op[0] == "place":
                _, idx, order_id, name, first, items = op
                self.repo.save(USER, Order(order_id, name, [self._item(first)]))
                agg = self._load(order_id)
                self._add(agg, items)
                self.repo.save(USER, agg)
                agg = self._load(order_id)
                self.orders[idx] = (order_id, [first] + items)
                expect = len(items) + 1
            else:
                _, idx, items = op
                order_id, model = self.orders[idx]
                agg = self._load(order_id)
                self._add(agg, items)
                self.repo.save(USER, agg)
                model.extend(items)
                expect = None
            self.commands += 1
            if self.commands % COMPACT_EVERY == 0:
                self.store.compact()
        except OptimisticConcurrencyError:
            self.conflicts += 1
            raise
        if expect is not None and len(agg.items) != expect:
            raise AssertionError(f"order {order_id}: {len(agg.items)} items, expected {expect}")

    def verify(self) -> list[str]:
        """Reload every aggregate and compare it with the model; check the
        store holds exactly the events appended."""
        errors = []
        expected_events = 0
        repo = AggregateRepository(self.raw_store, Order)
        for idx, (order_id, items) in self.orders.items():
            # one OrderPlaced with the first item, one OrderItemAdded per other item
            expected_events += len(items)
            agg = repo.load(order_id, ORDERS_PARTITION_KEY)
            got = [(i.name, int(i.amount * 100),
                    int((i.added_at - gen.BASE_TS).total_seconds())) for i in agg.items]
            if got != [tuple(i) for i in items] or agg.version != len(items):
                errors.append(f"order {idx} ({order_id}) differs from the model")
        stats = self.raw_store.get_statistics()
        if stats.total_events_count != expected_events:
            errors.append(f"store holds {stats.total_events_count} events, "
                          f"{expected_events} were appended")
        return errors


def _fresh_client(ctx, rep: int):
    """Set-up: a fresh store holding the first PRELOAD_OPS commands."""
    store = ParquetEventStore(ctx.path(f"command-{rep}", "events"))
    store.initialize()
    client = _Client(store, ctx.seed)
    for _ in range(PRELOAD_OPS):
        client.step()
    store.compact()
    return client


def run(ctx, res) -> None:
    setups = []
    client = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        client = _fresh_client(ctx, rep)
        setups.append(time.perf_counter() - t0)
    res.setup_s = median(setups)
    client.instrument(ctx.tracer)

    lat = []
    deadline = time.perf_counter() + ctx.seconds
    res.phases.append("command")
    with ctx.tracer.span("command"):
        t_start = time.perf_counter()
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            res.attempted += 1
            try:
                client.step()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                res.fail(exc)
                continue
            lat.append(time.perf_counter() - t0)
        wall = time.perf_counter() - t_start

    for msg in client.verify():
        res.gate(False, f"command: {msg}")

    ok = len(lat)
    res.throughput = ok / wall
    res.p50_ms = percentile(lat, 50) * 1000.0
    res.named.update({
        "command.scenarios_per_s": (res.throughput, "1/s"),
        "command.scenario_p50_ms": (res.p50_ms, "ms"),
        "command.scenario_p99_ms": (percentile(lat, 99) * 1000.0, "ms"),
        "command.scenarios": (ok, "count"),
    })

    tr = ctx.tracer
    if tr.enabled:
        layers = res.layers
        layers.update(timing_layer(tr, "eventstore.append_to_stream", "eventstore.append"))
        layers.update(timing_layer(tr, "eventstore.load_stream", "eventstore.load_stream"))
        compacts = tr.durations("eventstore.compact")
        layers["eventstore.compact_calls"] = len(compacts)
        layers["eventstore.compact_busy_s"] = sum(compacts)
        frags = glob.glob(os.path.join(client.raw_store.path, "part-*.parquet"))
        n_events = client.raw_store.get_statistics().total_events_count
        layers["eventstore.fragments_end"] = len(frags)
        layers["eventstore.bytes_per_event"] = (
            sum(os.path.getsize(f) for f in frags) / max(1, n_events))
        layers["eventstore.occ_conflicts"] = client.conflicts
        selfs = tr.self_times(tr.root_index("command"))
        layers["domain.load_busy_s"] = sum(tr.durations("domain.load"))
        layers["domain.save_busy_s"] = sum(tr.durations("domain.save"))
        layers["domain.fold_self_s"] = selfs.get("domain.load", 0.0)
        layers["domain.save_self_s"] = selfs.get("domain.save", 0.0)
        layers["domain.events_folded"] = client.events_folded
