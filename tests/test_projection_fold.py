"""Partition invariance of the distributed projection fold.

`fold_builder_documents` must produce exactly what a per-stream in-memory
replay produces, whatever the partitioning and the Arrow batch boundaries
(the differential pattern of comparing one query under two configurations).
Configuration (b) puts every stream into one fold partition and every row
into its own Arrow batch, so every multi-event stream straddles batches and
must be carried over from one batch to the next."""

import contextlib
import decimal
import hashlib
import json
import sys

import pyarrow as pa
import pytest
from pyspark import cloudpickle

from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import (
    InMemoryEventStore,
    InMemoryMetadataRepository,
)
from cloudfabric_eventsourcing_spark.projections import (
    IndexSelector,
    InMemoryProjectionRepository,
    ProjectionBuilder,
    ProjectionIndexStateStore,
    ProjectionsEngine,
)
from cloudfabric_eventsourcing_spark.projections.distributed import (
    TOMBSTONE_COL,
    fold_builder_documents,
)
from cloudfabric_eventsourcing_spark.projections.repository import arrow_schema
from cloudfabric_eventsourcing_spark.schema import (
    DATETIME,
    INT64,
    STRING,
    ProjectionSchema,
    PropertySchema,
)
from tests.domain_fixtures import (
    ORDERS_PARTITION_KEY,
    Order,
    OrderItem,
    OrdersListProjectionBuilder,
    orders_list_schema,
    utcnow,
)

USER = {"userId": "u-fold"}

# pytest imports this file as a top-level module the Python workers cannot
# import, so its builder classes travel to them by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class DeletingOrdersBuilder(OrdersListProjectionBuilder):
    """Removing an item deletes the order's document; later item adds find
    no document, so the delete sticks and the fold must emit a tombstone."""

    def on_OrderItemRemoved(self, evt):
        self.delete_document(evt.aggregate_id, evt.partition_key)


def order_number(aggregate_id: str) -> int:
    return int(aggregate_id.rsplit("-", 1)[1])


def counts_schema() -> ProjectionSchema:
    return ProjectionSchema(
        "order_counts_by_number",
        [
            PropertySchema("Number", INT64, is_key=True),
            PropertySchema("PartitionKey", STRING, is_filterable=True),
            PropertySchema("UpdatedAt", DATETIME),
            PropertySchema("Items", INT64),
        ],
    )


class CountsByNumberBuilder(ProjectionBuilder):
    """INT64-keyed documents; deletes pass the key as str, so tombstones
    must cast it back to the schema's type."""

    def on_OrderPlaced(self, evt):
        self.upsert_document(
            {"Number": order_number(evt.aggregate_id), "Items": len(evt.items)},
            evt.partition_key,
            evt.timestamp,
        )

    def on_OrderItemAdded(self, evt):
        def bump(doc):
            doc["Items"] += 1

        self.update_document(
            order_number(evt.aggregate_id), evt.partition_key, evt.timestamp, bump
        )

    def on_OrderItemRemoved(self, evt):
        self.delete_document(str(order_number(evt.aggregate_id)), evt.partition_key)


@pytest.fixture(scope="module")
def event_store():
    """Orders whose streams hold 1 to 5 events; every third one removes an
    item (a delete for the deleting builders), some then add again."""
    store = InMemoryEventStore()
    repo = AggregateRepository(store, Order)
    for i in range(24):
        order = Order(
            f"00000000-0000-0000-0000-{i:012d}",
            f"Order {i}",
            [OrderItem(utcnow(), "Base", decimal.Decimal("2.50"))],
            created_by_email=f"u{i}@example.com",
        )
        repo.save(USER, order)
        for k in range(i % 3):
            loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
            loaded.add_item(OrderItem(utcnow(), f"Extra-{k}", decimal.Decimal(k + 1)))
            repo.save(USER, loaded)
        if i % 3 == 0:
            loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
            loaded.remove_item("Base")
            repo.save(USER, loaded)
            if i % 2 == 0:
                loaded = repo.load(order.id, ORDERS_PARTITION_KEY)
                loaded.add_item(OrderItem(utcnow(), "Again", decimal.Decimal("1.00")))
                repo.save(USER, loaded)
    return store


def replay_per_stream(store, builder_cls, schema, with_tombstones):
    """The reference: each stream replayed alone through a fresh in-memory
    repository; a key that existed during the replay and is gone at its
    end is a tombstone."""
    streams = {(e.aggregate_id, e.partition_key) for e in store.load_events(limit=None)}
    rows = []
    for stream_id, partition_key in streams:
        events = store.load_stream(stream_id, partition_key).events
        state = ProjectionIndexStateStore(InMemoryMetadataRepository())
        repo = InMemoryProjectionRepository(schema, state)
        engine = ProjectionsEngine()
        engine.add_projection_builder(builder_cls(repo, IndexSelector.ProjectionRebuild))
        index_name = repo.ensure_index()
        seen = {}
        for event in events:
            engine.handle_event(event)
            for key, doc in repo._indexes[index_name].items():
                seen[key] = (doc[schema.key_name], doc["PartitionKey"])
        final = repo._indexes[index_name]
        for doc in final.values():
            rows.append(dict(doc, **({TOMBSTONE_COL: False} if with_tombstones else {})))
        if with_tombstones:
            for key, (kid, kpk) in seen.items():
                if key not in final:
                    rows.append(
                        {schema.key_name: kid, "PartitionKey": kpk, TOMBSTONE_COL: True}
                    )
    pa_schema = arrow_schema(schema)
    if with_tombstones:
        pa_schema = pa_schema.append(pa.field(TOMBSTONE_COL, pa.bool_()))
    return pa.Table.from_pylist(rows, schema=pa_schema).to_pylist()


def digest(rows) -> str:
    canon = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


@contextlib.contextmanager
def spark_conf(spark, **conf):
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def fold(spark, store, builder_cls, schema, with_tombstones):
    docs = fold_builder_documents(
        store.to_df(spark),
        lambda repo: builder_cls(repo, IndexSelector.ProjectionRebuild),
        schema,
        with_tombstones=with_tombstones,
    )
    return [r.asDict(recursive=True) for r in docs.collect()]


ONE_PARTITION_ONE_ROW_BATCHES = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1",
}


@pytest.mark.parametrize(
    "builder_cls,schema_fn,with_tombstones",
    [
        (OrdersListProjectionBuilder, orders_list_schema, False),
        (DeletingOrdersBuilder, orders_list_schema, True),
        (CountsByNumberBuilder, counts_schema, True),
    ],
    ids=["orders-rebuild", "orders-tombstones", "int64-key-tombstones"],
)
def test_fold_is_partition_invariant(
    spark, event_store, builder_cls, schema_fn, with_tombstones
):
    schema = schema_fn()
    expected = replay_per_stream(event_store, builder_cls, schema, with_tombstones)
    if with_tombstones:
        assert any(r[TOMBSTONE_COL] for r in expected)  # deletes exercised
    assert len({(r[schema.key_name], r["PartitionKey"]) for r in expected}) == 24

    default = fold(spark, event_store, builder_cls, schema, with_tombstones)
    with spark_conf(spark, **ONE_PARTITION_ONE_ROW_BATCHES):
        straddling = fold(spark, event_store, builder_cls, schema, with_tombstones)

    assert digest(default) == digest(expected)
    assert digest(straddling) == digest(expected)
