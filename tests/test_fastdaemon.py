"""The worker daemon (wordscape_spark.fastdaemon) as Python workers see it."""

import pyarrow as pa


def test_workers_inherit_frozen_daemon_heap(spark):
    """The daemon freezes its heap before forking, so the full collection
    a worker runs after every task skips the daemon's objects."""

    def freeze_count(batches):
        import gc

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"frozen": [gc.get_freeze_count()]},
            schema=pa.schema([("frozen", pa.int64())]),
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(freeze_count, "frozen long")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["frozen"] > 0
