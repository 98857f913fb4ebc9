"""Streaming triple ingestion — the reference's gossiped-insert path
(core/http.go:62-92 → network broadcast → per-node Insert) re-expressed
as a Structured Streaming upsert into the parquet triple store.

Each micro-batch runs the SAME idempotent anti-join insert as the batch
path (triplestore.go:134-148 semantics): duplicates within the batch and
against the store are dropped, optional signing stamps author/sig, and
the batch appends atomically. foreachBatch is the Spark-native
replacement for the reference's per-peer delivery + keyspace-validated
insert (core/binary.go:17-37): data placement is the table layout's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from degdb_spark.schemas import TRIPLE_KEY, TRIPLE_SCHEMA
from degdb_spark.streaming.util import run_batches

#: File-stream schema for incoming triple batches (JSONL or parquet).
TRIPLE_STREAM_SCHEMA = TRIPLE_SCHEMA


def stream_triples_jsonl(spark: SparkSession, directory: str) -> DataFrame:
    return spark.readStream.schema(TRIPLE_STREAM_SCHEMA).json(directory)


def ingest_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    signing_key: bytes | None = None,
):
    """Run the streaming insert; returns the StreamingQuery (caller
    awaits). availableNow-triggered so tests/backfills drain and stop."""
    spark = stream.sparkSession

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if signing_key is not None:
            from degdb_spark.functions.signing import sign_triples

            batch = sign_triples(batch, signing_key)
        batch = batch.withColumn(
            "created", F.coalesce(F.col("created"), F.current_timestamp())
        ).dropDuplicates(TRIPLE_KEY)
        try:
            existing = spark.read.schema(TRIPLE_SCHEMA).parquet(store_path)
            fresh = batch.join(
                existing.select(TRIPLE_KEY), on=TRIPLE_KEY, how="left_anti"
            )
        except Exception:  # first batch, store doesn't exist yet
            fresh = batch
        fresh.select([f.name for f in TRIPLE_SCHEMA.fields]).write.mode(
            "append"
        ).parquet(store_path)

    return run_batches(stream, checkpoint_dir, upsert)


def cdc_stream_to_versioned(
    stream: DataFrame,
    table_root: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """Streaming CDC upsert with snapshot isolation: each micro-batch
    MERGEs into a VersionedTable (operators/merge.py), so concurrent
    readers always see a complete snapshot and every micro-batch commit
    is a time-travelable version. Latest-wins within a batch is pinned
    deterministically before the merge (max by key over the batch).

    This is the streaming half of the lakehouse-sink story: foreachBatch
    gives exactly-once *per epoch* via the checkpoint, and the atomic
    pointer swing makes each epoch's commit all-or-nothing — together
    the same contract a Delta streaming sink offers (minus multi-writer
    arbitration, documented in VersionedTable).
    """
    from degdb_spark.operators.merge import VersionedTable

    spark = stream.sparkSession
    table = VersionedTable(spark, table_root)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        others = [c for c in batch.columns if c not in keys]
        if others:
            # deterministic winner per key: max over the non-key struct
            # (put a version/ts column FIRST in the schema for true
            # latest-wins ordering)
            dedup = (
                batch.groupBy(*keys)
                .agg(F.max(F.struct(*others)).alias("_s"))
                .select(*keys, *[F.col(f"_s.{c}").alias(c) for c in others])
            )
        else:
            dedup = batch.dropDuplicates(keys)
        import os

        if os.path.exists(table._pointer()):
            table.merge(dedup, keys=keys)
        else:
            table.create(dedup)

    return run_batches(stream, checkpoint_dir, upsert)
