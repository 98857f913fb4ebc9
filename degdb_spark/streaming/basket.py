"""Streaming maintenance of the basket co-purchase edge index.

The graph-analytics member of the streaming-twin family: lineitem
rows stream in (each micro-batch carrying COMPLETE, previously-unseen
orders — the order-atomic contract operators/basket.py documents),
and each batch's raw wedge partial counts land in their own
``_batch`` partition of the (u, v)-bucketed count table. Partial
counts over disjoint order sets are additive, so the served edge
frame (edges_from_index: sum partials, threshold, both directions) is
correct after every batch — equal to the inline wedge build over
everything that has streamed (tested). Historical lineitem is never
re-read; an order contributes ~12 bytes per co-purchase pair forever.

Replay safety: the twin contract in streaming/util.py (the batch
partition is written by static INSERT OVERWRITE) — counts never
double. Deletion flows
through the SAME table as negative-count batches
(operators/basket.retract_basket_edges_index), so the streamed and
batch maintenance paths share one artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from degdb_spark.persistence import pin
from degdb_spark.streaming.util import run_batches


def basket_edges_stream(
    lineitem: DataFrame,
    table: str,
    checkpoint_dir: str,
    buckets: int = 16,
):
    """Start the availableNow stream; see the module docstring."""
    return run_batches(lineitem, checkpoint_dir, _basket_edges_step, table, buckets)


def _basket_edges_step(
    batch: DataFrame, batch_id: int, table: str, buckets: int = 16
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    from degdb_spark.operators.basket import (
        build_basket_edges_index,
        refresh_basket_edges_index,
    )

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)
    if spark.catalog.tableExists(table):
        refresh_basket_edges_index(batch, table, batch_id=batch_id)
    else:
        build_basket_edges_index(batch, table, buckets=buckets, batch_id=batch_id)
