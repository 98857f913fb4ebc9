"""Streaming maintenance of the hourly event-count index.

The ninth member of the persisted-index lifecycle family (band index,
BM25 postings, positional index, PQ codes, SemDeDup assignment, span
index, media fingerprints, word histogram): events stream in, each
micro-batch counts ONLY its own events per hour bucket and lands the
per-batch (h, x) counts in its own ``batch=N`` partition. Hour
histograms are ADDITIVE, so the merged view is a plain groupBy-sum
over the index — and the autocorrelation function recomputes
(queries/events_queries.hourly_acf) from the index alone, never
re-reading a historical event. That is the falsifiable scale claim
the corpus-deletion probe pins (tests/test_index_scale_probe.py):
delete every source event file, recompute the ACF, and it still
equals the full-corpus run.

Replay safety: the twin contract in streaming/util.py.

At 100 TB: per-batch state is the batch's own distinct hours (bounded
by the batch's time span — a day-long batch is 24 rows per partition);
the merged index is |hours|-sized (a year is 8,760 rows at ANY corpus
size), and the ACF recompute cost is completely decoupled from event
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.streaming.util import merged_additive, run_batches, write_batch

_INDEX_SCHEMA = "h timestamp, x long"


def hourly_count_index_stream(
    events: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
):
    """Maintain the per-batch hourly-count index from an event stream.
    Returns the started availableNow StreamingQuery."""
    return run_batches(
        events, checkpoint_dir, _hourcount_index_step, index_path, ts_col
    )


def _hourcount_index_step(
    batch: DataFrame, batch_id: int, index_path: str, ts_col: str = "ts"
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    counts = batch.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    write_batch(counts, index_path, batch_id)


def merged_hourly_counts(spark, index_path: str) -> DataFrame:
    """The additive merge of every committed batch partition — exactly
    the (h, x) frame hourly_acf consumes (shared read discipline:
    streaming/util.merged_additive)."""
    return merged_additive(spark, index_path, _INDEX_SCHEMA, ["h"], "x")
