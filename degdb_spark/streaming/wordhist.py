"""Streaming maintenance of the word-frequency histogram index.

The eighth member of the persisted-index lifecycle family (band index,
BM25 postings, positional index, PQ codes, SemDeDup assignment, span
index, media fingerprints): documents stream in, each micro-batch
counts ONLY its own words (operators/text.word_histogram) and lands
the per-batch (word, n) counts in its own ``batch=N`` partition.
Because histograms are ADDITIVE, the merged view is a plain
groupBy-sum over the index — so the BPE tokenizer retrains
(operators/text.bpe_train_from_hist) from the index alone, never
re-reading a historical document. That is the falsifiable scale claim
the corpus-deletion probe pins (tests/test_index_scale_probe.py):
delete every source document, retrain, and the merges still equal the
full-corpus training run.

Replay safety: the twin contract in streaming/util.py.

At 100 TB: per-batch state is the batch's own distinct words; the
index is Heaps-bounded (~10⁶-10⁷ rows per batch partition, summable
in one shuffle), and retraining cost is O(|vocab| · merges), fully
decoupled from corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from degdb_spark.streaming.util import merged_additive, run_batches, write_batch

_INDEX_SCHEMA = "w string, n long"


def word_histogram_index_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Maintain the per-batch word-histogram index from a document
    stream. Returns the started availableNow StreamingQuery."""
    return run_batches(docs, checkpoint_dir, _wordhist_index_step, index_path, text_col)


def _wordhist_index_step(
    batch: DataFrame, batch_id: int, index_path: str, text_col: str = "text"
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    from degdb_spark.operators.text import word_histogram

    write_batch(word_histogram(batch, text_col), index_path, batch_id)


def merged_histogram(spark, index_path: str) -> DataFrame:
    """The additive merge of every committed batch partition —
    bpe_train_from_hist's input (shared read discipline:
    streaming/util.merged_additive)."""
    return merged_additive(spark, index_path, _INDEX_SCHEMA, ["w"], "n")
