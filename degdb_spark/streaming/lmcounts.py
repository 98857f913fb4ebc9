"""Streaming maintenance of the bigram-LM count index.

The fifteenth persisted-index lifecycle (band, postings, positional,
PQ, SemDeDup, span, media aHash ×2, word histogram, hour counts, NB
stats, shot index, linear features, basket edges, ExactSubstr
windows): documents stream in, each micro-batch counts ONLY its own
train-split adjacent-token pairs (operators/lm.bigram_counts — the
md5 split is re-derived per batch, so streamed and batch training use
identical membership) into a ``batch=N`` partition. Pair counts are
ADDITIVE, so the merged index (one groupBy-sum) is the bigram model's
full sufficient statistic — context counts, the vocabulary, and V all
derive from it — and scoring (operators/lm.score_from_counts) from
the index alone equals the full-corpus run exactly, never re-reading
a historical training document. That claim is pinned by the
corpus-deletion probe (tests/test_index_scale_probe.py).

Replay safety: the twin contract in streaming/util.py.

At 100 TB: per-batch state is the batch's own observed bigrams
(Heaps-bounded, like the word histogram); the live model is a
vocabulary²-bounded — in practice Heaps-bounded — count table summed
in one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from degdb_spark.streaming.util import merged_additive, run_batches, write_batch

_INDEX_SCHEMA = "a string, b string, n long"


def lm_counts_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pct: int = 20,
):
    """Maintain the per-batch bigram-count index from a document
    stream. Returns the started availableNow StreamingQuery."""
    return run_batches(
        docs, checkpoint_dir, _lm_counts_step, index_path, id_col, text_col, test_pct
    )


def _lm_counts_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pct: int = 20,
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    from degdb_spark.operators.lm import bigram_counts

    write_batch(bigram_counts(batch, id_col, text_col, test_pct), index_path, batch_id)


def merged_counts(spark, index_path: str) -> DataFrame:
    """The additive merge of every committed batch partition —
    score_from_counts' input (shared read discipline:
    streaming/util.merged_additive)."""
    return merged_additive(spark, index_path, _INDEX_SCHEMA, ["a", "b"], "n")
