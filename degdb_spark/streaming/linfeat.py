"""Streaming maintenance of the linear-classifier feature index.

The twelfth member of the persisted-index lifecycle family (band
index, BM25 postings, positional index, PQ codes, SemDeDup
assignment, span index, media fingerprints, word histogram, hourly
counts, NB statistics, shot fingerprints): documents stream in, each
micro-batch hashes ONLY its own documents into the
(doc_id, actual, split, f, x) feature rows of operators/linear.py
(md5-bucketed token counts + the bias row) and lands them in its own
``batch=N`` partition.

Unlike the additive NB/wordhist statistics, the perceptron is
ITERATIVE — its trained weights are not an additive function of
batches — but its training loop never needs the text: it reads only
the hashed feature frame, which IS a per-doc projection the index
stores losslessly (≤65 small integers per doc vs kilobytes of text).
So `operators/linear.train_predict_from_features` over the merged
index equals the full-corpus training run exactly, and retraining
after new data arrives reads a few hundred bytes of stored feature
rows per historical document instead of the document itself. That is the falsifiable
claim the corpus-deletion probe pins
(tests/test_index_scale_probe.py::test_linear_retrain_after_corpus_deletion):
delete every source document, retrain from the index, and the
confusion matrix still equals the full-corpus run.

The split discipline matches train_predict_linear: the md5 bucket of
doc_id decides train/test membership, re-derived per batch (pure
codegen), so a document's feature rows land with exactly the split
batch training would assign.

Replay safety: the twin contract in streaming/util.py. Merges are a
plain union because feature rows are per-doc and doc ids are unique
across the stream (the same uniqueness contract every index twin
has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from degdb_spark.persistence import pin
from degdb_spark.streaming.util import run_batches, write_batch

_FEAT_SCHEMA = "doc_id long, actual string, split string, f int, x long"


def linfeat_index_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    label_col: str = "lang",
    test_pct: int = 20,
    n_features: int = 64,
    featurizer: str = "words",
):
    """Maintain the per-batch hashed-feature index from a document
    stream. Returns the started availableNow StreamingQuery.

    ``featurizer`` picks the per-doc projection: "words" (hashed
    bag-of-words — docs_linear_classifier's family) or "char3"
    (hashed character 3-grams — the trained language-ID family #9,
    operators/linear.char_ngram_features). Both land in the identical
    (doc_id, actual, split, f, x) schema, so ONE index layout and ONE
    training seam serve both model families — the wordhist/unigram
    "one index, two trainers" device applied to the perceptron."""
    return run_batches(
        docs, checkpoint_dir, _linfeat_index_step, index_path, label_col,
        test_pct, n_features, featurizer,
    )


def _linfeat_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    label_col: str = "lang",
    test_pct: int = 20,
    n_features: int = 64,
    featurizer: str = "words",
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    from degdb_spark.operators.linear import (
        char_ngram_features,
        hashed_features,
    )

    if featurizer == "words":
        feat = hashed_features(batch, label_col, test_pct, n_features)
    elif featurizer == "char3":
        feat = char_ngram_features(batch, label_col, test_pct, n_features)
    else:
        raise ValueError(
            f"featurizer must be 'words' or 'char3', got {featurizer!r}"
        )
    write_batch(feat.transform(pin, eager=True), index_path, batch_id)


def merged_features(spark, index_path: str) -> DataFrame:
    """The full feature frame from the index alone — a plain union of
    the committed batch partitions (per-doc rows, unique doc ids, no
    additive merge needed). Explicit schema for the crashed-first-write
    reason shared by every twin."""
    return (
        spark.read.schema(_FEAT_SCHEMA + ", batch int")
        .option("basePath", index_path)
        .parquet(index_path)
        .select("doc_id", "actual", "split", "f", "x")
    )
