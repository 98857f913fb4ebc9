"""Streaming maintenance of the Naive Bayes training-statistics index.

The tenth member of the persisted-index lifecycle family (band index,
BM25 postings, positional index, PQ codes, SemDeDup assignment, span
index, media fingerprints, word histogram, hourly counts): documents
stream in, each micro-batch counts ONLY its own train-split rows —
(label, token) occurrence counts and (label) document counts — into
its own ``batch=N`` partition. Both statistics ride in ONE table with
a ``stat`` discriminator ('tok' rows carry a token; 'doc' rows carry
token='' and cnt = the label's doc count), so each micro-batch is a
SINGLE parquet write: a crash can never tear token counts from doc
counts (two separate tables would admit a state where one committed
and the other did not — likelihood totals from more evidence than the
priors, a corpus state that never existed).

Both statistics are the ADDITIVE sufficient statistics of the
multinomial NB model, so the merged index (one groupBy-sum) feeds
operators/nb.predict_from_stats directly: the classifier retrains and
scores from the index alone, never re-reading a historical training
document. That is the falsifiable scale claim the corpus-deletion
probe pins (tests/test_index_scale_probe.py): delete every training
file, score a held-out set, and the confusion matrix still equals the
full-corpus training run.

The split discipline matches operators/nb.train_predict_nb: the md5
bucket of doc_id decides train membership, re-derived per batch (pure
codegen, no doc-level join), so a document lands in the training
statistics exactly when batch training would have used it.

Replay safety: the twin contract in streaming/util.py.

At 100 TB: per-batch state is the batch's own (label, token) pairs —
Heaps-bounded like the word histogram — and retraining cost is
O(|vocab|·|labels|), completely decoupled from corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.streaming.util import merged_additive, run_batches, write_batch

#: one row per statistic: stat='tok' → (cand, token, cnt occurrences);
#: stat='doc' → (cand, token='', cnt = doc count). The empty token is
#: safe as the doc-row marker because the tokenizer filters '' out of
#: every token stream.
_STATS_SCHEMA = "stat string, cand string, token string, cnt long"


def nb_stats_index_stream(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    label_col: str = "lang",
    test_pct: int = 20,
):
    """Maintain the per-batch NB statistics index from a document
    stream. Returns the started availableNow StreamingQuery."""
    return run_batches(
        docs, checkpoint_dir, _nb_index_step, index_path, label_col, test_pct
    )


def _nb_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    label_col: str = "lang",
    test_pct: int = 20,
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention). ONE write: token and
    doc counts union into the same partition so they commit (or fail)
    together."""
    from degdb_spark.operators.sampling import md5_bucket
    from degdb_spark.operators.text import tokens

    train = batch.filter(md5_bucket("doc_id", 100) >= test_pct)
    tok_counts = (
        train.select(
            F.col(label_col).alias("cand"),
            F.explode(tokens("text")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("cand", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("tok").alias("stat"), "cand", "token", "cnt")
    )
    doc_counts = train.groupBy(F.col(label_col).alias("cand")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.lit("doc").alias("stat"), "cand", F.lit("").alias("token"), "cnt")
    write_batch(tok_counts.unionByName(doc_counts), index_path, batch_id)


def merged_nb_stats(spark, index_path: str) -> tuple[DataFrame, DataFrame]:
    """The additive merge of every committed batch partition —
    predict_from_stats' (counts, nd) inputs, split back out of the
    single-table index by the ``stat`` discriminator."""
    merged = merged_additive(
        spark, index_path, _STATS_SCHEMA, ["stat", "cand", "token"], "cnt"
    )
    counts = merged.filter(F.col("stat") == "tok").select("cand", "token", "cnt")
    nd = merged.filter(F.col("stat") == "doc").select(
        "cand", F.col("cnt").alias("nd")
    )
    return counts, nd
