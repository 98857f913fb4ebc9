"""Streaming deduplication for document ingest.

At 100 TB the dedup pass of a training-data pipeline IS a stream: new
crawl shards arrive continuously and each document must be admitted or
dropped against what already streamed past. Two tiers, mirroring the
batch operators in operators/dedup.py:

- exact:    fingerprint (md5 of normalized text) +
            dropDuplicatesWithinWatermark — exactly one survivor per
            fingerprint inside the watermark horizon; state is one
            (fingerprint) entry per distinct doc in the horizon.
- near-dup: full MinHash band signature (all bands joined) as the drop
            key. Equality of the FULL signature ≈ very high Jaccard —
            the conservative streaming policy (precision over recall:
            a stream can't do the batch path's candidate-join +
            verify). Batch `minhash_lsh_candidates` remains the recall
            instrument; this stage cheaply absorbs the flood of
            true/near-exact duplicates at ingest so the periodic batch
            near-dedup compacts far less data.

Both stages are single stateful operators keyed by a fixed-width hash —
state size is bounded by (watermark horizon × distinct-doc rate),
independent of corpus size, and the shuffle key never carries document
text. Scale knob: the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.operators.dedup import minhash_band_hashes
from degdb_spark.operators.text import fingerprint
from degdb_spark.persistence import pin
from degdb_spark.streaming.util import (
    merged_additive,
    prior_batches,
    run_batches,
    write_batch,
)


def exact_dedup_stream(
    docs: DataFrame, ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: first document per normalized-text
    fingerprint within the watermark horizon survives (the streaming
    twin of operators/dedup.exact_dedup)."""
    return (
        docs.withColumn("fp", fingerprint("text"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def neardup_dedup_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Streaming near-dup dedup on the full MinHash signature: documents
    whose every band hash matches an earlier in-horizon document are
    dropped. The signature is the same md5 double-hash expression the
    batch LSH uses (operators/dedup.minhash_band_hashes), so a doc
    admitted here lands in exactly the batch pipeline's buckets later."""
    sig = F.concat_ws("|", minhash_band_hashes("text", shingle_k, num_hashes, bands))
    return (
        docs.withColumn("minhash_sig", sig)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["minhash_sig"])
    )


def neardup_index_stream(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
):
    """The third dedup tier: banded-LSH candidate generation as a
    STREAM against a persisted band index — the streaming twin of
    operators/dedup.incremental_lsh_candidates.

    Each micro-batch (1) probes the index for new-vs-corpus candidate
    pairs plus new-vs-new within the batch, (2) appends the pairs to
    ``pairs_path``, and (3) appends its OWN band table to the index —
    so the index is always exactly "everything that streamed before
    this batch", historical text is never re-read, and old-vs-old is
    never re-paired. The union of all batches' emissions equals the
    full-corpus banded candidate set (asserted in tests) — recall the
    in-flight signature-equality tier above cannot provide.

    State lives in the PERSISTED index, not stream state: per-batch
    cost is the increment's sketch build + one band_hash-keyed probe
    join (bucket the index by band_hash at scale). Replay safety: the
    twin contract in streaming/util.py. Returns the started
    StreamingQuery (availableNow-triggered)."""
    return run_batches(
        docs, checkpoint_dir, _neardup_index_step, index_path, pairs_path,
        id_col, text_col, shingle_k, num_hashes, bands,
    )


def _neardup_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """One micro-batch of neardup_index_stream, module-level so the
    replay contract is directly testable: running the same (batch,
    batch_id) twice converges to the single-run state."""
    from degdb_spark.operators.dedup import band_table, incremental_lsh_candidates

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)  # feeds probe + index write
    existing = prior_batches(
        spark, index_path, batch_id, [id_col, "band", "band_hash"],
        lambda: band_table(
            batch, text_col, id_col, shingle_k, num_hashes, bands
        ).limit(0),
    )
    cands = incremental_lsh_candidates(
        batch, existing, text_col, id_col, shingle_k, num_hashes, bands
    )
    write_batch(cands, pairs_path, batch_id)
    write_batch(
        band_table(batch, text_col, id_col, shingle_k, num_hashes, bands),
        index_path, batch_id,
    )


def postings_index_stream(
    docs: DataFrame,
    table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    buckets: int = 16,
):
    """Streaming maintenance of the BM25 postings index: each
    micro-batch writes its postings and stats row into its OWN
    ``_batch`` partition of the bucketed table via
    operators/search.refresh_postings_index — the same
    state-in-the-persisted-index contract as neardup_index_stream (the
    first batch builds the table). BM25 queries against the table are
    correct after every batch, equal to a full rebuild over everything
    that has streamed (tested).

    Replay safety: the twin contract in streaming/util.py. The stats
    are per-batch rows summed at read time, so a retry never
    double-counts _n_docs/_total_dl and there is no swap step to crash
    between. Returns the started availableNow StreamingQuery."""
    from degdb_spark.operators.search import (
        build_postings_index,
        refresh_postings_index,
    )

    spark = docs.sparkSession

    def step(batch: DataFrame, batch_id: int) -> None:
        batch = batch.transform(pin, eager=True)
        if spark.catalog.tableExists(table):
            refresh_postings_index(batch, table, text_col, batch_id=batch_id)
        else:
            build_postings_index(batch, table, text_col, buckets, batch_id=batch_id)

    return run_batches(docs, checkpoint_dir, step)


def positional_index_stream(
    docs: DataFrame,
    table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    buckets: int = 16,
):
    """Streaming maintenance of the positional phrase/proximity index:
    the fourth index-lifecycle twin (band, postings, PQ codes,
    positions), with the identical contract — each micro-batch
    tokenizes ONLY its increment into its own ``_batch`` partition of
    the token-bucketed table (first batch builds it), phrase queries
    against the table are correct after every batch, and a
    crashed-and-retried batch overwrites its own partition with
    identical rows (tested). Returns the started availableNow
    StreamingQuery."""
    from degdb_spark.operators.search import (
        build_positional_index,
        refresh_positional_index,
    )

    spark = docs.sparkSession

    def step(batch: DataFrame, batch_id: int) -> None:
        batch = batch.transform(pin, eager=True)
        if spark.catalog.tableExists(table):
            refresh_positional_index(batch, table, text_col, batch_id=batch_id)
        else:
            build_positional_index(batch, table, text_col, buckets, batch_id=batch_id)

    return run_batches(docs, checkpoint_dir, step)


def span_index_stream(
    docs: DataFrame,
    index_path: str,
    clean_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
):
    """Streamed C4-style span dedup: each micro-batch probes the
    persisted span index (distinct 128-bit span hashes of all earlier
    batches — 16 bytes per span, never corpus text), drops
    already-seen spans from its documents, and writes the cleaned docs
    and its genuinely-new spans, each to its own ``batch=N``
    partition (replay safety: streaming/util.py). Doc-ordered batches
    reproduce the batch operator bit-for-bit (pytest-pinned)."""
    return run_batches(
        docs, checkpoint_dir, _span_index_step, index_path, clean_path,
        id_col, text_col, span_tokens,
    )


def _span_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    clean_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
) -> None:
    """One micro-batch of span_index_stream, module-level so the replay
    contract is directly testable."""
    from degdb_spark.operators.dedup import incremental_span_dedup

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)  # feeds probe + both writes
    existing = prior_batches(
        spark, index_path, batch_id, ["span_h1", "span_h2"],
        "span_h1 long, span_h2 long",
    )
    report, fresh = incremental_span_dedup(
        batch, existing, text_col, id_col, span_tokens
    )
    write_batch(report, clean_path, batch_id)
    write_batch(fresh, index_path, batch_id)


_DSIR_SCHEMA = "b int, cb long, ct long"


def dsir_counts_stream(
    docs: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
    target: str,
):
    """Streamed maintenance of the DSIR bucket-count state
    (operators/text.dsir_word_counts): each micro-batch tokenizes ONLY
    its increment and lands its own (b, cb, ct) table in
    ``{counts_path}/batch=N`` — counts are ADDITIVE, so the live state
    is a bounded (≤DSIR_BUCKETS-row) sum over batch partitions
    (dsir_counts_load) and scoring from it equals scoring from a full
    recompute (parity-tested). Replay safety: streaming/util.py."""
    return run_batches(docs, checkpoint_dir, _dsir_counts_step, counts_path, target)


def _dsir_counts_step(
    batch: DataFrame, batch_id: int, counts_path: str, target: str
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the family convention)."""
    from degdb_spark.operators.text import dsir_occurrences, dsir_word_counts

    occ = dsir_occurrences(batch.transform(pin, eager=True))
    write_batch(dsir_word_counts(occ, target), counts_path, batch_id)


def dsir_counts_load(spark, counts_path: str) -> DataFrame:
    """The live DSIR state from the batch-keyed table: per-bucket sums
    across batch partitions (bounded at DSIR_BUCKETS rows)."""
    return merged_additive(spark, counts_path, _DSIR_SCHEMA, ["b"], "cb", "ct")


def substring_index_stream(
    docs: DataFrame,
    index_path: str,
    clean_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
):
    """Streamed ExactSubstr dedup (operators/dedup.substring_dedup):
    each micro-batch probes the persisted window index (distinct
    128-bit sliding-window hashes of all earlier batches — 16 bytes
    per distinct window, never corpus text), removes already-seen
    >= min_tokens substrings from its documents, applies
    first-occurrence within the batch, and writes cleaned docs + its
    genuinely-new window hashes, each to its own ``batch=N`` partition
    (replay safety: streaming/util.py). Doc-ordered batches reproduce
    the batch operator bit-for-bit (pytest-pinned)."""
    return run_batches(
        docs, checkpoint_dir, _substring_index_step, index_path, clean_path,
        id_col, text_col, min_tokens,
    )


def _substring_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    clean_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
) -> None:
    """One micro-batch of substring_index_stream, module-level so the
    replay contract is directly testable."""
    from degdb_spark.operators.dedup import incremental_substring_dedup

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)  # feeds probe + both writes
    existing = prior_batches(
        spark, index_path, batch_id, ["win_h1", "win_h2"],
        "win_h1 long, win_h2 long",
    )
    report, fresh = incremental_substring_dedup(
        batch, existing, text_col, id_col, min_tokens
    )
    write_batch(report, clean_path, batch_id)
    write_batch(fresh, index_path, batch_id)


def paragraph_index_stream(
    docs: DataFrame,
    index_path: str,
    clean_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streamed CCNet paragraph dedup — lifecycle #17, the paragraph-
    granularity twin of span_index_stream with the identical index
    layout: each micro-batch probes the persisted (span_h1, span_h2)
    normalized-paragraph fingerprints of all earlier batches, drops
    already-seen paragraphs from its documents, and writes cleaned
    docs + its genuinely-new fingerprints to its own ``batch=N``
    partitions (replay safety: streaming/util.py). Doc-ordered batches
    reproduce the batch operator bit-for-bit."""
    return run_batches(
        docs, checkpoint_dir, _paragraph_index_step, index_path, clean_path,
        id_col, text_col,
    )


def _paragraph_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    clean_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of paragraph_index_stream, module-level so the
    replay contract is directly testable."""
    from degdb_spark.operators.dedup import incremental_paragraph_dedup

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)  # feeds probe + both writes
    existing = prior_batches(
        spark, index_path, batch_id, ["span_h1", "span_h2"],
        "span_h1 long, span_h2 long",
    )
    report, fresh = incremental_paragraph_dedup(batch, existing, text_col, id_col)
    write_batch(report, clean_path, batch_id)
    write_batch(fresh, index_path, batch_id)
