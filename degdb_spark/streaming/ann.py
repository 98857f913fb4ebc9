"""Streaming maintenance of the persisted IVF-PQ ANN index.

The third index-lifecycle twin next to the band index and the BM25
postings index (streaming/dedup.py): vectors stream in, each
micro-batch encodes ONLY its increment against the pinned
codebook/centroids and lands in its own ``_batch`` partitions of the
code table (operators/pq.build_pq_index / refresh_pq_index). ANN
queries against the table are correct after every batch, equal to a
full re-encode over everything that has streamed (tested).

Replay safety: the twin contract in streaming/util.py — codes are
never duplicated. At 100 TB the per-batch cost is the increment's
encode (one broadcast-codebook join + min-struct aggregation, linear
in the increment) — historical vectors are never re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.persistence import pin
from degdb_spark.streaming.util import prior_batches, run_batches, write_batch


def ann_index_stream(
    vecs: DataFrame,
    table: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    codebook: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Maintain a build_pq_index table from a vector stream (the first
    batch builds it). Returns the started availableNow StreamingQuery."""
    from degdb_spark.operators.pq import build_pq_index, refresh_pq_index

    spark = vecs.sparkSession

    def step(batch: DataFrame, batch_id: int) -> None:
        batch = batch.transform(pin, eager=True)
        # refresh only when the WHOLE artifact exists: if batch 0
        # crashed after the code table landed but before the
        # codebook/centroids sidecars, the retry must re-run the build
        # (which drops and rewrites all three) or the sidecars would
        # never be written and the self-contained-artifact contract
        # would break permanently
        if all(
            spark.catalog.tableExists(t)
            for t in (table, f"{table}_codebook", f"{table}_centroids")
        ):
            refresh_pq_index(
                batch, table, centroids, codebook, id_col, vec_col,
                batch_id=batch_id,
            )
        else:
            build_pq_index(
                batch, table, centroids, codebook, id_col, vec_col,
                batch_id=batch_id,
            )

    return run_batches(vecs, checkpoint_dir, step)


def semantic_index_stream(
    vecs: DataFrame,
    index_path: str,
    pairs_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming SemDeDup against a pinned quantizer — the streaming
    twin of ml_lsh.incremental_semantic_dedup. Each micro-batch (1)
    probes the persisted (vec_id, cell, csim) assignment index for
    drop decisions touching the batch (old-vs-old never re-paired,
    old vectors re-read only to score surviving candidates), (2) lands
    the decisions in ``{pairs_path}/batch=N``, and (3) appends its own
    assignment rows and raw vectors to ``{index_path,corpus_path}/
    batch=N`` — the corpus write IS the ingest; the step just keys it
    by batch so replays converge. The union of all batches' emissions
    equals the full-corpus semantic_drop_pairs set (tested). Replay
    safety: streaming/util.py."""
    return run_batches(
        vecs, checkpoint_dir, _semantic_index_step, index_path, pairs_path,
        corpus_path, centroids, threshold, id_col, vec_col,
    )


def _semantic_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    corpus_path: str,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of semantic_index_stream, module-level so the
    replay contract is directly testable."""
    from degdb_spark.operators.ml_lsh import (
        incremental_semantic_dedup,
        semantic_cell_table,
    )

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)
    existing = prior_batches(
        spark, index_path, batch_id, [id_col, "cell", "csim"],
        lambda: semantic_cell_table(batch, centroids, id_col, vec_col).limit(0),
    )
    old_vecs = prior_batches(
        spark, corpus_path, batch_id, [id_col, vec_col],
        lambda: batch.select(id_col, vec_col).limit(0),
    )
    all_vectors = old_vecs.unionByName(batch.select(id_col, vec_col))
    pairs = incremental_semantic_dedup(
        batch, existing, all_vectors, centroids, threshold, id_col, vec_col
    )
    write_batch(pairs, pairs_path, batch_id)
    write_batch(batch.select(id_col, vec_col), corpus_path, batch_id)
    write_batch(
        semantic_cell_table(batch, centroids, id_col, vec_col), index_path, batch_id
    )


def knn_graph_index_stream(
    vecs: DataFrame,
    table: str,
    checkpoint_dir: str,
    k: int = 8,
    rounds: int = 3,
    rho: int = 1,
    beam: int = 16,
    hops: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming maintenance of the persisted k-NN graph (lifecycle
    #16's twin): the first micro-batch runs the NN-Descent build;
    every later batch inserts its vectors by search-then-link over
    the artifact so far (operators/knngraph.refresh_knn_graph_index)
    — historical vectors are read only from the index's own vector
    table, never from upstream storage. Replay safety:
    streaming/util.py. At 100 TB the per-batch cost is the increment's beam walks
    (|inc|·beam·k·hops scored candidates) + the bounded
    within-increment brute force — corpus-size-independent."""
    return run_batches(
        vecs, checkpoint_dir, _knn_graph_index_step, table,
        k=k, rounds=rounds, rho=rho, beam=beam, hops=hops,
        id_col=id_col, vec_col=vec_col,
    )


def _knn_graph_index_step(
    batch: DataFrame,
    batch_id: int,
    table: str,
    k: int = 8,
    rounds: int = 3,
    rho: int = 1,
    beam: int = 16,
    hops: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of knn_graph_index_stream, module-level so the
    replay contract is directly testable (the _paragraph_index_step
    pattern). Build vs refresh decides on the index's own STATE, not
    mere table existence (ADVICE r12): if batch 0 committed the
    tables but the stream's checkpoint commit failed, the retried
    batch 0 must take the BUILD path again (overwriting its own
    partitions), not search-then-link against its own half-committed
    index. The probe is `any _batch < batch_id rows exist`, and
    refresh_knn_graph_index itself reads bounded to _batch <
    batch_id, so retried refreshes converge too."""
    from degdb_spark.operators.knngraph import (
        build_knn_graph_index,
        refresh_knn_graph_index,
    )

    spark = batch.sparkSession
    batch = batch.transform(pin, eager=True)
    has_prior = (
        batch_id > 0
        and all(
            spark.catalog.tableExists(t)
            for t in (table, f"{table}_vectors")
        )
        and spark.table(table)
        .filter(F.col("_batch") < F.lit(batch_id))
        .limit(1)
        .count()
        > 0
    )
    if has_prior:
        refresh_knn_graph_index(
            batch, table, k=k, beam=beam, hops=hops,
            batch_id=batch_id, id_col=id_col, vec_col=vec_col,
        )
    else:
        build_knn_graph_index(
            batch, table, k=k, rounds=rounds, rho=rho,
            batch_id=batch_id, id_col=id_col, vec_col=vec_col,
        )
