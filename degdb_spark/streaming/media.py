"""Streaming maintenance of the perceptual-hash (aHash) media index.

The multimodal member of the streaming-twin family (band index, BM25
postings, span index, ANN codes, SemDeDup assignment — streaming/
dedup.py and streaming/ann.py): media payloads stream in, each
micro-batch decodes ONLY its own payloads into 4×16-bit aHash bands
(operators/multimodal.image_ahash) and lands them in its own
``batch=N`` partition of the index. Near-dup pairs touching the batch
are derived from the INDEX alone (new×new and new×old via the banded
candidate join) — historical payloads are never re-decoded; old media
participate through 32 bytes of fingerprint each.

Replay safety: the twin contract in streaming/util.py. Union of
per-batch pair emissions == the full-corpus banded_neardup_pairs set,
each pair emitted exactly once — in the batch that completes it
(pytest-pinned parity + replay convergence in
tests/test_streaming.py).

At 100 TB: per-batch cost is the increment's decode + a banded
equi-join against fingerprints (which are ~32 B × corpus — itself
shuffled only on the 16-bit band keys, never all-pairs). The decode
is per-payload Python inside Arrow batches; a TB/s deployment swaps
libjpeg-turbo in behind the same decode seam (SCALE.md "Multimodal").

Media ids must be unique across the stream (the same contract every
index twin has): a pair is emitted by the batch containing its
later-streamed member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from degdb_spark.persistence import pin
from degdb_spark.streaming.util import prior_batches, run_batches, write_batch

_INDEX_SCHEMA = "media_id long, b0 long, b1 long, b2 long, b3 long"


def ahash_index_stream(
    media: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    kind: str = "image",
):
    """Maintain the perceptual-fingerprint index + incremental near-dup
    pair emissions from a media stream — ``kind="image"`` hashes via
    image_ahash, ``kind="phash"`` via image_phash_dct (the DCT hash
    that survives JPEG requantization — r12), ``kind="audio"`` via
    audio_ahash (the energy-envelope fingerprint), ``kind="video"``
    via video_ahash (temporal-mean frame hash over the real
    GIF/AVI/RAWV containers); all four band into the same (b0..b3)
    index schema, so one lifecycle serves every modality and both
    image hashes. Returns the started availableNow StreamingQuery."""
    return run_batches(
        media, checkpoint_dir, _ahash_index_step, index_path, pairs_path, kind
    )


def _ahash_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    kind: str = "image",
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the span/ANN twins' convention)."""
    from degdb_spark.operators.multimodal import (
        audio_ahash,
        image_ahash,
        image_phash_dct,
        incremental_banded_neardup_pairs,
        video_ahash,
    )

    ops = {
        "image": image_ahash,
        "phash": image_phash_dct,
        "audio": audio_ahash,
        "video": video_ahash,
    }
    if kind not in ops:
        raise ValueError(
            f"ahash_index_stream kind must be image|phash|audio|video, got {kind!r}"
        )
    hash_op = ops[kind]
    spark = batch.sparkSession
    # batch feeds only the hash job; pinning the payload bytes would be
    # pure memory pressure — the hashes below are what both writes and
    # the probe reuse
    new_hashes = hash_op(batch).transform(pin, eager=True)
    old_hashes = prior_batches(
        spark, index_path, batch_id, ["media_id", "b0", "b1", "b2", "b3"],
        _INDEX_SCHEMA,
    )
    pairs = incremental_banded_neardup_pairs(new_hashes, old_hashes)
    write_batch(pairs, pairs_path, batch_id)
    write_batch(new_hashes, index_path, batch_id)


_SHOT_INDEX_SCHEMA = (
    "media_id long, shot_idx int, n_frames int, b0 long, b1 long, b2 long, b3 long"
)


def shot_index_stream(
    media: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
):
    """Maintain the SHOT-level fingerprint index + incremental
    video-pair emissions from a video stream — the trim-robust twin
    of ahash_index_stream(kind="video"): each micro-batch decodes only
    its own payloads, segments them at hard cuts, and lands one
    (media_id, shot_idx, b0..b3) row per shot in its own ``batch=N``
    partition. Video pairs touching the batch are derived from the
    index alone (incremental_shot_neardups): a video's shots all land
    in one batch, so every matched-shot pair of a video pair whose
    later member is new has a new side — the per-batch emissions
    union to exactly the full-corpus shot_overlap_neardups set, each
    video pair once. Historical payloads are never re-decoded; old
    videos participate through ~40 bytes per shot. Replay safety:
    streaming/util.py."""
    return run_batches(media, checkpoint_dir, _shot_index_step, index_path, pairs_path)


def _shot_index_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
) -> None:
    """One micro-batch, module-level so the replay contract is
    directly testable (the span/ANN/aHash twins' convention)."""
    from degdb_spark.operators.multimodal import (
        incremental_shot_neardups,
        video_shot_fingerprints,
    )

    spark = batch.sparkSession
    # drop quarantine sentinels (shot_idx = −1, bands −1) BEFORE they
    # reach the persisted index: two corrupt videos in different
    # batches would otherwise band-collide on the all−1 row (hamming
    # 0) and emit a bogus matched-shot pair (ADVICE r10)
    new_shots = (
        video_shot_fingerprints(batch)
        .filter(F.col("shot_idx") >= 0)
        .transform(pin, eager=True)
    )
    old_shots = prior_batches(
        spark, index_path, batch_id,
        ["media_id", "shot_idx", "n_frames", "b0", "b1", "b2", "b3"],
        _SHOT_INDEX_SCHEMA,
    )
    pairs = incremental_shot_neardups(new_shots, old_shots)
    write_batch(pairs, pairs_path, batch_id)
    write_batch(new_shots, index_path, batch_id)
