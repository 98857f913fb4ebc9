"""The streaming index twin kernel.

A twin is the streaming version of a batch index build: an
availableNow ``foreachBatch`` query (run_batches) whose step reads the
partitions earlier micro-batches committed (prior_batches), derives
its own rows, and writes them into its own ``batch=N`` partition
(write_batch). Additive indexes are served by summing every committed
partition (merged_additive).

Replay contract, shared by every twin:

- the micro-batch id IS the partition key and every write overwrites,
  so a crashed-and-retried batch rewrites its own partition with
  identical rows instead of double-appending;
- a probe reads only partitions ``batch < batch_id``, so a retry that
  finds its own half-written partition still derives the same rows;
- a FIRST write that crashed mid-commit leaves a directory holding only
  ``_temporary`` files. Every read checks for a committed data file
  first (has_committed_parquet) and otherwise takes the nothing-yet
  branch, so the replay converges instead of wedging on schema
  inference. Once a file has committed, a failed read fails the batch
  so the checkpoint retries it; it is never taken for an empty index,
  which would lose that batch's pairs against the corpus for good.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def run_batches(stream, checkpoint_dir: str, step, *args, **kw):
    """Start ``stream`` as an availableNow query that calls
    ``step(batch, batch_id, *args, **kw)`` on every micro-batch, with
    ``batch_id`` as a Python int. Returns the started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: step(batch, int(batch_id), *args, **kw)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_batch(df, path: str, batch_id: int) -> None:
    """Write ``df`` as micro-batch ``batch_id``'s own partition of
    ``path``, replacing whatever an earlier attempt left there."""
    df.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")


def has_committed_parquet(spark, path: str) -> bool:
    """True iff ``path`` holds at least one COMMITTED parquet data file
    (any depth, non-underscore/non-hidden name) — the crashed-first-
    write rule in the module docstring."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return False
    stack = [root]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            elif st.getLen() > 0:
                return True
    return False


def prior_batches(spark, path: str, batch_id: int, cols: list[str], empty):
    """The ``cols`` of every committed partition of ``path`` older than
    ``batch_id`` — what a twin's probe reads. When nothing has
    committed yet it returns ``empty``: a DDL schema string, or a
    zero-argument callable that builds the empty frame (called only on
    that branch). Raises RuntimeError naming the missing columns when
    the committed files lack any of ``cols``: an index written in an
    older key format must fail the stream loudly, not read as empty
    and re-admit every historical key."""
    if not has_committed_parquet(spark, path):
        if isinstance(empty, str):
            return spark.createDataFrame([], empty)
        return empty()
    idx = spark.read.option("basePath", path).parquet(path)
    missing = [c for c in cols if c not in idx.columns]
    if missing:
        raise RuntimeError(
            f"index at {path} has columns {idx.columns}, missing {missing}. "
            "Rebuild it (fresh path + checkpoint): key formats are not "
            "migratable in place."
        )
    return idx.filter(F.col("batch") < F.lit(batch_id)).select(*cols)


def merged_additive(spark, path: str, schema: str, keys: list[str], *vals: str):
    """The additive merge of every committed partition of ``path``:
    read with the explicit ``schema`` (no inference, so a crashed first
    write reads as nothing) and sum each of ``vals`` per ``keys``.
    Returns an empty frame of ``schema`` when nothing has committed."""
    if not has_committed_parquet(spark, path):
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema + ", batch int")
        .option("basePath", path)
        .parquet(path)
        .groupBy(*keys)
        .agg(*[F.sum(v).alias(v) for v in vals])
    )
