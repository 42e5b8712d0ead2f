"""Exactly-once sink helpers.

Structured Streaming's checkpoint + sink epochs give exactly-once for
replayable sinks; for plain-file / at-least-once targets the reference
relies on its confirm heap + checkpoint SCN (Writer.cpp:106-165). The
equivalent here is an idempotent append keyed by the event identity
(scn, idx): re-delivered batches drop rows whose keys already landed.
Used inside foreachBatch, where Spark may re-run a batch after failure.

Scale note: the existing-keys read prunes three ways — (1) to the key
columns only (column pruning reaches the parquet footer), (2) to the
incoming batch's commit-SCN range: keys are monotone in SCN, so a
replayed batch can only collide with rows at-or-after its own minimum
SCN, and every older file is skipped via parquet min/max stats (each
appended file covers the narrow SCN range of its epoch). Without (2) the
anti join re-read the ENTIRE target history every epoch — unbounded
growth; with it the scan is one epoch-sized tail regardless of table
age. (3) the anti join broadcasts the incoming batch's keys when small.
The target table is never rewritten, only appended.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _target_exists(spark, path: str) -> bool:
    """Existence probe through the session's Hadoop filesystem — valid
    for ANY scheme the cluster can reach (local, hdfs://, s3a://…).
    os.path.exists silently returned False for every remote URI, which
    disabled the replay dedup exactly where the module's 100-TB/lake
    framing needs it (r12 review-pass-11)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))
    except Exception:
        return os.path.exists(path)


def idempotent_append(
    batch: DataFrame,
    path: str,
    keys: tuple[str, ...] = ("commit_scn", "xid", "num"),
    _out: dict | None = None,
) -> int:
    """Append only rows whose key tuple is not already in the target.
    Returns the number of rows actually written. ``keys[0]`` must be the
    monotone SCN column — it drives the watermark pruning predicate.

    Null-keyed rows (show_incomplete emits commit_scn=None,
    transaction_assembly.py:295) dedup too: the anti-join compares
    null-safely and the watermark filter keeps the target's null-scn
    rows in scope — plain equality re-appended every null-keyed row on
    replay (r12 review-pass-11).

    ``_out`` (internal): when a dict is passed, its 'hi' key receives
    max(scn) computed inside the persisted scope, so foreachBatch hooks
    don't re-execute the upstream plan for one aggregate."""
    spark = batch.sparkSession
    batch = batch.persist()
    scn_col = keys[0]
    bounds = batch.agg(
        F.min(scn_col).alias("lo"), F.max(scn_col).alias("hi")
    ).collect()[0]
    lo = bounds["lo"]
    if _out is not None:
        _out["hi"] = bounds["hi"]
    to_write = batch
    if _target_exists(spark, path):
        scn_window = F.col(scn_col).isNull()
        if lo is not None:
            # SCN watermark: only files overlapping [lo, ∞) are read —
            # parquet min/max stats skip the rest of the history; the
            # null-scn rows ride along (they carry no ordering proof)
            scn_window = scn_window | (F.col(scn_col) >= F.lit(lo))
        existing = (
            spark.read.parquet(path).filter(scn_window).select(*keys)
        )
        b = batch.alias("b")
        e = existing.alias("e")
        cond = None
        for k in keys:
            c = F.col(f"b.{k}").eqNullSafe(F.col(f"e.{k}"))
            cond = c if cond is None else (cond & c)
        to_write = b.join(e, cond, "left_anti")
    n = to_write.count()
    if n:
        to_write.write.mode("append").parquet(path)
    batch.unpersist()
    return n


def foreach_batch_idempotent(
    path: str,
    keys: tuple[str, ...] = ("commit_scn", "xid", "num"),
    state_dir: str | None = None,
    database: str = "DB",
):
    """foreachBatch hook: writer exactly-once under batch replay. With a
    ``state_dir``, every epoch also advances the portable W7 checkpoint
    document to the batch's max confirmed SCN (Writer::writeCheckpoint:
    the confirm heap's high-water mark becomes {database, scn, idx, ...})
    so a reference-style cold start can resume from the document alone."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        # hi rides out of idempotent_append's persisted scope — the
        # separate agg here re-executed the whole upstream plan once
        # more per epoch (r12 review-pass-11)
        out: dict = {}
        idempotent_append(batch, path, keys, _out=out)
        if state_dir is not None:
            from openlogreplicator_spark.metadata.state_documents import (
                advance_checkpoint_doc,
            )

            hi = out.get("hi")
            if hi is not None:
                advance_checkpoint_doc(state_dir, database, int(hi))

    return write


def write_lake_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = ("owner", "table"),
):
    """Warehouse/lake sink: change events land as parquet partitioned by
    the replicated table's identity — the layout a downstream MERGE/SCD2
    job wants (one partition per source table, pruned by any per-table
    consumer). Exactly-once via the streaming commit log. At 100 TB the
    partition columns bound file counts by table cardinality, not row
    count; within a partition, files are epoch-sized and carry tight
    commit_scn min/max stats for incremental consumers. Returns the
    unstarted ``DataStreamWriter``: the caller (``build_pipeline``)
    sets the trigger it uses for every sink, then starts it."""
    return (
        events.writeStream.format("parquet")
        .partitionBy(*partition_cols)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
