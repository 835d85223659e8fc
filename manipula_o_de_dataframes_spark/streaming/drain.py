"""One-shot availableNow drains: how a drain runs and is torn down.

Every oracle-checkable streaming query in this package is the same
lifecycle around a different pipeline: stage a bounded snapshot into a
watched directory, run the stream once with ``trigger(availableNow)``
under a small scoped shuffle-partition count, read the sink, and leave
nothing behind. ``drain`` owns the run-and-teardown half; the staging
helpers own the three ways a snapshot becomes deliveries (symlinks to
a fixture table, one split write with heartbeats, or one write per
frame). Callers keep their pipeline, their watch/state dirs
(``tempfile.TemporaryDirectory``) and the re-hosting of the rows, whose
right shape depends on the result size.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
import uuid
from contextlib import ExitStack, contextmanager

from pyspark.sql import Column, DataFrame, SparkSession

# serializes drains: two overlapping drains would capture each other's
# temporary value as "old" and leave the session pinned at the drain
# setting after both restore
_DRAIN_LOCK = threading.Lock()


@contextmanager
def drain_shuffle_partitions(spark: SparkSession, n: int = 4):
    """Scope ``spark.sql.shuffle.partitions`` down for a one-shot drain.

    Each stateful operator keeps one state store PER shuffle partition
    and commits every store every micro-batch — overhead linear in the
    partition count, regardless of data volume. An availableNow drain
    of a bounded snapshot wants a small fixed count (measured 2× on the
    stream-stream join at 32→8, and a further ~0.7s at 8→4 — the
    symmetric hash join keeps FOUR stores per partition, so the
    commit count is 4·n·batches; below 4 the gain flattens while
    per-partition state grows). The conf is restored on exit, so batch
    parallelism outside the drain is untouched; streaming queries latch
    the value at .start(), which this context encloses.
    """
    with _DRAIN_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def drain(df: DataFrame, mode=None, foreach_batch=None, checkpoint=None):
    """Run ``df`` once to completion; yield ``(sink, recentProgress)``.

    The sink is a memory table (``sink`` is its frame, valid only inside
    the ``with`` block), or ``foreach_batch`` when given (``sink`` is
    None). ``mode`` is the output mode, Spark's default when None. The
    query gets a uuid name and runs availableNow under
    ``drain_shuffle_partitions``; the scope ends before the caller's
    block, so re-hosting runs at the session's own parallelism. On exit,
    also when the query raised, the sink table is dropped and a scratch
    checkpoint removed; a ``checkpoint`` the caller passes is kept.
    """
    spark = df.sparkSession
    name = "drain_" + uuid.uuid4().hex
    w = df.writeStream.queryName(name).trigger(availableNow=True)
    if mode is not None:
        w = w.outputMode(mode)
    w = w.format("memory") if foreach_batch is None else w.foreachBatch(foreach_batch)
    with ExitStack() as cleanup:
        if checkpoint is None:
            checkpoint = cleanup.enter_context(
                tempfile.TemporaryDirectory(prefix="graft_drain_ckpt_", ignore_cleanup_errors=True)
            )
        cleanup.callback(spark.catalog.dropTempView, name)
        with drain_shuffle_partitions(spark):
            q = w.option("checkpointLocation", checkpoint).start()
            cleanup.callback(lambda: q.isActive and q.stop())
            q.awaitTermination()
        yield (spark.table(name) if foreach_batch is None else None), q.recentProgress


def pin_increasing_mtimes(watch_dir: str, names) -> None:
    """Pin strictly increasing mtimes on staged deliveries, in order.

    FileStreamSource orders files by modification time; back-to-back
    writes can tie, which would reorder micro-batches and silently
    flip any order-dependent sink (last-writer-wins upserts, index
    builds, late-data filters). A name is a single file or a directory
    whose files all get the delivery's time.
    """
    for i, sub in enumerate(names, start=1):
        t = 1_000_000_000 + i * 100
        path = os.path.join(watch_dir, sub)
        files = [path] if os.path.isfile(path) else [
            os.path.join(root, fn) for root, _dirs, fns in os.walk(path) for fn in fns
        ]
        for f in files:
            os.utime(f, (t, t))


def link_deliveries(watch_dir: str, sf_dir: str, table: str, copies: int = 1) -> None:
    """Stage a fixture table into ``watch_dir`` by symlink (no copy).

    One copy keeps the table's file name (``<table>.parquet``, which a
    file-name-derived column may render); more copies are a redelivered
    feed, ``<table>_delivery<i>.parquet``.
    """
    src = os.path.join(sf_dir, f"{table}.parquet")
    names = [f"{table}.parquet"] if copies == 1 else [
        f"{table}_delivery{i}.parquet" for i in range(1, copies + 1)
    ]
    for n in names:
        os.symlink(src, os.path.join(watch_dir, n))


def split_deliveries(watch_dir: str, df: DataFrame, delivery: Column, n: int) -> None:
    """Stage ``df`` as ``n`` timed single-file deliveries.

    ``delivery`` numbers each row's delivery (1..n). One staging job:
    ``partitionBy`` splits every delivery in a single scan, each
    delivery's one part file is copied to ``delivery<i>.parquet``, and a
    delivery with no rows becomes an empty heartbeat file with the
    frame's physical schema (written driver-side, no Spark job). Mtimes
    are pinned in delivery order, so ``maxFilesPerTrigger=1`` reads one
    delivery per micro-batch.
    """
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    names = [f"delivery{i}.parquet" for i in range(1, n + 1)]
    with tempfile.TemporaryDirectory(prefix="graft_drain_stage_", ignore_cleanup_errors=True) as stage:
        df.withColumn("__d", delivery).coalesce(1).write.partitionBy("__d").mode(
            "overwrite"
        ).parquet(stage)
        for i, name in enumerate(names, start=1):
            dst = os.path.join(watch_dir, name)
            parts = glob.glob(os.path.join(stage, f"__d={i}", "part-*.parquet"))
            if parts:
                shutil.copyfile(parts[0], dst)
            else:
                pq.write_table(to_arrow_schema(df.schema).empty_table(), dst)
    pin_increasing_mtimes(watch_dir, names)


def write_deliveries(watch_dir: str, **frames: DataFrame) -> None:
    """Write each frame as one single-file delivery subdir of
    ``watch_dir``, named by its keyword, with mtimes pinned in keyword
    order (read back with ``parquet(watch_dir + "/*")``)."""
    for name, frame in frames.items():
        frame.coalesce(1).write.parquet(os.path.join(watch_dir, name))
    pin_increasing_mtimes(watch_dir, frames)
