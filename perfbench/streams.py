"""Streaming legs: the events spool, operator builds and self-driven
drains.

The spool is written by the input generator as ``inputs.SPOOL_FILES``
time-range parquet files with ascending mtimes, so the file source
replays it in event-time order, ``MAX_FILES_PER_TRIGGER`` files per
micro-batch: a drain runs one data micro-batch per file, and the
watermark advances between them. The benchmark starts every query
itself (``availableNow`` into a memory sink) and records whether it
terminated on its own: a drain cut by the timeout is a failed
operation, never a short result.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

MAX_FILES_PER_TRIGGER = 1
DRAIN_TIMEOUT_S = 60

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")

# highest_bid: tumbling window length and watermark delay, in seconds
HB_SIZE_S = 86400.0
HB_DELAY_S = 3600


def spool(data: str) -> tuple[str, int]:
    """The events spool written by the input generator: (path, rows)."""
    import pyarrow.parquet as pq

    path = os.path.join(data, "events_spool")
    return path, sum(pq.ParquetFile(p).metadata.num_rows
                     for p in glob.glob(f"{path}/part-*"))


def source(spark, path: str):
    return (spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .parquet(path))


# -------------------------------------------------------------------- #
# legs: name -> build(ctx, spark, spool path) -> Stream or DataFrame
# -------------------------------------------------------------------- #

def _noop(ctx, spark, path):
    return source(spark, path)


def _highest_bid(ctx, spark, path):
    from renoir_spark.nexmark import highest_bid

    return highest_bid(ctx.from_df(source(spark, path)), size=HB_SIZE_S,
                       watermark=f"{HB_DELAY_S} seconds")


LEGS = {
    "noop": _noop,
    "highest_bid": _highest_bid,
}


def highest_bid_batch(ctx, spark, path):
    """The same operator over the spool read as one bounded table, and
    the final watermark a drain of the spool reaches (epoch seconds).
    Only purchases advance the watermark (their filter is pushed below
    it), so it is the last purchase's time minus the delay."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from renoir_spark.nexmark import highest_bid

    bounded = spark.read.schema(EVENT_SCHEMA).parquet(path)
    rows = highest_bid(ctx.from_df(bounded), size=HB_SIZE_S).df.collect()
    ts = ds.dataset(path).to_table(
        columns=["ts"], filter=pc.field("event_type") == "purchase")
    last = pc.max(ts.column("ts")).as_py().timestamp()
    return rows, last - HB_DELAY_S


def drain(spark, df, checkpoint: str):
    """Drain ``df`` to completion into a memory sink. Returns (seconds,
    terminated on its own, progress dicts, sink table name)."""
    name = "pb_" + uuid.uuid4().hex[:12]
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", checkpoint).start())
    t0 = time.perf_counter()
    try:
        done = q.awaitTermination(DRAIN_TIMEOUT_S)
    finally:
        dt = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            done = False
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    progress = [p if isinstance(p, dict) else p.json for p in
                q.recentProgress]
    return dt, bool(done), progress, name
