"""Structured Streaming ingestion into the time-bucketed SketchCache.

The reference ages buckets on a processing-time tick
(reference markercache.cpp:203-242) and always inserts into the
current bucket (:197-201).  ``stream_into_cache`` runs the same
lifecycle as a ``foreachBatch`` sink: each micro-batch is aggregated
into the bucketed SketchCache (event-time bucketing, documented
divergence from the reference's insert-time bucketing), then
``maybe_age`` seals/evicts/opens buckets and idempotently checkpoints —
the exact maybe_age/save sequence, driven by the stream clock instead
of a mutex-guarded tick.  ``jobs/stream_sketches.py`` is its CLI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache.sketch_cache import SketchCache


def stream_into_cache(
    stream_df: DataFrame,
    cache: SketchCache,
    ts_col: str = "ts",
    marker_col: str = "marker",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Attach a foreachBatch sink that folds each micro-batch into the
    SketchCache and runs the ageing step.  Returns the StreamingQuery.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist: three separate actions (emptiness, insert aggregation,
        # max-ts) would otherwise re-read the micro-batch source 3x
        batch_df.persist()
        try:
            max_ts = batch_df.agg(F.max(F.unix_timestamp(F.col(ts_col)))).collect()[0][0]
            if max_ts is None:
                return  # empty batch (or all-null timestamps)
            cache.insert_batch(batch_df, ts_col=ts_col, marker_col=marker_col,
                               source_label=f"stream-batch-{batch_id}")
            cache.maybe_age(int(max_ts))
            if cache.ckpt_dir:
                cache.save()
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
