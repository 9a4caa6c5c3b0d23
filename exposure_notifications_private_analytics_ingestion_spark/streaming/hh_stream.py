"""Streaming windowed heavy hitters: space-saving sketches as windowed state.

The same ``approx_top_k`` aggregate that powers the batch operator
(``operators/heavy_hitters.py``) runs INSIDE Structured Streaming state —
its TypedImperativeAggregate partial-merge is the trigger-to-trigger state
update, so a window's state is a fixed O(track) summary instead of an
unbounded exact-count map. Append mode emits each window's sketch exactly
once when the watermark passes its end.

The deterministic top-k cut (count desc, item asc) cannot run as a stream
operator (row_number over a streaming agg is unsupported), so it runs in
``foreachBatch`` on the just-emitted rows — valid because append mode emits
a window ONLY once, fully closed, so every item of the window is present in
that epoch. The finalization calls the batch operator's own
``rank_hitters``, keeping the twins identical by construction (pinned in
``tests/test_heavy_hitters.py``). Epoch-keyed dynamic-partition overwrite
makes retried epochs replace their own files (exactly-once, same mechanism
as ``streaming/sink.py``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.heavy_hitters import rank_hitters, topk_sketch_agg
from ..plans.compaction import _dynamic_overwrite

__all__ = ["start_heavy_hitters_stream"]


def start_heavy_hitters_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    ts_col: str,
    item_col: str,
    window_s: int = 3600,
    k: int = 3,
    track: int = 1024,
    watermark: str = "30 minutes",
    schema: T.StructType | None = None,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """parquet stream → windowed approx_top_k → per-epoch rank → parquet.

    Output rows: (window_start_ms, item, cnt, rank, epoch) — identical to
    ``windowed_heavy_hitters`` on the same closed windows, plus the epoch.
    """
    if schema is None:
        schema = spark.read.parquet(input_path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_path)
    )
    sketched = (
        src.filter(F.col(ts_col).isNotNull() & F.col(item_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, f"{window_s} seconds").alias("w"))
        .agg(topk_sketch_agg(item_col, track).alias("_hh"))
        .select(
            F.expr("unix_micros(w.start) div 1000").alias("window_start_ms"),
            "_hh",
        )
    )

    def _finalize(batch_df, epoch_id):
        # NOTE: no isEmpty() pre-check — every action on a foreachBatch frame
        # re-executes the stateful microbatch plan, so an emptiness probe
        # would run the windowed sketch agg once just to answer a boolean
        # (~2× epoch cost). Persist
        # the (tiny: ≤ closed windows) emitted rows and count the cache.
        cached = batch_df.persist()
        try:
            if cached.count() == 0:
                return
            ranked = rank_hitters(cached, ["window_start_ms"], k).withColumn(
                "epoch", F.lit(int(epoch_id))
            )
            # scoped: leaking dynamic mode onto the shared session would turn
            # later static full-table overwrites into partial ones
            with _dynamic_overwrite(cached.sparkSession):
                ranked.write.mode("overwrite").partitionBy("epoch").parquet(
                    output_path
                )
        finally:
            cached.unpersist()

    writer = (
        sketched.writeStream.foreachBatch(_finalize)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
