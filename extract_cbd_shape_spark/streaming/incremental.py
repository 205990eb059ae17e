"""Incremental KG construction with Structured Streaming.

The reference is batch-per-page (LDES pages are pulled, not pushed;
SURVEY.md §2.2 "Streaming: none"), so this module is pipeline
infrastructure, not reference parity: new page files landing in a
corpus directory are ingested incrementally —

    readStream(parquet pages dir)
      -> foreachBatch: the KG pipeline's run_incremental over the
         micro-batch (plans/pipeline.py), one delta snapshot per table
         (sinks/materialize.py), with the stream checkpoint providing
         exactly-once batch replay and the batch id stamped into each
         manifest as its epoch.

``Trigger.AvailableNow`` (availableNow=True) drains everything present
and stops — the "incremental re-run over new page partitions" mode from
SURVEY.md §2.2. A long-lived trigger works identically at cluster scale;
``maxFilesPerTrigger`` bounds micro-batch size so executor memory is
sized by config, not corpus size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """Streaming DataFrame over a directory of page parquet files."""
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def streaming_kg_construction(
    spark: SparkSession,
    pages_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    shapes_graph=None,
    shape=None,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Continuous KG construction: every micro-batch of new page files
    runs the full incremental pipeline — parse + per-entity extraction
    over ONLY the batch (delta snapshots inheriting the prior corpus's
    data files, plans/pipeline.run_incremental), then the graph stages
    recomputed over the union.

    Exactly-once across crashes at ANY point: the stream checkpoint
    dedups input files, and ``run_incremental(epoch=batch_id)`` stamps
    the batch id into each incremental snapshot manifest, so a replayed
    micro-batch skips exactly the stages its crashed attempt committed
    and re-runs the rest (graph stages are idempotent recomputes).
    Returns the finished StreamingQuery."""
    from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline

    pipe = KGConstructionPipeline(
        spark, warehouse, shapes_graph=shapes_graph, shape=shape
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe.run_incremental(batch_df, epoch=batch_id)

    stream = pages_stream(spark, pages_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
