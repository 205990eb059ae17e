"""Incremental (Structured Streaming) KG construction: a drained stream
builds the batch pipeline's graph, and an epoch replay is idempotent."""

import os

from pyspark.sql import functions as F

from extract_cbd_shape_spark.sinks.materialize import (
    latest_manifest,
    read_latest_snapshot,
)
from extract_cbd_shape_spark.sources.pages import synth_pages
from extract_cbd_shape_spark.streaming import streaming_kg_construction

SF = "/root/testdata/sf0.001"


def test_streaming_kg_construction_matches_batch(spark, tmp_path):
    """Two waves of page files drained by availableNow runs must build
    the same final graph as ONE batch pipeline over all pages; the
    second wave is processed incrementally (delta snapshot inherits the
    first wave's data files)."""
    from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline
    from extract_cbd_shape_spark.sinks.materialize import (
        latest_snapshot_paths,
    )

    doc_id = F.element_at(F.split("url", "/"), -1).cast("long")
    pages = synth_pages(spark, SF).filter(doc_id < 20).cache()
    w1 = pages.filter(doc_id % 2 == 0)
    w2 = pages.filter(doc_id % 2 == 1)
    pages_dir = str(tmp_path / "pages")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    w1.coalesce(1).write.mode("append").parquet(pages_dir)
    streaming_kg_construction(spark, pages_dir, wh, ckpt)
    rows_after_w1 = latest_manifest(os.path.join(wh, "raw_triples"))["rows"]

    w2.coalesce(1).write.mode("append").parquet(pages_dir)
    streaming_kg_construction(spark, pages_dir, wh, ckpt)

    m = latest_manifest(os.path.join(wh, "raw_triples"))
    assert m["rows"] > rows_after_w1 and m.get("delta_rows")
    assert len(latest_snapshot_paths(os.path.join(wh, "raw_triples"))) >= 2

    wh_batch = str(tmp_path / "wh_batch")
    KGConstructionPipeline(spark, wh_batch).run(pages, resume=False)
    cols = ["subject", "predicate", "object_value"]
    got = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh, "triples")).select(*cols).collect()}
    want = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_batch, "triples")).select(*cols).collect()}
    assert got == want and len(got) > 0

    # a third drain with no new files must not change the warehouse
    snaps_before = sorted(os.listdir(os.path.join(wh, "raw_triples")))
    streaming_kg_construction(spark, pages_dir, wh, ckpt)
    assert sorted(os.listdir(os.path.join(wh, "raw_triples"))) == snaps_before


def test_run_incremental_epoch_replay_idempotent(spark, tmp_path):
    """Re-running an incremental batch with the SAME epoch (a streaming
    replay) must not append a second delta; a different epoch must."""
    from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline
    from extract_cbd_shape_spark.sinks.materialize import (
        latest_snapshot_paths,
    )

    pages = synth_pages(spark, SF).orderBy("url").limit(10).cache()
    w1 = pages.limit(5)
    w2 = pages.subtract(w1)
    wh = str(tmp_path / "wh")
    pipe = KGConstructionPipeline(spark, wh)
    pipe.run(w1, resume=False)

    m1 = pipe.run_incremental(w2, epoch=7)
    dirs1 = latest_snapshot_paths(os.path.join(wh, "raw_triples"))
    m2 = pipe.run_incremental(w2, epoch=7)  # replay: same epoch
    dirs2 = latest_snapshot_paths(os.path.join(wh, "raw_triples"))
    assert dirs1 == dirs2
    assert m2["raw_triples"]["rows"] == m1["raw_triples"]["rows"]
    assert m2["entity_triples"]["rows"] == m1["entity_triples"]["rows"]
