"""End-to-end KG pipeline tests: stage snapshots, resume, lineage,
page-text invariant."""

import json
import os

import pytest
from pyspark.sql import functions as F

from extract_cbd_shape_spark.plans.pipeline import KGConstructionPipeline
from extract_cbd_shape_spark.sinks.materialize import (
    data_files,
    latest_manifest,
    latest_snapshot_paths,
    materialize_table,
    read_latest_snapshot,
)
from extract_cbd_shape_spark.sources.pages import (
    extract_page_text,
    synth_pages,
)

from conftest import max_partition_bytes

SF = "/root/testdata/sf0.001"
# Stages a run without CONSTRUCT rules times (KGConstructionPipeline.
# stage_seconds); only a skipped stage may be missing.
STAGES = {"parse", "extract", "link", "canonicalize", "materialize"}


def test_page_text_byte_identical(spark):
    pages = synth_pages(spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    extracted = extract_page_text(pages)
    joined = pages.select("url", "text").join(extracted, "url")
    n = joined.count()
    assert n == docs.count()
    mismatches = joined.filter(F.col("text") != F.col("extracted_text")).count()
    assert mismatches == 0


def test_materialize_snapshots_and_manifest(spark, tmp_path):
    df = spark.range(100).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    path = str(tmp_path / "tbl")
    m1 = materialize_table(df, path, "stage1", n_buckets=4)
    assert m1["snapshot"] == 0 and m1["rows"] == 100
    assert len(m1["partitions"]) <= 4
    m2 = materialize_table(df.limit(10), path, "stage2", n_buckets=4)
    assert m2["snapshot"] == 1 and m2["parent"] == 0
    latest = read_latest_snapshot(spark, path)
    assert latest.count() == 10
    assert latest_manifest(path)["stage"] == "stage2"


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pages = synth_pages(spark, SF).limit(50)
    pipe = KGConstructionPipeline(spark, wh)
    manifests = pipe.run(pages, resume=False)
    assert set(pipe.stage_seconds) == STAGES
    assert manifests["raw_triples"]["rows"] > 0
    assert manifests["entity_triples"]["rows"] > 0
    assert manifests["links"]["rows"] > 0
    assert manifests["triples"]["rows"] >= manifests["entity_triples"]["rows"]
    # lineage: per-bucket partition stats present
    assert manifests["raw_triples"]["partitions"]

    # Resume: no new snapshots are written when all stages are done.
    snaps_before = {
        t: sorted(os.listdir(os.path.join(wh, t))) for t in os.listdir(wh)
    }
    pipe2 = KGConstructionPipeline(spark, wh)
    manifests2 = pipe2.run(pages, resume=True)
    snaps_after = {
        t: sorted(os.listdir(os.path.join(wh, t))) for t in os.listdir(wh)
    }
    assert snaps_before == snaps_after
    assert manifests2["triples"]["rows"] == manifests["triples"]["rows"]


def test_materialize_append_snapshot(spark, tmp_path):
    df1 = spark.range(60).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    df2 = spark.range(60, 100).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    )
    path = str(tmp_path / "tbl")
    m1 = materialize_table(df1, path, "ingest", n_buckets=4)
    m2 = materialize_table(df2, path, "ingest", n_buckets=4, append=True)
    assert m2["rows"] == 100 and m2["delta_rows"] == 40
    assert len(m2["data_dirs"]) == 2
    latest = read_latest_snapshot(spark, path)
    assert latest.count() == 100
    assert "bucket" in latest.columns  # partition col survives multi-root read
    # layout mismatch is rejected, not silently mixed
    with pytest.raises(ValueError):
        materialize_table(df2, path, "ingest", n_buckets=8, append=True)
    # a later full write supersedes the chain
    m3 = materialize_table(df1, path, "rebuild", n_buckets=4)
    assert m3["rows"] == 60
    assert read_latest_snapshot(spark, path).count() == 60


def test_torn_manifest_write_is_invisible(spark, tmp_path, monkeypatch):
    """A crash while the manifest is being written leaves the snapshot
    uncommitted: readers still see the previous snapshot, and a retried
    append commits the same manifest as a clean run."""
    def subjects(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("s"), F.col("id")).alias("subject"),
            F.lit("p").alias("predicate"),
        )

    clean = str(tmp_path / "clean")
    materialize_table(subjects(0, 60), clean, "ingest", n_buckets=4)
    want = materialize_table(subjects(60, 100), clean, "ingest",
                             n_buckets=4, append=True)

    path = str(tmp_path / "tbl")
    materialize_table(subjects(0, 60), path, "ingest", n_buckets=4)

    def torn_dump(obj, f, **kwargs):
        text = json.dumps(obj, **kwargs)
        f.write(text[: len(text) // 2])
        raise OSError("disk full")

    with monkeypatch.context() as mp:
        mp.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError):
            materialize_table(subjects(60, 100), path, "ingest",
                              n_buckets=4, append=True)
    assert latest_manifest(path)["snapshot"] == 0
    assert len(latest_snapshot_paths(path)) == 1

    got = materialize_table(subjects(60, 100), path, "ingest",
                            n_buckets=4, append=True)
    assert got["snapshot"] == want["snapshot"] == 1
    assert got["rows"] == want["rows"] == 100
    assert latest_manifest(path)["rows"] == 100
    assert read_latest_snapshot(spark, path).count() == 100


def _subjects_parquet(spark, path, lo, hi):
    spark.range(lo, hi).select(
        F.concat(F.lit("s"), F.col("id")).alias("subject"),
        F.lit("p").alias("predicate"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_materialize_buckets_sized_by_input_bytes(spark, tmp_path):
    """n_buckets=None: one bucket per spark.sql.files.maxPartitionBytes
    of input files, floored at defaultParallelism."""
    src = str(tmp_path / "src")
    df = _subjects_parquet(spark, src, 0, 2000)
    nbytes = sum(os.path.getsize(f) for f in data_files(src))
    floor = spark.sparkContext.defaultParallelism
    small = materialize_table(df, str(tmp_path / "small"), "s")
    assert small["n_buckets"] == floor
    split = nbytes // (3 * floor)
    with max_partition_bytes(spark, split):
        many = materialize_table(df, str(tmp_path / "many"), "s")
    assert many["n_buckets"] == -(-nbytes // split) > floor
    assert len(many["partitions"]) > floor
    assert small["rows"] == many["rows"] == 2000


def test_materialize_append_inherits_bucket_count(spark, tmp_path):
    """An append with n_buckets=None keeps the parent's bucket count
    even when the delta's own bytes would choose another; an explicit
    count that differs from the parent's is rejected."""
    base = _subjects_parquet(spark, str(tmp_path / "a"), 0, 2000)
    delta = _subjects_parquet(spark, str(tmp_path / "b"), 2000, 2100)
    floor = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "tbl")
    with max_partition_bytes(spark, 1024):
        m1 = materialize_table(base, path, "ingest")
    assert m1["n_buckets"] > floor
    m2 = materialize_table(delta, path, "ingest", append=True)
    assert m2["n_buckets"] == m1["n_buckets"]
    assert m2["rows"] == 2100
    with pytest.raises(ValueError):
        materialize_table(delta, path, "ingest", n_buckets=floor, append=True)


def test_pipeline_incremental_matches_full(spark, tmp_path):
    """run_incremental(batch B) over a warehouse built from batch A must
    produce the same final graph as one full run over A ∪ B, while only
    parsing/extracting B (delta snapshots inherit parent files)."""
    pages = synth_pages(spark, SF).orderBy("url")
    pages_a = pages.filter(F.col("url").endswith("0") | F.col("url").endswith("1")
                           | F.col("url").endswith("2"))
    pages_b = pages.subtract(pages_a)

    wh_inc = str(tmp_path / "wh_inc")
    pipe = KGConstructionPipeline(spark, wh_inc)
    m_a = pipe.run(pages_a, resume=False)
    m_inc = pipe.run_incremental(pages_b)
    assert set(pipe.stage_seconds) == STAGES

    wh_full = str(tmp_path / "wh_full")
    m_full = KGConstructionPipeline(spark, wh_full).run(
        pages_a.unionByName(pages_b), resume=False)

    # corpus-scale tables: appended, row-exact vs the full run
    assert m_inc["raw_triples"]["rows"] == m_full["raw_triples"]["rows"]
    assert m_inc["entity_triples"]["rows"] == m_full["entity_triples"]["rows"]
    assert len(latest_snapshot_paths(os.path.join(wh_inc, "raw_triples"))) == 2
    assert len(latest_snapshot_paths(os.path.join(wh_inc, "entity_triples"))) == 2
    # stage 2 touched ONLY the delta's bucket files
    delta_raw = os.path.join(
        wh_inc, "raw_triples",
        f"snap-{m_inc['raw_triples']['snapshot']:04d}", "data")
    srcs = {p["src"] for p in m_inc["entity_triples"]["partitions"]}
    assert srcs and all(s.startswith(delta_raw) for s in srcs)

    # final graph identical (order-insensitive)
    cols = ["subject", "predicate", "object_value"]
    got = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_inc, "triples")).select(*cols).collect()}
    want = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "triples")).select(*cols).collect()}
    assert got == want and len(got) > 0

    # and the raw corpus reads back as the union
    assert read_latest_snapshot(
        spark, os.path.join(wh_inc, "raw_triples")).count() == \
        m_full["raw_triples"]["rows"]


def test_pipeline_incremental_giant_delta_routing(spark, tmp_path, monkeypatch):
    """A giant page arriving IN the delta batch must route through the
    global engine during the incremental run and still land in the
    inherited entity_triples snapshot."""
    import extract_cbd_shape_spark.plans.pipeline as pipemod

    pages = synth_pages(spark, SF).orderBy("url").limit(12)
    pages_a = pages.limit(6)
    pages_b = pages.subtract(pages_a)

    wh = str(tmp_path / "wh")
    pipe = KGConstructionPipeline(spark, wh)
    pipe.run(pages_a, resume=False)
    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2)
    m_inc = pipe.run_incremental(pages_b)
    assert m_inc["raw_triples"]["delta_giant_stores"], "delta pages must be giant"

    wh_full = str(tmp_path / "wh_full")
    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2_000_000)
    m_full = KGConstructionPipeline(spark, wh_full).run(
        pages_a.unionByName(pages_b), resume=False)
    cols = ["entity", "subject", "predicate", "object_value"]
    a = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh, "entity_triples")).select(*cols).collect()}
    b = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "entity_triples")).select(*cols).collect()}
    assert a == b and len(a) > 0


def test_pipeline_giant_page_routing_parity(spark, tmp_path, monkeypatch):
    """With GIANT_PAGE_QUADS forced low every page becomes 'giant' and
    stage 2's sink-fused kernel must exclude them while the global
    engine serves them into the same snapshot — the triple set must
    equal a normal-threshold run."""
    import extract_cbd_shape_spark.plans.pipeline as pipemod

    # deterministic page subset (a bare limit() may pick different rows
    # per action, and the two pipelines must see identical input)
    pages = synth_pages(spark, SF).orderBy("url").limit(20)
    base = KGConstructionPipeline(spark, str(tmp_path / "wh1")).run(
        pages, resume=False)

    monkeypatch.setattr(pipemod, "GIANT_PAGE_QUADS", 2)
    giant = KGConstructionPipeline(spark, str(tmp_path / "wh2")).run(
        pages, resume=False)
    assert giant["entity_triples"]["rows"] == base["entity_triples"]["rows"]
    assert giant["entity_triples"]["giant_stores"], "pages must route giant"
    cols = ["entity", "subject", "predicate", "object_value"]
    a = {tuple(r) for r in read_latest_snapshot(
        spark, str(tmp_path / "wh1/entity_triples")).select(*cols).collect()}
    b = {tuple(r) for r in read_latest_snapshot(
        spark, str(tmp_path / "wh2/entity_triples")).select(*cols).collect()}
    assert a == b and len(a) > 0
    assert giant["triples"]["rows"] == base["triples"]["rows"]


def test_blank_label_scoping_across_pages(spark):
    """Two pages each yield a parser-local _:b0 author node; after the
    global union their labels must NOT merge: each document's CBD pulls
    in exactly its own author name (reference blank scoping,
    lib/Shape.ts:115-138; SURVEY §7c)."""
    from extract_cbd_shape_spark.model import IRI, Term
    from extract_cbd_shape_spark.operators import BulkCBDShapeExtractor
    from extract_cbd_shape_spark.sources.pages import (
        extract_page_triples,
        scope_blank_label,
        synth_pages,
    )

    pages = synth_pages(spark, SF).limit(2)
    raw = extract_page_triples(pages)
    rows = raw.collect()
    blanks = {r.subject for r in rows if r.subject_kind == 1}
    # each page yields a _:b0 (JSON-LD author) and a _:md0 (microdata
    # person without itemid); all four labels must stay distinct
    assert len(blanks) == 4, "each page must get its own scoped labels"
    # global-engine extraction: author name must follow its own doc
    triples = raw.select(
        "subject", F.col("subject_kind").cast("tinyint"), "predicate",
        "object_value", F.col("object_kind").cast("tinyint"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(None).cast("tinyint").alias("graph_kind"),
    )
    docs = sorted({r.subject for r in rows
                   if r.subject_kind == 0 and r.predicate == "kg:author"})
    ex = BulkCBDShapeExtractor(spark)
    res, _ = ex.extract(triples, [Term(IRI, d) for d in docs])
    per_doc = {
        d: {r.object_value for r in res.collect()
            if r.entity == d and r.predicate == "kg:name"}
        for d in docs
    }
    for d in docs:
        assert len(per_doc[d]) == 1, per_doc
    assert per_doc[docs[0]] != per_doc[docs[1]] or len(set(
        v for s in per_doc.values() for v in s)) == 1
    # deterministic scoping helper
    assert scope_blank_label("u1", "_:b0") != scope_blank_label("u2", "_:b0")


def test_pipeline_construct_enrichment_stage(spark, tmp_path):
    """Stage 4b: CONSTRUCT rules over the extracted graph derive new
    triples into their own snapshot and the final triples union;
    resume skips the rule evaluation."""
    from extract_cbd_shape_spark.sinks.materialize import (
        read_latest_snapshot,
    )

    wh = str(tmp_path / "wh_enrich")
    pages = synth_pages(spark, SF).limit(30)
    rule = {
        "patterns": [("?p", "kg:author", "?a"), ("?p", "kg:lang", "?l")],
        "template": [("?a", "kg:writesIn", "?l")],
    }
    pipe = KGConstructionPipeline(spark, wh, construct_rules=[rule])
    manifests = pipe.run(pages, resume=False)
    assert manifests["derived_triples"]["rows"] > 0

    derived = read_latest_snapshot(spark, os.path.join(wh, "derived_triples"))
    got = {tuple(r) for r in derived.select(
        "subject", "predicate", "object_value").collect()}
    assert all(p == "kg:writesIn" for _, p, _ in got)

    # hand-derive the expected rule output from the entity graph.
    # Blank-node subjects (kg:author objects are page-scoped blanks)
    # must carry the kind-less layout's '_:' prefix in the flattened
    # derived table (ADVICE r4) — a bare label would be
    # indistinguishable from an IRI downstream.
    from extract_cbd_shape_spark.model import BLANK as _BLANK

    et = read_latest_snapshot(spark, os.path.join(wh, "entity_triples"))
    authors = et.filter(F.col("predicate") == "kg:author").select(
        F.col("subject").alias("p"),
        F.when(F.col("object_kind") == int(_BLANK),
               F.concat(F.lit("_:"), F.col("object_value")))
        .otherwise(F.col("object_value")).alias("a"))
    langs = et.filter(F.col("predicate") == "kg:lang").select(
        F.col("subject").alias("p"), F.col("object_value").alias("l"))
    want = {(r.a, "kg:writesIn", r.l)
            for r in authors.join(langs, "p").collect()}
    assert got == want
    assert any(s.startswith("_:") for s, _, _ in got)

    # derived triples are in the final table
    final = read_latest_snapshot(spark, os.path.join(wh, "triples"))
    n_writes = final.filter(F.col("predicate") == "kg:writesIn").count()
    assert n_writes == len(got)

    # resume: rules not re-run, snapshots unchanged
    snaps_before = sorted(os.listdir(os.path.join(wh, "derived_triples")))
    KGConstructionPipeline(spark, wh, construct_rules=[rule]).run(
        pages, resume=True)
    assert sorted(os.listdir(os.path.join(wh, "derived_triples"))) == snaps_before


def test_incremental_rerun_updates_derived_triples(spark, tmp_path):
    """CONSTRUCT enrichment under run_incremental: graph stages run with
    resume=False per batch, so the derived snapshot reflects the UNION
    after the delta, not the stale first-batch rules output."""
    from extract_cbd_shape_spark.sinks.materialize import (
        read_latest_snapshot,
    )

    pages = synth_pages(spark, SF).orderBy("url").limit(20).cache()
    w1 = pages.limit(10)
    w2 = pages.subtract(w1)
    wh = str(tmp_path / "wh_incr_enrich")
    rule = {
        "patterns": [("?p", "kg:author", "?a"), ("?p", "kg:lang", "?l")],
        "template": [("?a", "kg:writesIn", "?l")],
    }
    pipe = KGConstructionPipeline(spark, wh, construct_rules=[rule])
    m1 = pipe.run(w1, resume=False)
    n1 = m1["derived_triples"]["rows"]
    m2 = pipe.run_incremental(w2, epoch=1)
    n2 = m2["derived_triples"]["rows"]
    assert n1 > 0 and n2 > n1
    # derived rows equal a full batch run over all pages
    wh_full = str(tmp_path / "wh_full_enrich")
    mf = KGConstructionPipeline(
        spark, wh_full, construct_rules=[rule]).run(pages, resume=False)
    assert n2 == mf["derived_triples"]["rows"]
    got = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh, "derived_triples"))
        .select("subject", "predicate", "object_value").collect()}
    want = {tuple(r) for r in read_latest_snapshot(
        spark, os.path.join(wh_full, "derived_triples"))
        .select("subject", "predicate", "object_value").collect()}
    assert got == want


@pytest.fixture(scope="module")
def clean_warehouse(spark, tmp_path_factory):
    """One clean pipeline run over a fixed page subset: (pages, warehouse)."""
    pages = synth_pages(spark, SF).orderBy("url").limit(20).cache()
    wh = str(tmp_path_factory.mktemp("clean") / "wh")
    KGConstructionPipeline(spark, wh).run(pages, resume=False)
    return pages, wh


# Every table a run without CONSTRUCT rules writes.
TABLES = ("raw_triples", "entity_triples", "links", "entities", "triples")


def _table_rows(spark, wh, table, cols=None):
    """The rows of a table's latest snapshot over ``cols`` (default:
    every column but the bucket), sorted."""
    df = read_latest_snapshot(spark, os.path.join(wh, table))
    cols = cols or [c for c in df.columns if c != "bucket"]
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def test_leftover_sink_tmp_file_is_not_read(
        spark, clean_warehouse, tmp_path, monkeypatch):
    """A sink task killed between its result write and the rename, then
    retried, leaves a complete temp copy next to the committed file;
    readers must not count it, so the snapshot reads back exactly the
    manifest rows."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from extract_cbd_shape_spark.operators import local_extract

    class Killed(Exception):
        pass

    def killed(src, dst):
        raise Killed()

    _pages, clean = clean_warehouse
    wh = str(tmp_path / "wh")
    shutil.copytree(clean, wh)
    table = os.path.join(wh, "entity_triples")
    data = latest_snapshot_paths(table)[0]
    victim = sorted(glob.glob(os.path.join(data, "*.parquet")))[0]
    with monkeypatch.context() as m:
        m.setattr(local_extract.os, "replace", killed)
        with pytest.raises(Killed):
            local_extract._write_atomic(pq.read_table(victim), victim)
    leftovers = [f for f in os.listdir(data) if f.endswith(".tmp")]
    assert len(leftovers) == 1  # the killed attempt's complete copy
    assert read_latest_snapshot(spark, table).count() == \
        latest_manifest(table)["rows"]


def test_empty_incremental_batch(spark, clean_warehouse, tmp_path):
    """An empty batch commits empty delta snapshots and leaves the graph
    as it was; the next non-empty batch still matches a clean run over
    every page ingested."""
    import shutil

    pages, clean = clean_warehouse
    wh = str(tmp_path / "wh")
    shutil.copytree(clean, wh)
    before = latest_manifest(os.path.join(wh, "triples"))["rows"]
    pipe = KGConstructionPipeline(spark, wh)
    m = pipe.run_incremental(pages.limit(0), epoch=2)
    assert m["entity_triples"]["delta_rows"] == 0
    assert m["triples"]["rows"] == before

    batch = synth_pages(spark, SF).orderBy("url").limit(30).subtract(pages)
    pipe.run_incremental(batch, epoch=3)
    full = str(tmp_path / "full")
    KGConstructionPipeline(spark, full).run(
        pages.unionByName(batch), resume=False)
    for table, cols in (
            ("raw_triples", ["page_url", "subject", "predicate",
                             "object_value"]),
            ("entity_triples", ["entity", "subject", "predicate",
                                "object_value"]),
            ("triples", ["subject", "predicate", "object_value"])):
        assert _table_rows(spark, wh, table, cols) == \
            _table_rows(spark, full, table, cols), table


def test_resume_reparses_snapshot_without_giant_stores(
        spark, clean_warehouse, tmp_path):
    """A raw_triples snapshot written before ingest-time skew detection
    has no ``giant_stores``: resume re-parses it instead of trusting it,
    and the final tables equal a clean run."""
    import shutil

    pages, clean = clean_warehouse
    wh = str(tmp_path / "wh")
    shutil.copytree(clean, wh)
    raw = os.path.join(wh, "raw_triples")
    path = os.path.join(raw, "snap-0000", "manifest.json")
    with open(path) as f:
        m = json.load(f)
    for key in ("giant_stores", "giant_threshold", "delta_giant_stores"):
        m.pop(key, None)
    with open(path, "w") as f:
        json.dump(m, f)

    manifests = KGConstructionPipeline(spark, wh).run(pages, resume=True)
    assert manifests["raw_triples"]["snapshot"] == 1  # re-parsed
    assert "giant_stores" in latest_manifest(raw)
    for table in TABLES:
        assert _table_rows(spark, wh, table) == \
            _table_rows(spark, clean, table), table


@pytest.fixture(scope="module")
def clean_30(spark, tmp_path_factory):
    """A clean pipeline run over a 30-page superset of clean_warehouse's
    pages: (pages, warehouse)."""
    pages = synth_pages(spark, SF).orderBy("url").limit(30).cache()
    wh = str(tmp_path_factory.mktemp("clean30") / "wh")
    KGConstructionPipeline(spark, wh).run(pages, resume=False)
    return pages, wh


@pytest.mark.parametrize("crash_at", [
    "link_mentions", "connected_components_driver", "materialize_table"])
def test_resume_after_crash_over_earlier_build(
        spark, clean_warehouse, clean_30, tmp_path, monkeypatch, crash_at):
    """A warehouse holds a complete 20-page build. A 30-page
    ``run(resume=False)`` crashes in linking, in canonicalization or in
    the final triples write, after the stages before it committed. The
    resumed run must not take the earlier build's graph-stage snapshots
    as its own: every table ends equal to a clean 30-page build."""
    import shutil

    from extract_cbd_shape_spark.plans import pipeline as pipemod

    class Killed(Exception):
        pass

    _, build1 = clean_warehouse
    pages, clean = clean_30
    wh = str(tmp_path / "wh")
    shutil.copytree(build1, wh)
    if crash_at == "materialize_table":
        write = pipemod.materialize_table

        def crash(df, path, stage, *args, **kwargs):
            if stage == "materialize":  # the final triples write
                raise Killed()
            return write(df, path, stage, *args, **kwargs)
    else:
        def crash(*args, **kwargs):
            raise Killed()
    with monkeypatch.context() as m:
        m.setattr(pipemod, crash_at, crash)
        with pytest.raises(Killed):
            KGConstructionPipeline(spark, wh).run(pages, resume=False)
    KGConstructionPipeline(spark, wh).run(pages, resume=True)
    for table in TABLES:
        assert _table_rows(spark, wh, table) == \
            _table_rows(spark, clean, table), table
