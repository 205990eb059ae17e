"""Graph materialization: partitioned, snapshot-checkpointed tables.

Production target is Iceberg (`writeTo(...).partitionedBy(bucket(N,
subject))` with snapshot-per-stage); this sandbox has no Iceberg
runtime, so the same contract is implemented on plain Parquet:

* every write is a new immutable snapshot directory ``snap-NNNN``
  with a manifest (row counts via ``observe()``, per-partition lineage,
  the stage name, and the parent snapshot);
* readers resolve the latest committed snapshot (manifest present =
  committed — a crashed write leaves no manifest and is invisible);
* data is hash-bucketed by a key column (subject for the triples
  table) so downstream subject-keyed joins co-locate.

This provides the north rule's "resumable from checkpoint with
per-partition lineage + counters" on any filesystem.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"


def _snapshots(path: str) -> List[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d for d in os.listdir(path)
        if d.startswith("snap-") and os.path.exists(os.path.join(path, d, MANIFEST))
    )


def _write_manifest(snap_dir: str, manifest: dict) -> None:
    """Commit a snapshot: write its manifest to a hidden temp file, then
    rename it into place. The rename is atomic, so a crash mid-write
    leaves no manifest and the snapshot stays invisible."""
    tmp = os.path.join(snap_dir, f".{MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(snap_dir, MANIFEST))


def parts_for_bytes(spark: SparkSession, nbytes: int) -> int:
    """How many buckets or tasks ``nbytes`` of input gets: one per
    ``spark.sql.files.maxPartitionBytes`` (the split size Spark's own
    file scans use), never fewer than ``defaultParallelism`` so small
    inputs still use every core. Work is sized by bytes, never by a key
    or file count; the skew that bytes cannot see (one giant store) is
    the giant-store guard's job.

    That setting therefore also fixes the persisted layout: the bucket
    count of every ``materialize_table`` write with ``n_buckets=None``,
    and through it the store-local sink's task count (one per bucket
    file). Changing it to tune scan splits changes how later snapshots
    are written; appends keep their parent's count."""
    max_bytes = (spark._jsparkSession.sessionState().conf()
                 .filesMaxPartitionBytes())
    return max(spark.sparkContext.defaultParallelism, -(-nbytes // max_bytes))


def _input_bytes(df: DataFrame) -> int:
    """Bytes of the files ``df`` reads. ``inputFiles()`` comes from the
    driver-side file index: no Spark job. A DataFrame built from local
    data or an RDD lists no files and counts 0.

    An upper-bound proxy for the size of ``df``: it ignores filters,
    projections and aggregation, so a narrow derived table (``links``
    is a filter plus a groupBy over ``entity_triples``) is sized like
    its whole input. Only the ``defaultParallelism`` floor has been
    exercised by a benchmark so far."""
    return sum(os.path.getsize(unquote(urlparse(u).path))
               for u in df.inputFiles())


def data_files(path: str) -> List[str]:
    """All parquet data files under one data dir (hive partition
    subdirs included), sorted."""
    files: List[str] = []
    for root, _dirs, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                files.append(os.path.join(root, fn))
    return sorted(files)


def _data_dirs(manifest: dict) -> List[str]:
    """Data directories of a snapshot, RELATIVE to the table path.
    Full snapshots own exactly their own dir; append snapshots inherit
    the parent's files by reference (the Iceberg manifest-reuse model —
    data files are immutable, a new snapshot lists old + new)."""
    return manifest.get("data_dirs") or [
        os.path.join(f"snap-{manifest['snapshot']:04d}", "data")
    ]


def materialize_table(
    df: DataFrame,
    path: str,
    stage: str,
    bucket_by: Optional[str] = "subject",
    n_buckets: Optional[int] = None,
    giant_threshold: Optional[int] = None,
    append: bool = False,
    manifest_extra: Optional[dict] = None,
) -> dict:
    """Write df as the next snapshot of the table at ``path``.
    Returns the manifest dict.

    A bucketed write lands each bucket as ONE file, so every
    ``bucket_by`` group lives whole inside one file — the precondition
    for store-local extraction, whose tasks each take whole bucket files
    (``operators.local_extract.extract_store_files_to_store``). This is
    the parquet stand-in for Iceberg's ``partitionedBy(bucket(N, col))``
    write distribution.

    ``n_buckets=None`` sizes the table from its input:
    ``parts_for_bytes`` of the bytes of ``df.inputFiles()`` (listed on
    the driver, no Spark job), so a small table is written in
    ``defaultParallelism`` files, not in a fixed count of tiny ones. A
    DataFrame that reads no files gets that floor.

    ``giant_threshold`` records in the manifest the ``bucket_by`` values
    with more than that many rows (``giant_stores``). Skew detection is
    an ingest-time property of the data, so it is paid once here — with
    map-side partial aggregation the pass is cheap — and every
    downstream extraction routes giants without re-scanning the corpus.

    ``append=True``: ``df`` is a DELTA batch. Only the delta's files are
    written; the new snapshot's manifest lists the parent's data dirs by
    reference plus its own (Iceberg snapshot/manifest reuse — a 100 TB
    table is never rewritten to ingest a day of crawl). Caller contract
    for append tables read by store-local extraction: the delta
    contains only NEW ``bucket_by`` groups, so every group still lives
    whole inside one file. A group already in the table (a re-crawled
    page) is not replaced but split over two files;
    ``functions.urls.url_dedup`` cannot prevent that, since it dedups
    only within one DataFrame. With
    ``n_buckets=None`` the delta inherits the parent's bucket count; an
    explicit count that differs from it is rejected. Manifest carries
    merged ``giant_stores`` plus delta-scoped ``delta_giant_stores`` /
    ``delta_rows`` so incremental consumers process only the delta."""
    snap_id = len(_snapshots(path))
    snap_dir = os.path.join(path, f"snap-{snap_id:04d}")
    parent = latest_manifest(path) if append else None
    if parent is not None:
        if n_buckets is None:
            n_buckets = parent.get("n_buckets")
        if parent.get("bucket_by") != bucket_by or (
            bucket_by and parent.get("n_buckets") != n_buckets
        ):
            raise ValueError(
                "append batch layout mismatch: parent snapshot is "
                f"bucket_by={parent.get('bucket_by')}/"
                f"n_buckets={parent.get('n_buckets')}, delta wants "
                f"{bucket_by}/{n_buckets}"
            )

    out = df
    if bucket_by is not None:
        if n_buckets is None:
            n_buckets = parts_for_bytes(df.sparkSession, _input_bytes(df))
        out = out.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_by)), F.lit(n_buckets)).cast("int")
        )
        # Hash write distribution (Iceberg `write.distribution-mode=hash`
        # equivalent): without it every input task writes a file into
        # every bucket directory — tasks x n_buckets small files per
        # snapshot, a metadata explosion at scale (and measurably the
        # dominant pipeline-stage cost on this sandbox's shared disk).
        # One write-side shuffle puts each bucket in ONE task -> one
        # file per bucket, which is also what store-local extraction
        # requires.
        out = out.repartition(n_buckets, F.col("bucket"))
    writer = out.write.mode("overwrite")
    if bucket_by is not None:
        writer = writer.partitionBy("bucket")
    writer.parquet(snap_dir + "/data")

    # Manifest stats from the parquet FOOTERS, driver-side — zero Spark
    # jobs (VERDICT r2 #5: manifest collects were serial stages between
    # pipeline stages). Row counts per bucket = sum of footer num_rows
    # per partition directory; total = their sum. (Iceberg gets the
    # same numbers from its own manifests at commit time.)
    import pyarrow.parquet as pq

    spark = df.sparkSession
    bucket_rows: dict = {}
    rows = 0
    for fp in data_files(snap_dir + "/data"):
        n = pq.read_metadata(fp).num_rows
        rows += n
        base = os.path.basename(os.path.dirname(fp))
        if base.startswith("bucket="):
            b = int(base.split("=", 1)[1])
            bucket_rows[b] = bucket_rows.get(b, 0) + n
    per_partition = [
        {"bucket": b, "rows": n} for b, n in sorted(bucket_rows.items())
    ]
    giants = None
    if giant_threshold is not None and bucket_by is not None:
        # A giant group can only live in a bucket whose TOTAL exceeds
        # the threshold — scan only those partitions (partition-pruned
        # read) instead of the whole table; usually none qualify and
        # the scan is skipped entirely.
        suspicious = [b for b, n in bucket_rows.items() if n > giant_threshold]
        giants = []
        if suspicious:
            giants = sorted(
                r[0]
                for r in spark.read.parquet(snap_dir + "/data")
                .filter(F.col("bucket").isin(suspicious))
                .groupBy(bucket_by)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > giant_threshold)
                .collect()
            )
    own_dir = os.path.join(f"snap-{snap_id:04d}", "data")
    manifest = {
        "snapshot": snap_id,
        "parent": snap_id - 1 if snap_id > 0 else None,
        "stage": stage,
        "rows": (parent["rows"] + rows) if parent else rows,
        "bucket_by": bucket_by,
        "n_buckets": n_buckets if bucket_by else None,
        "partitions": per_partition,
        "data_dirs": (_data_dirs(parent) + [own_dir]) if parent else [own_dir],
    }
    if parent:
        manifest["delta_rows"] = rows
    if giants is not None:
        manifest["giant_threshold"] = giant_threshold
        manifest["delta_giant_stores"] = giants
        manifest["giant_stores"] = sorted(
            set(giants) | set(parent.get("giant_stores") or [])
        ) if parent else giants
    elif parent and parent.get("giant_stores") is not None:
        manifest["giant_threshold"] = parent.get("giant_threshold")
        manifest["giant_stores"] = parent["giant_stores"]
        manifest["delta_giant_stores"] = []
    if manifest_extra:
        manifest.update(manifest_extra)
    os.makedirs(snap_dir, exist_ok=True)
    _write_manifest(snap_dir, manifest)
    return manifest


def begin_snapshot(path: str) -> str:
    """Reserve the next snapshot directory of the table at ``path``
    for a writer that lands data files itself (the sink-fused
    extraction). Uncommitted leftovers from a crashed attempt are
    invisible to readers (no manifest) and are simply overwritten —
    file writers must use deterministic names + atomic replace
    (``extract_store_files_to_store`` does)."""
    snaps = _snapshots(path)
    snap_dir = os.path.join(path, f"snap-{len(snaps):04d}")
    os.makedirs(os.path.join(snap_dir, "data"), exist_ok=True)
    return snap_dir


def commit_snapshot(
    snap_dir: str,
    stage: str,
    rows: int,
    partitions: List[dict],
    **extra,
) -> dict:
    """Commit a ``begin_snapshot`` directory by writing its manifest
    (manifest present = committed, same crash contract as
    ``materialize_table``)."""
    snap_id = int(os.path.basename(snap_dir).split("-", 1)[1])
    manifest = {
        "snapshot": snap_id,
        "parent": snap_id - 1 if snap_id > 0 else None,
        "stage": stage,
        "rows": rows,
        "bucket_by": None,
        "n_buckets": None,
        "partitions": partitions,
        **extra,
    }
    _write_manifest(snap_dir, manifest)
    return manifest


def read_latest_snapshot(spark: SparkSession, path: str) -> Optional[DataFrame]:
    dirs = latest_snapshot_paths(path)
    if not dirs:
        return None
    return read_data_dirs(spark, dirs)


def read_data_dirs(spark: SparkSession, dirs: List[str]) -> DataFrame:
    """One read PER data dir, unioned: each snapshot dir is its own hive
    partition root (`bucket=K` subdirs), and Spark's partition discovery
    refuses multiple roots in one read. The union is a plan-level
    concat — no shuffle, and each branch still prunes partitions and
    columns independently.

    Dirs holding no data file are skipped: an empty delta batch commits
    a snapshot with an empty data dir, and Spark cannot infer a schema
    from it. A table empty in every dir has no schema to read; Spark
    reports that on the first dir."""
    dirs = [d for d in dirs if data_files(d)] or dirs[:1]
    df = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        df = df.unionByName(spark.read.parquet(d))
    return df


def latest_snapshot_path(path: str) -> Optional[str]:
    """Single data dir of the latest snapshot — only valid for tables
    never written with ``append=True`` (asserts otherwise; append-aware
    readers use ``latest_snapshot_paths``)."""
    dirs = latest_snapshot_paths(path)
    if not dirs:
        return None
    assert len(dirs) == 1, f"appended table {path}: use latest_snapshot_paths"
    return dirs[0]


def latest_snapshot_paths(path: str) -> List[str]:
    """All data dirs (absolute) of the latest snapshot, parent files
    included for append snapshots."""
    m = latest_manifest(path)
    if m is None:
        return []
    return [os.path.join(path, d) for d in _data_dirs(m)]


def latest_manifest(path: str) -> Optional[dict]:
    snaps = _snapshots(path)
    if not snaps:
        return None
    with open(os.path.join(path, snaps[-1], MANIFEST)) as f:
        return json.load(f)
