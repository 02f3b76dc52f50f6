"""Maintenance jobs O10-O12 (SURVEY.md §2.10, §3.3).

- import_existing: register lake documents missing from metadata
  (scripts/import_existing_replays.py:103-228) — files-vs-DB anti-join
  (J6) plus compacted-membership flag join (J7).
- fix_compacted_status: mark metadata rows compacted when their id is
  present in the compacted lake (scripts/fix_compacted_status.py:158-229)
  — semi-join reconciliation (J4); dry-run by default, like the script.
- deduplicate_metadata / optimize: cleanup_db.py:115-196's dedup plus a
  small-file compaction rewrite standing in for VACUUM
  (scripts/reset_format_state.py:48-142).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import metadata as M
from ..schemas import REPLAY_STATUS
from ._lake import replace_partitions, sweep_litter
from .lake import MetadataStore, ReplayLake
from .pipeline import _batch_id


def import_existing(spark: SparkSession, lake: ReplayLake) -> dict:
    """O10: scan the raw replay lake; any document whose id is not in
    metadata is registered as discovered+downloaded, with is_compacted
    set by membership in the compacted lake (J7,
    import_existing_replays.py:183-188)."""
    import os

    if not os.path.exists(lake.replays_path):
        return {"imported": 0}
    meta = MetadataStore(spark, lake.metadata_path)
    batch = _batch_id("all", prefix="import_existing_")

    docs = spark.read.parquet(lake.replays_path)
    known = meta.read().select(F.col("replay_id").alias("id"))
    missing = docs.join(known, "id", "left_anti")  # J6

    if os.path.exists(lake.compacted_path):
        compacted_ids = spark.read.parquet(lake.compacted_path).select("id").distinct()
        missing = missing.join(
            compacted_ids.withColumn("_in_compacted", F.lit(True)), "id", "left"
        )
    else:
        missing = missing.withColumn("_in_compacted", F.lit(None).cast("boolean"))

    rows = missing.select(
        F.col("id").alias("replay_id"),
        F.col("format").alias("format_id"),
        F.current_timestamp().alias("discovered_at"),
        F.lit(batch).alias("discovered_batch"),
        F.lit(True).alias("is_downloaded"),
        F.current_timestamp().alias("downloaded_at"),
        F.lit(batch).alias("downloaded_batch"),
        F.lit("Imported from existing file").alias("download_details"),
        F.coalesce("_in_compacted", F.lit(False)).alias("is_compacted"),
        F.when(F.col("_in_compacted"), F.current_timestamp()).alias("compacted_at"),
        F.when(F.col("_in_compacted"), batch).alias("compacted_batch"),
        F.when(F.col("_in_compacted"), "Found in compacted file").alias(
            "compacted_details"
        ),
        F.lit(None).cast("boolean").alias("is_retry_attempted"),
        F.lit(None).cast("timestamp").alias("retry_at"),
        F.lit(None).cast("string").alias("retry_batch"),
        F.lit(None).cast("string").alias("retry_details"),
        F.coalesce(F.col("uploadtime"), F.lit(0)).alias("uploadtime"),
        F.array_join("players", " vs ").alias("players"),  # C6
        F.lit(None).cast("map<string,string>").alias("additional_info"),
    )
    n = meta.insert_new(rows)
    return {"batch_id": batch, "imported": n}


def fix_compacted_status(
    spark: SparkSession, lake: ReplayLake, format_id: str, execute: bool = False
) -> dict:
    """O11: metadata rows flagged uncompacted whose id IS in a compacted
    file get fixed (J4 semi-join, fix_compacted_status.py:196). Dry-run
    unless execute=True (the script's --execute gate, :213-229)."""
    import os

    meta = MetadataStore(spark, lake.metadata_path)
    stale = M.downloaded_uncompacted(meta.read(), format_id).select("replay_id")
    if not os.path.exists(lake.compacted_path):
        return {"would_fix": 0, "fixed": 0}
    in_files = (
        spark.read.parquet(lake.compacted_path)
        .filter(F.col("format") == format_id)
        .select(F.col("id").alias("replay_id"))
    )
    to_fix = stale.join(in_files, "replay_id", "left_semi")  # J4
    n = to_fix.count()
    if not execute or n == 0:
        return {"would_fix": n, "fixed": 0}
    batch = _batch_id(format_id, prefix="fix_compacted_")
    patch = to_fix.select(
        "replay_id",
        F.lit(True).alias("is_compacted"),
        F.current_timestamp().alias("compacted_at"),
        F.lit(batch).alias("compacted_batch"),
        F.lit("Fixed: found in compacted file").alias("compacted_details"),
    )
    meta.patch(patch, format_id)
    return {"would_fix": n, "fixed": n}


def deduplicate_metadata(spark: SparkSession, lake: ReplayLake) -> dict:
    """O12 (cleanup_db.py:115-196): detect duplicate (replay_id,
    format_id) rows (G4) and rebuild keeping the newest (G6/W1)."""
    meta = MetadataStore(spark, lake.metadata_path)
    current = meta.read()
    n_dupes = M.duplicates(current).count()
    if n_dupes == 0:
        return {"duplicate_keys": 0, "rows_removed": 0}
    before = current.count()
    # rebuild through the store's partition swap so the physical layout
    # (format_id, um) and durability guarantees stay uniform
    meta.replace(MetadataStore._with_month(M.dedup_keep_latest(current)))
    return {"duplicate_keys": n_dupes, "rows_removed": before - meta.read().count()}


def optimize_lake(spark: SparkSession, lake: ReplayLake, target_files_per_partition: int = 1) -> dict:
    """O12 VACUUM analogue: rewrite the raw lake with coalesced files per
    (format, date) partition — the small-file compaction every parquet
    lake needs after many incremental appends."""
    import os

    if not os.path.exists(lake.replays_path):
        return {"rewritten": 0}
    docs = spark.read.parquet(lake.replays_path)
    n = docs.count()
    # parallelism must scale with the number of (format, date)
    # partitions: repartition(N, 'format', 'date') would hash the WHOLE
    # lake into N total shuffle partitions (N=1 => one task rewrites
    # everything). Hash on the partition key sized to the partition
    # count, salting the key when >1 file per partition is wanted (a
    # pure key hash always lands one key in one task).
    n_parts = docs.select("format", "date").distinct().count()
    shuffle_n = max(1, n_parts * target_files_per_partition)
    keys = ["format", "date"]
    if target_files_per_partition > 1:
        docs = docs.withColumn(
            "_fsalt", (F.rand(seed=7) * target_files_per_partition).cast("int")
        )
        keys.append("_fsalt")
    # staged swap, not an overwrite of the files being read: a crash
    # leaves every day partition either fully old or fully new
    replace_partitions(
        docs.repartition(shuffle_n, *keys).drop("_fsalt"),
        lake.replays_path,
        ["format", "date"],
    )
    return {"rewritten": n, "partitions": n_parts}


def reset_format_state(lake: ReplayLake, format_id: str) -> dict:
    """O12 (scripts/reset_format_state.py:25-46): clear the cursor
    checkpoint for a format so the next discovery run re-derives its
    watermarks from the metadata table alone."""
    import os

    path = os.path.join(lake.state_dir, f"{format_id}_state.json")
    existed = os.path.exists(path)
    if existed:
        os.remove(path)
    return {"reset": existed}


def audit_lake(spark: SparkSession, lake: ReplayLake) -> dict:
    """Integrity check (cleanup_db.py:55-60's PRAGMA integrity_check,
    lake-shaped): structural invariants across the three tables —
    duplicate keys, compacted-but-not-downloaded rows, downloaded rows
    missing from the raw lake, compacted-lake ids unknown to metadata.
    Returns violation counts (all zero on a healthy lake)."""
    import os

    from ..operators import metadata as M

    meta = MetadataStore(spark, lake.metadata_path).read()
    out = {
        "duplicate_keys": M.duplicates(meta).count(),
        "compacted_not_downloaded": meta.filter(
            F.coalesce("is_compacted", F.lit(False))
            & ~F.coalesce("is_downloaded", F.lit(False))
        ).count(),
    }
    if os.path.exists(lake.replays_path):
        lake_ids = spark.read.parquet(lake.replays_path).select(
            F.col("id").alias("replay_id")
        )
        out["downloaded_missing_from_lake"] = (
            meta.filter(F.coalesce("is_downloaded", F.lit(False)))
            .select("replay_id")
            .join(lake_ids, "replay_id", "left_anti")
            .count()
        )
    else:
        out["downloaded_missing_from_lake"] = meta.filter(
            F.coalesce("is_downloaded", F.lit(False))
        ).count()
    if os.path.exists(lake.compacted_path):
        compacted_ids = spark.read.parquet(lake.compacted_path).select(
            F.col("id").alias("replay_id")
        )
        out["compacted_ids_unknown_to_metadata"] = compacted_ids.join(
            meta.select("replay_id"), "replay_id", "left_anti"
        ).count()
    else:
        out["compacted_ids_unknown_to_metadata"] = 0
    out["ok"] = all(v == 0 for k, v in out.items() if k != "ok")
    return out


def cleanup_lake(lake: ReplayLake, max_age_s: float = 0.0) -> dict:
    """Remove write litter from the lake tree — the analogue of the
    reference's backup-table sweep (cleanup_db.py:64-113, which drops
    ``backup_*`` tables left by maintenance scripts). Targets:

    - ``_temporary`` directories abandoned by a crashed Spark write job
    - ``<table>__staging`` siblings left by an interrupted atomic swap
    - ``.swap-*`` partition backups from a swap that died mid-rename
      (these are first RESTORED if the live partition vanished — the
      crash window between rename-away and rename-in — else deleted)

    ``max_age_s`` guards against sweeping a directory a CONCURRENT job
    is still writing: only litter older than this is touched (0 sweeps
    everything — fine for single-writer maintenance windows).
    """
    removed, restored = sweep_litter(lake.root, max_age_s)
    return {"removed": len(removed), "restored": len(restored),
            "paths": sorted(removed + restored)}
