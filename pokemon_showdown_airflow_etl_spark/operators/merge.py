"""MERGE-style upsert without a table format dependency (SURVEY hard part #3).

The reference upserts with SQLite ``INSERT OR REPLACE`` keyed on
replay_id (db.py:230-236) and updates stage flags in place
(db.py:736-830). Plain parquet has no row-level MERGE, so:

    upsert = read current || union updates || keep newest row per key

At 100 TB the physical write must not rewrite the whole table: the lake
is partitioned by (format_id, month), and jobs.lake.MetadataStore
rewrites only the partitions that received updates (a staged partition
swap) — the moral equivalent of Delta's MERGE file pruning. Updates are tiny relative
to the table, so they broadcast into the anti-join/ window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

VERSION_COL = "_merge_version"


def upsert(current: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Last-writer-wins upsert: rows from ``updates`` replace same-key rows
    in ``current``; new keys append. Columns are aligned by name
    (updates may carry a subset — missing columns keep NULL, matching
    INSERT OR REPLACE semantics of a full-row replace at db.py:230-236).
    """
    cur = current.withColumn(VERSION_COL, F.lit(0))
    upd = updates
    for col, dtype in current.dtypes:
        if col not in upd.columns:
            upd = upd.withColumn(col, F.lit(None).cast(dtype))
    upd = upd.select(*current.columns).withColumn(VERSION_COL, F.lit(1))
    w = Window.partitionBy(*keys).orderBy(F.desc(VERSION_COL))
    return (
        cur.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", VERSION_COL)
    )


def merge_patch(current: DataFrame, patch: DataFrame, keys: list[str]) -> DataFrame:
    """Column-level MERGE ... WHEN MATCHED THEN UPDATE SET: only the
    columns present in ``patch`` (beyond the keys) are overwritten; all
    other columns of matched rows survive. This is the stage-flag update
    shape (db.py:736-830 marks downloaded/compacted/retried in place).
    """
    patch_cols = [c for c in patch.columns if c not in keys]
    renamed = patch
    for c in patch_cols:
        renamed = renamed.withColumnRenamed(c, f"_p_{c}")
    # No forced broadcast: a daily patch is small and auto-broadcasts,
    # but a backfill-scale patch (millions of rows) must be allowed to
    # sort-merge — a broadcast hint here would pin it to driver memory.
    joined = current.join(renamed, keys, "left")
    out_cols = []
    for c in current.columns:
        if c in patch_cols:
            out_cols.append(F.coalesce(F.col(f"_p_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


# The physical partition-scoped write lives in jobs.lake.MetadataStore
# (insert_new / patch / upsert_rows), which commits the logical merges
# above through jobs._lake.replace_partitions (stage, then swap).
