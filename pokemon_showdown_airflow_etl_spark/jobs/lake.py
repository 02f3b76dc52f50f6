"""Physical layout of the replay lake + the metadata store.

The reference persists three things (constants.py:7-10, db.py:43-70,
state.py:13-49): loose per-replay JSON files under
``replays/{format}/{date}/``, per-day compacted JSON arrays under
``compacted_replays/{format}/``, and a SQLite ``replay_status`` table.
Here all three become partitioned parquet tables under one lake root:

    {root}/replays/    partitioned by (format, date)   -- raw documents
    {root}/compacted/  partitioned by (format, date)   -- compacted documents
    {root}/metadata/   partitioned by (format_id)      -- replay_status
    {root}/state/{format_id}_state.json                -- cursor checkpoint

Partitioning IS the reference's directory scheme, so Catalyst partition
pruning replaces both the directory walks and the SQLite secondary
indexes (db.py:73-76). At 100 TB each (format, date) partition is a
handful of parquet files, and every job below touches only the
partitions it names — no full-table rewrite anywhere.

Appends add files and rewrite none. Every rewrite of existing
partitions (MERGE-shaped patches and upserts here, compaction, the
maintenance jobs) commits through ``_lake.replace_partitions``:
stage the new leaves beside the table, then rename them in.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_patch, upsert
from ..schemas import FORMAT_STATE, REPLAY_STATUS
from ._lake import replace_partitions


@dataclass(frozen=True)
class ReplayLake:
    root: str

    @property
    def replays_path(self) -> str:
        return os.path.join(self.root, "replays")

    @property
    def compacted_path(self) -> str:
        return os.path.join(self.root, "compacted")

    @property
    def metadata_path(self) -> str:
        return os.path.join(self.root, "metadata")

    @property
    def state_dir(self) -> str:
        return os.path.join(self.root, "state")


# uploadtime -> 'yyyy-MM' month key via pure epoch-day arithmetic
# (date_add over the epoch origin), deliberately independent of the
# session timezone so the partition key is stable across sessions.
def _month_col():
    return F.date_format(
        F.date_add(
            F.to_date(F.lit("1970-01-01")),
            F.floor(F.col("uploadtime") / 86400).cast("int"),
        ),
        "yyyy-MM",
    )


class MetadataStore:
    """The ``replay_status`` table (db.py:43-70) over partitioned parquet.

    Physically partitioned by (format_id, um) where ``um`` is the
    uploadtime month: lifecycle patches touch recent replays, so a
    daily patch rewrites only the month sub-partitions its keys live
    in instead of a format's entire history (205M+ rows/format at
    reference scale x1000). Writes are MERGE-shaped — insert_new is
    the one-transaction existence-check+insert of db.py:832-928,
    patch is the in-place stage-flag UPDATE of db.py:736-830 — and
    every rewrite lands via ``replace_partitions`` (stage, then rename
    each leaf in), never an in-place overwrite of the files being read.
    """

    PARTITION_COLS = ["format_id", "um"]

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        # an empty directory is not a table (parquet cannot infer a schema
        # from zero files)
        return os.path.exists(self.path) and any(os.scandir(self.path))

    def _read_raw(self) -> DataFrame:
        """Physical read: REPLAY_STATUS plus the ``um`` partition column."""
        if not self.exists():
            return self.spark.createDataFrame([], REPLAY_STATUS).withColumn(
                "um", F.lit(None).cast("string")
            )
        return self.spark.read.parquet(self.path)

    def read(self) -> DataFrame:
        # logical schema: physical layout details stay internal
        return self._read_raw().drop("um")

    def read_format(self, format_id: str) -> DataFrame:
        # partition-pruned scan: only {path}/format_id=X is read
        return self.read().filter(F.col("format_id") == format_id)

    @staticmethod
    def _with_month(rows: DataFrame) -> DataFrame:
        return rows.withColumn("um", _month_col())

    def replace(self, rows: DataFrame) -> None:
        """Swap in the (format_id, um) leaves present in ``rows``
        (which carry ``um``). REBALANCE on the partition columns:
        without it every upstream shuffle task writes a sliver into
        every touched leaf (tasks x leaves files); with it each leaf
        gets one right-sized file and AQE still splits a skewed month
        into several (guide §6)."""
        replace_partitions(
            rows.hint("rebalance", *self.PARTITION_COLS), self.path, self.PARTITION_COLS
        )

    def insert_new(self, rows: DataFrame) -> int:
        """J2 idempotent ingest (db.py:853-912): left-anti vs existing
        keys, then append. Returns the number of genuinely new rows.
        Appends only add files under (format_id, um) leaf dirs — no
        existing file is rewritten."""
        rows = rows.select(*[f.name for f in REPLAY_STATUS.fields])
        # rebalance BEFORE the pin: the checkpoint then materializes one
        # right-sized partition per (format_id, um) leaf, so the count
        # and the append below reuse it with no extra exchange (§6)
        if not self.exists():
            new = (
                self._with_month(rows)
                .hint("rebalance", *self.PARTITION_COLS)
                .localCheckpoint(eager=True)
            )
            n = new.count()
            if n:
                new.write.partitionBy(*self.PARTITION_COLS).mode("overwrite").parquet(
                    self.path
                )
            return n
        existing_keys = self.read().select("replay_id", "format_id")
        new = rows.join(existing_keys, ["replay_id", "format_id"], "left_anti")
        new = (
            self._with_month(new)
            .hint("rebalance", *self.PARTITION_COLS)
            .localCheckpoint(eager=True)
        )
        n = new.count()
        if n:
            new.write.partitionBy(*self.PARTITION_COLS).mode("append").parquet(
                self.path
            )
        return n

    def patch(self, patch: DataFrame, format_id: str) -> None:
        """Column-level MERGE WHEN MATCHED UPDATE, month-scoped: only
        the (format_id, um) sub-partitions containing patched keys are
        merged and swapped; untouched months' files are never opened
        for write. ``patch`` carries replay_id + the columns to set."""
        if not self.exists():
            return
        fmt = self._read_raw().filter(F.col("format_id") == format_id)
        keys = patch.select("replay_id").distinct()
        months = [
            r[0]
            for r in fmt.join(keys, "replay_id", "left_semi")
            .select("um")
            .distinct()
            .collect()
        ]
        if not months:
            return
        current = fmt.filter(F.col("um").isin(months)).drop("um")
        merged = merge_patch(current, patch.drop("format_id"), ["replay_id"])
        self.replace(self._with_month(merged.withColumn("format_id", F.lit(format_id))))

    def upsert_rows(self, rows: DataFrame) -> None:
        """Full-row INSERT OR REPLACE (db.py:230-236), scoped to the
        months present in the incoming rows PLUS the months currently
        holding any matched key (an upsert may move a row across
        months; both sides must rewrite or the old copy survives)."""
        rows = rows.select(*[f.name for f in REPLAY_STATUS.fields])
        if not self.exists():
            self.replace(self._with_month(rows))
            return
        touched_fmt = [r[0] for r in rows.select("format_id").distinct().collect()]
        raw = self._read_raw().filter(F.col("format_id").isin(touched_fmt))
        incoming_months = {
            r[0] for r in self._with_month(rows).select("um").distinct().collect()
        }
        matched_months = {
            r[0]
            for r in raw.join(
                rows.select("replay_id", "format_id"),
                ["replay_id", "format_id"],
                "left_semi",
            )
            .select("um")
            .distinct()
            .collect()
        }
        months = sorted(incoming_months | matched_months)
        current = raw.filter(F.col("um").isin(months)).drop("um")
        self.replace(self._with_month(upsert(current, rows, ["replay_id", "format_id"])))


def register_lake_views(spark: SparkSession, lake: ReplayLake) -> list[str]:
    """Expose the lake as SQL views — the reference's query surface IS
    SQL (hand-written strings against SQLite, db.py throughout), so the
    engine offers the same: ``replay_status``, ``replays`` and
    ``compacted_replays`` become temp views and every db.py query runs
    as ``spark.sql(...)`` with partition pruning intact."""
    import os

    registered = []
    MetadataStore(spark, lake.metadata_path).read().createOrReplaceTempView(
        "replay_status"
    )
    registered.append("replay_status")
    for name, path in (
        ("replays", lake.replays_path),
        ("compacted_replays", lake.compacted_path),
    ):
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
            registered.append(name)
    return registered


# --- K4: cursor/state checkpoint (state.py:13-49) ---------------------------


def save_state(lake: ReplayLake, format_id: str, **fields) -> None:
    os.makedirs(lake.state_dir, exist_ok=True)
    path = os.path.join(lake.state_dir, f"{format_id}_state.json")
    state = load_state(lake, format_id)
    state.update(fields)
    state["format_id"] = format_id
    with open(path, "w") as f:
        json.dump(state, f)


def load_state(lake: ReplayLake, format_id: str) -> dict:
    path = os.path.join(lake.state_dir, f"{format_id}_state.json")
    if not os.path.exists(path):
        return {"format_id": format_id, "last_seen_ts": None, "oldest_ts": None,
                "last_processed_id": None}
    with open(path) as f:
        return json.load(f)


def state_df(spark: SparkSession, lake: ReplayLake, format_id: str) -> DataFrame:
    """The state checkpoint as a single-row DataFrame (FORMAT_STATE)."""
    s = load_state(lake, format_id)
    row = tuple(s.get(f.name) for f in FORMAT_STATE.fields)
    return spark.createDataFrame([row], FORMAT_STATE)
