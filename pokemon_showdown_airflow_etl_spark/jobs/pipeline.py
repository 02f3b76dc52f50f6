"""The four-stage replay ETL as Spark jobs (SURVEY.md §2.10 / §3.1).

Mirrors the reference DAG ``get_replay_ids >> download_replays >>
retry_failed_replays >> compact_daily_replays``
(dags/showdown_replay_etl_dag.py:35-80), re-expressed Spark-first:

- discovery's page loop stays a driver-side cursor walk (pages are <=51
  rows and strictly sequential — tasks/discovery.py:64-114 — so there is
  nothing to distribute), but everything after the fetch is DataFrame
  work: anti-join ingest, watermark aggregation, partitioned appends.
- downloads fan out across executors via ``mapInPandas`` with a
  picklable API client (replacing the 5-thread pool at
  tasks/download.py:115,177-213); retry/backoff with non-retryable
  statuses lives inside the client (api.py:57-95 semantics).
- every status mutation is a partition-scoped MERGE into the metadata
  table, not a row-at-a-time SQLite write.

Each job returns the stats dict the reference pushes through XCom
(discovery.py:125-132, download.py:265-266, retry.py:143-147,
compaction.py:254-266). Id-lists never flow through the return values —
downstream stages re-derive their work lists from the metadata table,
which is the only contract that survives 100 TB.
"""

from __future__ import annotations

import datetime
import json
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as C
from ..operators import metadata as M
from ..schemas import PAGE_SIZE, REPLAY_DOCUMENT, REPLAY_STATUS
from ..sources.api import ReplayApiClient
from ._lake import replace_partitions
from .lake import MetadataStore, ReplayLake, save_state

FETCH_RESULT = (
    "replay_id string, ok boolean, doc string, error string"
)


def _batch_id(format_id: str, prefix: str = "") -> str:
    # C4 (discovery.py:55,174): {prefix}{format}_{yyyyMMdd_HHmmss}
    stamp = datetime.datetime.now().strftime("%Y%m%d_%H%M%S")
    return f"{prefix}{format_id}_{stamp}"


def _status_rows(
    spark: SparkSession, rows: list[dict], format_id: str, batch_id: str
) -> DataFrame:
    """Search-page rows -> replay_status insert rows (db.py:853-912:
    known columns split out, remainder serialized into additional_info,
    players rendered as 'p1 vs p2' — db.py:877)."""
    known = {"id", "uploadtime", "p1", "p2", "format", "players"}
    now = datetime.datetime.now()
    data = []
    for r in rows:
        players = r.get("players") or [p for p in (r.get("p1"), r.get("p2")) if p]
        # compact separators: byte-identical to the distributed parser's
        # from_json map<string,string> rendering (jobs/backfill.py)
        extra = {k: json.dumps(v, separators=(",", ":")) if not isinstance(v, str) else v
                 for k, v in r.items() if k not in known and v is not None}
        data.append(
            {
                "replay_id": r["id"],
                "format_id": format_id,
                "discovered_at": now,
                "discovered_batch": batch_id,
                "is_downloaded": False,
                "is_compacted": False,
                "uploadtime": int(r["uploadtime"]),
                "players": " vs ".join(players),
                "additional_info": extra or None,
            }
        )
    return spark.createDataFrame(data, REPLAY_STATUS) if data else spark.createDataFrame([], REPLAY_STATUS)


# --- stage 1: discovery (T1 incremental / T2 backfill) ----------------------


def discover(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    max_pages: int = 5,
    ignore_history: bool = False,
) -> dict:
    """Incremental discovery (tasks/discovery.py:23-136).

    Watermark = MAX(uploadtime) in metadata (db.py:577-601). Pages walk
    backwards via the ``before`` cursor; the FIRST row at-or-below the
    watermark both drops that row and terminates paging
    (discovery.py:91-100) — rows arrive in descending uploadtime, so one
    stale row means everything after it is stale too. A short page
    (<51) also terminates (discovery.py:108-110).
    """
    meta = MetadataStore(spark, lake.metadata_path)
    watermark = None if ignore_history else M.high_watermark(meta.read(), format_id)
    batch = _batch_id(format_id)

    collected: list[dict] = []
    before_ts: int | None = None
    pages = 0
    done = False
    while pages < max_pages and not done:
        page = client.fetch_page(format_id, before_ts)
        pages += 1
        if not page:
            break
        for row in page:
            if watermark is not None and int(row["uploadtime"]) <= watermark:
                done = True  # first stale row terminates paging
                break
            collected.append(row)
        if len(page) < PAGE_SIZE:
            done = True
        before_ts = int(page[-1]["uploadtime"])

    incoming = _status_rows(spark, collected, format_id, batch)
    new_count = meta.insert_new(incoming)
    if collected:
        save_state(
            lake,
            format_id,
            last_seen_ts=max(int(r["uploadtime"]) for r in collected),
            last_processed_id=collected[0]["id"],
        )
    return {
        "batch_id": batch,
        "pages_fetched": pages,
        "replays_found": len(collected),
        "new_replays": new_count,
    }


def discover_backfill(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    max_pages: int = 50,
) -> dict:
    """Backfill discovery (tasks/discovery.py:138-234): cursor starts at
    MIN(uploadtime) (db.py:603-627) and pages strictly backwards; no
    watermark filter — termination only by short page or page budget."""
    meta = MetadataStore(spark, lake.metadata_path)
    oldest = M.low_watermark(meta.read(), format_id)
    batch = _batch_id(format_id, prefix="backfill_")

    collected: list[dict] = []
    before_ts = oldest
    pages = 0
    while pages < max_pages:
        page = client.fetch_page(format_id, before_ts)
        pages += 1
        if not page:
            break
        collected.extend(page)
        before_ts = int(page[-1]["uploadtime"])
        if len(page) < PAGE_SIZE:
            break

    incoming = _status_rows(spark, collected, format_id, batch)
    new_count = meta.insert_new(incoming)
    if collected:
        save_state(lake, format_id, oldest_ts=min(int(r["uploadtime"]) for r in collected))
    return {
        "batch_id": batch,
        "pages_fetched": pages,
        "replays_found": len(collected),
        "new_replays": new_count,
    }


# --- stage 2: download (S2 fan-out + K1 sink) -------------------------------


def _distributed_fetch(work: DataFrame, client: ReplayApiClient, parallelism: int) -> DataFrame:
    """Executor-side point fetches (replaces ThreadPoolExecutor(5) at
    download.py:115). Arrow-batched via mapInPandas; the client (with its
    retry/backoff/non-retryable logic, api.py:57-95) is pickled into each
    task. localCheckpoint pins results so the side-effecting stage runs
    exactly once."""
    import pandas as pd

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for rid in pdf["replay_id"]:
                try:
                    doc = client.fetch_replay(rid)
                    out.append((rid, True, json.dumps(doc), None))
                except Exception as exc:
                    out.append((rid, False, None, str(exc)))
            yield pd.DataFrame(out, columns=["replay_id", "ok", "doc", "error"])

    fetched = (
        work.select("replay_id")
        .repartition(parallelism)
        .mapInPandas(fetch, schema=FETCH_RESULT)
    )
    return fetched.localCheckpoint(eager=True)


def _docs_from_fetch(fetched: DataFrame) -> DataFrame:
    """Parse fetched JSON docs into the typed replay schema + partition
    columns (format, date) for the K1 sink (download.py:76-87)."""
    doc = F.from_json("doc", REPLAY_DOCUMENT)
    return (
        fetched.filter(F.col("ok"))
        .select(doc.alias("d"))
        .select("d.*")
        .withColumn("date", C.epoch_to_date_str("uploadtime"))
    )


def _fetch_and_land(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    parallelism: int,
    work_of: Callable[[DataFrame, str], DataFrame],
    patch_cols: list[Column],
) -> tuple[int, int] | None:
    """The shared body of download and retry: fetch the metadata rows
    ``work_of`` selects on the executors, append the fetched documents
    to the raw lake, MERGE ``patch_cols`` (status columns over the fetch
    result) into metadata. Returns (attempted, ok), or None when there
    is no work."""
    meta = MetadataStore(spark, lake.metadata_path)
    work = work_of(meta.read(), format_id)
    if work.isEmpty():
        return None
    fetched = _distributed_fetch(work, client, parallelism)
    # REBALANCE on the partition columns before the partitioned append:
    # without it every fetch task writes a sliver into every (format,
    # date) leaf it saw — tasks x days tiny files that every later scan
    # (compaction's semi-join, the b-lake build) pays to list and open.
    # With it each leaf gets one right-sized file per batch and AQE
    # still splits a skewed day across tasks (guide §6).
    _docs_from_fetch(fetched).hint("rebalance", "format", "date").write.partitionBy(
        "format", "date"
    ).mode("append").parquet(lake.replays_path)
    meta.patch(fetched.select("replay_id", *patch_cols), format_id)
    counts = fetched.agg(
        F.count("*").alias("total"), F.sum(F.col("ok").cast("int")).alias("ok")
    ).first()
    return counts["total"], counts["ok"] or 0


def download(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    parallelism: int = 8,
) -> dict:
    """Download stage (tasks/download.py:105-266): fetch every
    undownloaded replay, land documents in the partitioned replay lake,
    MERGE per-replay success/failure into metadata."""
    batch = _batch_id(format_id)
    # db.py:736-830: success -> is_downloaded + details "(batch X)";
    # failure -> details "Failed: ..." (C8 prefix convention, db.py:366).
    counts = _fetch_and_land(
        spark, lake, client, format_id, parallelism,
        M.undownloaded,  # F2, partition-pruned
        [
            F.col("ok").alias("is_downloaded"),
            F.current_timestamp().alias("downloaded_at"),
            F.lit(batch).alias("downloaded_batch"),
            F.when(F.col("ok"), F.lit(f"Downloaded (batch {batch})"))
            .otherwise(F.concat(F.lit(C.FAILED_PREFIX), F.col("error")))
            .alias("download_details"),
        ],
    )
    if counts is None:
        return {"total": 0, "downloaded": 0, "failed": 0, "skipped": True}
    total, ok = counts
    return {"batch_id": batch, "total": total, "downloaded": ok, "failed": total - ok}


# --- stage 3: retry (T4 dead-letter re-drive) -------------------------------


def retry_failed(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    parallelism: int = 8,
) -> dict:
    """Retry stage (tasks/retry.py:23-158): re-fetch failed-and-never-
    retried downloads (F4 three-valued-logic predicate, db.py:562-569);
    every attempted row gets is_retry_attempted=True exactly once."""
    batch = _batch_id(format_id, prefix="retry_")
    counts = _fetch_and_land(
        spark, lake, client, format_id, parallelism,
        M.failed_unretried,
        [
            F.lit(True).alias("is_retry_attempted"),
            F.current_timestamp().alias("retry_at"),
            F.lit(batch).alias("retry_batch"),
            F.when(F.col("ok"), F.lit(f"Recovered (batch {batch})"))
            .otherwise(F.concat(F.lit(C.FAILED_PREFIX), F.col("error")))
            .alias("retry_details"),
            # recovered rows also flip the download flag (retry.py:106-130)
            F.when(F.col("ok"), F.lit(True)).alias("is_downloaded"),
            F.when(F.col("ok"), F.lit(f"Downloaded on retry (batch {batch})")).alias(
                "download_details"
            ),
        ],
    )
    if counts is None:
        return {"total": 0, "recovered": 0, "failed": 0, "skipped": True}
    total, ok = counts
    return {"batch_id": batch, "total": total, "recovered": ok, "failed": total - ok}


# --- stage 4: compaction (K2 day-partition rewrite) -------------------------
# The three joins are module-level so tests/test_plan_quality.py can
# .explain() the exact frames the job executes.


def compact_todo(replays: DataFrame, work: DataFrame) -> DataFrame:
    """Raw-lake docs selected by the (small) work list: LEFT SEMI, never
    an inner join that would duplicate docs per matching status row."""
    return replays.join(
        work.withColumnRenamed("replay_id", "id"), "id", "left_semi"
    ).dropDuplicates(["id"])


def compact_fresh(todo: DataFrame, existing: DataFrame) -> DataFrame:
    """J3: drop ids already compacted — LEFT ANTI against the compacted
    lake's id column only (column-pruned scan)."""
    return todo.join(existing.select("id"), "id", "left_anti")


def compact_keep(existing: DataFrame, days: DataFrame) -> DataFrame:
    """Existing rows of the touched days, re-written alongside the fresh
    rows so the partition swap replaces complete days. ``days`` is a
    distinct (format, date) list — tiny, broadcast explicitly."""
    return existing.join(F.broadcast(days), ["format", "date"], "left_semi")


def compact(spark: SparkSession, lake: ReplayLake, format_id: str) -> dict:
    """Compaction (tasks/compaction.py:58-266): collect downloaded-but-
    uncompacted replays into per-day compacted partitions, skipping ids
    already present (J3 anti-join replaces the in-file id-set probe at
    compaction.py:158-180), then rewrite ONLY the touched (format, date)
    partitions — the reference's whole-file rewrite (:219-225) becomes
    a staged ``replace_partitions`` swap of those days."""
    import os

    meta = MetadataStore(spark, lake.metadata_path)
    # work/todo are pinned with localCheckpoint: the counts, the joins
    # and the status MERGE below share one computation of each.
    work = (
        M.downloaded_uncompacted(meta.read(), format_id)  # F3
        .select("replay_id")
        .localCheckpoint(eager=True)
    )
    n_work = work.count()
    if n_work == 0:
        return {"dates_processed": 0, "compacted": 0, "skipped_existing": 0,
                "skipped_missing": 0}
    batch = _batch_id(format_id, prefix="compact_")

    # S3 scan of the raw lake, pruned to this format's partitions, then
    # semi-joined to the (small, broadcast) work list.
    replays = spark.read.parquet(lake.replays_path).filter(F.col("format") == format_id)
    # no broadcast hint: the work list is usually small (auto-broadcasts)
    # but is unbounded right after a large backfill — let AQE choose.
    todo = compact_todo(replays, work).localCheckpoint(eager=True)
    n_todo = todo.count()

    if os.path.exists(lake.compacted_path):
        existing = spark.read.parquet(lake.compacted_path).filter(
            F.col("format") == format_id
        )
        # fresh is read again for n_days AFTER the swap below replaces
        # the compacted files it anti-joins against, so it must pin
        fresh = compact_fresh(todo, existing).localCheckpoint(eager=True)  # J3
        n_fresh = fresh.count()
        # union existing rows of the touched days so the swap replaces
        # complete partitions (U1, compaction.py:219)
        out = compact_keep(existing, fresh.select("format", "date").distinct())
        out = out.unionByName(fresh)
    else:
        # first compaction: fresh IS todo, already pinned and counted —
        # re-checkpointing it would materialize the same rows again
        fresh = out = todo
        n_fresh = n_todo
    if n_fresh:
        # one right-sized file per rewritten day partition (guide §6)
        replace_partitions(
            out.hint("rebalance", "format", "date"),
            lake.compacted_path,
            ["format", "date"],
        )

    # status flush: everything in the work list that now exists in the
    # compacted lake is marked compacted (one MERGE replaces the 500-id
    # batched flush at compaction.py:137,234-243)
    done_ids = todo.select(F.col("id").alias("replay_id"))
    patch = done_ids.select(
        "replay_id",
        F.lit(True).alias("is_compacted"),
        F.current_timestamp().alias("compacted_at"),
        F.lit(batch).alias("compacted_batch"),
        F.lit(f"Compacted (batch {batch})").alias("compacted_details"),
    )
    meta.patch(patch, format_id)

    n_days = (
        fresh.agg(F.countDistinct("date")).first()[0] if n_fresh else 0
    )
    return {
        "batch_id": batch,
        "dates_processed": n_days,
        "compacted": n_fresh,
        "skipped_existing": n_todo - n_fresh,
        "skipped_missing": n_work - n_todo,
    }


def run_daily_pipeline(
    spark: SparkSession,
    lake: ReplayLake,
    client: ReplayApiClient,
    format_id: str,
    max_pages: int = 5,
) -> dict:
    """O1: the linear DAG, one call per task, compaction always runs
    (ALL_DONE trigger rule — showdown_replay_etl_dag.py:76)."""
    stats = {"discover": discover(spark, lake, client, format_id, max_pages)}
    try:
        stats["download"] = download(spark, lake, client, format_id)
        stats["retry"] = retry_failed(spark, lake, client, format_id)
    finally:
        stats["compact"] = compact(spark, lake, format_id)
    return stats
