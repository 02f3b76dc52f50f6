"""The benchmark's three workloads. Each has the same shape:

- ``prepare``: generate the run's inputs from the seed (timed as part
  of set-up, repeated so set-up reports a median);
- ``bulk``: the workload's one large pass, run once per process, so it
  includes the engine's first-use cost like a scheduled job does;
- ``op``: the repeated operation of the closed loop (one ETL day, one
  long and one short analyst query, one admission batch), each
  followed by an untimed check. ``ROUND`` ops make one full round of
  the workload's mix; the loop ends on a round boundary.

``scale`` multiplies the bulk and op sizes (1 in every benchmark run;
larger values measure how op time grows with size, see METRICS.md).

Checks raise ``CheckFailed``; the harness counts the operation failed.
Per-layer metrics come from the tracer's spans (traced run only).
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from .gen import make_documents, write_tables
from .trace import data_files, snapshot, written
from .traffic import FORMAT_ID, IndexedTransport, Traffic

COUNTERS = ("search_requests", "replay_requests", "replay_errors")
STAGES = ("discover", "download", "retry", "compact")
LAKE_TABLES = ("metadata", "raw", "compacted")
# etl_daily per-layer metric -> key of EtlDaily._day's row (median over days)
DAY_METRICS = {
    "sources.search_requests": "search_requests",
    "sources.replay_requests": "replay_requests",
    "sources.replay_errors": "replay_errors",
    "jobs.pipeline.discover_s": "discover_s",
    "jobs.pipeline.download_s": "download_s",
    "jobs.pipeline.retry_s": "retry_s",
    "jobs.pipeline.compact_s": "compact_s",
    "jobs.pipeline.download_work_rows": "download_work_rows",
    "jobs.pipeline.compact_dates_touched": "compact_dates",
    "jobs.lake.insert_new_s": "insert_new_s",
    "jobs.lake.patch_s": "patch_s",
    "jobs.lake.patch_calls": "patch_calls",
    "jobs.lake.metadata_bytes_written_per_replay": "metadata_bpr",
    "jobs.lake.raw_bytes_written_per_replay": "raw_bpr",
    "jobs.lake.compacted_bytes_written_per_replay": "compacted_bpr",
    "jobs.lake.files_written_per_day": "files",
}


class CheckFailed(Exception):
    pass


def require(ok: bool, detail: str) -> None:
    if not ok:
        raise CheckFailed(detail)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def read_column(path: str, column: str) -> list:
    """One column of a (hive-partitioned) parquet table, read with
    pyarrow so checks start no Spark job."""
    return pq.read_table(path, columns=[column]).column(column).to_pylist()


class Workload:
    name = ""
    ROUND = 1

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def prepare(self, ctx, rep: int) -> None:
        raise NotImplementedError


    def bulk(self, ctx, span) -> None:
        """Run the bulk pass inside ``span`` (None when untraced)."""
        raise NotImplementedError

    def check_bulk(self, ctx) -> None:
        pass

    def before_op(self, ctx, i: int) -> None:
        """Untimed preparation of op ``i``'s input."""

    def op(self, ctx, i: int, span) -> int:
        """Run op ``i``; return the number of items it completed."""
        raise NotImplementedError

    def check_op(self, ctx, i: int) -> None:
        pass

    def layer_metrics(self, ctx, bulk_span: int, op_spans: list[int]) -> dict:
        return {}


# --- etl_daily -------------------------------------------------------------


class EtlDaily(Workload):
    """A replay lake fed day by day from the seeded fake API. The bulk
    pass catches up ``HISTORY_DAYS`` days of backlog in one run of the
    four stages; each op is one day: ``PER_DAY`` new uploads, then
    discover, download, retry_failed and compact."""

    name = "etl_daily"
    PER_DAY = 500
    HISTORY_DAYS = 1

    def prepare(self, ctx, rep: int) -> None:
        from pokemon_showdown_airflow_etl_spark.jobs import ReplayLake
        from pokemon_showdown_airflow_etl_spark.sources.api import ReplayApiClient

        sc = ctx.spark.sparkContext
        self.per_day = round(self.PER_DAY * self.scale)
        self.traffic = Traffic(seed=ctx.seed, per_day=self.per_day)
        self.transport = IndexedTransport(self.traffic, {k: sc.accumulator(0) for k in COUNTERS})
        self.client = ReplayApiClient(transport=self.transport, sleeper=lambda s: None)
        self.lake = ReplayLake(ctx.run_dir.sub("work", f"etl-{rep}"))
        self.expected_dead: set[str] = set()
        self.expected_ok: set[str] = set()

    def _upload(self, n_new: int) -> None:
        start = self.transport.visible
        self.transport.visible += n_new
        for n in range(start, self.transport.visible):
            rid = self.traffic.replay_id(n)
            (self.expected_dead if self.traffic.status(n) == "dead" else self.expected_ok).add(rid)

    def _stage(self, ctx, name: str, fn):
        """One pipeline stage in a span, with the bytes and files it
        left in each lake table (traced run only)."""
        lake = self.lake
        roots = dict(zip(LAKE_TABLES, (lake.metadata_path, lake.replays_path, lake.compacted_path)))
        with ctx.tracer.span(f"jobs.pipeline.{name}") as sp:
            if sp is not None:
                with ctx.tracer.bookkeeping():
                    before = {k: data_files(snapshot(p)) for k, p in roots.items()}
            out = fn()
            if sp is not None:
                with ctx.tracer.bookkeeping():
                    for k, p in roots.items():
                        b, f = written(before[k], data_files(snapshot(p)))
                        sp.counts[f"{k}_bytes"] = b
                        sp.counts[f"{k}_files"] = f
                    sp.counts["stats"] = out
        return out

    def _pass(self, ctx) -> dict:
        from pokemon_showdown_airflow_etl_spark.jobs import compact, discover, download, retry_failed
        from pokemon_showdown_airflow_etl_spark.sources.api import PAGE_SIZE

        spark, lake, client, fmt = ctx.spark, self.lake, self.client, FORMAT_ID
        pages = self.transport.visible // PAGE_SIZE + 2
        return {
            "discover": self._stage(
                ctx, "discover", lambda: discover(spark, lake, client, fmt, max_pages=pages)
            ),
            "download": self._stage(ctx, "download", lambda: download(spark, lake, client, fmt)),
            "retry": self._stage(ctx, "retry", lambda: retry_failed(spark, lake, client, fmt)),
            "compact": self._stage(ctx, "compact", lambda: compact(spark, lake, fmt)),
        }

    def _counters(self) -> dict:
        return {k: self.transport.counters[k].value for k in COUNTERS}

    def _run(self, ctx, n_new: int, span) -> int:
        self._upload(n_new)
        before = self._counters() if span is not None else None
        stats = self._pass(ctx)
        landed = stats["download"].get("downloaded", 0) + stats["retry"].get("recovered", 0)
        if span is not None:
            after = self._counters()
            span.counts.update({k: after[k] - before[k] for k in COUNTERS})
            span.counts["landed"] = landed
            span.counts["new_replays"] = stats["discover"]["new_replays"]
        return landed

    def bulk(self, ctx, span) -> None:
        self._run(ctx, self.HISTORY_DAYS * self.per_day, span)

    def check_bulk(self, ctx) -> None:
        self._check()

    def op(self, ctx, i: int, span) -> int:
        return self._run(ctx, self.per_day, span)

    def check_op(self, ctx, i: int) -> None:
        self._check()

    def _check(self) -> None:
        """End-of-day invariants of the lake against the traffic."""
        from pokemon_showdown_airflow_etl_spark.functions.scalars import FAILED_PREFIX

        lake, ok, dead = self.lake, self.expected_ok, self.expected_dead
        meta = pq.read_table(
            lake.metadata_path,
            columns=["replay_id", "is_downloaded", "is_compacted", "is_retry_attempted", "download_details"],
        ).to_pylist()
        ids = [r["replay_id"] for r in meta]
        require(len(ids) == len(set(ids)), "duplicate replay_id in metadata")
        require(set(ids) == ok | dead, f"metadata holds {len(ids)} replays, expected {len(ok | dead)}")
        for r in meta:
            if r["replay_id"] in dead:
                require(
                    not r["is_downloaded"]
                    and (r["download_details"] or "").startswith(FAILED_PREFIX)
                    and r["is_retry_attempted"] is True,
                    f"dead replay {r['replay_id']} not marked failed and retried: {r}",
                )
            else:
                require(
                    r["is_downloaded"] is True and r["is_compacted"] is True,
                    f"replay {r['replay_id']} not downloaded and compacted: {r}",
                )
        for table, path in (("raw", lake.replays_path), ("compacted", lake.compacted_path)):
            got = read_column(path, "id")
            require(len(got) == len(set(got)), f"{table} lake holds a replay twice")
            require(set(got) == ok, f"{table} lake holds {len(got)} replays, expected {len(ok)}")

    @staticmethod
    def _day(tr, d: int) -> dict:
        """Per-layer numbers of the day span ``d``."""
        sp = tr.spans[d]
        stage = {n: tr.find(f"jobs.pipeline.{n}", within=d)[0] for n in STAGES}
        stage_spans = [tr.spans[s] for s in stage.values()]
        patches = tr.find("jobs.lake.patch", within=d)
        new = max(sp.counts["new_replays"], 1)
        row = {k: sp.counts[k] for k in (*COUNTERS, "landed")}
        row.update({f"{n}_s": tr.self_time(s) for n, s in stage.items()})
        row["download_work_rows"] = tr.spans[stage["download"]].counts["stats"].get("total", 0)
        row["compact_dates"] = tr.spans[stage["compact"]].counts["stats"].get("dates_processed", 0)
        row["insert_new_s"] = sum(tr.spans[s].duration for s in tr.find("jobs.lake.insert_new", within=d))
        row["patch_s"] = sum(tr.spans[s].duration for s in patches)
        row["patch_calls"] = len(patches)
        for t in LAKE_TABLES:
            row[f"{t}_bpr"] = sum(s.counts[f"{t}_bytes"] for s in stage_spans) / new
        row["files"] = sum(s.counts[f"{t}_files"] for s in stage_spans for t in LAKE_TABLES)
        return row

    def layer_metrics(self, ctx, bulk_span: int, op_spans: list[int]) -> dict:
        days = [self._day(ctx.tracer, d) for d in op_spans]
        out = {metric: median(r[key] for r in days) for metric, key in DAY_METRICS.items()}
        requests = sum(r["replay_requests"] for r in days)
        out["sources.replay_ok_ratio"] = sum(r["landed"] for r in days) / requests if requests else 0.0
        return out


# --- battle_analytics ------------------------------------------------------

LONG_QUERIES = (
    "b1_log_command_histogram",
    "b2_battle_event_times",
    "b3_player_win_rates",
    "b4_move_usage",
    "b5_first_log_timestamp",
    "b6_event_gaps",
    "b7_move_ranks",
    "b8_head_to_head",
)
# Stand-ins for queries on the reference's replay_status table: filters,
# watermarks, lifecycle aggregates, dedup windows, ingest/compaction
# joins and keyset paging.
SHORT_QUERIES = (
    "f2_undownloaded_filter",
    "f4_failed_retry_predicate",
    "g1_high_watermark",
    "g3_lifecycle_stats",
    "g6_dedup_keep_one",
    "g11_lifecycle_cube",
    "j3_compaction_anti_join",
    "w2_keyset_pagination",
)


def query_layer(name: str) -> str:
    """``plans.<module>`` of a catalog entry, e.g. plans.battlelog."""
    from pokemon_showdown_airflow_etl_spark.plans import ALL_QUERIES

    return "plans." + ALL_QUERIES[name].spark.__module__.rsplit(".", 1)[1]


class BattleAnalytics(Workload):
    """Build the battle-log lake from scratch (bulk), then an analyst's
    closed loop of query pairs: one long battle-log scan, then one short
    metadata-table query. A round runs each of the ``ROUND`` pairs once,
    always in the same order, so every run has the same mix and the
    engine warms up over the same sequence; the seed sets the data."""

    name = "battle_analytics"
    N_EVENTS = 6_000  # two replays per event: a 12,000-replay corpus
    PAIRS = tuple(zip(LONG_QUERIES, SHORT_QUERIES))
    ROUND = len(PAIRS)

    def prepare(self, ctx, rep: int) -> None:
        self.n_events = round(self.N_EVENTS * self.scale)
        self.sf_dir = ctx.run_dir.sub("data", f"sf-{rep}")
        write_tables(self.sf_dir, ctx.seed, self.n_events)

    def bulk(self, ctx, span) -> None:
        from pokemon_showdown_airflow_etl_spark.jobs.battlelog_lake import ensure_battlelog_lake

        if span is not None:
            span.name = "jobs.battlelog_lake.ensure_battlelog_lake"
        self.lake_out = ensure_battlelog_lake(ctx.spark, self.sf_dir)
        self.build_span = span

    def check_bulk(self, ctx) -> None:
        out, sp = self.lake_out, self.build_span
        n_replays = 2 * self.n_events
        docs = read_column(str(out / "docs"), "n_lines")
        require(len(docs) == n_replays, f"docs table holds {len(docs)} replays, expected {n_replays}")
        # corpus(): a 4-line header, i % 5 + 1 rounds of 3 lines, a win line
        want = sum(5 + 3 * (i % 5 + 1) for i in range(n_replays))
        n_lines = pq.ParquetDataset(str(out / "lines")).read(columns=["line_no"]).num_rows
        require(n_lines == want == sum(docs), f"lines table holds {n_lines} lines, expected {want}")
        if sp is not None:
            files = data_files(snapshot(str(out)))
            sp.counts["lake_bytes"] = sum(v[0] for v in files.values())
            sp.counts["lake_files"] = len(files)
            sp.counts["replays"] = n_replays
        from .oracle import Oracle

        self.oracle = Oracle(self.sf_dir)

    def op(self, ctx, i: int, span) -> int:
        """One query pair, each query's result collected, as an analyst
        waits for it."""
        from pokemon_showdown_airflow_etl_spark.plans import ALL_QUERIES

        self.results = {}
        for name in self.PAIRS[i % self.ROUND]:
            with ctx.tracer.span(f"{query_layer(name)}.{name}"):
                df = ALL_QUERIES[name].spark(ctx.spark, self.sf_dir)
                self.results[name] = (df.columns, df.collect())
        return len(self.results)

    def check_op(self, ctx, i: int) -> None:
        """Each query's first timed result against its DuckDB oracle, so
        every query is checked once per run."""
        from pokemon_showdown_airflow_etl_spark.plans import ALL_QUERIES

        if i >= self.ROUND:
            return
        for name, (columns, rows) in self.results.items():
            ok, detail = self.oracle.matches(ALL_QUERIES[name].oracle, columns, rows)
            require(ok, f"{name}: {detail}")
        if i == self.ROUND - 1:
            self.oracle.close()

    def layer_metrics(self, ctx, bulk_span: int, op_spans: list[int]) -> dict:
        tr = ctx.tracer
        build = tr.spans[bulk_span]
        out = {
            "jobs.battlelog_lake.build_s": build.duration,
            "jobs.battlelog_lake.bytes_per_replay": build.counts["lake_bytes"] / build.counts["replays"],
            "jobs.battlelog_lake.files": build.counts["lake_files"],
        }
        queries = [q for s in op_spans for q in tr.spans[s].children]
        by_name: dict[str, list[int]] = {}
        for q in queries:
            by_name.setdefault(tr.spans[q].name, []).append(q)
        for q in LONG_QUERIES:
            out[f"plans.battlelog.{q.split('_')[0]}_s_p50"] = median(
                tr.spans[s].duration for s in by_name.get(f"plans.battlelog.{q}", [])
            )
        short = [q for q in queries if not tr.spans[q].name.startswith("plans.battlelog.")]
        out["plans.relational.query_s_p50"] = median(tr.spans[q].duration for q in short)
        out["spark.exchanges_per_query"] = median(tr.spans[q].counts["spark"]["exchanges"] for q in queries)
        out["spark.input_bytes_per_query"] = median(
            tr.spans[q].counts["spark"]["input_bytes"] for q in queries
        )
        return out


# --- corpus_curation -------------------------------------------------------


def fingerprint(path: str) -> str:
    """sha256 over the sorted (doc_id, split) pairs of a curated corpus."""
    t = pq.read_table(path, columns=["doc_id", "split"]).to_pylist()
    pairs = sorted((r["doc_id"], r["split"]) for r in t)
    return hashlib.sha256(repr(pairs).encode()).hexdigest()


class CorpusCuration(Workload):
    """``curate_corpus`` over a seeded corpus with planted exact and near
    duplicates (bulk), then a seeded sequence of admission batches into
    one growing signature lake. Each batch re-sends copies of earlier
    batches' documents, so admission finds duplicates of the corpus as
    well as within the batch."""

    name = "corpus_curation"
    N_DOCS = 1200
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.10
    BATCH = 400
    IN_BATCH_SHARE = 0.05  # of a batch: exact copies, and again near copies, of its own docs
    RESEND_SHARE = 0.10  # of a batch: verbatim copies of earlier batches' docs

    def prepare(self, ctx, rep: int) -> None:
        self.n_docs = round(self.N_DOCS * self.scale)
        self.batch = round(self.BATCH * self.scale)
        self.docs_path = os.path.join(ctx.run_dir.sub("data", f"docs-{rep}"), "docs.parquet")
        pq.write_table(
            make_documents(ctx.seed, self.n_docs, exact_share=self.EXACT_SHARE, near_share=self.NEAR_SHARE),
            self.docs_path,
        )
        self.sig_root = ctx.run_dir.sub("work", f"sig-{rep}")
        self.resendable: list[str] = []
        self.rng = random.Random(ctx.seed)

    def _curate(self, ctx, tag: str, span) -> tuple[dict, str]:
        from pokemon_showdown_airflow_etl_spark.jobs.curate import curate_corpus

        out = ctx.run_dir.sub("work", f"curated-{tag}")
        stats = curate_corpus(ctx.spark, self.docs_path, out)
        if span is not None:
            span.name = "jobs.curate.curate_corpus"
            span.counts["stats"] = {k: v for k, v in stats.items() if isinstance(v, int)}
        return stats, out

    def bulk(self, ctx, span) -> None:
        self.bulk_stats, self.bulk_out = self._curate(ctx, "bulk", span)

    def check_bulk(self, ctx) -> None:
        stats = self.bulk_stats
        n_exact = int(self.n_docs * self.EXACT_SHARE)
        require(stats["n_input"] == self.n_docs, f"curate read {stats['n_input']} docs")
        require(
            stats["n_input"] - stats["n_after_exact_dedup"] == n_exact,
            f"exact dedup dropped {stats['n_input'] - stats['n_after_exact_dedup']}, planted {n_exact}",
        )
        require(stats["n_written"] == sum(stats["splits"].values()), "split counts do not add up")
        if not ctx.tracer.enabled:
            return
        # same seed, same corpus: a second curation must land the same
        # survivors in the same splits. A whole warm curation, so only the
        # traced run pays for it (see METRICS.md).
        with ctx.tracer.span("jobs.curate.curate_corpus") as sp:
            _stats, again = self._curate(ctx, "again", sp)
        require(
            fingerprint(again) == fingerprint(self.bulk_out),
            "curate_corpus is not deterministic: survivor/split fingerprints differ",
        )

    def before_op(self, ctx, i: int) -> None:
        fresh = make_documents(
            ctx.seed,
            self.batch,
            exact_share=self.IN_BATCH_SHARE,
            near_share=self.IN_BATCH_SHARE,
            id_offset=10_000_000 * (i + 1),
            salt=i + 1,
        )
        texts = fresh.column("text").to_pylist()
        n_resend = int(self.batch * self.RESEND_SHARE) if self.resendable else 0
        # Resent copies replace the first docs. Only earlier batches'
        # base docs are resent: they carry the smallest ids of their
        # batch, so admission accepted them and a copy must be found
        # as a duplicate of the corpus.
        for j, text in enumerate(self.rng.sample(self.resendable, n_resend)):
            texts[j] = text
        n_base = self.batch - 2 * int(self.batch * self.IN_BATCH_SHARE)
        self.resendable.extend(texts[n_resend:n_base])
        batch = fresh.set_column(fresh.schema.get_field_index("text"), "text", pa.array(texts))
        self.batch_path = os.path.join(ctx.run_dir.sub("data", f"batch-{i}"), "batch.parquet")
        pq.write_table(batch, self.batch_path)
        self.n_resend = n_resend

    def op(self, ctx, i: int, span) -> int:
        from pokemon_showdown_airflow_etl_spark.jobs.doc_signature_lake import ingest_signature_batch

        if span is not None:
            span.name = "jobs.doc_signature_lake.ingest_signature_batch"
            with ctx.tracer.bookkeeping():
                before = data_files(snapshot(self.sig_root))
        docs = ctx.spark.read.parquet(self.batch_path)
        self.stats = ingest_signature_batch(ctx.spark, docs, self.sig_root, f"batch-{i}")
        if span is not None:
            with ctx.tracer.bookkeeping():
                span.counts["bytes"], _ = written(before, data_files(snapshot(self.sig_root)))
            span.counts["stats"] = self.stats
        return self.stats["n_considered"]

    def check_op(self, ctx, i: int) -> None:
        st = self.stats
        require(st["n_batch"] == self.batch == st["n_considered"], f"batch counts: {st}")
        require(
            st["n_accepted"] + st["n_dup_of_corpus"] + st["n_dup_in_batch"] == st["n_considered"],
            f"admission counts do not balance: {st}",
        )
        require(st["n_dup_of_corpus"] >= self.n_resend, f"resent docs admitted again: {st}")

    def layer_metrics(self, ctx, bulk_span: int, op_spans: list[int]) -> dict:
        tr = ctx.tracer
        st = tr.spans[bulk_span].counts["stats"]
        n = st["n_input"]
        batches = [tr.spans[s] for s in op_spans]
        accepted = sum(b.counts["stats"]["n_accepted"] for b in batches)
        considered = sum(b.counts["stats"]["n_considered"] for b in batches)
        return {
            "jobs.curate.curate_s": tr.spans[bulk_span].duration,
            "jobs.curate.exact_dup_drop_share": (n - st["n_after_exact_dedup"]) / n,
            "jobs.curate.near_dup_drop_share": (st["n_after_exact_dedup"] - st["n_after_near_dedup"]) / n,
            "jobs.doc_signature_lake.admit_s": median(b.duration for b in batches),
            "jobs.doc_signature_lake.jobs_per_batch": median(b.counts["spark"]["jobs"] for b in batches),
            "jobs.doc_signature_lake.bytes_written_per_accepted_doc": (
                sum(b.counts["bytes"] for b in batches) / accepted if accepted else 0.0
            ),
            "jobs.doc_signature_lake.accept_ratio": accepted / considered if considered else 0.0,
        }


WORKLOADS = {w.name: w for w in (EtlDaily, BattleAnalytics, CorpusCuration)}
