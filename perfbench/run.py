"""The repo benchmark.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

runs one workload in this process on ``local[<cpus>]``: set-up, the
workload's bulk pass, then a closed loop of its operation for
``--seconds`` of measured time (at least ``MIN_OPS`` operations, ending
on a round of the workload's mix), one operation at a time, each
followed by an untimed correctness check. Times are wall time net of
hypervisor steal (``trace.net_of_steal``). The last line of stdout is a
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A human-readable summary with raw wall times, and with
``--trace 1`` every span, go to stderr. ``--workload all`` runs every
workload, each in a fresh process. See perfbench/METRICS.md.
"""

from __future__ import annotations

import os
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import host_ticks  # noqa: E402  (standard library only)

START_TICKS = host_ticks()  # set-up is timed from here, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402

PREPARE_REPEATS = 3
MIN_OPS = 2  # a median of more than one op, even when one op outlasts --seconds
SPARK_COUNTS = (
    ("spark.jobs_per_op", "jobs"),
    ("spark.tasks_per_op", "tasks"),
    ("spark.shuffle_write_bytes_per_op", "shuffle_write_bytes"),
    ("spark.spill_bytes_per_op", "spill_bytes"),
)


@dataclass
class Ctx:
    spark: object
    run_dir: object
    seed: int
    tracer: object


def process_age_s() -> float:
    """Seconds since this process started (interpreter start, imports
    and session start all count as set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Tally:
    """Operations attempted and failed; an operation fails when it
    raises or its check fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn) -> bool:
        from perfbench.workloads import CheckFailed

        try:
            fn()
            return True
        except CheckFailed as exc:
            log(f"{label}: check failed: {exc}")
        except Exception:  # an operation that raises counts as failed; the loop goes on
            log(f"{label}: raised\n{traceback.format_exc()}")
        self.failed += 1
        return False


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    from perfbench.isolation import RunDir, host_cpus, start_session, stop_session
    from perfbench.trace import (
        ProcSampler,
        SparkCollector,
        Stopwatch,
        Tracer,
        host_ticks,
        net_of_steal,
        steal_share,
        wrap_method,
    )
    from perfbench.workloads import WORKLOADS, median

    wl = WORKLOADS[name](scale)
    run_dir = RunDir()
    spark = None
    restore = []
    try:
        with ProcSampler() as sampler:
            spark = start_session(run_dir, trace)
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            session_wall = process_age_s()
            session_s = net_of_steal(session_wall, START_TICKS, host_ticks())
            tracer = Tracer(trace, sc)
            ctx = Ctx(spark, run_dir, seed, tracer)
            prepare_s = []
            for rep in range(PREPARE_REPEATS):
                with Stopwatch() as sw:
                    wl.prepare(ctx, rep)
                prepare_s.append(sw.net)
            setup_s = session_s + median(prepare_s)
            log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s, {session_wall:.2f} s wall)")
            if trace:
                from pokemon_showdown_airflow_etl_spark.jobs.lake import MetadataStore

                for method in ("insert_new", "patch"):
                    restore.append(wrap_method(tracer, MetadataStore, method, f"jobs.lake.{method}"))

            tally = Tally()
            tally.attempted += 1
            with Stopwatch() as bulk, tracer.span(f"{name}.bulk") as bulk_span:
                bulk_ok = tally.run("bulk", lambda: wl.bulk(ctx, bulk_span))
            with Stopwatch() as check:
                if bulk_ok:
                    tally.run("bulk check", lambda: wl.check_bulk(ctx))
            log(f"bulk {bulk.net:.2f} s ({bulk.wall:.2f} s wall), its check {check.wall:.2f} s wall")

            ops, items, op_spans, busy = [], 0, [], []
            bookkeeping0 = tracer.overhead_s
            i = 0
            while True:
                wl.before_op(ctx, i)
                tally.attempted += 1
                cpu0 = sampler.cpu_s() if trace else 0.0
                out = {}
                with Stopwatch() as sw, tracer.span(f"{name}.op") as sp:
                    if sp is not None:
                        op_spans.append(len(tracer.spans) - 1)
                    ok = tally.run(f"op {i}", lambda: out.setdefault("n", wl.op(ctx, i, sp)))
                if trace:
                    busy.append((sampler.cpu_s() - cpu0) / (sw.wall * host_cpus()))
                ops.append(sw)
                if ok:
                    items += out["n"]
                    tally.run(f"op {i} check", lambda: wl.check_op(ctx, i))
                i += 1
                if len(ops) >= MIN_OPS and sum(o.net for o in ops) >= seconds and i % wl.ROUND == 0:
                    break
            op_s = [o.net for o in ops]
            log(
                f"{len(ops)} ops, s: " + " ".join(f"{o.net:.3f}" for o in ops)
                + "; wall s: " + " ".join(f"{o.wall:.3f}" for o in ops)
            )

        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
        }
        if not trace:
            values = {
                "setup_s": setup_s,
                "bulk_s": bulk.net,
                "op_s_p50": median(op_s),
                "items_per_s": items / sum(op_s),
            }
            metrics = {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
        else:
            per_group = SparkCollector(sc).per_group(tracer.spans)
            for idx, s in enumerate(tracer.spans):
                tot = {}
                for j in tracer.subtree(idx):
                    for k, v in per_group[tracer.spans[j].group].items():
                        tot[k] = tot.get(k, 0) + v
                s.counts["spark"] = tot
            bulk_idx = 0  # the bulk span is the first span of the run
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(wl.layer_metrics(ctx, bulk_idx, op_spans))
            for metric, key in SPARK_COUNTS:
                values[metric] = median(tracer.spans[s].counts["spark"][key] for s in op_spans)
            values["spark.cpu_busy_share"] = median(busy)
            values["proc.peak_pss_mb"] = sampler.peak_pss / 2**20
            values["trace.op_s_p50"] = median(op_s)
            values["trace.bulk_s"] = bulk.net
            values["trace.bookkeeping_s_per_op"] = (tracer.overhead_s - bookkeeping0) / len(ops)
            unknown = set(values) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from metrics.PER_LAYER: {unknown}")
            metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
            print("perfbench spans: " + json.dumps(tracer.dump(), default=str), file=sys.stderr)
        result["metrics"] = metrics
        summary = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
        log(
            f"{name} seed={seed}: {len(ops)} ops, failed_ops_share="
            f"{tally.failed}/{tally.attempted}, host cpu steal {steal_share(START_TICKS, host_ticks()):.3f} "
            f"over the run, peak memory {sampler.peak_pss / 2**20:.0f} MB PSS; {summary}"
        )
        return result
    finally:
        for undo in restore:
            undo()
        try:
            stop_session(spark)
        finally:
            run_dir.remove()


def run_all(seed: int, seconds: float, trace: int, scale: float) -> dict:
    """Every workload, each in a fresh process; metrics are prefixed
    with the workload name."""
    from perfbench.workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--scale", str(scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"perfbench: {name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        out["correct"] = out["correct"] and res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.isolation import check_checkout

    check_checkout()  # before importing anything that needs the program
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="multiply bulk and op sizes (default 1; larger values show how op time grows with size)",
    )
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"  # Spark timestamps reach Python as local time
    time.tzset()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        result = run_all(args.seed, args.seconds, args.trace, args.scale)
    else:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
