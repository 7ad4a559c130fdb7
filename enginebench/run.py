"""Benchmark entry point.

    python3 enginebench/run.py --workload live_serve --seed 1 --seconds 25 --trace 0

Runs one workload in one process on ``local[nproc]``: three setups
(session start + DAG build + warm-up cycle; the last one is kept), a fixed
number of untimed warm-up cycles, a fixed number of timed cycles (capped
at ``--seconds``), then the oracle check. ``--trace 1`` traces half of the
timed cycles and prints the per-layer metrics instead of the end-to-end
ones. The last stdout line is the result JSON; the line before it is a
human-readable summary. ``--smoke`` shrinks the inputs tenfold for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
#: setups per run; ``setup_s`` is their median
N_SETUPS = 3
#: percentiles tried for a tail, highest first; the first with at least
#: ten samples beyond it is reported
TAIL_LADDER = (95, 90, 75)
#: driver JVM heap, well below the host RAM the default would assume
DRIVER_MEM = "2g"
#: a run that hangs is killed (with a traceback) after this long
RUN_TIMEOUT_S = 170


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest ladder percentile with at least
    ten samples beyond it, or None if the sample count supports none."""
    n = len(values)
    ordered = sorted(values)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            return p, ordered[min(n - 1, int(n * p / 100))]
    return None


def configure_environment(workdir: Path) -> None:
    """Keep every file the run writes inside ``workdir`` and size Spark."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(workdir: Path):
    from beavers_spark import get_spark

    return get_spark(
        "enginebench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            # the traced pass reads every job and stage of the run back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM child to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def check_outputs(wl, pipe) -> dict:
    """Every mismatch against the oracle, plus the oracle's own wall time
    over the delivered events and the size of the last served page."""
    import pyarrow as pa

    from enginebench import oracle
    from enginebench.pipeline import fetch_snapshot

    events = wl.delivered(pipe)
    t0 = time.perf_counter()
    want = oracle.expected(events)
    oracle_s = time.perf_counter() - t0
    status, body = fetch_snapshot(f"{pipe.server.url}/table/latest.arrow")
    served = pa.ipc.open_stream(body).read_all() if status == 200 else None
    state = pipe.state.read(pipe.spark).toPandas() if pipe.state is not None else None
    dag_latest = pipe.dag.get_sink_value("latest").toPandas()
    checks, problems = oracle.check(want, dag_latest, pipe.totals.cycles, served, state)
    return {
        "checks": checks,
        "problems": problems,
        "oracle_s": oracle_s,
        "oracle_events": events.num_rows,
        "snapshot_bytes": len(body),
    }


def end_to_end(res, setup_s: list[float], peak_rss: int) -> dict:
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "events_per_s": (res.events / res.wall_s, "1/s"),
        "cycle_p50_ms": (statistics.median(res.cycle_ms), "ms"),
        "read_p50_ms": (statistics.median(res.reads_ms), "ms"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(wl, pipe, res, counters, session_s: list[float]) -> dict:
    from enginebench.trace import self_jobs, self_times

    spans = pipe.tracer.closed()
    engine = [s for s in spans if s.first_job is not None]
    mine = self_jobs(engine)
    roots = [s for s in engine if s.parent is None]
    traced_s = sum(s.end - s.start for s in roots)
    cycles = max(1, len(res.cycles))

    def durations(name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in spans if s.name == name]

    def med(name: str) -> float:
        d = durations(name)
        return statistics.median(d) if d else 0.0

    def count(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    def jobs_in(layer: str) -> int:
        return sum(len(mine[s.id]) for s in engine if s.name.split(".")[0] == layer)

    def rate(traced: bool) -> float:
        group = [c for c in res.cycles if c.traced == traced]
        return sum(c.events for c in group) / sum(c.end - c.start for c in group)

    if wl.live:  # StreamingDagDriver flushes the DAG's metrics every batch
        updated = statistics.mean(m.dag_updated_nodes for m in pipe.driver.metrics)
    else:
        dag_metrics = pipe.dag.flush_metrics()
        updated = dag_metrics.updated_nodes / max(1, dag_metrics.cycles)
    out = {
        "session.start_s": (statistics.median(session_s), "s"),
        "dag.execute_ms": (med("dag.execute"), "ms"),
        "dag.execute_share": (sum(durations("dag.execute")) / 1e3 / traced_s, "share"),
        "dag.spark_jobs_per_cycle": (jobs_in("dag") / max(1, count("dag.execute")), "count"),
        "dag.updated_nodes_per_cycle": (updated, "count"),
    }
    # the replay layer: the driver's own jobs (cycle span self) + source calls
    warp = res.extra.get("warp_ratio", [])
    out.update({
        "replay.read_ms": (med("replay.read"), "ms"),
        "replay.schedule_ms": (med("replay.schedule"), "ms"),
        "replay.spark_jobs_per_cycle": (jobs_in("replay") / max(1, count("replay.cycle")), "count"),
        "replay.warp_ratio": (statistics.median(warp) if warp else 0.0, "ratio"),
    })
    trig, add = [], []
    if wl.live:
        timed_ids = set(res.extra["batch_ids"])
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and len(
            {p["batch_id"] for p in pipe.progress.progress} & timed_ids
        ) < len(timed_ids):
            time.sleep(0.1)
        for p in pipe.progress.progress:
            if p["batch_id"] in timed_ids:
                trig.append(p["duration_ms"].get("triggerExecution", 0))
                add.append(p["duration_ms"].get("addBatch", 0))
    waves = pipe.state.metrics[1:] if pipe.state is not None else []
    out.update({
        "live.trigger_ms": (statistics.median(trig) if trig else 0.0, "ms"),
        "live.add_batch_ms": (statistics.median(add) if add else 0.0, "ms"),
        "live.overhead_ms": (
            statistics.median([t - a for t, a in zip(trig, add)]) if trig else 0.0, "ms"
        ),
        "live.driver_call_ms": (med("live.driver_call"), "ms"),
        "state.upsert_ms": (med("state.upsert"), "ms"),
        "state.spark_jobs_per_wave": (jobs_in("state") / max(1, count("state.upsert")), "count"),
        "state.bytes_rewritten_per_wave": (
            statistics.mean(w.bytes for w in waves) if waves else 0.0, "bytes"
        ),
        "state.files_max_per_bucket": (
            max((w.max_files_per_partition for w in waves), default=0), "count"
        ),
        "serving.update_ms": (med("serving.update"), "ms"),
        "serving.snapshot_bytes": (res.extra.get("snapshot_bytes", 0), "bytes"),
    })
    totals = counters.totals(range(res.first_job, res.last_job))
    out.update({
        "spark.jobs": (totals["jobs"] / cycles, "count/cycle"),
        "spark.tasks": (totals["tasks"] / cycles, "count/cycle"),
        "spark.shuffle_write_bytes": (totals["shuffle_write_bytes"] / cycles, "bytes/cycle"),
        "spark.input_bytes": (totals["input_bytes"] / cycles, "bytes/cycle"),
        "spark.executor_run_ms": (totals["executor_run_ms"] / cycles, "ms/cycle"),
        "spark.gc_ms": (totals["gc_ms"] / cycles, "ms/cycle"),
        "spark.busy_share": (
            totals["executor_run_ms"] / (res.wall_s * 1e3 * counters.cores), "share"
        ),
        "driver.cpu_share": (res.cpu_s / res.wall_s, "share"),
        "trace.overhead_share": (1 - rate(True) / rate(False), "share"),
    })
    selfs = self_times([s for s in spans if s.name != "client.read"])
    for layer in ("replay", "dag", "sink", "serving", "state", "live"):
        out[f"self.{layer}_share"] = (selfs.get(layer, 0.0) / traced_s, "share")
    return out


def tally(res, checked: dict) -> tuple[int, int]:
    """(failed, attempted) operations: cycles, reads and oracle checks. A
    failed cycle, a non-200 read and an oracle mismatch each count once."""
    problems = checked["problems"]
    failed = bool(res.error) + res.read_failures + len(problems)
    attempted = len(res.cycles) + bool(res.error) + len(res.reads_ms) + checked["checks"]
    return failed, attempted


def result(failed: int, attempted: int, metrics: dict) -> tuple[dict, int]:
    """The result line and the exit code. A run with any failure reports
    no numbers."""
    correct = failed == 0
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": (
            {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()} if correct else {}
        ),
    }, 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)
    faulthandler.dump_traceback_later(RUN_TIMEOUT_S, exit=True)
    if not (ROOT / "beavers_spark" / "dag.py").is_file():
        print(f"enginebench: no beavers_spark package under {ROOT}", file=sys.stderr)
        return 2
    workdir = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_environment(workdir)
    sys.path.insert(0, str(ROOT))
    from enginebench.pipeline import Reader
    from enginebench.trace import NO_TRACE, RssSampler, SparkCounters, Tracer, write_spans
    from enginebench.workloads import SPECS, THINK_S, WINDOWS, Phases, make_workload

    if args.workload not in SPECS:
        print(f"enginebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = make_workload(args.workload, args.smoke)
    rss = RssSampler().start()
    checked = {"checks": 0, "problems": []}
    metrics: dict = {}
    summary = {"workload": args.workload, "seed": args.seed, "spec": vars(wl.spec)}
    phase_s = {}
    t_run = time.perf_counter()
    try:
        wl.prepare(str(workdir), args.seed)
        phase_s["prepare"] = time.perf_counter() - t_run
        setup_s, session_s = [], []
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            spark = start_session(workdir)
            t1 = time.perf_counter()
            rss.child_pid = jvm_process().pid
            tracer = NO_TRACE
            if args.trace and i == N_SETUPS - 1:
                counters = SparkCounters(spark)
                tracer = Tracer(counters.job_count)
            t2 = time.perf_counter()
            pipe = wl.setup(spark, f"setup{i}", tracer)
            setup_s.append(t1 - t0 + time.perf_counter() - t2)
            session_s.append(t1 - t0)
            if i < N_SETUPS - 1:
                wl.close(pipe)
                spark.stop()
        reader = Reader(f"{pipe.server.url}/table/latest.arrow", THINK_S, tracer)
        warmup, timed = WINDOWS[args.workload]
        res = wl.run(pipe, Phases(warmup, timed, args.seconds, tracer), reader)
        rss.stop()  # the engine's memory, not the oracle's
        if not res.error and len(res.cycles) < 2:
            res.error = "input exhausted before two timed cycles"
        phase_s["run"] = time.perf_counter() - t_run
        if not res.error:
            checked = check_outputs(wl, pipe)
            res.extra["snapshot_bytes"] = checked["snapshot_bytes"]
        if args.trace and not res.error:
            metrics = per_layer(wl, pipe, res, counters, session_s)
            trace_path = workdir.parent / f"trace-{args.workload}-{args.seed}.json"
            write_spans(str(trace_path), tracer.closed(), {"metrics": metrics})
            summary["trace_file"] = str(trace_path.relative_to(ROOT))
        wl.close(pipe)
        spark.stop()
    finally:
        stop_jvm()
        rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    problems = checked["problems"]
    failed, attempted = tally(res, checked)
    if not failed and not args.trace:
        metrics = end_to_end(res, setup_s, rss.peak)
    cyc_tail, read_tail = tail(res.cycle_ms), tail(res.reads_ms)
    summary.update({
        "cycles": len(res.cycles),
        "events": res.events,
        "wall_s": res.wall_s,
        "error_rate": failed / attempted,
        "errors": ([res.error] if res.error else []) + problems,
        "setup_s_all": setup_s,
        "phase_s": {**phase_s, "total": time.perf_counter() - t_run},
        "cycle_ms": [round(c, 1) for c in res.cycle_ms],
        "cycle_tail": {"p": cyc_tail[0], "ms": cyc_tail[1], "n": len(res.cycles)} if cyc_tail else None,
        "read_tail": {"p": read_tail[0], "ms": read_tail[1], "n": len(res.reads_ms)} if read_tail else None,
        # the single-threaded baseline: the oracle over the same events
        "oracle_s": checked.get("oracle_s"),
        "oracle_events_per_s": (
            checked["oracle_events"] / checked["oracle_s"] if "oracle_s" in checked else None
        ),
        "peak_rss_mb_driver_jvm": [b / 2**20 for b in rss.peaks],
    })
    print("summary " + json.dumps(summary, default=str))
    line, code = result(failed, attempted, metrics)
    print(json.dumps(line))
    return code


if __name__ == "__main__":
    sys.exit(main())
