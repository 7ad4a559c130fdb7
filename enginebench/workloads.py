"""The three workloads: how inputs reach the shared DAG, and what is timed.

Each workload generates its inputs once per run (``prepare``), then
builds a fresh pipeline per setup (``setup``: DAG, view server, driver,
and one warm-up cycle) and drives the last one closed-loop through a
fixed range of cycles (``run``): the engine takes the next batch only
after it has committed the previous one.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time
import traceback

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from beavers_spark.streaming import (
    ArrowTableDataSource,
    KeyedStateTable,
    ProgressCollector,
    ReplayContext,
    ReplayDriver,
    SparkSliceSource,
    StreamingDagDriver,
)

from enginebench import gen
from enginebench.pipeline import (
    Reader,
    ServingSink,
    TotalsCollector,
    TotalsSink,
    build_dag,
    start_server,
)

#: pause between two reads of the HTTP client
THINK_S = 0.02
#: state-table buckets, a fixed workload parameter: a wave rewrites at
#: most this many bucket directories
N_BUCKETS = 4


@dataclasses.dataclass
class Pipeline:
    """One built instance of the DAG and everything around it."""

    spark: object
    dag: object
    server: object
    totals: TotalsCollector
    tracer: object
    driver: object = None
    state: KeyedStateTable | None = None
    query: object = None
    loop: "BatchLoop | None" = None
    progress: ProgressCollector | None = None


@dataclasses.dataclass
class Cycle:
    """One timed cycle (replay) or micro-batch (live)."""

    start: float  # time.perf_counter()
    end: float
    events: int
    traced: bool


@dataclasses.dataclass
class PassResult:
    """What one timed pass did. The timed window runs from ``t_start`` (end
    of the last warm-up cycle) to the end of the last timed cycle."""

    cycles: list[Cycle]
    t_start: float
    cpu_s: float = 0.0
    reads_ms: list[float] = dataclasses.field(default_factory=list)
    read_failures: int = 0
    first_job: int | None = None
    last_job: int | None = None
    error: str | None = None
    extra: dict = dataclasses.field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.cycles[-1].end - self.t_start if self.cycles else 0.0

    @property
    def events(self) -> int:
        return sum(c.events for c in self.cycles)

    @property
    def cycle_ms(self) -> list[float]:
        return [(c.end - c.start) * 1e3 for c in self.cycles]


class Phases:
    """A fixed range of cycles: ``warmup`` untimed cycles, then ``timed``
    timed ones, so every run and every commit does the same work on state
    of the same size. ``seconds`` only caps the timed phase (at least two
    timed cycles always run). In a traced pass timed cycles 1 and 2 of
    every four are traced: traced and untraced cycles then sit equally far
    into the run, and their rate difference is the tracing overhead."""

    def __init__(self, warmup: int, timed: int, seconds: float, tracer) -> None:
        self.warmup = warmup
        self.timed = timed
        self.seconds = seconds
        self.tracer = tracer
        self.cycles: list[Cycle] = []
        self.warmed = 0  # untimed cycles done
        self.t_start: float | None = None
        self.deadline = float("inf")
        self.cpu_start = 0.0
        self.first_job: int | None = None
        self._last_end = time.perf_counter()
        self._last_cpu = time.process_time()

    def begin(self) -> bool | None:
        """Called before a cycle: None = stop, else whether it is timed."""
        n = len(self.cycles)
        if n >= self.timed or (n >= 2 and time.perf_counter() >= self.deadline):
            return None
        timed = self.warmed >= self.warmup
        if timed and self.t_start is None:
            self.t_start, self.cpu_start = self._last_end, self._last_cpu
            self.deadline = self.t_start + self.seconds
            jobs = self.tracer.count_jobs
            self.first_job = jobs() if jobs else None
        self.tracer.enabled = self.tracer.instrumented and timed and n % 4 in (1, 2)
        return timed

    def end(self, timed: bool, start: float, events: int) -> None:
        self._last_end, self._last_cpu = time.perf_counter(), time.process_time()
        if not timed:
            self.warmed += 1
        elif events:
            self.cycles.append(Cycle(start, self._last_end, events, self.tracer.enabled))
        self.tracer.enabled = False

    def result(self, reader: Reader, error: str | None) -> PassResult:
        t_start = self.t_start if self.t_start is not None else self._last_end
        t_end = self.cycles[-1].end if self.cycles else t_start
        reads = [(t, ms, ok) for t, ms, ok in reader.reads if t_start <= t <= t_end]
        jobs = self.tracer.count_jobs
        return PassResult(
            cycles=self.cycles,
            t_start=t_start,
            cpu_s=self._last_cpu - self.cpu_start,
            reads_ms=[ms for _, ms, _ in reads],
            read_failures=sum(not ok for _, _, ok in reads),
            first_job=self.first_job,
            last_job=jobs() if jobs else None,
            error=error,
        )


class TracedDag:
    """Delegating proxy that times ``Dag.execute``."""

    def __init__(self, dag, tracer) -> None:
        self._dag = dag
        self._tracer = tracer

    def execute(self, timestamp=None) -> None:
        with self._tracer.span("dag.execute"):
            self._dag.execute(timestamp)

    def __getattr__(self, name):
        return getattr(self._dag, name)


class TracedSource:
    """Replay source wrapper timing ``read_to`` and ``get_next``."""

    def __init__(self, source, tracer) -> None:
        self._source = source
        self._tracer = tracer

    def read_to(self, timestamp):
        with self._tracer.span("replay.read"):
            return self._source.read_to(timestamp)

    def get_next(self):
        with self._tracer.span("replay.schedule"):
            return self._source.get_next()


class TracedSink:
    """Replay sink wrapper timing ``append`` under ``span``."""

    def __init__(self, sink, tracer, span: str) -> None:
        self._sink = sink
        self._tracer = tracer
        self._span = span

    def append(self, timestamp, data) -> None:
        with self._tracer.span(self._span):
            self._sink.append(timestamp, data)

    def close(self) -> None:
        self._sink.close()


class ReplayWorkload:
    """Historical replay through ``ReplayDriver``.

    ``source="arrow"``: an in-memory Arrow table via ``ArrowTableDataSource``
    (each slice converted with ``createDataFrame``); ``source="slice"``:
    generator-written parquet via ``SparkSliceSource``.
    """

    live = False

    def __init__(self, spec: gen.LoadSpec, source: str) -> None:
        self.spec = spec
        self.source = source
        self.table: pa.Table | None = None
        self.path: str | None = None

    def prepare(self, workdir: str, seed: int) -> None:
        self.table = gen.generate(self.spec, seed)
        if self.source == "slice":
            self.path = os.path.join(workdir, "events.parquet")
            # one row group per cycle, as an appender flushing every second
            # of event time would write
            pq.write_table(self.table, self.path, row_group_size=self.spec.events_per_cycle)

    def setup(self, spark, tag: str, tracer) -> Pipeline:
        dag = build_dag(spark)
        server = start_server()
        totals = TotalsCollector()
        if self.source == "arrow":
            source = ArrowTableDataSource(
                self.table, "ts", to_value=lambda t: spark.createDataFrame(t)
            )
        else:
            source = SparkSliceSource(spark, self.path, "ts")
        sinks = {"latest": ServingSink(server), "totals": TotalsSink(totals)}
        if tracer.instrumented:
            dag_view = TracedDag(dag, tracer)
            source = TracedSource(source, tracer)
            sinks = {
                "latest": TracedSink(sinks["latest"], tracer, "serving.update"),
                "totals": TracedSink(sinks["totals"], tracer, "sink.totals"),
            }
        else:
            dag_view = dag
        context = ReplayContext(
            start=gen.cycle_end(0),
            end=gen.cycle_end(self.spec.cycles - 1),
            frequency=pd.Timedelta(seconds=1),
        )
        driver = ReplayDriver(dag_view, context, {"events": source}, sinks)
        pipe = Pipeline(spark, dag, server, totals, tracer, driver=driver)
        self._cycle(pipe)  # warm-up: the first cycle of the stream
        return pipe

    def _cycle(self, pipe: Pipeline) -> None:
        pipe.tracer.cycle += 1
        with pipe.tracer.span("replay.cycle"):
            pipe.driver.run_cycle()

    def run(self, pipe: Pipeline, phases: Phases, reader: Reader) -> PassResult:
        driver = pipe.driver
        error = None
        reader.start()
        try:
            while not driver.is_done():
                timed = phases.begin()
                if timed is None:
                    break
                n, start = len(driver.metrics), time.perf_counter()
                self._cycle(pipe)
                carried = driver.metrics[n].records
                phases.end(timed, start, self.spec.events_per_cycle if carried else 0)
        except Exception as exc:  # noqa: BLE001 - a failed cycle is reported
            traceback.print_exc()
            error = f"{type(exc).__name__}: {exc}"
        finally:
            reader.stop()
        result = phases.result(reader, error)
        result.extra["warp_ratio"] = [m.warp_ratio for m in driver.metrics if m.records]
        return result

    def delivered(self, pipe: Pipeline) -> pa.Table:
        """Every event the driver has handed to the DAG so far."""
        last = max(m.cycle_time for m in pipe.driver.metrics if m.records)
        ts = self.table["ts"].to_pandas()
        return self.table.slice(0, int(ts.searchsorted(last, side="right")))

    def close(self, pipe: Pipeline) -> None:
        pipe.server.stop()


class BatchLoop:
    """The ``foreachBatch`` callable of the live workload: one micro-batch
    runs the DAG through ``StreamingDagDriver`` (which publishes to the
    view server) and then upserts the durable ``KeyedStateTable``.

    The stream is held after the warm-up batch until ``start(phases)``.
    Once the phases end (or after ``halt()``) batches are skipped, so the
    query can be stopped between batches without losing track of which
    files were applied.
    """

    def __init__(self, driver, state: KeyedStateTable, tracer, events_per_batch: int) -> None:
        self.driver = driver
        self.state = state
        self.tracer = tracer
        self.events_per_batch = events_per_batch
        self.phases: Phases | None = None
        self.halted = threading.Event()
        self.first_done = threading.Event()
        self._go = threading.Event()
        self.applied = 0  # batches applied, warm-up included
        self.batch_ids: list[int] = []  # of timed batches
        self.error: str | None = None

    def start(self, phases: Phases) -> None:
        self.phases = phases
        self._go.set()

    def halt(self) -> None:
        self.halted.set()
        self._go.set()

    def __call__(self, batch_df, batch_id: int) -> None:
        if self.applied:
            self._go.wait()
        if self.halted.is_set():
            return
        timed = self.phases.begin() if self.phases is not None else False
        if timed is None:
            self.halted.set()
            return
        start = time.perf_counter()
        self.tracer.cycle += 1
        try:
            with self.tracer.span("live.batch"):
                with self.tracer.span("live.driver_call"):
                    self.driver(batch_df, batch_id)
                with self.tracer.span("state.upsert"):
                    self.state(batch_df, batch_id)
        except Exception as exc:  # noqa: BLE001 - a failed batch is reported
            traceback.print_exc()
            self.error = f"{type(exc).__name__}: {exc}"
            self.halted.set()
            raise
        finally:
            self.first_done.set()
        self.applied += 1
        if self.phases is not None:
            self.phases.end(timed, start, self.events_per_batch)
            if timed:
                self.batch_ids.append(batch_id)


class LiveWorkload:
    """A Structured Streaming file-source backlog, one parquet file per
    trigger (``maxFilesPerTrigger=1``, ``availableNow``), into the DAG via
    ``StreamingDagDriver`` and a ``KeyedStateTable`` upsert per batch."""

    live = True

    def __init__(self, spec: gen.LoadSpec) -> None:
        self.spec = spec
        self.table: pa.Table | None = None
        self.workdir: str | None = None

    def prepare(self, workdir: str, seed: int) -> None:
        self.workdir = workdir
        self.table = gen.generate(self.spec, seed)
        gen.write_batch_files(
            self.table, os.path.join(workdir, "input"), self.spec.events_per_cycle
        )

    def setup(self, spark, tag: str, tracer) -> Pipeline:
        dag = build_dag(spark)
        server = start_server()
        totals = TotalsCollector()

        def on_sink(name, value, batch_id):
            if name == "totals":
                with tracer.span("sink.totals"):
                    totals.add(value)
            else:
                with tracer.span("serving.update"):
                    server.handle_sink(name, value, batch_id)

        dag_view = TracedDag(dag, tracer) if tracer.instrumented else dag
        driver = StreamingDagDriver(dag_view, "events", on_sink, event_time_column="ts")
        state = KeyedStateTable(
            os.path.join(self.workdir, f"state-{tag}"), keys=["key"], order_by="seq",
            n_buckets=N_BUCKETS,
        )
        loop = BatchLoop(driver, state, tracer, self.spec.events_per_cycle)
        progress = ProgressCollector()
        spark.streams.addListener(progress)
        stream = (
            spark.readStream.schema(gen.SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.workdir, "input"))
        )
        query = (
            stream.writeStream.foreachBatch(loop)
            .option("checkpointLocation", os.path.join(self.workdir, f"ckpt-{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        pipe = Pipeline(
            spark, dag, server, totals, tracer,
            driver=driver, state=state, query=query, loop=loop, progress=progress,
        )
        # warm-up: the first micro-batch (file 0)
        while not loop.first_done.wait(0.05):
            if not query.isActive:
                break
        if loop.error or not loop.applied:
            raise RuntimeError(f"live warm-up batch failed: {loop.error or query.exception()}")
        return pipe

    def run(self, pipe: Pipeline, phases: Phases, reader: Reader) -> PassResult:
        loop = pipe.loop
        reader.start()
        try:
            loop.start(phases)
            while not loop.halted.wait(0.05) and pipe.query.isActive:
                pass
            self._stop_query(pipe)
        finally:
            reader.stop()
        result = phases.result(reader, loop.error)
        result.extra["batch_ids"] = loop.batch_ids
        return result

    def _stop_query(self, pipe: Pipeline) -> None:
        pipe.loop.halt()
        pipe.query.stop()

    def delivered(self, pipe: Pipeline) -> pa.Table:
        return self.table.slice(0, pipe.loop.applied * self.spec.events_per_cycle)

    def close(self, pipe: Pipeline) -> None:
        if pipe.query.isActive:
            self._stop_query(pipe)
        pipe.spark.streams.removeListener(pipe.progress)
        pipe.server.stop()


#: (untimed warm-up cycles, timed cycles) after each setup's own warm-up
#: cycle; sized so that one run of a listed workload, three setups
#: included, takes about a minute on a 4-core host
WINDOWS = {"replay_tick": (5, 30), "replay_bulk": (1, 8), "live_serve": (1, 8)}


def _spec(name: str, events_per_cycle: int, n_keys: int, skew: str) -> gen.LoadSpec:
    """Input of exactly the setup cycle plus the window."""
    return gen.LoadSpec(1 + sum(WINDOWS[name]), events_per_cycle, n_keys, skew)


SPECS = {
    "replay_tick": _spec("replay_tick", 300, 2000, "zipf"),
    "replay_bulk": _spec("replay_bulk", 50_000, 250_000, "uniform"),
    "live_serve": _spec("live_serve", 2000, 20_000, "zipf"),
}


def make_workload(name: str, smoke: bool = False):
    """The named workload; ``smoke`` divides event and key counts by ten."""
    spec = SPECS[name]
    if smoke:
        spec = dataclasses.replace(
            spec, events_per_cycle=spec.events_per_cycle // 10, n_keys=spec.n_keys // 10
        )
    if name == "live_serve":
        return LiveWorkload(spec)
    return ReplayWorkload(spec, source="arrow" if name == "replay_tick" else "slice")
