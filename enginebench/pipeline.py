"""The one event DAG all workloads run, plus the serving side around it.

DAG: ``events`` source -> keyed-latest upsert state (``latest`` sink);
``events`` -> filtered stream (``value >= THRESHOLD``) -> per-kind
aggregate (``totals`` sink). The ``latest`` sink is published to a
``ViewServer`` top-N page every cycle it updates; the ``totals`` sink's
rows are collected per fired cycle, as a downstream consumer would.
"""

from __future__ import annotations

import threading
import time
import urllib.error
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beavers_spark import Dag
from beavers_spark.operators import TableView, last_by_keys
from beavers_spark.serving import ViewServer

from enginebench.gen import SPARK_SCHEMA

THRESHOLD = 500
TOP_N = 100
TOTALS_SCHEMA = "kind string, n bigint, total bigint"
VIEW = TableView(
    index_columns=["key"],
    order_by=["seq"],
    sort=[("value", "desc"), ("key", "asc")],
    limit=TOP_N,
)


class LatestByKey:
    """Keyed-latest state function. Its own result is localCheckpointed
    each cycle: without that the union-of-unions plan deepens every
    cycle until the driver runs out of heap."""

    def __init__(self) -> None:
        self.table: DataFrame | None = None

    def __call__(self, batch: DataFrame) -> DataFrame:
        merged = batch if self.table is None else self.table.unionByName(batch)
        self.table = last_by_keys(merged, ["key"], ["seq"]).localCheckpoint()
        return self.table


def _above_threshold(events: DataFrame) -> DataFrame:
    return events.filter(F.col("value") >= THRESHOLD)


def _per_kind(events: DataFrame) -> DataFrame:
    return events.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


def build_dag(spark) -> Dag:
    dag = Dag(spark)
    events = dag.source_table(SPARK_SCHEMA, "events")
    latest = dag.state(LatestByKey()).map(events)
    big = dag.table_stream(_above_threshold, SPARK_SCHEMA).map(events)
    totals = dag.table_stream(_per_kind, TOTALS_SCHEMA).map(big)
    dag.sink("latest", latest)
    dag.sink("totals", totals)
    return dag


class TotalsCollector:
    """Consumer of the ``totals`` sink: keeps each fired cycle's rows."""

    def __init__(self) -> None:
        self.cycles: list[list[tuple[str, int, int]]] = []

    def add(self, df: DataFrame) -> None:
        self.cycles.append([(r["kind"], r["n"], r["total"]) for r in df.collect()])


class ServingSink:
    """Replay ``DataSink`` publishing ``latest`` to the view server."""

    def __init__(self, server: ViewServer) -> None:
        self.server = server

    def append(self, timestamp, data: DataFrame) -> None:
        self.server.update("latest", data)

    def close(self) -> None:
        pass


class TotalsSink:
    """Replay ``DataSink`` feeding a :class:`TotalsCollector`."""

    def __init__(self, collector: TotalsCollector) -> None:
        self.collector = collector

    def append(self, timestamp, data: DataFrame) -> None:
        self.collector.add(data)

    def close(self) -> None:
        pass


def start_server() -> ViewServer:
    server = ViewServer()
    server.register("latest", VIEW)
    return server.start()


def fetch_snapshot(url: str, timeout: float = 30.0) -> tuple[int, bytes]:
    """GET ``url``; (status, body). Non-2xx answers are returned, not raised."""
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, b""


class Reader:
    """One HTTP client reading the served page in a closed loop with a
    fixed think time between reads, beside the engine's writes. It runs in
    the driver process, so without the pause it competes with the driver
    for the interpreter lock and lowers ingest: the pacing is part of the
    workload."""

    def __init__(self, url: str, think_s: float, tracer) -> None:
        self.url = url
        self.think_s = think_s
        self.tracer = tracer
        self.reads: list[tuple[float, float, bool]] = []  # (start, ms, ok)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="reader", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=60)
        if self._thread.is_alive():
            raise RuntimeError("reader thread did not stop")

    def _loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.perf_counter()
            with self.tracer.span("client.read", jobs=False):
                try:
                    status, _ = fetch_snapshot(self.url)
                except OSError:
                    status = 0
            # 404 before the first publish is a failed read too: the
            # reader only starts once a snapshot exists
            self.reads.append((t0, (time.perf_counter() - t0) * 1e3, status == 200))
            self._stop.wait(self.think_s)
