"""The benchmark's own fast tests: generator, oracle, tail rule, timed-window
phases, result assembly, and the no-engine exit. Run from the repository root:

    python -m pytest enginebench -q -p no:cacheprovider

The smoke runs, which start Spark six times, are in smoke_check.py.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa

from enginebench import gen, oracle
from enginebench.pipeline import THRESHOLD
from enginebench.run import result, tail, tally
from enginebench.trace import Tracer
from enginebench.workloads import SPECS, WINDOWS, Cycle, PassResult, Phases

ROOT = Path(__file__).resolve().parents[1]
SPEC = gen.LoadSpec(cycles=5, events_per_cycle=200, n_keys=50, skew="zipf")


def test_generator_is_seeded_and_time_sliced():
    a, b = gen.generate(SPEC, 7), gen.generate(SPEC, 7)
    assert a.equals(b)
    assert not a.equals(gen.generate(SPEC, 8))
    assert a.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    ts = a["ts"].to_pandas()
    assert ts.is_monotonic_increasing
    for i in range(SPEC.cycles):
        lo, hi = gen.cycle_end(i - 1), gen.cycle_end(i)
        assert ((ts > lo) & (ts <= hi)).sum() == SPEC.events_per_cycle
    uniform = gen.generate(gen.LoadSpec(5, 200, 50, "uniform"), 7)

    def hottest(t: pa.Table) -> int:
        return int(t["key"].to_pandas().value_counts().iloc[0])

    # Zipf concentrates events on few keys; uniform spreads them
    assert hottest(a) > 2 * hottest(uniform)


def _engine_outputs(events: pa.Table):
    """Outputs a correct engine would produce, built without the oracle's
    code path: per-cycle totals and a served page from the raw events."""
    df = events.to_pandas()
    latest = df.sort_values("seq").drop_duplicates("key", keep="last")
    per_cycle = []
    for i in range(SPEC.cycles):
        part = df[(df["ts"] > gen.cycle_end(i - 1)) & (df["ts"] <= gen.cycle_end(i))]
        part = part[part["value"] >= THRESHOLD]
        per_cycle.append(
            [(k, len(g), int(g["value"].sum())) for k, g in part.groupby("kind")]
        )
    page = latest.sort_values(["value", "key"], ascending=[False, True]).head(100)
    return latest, per_cycle, pa.Table.from_pandas(page, preserve_index=False)


def test_oracle_accepts_correct_and_rejects_corrupted_outputs():
    events = gen.generate(SPEC, 3)
    want = oracle.expected(events)
    latest, per_cycle, page = _engine_outputs(events)
    assert oracle.check(want, latest, per_cycle, page, latest) == (4, [])
    assert oracle.check(want, latest, per_cycle, page) == (3, [])

    bad = latest.copy()
    bad.iloc[0, bad.columns.get_loc("value")] += 1
    assert oracle.check(want, bad, per_cycle, page)[1]
    assert oracle.check(want, latest, per_cycle, page, latest.iloc[1:])[1]
    assert oracle.check(want, latest, per_cycle[:-1], page)[1]
    assert oracle.check(want, latest, per_cycle, page.slice(1))[1]
    assert oracle.check(want, latest, per_cycle, None)[1]


def test_a_mismatch_reports_no_numbers_and_fails_the_run():
    res = PassResult(
        cycles=[Cycle(0.0, 1.0, 10, False), Cycle(1.0, 2.0, 10, False)],
        t_start=0.0, reads_ms=[1.0, 2.0, 3.0],
    )
    metrics = {"events_per_s": (10.0, "1/s")}
    clean = tally(res, {"checks": 3, "problems": []})
    assert clean == (0, 2 + 3 + 3)
    line, code = result(*clean, metrics)
    assert code == 0 and line["correct"] is True
    assert line["metrics"] == {"events_per_s": {"value": 10.0, "unit": "1/s"}}

    failed, attempted = tally(res, {"checks": 4, "problems": ["served page: 1 rows differ"]})
    assert (failed, attempted) == (1, 2 + 3 + 4)
    line, code = result(failed, attempted, metrics)
    assert code == 1 and line == {"correct": False, "attempted": 9, "failed": 1, "metrics": {}}


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail(list(range(40))) == (75, 30)
    assert tail([float(i) for i in range(200)]) == (95, 190.0)


def _drive(phases: Phases, cycle_s: float) -> int:
    """Run cycles until the phases stop; returns how many began."""
    begun = 0
    while (timed := phases.begin()) is not None:
        begun += 1
        start = time.perf_counter()
        time.sleep(cycle_s)
        phases.end(timed, start, 7)
    return begun


def test_phases_time_a_fixed_range_of_cycles_and_balance_tracing():
    phases = Phases(warmup=3, timed=8, seconds=60, tracer=Tracer())
    warm_end = time.perf_counter()
    assert _drive(phases, 0.002) == 3 + 8
    reader = SimpleNamespace(reads=[(warm_end - 1, 1.0, True), (phases.cycles[0].start, 2.0, False)])
    res = phases.result(reader, None)
    assert len(res.cycles) == 8 and res.events == 7 * 8
    assert res.t_start <= res.cycles[0].start and res.wall_s > 0
    # half the timed cycles are traced, on average as far into the run
    traced = [i for i, c in enumerate(res.cycles) if c.traced]
    assert traced == [1, 2, 5, 6]
    # reads outside the timed window are dropped
    assert res.reads_ms == [2.0] and res.read_failures == 1


def test_phases_seconds_cap_the_timed_cycles_but_keep_two():
    phases = Phases(warmup=1, timed=100, seconds=0.02, tracer=Tracer())
    _drive(phases, 0.015)
    assert 2 <= len(phases.cycles) < 100
    phases = Phases(warmup=0, timed=100, seconds=0.0, tracer=Tracer())
    _drive(phases, 0.0)
    assert len(phases.cycles) == 2


def test_inputs_hold_the_setup_cycle_and_the_window():
    for name, spec in SPECS.items():
        assert spec.cycles == 1 + sum(WINDOWS[name])


def test_gated_workloads_exist():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(SPECS)


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    bench = tmp_path / "enginebench"
    bench.mkdir()
    for f in (ROOT / "enginebench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    out = subprocess.run(
        [sys.executable, "enginebench/run.py", "--workload", "replay_tick", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
