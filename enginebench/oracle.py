"""Single-threaded pandas oracle for the shared DAG, and the output check.

The oracle recomputes from the delivered events alone what the engine's
outputs must be at the end of a pass: latest row per key, per-kind totals
of events at or above the threshold, and the served top-N page.
"""

from __future__ import annotations

import dataclasses

import pandas as pd
import pyarrow as pa

from enginebench.pipeline import THRESHOLD, TOP_N

COLUMNS = ["seq", "key", "kind", "value", "ts"]


@dataclasses.dataclass
class Expected:
    latest: pd.DataFrame  # one row per key, sorted by key
    totals: dict[str, tuple[int, int]]  # kind -> (count, sum of value)
    top: pd.DataFrame  # served page, in page order


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    """Columns in a fixed order, event time as int64 microseconds UTC."""
    out = df[COLUMNS].copy()
    ts = pd.to_datetime(out["ts"], utc=True)
    out["ts"] = ts.dt.tz_convert(None).astype("datetime64[us]").astype("int64")
    for c in ("seq", "key", "value"):
        out[c] = out[c].astype("int64")
    out["kind"] = out["kind"].astype(str)
    return out.reset_index(drop=True)


def _page(latest: pd.DataFrame) -> pd.DataFrame:
    return latest.sort_values(["value", "key"], ascending=[False, True]).head(TOP_N)


def expected(events: pa.Table) -> Expected:
    df = _normalise(events.to_pandas())
    latest = (
        df.sort_values("seq").groupby("key", sort=True).tail(1).sort_values("key")
    ).reset_index(drop=True)
    big = df[df["value"] >= THRESHOLD]
    agg = big.groupby("kind")["value"].agg(["size", "sum"])
    totals = {k: (int(r["size"]), int(r["sum"])) for k, r in agg.iterrows()}
    return Expected(latest, totals, _page(latest).reset_index(drop=True))


def _diff(name: str, want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    if len(want) != len(got):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = (want.values != got.values).any(axis=1)
    if bad.any():
        i = int(bad.argmax())
        return [
            f"{name}: {int(bad.sum())} rows differ, first at {i}: "
            f"got {got.iloc[i].tolist()}, expected {want.iloc[i].tolist()}"
        ]
    return []


def check(
    want: Expected,
    dag_latest: pd.DataFrame,
    totals_per_cycle: list[list[tuple[str, int, int]]],
    served: pa.Table | None,
    state_latest: pd.DataFrame | None = None,
) -> tuple[int, list[str]]:
    """(checks made, every mismatch between the engine's outputs and the
    oracle). The state table is checked only when it is given."""
    problems = []

    def latest_rows(df: pd.DataFrame) -> pd.DataFrame:
        return _normalise(df).sort_values("key").reset_index(drop=True)

    problems += _diff("dag latest", want.latest, latest_rows(dag_latest))
    if state_latest is not None:
        problems += _diff("state table", want.latest, latest_rows(state_latest))
    got_totals: dict[str, tuple[int, int]] = {}
    for rows in totals_per_cycle:
        for kind, n, total in rows:
            c, s = got_totals.get(kind, (0, 0))
            got_totals[kind] = (c + n, s + total)
    if got_totals != want.totals:
        problems.append(f"totals: got {got_totals}, expected {want.totals}")
    if served is None:
        problems.append("served page: no snapshot")
    else:
        problems += _diff("served page", want.top, _normalise(served.to_pandas()))
    return 3 + (state_latest is not None), problems
