"""Property-based SCD test: scd_apply must agree with an independent
pure-Python reference model on arbitrary snapshot histories.

The model re-states the reference semantics (reference
jobs/create_employee_all.py:128-150, with the corrected per-entity
islands): CASE order New > Deleted > Changed > No Change; Deleted on
an entity's last row when it predates the global max; change date =
island start, Deleted rows carry their own date.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_scd_spark.operators import scd

BASE = dt.date(2021, 6, 1)


def python_scd_model(obs: dict[tuple[int, int], str]):
    """obs: (entity, day) -> value. Returns (entity, day) ->
    (status, change_day)."""
    if not obs:
        return {}
    global_max = max(d for _, d in obs)
    out = {}
    entities = {e for e, _ in obs}
    for e in sorted(entities):
        rows = sorted((d, v) for (ee, d), v in obs.items() if ee == e)
        # islands: contiguous runs of equal value in row order
        island_start = {}
        for i, (d, v) in enumerate(rows):
            if i > 0 and rows[i - 1][1] == v:
                island_start[d] = island_start[rows[i - 1][0]]
            else:
                island_start[d] = d
        for i, (d, v) in enumerate(rows):
            last = i == len(rows) - 1
            if i == 0:
                status = "New"
            elif last and rows[-1][0] != global_max:
                status = "Deleted"
            elif v != rows[i - 1][1]:
                status = "Changed"
            else:
                status = "No Change"
            change_day = d if status == "Deleted" else island_start[d]
            out[(e, d)] = (status, change_day)
    return out


@st.composite
def histories(draw):
    n_entities = draw(st.integers(1, 4))
    n_days = draw(st.integers(1, 6))
    obs = {}
    for e in range(n_entities):
        for d in range(n_days):
            present = draw(st.booleans())
            if present:
                obs[(e, d)] = draw(st.sampled_from(["a", "b", "c"]))
    return obs


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(obs=histories())
def test_scd_apply_matches_model(spark, obs):
    if not obs:
        return
    rows = [
        (e, BASE + dt.timedelta(days=d), v) for (e, d), v in obs.items()
    ]
    df = spark.createDataFrame(rows, ["entity", "snap_date", "val"])
    got = {
        (r["entity"], (r["snap_date"] - BASE).days): (
            r["change_status"],
            (r["changed_status_date"] - BASE).days,
        )
        for r in scd.scd_apply(
            df, key_cols=["entity"], time_col="snap_date", hash_cols=["val"]
        ).collect()
    }
    want = python_scd_model(obs)
    assert got == want


def python_merge_model(obs: dict[tuple[int, int], str], days: list[int]):
    """Day-by-day merge fold semantics (scd_merge): state per entity =
    (time, value_or_None, status, date). Gap handling differs from the
    window model by design: absence marks Deleted immediately and the
    change date tracks merge state, not pre-gap islands."""
    state: dict[int, tuple] = {}
    for i, day in enumerate(days):
        today = {e: v for (e, d), v in obs.items() if d == day}
        if i == 0:
            for e, v in today.items():
                state[e] = (day, v, "New", day)
            continue
        for e in set(state) | set(today):
            if e not in state:
                state[e] = (day, today[e], "New", day)
            elif e not in today:
                t, v, st, dt = state[e]
                state[e] = (t, v, "Deleted", t)
            else:
                t, v, st, dt = state[e]
                nv = today[e]
                if nv != v:
                    state[e] = (day, nv, "Changed", day)
                else:
                    state[e] = (day, nv, "No Change", dt)
    return {e: (st, dt) for e, (t, v, st, dt) in state.items()}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(obs=histories())
def test_scd_merge_fold_matches_merge_model(spark, obs):
    """The scd_merge fold must implement exactly the merge-state
    semantics (which legitimately diverge from the windowed rebuild on
    gap patterns — documented in scd_merge's docstring)."""
    if not obs:
        return
    days = sorted({d for _, d in obs})
    current = None
    for day in days:
        rows = [
            (e, BASE + dt.timedelta(days=dd), v)
            for (e, dd), v in obs.items()
            if dd == day
        ]
        day_df = spark.createDataFrame(rows, ["entity", "snap_date", "val"])
        if current is None:
            current = scd.scd_bootstrap(day_df, ["entity"], "snap_date")
        else:
            current = scd.scd_merge(
                current, day_df, ["entity"], "snap_date", ["val"]
            )
        current = current.localCheckpoint()
    got = {
        r["entity"]: (r["change_status"], (r["changed_status_date"] - BASE).days)
        for r in current.collect()
    }
    want = python_merge_model(obs, days)
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(obs=histories())
def test_scd_merge_tree_matches_merge_model(spark, obs):
    """The fold's closed form on one key window must equal the
    day-by-day merge fold on arbitrary gap / revert / delete patterns
    — same model, same semantics, no serial chain of merges."""
    if not obs:
        return
    rows = [
        (e, BASE + dt.timedelta(days=dd), v)
        for (e, dd), v in obs.items()
    ]
    snaps = spark.createDataFrame(rows, ["entity", "snap_date", "val"])
    got = {
        r["entity"]: (
            r["change_status"],
            (r["changed_status_date"] - BASE).days,
        )
        for r in scd.scd_merge_tree(
            snaps, ["entity"], "snap_date", ["val"]
        ).collect()
    }
    want = python_merge_model(obs, sorted({d for _, d in obs}))
    assert got == want
