"""SCD core tests: golden statuses for every change pattern, invariants,
idempotence (SURVEY.md §5 new-engine test strategy)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import scd
from tests.emp_fixture import HASH_COLS, emp_snapshots

KEY = ["employee_number"]
T = "snapshot_date"


@pytest.fixture(scope="module")
def employee_all(spark):
    df = scd.scd_apply(
        emp_snapshots(spark),
        key_cols=KEY,
        time_col=T,
        hash_cols=HASH_COLS,
    )
    df.cache()
    yield df
    df.unpersist()


def _status_map(df, emp):
    rows = (
        df.filter(F.col("employee_number") == emp)
        .select(T, "change_status", "changed_status_date")
        .collect()
    )
    return {r[0]: (r[1], r[2]) for r in rows}


def d(day):
    return dt.date(2020, 1, day)


def test_steady_state(employee_all):
    m = _status_map(employee_all, 1)
    assert m[d(1)] == ("New", d(1))
    for day in range(2, 11):
        assert m[d(day)] == ("No Change", d(1))


def test_persistent_change(employee_all):
    m = _status_map(employee_all, 13)
    assert m[d(1)] == ("New", d(1))
    assert m[d(2)] == ("Changed", d(2))
    # corrected islands partitioning: the change date is THIS entity's
    # island min, not polluted by other entities sharing a gap_grp
    # (the reference's committed output dates this 2020-01-01 — wrong;
    # SURVEY.md §2 #11)
    for day in range(3, 11):
        assert m[d(day)] == ("No Change", d(2))


def test_change_then_revert(employee_all):
    m = _status_map(employee_all, 15)
    assert m[d(2)] == ("Changed", d(2))
    assert m[d(3)] == ("Changed", d(3))  # revert = a change too
    assert m[d(4)] == ("No Change", d(3))
    assert m[d(6)] == ("Changed", d(6))
    assert m[d(7)] == ("Changed", d(7))
    assert m[d(10)] == ("No Change", d(7))


def test_delete(employee_all):
    m = _status_map(employee_all, 30)
    assert m[d(1)][0] == "New"
    assert m[d(2)][0] == "No Change"
    assert m[d(3)] == ("Deleted", d(3))
    assert len(m) == 3


def test_gap_invisible_by_default(employee_all):
    # emp 25: absent 01-04, back 01-05, gone after. Reference semantics:
    # the gap is invisible — 01-05 compares against the 01-03 hash
    # (No Change... but 01-05 is also the last row and predates the
    # global max ⇒ Deleted wins at the end).
    m = _status_map(employee_all, 25)
    assert m[d(3)][0] == "No Change"
    assert m[d(5)] == ("Deleted", d(5))
    assert d(4) not in m


def test_gap_as_delete_variant(spark):
    df = scd.scd_apply(
        emp_snapshots(spark),
        key_cols=KEY,
        time_col=T,
        hash_cols=HASH_COLS,
        treat_gap_as_delete=True,
    )
    m = _status_map(df, 25)
    assert m[d(3)][0] == "Deleted"  # row before the gap
    assert m[d(5)][0] in ("New", "Deleted")  # reappears AND ends early


def test_gap_as_delete_dates_reappearance(spark):
    """With gaps as deletes, a key that reappears opens a new run: its
    New row and the rows after it are dated by the reappearance, not by
    the run before the gap (which the Deleted row closed)."""
    snaps = spark.createDataFrame(
        [(1, d(1), "a"), (1, d(2), "a"), (1, d(4), "a"), (1, d(5), "a")]
        + [(2, d(day), "z") for day in range(1, 6)],
        "k int, t date, v string",
    )
    df = scd.scd_apply(snaps, ["k"], "t", ["v"], treat_gap_as_delete=True)
    got = sorted(
        (r["t"], r["change_status"], r["changed_status_date"])
        for r in df.filter(F.col("k") == 1).collect()
    )
    assert got == [
        (d(1), "New", d(1)),
        (d(2), "Deleted", d(2)),
        (d(4), "New", d(4)),
        (d(5), "No Change", d(4)),
    ]


def test_scd_merge_tree_timestamps_across_dst_fallback(spark, monkeypatch):
    """Two snapshot instants an hour apart that share one local wall
    time (01:30 on the US fall-back night) stay two snapshots: the
    result is the one a UTC process gets, whatever the driver's zone."""
    import time

    first, second = 1699162200, 1699165800  # 2023-11-05 05:30 / 06:30 UTC
    snaps = spark.createDataFrame(
        [(1, first, "a"), (1, second, "a"), (2, first, "b")],
        "k int, ts long, v string",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        out = scd.scd_merge_tree(snaps, ["k"], "ts", ["v"])
        got = sorted(
            (r["k"], r["change_status"], r["at"])
            for r in out.select(
                "k",
                "change_status",
                F.unix_timestamp("changed_status_date").alias("at"),
            ).collect()
        )
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == [(1, "No Change", first), (2, "Deleted", first)]


def test_duplicate_drop_is_noop(spark, employee_all):
    dup = scd.scd_apply(
        emp_snapshots(spark, duplicate_day=2),
        key_cols=KEY,
        time_col=T,
        hash_cols=HASH_COLS,
    )
    assert dup.count() == employee_all.count()
    a = {tuple(r) for r in employee_all.collect()}
    b = {tuple(r) for r in dup.collect()}
    assert a == b


def test_dedup_aligned_keeps_one_null_time_row(spark):
    """NULL is one more time value to the dedup: a key listed three
    times with no date keeps only its highest-tiebreak NULL row, as
    row_number()=1 per (key, time) does, and the SCD chain then sees
    one undated row instead of labelling repeats Changed."""
    from pyspark.sql import Window

    rows = [
        (1, None, "a", 10),
        (1, None, "b", 11),
        (1, None, "c", 12),
        (1, d(1), "a", 1),
        (1, d(1), "b", 2),
        (1, d(2), "b", 3),
        (2, None, "x", 5),
        (2, d(1), "x", 6),
    ]
    df = spark.createDataFrame(
        rows, f"employee_number int, {T} date, dept string, tb int"
    )
    got = sorted(
        map(tuple, scd.snapshot_dedup_aligned(df, KEY, T, ["tb"]).collect()),
        key=lambda r: (r[0], r[3]),
    )
    w = Window.partitionBy(*KEY, T).orderBy(F.col("tb").desc())
    expected = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
            .collect(),
        ),
        key=lambda r: (r[0], r[3]),
    )
    assert got == expected
    assert [r for r in got if r[0] == 1 and r[1] is None] == [
        (1, None, "c", 12)
    ]
    out = scd.scd_apply(
        df, key_cols=KEY, time_col=T, hash_cols=["dept"], tiebreak_cols=["tb"]
    )
    statuses = [
        r["change_status"]
        for r in out.filter(F.col("employee_number") == 1).collect()
    ]
    assert len(statuses) == 3
    assert statuses.count("Changed") <= 1


def test_invariants(employee_all):
    per_key = (
        employee_all.groupBy("employee_number")
        .agg(
            F.sum(F.when(F.col("change_status") == "New", 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("change_status") == "Deleted", 1).otherwise(0)).alias("n_del"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(T).alias("n_dates"),
        )
        .collect()
    )
    for r in per_key:
        assert r["n_new"] == 1
        assert r["n_del"] <= 1
        assert r["n"] == r["n_dates"]  # key (emp, date) unique
    statuses = {
        r[0] for r in employee_all.select("change_status").distinct().collect()
    }
    assert statuses <= {"New", "No Change", "Changed", "Deleted"}


def test_current_view(spark, employee_all):
    cur = scd.current_view(employee_all, KEY, T)
    rows = cur.collect()
    assert len(rows) == {r["employee_number"] for r in rows} .__len__()
    by_emp = {r["employee_number"]: r for r in rows}
    # deleted employees' last row survives into the current view,
    # stamped with the global max snapshot date
    assert by_emp[30]["change_status"] == "Deleted"
    assert by_emp[30]["snapshot_date"] == d(10)
    assert by_emp[13]["salary"] == 99_999


def test_scd_merge_matches_full_recompute(spark):
    """Incremental merge day-by-day ends at the same current view as the
    full windowed recompute (statuses compared on the final day)."""
    snaps = emp_snapshots(spark)
    full = scd.scd_apply(snaps, KEY, T, HASH_COLS)
    expected = {
        (r["employee_number"]): (r["change_status"], r["changed_status_date"])
        for r in scd.current_view(full, KEY, T, stamp_global_max=False).collect()
    }

    current = None
    for day in range(1, 11):
        day_df = snaps.filter(F.dayofmonth(T) == day)
        if current is None:
            current = scd.scd_bootstrap(day_df, KEY, T)
        else:
            current = scd.scd_merge(current, day_df, KEY, T, HASH_COLS)
        current = current.localCheckpoint()

    got = {
        r["employee_number"]: (r["change_status"], r["changed_status_date"])
        for r in current.collect()
    }
    assert set(got) == set(expected)
    for emp, (status, date) in expected.items():
        g_status, g_date = got[emp]
        # Merge path can't see pre-history islands; statuses must agree
        # on New/Deleted/No Change; Changed dates agree by construction.
        assert g_status == status, (emp, g_status, status)
        assert g_date == date, (emp, g_date, date)


def test_scd_merge_unmatched_and_repeated_keys(spark):
    """Merge rows as an equi-join on the key would pair them: a NULL
    key matches nothing (the current row is Deleted, the new one New),
    and a key listed twice in the drop yields one row per listing,
    each classified against the current row. Output columns and types
    follow the current view."""
    cur = spark.createDataFrame(
        [
            (1, d(1), "a", "New", d(1)),
            (2, d(1), "b", "New", d(1)),
            (3, d(1), "c", "Changed", d(1)),
            (None, d(1), "n", "New", d(1)),
            (5, d(1), "e", "No Change", d(1)),
        ],
        "k int, t date, v string, change_status string, "
        "changed_status_date date",
    )
    new = spark.createDataFrame(
        [
            (1, d(2), "a"),
            (2, d(2), "B"),
            (4, d(2), "d"),
            (None, d(2), "n"),
            (5, d(2), "e"),
            (5, d(2), "E"),
        ],
        "k int, t date, v string",
    )
    out = scd.scd_merge(cur, new, ["k"], "t", ["v"])
    assert out.schema.simpleString() == cur.schema.simpleString()
    got = sorted(map(tuple, out.collect()), key=str)
    assert got == sorted(
        [
            (1, d(2), "a", "No Change", d(1)),
            (2, d(2), "B", "Changed", d(2)),
            (3, d(1), "c", "Deleted", d(1)),
            (4, d(2), "d", "New", d(2)),
            (5, d(2), "E", "Changed", d(2)),
            (5, d(2), "e", "No Change", d(1)),
            (None, d(1), "n", "Deleted", d(1)),
            (None, d(2), "n", "New", d(2)),
        ],
        key=str,
    )


def test_schema_evolution_golden(spark):
    """A tracked column appears mid-history: union_snapshots_evolving
    backfills NULL, the hardened hash keeps fingerprints comparable
    across the boundary. Golden per-entity expectations:
      - emp 1: old values unchanged, new col NULL after drift
               -> NO spurious Changed at the boundary;
      - emp 2: old values unchanged, new col gets a value at drift
               -> Changed at the boundary, not before;
      - emp 3: NULL-shift probe — (dept=NULL, grade='x') vs
               (dept='x', grade=NULL) must differ (the concat_ws
               faithful hash would collide; hardened must not).
    """
    pre = spark.createDataFrame(
        [
            (1, d(1), "eng"),
            (1, d(2), "eng"),
            (2, d(1), "ops"),
            (2, d(2), "ops"),
            (3, d(1), None),
            (3, d(2), None),
        ],
        ["employee_number", T, "dept"],
    )
    post = spark.createDataFrame(
        [
            (1, d(3), "eng", None),
            (2, d(3), "ops", "senior"),
            (3, d(3), "x", None),
        ],
        ["employee_number", T, "dept", "grade"],
    )
    evolved = scd.union_snapshots_evolving(pre, post)
    assert set(evolved.columns) == {
        "employee_number", T, "dept", "grade"
    }
    out = scd.scd_apply(
        evolved,
        key_cols=KEY,
        time_col=T,
        hash_cols=["dept", "grade"],
        hardened_hash=True,
    )
    m1 = _status_map(out, 1)
    assert m1[d(2)][0] == "No Change"
    assert m1[d(3)][0] == "No Change"  # NULL backfill == NULL value
    m2 = _status_map(out, 2)
    assert m2[d(2)][0] == "No Change"
    assert m2[d(3)][0] == "Changed"  # new column got a real value
    assert m2[d(3)][1] == d(3)
    # emp 3 pre rows: (dept=NULL); at d(3): dept='x', grade=NULL —
    # with the faithful concat_ws hash both sides would emit 'x'…
    # here grade is a NEW column so pre-side grade is NULL too; the
    # drift row sets dept='x' (real change) — must be Changed
    m3 = _status_map(out, 3)
    assert m3[d(3)][0] == "Changed"


def test_schema_evolution_nullshift_distinct(spark):
    """The hardened hash distinguishes (a=NULL, b='x') from (a='x',
    b=NULL) — the exact NULL-shift collision the faithful concat_ws
    form cannot see (its docstring hazard, now load-bearing across
    drift boundaries where backfilled NULLs are routine)."""
    df = spark.createDataFrame(
        [(1, d(1), None, "x"), (1, d(2), "x", None)],
        ["employee_number", T, "a", "b"],
    )
    hashed = scd.with_row_hash(df, ["a", "b"], hardened=True)
    h = [r["row_hash"] for r in hashed.orderBy(T).collect()]
    assert h[0] != h[1]
    faithful = scd.with_row_hash(df, ["a", "b"], hardened=False)
    hf = [r["row_hash"] for r in faithful.orderBy(T).collect()]
    assert hf[0] == hf[1]  # documents WHY hardened is mandatory here
