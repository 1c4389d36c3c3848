"""End-to-end tests of the employee-dimension job: CSV drops in,
partitioned parquet out, incremental runs, idempotence, archiving —
the reference's full workflow (README.md:43-79) minus its failure
modes."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.jobs import employee_dim
from pyspark_scd_spark.operators import scd
from tests.emp_fixture import HASH_COLS, build_rows


def _write_csvs(base_dir: str, days) -> None:
    os.makedirs(f"{base_dir}/input", exist_ok=True)
    rows = [r for r in build_rows() if r["snapshot_date"].day in days]
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r["snapshot_date"], []).append(r)
    cols = [
        "snapshot_date",
        "employee_number",
        "status",
        "first_name",
        "last_name",
        "gender",
        "email",
        "phone_number",
        "salary",
        "termination_date",
    ]
    for day, day_rows in by_day.items():
        path = f"{base_dir}/input/{day.isoformat()}.csv"
        with open(path, "w") as f:
            f.write(",".join(cols) + "\n")
            for r in day_rows:
                vals = []
                for c in cols:
                    v = r[c]
                    vals.append("NULL" if v is None else str(v))
                f.write(",".join(vals) + "\n")


def test_full_job_two_runs(spark, tmp_path):
    base = str(tmp_path / "scd")

    # run 1: days 1-5
    _write_csvs(base, days=range(1, 6))
    all1, cur1 = employee_dim.run(spark, base)
    assert all1.count() > 0
    # inputs archived
    assert not [
        f for f in os.listdir(f"{base}/input") if f.endswith(".csv")
    ]
    assert os.listdir(f"{base}/input/processed")

    # run 2: days 6-10 dropped later — accumulate against prior output
    _write_csvs(base, days=range(6, 11))
    all2, cur2 = employee_dim.run(spark, base)

    # equivalence with a single full recompute over all 10 days
    from tests.emp_fixture import emp_snapshots

    expected = scd.scd_apply(
        emp_snapshots(spark),
        key_cols=["employee_number"],
        time_col="snapshot_date",
        hash_cols=HASH_COLS,
    )
    got = {
        (r["employee_number"], r["snapshot_date"]): (
            r["change_status"],
            r["changed_status_date"],
        )
        for r in all2.collect()
    }
    want = {
        (r["employee_number"], r["snapshot_date"]): (
            r["change_status"],
            r["changed_status_date"],
        )
        for r in expected.collect()
    }
    assert got == want
    n2 = all2.count()  # consume before run 3 overwrites the files:
    # a DataFrame handle from before a swap is stale by design

    # run 3: no new files — idempotent
    all3, cur3 = employee_dim.run(spark, base)
    assert all3.count() == n2

    # current view: one row per employee, deleted employees retained
    cur_rows = {r["employee_number"]: r for r in cur3.collect()}
    assert cur_rows[30]["change_status"] == "Deleted"
    assert cur_rows[13]["salary"] == 99_999
    assert cur3.count() == cur3.select("employee_number").distinct().count()
    # every current row carries the latest snapshot date
    assert {r["snapshot_date"] for r in cur_rows.values()} == {
        dt.date(2020, 1, 10)
    }

    # history is partitioned by snapshot_date on disk
    parts = [
        d
        for d in os.listdir(f"{base}/output/employee_all")
        if d.startswith("snapshot_date=")
    ]
    assert len(parts) == 10


def test_incremental_merge_job(spark, tmp_path):
    from tests.emp_fixture import emp_snapshots

    cur_path = str(tmp_path / "cur")
    snaps = emp_snapshots(spark)
    for day in range(1, 11):
        day_df = snaps.filter(F.dayofmonth("snapshot_date") == day)
        cur = employee_dim.run_incremental(spark, day_df, cur_path)
    final = {r["employee_number"]: r["change_status"] for r in cur.collect()}
    assert final[30] == "Deleted"
    assert final[1] == "No Change"


def test_validate_blocks_bad_output(spark, tmp_path):
    """Quality gate: duplicate keys abort before anything is written."""
    import pyspark.sql.functions as F2

    from pyspark_scd_spark.operators.quality import QualityError, validate
    from tests.emp_fixture import emp_snapshots

    dup = emp_snapshots(spark)
    dup = dup.unionByName(dup.limit(5))
    with pytest.raises(QualityError, match="duplicate keys"):
        validate(dup, ["snapshot_date", "employee_number"])
    _ = F2


def test_failfast_rejects_malformed_csv(spark, tmp_path):
    """FAILFAST schema enforcement: a malformed row aborts the read
    instead of silently nulling (reference convention,
    jobs/create_employee_all.py:40-47)."""
    from pyspark_scd_spark.profiles import EMP_SNAPSHOT_SCHEMA
    from pyspark_scd_spark.sources.readers import read_csv_snapshots

    bad = tmp_path / "2020-01-01.csv"
    bad.write_text(
        "snapshot_date,employee_number,status,first_name,last_name,"
        "gender,email,phone_number,salary,termination_date\n"
        "2020-01-01,not_a_number,Active,A,B,F,a@b.c,000,50000,NULL\n"
    )
    df, files = read_csv_snapshots(
        spark, str(tmp_path / "*.csv"), EMP_SNAPSHOT_SCHEMA
    )
    assert files
    with pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord"):
        df.collect()


def test_write_staged_recovers_from_stale_staging(spark, tmp_path):
    """A crash between stage and swap leaves <path>.__staging__ behind;
    the next run must overwrite it and commit cleanly."""
    import os

    from pyspark_scd_spark.sources.writers import write_staged

    path = str(tmp_path / "out")
    os.makedirs(f"{path}.__staging__")
    with open(f"{path}.__staging__/garbage.txt", "w") as f:
        f.write("leftover from a crashed run")

    df = spark.range(0, 10).withColumnRenamed("id", "k")
    write_staged(df, path)
    assert spark.read.parquet(path).count() == 10
    assert not os.path.exists(f"{path}.__staging__")
    assert not os.path.exists(f"{path}.__old__")


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _second_run_base(spark, tmp_path) -> str:
    """A job directory after run 1 (days 1-5) with days 6-10 pending,
    so the next run reads history."""
    base = str(tmp_path / "scd")
    _write_csvs(base, days=range(1, 6))
    employee_dim.run(spark, base)
    _write_csvs(base, days=range(6, 11))
    return base


# Jobs per call, measured with the gates riding the writes and every
# parquet read given its schema. A pre-write validation pass or a
# footer-inference read brings back jobs and fails these bounds.
RUN_JOB_BUDGET = 7
RUN_INCREMENTAL_JOB_BUDGET = 4


def test_job_budget(spark, tmp_path):
    """Jobs of a run that reads history (the second over the 10-day
    fixture) and of an incremental merge onto an existing view."""
    from tests.emp_fixture import emp_snapshots

    base = _second_run_base(spark, tmp_path)
    n_run = _jobs_of(spark, lambda: employee_dim.run(spark, base))

    cur_path = str(tmp_path / "cur")
    snaps = emp_snapshots(spark)
    for day in range(1, 10):
        employee_dim.run_incremental(
            spark, snaps.filter(F.dayofmonth("snapshot_date") == day), cur_path
        )
    last = snaps.filter(F.dayofmonth("snapshot_date") == 10)
    n_inc = _jobs_of(
        spark, lambda: employee_dim.run_incremental(spark, last, cur_path)
    )
    assert n_run <= RUN_JOB_BUDGET, n_run
    assert n_inc <= RUN_INCREMENTAL_JOB_BUDGET, n_inc


def _bad_all(kind: str):
    """A corruption of scd_apply's output that one gate must reject."""
    real = scd.scd_apply

    def bad(*args, **kwargs):
        df = real(*args, **kwargs)
        if kind == "schema":
            return df.withColumn("salary", F.col("salary").cast("long"))
        if kind == "empty":
            return df.filter(F.lit(False))
        if kind == "duplicate":
            return df.unionByName(df.limit(1))
        null_row = df.limit(1).withColumn(
            "employee_number", F.lit(None).cast("int")
        )
        return df.unionByName(null_row)

    return bad


@pytest.mark.parametrize(
    "kind, message",
    [
        ("schema", "schema mismatch"),
        ("empty", "0 records"),
        ("duplicate", "duplicate keys"),
        ("null_key", "NULL keys"),
    ],
)
def test_run_gates_reject(spark, tmp_path, monkeypatch, kind, message):
    """Each gate stops the run: committed outputs stay byte-identical,
    no staging copy is left and the pending drops are not archived. The
    schema gate fails before any Spark job runs."""
    from pyspark_scd_spark.operators.quality import QualityError
    from tests.test_quality_gate import _tree_bytes

    base = _second_run_base(spark, tmp_path)
    before = _tree_bytes(f"{base}/output")
    pending = sorted(os.listdir(f"{base}/input"))

    monkeypatch.setattr(scd, "scd_apply", _bad_all(kind))

    def attempt():
        with pytest.raises(QualityError, match=message):
            employee_dim.run(spark, base)

    n_jobs = _jobs_of(spark, attempt)
    assert _tree_bytes(f"{base}/output") == before
    assert sorted(os.listdir(f"{base}/input")) == pending
    assert not [p for p in os.listdir(f"{base}/output") if "__" in p]
    if kind == "schema":
        assert n_jobs == 0
