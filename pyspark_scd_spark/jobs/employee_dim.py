"""The reference's end-to-end job, re-architected.

Reference flow (jobs/create_employee_all.py:226-251, README.md:43-79):
read prior employee_all output + new CSV drops → union+dedup → window
pipeline → validate → coalesce(1) CSV overwrite of the directory being
read → move inputs to processed/. Known failure: overwriting the input
of a lazy plan (README.md:109-112).

This version:
- ``spark`` is a parameter (reference wish-list, README.md:121-122);
- history is partitioned parquet, written via two-phase staged swap —
  the self-read-overwrite race cannot happen;
- the quality gates ride the writes: schema is a metadata check before
  any job runs, and the row gates (non-empty, no NULL or duplicate
  key) are metrics observed while the staging copy is written and
  checked before the swap — no gate runs a job of its own;
- every parquet read passes the profile schema, so Spark runs no
  footer-inference job;
- statuses and change dates recomputed per entity (the corrected
  islands: each row dated by the start of its own run);
- the latest snapshot date that ``Deleted`` is judged against is a
  driver-side literal: the latest of the history's ``snapshot_date=…``
  partition directories and the dates the pending drops are named
  after (``YYYY-MM-DD.csv``). The plan scans each input once and has
  no scalar branch. Names are only a hint: the staged write observes
  the true max, and when it differs the staging copy is discarded and
  the rebuild runs once more with the observed date, so the output
  never depends on the names;
- an incremental variant applies the day's snapshot against the
  current view only (scd_merge) — O(day) not O(history).
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import scd
from pyspark_scd_spark.operators.quality import (
    assert_schema,
    observed_write_metrics,
    validate,
)
from pyspark_scd_spark.profiles import (
    EMP_ALL_SCHEMA,
    TableProfile,
    employee_profiles,
)
from pyspark_scd_spark.sources.readers import read_csv_snapshots
from pyspark_scd_spark.sources.writers import archive_files, write_staged

KEY_COLS = ["employee_number"]
TIME_COL = "snapshot_date"
HASH_COLS = [
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


class _StaleLatest(Exception):
    """The latest snapshot date a plan judged ``Deleted`` against is not
    the max its write observed (``observed``)."""

    def __init__(self, observed: dt.date | None):
        super().__init__(f"latest snapshot date is {observed}")
        self.observed = observed


def _write_checked(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_by: tuple[str, ...] = (),
    then: Callable[[], None] | None = None,
) -> str:
    """Staged write with the row gates observed during the write and
    ``validate``d before the swap: a bad frame raises ``QualityError``
    with the committed output untouched, and no gate runs a job.
    ``then`` is a further check, run after the gates pass."""
    observed, obs = observed_write_metrics(df, keys)

    def check() -> None:
        validate(df, keys, observed=obs)
        if then is not None:
            then()

    return write_staged(observed, path, partition_by=partition_by, check=check)


def _named_date(path: str) -> dt.date | None:
    """The day a drop's file name says it holds, if it is named
    ``YYYY-MM-DD.csv``."""
    try:
        return dt.datetime.strptime(os.path.basename(path), "%Y-%m-%d.csv").date()
    except ValueError:
        return None


def _write_all(
    snapshots: DataFrame, latest: dt.date | None, profile: TableProfile
) -> dt.date:
    """Rebuild employee_all from ``snapshots``, judging ``Deleted``
    against the literal ``latest`` (None: the scalar max of the raw
    scan), and staged-write it. Returns the max snapshot date the
    write observed; raises ``_StaleLatest``, with the staging copy
    discarded, when that max is not ``latest``."""
    employee_all = scd.scd_apply(
        snapshots,
        key_cols=KEY_COLS,
        time_col=TIME_COL,
        hash_cols=HASH_COLS,
        global_max_source=None if latest is None else F.lit(latest),
    )
    # The write is the lineage's only consumer (the gates ride it), so
    # nothing is cached: the window pipeline runs exactly once. It also
    # observes the latest snapshot date, which checks ``latest`` and
    # stamps employee_current without a scalar-aggregate job of its own.
    assert_schema(employee_all, profile.schema)
    written = Observation()

    def same_latest() -> None:
        got = written.get[TIME_COL]
        if latest is not None and got != latest:
            raise _StaleLatest(got)

    _write_checked(
        employee_all.observe(written, F.max(TIME_COL).alias(TIME_COL)),
        profile.output_path,
        [TIME_COL, *KEY_COLS],
        partition_by=profile.partition_by,
        then=same_latest,
    )
    return written.get[TIME_COL]


def run(
    spark: SparkSession,
    base_dir: str,
    archive: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One pipeline run: ingest pending CSV drops, rebuild
    employee_all + employee_current, staged-write both, archive inputs.

    ``Deleted`` is judged against the latest of the history's date
    partitions and the dates the drops are named after. A drop whose
    name is not its date (or names no date) makes the write observe a
    different max; that copy is discarded and the rebuild runs once
    more against the observed max, so the outputs are the same either
    way and a misnamed drop costs one extra pipeline.

    Returns (employee_all, employee_current) DataFrames re-read from
    the committed outputs (so callers observe exactly what was
    persisted).
    """
    profiles = employee_profiles(base_dir)
    snap_profile = profiles["emp_snapshots"]
    all_profile = profiles["employee_all"]
    cur_profile = profiles["employee_current"]

    new_df, files = read_csv_snapshots(
        spark, snap_profile.input_path, snap_profile.schema
    )

    hist_path = all_profile.output_path
    dates = [d for d in map(_named_date, files) if d is not None]
    if os.path.isdir(hist_path):
        history = all_profile.read(spark).select(*snap_profile.schema.names)
        snapshots = scd.union_snapshots(history, new_df)
        dates += map(dt.date.fromisoformat, all_profile.partition_values())
    else:
        snapshots = new_df

    try:
        latest = _write_all(snapshots, max(dates, default=None), all_profile)
    except _StaleLatest as stale:
        latest = _write_all(snapshots, stale.observed, all_profile)

    employee_current = scd.current_view(
        all_profile.read(spark), KEY_COLS, TIME_COL, stamp_global_max=False
    ).withColumn(TIME_COL, F.lit(latest))
    _write_checked(employee_current, cur_profile.output_path, KEY_COLS)

    if archive and files:
        archive_files(files, snap_profile.output_path)

    return all_profile.read(spark), cur_profile.read(spark)


def run_incremental(
    spark: SparkSession,
    day_snapshot: DataFrame,
    current_path: str,
) -> DataFrame:
    """Incremental daily apply: merge one day against the current view
    (the 100 TB path — history is append-only elsewhere)."""
    if os.path.isdir(current_path):
        current = spark.read.schema(EMP_ALL_SCHEMA).parquet(current_path)
        new_current = scd.scd_merge(
            current, day_snapshot, KEY_COLS, TIME_COL, HASH_COLS
        )
    else:
        new_current = scd.scd_bootstrap(day_snapshot, KEY_COLS, TIME_COL)
    _write_checked(new_current, current_path, KEY_COLS)
    return spark.read.schema(EMP_ALL_SCHEMA).parquet(current_path)
