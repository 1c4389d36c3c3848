"""Slowly-changing-dimension operators, generalized and scale-hardened.

The reference computes an SCD history (``employee_all``) and a current
view (``employee_current``) from daily full snapshots using only window
functions (reference jobs/create_employee_all.py:51-150, README.md:99).
This module re-implements that semantic surface as pure, parameterized
DataFrame transforms — ``key_cols`` / ``time_col`` / ``hash_cols`` are
arguments, not hardcoded employee columns — with the reference's known
scale hazards engineered out:

- global max computed via ``agg(max)`` + broadcast cross-join instead of
  a ``partitionBy(lit(1))`` window that funnels every row through one
  task (reference jobs/create_employee_all.py:58,63,118,127). The max
  comes from a separate scalar source, by default the raw pre-dedup
  scan; ``scd_apply(global_max_source=...)`` lets a caller that knows
  the latest time on the driver (the daily job, from its history's
  date partitions and its drops' file names) pass it as a Column,
  which stamps every row in one projection with no scalar branch;
- each row's change date is the start of its run of equal fingerprints
  within its own entity, read off the same ordered key window as the
  status (``last`` run-opening date, ignoring NULLs): the dates of
  per-entity ``gap_grp`` islands. The reference partitions its island
  window by ``gap_grp`` alone, which collapses islands of different
  entities into one group and is empirically wrong on its own
  committed output (SURVEY.md §2 #11; reference
  jobs/create_employee_all.py:138);
- deterministic dedup tie-break (the reference's survivor among true
  duplicates is arbitrary, reference jobs/create_employee_all.py:74);
- ``unionByName`` instead of positional ``unionAll`` (reference
  jobs/create_employee_all.py:77-78).

Every window here partitions by the entity key, so the work distributes
across executors by key hash — the plan shape survives a 100 TB input
as long as no single entity's history is pathological.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_scd_spark.functions.text import _q

# Status vocabulary, verbatim from the reference (README.md:34-41,
# jobs/create_employee_all.py:128-134).
STATUS_NEW = "New"
STATUS_NO_CHANGE = "No Change"
STATUS_CHANGED = "Changed"
STATUS_DELETED = "Deleted"


def with_row_hash(
    df: DataFrame,
    hash_cols: Sequence[str],
    out_col: str = "row_hash",
    hardened: bool = False,
) -> DataFrame:
    """Per-row change-detection fingerprint.

    Faithful form: ``sha2(concat_ws("||", cols), 256)`` as in reference
    jobs/create_employee_all.py:99-109, including its two documented
    hazards (``concat_ws`` skips NULLs → NULL-shift collisions; a value
    containing the delimiter can collide across a column boundary).

    ``hardened=True`` switches to ``sha2(to_json(struct(cols)), 256)``:
    NULLs and delimiters are unambiguous because each value is a quoted,
    keyed JSON field. Use this form for new pipelines; the faithful form
    exists for parity with the reference and for the DuckDB oracle
    (``sha256(concat_ws(...))`` matches bit-for-bit on string/int input).

    Either form is one parsed SQL expression over backtick-quoted
    names: one py4j round trip however many columns are hashed.
    """
    cols = ", ".join(_q(c) for c in hash_cols)
    body = f"to_json(struct({cols}))" if hardened else f"concat_ws('||', {cols})"
    return df.withColumn(out_col, F.expr(f"sha2({body}, 256)"))


def snapshot_dedup_aligned(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    tiebreak_cols: Sequence[str],
) -> DataFrame:
    """Dedup to one row per (key, time) WITHOUT leaving the per-key
    partitioning.

    A ``row_number()`` window (or ``dropDuplicates``) on (key, time)
    clusters by hash(key, time) — an exchange the downstream SCD
    windows (partitioned by key alone) cannot reuse, so the pipeline
    pays two shuffles. Here rows are sorted (time ASC, tiebreaks DESC)
    inside the per-KEY window and a row survives iff it opens its
    time-run: it is the key's first row, or ``NOT (lag(time) <=>
    time)``. That is the survivor of row_number()=1 per (key, time)
    ordered by tiebreaks DESC — a NULL time is one more run, so a
    key's NULL-time rows keep one row too — but the single hash(key)
    exchange now serves every later window (Spark satisfies a
    required (key) clustering and (key, time) sort prefix from it).
    One shuffle for the whole SCD pipeline instead of two.

    The survivor is the row whose ``tiebreak_cols`` tuple sorts
    highest (DESC puts NULL lowest); among rows that tie on every
    tiebreak column it is arbitrary.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(time_col).asc(),
        *[F.col(c).desc() for c in tiebreak_cols],
    )
    # lag of a non-NULL literal is NULL on the key's first row only
    first = F.lag(F.lit(1)).over(w).isNull()
    new_run = ~F.lag(time_col).over(w).eqNullSafe(F.col(time_col))
    return (
        df.withColumn("__keep", first | new_run)
        .filter("__keep")
        .drop("__keep")
    )


def union_snapshots(history: DataFrame, new_rows: DataFrame) -> DataFrame:
    """Append new snapshot rows to accumulated history, by column NAME.

    The reference aligns column order by projection then uses positional
    ``unionAll`` (reference jobs/create_employee_all.py:77-78) — silent
    corruption if the order ever drifts. ``unionByName`` makes the match
    explicit and fails fast on a missing column.
    """
    return history.unionByName(new_rows, allowMissingColumns=False)


def union_snapshots_evolving(
    history: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """Schema-drift-tolerant append: a column newly appearing in (or
    dropped from) a snapshot feed unions by NAME with NULL backfill on
    the side that lacks it — the most common real-world SCD event the
    reference silently corrupts (positional unionAll, reference
    jobs/create_employee_all.py:77-78: a new column would shift every
    later column one slot).

    Hash-columns policy: after an evolving union, compute the row
    fingerprint over the EVOLVED column set with
    ``with_row_hash(hardened=True)``. The hardened form
    (sha2(to_json(struct))) omits null fields from the JSON, so a
    pre-drift row (new column backfilled NULL) hashes identically to
    a post-drift row whose new column is also NULL — no spurious
    'Changed' wall at the drift boundary — while any real value in
    the new column changes the fingerprint exactly like a tracked-
    attribute edit. The faithful concat_ws hash must NOT be used
    across a drift boundary: concat_ws skips NULLs, so it cannot
    distinguish (NULL, 'x') from ('x', NULL) shifts.
    """
    return history.unionByName(new_rows, allowMissingColumns=True)


def _with_global_max(
    df: DataFrame,
    time_col: str,
    out_col: str,
    scalar_source: DataFrame | Column | None = None,
) -> DataFrame:
    """Stamp the dataset-global max of ``time_col`` onto every row.

    Replaces the reference's ``max(t) over (partition by lit(1))``
    (reference jobs/create_employee_all.py:118,127 and :58,63), which
    shuffles the entire dataset into a single task. ``agg(max)``
    aggregates map-side down to one row per partition, and the broadcast
    cross-join adds the scalar to every row with no shuffle at all —
    Catalyst plans a BroadcastNestedLoopJoin over a 1-row table.

    ``scalar_source``: optional cheaper lineage with the same max — the
    scalar branch is a separate plan subtree, so pointing it at the raw
    pre-dedup scan (``scd_apply``'s default) avoids re-running the
    dedup/hash stages just to take a max. A Column (typically a
    literal the caller already knows) is the max itself: it is stamped
    in one projection, with no scalar branch, no aggregate and no
    broadcast join.
    """
    if isinstance(scalar_source, Column):
        return df.withColumn(out_col, scalar_source)
    src = scalar_source if scalar_source is not None else df
    scalar = src.agg(F.max(time_col).alias(out_col))
    return df.crossJoin(F.broadcast(scalar))


def _with_date_rank(
    df: DataFrame, time_col: str, source: DataFrame | None = None
) -> DataFrame:
    """Add ``__t_rank`` (the rank of the row's ``time_col`` among the
    distinct snapshot times, from 1) and ``__t_count`` (how many
    distinct times there are): a jump of more than one rank between an
    entity's consecutive rows marks a gap, and ``__t_rank =
    __t_count`` marks the latest snapshot.

    The rank window is global but runs over one row per snapshot, not
    per data row, and its result is broadcast back, so it is not a
    scale hazard; no time value makes a round trip through the driver.

    ``source``: optional cheaper lineage with the same distinct times
    (the raw pre-dedup scan) — without it the rank branch re-runs
    ``df``'s dedup and its key exchange just to list the times.
    """
    w = Window.orderBy(time_col)
    every = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    src = source if source is not None else df
    ranks = src.select(time_col).distinct().select(
        time_col,
        F.row_number().over(w).alias("__t_rank"),
        F.count(F.lit(1)).over(every).alias("__t_count"),
    )
    return df.join(F.broadcast(ranks), on=time_col, how="left")


def _with_runs(
    df: DataFrame,
    w: Window,
    time_col: str,
    *more: Column,
    gaps_open_at: Column | None = None,
) -> DataFrame:
    """Add ``__prev_hash`` (``lag`` of ``row_hash`` over the key window
    ``w``) and ``__run_start``: ``time_col`` of the first row of the
    row's run of equal fingerprints. ``more`` are further columns over
    the same window level.

    A row opens a run when it is the key's first row or its fingerprint
    differs from the previous row's (fingerprints are never NULL, so a
    NULL ``__prev_hash`` marks the first row); every row carries the
    last opening time at or before it. These are the dates of the
    reference's ``min(t)`` over per-entity ``gap_grp`` islands
    (reference jobs/create_employee_all.py:136-150), from the one
    ordered key window instead of three more sorts.

    Without ``gaps_open_at`` a gap is invisible. With it, a row after a
    gap (``__gap_before``: the key missed a snapshot, by the
    ``__t_rank`` that ``_with_date_rank`` added to ``df``) also opens a
    run, dated ``gaps_open_at`` unless its fingerprint changed.
    """
    prev = F.col("__prev_hash")
    opens = F.when(prev.isNull() | (prev != F.col("row_hash")), F.col(time_col))
    if gaps_open_at is not None:
        rank = F.col("__t_rank")
        more += (((rank - F.lag(rank).over(w)) > 1).alias("__gap_before"),)
        opens = F.coalesce(opens, F.when(F.col("__gap_before"), gaps_open_at))
    upto_row = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "*", F.lag("row_hash").over(w).alias("__prev_hash"), *more
    ).withColumn("__run_start", F.last(opens, ignorenulls=True).over(upto_row))


def with_change_status(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    treat_gap_as_delete: bool = False,
    global_max_source: DataFrame | Column | None = None,
) -> DataFrame:
    """Classify every snapshot row as New / Changed / No Change / Deleted
    (``change_status``) and date when that status took effect
    (``changed_status_date``), from ``row_hash`` fingerprints.

    Semantics per reference jobs/create_employee_all.py:111-150:
    - ``New``      : the entity's earliest snapshot row (wins over all);
    - ``Deleted``  : the entity's latest row, when that row predates the
                     dataset-global latest snapshot (entity dropped out);
    - ``Changed``  : fingerprint differs from the previous snapshot row;
    - ``No Change``: fingerprint equals the previous row's.

    ``changed_status_date`` is the row's own date on ``Deleted`` rows
    and otherwise the start of its run of equal fingerprints
    (``_with_runs``) — the reference's gaps-and-islands date, with the
    islands kept per entity (the reference partitions its island
    window by ``gap_grp`` alone, reference
    jobs/create_employee_all.py:138, which merges islands across
    entities; its own committed output shows the wrong dates, e.g.
    emp 13's 2020-01-02 salary change dated 2020-01-01 — SURVEY.md §2
    #11).

    A gap followed by reappearance compares against the pre-gap
    fingerprint — the gap itself is invisible (reference behavior,
    SURVEY.md §2 #10). ``treat_gap_as_delete=True`` additionally marks
    the row *before* a gap as ``Deleted`` and the reappearance row as
    ``New``, opening a run dated by the reappearance (an extension; off
    by default for parity). Gaps and the latest snapshot are then read
    off snapshot ranks (``_with_date_rank``) instead of the global max.

    ``global_max_source``: optional cheaper lineage for the scalar
    branch. It must hold the same latest ``time_col`` as ``df`` and, in
    gap mode (where it feeds the ranks), the same distinct times.
    Outside gap mode it may also be a Column holding that latest time
    (a literal): the plan then has no scalar branch at all.

    Everything comes from ONE ``partitionBy(key).orderBy(time)``
    window: first and last rows are where ``lag`` / ``lead`` of the
    (never NULL) fingerprint is NULL, so the plan sorts once per key
    partition.
    """
    cols = df.columns
    w = Window.partitionBy(*key_cols).orderBy(time_col)
    t = F.col(time_col)
    is_last = F.lead("row_hash").over(w).isNull().alias("__is_last")
    if treat_gap_as_delete:
        rank = F.col("__t_rank")
        gap_after = (F.lead(rank).over(w) - rank) > 1
        df = _with_runs(
            _with_date_rank(df, time_col, global_max_source),
            w,
            time_col,
            is_last,
            gap_after.alias("__gap_after"),
            gaps_open_at=t,
        )
        at_latest = rank == F.col("__t_count")
    else:
        df = _with_global_max(
            _with_runs(df, w, time_col, is_last),
            time_col,
            "__global_max_t",
            scalar_source=global_max_source,
        )
        at_latest = t == F.col("__global_max_t")

    is_new = F.col("__prev_hash").isNull()
    deleted = F.col("__is_last") & ~at_latest
    if treat_gap_as_delete:
        is_new = is_new | F.col("__gap_before")
        deleted = F.col("__gap_after") | deleted
    deleted = ~is_new & deleted
    status = (
        F.when(is_new, F.lit(STATUS_NEW))
        .when(deleted, F.lit(STATUS_DELETED))
        .when(F.col("__prev_hash") != F.col("row_hash"), F.lit(STATUS_CHANGED))
        .otherwise(F.lit(STATUS_NO_CHANGE))
    )
    return df.select(
        *cols,
        status.alias("change_status"),
        F.when(deleted, t)
        .otherwise(F.col("__run_start"))
        .alias("changed_status_date"),
    )


def current_view(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    stamp_global_max: bool = True,
    global_max_source: DataFrame | Column | None = None,
) -> DataFrame:
    """Latest row per entity (the SCD Type-1 "current" table).

    Keeps entities whose latest status is ``Deleted`` — their last-seen
    row survives, matching the reference's committed current view
    (reference jobs/create_employee_all.py:51-66; SURVEY.md §2 #13).

    ``stamp_global_max=True`` overwrites ``time_col`` with the global
    max snapshot date on every row (reference behavior, :58,63) via the
    broadcast-scalar pattern, not a single-partition window.

    ``global_max_source``: cheaper lineage with the same max — without
    it the scalar branch re-executes ``df``'s whole upstream pipeline
    just to take one max (observed: the SCD window chain ran twice).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(time_col).desc())
    latest = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if stamp_global_max:
        latest = _with_global_max(
            latest, time_col, "__stamp", scalar_source=global_max_source
        )
        latest = latest.withColumn(time_col, F.col("__stamp")).drop("__stamp")
    return latest


def scd_apply(
    snapshots: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    hash_cols: Sequence[str],
    tiebreak_cols: Sequence[str] = (),
    hardened_hash: bool = False,
    treat_gap_as_delete: bool = False,
    global_max_source: DataFrame | Column | None = None,
) -> DataFrame:
    """The full ``employee_all`` pipeline as one transform chain
    (reference jobs/create_employee_all.py:236-240): dedup → hash →
    status and change date → the input columns plus ``change_status``
    and ``changed_status_date``.

    Dedup keeps one row per (key, ``time_col``): the row whose
    ``tiebreak_cols`` tuple sorts highest (descending, NULL lowest).
    With no ``tiebreak_cols`` the fingerprint columns break the tie
    the same way — among rows listed twice for one key and date, the
    one whose ``hash_cols`` tuple sorts highest survives — so a drop
    that disagrees with itself still yields a deterministic history.
    Exact re-drops (reference README.md:87) are the common case and
    collapse to their single distinct row.

    Plan shape: ONE hash exchange on ``key_cols`` and ONE sort feed the
    dedup and the status / run-start windows (partition-aligned dedup
    + a prefix-compatible key window). The global-max scalar (or, with
    ``treat_gap_as_delete``, the snapshot ranks) comes from
    ``global_max_source``, by default the raw pre-dedup scan's
    ``time_col``, so its branch is scan+agg only. A caller that knows
    the latest time on the driver passes it as a Column (outside gap
    mode): the daily job reads it off its history's date partitions
    and its drops' file names, so the plan scans each input once and
    has no scalar branch. In gap mode the source must be a frame
    holding every distinct time.
    """
    df = snapshot_dedup_aligned(
        snapshots, key_cols, time_col, tiebreak_cols or hash_cols
    )
    df = with_row_hash(df, hash_cols, hardened=hardened_hash)
    df = with_change_status(
        df,
        key_cols,
        time_col,
        treat_gap_as_delete=treat_gap_as_delete,
        global_max_source=(
            global_max_source
            if global_max_source is not None
            else snapshots.select(time_col)
        ),
    )
    return df.select(
        *snapshots.columns, "change_status", "changed_status_date"
    )


def scd_bootstrap(
    first_snapshot: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
) -> DataFrame:
    """Initial current view from the first snapshot: everything is New."""
    return first_snapshot.withColumn(
        "change_status", F.lit(STATUS_NEW)
    ).withColumn("changed_status_date", F.col(time_col))


def scd_merge(
    current: DataFrame,
    new_snapshot: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    hash_cols: Sequence[str],
) -> DataFrame:
    """Incremental MERGE-style upsert: one new snapshot against the
    current view only — the 100 TB path.

    The reference recomputes every status over the full accumulated
    history on every run (reference jobs/create_employee_all.py:76-81,
    README's read-own-output loop) — O(history) per day. This merges
    the day's snapshot (N_day rows) into the current view (N_entities
    rows): O(N_entities) per day, independent of history depth.
    BASELINE.json names this ("DataFrame upsert/merge operations") as
    the target approach.

    Like the rest of the module it uses no join (reference README.md:99):
    both sides are tagged and unioned, and ONE unordered window on the
    key hands every new row its key's current hash and change date and
    counts the key's new rows. New rows all survive; a current row
    survives only when its key has no new row, as ``Deleted``. That
    single hash exchange on ``key_cols`` also clusters the output for
    any key-partitioned consumer (the write gate's key window).

    Returns the NEW current view with ``change_status`` /
    ``changed_status_date`` updated; append it to the history table to
    extend ``employee_all``. A key listed twice in the snapshot yields
    two rows, as a MERGE would. Folded over every snapshot it ends at
    ``scd_merge_tree``'s state, which differs from the full windowed
    recompute in how a gap is dated alone: a key that disappears and
    reappears with its pre-gap fingerprint keeps the date of its last
    appearance before the gap (the date of its Deleted row), where the
    window form sees no gap and keeps its run start (SURVEY.md §2 #10).
    """
    keys = list(key_cols)
    cols = [*keys, time_col]
    cols += [c for c in new_snapshot.columns if c not in cols]

    # concat_ws never yields NULL, so a non-NULL "__new_hash" marks a
    # row of the new snapshot and a non-NULL "__cur_hash" one of the
    # current view — no separate side tag needed.
    new = with_row_hash(new_snapshot, hash_cols, out_col="__new_hash").select(
        *cols,
        "__new_hash",
        F.lit(None).cast("string").alias("__cur_hash"),
        F.lit(None)
        .cast(current.schema["changed_status_date"].dataType)
        .alias("__dt_c"),
    )
    cur = with_row_hash(current, hash_cols, out_col="__cur_hash").select(
        *cols,
        F.lit(None).cast("string").alias("__new_hash"),
        "__cur_hash",
        F.col("changed_status_date").alias("__dt_c"),
    )
    # A NULL key matches nothing (as in an equi-join), so its rows take
    # no aggregate from the rows they share a window partition with.
    w = Window.partitionBy(*keys)
    keyed = functools.reduce(
        operator.and_, [F.col(k).isNotNull() for k in keys]
    )
    u = new.unionByName(cur).select(
        *cols,
        "__new_hash",
        F.when(keyed, F.max("__cur_hash").over(w)).alias("__cur_hash"),
        F.when(keyed, F.max("__dt_c").over(w)).alias("__dt_c"),
        F.when(keyed, F.count("__new_hash").over(w))
        .otherwise(0)
        .alias("__n_new"),
    )
    is_gone = F.col("__new_hash").isNull()
    is_new = F.col("__cur_hash").isNull()
    changed = F.col("__new_hash") != F.col("__cur_hash")

    status = (
        F.when(is_gone, F.lit(STATUS_DELETED))
        .when(is_new, F.lit(STATUS_NEW))
        .when(changed, F.lit(STATUS_CHANGED))
        .otherwise(F.lit(STATUS_NO_CHANGE))
    )
    change_date = F.when(
        is_gone | is_new | changed, F.col(time_col)
    ).otherwise(F.col("__dt_c"))
    return u.filter(~is_gone | (F.col("__n_new") == 0)).select(
        *cols,
        status.alias("change_status"),
        change_date.alias("changed_status_date"),
    )


def scd_merge_tree(
    snapshots: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    hash_cols: Sequence[str],
) -> DataFrame:
    """The end state of folding ``scd_merge`` snapshot by snapshot, in
    closed form on one ordered key window: one row per key.

    Input: one row per (key, snapshot time), whose distinct times are
    the global snapshot sequence (a KEY's gaps are meaningful).

    Each key keeps its last row: ``Deleted`` at its own time when that
    row predates the latest snapshot, else New / Changed / No Change
    against the previous row, dated by its run start (``_with_runs``).
    Besides a fingerprint change, a gap (snapshots the key missed)
    opens a run, dated by the key's previous appearance — the date
    ``scd_merge`` stamps on the Deleted row, which a reappearance with
    the same fingerprint keeps. Gaps and the latest snapshot are read
    off ``_with_date_rank``, so nothing goes through the driver.
    """
    keys = list(key_cols)
    cols = [*keys, time_col]
    cols += [c for c in snapshots.columns if c not in cols]
    w = Window.partitionBy(*keys).orderBy(time_col)
    df = _with_runs(
        _with_date_rank(with_row_hash(snapshots, hash_cols), time_col),
        w,
        time_col,
        F.lead("row_hash").over(w).isNull().alias("__is_last"),
        F.lag(time_col).over(w).alias("__prev_t"),
        gaps_open_at=F.col("__prev_t"),
    )
    at_latest = F.col("__t_rank") == F.col("__t_count")
    status = (
        F.when(~at_latest, F.lit(STATUS_DELETED))
        .when(F.col("__prev_hash").isNull(), F.lit(STATUS_NEW))
        .when(F.col("__prev_hash") != F.col("row_hash"), F.lit(STATUS_CHANGED))
        .otherwise(F.lit(STATUS_NO_CHANGE))
    )
    change_date = F.when(at_latest, F.col("__run_start")).otherwise(
        F.col(time_col)
    )
    return df.filter(F.col("__is_last")).select(
        *cols,
        status.alias("change_status"),
        change_date.alias("changed_status_date"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
    status_col: str = "diff_status",
) -> DataFrame:
    """CDC-style diff of two table versions keyed on ``key_cols``:
    every key classified added / removed / changed / unchanged.

    The SCD pipeline answers "how did each entity evolve over all
    history"; this answers the cheaper operational question "what
    moved between these two versions" with ONE full-outer join on the
    key — no windows, no history scan. Comparisons are null-safe
    (``<=>``): a column going NULL->value or value->NULL is 'changed',
    never silently 'unchanged'.

    Output: key_cols, ``status_col``, and old_/new_ copies of every
    compare column.
    """
    keys = list(key_cols)
    cmp_cols = list(compare_cols)
    o = old.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in cmp_cols]
    ).withColumn("__in_old", F.lit(1))
    n = new.select(
        *keys, *[F.col(c).alias(f"new_{c}") for c in cmp_cols]
    ).withColumn("__in_new", F.lit(1))
    j = o.join(n, keys, "full_outer")
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    return j.withColumn(status_col, status).drop("__in_old", "__in_new")


def type2_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    state_cols: Sequence[str],
) -> DataFrame:
    """Collapse a snapshot history into SCD Type-2 effective-dated rows.

    The reference's ``employee_all`` keeps one row per (snapshot, key)
    with a change_status; a Type-2 dimension keeps one row per
    *contiguous run* of identical state (equal ``row_hash``):
    ``valid_from`` (first snapshot of the run), ``valid_to`` (next
    run's valid_from, exclusive; NULL on the open run), ``last_seen``,
    ``n_snaps``, ``is_current``.

    Runs are the ones ``with_change_status`` dates: each row's run
    start (``_with_runs``) is its ``valid_from`` and the group id. The
    windows partition by the entity key only, so the whole pass costs
    ONE exchange on the key (the two-row_number gap-group trick needs
    a second (key, hash) exchange); the groupBy that follows re-uses
    tiny per-run rows. Reference semantics source:
    jobs/create_employee_all.py:136-150.
    """
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(time_col)
    valid_from = F.col("__run_start").alias("valid_from")
    g = _with_runs(df, w, time_col).groupBy(*keys, valid_from, *state_cols).agg(
        F.max(time_col).alias("last_seen"),
        F.count(F.lit(1)).cast("long").alias("n_snaps"),
    )
    w2 = Window.partitionBy(*keys).orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w2)
    return g.select(
        *keys,
        *state_cols,
        "valid_from",
        "last_seen",
        "n_snaps",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
