"""Data-quality gates.

The reference runs three eager assertions before every write
(``test_DF``, reference jobs/create_employee_all.py:158-180): duplicate
keys, schema equality, non-empty. Each assertion there is a separate
Spark job re-executing the full unpersisted lineage — ~3× recompute per
output table (SURVEY.md §3). Here the schema gate is metadata-only, and
the row gates (non-empty, no NULL key, no duplicate key) are metrics
``observe()``d while the write itself runs (``observed_write_metrics``)
and checked by ``validate`` before the staged swap: validation runs no
job at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class QualityError(Exception):
    """Raised when a gate fails (reference's ``CustomError``,
    jobs/create_employee_all.py:154-156)."""


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key groups with more than one row (reference
    jobs/create_employee_all.py:165-169), as a DataFrame so it can be
    inspected, not just counted."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def assert_schema(df: DataFrame, expected: T.StructType) -> None:
    """Strict StructType equality — names, order, types, nullability
    (reference jobs/create_employee_all.py:171-172). Metadata-only;
    triggers no job."""
    if df.schema != expected:
        raise QualityError(
            f"schema mismatch:\n  got      {df.schema.simpleString()}"
            f"\n  expected {expected.simpleString()}"
        )


def assert_not_empty(df: DataFrame) -> None:
    """Zero-row gate. ``isEmpty`` reads at most one partition; the
    reference's ``count()`` (jobs/create_employee_all.py:173) scans
    everything."""
    if df.isEmpty():
        raise QualityError("DataFrame has 0 records")


def observed_write_metrics(
    df: DataFrame, key_cols: Sequence[str] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach the row-level quality metrics to a DataFrame via
    ``observe()``: they are computed DURING whatever action consumes
    the df (typically the write), so validation adds no pass of its
    own — the SURVEY.md §3 fix for the reference's 3-jobs-per-write
    pattern taken to its limit.

    Metrics: ``n_rows``; ``n_null_keys`` (rows with a NULL in any key
    column); ``n_bad_keys`` (rows with a NULL key, plus rows whose key
    group holds more than one row). The group size is a
    ``count(*) over (partition by keys)`` window: on input already
    clustered by a subset of the keys (every SCD output is
    hash-partitioned on the entity key) it costs a sort, not an
    exchange.

    Returns (df, observation); read ``observation.get`` AFTER the
    action. Example::

        df2, obs = observed_write_metrics(df, keys)
        df2.write.parquet(path)
        m = obs.get          # {'n_rows': ..., 'n_null_keys': ..., ...}
    """
    import functools
    import operator

    keys = list(key_cols) if key_cols else df.columns[:1]
    null_key = functools.reduce(
        operator.or_, [F.col(c).isNull() for c in keys]
    )
    group_rows = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    obs = Observation()
    out = (
        df.withColumn("__key_rows", group_rows)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(null_key, 1)).alias("n_null_keys"),
            F.count(F.when(null_key | (F.col("__key_rows") > 1), 1)).alias(
                "n_bad_keys"
            ),
        )
        .drop("__key_rows")
    )
    return out, obs


def validate(
    df: DataFrame,
    keys: Sequence[str],
    expected_schema: T.StructType | None = None,
    observed: Observation | None = None,
) -> None:
    """The quality gates: schema, non-empty, no NULL key, no duplicate
    key.

    The schema gate is metadata-only. The row gates read the metrics
    of ``observed_write_metrics``: pass ``observed`` (its observation,
    read after the action that consumed the observed df — normally the
    staged write, see ``write_staged(check=...)``) and they run no job
    at all. Without it they measure ``df`` themselves in one noop-write
    pass.
    """
    if expected_schema is not None:
        assert_schema(df, expected_schema)
    if observed is None:
        measured, observed = observed_write_metrics(df, keys)
        measured.write.format("noop").mode("overwrite").save()
    m = observed.get
    if m["n_rows"] == 0:
        raise QualityError("DataFrame has 0 records")
    if m["n_null_keys"]:
        raise QualityError(
            f"NULL keys: {m['n_null_keys']} of {m['n_rows']} rows have a "
            f"NULL in {tuple(keys)}"
        )
    if m["n_bad_keys"]:
        raise QualityError(
            f"duplicate keys: {m['n_bad_keys']} of {m['n_rows']} rows share "
            f"their key group {tuple(keys)}"
        )


def profile_columns(
    df: DataFrame,
    numeric_cols: Sequence[str] = (),
    string_cols: Sequence[str] = (),
    exact_distinct: bool = True,
) -> DataFrame:
    """One-pass column profile in long format (col_name, metric, value).

    Every metric for every column is computed inside ONE global
    aggregate — a single job, one reduce of a handful of doubles —
    instead of the naive one-scan-per-column loop a profiling tool
    usually degenerates into. Metrics (all DOUBLE so the long format
    is single-typed): numeric cols get n_nulls / n_distinct / min /
    max / mean; string cols get n_nulls / n_distinct / avg_len; plus
    one global n_rows row.

    ``exact_distinct=False`` swaps COUNT(DISTINCT) for HyperLogLog
    ``approx_count_distinct`` — at 100 TB the exact form is one extra
    expand+shuffle per column, the sketch is a constant-size
    accumulator; exact is the default because the oracle checks it.
    """
    aggs = [F.count(F.lit(1)).cast("double").alias("__n_rows")]
    n_distinct = (
        F.count_distinct if exact_distinct else F.approx_count_distinct
    )
    for c in numeric_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("double")
            .alias(f"__{c}__n_nulls"),
            n_distinct(F.col(c)).cast("double").alias(f"__{c}__n_distinct"),
            F.min(c).cast("double").alias(f"__{c}__min"),
            F.max(c).cast("double").alias(f"__{c}__max"),
            F.round(F.avg(c), 6).alias(f"__{c}__mean"),
        ]
    for c in string_cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).cast("double")
            .alias(f"__{c}__n_nulls"),
            n_distinct(F.col(c)).cast("double").alias(f"__{c}__n_distinct"),
            F.round(F.avg(F.length(c)), 6).alias(f"__{c}__avg_len"),
        ]
    wide = df.agg(*aggs)
    entries = [
        F.struct(
            F.lit("*").alias("col_name"),
            F.lit("n_rows").alias("metric"),
            F.col("__n_rows").alias("value"),
        )
    ]
    for field in wide.columns:
        if field == "__n_rows":
            continue
        _, c, m = field.split("__")
        entries.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(m).alias("metric"),
                F.col(field).alias("value"),
            )
        )
    return wide.select(
        F.explode(F.array(*entries)).alias("e")
    ).select("e.col_name", "e.metric", "e.value")


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    fk_cols: Sequence[str],
    pk_cols: Sequence[str],
) -> DataFrame:
    """Child rows whose foreign key has no parent (referential-
    integrity violations), as a left-anti join on the key.

    NULL foreign keys are excluded first — SQL FK semantics treat
    them as "not applicable", and leaving them in would report every
    NULL as an orphan. At scale the parent side projects to its key
    columns only before the join (column pruning makes the build side
    |parent_keys|, not the parent row width); for a dimension whose
    key set fits in memory the anti-join broadcasts.
    """
    fk = list(fk_cols)
    pk = list(pk_cols)
    keys = parent.select(
        *[F.col(p).alias(f"__pk_{i}") for i, p in enumerate(pk)]
    ).dropDuplicates()
    cond = None
    for i, f in enumerate(fk):
        c = child[f] == F.col(f"__pk_{i}")
        cond = c if cond is None else (cond & c)
    non_null = child
    for f in fk:
        non_null = non_null.filter(F.col(f).isNotNull())
    return non_null.join(keys, cond, "left_anti")


def category_drift_chisq(
    df: DataFrame, group_col: str, category_col: str
) -> DataFrame:
    """Distribution-drift monitor: per group, the chi-square statistic
    of its category distribution against the whole-table distribution
    — the standing check that one source/shard/day hasn't drifted
    from the corpus mix (language balance per source, label balance
    per day, ...).

    One pass builds the (group, category) contingency counts; the
    category margins and grand total are tiny aggregates broadcast
    back, so the statistic costs a single real shuffle. The full
    group x category scaffold is materialized (a broadcast cross join
    of two tiny aggregates) so categories a group has ZERO rows of
    still contribute their expected-count term — dropping them
    understates drift exactly for the most-drifted groups. Counts are
    exact integers; expected = n_group * margin/N goes float only at
    the last step, so engines agree.
    """
    # checkpointed: the contingency table is group x category sized
    # (tiny) but feeds four branches — margins, group sizes, the grand
    # total, and the scaffold join — each of which would re-run the
    # full scan otherwise
    cont = (
        df.groupBy(group_col, category_col)
        .agg(F.count(F.lit(1)).alias("__o"))
        .localCheckpoint()
    )
    margins = cont.groupBy(category_col).agg(F.sum("__o").alias("__m"))
    group_n = cont.groupBy(group_col).agg(F.sum("__o").alias("__ng"))
    total = cont.agg(F.sum("__o").alias("__N"))
    scaffold = group_n.crossJoin(F.broadcast(margins))
    j = (
        scaffold.join(cont, [group_col, category_col], "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    # margin share first (double), THEN scale by the group size —
    # ng * m as long*long overflows 2^63 at ~1e10-row tables, which
    # ANSI mode turns into a hard ARITHMETIC_OVERFLOW
    expected = F.col("__ng") * (F.col("__m") / F.col("__N"))
    chi = ((F.col("__o") - expected) ** 2) / expected
    # the scaffold guarantees exactly |categories| rows per group, so
    # dof falls out of the same aggregate
    return j.groupBy(group_col).agg(
        F.max("__ng").alias("n_rows"),
        F.round(F.sum(chi), 4).alias("chi_square"),
        (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
    )


def schema_diff(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Schema-evolution audit between two table versions: one row per
    column that was added, removed, or changed type/nullability —
    the pre-flight check before a union/merge of snapshots and the
    human-readable complement of ``assert_schema``'s strict gate.

    Driver-side metadata only (no jobs run); the result is a normal
    DataFrame so it can join into reports.
    """
    spark = df_a.sparkSession
    a = {f.name: f for f in df_a.schema.fields}
    b = {f.name: f for f in df_b.schema.fields}
    rows = []
    for name in sorted(a.keys() | b.keys()):
        fa, fb = a.get(name), b.get(name)
        if fa is None:
            rows.append((name, "added", None, fb.dataType.simpleString()))
        elif fb is None:
            rows.append((name, "removed", fa.dataType.simpleString(), None))
        elif fa.dataType != fb.dataType:
            rows.append(
                (
                    name,
                    "type_changed",
                    fa.dataType.simpleString(),
                    fb.dataType.simpleString(),
                )
            )
        elif fa.nullable != fb.nullable:
            rows.append(
                (
                    name,
                    "nullability_changed",
                    f"nullable={fa.nullable}",
                    f"nullable={fb.nullable}",
                )
            )
    return spark.createDataFrame(
        rows, "column string, change string, before string, after string"
    )


def kanonymity_report(
    df: DataFrame,
    quasi_cols: list,
    k: int = 5,
) -> DataFrame:
    """k-anonymity risk audit: every quasi-identifier combination
    shared by FEWER than ``k`` rows is a re-identification risk (an
    attacker joining on those attributes narrows a person to < k
    candidates). Returns the risky combinations with their group size
    and a severity bucket (``unique`` = group of 1, the worst case).

    One map-side-combined aggregate on the QI tuple, then a filter —
    the report is |risky groups| rows, not |rows|. Run it BEFORE
    release; fix by generalizing (banding) the offending columns —
    the same bands ``pii_tokenize`` applies.
    """
    counts = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return counts.filter(F.col("group_size") < k).select(
        *quasi_cols,
        "group_size",
        F.when(F.col("group_size") == 1, F.lit("unique"))
        .otherwise(F.lit("small_group"))
        .alias("severity"),
    )
