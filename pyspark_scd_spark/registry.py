"""Query registry: every operator exposed through the driver contract.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with the ANSI-SQL oracle string DuckDB runs over the same parquet tables
(or ``None`` for ops that are genuinely not SQL-expressible — iterative
algorithms, LSH, streaming — which the driver checks rows-only).

Parity rules (driver compares row-count + schema + order-insensitive
value-hash, sorting columns by name):
- every computed column is aliased IDENTICALLY in builder and oracle;
- floating-point aggregates are rounded in BOTH engines;
- timestamps surfaced in outputs are cast to DATE (or formatted) in
  BOTH engines so the representations agree.

The SCD queries re-cast ``orders`` as daily snapshots of a customer's
order state (key=o_custkey, time=order date, state=(o_orderstatus,
o_orderpriority)) per FIXTURES.md §B mapping.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import relational, scd, topk
from pyspark_scd_spark.functions.time import epoch_us
from pyspark_scd_spark.operators.quality import (
    duplicate_keys,
    observed_aggregates,
)
from pyspark_scd_spark.sources.readers import read_parquet_table


@dataclass(frozen=True)
class Query:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        if name in REGISTRY:
            # A duplicate key would silently shadow the earlier builder
            # (dict assignment keeps only the last), so the registry
            # would advertise one query and run another.
            raise ValueError(f"duplicate registry key: {name!r}")
        REGISTRY[name] = Query(builder=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# ----------------------------------------------------------------------
# Orders-as-snapshots derivation shared by the SCD queries.
# One row per (customer, order date); deterministic survivor = max
# o_orderkey (fixing the reference's arbitrary dedup survivor,
# reference jobs/create_employee_all.py:74-81 / SURVEY.md §2 #4).
# ----------------------------------------------------------------------

SNAPS_SQL = """
SELECT key, snap_date, o_orderstatus, o_orderpriority FROM (
  SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS snap_date,
         o_orderstatus, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders) WHERE rn = 1
"""

SCD_HASH_COLS = ["o_orderstatus", "o_orderpriority"]


def order_rows(orders: DataFrame, *extra) -> DataFrame:
    """Orders as raw customer snapshot rows, several per (key, date):
    (key, snap_date, o_orderstatus, o_orderpriority, o_orderkey) and
    then the ``extra`` columns."""
    return orders.select(
        F.col("o_custkey").alias("key"),
        F.to_date("o_orderdate").alias("snap_date"),
        "o_orderstatus",
        "o_orderpriority",
        "o_orderkey",
        *extra,
    )


def order_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd.snapshot_dedup_aligned(
        order_rows(_t(spark, sf_dir, "orders")),
        ["key"],
        "snap_date",
        tiebreak_cols=["o_orderkey"],
    ).drop("o_orderkey")


# ======================================================================
# Reference surface: scan / project / dedup / union / hash
# ======================================================================


@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_extendedprice, CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    """,
    doc="Schema-enforced scan with filter+projection pushdown "
    "(reference load_csv_df, jobs/create_employee_all.py:29-49; scan "
    "plan shows PushedFilters + 4-column ReadSchema).",
)
def q_scan_filter_project(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_returnflag") == "R")
        )
        .select(
            "l_orderkey",
            "l_extendedprice",
            F.to_date("l_shipdate").alias("ship_date"),
        )
    )


@register(
    "union_all",
    """
    SELECT o_orderkey, o_totalprice, 'urgent' AS src FROM orders
    WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'high' AS src FROM orders
    WHERE o_orderpriority = '2-HIGH'
    """,
    doc="unionByName append (reference positional unionAll, "
    "jobs/create_employee_all.py:77-78, fixed per SURVEY.md §2 #3).",
)
def q_union_all(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice", F.lit("urgent").alias("src")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("src")
    )
    return scd.union_snapshots(urgent, high)


@register(
    "dedup_keep_one",
    SNAPS_SQL,
    doc="Exact-dup removal with deterministic survivor "
    "(reference import_new_files, jobs/create_employee_all.py:74-81).",
)
def q_dedup_keep_one(spark, sf_dir):
    return order_snapshots(spark, sf_dir)


@register(
    "row_hash",
    f"""
    WITH snaps AS ({SNAPS_SQL})
    SELECT key, snap_date,
           sha256(concat_ws('||', o_orderstatus, o_orderpriority)) AS row_hash
    FROM snaps
    """,
    doc="sha2(concat_ws) change fingerprint, bit-for-bit vs DuckDB "
    "(reference add_row_hash, jobs/create_employee_all.py:99-109).",
)
def q_row_hash(spark, sf_dir):
    snaps = order_snapshots(spark, sf_dir)
    return scd.with_row_hash(snaps, SCD_HASH_COLS).select(
        "key", "snap_date", "row_hash"
    )


@register(
    "project_exclude",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders",
    doc="Projection by exclusion list (reference remove_columns, "
    "jobs/create_employee_all.py:85-97).",
)
def q_project_exclude(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    exclude = ["o_totalprice", "o_orderdate"]
    return o.select([c for c in o.columns if c not in exclude])


# ======================================================================
# Reference surface: the SCD pipeline itself
# ======================================================================

_SCD_FULL_SQL = f"""
WITH snaps AS ({SNAPS_SQL}),
h AS (
  SELECT *, sha256(concat_ws('||', o_orderstatus, o_orderpriority)) AS row_hash
  FROM snaps),
s AS (
  SELECT *,
    MIN(snap_date) OVER (PARTITION BY key) AS min_t,
    MAX(snap_date) OVER (PARTITION BY key) AS max_t,
    LAG(row_hash)  OVER (PARTITION BY key ORDER BY snap_date) AS prev_hash,
    LEAD(row_hash) OVER (PARTITION BY key ORDER BY snap_date) AS next_hash,
    MAX(snap_date) OVER () AS global_max_t
  FROM h),
st AS (
  SELECT *,
    CASE WHEN snap_date = min_t THEN 'New'
         WHEN next_hash IS NULL AND max_t <> global_max_t THEN 'Deleted'
         WHEN prev_hash <> row_hash THEN 'Changed'
         ELSE 'No Change' END AS change_status
  FROM s),
g AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY key ORDER BY snap_date DESC)
    - ROW_NUMBER() OVER (PARTITION BY key, row_hash ORDER BY snap_date DESC)
      AS gap_grp
  FROM st)
SELECT key, snap_date, o_orderstatus, o_orderpriority, change_status,
       CASE WHEN change_status = 'Deleted' THEN snap_date
            ELSE MIN(snap_date) OVER (PARTITION BY key, row_hash, gap_grp)
       END AS changed_status_date
FROM g
"""


@register(
    "scd_employee_all",
    _SCD_FULL_SQL,
    doc="The full SCD history pipeline — dedup → hash → 4-way status "
    "CASE and run-start change date from one ordered window per key "
    "(reference jobs/create_employee_all.py:111-150; the dates of "
    "per-entity gaps-and-islands, fixing SURVEY.md §2 #11).",
)
def q_scd_employee_all(spark, sf_dir):
    # Raw (pre-dedup) snapshots go straight into scd_apply: the
    # partition-aligned dedup runs inside the same per-key window
    # pipeline, so the whole SCD computes off ONE hash(key) exchange
    # and the global-max scalar branch is a bare scan+agg.
    out = scd.scd_apply(
        order_rows(_t(spark, sf_dir, "orders")),
        key_cols=["key"],
        time_col="snap_date",
        hash_cols=SCD_HASH_COLS,
        tiebreak_cols=["o_orderkey"],
    )
    return out.select(
        "key",
        "snap_date",
        "o_orderstatus",
        "o_orderpriority",
        "change_status",
        "changed_status_date",
    )


_SCD_CURRENT_SQL = f"""
WITH hist AS ({_SCD_FULL_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY snap_date DESC) AS rn
  FROM hist)
SELECT key, (SELECT MAX(snap_date) FROM ranked) AS snap_date,
       o_orderstatus, o_orderpriority, change_status, changed_status_date
FROM ranked WHERE rn = 1
"""


@register(
    "scd_employee_current",
    _SCD_CURRENT_SQL,
    doc="Current view: latest row per key incl. Deleted survivors, "
    "time stamped to global max via broadcast scalar — not a "
    "partitionBy(lit(1)) window (reference get_latest_snapshot, "
    "jobs/create_employee_all.py:51-66; fix per SURVEY.md §2 #14).",
)
def q_scd_employee_current(spark, sf_dir):
    hist = q_scd_employee_all(spark, sf_dir)
    # stamp scalar from the raw scan: without it the scalar branch
    # re-executes the whole SCD window chain for one max()
    raw_dates = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("snap_date")
    )
    cur = scd.current_view(
        hist, ["key"], "snap_date", global_max_source=raw_dates
    )
    return cur.select(
        "key",
        "snap_date",
        "o_orderstatus",
        "o_orderpriority",
        "change_status",
        "changed_status_date",
    )


@register(
    "scd_merge_incremental",
    """
    WITH dedup AS (
      SELECT key, snap_year, o_orderstatus, o_orderpriority FROM (
        SELECT o_custkey AS key,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS snap_year,
               o_orderstatus, o_orderpriority,
               ROW_NUMBER() OVER (
                 PARTITION BY o_custkey, EXTRACT(year FROM o_orderdate)
                 ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
               ) AS rn
        FROM orders) WHERE rn = 1),
    g AS (SELECT MAX(snap_year) AS ymax FROM dedup),
    seq AS (
      SELECT key, snap_year, o_orderstatus, o_orderpriority,
             LAG(snap_year) OVER w AS py,
             LAG(o_orderstatus) OVER w AS ps,
             LAG(o_orderpriority) OVER w AS pp
      FROM dedup
      WINDOW w AS (PARTITION BY key ORDER BY snap_year)),
    resets AS (
      SELECT *, CASE
          WHEN py IS NULL THEN snap_year
          WHEN o_orderstatus <> ps OR o_orderpriority <> pp THEN snap_year
          WHEN snap_year > py + 1 THEN py
          ELSE NULL END AS reset_v
      FROM seq),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY snap_year DESC)
               AS rk,
             LAST_VALUE(reset_v IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY snap_year
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dtv
      FROM resets)
    SELECT key, snap_year, o_orderstatus, o_orderpriority,
           CASE WHEN snap_year = ymax THEN
                  CASE WHEN py IS NULL THEN 'New'
                       WHEN o_orderstatus <> ps OR o_orderpriority <> pp
                         THEN 'Changed'
                       ELSE 'No Change' END
                ELSE 'Deleted' END AS change_status,
           CAST(CASE WHEN snap_year = ymax THEN dtv
                     ELSE snap_year END AS INTEGER) AS changed_status_date
    FROM ranked CROSS JOIN g
    WHERE rk = 1
    """,
    doc="MERGE-style incremental upsert folded over yearly snapshots "
    "(BASELINE.json approach; O(current) per step instead of the "
    "reference's O(history) full recompute). Builder and oracle both "
    "compute the fold's CLOSED FORM on one key window: per key, status "
    "from the last two appearance years, change date from the last "
    "'reset point' (entry, hash change, or the pre-gap year a deletion "
    "stamped); the builder reads gaps off broadcast snapshot ranks, the "
    "oracle off year arithmetic (valid because the global year sequence "
    "is contiguous); the property tests check the builder's form "
    "against N merge steps.",
)
def q_scd_merge_incremental(spark, sf_dir):
    # The fold's end state in closed form on one key window (property-
    # tested against the year-by-year scd_merge fold on gap / revert /
    # delete patterns; the closed-form oracle checks it end to end).
    # The dedup runs inside the same key window, so one exchange on the
    # key serves both.
    yearly = scd.snapshot_dedup_aligned(
        order_rows(
            _t(spark, sf_dir, "orders"),
            F.year("o_orderdate").alias("snap_year"),
        ),
        ["key"],
        "snap_year",
        ["snap_date", "o_orderkey"],
    ).drop("o_orderkey", "snap_date")
    return scd.scd_merge_tree(
        yearly, ["key"], "snap_year", SCD_HASH_COLS
    )


@register(
    "scd_schema_evolution",
    """
    WITH snaps AS (
      SELECT key, snap_date, o_orderstatus, o_orderpriority,
             CASE WHEN snap_date >= DATE '1998-01-01'
                  THEN CAST(FLOOR(o_totalprice / 50000) AS INTEGER)
             END AS price_band
      FROM (
        SELECT o_custkey AS key, CAST(o_orderdate AS DATE) AS snap_date,
               o_orderstatus, o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (
                 PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                 ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    s AS (
      SELECT *,
        MIN(snap_date) OVER (PARTITION BY key) AS min_t,
        MAX(snap_date) OVER (PARTITION BY key) AS max_t,
        MAX(snap_date) OVER () AS global_max_t,
        LEAD(snap_date) OVER w AS next_t,
        LAG(o_orderstatus) OVER w AS p_st,
        LAG(o_orderpriority) OVER w AS p_pr,
        LAG(price_band) OVER w AS p_bd
      FROM snaps
      WINDOW w AS (PARTITION BY key ORDER BY snap_date)),
    st AS (
      SELECT *,
        CASE WHEN snap_date = min_t THEN 'New'
             WHEN next_t IS NULL AND max_t <> global_max_t THEN 'Deleted'
             WHEN (o_orderstatus IS DISTINCT FROM p_st)
               OR (o_orderpriority IS DISTINCT FROM p_pr)
               OR (price_band IS DISTINCT FROM p_bd) THEN 'Changed'
             ELSE 'No Change' END AS change_status
      FROM s),
    g AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY key ORDER BY snap_date DESC)
        - ROW_NUMBER() OVER (
            PARTITION BY key, o_orderstatus, o_orderpriority, price_band
            ORDER BY snap_date DESC) AS gap_grp
      FROM st)
    SELECT key, snap_date, o_orderstatus, o_orderpriority, price_band,
           change_status,
           CASE WHEN change_status = 'Deleted' THEN snap_date
                ELSE MIN(snap_date) OVER (
                  PARTITION BY key, o_orderstatus, o_orderpriority,
                               price_band, gap_grp)
           END AS changed_status_date
    FROM g
    """,
    doc="SCD under SCHEMA DRIFT: a newly-tracked attribute "
    "(price_band) appears mid-history (snapshots from 1998-01-01 "
    "carry it, earlier ones don't — the most common real-world SCD "
    "feed event). operators/scd.py union_snapshots_evolving unions "
    "by name with NULL backfill (the reference's positional unionAll "
    "would silently shift columns, jobs/create_employee_all.py:77-78) "
    "and the hardened to_json row hash keeps fingerprints comparable "
    "across the boundary: backfilled-NULL rows hash like "
    "explicit-NULL rows (no spurious Changed wall at the drift date), "
    "while a real value in the new column triggers Changed exactly "
    "like any tracked-attribute edit. The oracle never replays the "
    "hash — it compares the evolved tuple with IS DISTINCT FROM, "
    "which is the semantics the injective hardened hash encodes.",
)
def q_scd_schema_evolution(spark, sf_dir):
    base = order_rows(
        _t(spark, sf_dir, "orders"),
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("price_band"),
    )
    pre = base.filter(F.col("snap_date") < "1998-01-01").drop(
        "price_band"
    )
    post = base.filter(F.col("snap_date") >= "1998-01-01")
    evolved = scd.union_snapshots_evolving(pre, post)
    out = scd.scd_apply(
        evolved,
        key_cols=["key"],
        time_col="snap_date",
        hash_cols=["o_orderstatus", "o_orderpriority", "price_band"],
        tiebreak_cols=["o_orderkey"],
        hardened_hash=True,
    )
    return out.select(
        "key",
        "snap_date",
        "o_orderstatus",
        "o_orderpriority",
        "price_band",
        "change_status",
        "changed_status_date",
    )


@register(
    "global_dense_rank",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(DENSE_RANK() OVER (ORDER BY l_extendedprice)
                AS BIGINT) AS price_rank
    FROM lineitem
    """,
    doc="GLOBAL dense rank without the single-partition window cliff "
    "(operators/ranking.py global_dense_rank): repartitionByRange on "
    "the sort key (equal keys never straddle partitions), one "
    "bounded per-partition stats aggregate (#partitions rows to the "
    "driver), then local ranks + broadcast offsets in one Arrow "
    "pass over the SAME shuffle output (map stages skip — the "
    "corpus is exchanged once). The naive ROW_NUMBER() OVER "
    "(ORDER BY ...) form funnels every row through ONE task; this "
    "is the shape that survives a billion rows. Plan-pinned: no "
    "SinglePartition exchange anywhere.",
)
def q_global_dense_rank(spark, sf_dir):
    from pyspark_scd_spark.operators import ranking

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return ranking.global_dense_rank(
        li, ["l_extendedprice"], rank_col="price_rank"
    )


@register(
    "dup_key_check",
    """
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    HAVING COUNT(*) > 1
    """,
    doc="Duplicate-key quality gate as an inspectable DataFrame "
    "(reference test_DF, jobs/create_employee_all.py:165-169).",
)
def q_dup_key_check(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_date", F.to_date("o_orderdate")
    )
    return duplicate_keys(o, ["o_custkey", "order_date"])


# ======================================================================
# Window breadth (reference #7/#8 generalized)
# ======================================================================


@register(
    "window_min_max_lag_lead",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(MIN(o_orderdate) OVER w AS DATE) AS first_order,
           CAST(MAX(o_orderdate) OVER w AS DATE) AS last_order,
           LAG(o_orderkey)  OVER wo AS prev_orderkey,
           LEAD(o_orderkey) OVER wo AS next_orderkey
    FROM orders
    WINDOW w  AS (PARTITION BY o_custkey),
           wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Per-key min/max with explicit unbounded frames + lag/lead "
    "(reference get_change_status windows, "
    "jobs/create_employee_all.py:117-126, frame bug fixed per "
    "SURVEY.md §2 #7).",
)
def q_window_min_max_lag_lead(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.to_date(F.min("o_orderdate").over(wf)).alias("first_order"),
        F.to_date(F.max("o_orderdate").over(wf)).alias("last_order"),
        F.lag("o_orderkey").over(wo).alias("prev_orderkey"),
        F.lead("o_orderkey").over(wo).alias("next_orderkey"),
    )


@register(
    "global_max_broadcast",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders) AS global_max_date
    FROM orders
    """,
    doc="Global max stamped on every row via agg + broadcast cross-join "
    "— replaces the reference's single-partition lit(1) window "
    "(jobs/create_employee_all.py:118,127; SURVEY.md §2 #9).",
)
def q_global_max_broadcast(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    scalar = o.agg(F.to_date(F.max("o_orderdate")).alias("global_max_date"))
    return o.select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date")
    ).crossJoin(F.broadcast(scalar))


@register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
    doc="Per-key running total over a deterministic total order.",
)
def q_window_running_sum(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# ======================================================================
# Top-k / latest-per-group (reference #13 generalized) — M0 flagship
# ======================================================================


@register(
    "top1_per_group",
    """
    SELECT l_orderkey, l_linenumber, l_partkey,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                ORDER BY l_shipdate DESC, l_linenumber DESC,
                         l_partkey DESC, l_suppkey DESC) AS rn
      FROM lineitem) WHERE rn = 1
    """,
    doc="Latest lineitem per order (reference get_latest_snapshot "
    "shape, jobs/create_employee_all.py:51-66). M0 flagship.",
)
def q_top1_per_group(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the testdata; the
    # 4-column ordering is verified unique → deterministic survivor.
    out = topk.topk_per_group(
        li,
        ["l_orderkey"],
        [
            F.col("l_shipdate").desc(),
            F.col("l_linenumber").desc(),
            F.col("l_partkey").desc(),
            F.col("l_suppkey").desc(),
        ],
        k=1,
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.to_date("l_shipdate").alias("ship_date"),
    )


@register(
    "latest_per_group_maxby",
    """
    SELECT o_custkey, order_date, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
             o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
    """,
    doc="k=1 via max_by struct aggregation: shuffle moves |keys| rows, "
    "not |rows| — the scale path for latest-per-key.",
)
def q_latest_per_group_maxby(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = topk.latest_per_group(
        o.select(
            "o_custkey", F.to_date("o_orderdate").alias("order_date"),
            "o_orderkey", "o_totalprice",
        ),
        ["o_custkey"],
        "order_date",
        tiebreak_cols=["o_orderkey"],
    )
    return out


@register(
    "global_topk",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    doc="Global top-k via TakeOrderedAndProject — per-task local top-k, "
    "no global sort materialized.",
)
def q_global_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = topk.global_topk(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 100
    )
    return out.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
    )


# ======================================================================
# Aggregation breadth
# ======================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0 AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)      AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0
                 / COUNT(*), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT)       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: multi-aggregate groupBy with "
    "map-side partial aggregation.",
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum(F.round((F.col("l_extendedprice")) * 100).cast("long")) / 100.0).alias("sum_base_price"),
            (F.sum(F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast("long")) / 100.0).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            (F.round(F.sum(F.round(F.col("l_discount") * 100).cast("long"))
                / 100.0 / F.count(F.lit(1)), 6)).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT)  AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical grouping sets; one shuffle, expanded map-side.",
)
def q_agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return relational.aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        ],
        kind="rollup",
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(ROUND((l_extendedprice) * 100) AS BIGINT)) / 100.0 AS sum_price,
           CAST(COUNT(*) AS BIGINT)       AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="All grouping-set combinations.",
)
def q_agg_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return relational.aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            (F.sum(F.round((F.col("l_extendedprice")) * 100).cast("long")) / 100.0).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        ],
        kind="cube",
    )


@register(
    "distinct_agg",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Multi-column distinct aggregation (Catalyst expand + 2-phase).",
)
def q_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


# ======================================================================
# Join breadth
# ======================================================================


@register(
    "q3_top_unshipped",
    """
    SELECT l_orderkey,
           SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0 AS revenue,
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style 3-way join + agg + top-k; customer side "
    "broadcast, lineitem never shuffled for the dim join.",
)
def q3_top_unshipped(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    joined = li.join(
        relational.join_dim(
            o, c.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey")
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        (F.sum(F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast("long")) / 100.0).alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey", "revenue", F.to_date("o_orderdate").alias("order_date")
        )
    )


@register(
    "q5_nation_revenue",
    """
    SELECT n_name,
           SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style 6-way star join through two dim hops; all dims "
    "broadcast so the only shuffle is the final groupBy.",
)
def q5_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    snr = s.join(F.broadcast(nr), s.s_nationkey == nr.n_nationkey)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(snr),
            (li.l_suppkey == snr.s_suppkey)
            & (c.c_nationkey == snr.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        (F.sum(F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast("long")) / 100.0).alias("revenue")
    )


@register(
    "semi_join",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    """,
    doc="EXISTS via left-semi hash join.",
)
def q_semi_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return relational.semi_join(
        o, li, F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_orderkey", "o_custkey")


@register(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="NOT EXISTS via left-anti join.",
)
def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return relational.anti_join(
        c, o, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@register(
    "set_ops",
    """
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      AND EXTRACT(year FROM o_orderdate) = 1998
    """,
    doc="INTERSECT / EXCEPT set algebra.",
)
def q_set_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    f98 = o.filter(
        (F.col("o_orderstatus") == "F") & (F.year("o_orderdate") == 1998)
    ).select("o_custkey")
    return y96.intersect(y97).subtract(f98)


# ======================================================================
# Events: sessionization + time windows (batch forms)
# ======================================================================


@register(
    "events_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_start,
        event_id
      FROM events),
    sess AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(MIN(ts) AS DATE) AS session_start_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND((value) * 100) AS BIGINT)) / 100.0 AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Batch sessionization: lag-gap mark + running-sum session ids "
    "(30-min inactivity gap), then per-session aggregates. Streaming "
    "twin: session_window + watermark (streaming/sessions.py).",
)
def q_events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(wo)
    marked = ev.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = marked.withColumn("session_id", F.sum("is_start").over(wrun))
    return sess.groupBy("user_id", "session_id").agg(
        F.to_date(F.min("ts")).alias("session_start_day"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round((F.col("value")) * 100).cast("long")) / 100.0).alias("session_value"),
    )


@register(
    "events_tumbling_window",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND((value) * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling event-time window aggregate (batch form of the "
    "streaming windowed agg); window start surfaced as epoch seconds "
    "so both engines hash identical representations.",
)
def q_events_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round((F.col("value")) * 100).cast("long")) / 100.0).alias("total_value"),
        )
    )


# ======================================================================
# LLM-data-pipeline operators (BASELINE.json north star; SURVEY.md §2c)
# ======================================================================

_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    "x -> x <> '')"
)


@register(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           ROUND(list_sum(list_transform(toks, x -> len(x))) * 1.0
                 / len(toks), 4) AS avg_token_len
    FROM t
    """,
    doc="Per-document text statistics (length, token counts, lexical "
    "diversity) — pure codegen'd column math, scales with the scan.",
)
def q_text_stats(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens("text")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            )
            * 1.0
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


@register(
    "text_lang_id",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, x -> list_contains(
          ['the','a','of','and','to','in','is'], x))) AS INTEGER) AS en_hits,
        CAST(len(list_filter(toks, x -> list_contains(
          ['le','la','de','et','un','une','est'], x))) AS INTEGER) AS fr_hits,
        CAST(len(list_filter(toks, x -> list_contains(
          ['der','die','das','und','ist','ein','zu'], x))) AS INTEGER) AS de_hits,
        CAST(len(list_filter(toks, x -> list_contains(
          ['el','la','de','y','un','una','es'], x))) AS INTEGER) AS es_hits
      FROM t)
    SELECT doc_id, en_hits, fr_hits, de_hits, es_hits,
      CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits
                AND en_hits >= es_hits THEN 'en'
           WHEN fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
           WHEN de_hits >= es_hits THEN 'de'
           ELSE 'es' END AS predicted_lang
    FROM h
    """,
    doc="Stopword-overlap language ID heuristic; argmax with fixed tie "
    "order, all JVM-side array ops (functions/text.py).",
)
def q_text_lang_id(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    hits = {
        lang: TXT.lang_hits("text", lang) for lang in ("en", "fr", "de", "es")
    }
    d = d.select(
        "doc_id", *[hits[lang].alias(f"{lang}_hits") for lang in hits]
    )
    en, fr, de, es = (F.col(f"{x}_hits") for x in ("en", "fr", "de", "es"))
    predicted = (
        F.when((en >= fr) & (en >= de) & (en >= es), F.lit("en"))
        .when((fr >= de) & (fr >= es), F.lit("fr"))
        .when(de >= es, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return d.withColumn("predicted_lang", predicted)


@register(
    "text_quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS n_tok,
        CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dis,
        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
          * 1.0 / length(text) AS digit_ratio
      FROM t)
    SELECT doc_id,
      ROUND(LEAST(1.0, n_tok / 100.0) * 0.4
            + CASE WHEN n_tok > 0 THEN n_dis / n_tok ELSE 0.0 END * 0.4
            + (1.0 - digit_ratio) * 0.2, 4) AS quality
    FROM m
    """,
    doc="Composite document quality score: length + lexical diversity "
    "+ digit-noise penalty (functions/text.py quality_score).",
)
def q_text_quality_score(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(TXT.quality_score("text"), 4).alias("quality")
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Content fingerprint: md5 of whitespace-normalized lowercased "
    "text — the exact-dedup key.",
)
def q_doc_fingerprint(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.fingerprint("text").alias("fp"))


@register(
    "token_count_bpe",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS ws_tokens,
           CAST(list_sum(list_transform(toks,
                x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT)
             AS bpe_estimate
    FROM t
    """,
    doc="Whitespace token count + BPE-ish subword estimate "
    "(sum(ceil(len/4)) — deterministic LLM-token proxy).",
)
def q_token_count_bpe(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.token_count("text").alias("ws_tokens"),
        TXT.subword_estimate("text").alias("bpe_estimate"),
    )


@register(
    "dedup_exact",
    r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents)
    SELECT doc_id, MIN(doc_id) OVER w AS canonical_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_copies
    FROM h WINDOW w AS (PARTITION BY fp)
    """,
    doc="Exact dedup groups: hash-groupBy on content fingerprint; "
    "keep doc_id == canonical_id to dedup (operators/dedup.py).",
)
def q_dedup_exact(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.exact_groups(d)


# ----------------------------------------------------------------------
# Shared tokenization stage for the dedup suite: the tokenize+shingle+
# distinct pass is the widest stage of every text-dedup tier, so the
# suite stages it ONCE per (sf_dir) via the two-phase writer and every
# consumer (jaccard, minhash, cc, survivors) reads the staged parquet —
# the production shape for a pipeline running several tiers over the
# same corpus snapshot.
# ----------------------------------------------------------------------

_SHINGLE_STAGE_CACHE: dict[str, str] = {}
_TF_STAGE_CACHE: dict[str, str] = {}


def _staged_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage for the retrieval suite (the dedup-shingle
    convention applied to postings): the corpus tokenize -> (doc, tok,
    tf) table both BM25 legs consume, staged once per sf_dir via the
    two-phase writer."""
    if sf_dir not in _TF_STAGE_CACHE:
        import tempfile

        from pyspark_scd_spark.operators.search import term_frequencies
        from pyspark_scd_spark.sources.writers import write_staged

        path = tempfile.mkdtemp(prefix="tf_stage_") + "/term_freq"
        d = _t(spark, sf_dir, "documents")
        write_staged(term_frequencies(d), path)
        _TF_STAGE_CACHE[sf_dir] = path
    from pyspark_scd_spark.sources.readers import read_parquet_cached_schema

    return read_parquet_cached_schema(spark, _TF_STAGE_CACHE[sf_dir])


def _cc_strategy(docs: DataFrame) -> str:
    """Connected-components strategy for the registry builders:
    always 'auto' — the operator counts the (already-checkpointed)
    edge set and solves locally below ``local_edge_limit`` (5M edges
    = bounded ~100s-of-MB numpy arrays on the driver, ~3s kernel —
    measured 2.9s vs 11.2s distributed at 2.4M edges), falling to
    the distributed min-label path above it. The doc-count override
    this replaced dated from the dict-of-Rows union-find, whose
    per-edge Python-object overhead made driver memory unpredictable;
    the numpy kernel's footprint is a computable function of the edge
    count, so the edge-count gate in the operator is the principled
    one at every corpus size."""
    return "auto"


def _staged_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _SHINGLE_STAGE_CACHE:
        import tempfile

        from pyspark_scd_spark.operators.dedup import shingle_pairs
        from pyspark_scd_spark.sources.writers import write_staged

        path = tempfile.mkdtemp(prefix="shingle_stage_") + "/shingles"
        d = _t(spark, sf_dir, "documents")
        write_staged(shingle_pairs(d, n=3), path)
        _SHINGLE_STAGE_CACHE[sf_dir] = path
    from pyspark_scd_spark.sources.readers import read_parquet_cached_schema

    return read_parquet_cached_schema(spark, _SHINGLE_STAGE_CACHE[sf_dir])


@register(
    "dedup_ngram_jaccard",
    """
    WITH docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
    doc="Exact 3-gram Jaccard similarity join via shingle inverted "
    "index (one equi-join on the shingle key, never an n-squared "
    "cross-join; operators/dedup.py ngram_jaccard_pairs).",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, n=3, threshold=0.5,
        shingles=_staged_doc_shingles(spark, sf_dir),
    )


@register(
    "dedup_minhash_lsh",
    """
    WITH docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
    doc="MinHash LSH near-dup pairs: 63 xxhash64 min-hashes, 21 bands "
    "x 3 rows, candidates from band-signature self-join, exact "
    "Jaccard >= 0.5 verify (operators/dedup.py minhash_lsh_pairs). "
    "The oracle is the full exact-Jaccard join: LSH output equals it "
    "whenever every qualifying pair survives candidate generation — "
    "measured on this corpus the minimum qualifying jaccard is 0.8 "
    "(nothing lies in [0.3, 0.8)), where the per-pair miss "
    "probability is (1 - 0.8^3)^21 < 3e-7, i.e. recall 1 by "
    "construction margin, not luck.",
)
def q_dedup_minhash_lsh(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, num_hashes=63, bands=21, verify_threshold=0.5,
        shingles=_staged_doc_shingles(spark, sf_dir),
    )


def _dedup_simhash_oracle() -> str:
    from pyspark_scd_spark.operators.dedup import duckdb_simhash_cte

    return duckdb_simhash_cte(max_hamming=3)


@register(
    "dedup_simhash",
    _dedup_simhash_oracle(),
    doc="SimHash near-dup pairs: 64-bit token-vote sketch from "
    "md5-derived bits (cross-engine reproducible, unlike xxhash64), "
    "16-bit chunk banding — pigeonhole-LOSSLESS for hamming<=3, so "
    "the banded output deterministically equals the oracle's "
    "brute-force all-pairs hamming filter (operators/dedup.py "
    "simhash_pairs_md5; xxhash64 fast path remains for production).",
)
def q_dedup_simhash(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs_md5(d, max_hamming=3)


@register(
    "sim_search_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (SELECT query_id, vec_id,
                 ROUND(list_cosine_similarity(cv, qv), 6) AS cosine
          FROM c, q),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s)
    SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
    """,
    doc="Exact top-10 cosine neighbors for 5 query vectors: broadcast "
    "queries x corpus scan, zero corpus shuffle "
    "(operators/similarity.py brute_force_topk).",
)
def q_sim_search_topk(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(e, queries, k=10)


# ----------------------------------------------------------------------
# Dense-family oracle pieces. Every kNN / hard-negative / near-dup oracle
# is one candidate source (all pairs, LSH buckets or IVF cells) feeding
# one consumer tail (near-dup verify, kNN vote, hard-negative rank)
# over ``e(vec_id, label, v)``.
# ----------------------------------------------------------------------

_DENSE_E = """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)"""

# The rows of the ``cand(id_a, id_b)`` pairs as ``a`` and ``b``.
_CAND_PAIRS = """cand JOIN e a ON a.vec_id = cand.id_a
                    JOIN e b ON b.vec_id = cand.id_b"""


def _all_pairs(ordered: bool) -> str:
    """Every pair of ``e`` as ``a`` and ``b`` — the exact grid's
    candidate set (each unordered pair once when ``ordered``)."""
    return f"e a JOIN e b ON a.vec_id {'<' if ordered else '<>'} b.vec_id"


def _lsh_buckets_sql(src: str, n_planes: int, n_tables: int) -> str:
    """(vec_id, t, b) rows of ``src``: one sign-bit bucket per table,
    the hyperplane constants inlined (seed 42 + t, as the engine)."""
    from pyspark_scd_spark.operators.similarity import duckdb_bucket_sql

    return "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, "
        f"{duckdb_bucket_sql('v', 64, n_planes, seed=42 + t)} AS b "
        f"FROM {src}"
        for t in range(n_tables)
    )


def _lsh_cand_ctes(n_planes: int | None = 8, n_tables: int = 8,
                   ordered: bool = True) -> str:
    """Oracle CTEs replaying lsh_candidates(multiprobe=True): per-table
    sign-bit buckets, one side expanded to the Hamming<=1 probe set,
    DISTINCT co-bucketed id pairs as ``cand(id_a, id_b)``. XOR is
    symmetric, so expanding one side covers both.

    ``n_planes=None`` is the ``auto_planes`` rule (planes =
    clamp(ceil(log2(n/32)), 4, 20)), computed IN SQL from the corpus
    count so one static oracle stays correct at every scale factor.
    ``hyperplanes`` draws planes from ONE serial PRNG stream — the
    first p planes of a 20-plane generation ARE the p-plane generation
    — so the 20-plane bucket masks down to any p: bucket_p =
    bucket_20 % 2^p (a no-op for a pinned plane count)."""
    p = n_planes if n_planes is not None else (
        "(SELECT GREATEST(4, LEAST(20, CAST(CEIL(LOG2("
        "GREATEST(COUNT(*), 1) / 32.0)) AS INTEGER))) FROM e)"
    )
    op = "<" if ordered else "<>"
    return f"""np AS (SELECT {p} AS p),
    cb AS (SELECT vec_id, t, b % (CAST(1 AS BIGINT) << p) AS b
           FROM ({_lsh_buckets_sql("e", n_planes or 20, n_tables)}), np),
    pb AS (SELECT vec_id, t,
                  CASE WHEN i.i = -1 THEN b
                       ELSE xor(b, (CAST(1 AS BIGINT) << i.i)) END AS pb
           FROM cb, np,
           LATERAL (SELECT unnest(range(-1, p)) AS i) i),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
             FROM pb a JOIN cb c ON a.t = c.t AND a.pb = c.b
             WHERE a.vec_id {op} c.vec_id)"""


def _ivf_assign_sql(src: str, cent: str, cent_cell: str,
                    out: str, n_probe: int) -> str:
    """ONE oracle CTE replaying _ivf_cell_rows' top-``n_probe`` cell
    assignment for the ``src(vec_id, v)`` table against the
    ``cent({cent_cell}, cv)`` centroid table: 9dp-rounded cosine
    DESC, ties toward the larger cell — the single implementation of
    the assignment rule every IVF oracle shares (cand generation,
    trained lifecycle, incremental twin), so a tiebreak or rounding
    fix cannot drift between them."""
    return f"""{out} AS (SELECT vec_id, c FROM (
      SELECT s.vec_id, t.{cent_cell} AS c,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY ROUND(list_cosine_similarity(s.v, t.cv), 9)
                          DESC, t.{cent_cell} DESC) AS rn
      FROM {src} s CROSS JOIN {cent} t) WHERE rn <= {n_probe})"""


def _first_k_cent_sql(src: str, k_cells: int | None,
                      n_probe: int = 2) -> str:
    """The deterministic centroid seed CTE ``cent(c, cv)``: the first
    ``k_cells`` vectors of ``src`` by id — the rule _default_centroids
    implements. ``k_cells=None`` is the balanced ``auto_cells`` rule
    (k = probe·√n, clamped to [8, 65536]) computed IN SQL from the
    count of ``src``; DuckDB accepts a scalar subquery as LIMIT. SQL
    ROUND and Python round() could disagree only where probe·√n is an
    exact .5 — 2·√n is irrational unless n is a perfect square, where
    it is an even integer."""
    k = k_cells if k_cells is not None else (
        f"(SELECT GREATEST(8, LEAST(65536, CAST(ROUND({n_probe} * "
        f"SQRT(COUNT(*))) AS BIGINT))) FROM {src})"
    )
    return f"""cent AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                    AS INTEGER) AS c, v AS cv
             FROM {src} ORDER BY vec_id LIMIT {k})"""


def _ivf_cand_ctes(k_cells: int | None = 8, n_probe: int = 2,
                   ordered: bool = True, seed: bool = True) -> str:
    """Oracle CTEs replaying the IVF tier's candidate set — the
    same-cell pairs its per-cell verify scores: first-k centroids by id
    (``_first_k_cent_sql``; ``seed=False`` uses an upstream
    ``cent(c, cv)`` table instead, e.g. trained centroids), top-
    ``n_probe`` cell assignment, DISTINCT same-cell id pairs as
    ``cand(id_a, id_b)``. Expects an ``e(vec_id, v)`` CTE upstream."""
    op = "<" if ordered else "<>"
    cent = f"{_first_k_cent_sql('e', k_cells, n_probe)},\n    " if seed else ""
    return f"""{cent}{_ivf_assign_sql("e", "cent", "c", "assign", n_probe)},
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM assign a JOIN assign b
             ON a.c = b.c AND a.vec_id {op} b.vec_id)"""


def _neardup_verify_sql(pairs: str, name: str = "nd") -> str:
    """``name(id_a, id_b, cosine)``: the near-dup verify over the
    ``pairs`` rows — exact cosine at 4 dp, kept at >= 0.3 on the
    rounded value."""
    return f"""{name} AS (SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
      FROM {pairs}) WHERE cosine >= 0.3)"""


def _neardup_tail(pairs: str) -> str:
    return f"""{_neardup_verify_sql(pairs)}
    SELECT id_a, id_b, cosine FROM nd"""


def _ranked_sql(pairs: str, cross_label: bool) -> str:
    """``r``: each anchor's candidate neighbors ranked ``rk`` by cosine
    at 6 dp DESC, then id ASC; ``cross_label`` masks same-label
    pairs (the hard-negative rank)."""
    where = "\n          WHERE a.label <> b.label" if cross_label else ""
    return f"""s AS (SELECT a.vec_id AS vec_id, a.label AS label,
                 b.vec_id AS nid, b.label AS nlabel,
                 ROUND(list_cosine_similarity(a.v, b.v), 6) AS c
          FROM {pairs}{where}),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY c DESC, nid ASC) AS rk FROM s)"""


def _knn_vote_tail(pairs: str, k: int = 5) -> str:
    """Majority label among each anchor's top-``k`` neighbors, ties
    toward the smaller label."""
    return f"""{_ranked_sql(pairs, cross_label=False)},
    v AS (SELECT vec_id, label, nlabel, COUNT(*) AS votes
          FROM r WHERE rk <= {k} GROUP BY 1, 2, 3),
    p AS (SELECT vec_id, label, nlabel AS predicted_label, votes,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY votes DESC, nlabel ASC) AS pr FROM v)
    SELECT vec_id, label, predicted_label,
           CAST(votes AS INTEGER) AS n_agree,
           predicted_label <> label AS mislabeled
    FROM p WHERE pr = 1"""


def _hardneg_tail(pairs: str, k: int = 3) -> str:
    """Each anchor's top-``k`` different-label neighbors, cosine
    emitted at 4 dp."""
    return f"""{_ranked_sql(pairs, cross_label=True)}
    SELECT vec_id, label, nid AS neg_id, nlabel AS neg_label,
           ROUND(c, 4) AS cosine, CAST(rk AS INTEGER) AS rank
    FROM r WHERE rk <= {k}"""


def _semantic_clusters_oracle(cand_ctes: str) -> str:
    """Near-dup verify over ``cand_ctes``' pairs, closed into connected
    components by a recursive CTE (component id = smallest member)."""
    return f"""
    WITH RECURSIVE {_DENSE_E},
    {cand_ctes},
    {_neardup_verify_sql(_CAND_PAIRS)},
    edges AS (SELECT id_a AS a, id_b AS b FROM nd
              UNION SELECT id_b, id_a FROM nd),
    reach AS (SELECT a, b FROM edges
              UNION
              SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a)
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
          FROM reach GROUP BY a)
    """


def _sim_search_lsh_oracle(multiprobe: bool = False) -> str:
    """DuckDB twin of lsh_bucketed_topk(dim=64, k=5, n_planes=6,
    n_tables=3): the hyperplane constants inline as literals, so the
    oracle derives the IDENTICAL candidate set and re-rank — ANN made
    exact-checkable because its randomness is deterministic. With
    ``multiprobe`` the query side's (t, b) keys expand to the
    Hamming<=1 probe set before the bucket join."""
    b = "b"
    if multiprobe:
        probes = ", ".join(["b"] + [f"xor(b, {1 << i})" for i in range(6)])
        b = f"unnest([{probes}])"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
    cb AS ({_lsh_buckets_sql("e", 6, 3)}),
    qb AS (SELECT vec_id AS query_id, t, {b} AS b
           FROM cb WHERE vec_id < 20),
    cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
             FROM qb JOIN cb ON qb.t = cb.t AND qb.b = cb.b),
    scored AS (SELECT c.query_id, c.vec_id,
                      ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
               FROM cand c JOIN e ON e.vec_id = c.vec_id
                           JOIN q ON q.query_id = c.query_id),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """


@register(
    "sim_search_lsh",
    _sim_search_lsh_oracle(),
    doc="ANN top-k via random-hyperplane LSH buckets (3 tables x 6 "
    "planes) + exact cosine re-rank inside the candidate set "
    "(operators/similarity.py lsh_bucketed_topk). The hyperplanes are "
    "deterministic constants inlined into the oracle SQL, so the "
    "DuckDB twin replays candidate generation and re-rank exactly — "
    "a full hash-checked row, not rows-only.",
)
def q_sim_search_lsh(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_bucketed_topk(e, queries, dim=64, k=5, n_planes=6)


@register(
    "multimodal_payload_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ord(substring(text, 1, 1)) AS INTEGER) AS first_byte,
           lower(hex(encode(substring(text, 1, 8)))) AS prefix_hex
    FROM documents
    """,
    doc="Binary-column plumbing: synthesize payload bytes, extract "
    "byte-level metadata via Arrow-batched mapInPandas; oracle checks "
    "the pandas path byte-for-byte (operators/multimodal.py). "
    "Oracle relies on the corpus being ASCII (verified) so "
    "char-slicing equals byte-slicing.",
)
def q_multimodal_payload_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    payloads = multimodal.with_binary_payload(d)
    return multimodal.extract_payload_meta(payloads).select(
        "doc_id", "n_bytes", "first_byte", "prefix_hex"
    )


@register(
    "multimodal_frame_sample",
    """
    WITH p AS (SELECT doc_id, text,
                      GREATEST(octet_length(encode(text)), 1) AS n
               FROM documents),
    s AS (SELECT doc_id, text, n, GREATEST(n // 4, 1) AS step FROM p)
    SELECT doc_id, CAST(i.i AS INTEGER) AS frame_idx,
           lower(hex(encode(substring(text, CAST(i.i * step + 1 AS INTEGER),
                                      CAST(step AS INTEGER))))) AS frame_hex
    FROM s, LATERAL (SELECT unnest(range(0, LEAST(4, n))) AS i) i
    """,
    doc="Frame sampling: 1 binary row -> n frame rows via mapInPandas "
    "(the video-chunking shape; operators/multimodal.py "
    "sample_frames). The frame bytes are deterministic stride slices, "
    "so the oracle replays the same index arithmetic in SQL and the "
    "frames compare as hex; relies on the corpus being ASCII "
    "(verified) so char-slicing equals byte-slicing.",
)
def q_multimodal_frame_sample(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    payloads = multimodal.with_binary_payload(d)
    frames = multimodal.sample_frames(payloads, n_frames=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.lower(F.hex("frame_bytes")).alias("frame_hex"),
    )


@register(
    "events_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND((value) * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="Semi-structured extraction: JSON props column -> typed field "
    "-> aggregate (get_json_object, JVM-side).",
)
def q_events_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round((F.col("value")) * 100).cast("long")) / 100.0).alias("total_value"),
        )
    )


# ======================================================================
# Relational breadth, batch 3: as-of/range joins, pivot, rank suite,
# scalar functions, correlated subqueries, grouping sets, nested types
# ======================================================================


@register(
    "asof_join",
    """
    WITH cand AS (
      SELECT e.event_id, e.user_id, o.o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT event_id, user_id, o_orderkey AS asof_orderkey
    FROM cand WHERE rn = 1
    """,
    doc="As-of join (latest order at or before each event) via the "
    "union-merge window form: O(|L|+|R|), one key exchange, no "
    "match-density blowup (operators/relational.py asof_join). The "
    "oracle states the same semantics as a top-1-per-left-row rank.",
)
def q_asof_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = relational.asof_join(
        ev,
        o,
        on=["user_id"],
        left_time="ts",
        right_time="o_orderdate",
        right_value_cols=["o_orderkey"],
        tiebreak_cols=["o_orderkey"],
    )
    return out.select(
        "event_id", "user_id", F.col("o_orderkey").alias("asof_orderkey")
    )


@register(
    "range_join_bands",
    """
    WITH bands AS (
      SELECT i AS band_id, 900.0 + i * 10.0 AS lo, 910.0 + i * 10.0 AS hi
      FROM generate_series(0, 9) t(i))
    SELECT band_id, CAST(COUNT(p_partkey) AS BIGINT) AS n_parts,
           ROUND(SUM(CAST(ROUND(p_retailprice * 10) AS BIGINT)) / 10.0
                 / COUNT(p_partkey), 2) AS avg_price
    FROM part LEFT JOIN bands
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_id
    """,
    doc="Interval/band join: fact x broadcast range table -> "
    "BroadcastNestedLoopJoin, zero fact shuffle "
    "(operators/relational.py range_join).",
)
def q_range_join_bands(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    # part prices span [900, 1000) in the testdata; 10 bands of 10
    bands = spark.range(0, 10).select(
        F.col("id").cast("int").alias("band_id"),
        (900.0 + F.col("id") * 10.0).alias("lo"),
        (910.0 + F.col("id") * 10.0).alias("hi"),
    )
    joined = relational.range_join(p, bands, "p_retailprice", "lo", "hi")
    return joined.groupBy("band_id").agg(
        F.count("p_partkey").alias("n_parts"),
        (F.round(F.sum(F.round(F.col("p_retailprice") * 10).cast("long"))
                / 10.0 / F.count("p_partkey"), 2)).alias("avg_price"),
    )


@register(
    "pivot_status_priority",
    """
    SELECT o_orderpriority,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 0), 2) AS F,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 0), 2) AS O,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 0), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long->wide) with an explicit value list so the output "
    "schema is static — the scalable form; pivot without values needs "
    "a distinct-scan first.",
)
def q_pivot_status_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2))
    )


@register(
    "window_rank_suite",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(RANK() OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-function suite over a deterministic total order.",
)
def q_window_rank_suite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "scalar_function_suite",
    """
    SELECT o_orderkey,
           upper(substring(o_orderpriority, 3)) AS prio_name,
           length(o_orderpriority) AS prio_len,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                AS INTEGER) AS days_to_eoy,
           ROUND(abs(o_totalprice - 100000.0), 2) AS price_dist,
           ROUND(greatest(o_totalprice, 50000.0), 2) AS floored_price,
           CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'closed' END
             AS status_name,
           coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_or_pending,
           concat(o_orderstatus, '-', o_orderpriority) AS status_prio
    FROM orders
    """,
    doc="Scalar-function surface: string, date arithmetic, extraction, "
    "conditional, null-handling — all codegen'd JVM expressions.",
)
def q_scalar_function_suite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 2147483647)).alias(
            "prio_name"
        ),
        F.length("o_orderpriority").alias("prio_len"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.to_date(F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias(
            "due_date"
        ),
        F.datediff(
            F.lit("1998-12-31").cast("date"), F.to_date("o_orderdate")
        ).alias("days_to_eoy"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias(
            "price_dist"
        ),
        F.round(F.greatest(F.col("o_totalprice"), F.lit(50000.0)), 2).alias(
            "floored_price"
        ),
        F.when(F.col("o_orderstatus") == "O", "open")
        .otherwise("closed")
        .alias("status_name"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending")
        ).alias("status_or_pending"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias(
            "status_prio"
        ),
    )


@register(
    "exists_correlated",
    """
    SELECT o.o_orderkey, ROUND(o.o_totalprice, 2) AS total_price
    FROM orders o
    WHERE o.o_totalprice > (
      SELECT AVG(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey)
    """,
    doc="Correlated scalar subquery (above-customer-average orders) — "
    "decorrelated into a per-key aggregate + self-equi-join, the plan "
    "Catalyst produces for the SQL form too.",
)
def q_exists_correlated(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    avg_per_cust = o.groupBy("o_custkey").agg(
        F.avg("o_totalprice").alias("__avg_price")
    )
    return (
        o.join(avg_per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("__avg_price"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@register(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS with GROUPING() markers (SQL API form "
    "— same Expand+Aggregate plan as rollup/cube).",
)
def q_grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "nested_types_explode",
    """
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS toks
      FROM documents WHERE doc_id < 50)
    SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, toks[u.i] AS tok
    FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
    """,
    doc="Nested-type surface: array column built, posexploded to rows "
    "with ordinal (multimodal_cols checklist item — ArrayType as a "
    "first-class column).",
)
def q_nested_types_explode(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(TXT.tokens("text")).alias("pos", "tok")
    )


@register(
    "percentiles_exact",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (Spark `percentile` == DuckDB "
    "quantile_cont). At 100 TB swap for approx_percentile and accept "
    "sketch error; exact needs a per-group sort.",
)
def q_percentiles_exact(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "stats_aggregates",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 AS sd_,
             SUM(CAST(ROUND(l_discount * l_discount * 10000) AS BIGINT))
               / 10000.0 AS sdd,
             SUM(CAST(l_quantity AS BIGINT)) * 1.0 AS sq,
             SUM(CAST(l_quantity * l_quantity AS BIGINT)) * 1.0 AS sqq,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sp,
             SUM(CAST(ROUND(l_extendedprice * l_extendedprice * 100)
                 AS BIGINT)) / 100.0 AS spp,
             SUM(CAST(ROUND(l_quantity * l_extendedprice * 100) AS BIGINT))
               / 100.0 AS sqp
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           ROUND(sqrt((sdd - sd_ * sd_ / n) / (n - 1)), 6) AS sd_discount,
           ROUND((sqq - sq * sq / n) / (n - 1), 4) AS var_qty,
           ROUND((sqp - sq * sp / n)
                 / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)), 6)
             AS corr_qty_price,
           ROUND((sqp - sq * sp / n) / (n - 1), 2) AS cov_qty_price
    FROM m
    """,
    doc="Statistical aggregates (stddev/var/corr/covar) computed from "
    "EXACT integer moment sums (values are fixed-point: discounts 2dp, "
    "quantities integral, prices 2dp), so both engines evaluate the "
    "identical closed form — built-in Welford-style accumulators are "
    "summation-order-dependent and flake at rounding boundaries "
    "(the q10 failure class). At true 100 TB scale the two-pass moment "
    "form also beats per-row state merging.",
)
def q_stats_aggregates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c, scale: F.round(c * scale).cast("long")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(cents(F.col("l_discount"), 100)) / 100.0).alias("sd_"),
        (
            F.sum(cents(F.col("l_discount") * F.col("l_discount"), 10000))
            / 10000.0
        ).alias("sdd"),
        (F.sum(F.col("l_quantity").cast("long")) * 1.0).alias("sq"),
        (
            F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("long"))
            * 1.0
        ).alias("sqq"),
        (F.sum(cents(F.col("l_extendedprice"), 100)) / 100.0).alias("sp"),
        (
            F.sum(cents(F.col("l_extendedprice") * F.col("l_extendedprice"), 100))
            / 100.0
        ).alias("spp"),
        (
            F.sum(cents(F.col("l_quantity") * F.col("l_extendedprice"), 100))
            / 100.0
        ).alias("sqp"),
    )
    n, sd_, sdd = F.col("n"), F.col("sd_"), F.col("sdd")
    sq, sqq = F.col("sq"), F.col("sqq")
    sp, spp, sqp = F.col("sp"), F.col("spp"), F.col("sqp")
    return m.select(
        "l_returnflag",
        F.round(F.sqrt((sdd - sd_ * sd_ / n) / (n - 1)), 6).alias(
            "sd_discount"
        ),
        F.round((sqq - sq * sq / n) / (n - 1), 4).alias("var_qty"),
        F.round(
            (sqp - sq * sp / n)
            / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)),
            6,
        ).alias("corr_qty_price"),
        F.round((sqp - sq * sp / n) / (n - 1), 2).alias("cov_qty_price"),
    )


@register(
    "width_bucket_histogram",
    """
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
    doc="Fixed-grid histogram (explicit floor arithmetic — DuckDB 1.0 "
    "lacks width_bucket) — the shuffle key is the bucket id, tiny "
    "cardinality, fully parallel partial aggs.",
)
def q_width_bucket_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000.0).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# ======================================================================
# Relational breadth, batch 4: TPC-H-style decorrelation shapes
# ======================================================================


@register(
    "q2_min_per_group_joinback",
    """
    WITH min_price AS (
      SELECT p_type, MIN(p_retailprice) AS min_price
      FROM part GROUP BY p_type)
    SELECT p.p_partkey, p.p_type, ROUND(p.p_retailprice, 2) AS price
    FROM part p JOIN min_price m
      ON p.p_type = m.p_type AND p.p_retailprice = m.min_price
    """,
    doc="TPC-H Q2 shape: min-per-group then join back to recover the "
    "full row (the classic argmin pattern when max_by can't carry "
    "every column).",
)
def q2_min_per_group_joinback(spark, sf_dir):
    p = _t(spark, sf_dir, "part").alias("p")
    min_price = (
        _t(spark, sf_dir, "part")
        .groupBy(F.col("p_type").alias("mp_type"))
        .agg(F.min("p_retailprice").alias("min_price"))
        .alias("m")
    )
    return (
        p.join(
            F.broadcast(min_price),
            (F.col("p.p_type") == F.col("m.mp_type"))
            & (F.col("p.p_retailprice") == F.col("m.min_price")),
        )
        .select(
            F.col("p.p_partkey").alias("p_partkey"),
            F.col("p.p_type").alias("p_type"),
            F.round(F.col("p.p_retailprice"), 2).alias("price"),
        )
    )


@register(
    "q4_exists_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4: EXISTS with a correlated inequality -> left-semi "
    "join with a post-join filter condition.",
)
def q4_exists_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="TPC-H Q13: outer join preserving empty groups, then a "
    "histogram of group sizes (two-level aggregation).",
)
def q13_customer_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q16_notin_distinct",
    """
    SELECT p_brand, p_type,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    """,
    doc="TPC-H Q16 shape: NOT IN subquery -> null-aware left-anti join "
    "(a NULL l_suppkey, or a NULL in the excluded set, drops the row "
    "unless the excluded set is empty, as SQL's NOT IN does) + "
    "distinct aggregation.",
)
def q16_notin_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    # `a = b OR isnull(a = b)` is NOT IN's anti-join condition; Catalyst
    # plans it as its single-column null-aware anti join.
    eq = li.l_suppkey == bad_supp.s_suppkey
    filtered = li.join(bad_supp, eq | eq.isNull(), "left_anti")
    return (
        filtered.join(F.broadcast(p), filtered.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q18_large_orders",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price,
           ROUND(sum_qty, 2) AS sum_qty
    FROM orders JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150) big
      ON o_orderkey = big.l_orderkey
    """,
    doc="TPC-H Q18 shape: IN over a HAVING aggregate -> pre-aggregate "
    "then equi-join (Catalyst's decorrelation of the IN form).",
)
def q18_large_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("sum_qty", 2).alias("sum_qty"),
    )


@register(
    "map_type_ops",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(lower(text), '[^a-z0-9]+'))
                AS INTEGER) AS n_raw,
           lower(source) AS src_key,
           CAST(n_chars AS BIGINT) AS src_val
    FROM documents WHERE doc_id < 100
    """,
    doc="MapType surface: build map<string,bigint> from columns, "
    "access by key, enumerate keys (map_from_arrays / element_at). "
    "The oracle states the equivalent flat projection — the map is "
    "transparent to results by construction.",
)
def q_map_type_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    withmap = d.select(
        "doc_id",
        F.split(F.lower("text"), "[^a-z0-9]+").alias("__raw"),
        F.create_map(
            F.lower("source"), F.col("n_chars").cast("long")
        ).alias("m"),
    )
    return withmap.select(
        "doc_id",
        F.size("__raw").alias("n_raw"),
        F.explode("m").alias("src_key", "src_val"),
    )


@register(
    "salted_agg_skew",
    """
    SELECT o_custkey,
           SUM(CAST(ROUND((o_totalprice) * 100) AS BIGINT)) / 100.0 AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY o_custkey
    """,
    doc="Skew-tolerant two-phase salted aggregation — result is "
    "EQUAL to the plain groupBy (the oracle states exactly that); "
    "the first shuffle spreads each key over 16 salt partitions "
    "(operators/skew.py salted_sum_count).",
)
def q_salted_agg_skew(spark, sf_dir):
    from pyspark_scd_spark.operators import skew

    o = _t(spark, sf_dir, "orders").withColumn(
        "price_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    out = skew.salted_sum_count(o, ["o_custkey"], ["price_cents"], n_salts=16)
    return out.select(
        "o_custkey",
        (F.col("sum_price_cents") / 100.0).alias("spend"),
        "n_rows",
    )


@register(
    "agg_salted_hotkey",
    """
    SELECT CASE WHEN l_linenumber >= 2 THEN 'hot'
                ELSE 'cold-' || CAST(l_suppkey AS VARCHAR) END AS skew_key,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0
             AS revenue,
           SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY 1
    """,
    doc="Salted aggregation under a DELIBERATE hot key: ~6/7 of all "
    "lineitem rows collapse onto one derived key ('hot'), the shape "
    "that pins a naive groupBy's final stage on a single task once "
    "per-key state outgrows the map-side hash (distinct-heavy aggs, "
    "collect_list, huge groups). The salted form's first exchange "
    "spreads the hot key across 32 salt partitions; the second "
    "merges 32 partial rows per key. Result is EQUAL to the plain "
    "groupBy — the oracle states exactly that; integer-cents sums "
    "keep it order-independent, so the equality is hash-exact "
    "(operators/skew.py salted_sum_count; SCALING.md hot-key study).",
)
def q_agg_salted_hotkey(spark, sf_dir):
    from pyspark_scd_spark.operators import skew

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_linenumber") >= 2, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold-"), F.col("l_suppkey").cast("string")))
        .alias("skew_key"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("rev_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = skew.salted_sum_count(
        li, ["skew_key"], ["rev_cents", "qty"], n_salts=32
    )
    return out.select(
        "skew_key",
        (F.col("sum_rev_cents") / 100.0).alias("revenue"),
        F.col("sum_qty").alias("sum_qty"),
        "n_rows",
    )


@register(
    "agg_hotkey_distinct",
    """
    SELECT CASE WHEN l_linenumber >= 2 THEN 'hot'
                ELSE 'cold-' || CAST(l_suppkey AS VARCHAR) END AS skew_key,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY 1
    """,
    doc="STATE-HEAVY aggregation under the same deliberate hot key "
    "as agg_salted_hotkey (~6/7 of lineitem on one derived key): "
    "distinct l_partkey count per key via the two-phase form the "
    "round-10 hot-key study proved out (operators/skew.py "
    "two_phase_distinct_agg; SCALING.md: naive collect_set held a "
    "5.1M-member set in ONE task). Phase 1 dedups on (key, member) "
    "— the hot key spreads across the member diversity and map-side "
    "combine caps shipped rows at distinct pairs per partition; "
    "phase 2's per-key state is two counters, never a member set. "
    "The oracle states the equivalence to plain COUNT(DISTINCT).",
)
def q_agg_hotkey_distinct(spark, sf_dir):
    from pyspark_scd_spark.operators import skew

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_linenumber") >= 2, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold-"), F.col("l_suppkey").cast("string")))
        .alias("skew_key"),
        "l_partkey",
    )
    return skew.two_phase_distinct_agg(li, ["skew_key"], "l_partkey")


@register(
    "doc_winnow_fingerprint",
    r"""
    WITH n AS (SELECT doc_id,
                      trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
               FROM documents),
    g AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                 CAST(CAST(('0x' || substr(md5(substr(t,
                      CAST(i.i AS INTEGER), 5)), 1, 15)) AS UBIGINT)
                      AS BIGINT) AS h
          FROM n, LATERAL (SELECT unnest(range(1,
               GREATEST(length(t), 5) - 5 + 2)) AS i) i),
    w AS (SELECT doc_id, pos, h,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS wmin,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
          FROM g)
    SELECT DISTINCT doc_id, wmin AS fingerprint
    FROM w WHERE pos <= n_grams - 3
    """,
    doc="Winnowing fingerprints (MOSS rolling k-gram hash + window "
    "min): shared substrings of length >= k+w-1 guarantee shared "
    "fingerprints; dedup joins on the fingerprint rows. Gram hash is "
    "the 60-bit md5 prefix so the oracle replays it exactly "
    "(functions/text.py winnow_fingerprint_rows hash_fn='md5'; "
    "xxhash64 fast path remains for production).",
)
def q_doc_winnow_fingerprint(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return TXT.winnow_fingerprint_rows(
        d.select("doc_id", "text"), hash_fn="md5"
    )


@register(
    "sim_search_ivf",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
    cells AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY ROUND(list_cosine_similarity(v, cv), 9) DESC,
                          c DESC) AS rn
      FROM e CROSS JOIN cent),
    assign AS (SELECT vec_id, c AS ivf_cell FROM cells WHERE rn = 1),
    corp AS (SELECT e.vec_id, e.v, a.ivf_cell
             FROM e JOIN assign a USING (vec_id)),
    q AS (SELECT vec_id AS query_id, v AS qv, ivf_cell
          FROM corp WHERE vec_id >= 100 AND vec_id < 110),
    s AS (SELECT q.query_id, corp.vec_id,
                 ROUND(list_cosine_similarity(corp.v, q.qv), 6) AS cosine
          FROM corp JOIN q USING (ivf_cell)),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s)
    SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """,
    doc="IVF-partitioned ANN: corpus assigned to centroid cells "
    "(deterministic centroids = 8 lowest-id vectors, scores rounded "
    "9dp with larger-cell tie-break), queries probe only their own "
    "cell, exact cosine re-rank inside — at rest the corpus is "
    "partitioned by ivf_cell so a probe scans one partition. The "
    "oracle replays assignment + probe + re-rank exactly "
    "(operators/similarity.py ivf_assign).",
)
def q_sim_search_ivf(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity
    from pyspark_scd_spark.functions import vectors as V

    e = _t(spark, sf_dir, "embeddings")
    # deterministic centroids: the 8 lowest-id embeddings
    centroids = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    corpus = similarity.ivf_assign(e, centroids)
    queries = similarity.ivf_assign(
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)),
        centroids,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        "ivf_cell",
    )
    scored = corpus.join(F.broadcast(queries), "ivf_cell").select(
        "query_id",
        "vec_id",
        F.round(V.cosine(F.col("embedding"), F.col("__qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@register(
    "collect_list_ordered",
    """
    SELECT o_custkey,
           list(o_orderkey ORDER BY o_orderkey) AS order_keys,
           string_agg(o_orderstatus, ',' ORDER BY o_orderkey)
             AS status_concat
    FROM orders
    WHERE o_custkey < 100
    GROUP BY o_custkey
    """,
    doc="Ordered array/string aggregation: collect_list has no "
    "deterministic order in a distributed agg, so determinism comes "
    "from collecting (sort_key, value) structs and sorting the array "
    "after the fact — the scalable pattern for ordered group concat.",
)
def q_collect_list_ordered(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    packed = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list(F.col("o_orderkey"))).alias("order_keys"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("o_orderkey", "o_orderstatus")
                    )
                ),
                lambda s: s["o_orderstatus"],
            ),
            ",",
        ).alias("status_concat"),
    )
    return packed


@register(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY
             CAST(o_orderdate AS DATE)
             RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
             AS BIGINT) AS orders_trailing_90d
    FROM orders
    """,
    doc="RANGE frame over event time: trailing-90-day count per "
    "customer — value-based frames, not row-based.",
)
def q_window_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_date", F.to_date("o_orderdate")
    )
    o.createOrReplaceTempView("__rf_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, order_date,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY order_date
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
                 AS orders_trailing_90d
        FROM __rf_orders
        """
    )


@register(
    "first_last_value",
    """
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER w AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value with explicit full frames (the "
    "default frame makes last_value a footgun — reference's running-"
    "max bug class, SURVEY.md §2 #7).",
)
def q_first_last_value(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    ).distinct()


@register(
    "variant_semi_structured",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    GROUP BY 1
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json once into "
    "a binary variant, then typed try_variant_get extraction — unlike "
    "get_json_object, repeated field reads don't re-parse the JSON "
    "text. Oracle states the same result via DuckDB JSON functions.",
)
def q_variant_semi_structured(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "int")
    return (
        v.select(k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "hash_split_sample",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS INTEGER) AS bucket
      FROM documents)
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
    doc="Deterministic train/valid/test split: md5-prefix bucket per "
    "key — reproducible across runs, engines, and cluster sizes "
    "(unlike rand()-based sampling), and stable under data growth: a "
    "document never changes split when others are added.",
)
def q_hash_split_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    ).cast("int")
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "udtf_word_positions",
    r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 20)
    SELECT doc_id, toks[u.i] AS word, CAST(u.i - 1 AS INTEGER) AS pos
    FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
    """,
    doc="Python UDTF (Spark 4): table function exploding words with "
    "positions via LATERAL join — the UDF tier for one-row-to-many "
    "transforms where arrays don't fit (stateful generators, "
    "external parsers).",
)
def q_udtf_word_positions(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class WordPositions:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("__word_positions", WordPositions)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT doc_id, t.word, t.pos
        FROM __udtf_docs, LATERAL __word_positions(text) t
        """
    )


@register(
    "approx_distinct_hll",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS parts_err_le_5pct,
           TRUE AS orders_err_le_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="HyperLogLog++ approximate distinct counts (2% target rsd): "
    "the sketch path for cardinality at 100 TB — mergeable partial "
    "sketches, constant memory, vs the exact count's expand+2-phase. "
    "Driver-checkable via the bounded-error contract: the query emits "
    "the EXACT counts (oracle-replayable) plus booleans asserting the "
    "sketch landed within ±5% relative error — the green row asserts "
    "the error bound, since a second engine cannot replay the sketch "
    "registers themselves. The raw estimates stay under the pytest "
    "tolerance check (tests/test_llm_ops.py).",
)
def q_approx_distinct_hll(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__ao"),
        F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        F.countDistinct("l_orderkey").cast("long").alias("exact_orders"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within("__ap", "exact_parts").alias("parts_err_le_5pct"),
        within("__ao", "exact_orders").alias("orders_err_le_5pct"),
    )


@register(
    "array_function_suite",
    """
    WITH t AS (SELECT doc_id,
        list_distinct(list_filter(string_split_regex(lower(text),
            '[^a-z0-9]+'), x -> x <> '')) AS toks
      FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           list_sort(list_intersect(toks,
             ['the','a','of','and','to','in','is'])) AS stop_overlap,
           CAST(len(list_distinct(list_concat(toks,
             ['the','a','of','and','to','in','is']))) AS INTEGER)
             AS n_union,
           list_contains(toks, 'spark') AS mentions_spark
    FROM t
    """,
    doc="Array set algebra (intersect/union/contains) over token "
    "arrays — results sorted on both engines because set ops have no "
    "canonical order (DuckDB list_intersect returns reverse order).",
)
def q_array_function_suite(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    stop = F.array(
        *[F.lit(w) for w in ["the", "a", "of", "and", "to", "in", "is"]]
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    d = d.select(
        "doc_id", F.array_distinct(TXT.tokens("text")).alias("toks")
    )
    return d.select(
        "doc_id",
        F.sort_array(F.array_intersect("toks", stop)).alias("stop_overlap"),
        F.size(F.array_distinct(F.array_union("toks", stop))).alias("n_union"),
        F.array_contains("toks", "spark").alias("mentions_spark"),
    )


@register(
    "q14_promo_ratio",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) ELSE 0 END)
                 / SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)), 4)
             AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
    doc="TPC-H Q14 shape: ratio of conditional aggregates over a "
    "broadcast dim join.",
)
def q14_promo_ratio(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    p = _t(spark, sf_dir, "part")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo_cents = F.when(
        F.col("p_type").like("PROMO%"), rev_cents
    ).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo_cents) / F.sum(rev_cents), 4
            ).alias("promo_pct")
        )
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunctive multi-table predicates — "
    "Catalyst extracts the common join key and pushes per-side "
    "conjuncts below the join.",
)
def q19_disjunctive_predicates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(c1 | c2 | c3).agg(
        (F.sum(F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast("long")) / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q22_inactive_customers",
    """
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           SUM(CAST(ROUND((c_acctbal) * 100) AS BIGINT)) / 100.0 AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: scalar-subquery threshold (broadcast 1-row) "
    "+ NOT EXISTS anti-join + aggregate.",
)
def q22_inactive_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("a")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    inactive = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum(F.round((F.col("c_acctbal")) * 100).cast("long")) / 100.0).alias("totacctbal"),
    )


@register(
    "multimodal_resize",
    """
    WITH p AS (SELECT doc_id, text, octet_length(encode(text)) AS n
               FROM documents),
    s AS (SELECT doc_id, text, n, GREATEST(n // 64, 1) AS stride FROM p),
    f AS (SELECT doc_id, n, i.i AS i,
                 substring(text, CAST(1 + i.i * stride AS INTEGER), 1) AS ch
          FROM s, LATERAL (SELECT unnest(range(0,
               LEAST(64, CAST(CEIL(n * 1.0 / stride) AS BIGINT)))) AS i) i)
    SELECT doc_id,
           lower(hex(encode(string_agg(ch, '' ORDER BY i)))) AS resized_hex,
           CAST(MAX(n) AS BIGINT) AS n_bytes_in,
           CAST(COUNT(*) AS BIGINT) AS n_bytes_out
    FROM f GROUP BY doc_id
    """,
    doc="Resize/downsample: binary payload in -> smaller binary out "
    "via Arrow-batched mapInPandas (deterministic stride sampling "
    "payload[::stride][:64], the resize shape without a codec "
    "resample). The oracle replays the stride arithmetic "
    "per byte position and compares the resized payload as hex "
    "(ASCII corpus: char positions == byte positions) "
    "(operators/multimodal.py resize_payload).",
)
def q_multimodal_resize(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    out = multimodal.resize_payload(multimodal.with_binary_payload(d))
    return out.select(
        "doc_id",
        F.lower(F.hex("resized")).alias("resized_hex"),
        "n_bytes_in",
        "n_bytes_out",
    )


# The deterministic audio signal both engines replay: doc i carries
# 64 + (i % 193) mono PCM16 frames at 8 kHz, frame j =
# ((i*7919 + j*104729) % 65536) - 32768 (multimodal.AUDIO
# constants). The Spark side round-trips these through REAL WAV
# bytes (vendored RIFF encoder -> chunk-walking decoder,
# functions/audiocodec.py); the oracle recomputes the integer signal
# directly — a hash match proves the container parse and PCM unpack
# are exact, the imagecodec playbook applied to audio.
_AUDIO_SIG_CTE = """
    s AS (SELECT doc_id, i.i AS j,
                 ((doc_id * 7919 + i.i * 104729) % 65536) - 32768 AS samp
          FROM documents,
          LATERAL (SELECT unnest(range(0, 64 + doc_id % 193)) AS i) i)
"""


@register(
    "multimodal_audio_meta",
    f"""
    WITH {_AUDIO_SIG_CTE}
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(16 AS INTEGER) AS bits_per_sample,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(*) * 1000000 // 8000 AS BIGINT) AS duration_us,
           CAST(MAX(ABS(samp)) AS INTEGER) AS peak_abs,
           CAST(SUM(samp * samp) AS BIGINT) AS sum_squares
    FROM s GROUP BY doc_id
    """,
    doc="Audio modality, header+signal features: synthesize real WAV "
    "payloads (vendored RIFF/PCM encoder), decode them back with the "
    "chunk-walking parser, emit header meta plus peak/sum-of-squares "
    "over the PCM frames (operators/multimodal.py "
    "decode_audio_features). peak_abs and sum_squares depend on "
    "every decoded sample, so the hash check proves the byte-level "
    "WAV parse, not just the plumbing.",
)
def q_multimodal_audio_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.decode_audio_features(
        multimodal.with_audio_payload(d)
    )


@register(
    "multimodal_audio_energy",
    f"""
    WITH {_AUDIO_SIG_CTE}
    SELECT doc_id,
           CAST(j // 16 AS INTEGER) AS win_idx,
           CAST(COUNT(*) AS INTEGER) AS n_samples,
           CAST(SUM(samp * samp) AS BIGINT) AS energy
    FROM s GROUP BY doc_id, j // 16
    """,
    doc="Windowed audio energy: decode the WAV PCM frames and emit "
    "one row per 16-frame window with its integer sum of squares — "
    "the 1-row-in/n-rows-out audio chunking shape (VAD / silence "
    "trim / loudness segmentation). Integer math end to end; the "
    "oracle replays the signal and windowing exactly "
    "(operators/multimodal.py audio_window_energy).",
)
def q_multimodal_audio_energy(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.audio_window_energy(
        multimodal.with_audio_payload(d), window=16
    )


@register(
    "multimodal_png_meta",
    """
    WITH d AS (SELECT doc_id,
                      8 + doc_id % 5 AS w,
                      5 + doc_id % 4 AS h
               FROM documents),
    px AS (SELECT doc_id, w, h, yy.y AS y, xx.x AS x
           FROM d,
           LATERAL (SELECT unnest(range(0, h)) AS y) yy,
           LATERAL (SELECT unnest(range(0, w)) AS x) xx)
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(SUM((doc_id*31 + y*13 + x*7) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id*31 + y*13 + x*7 + 101) % 256) AS BIGINT)
             AS sum_g,
           CAST(SUM((doc_id*31 + y*13 + x*7 + 202) % 256) AS BIGINT)
             AS sum_b,
           CAST(MAX((doc_id*31 + y*13 + x*7) % 256) AS INTEGER) AS max_r
    FROM px GROUP BY doc_id
    """,
    doc="PNG modality — the first COMPRESSED format in the vendored "
    "codec family (operators/multimodal.py with_png_payload / "
    "png_pixel_stats; functions/imagecodec.py encode_png/_decode_png): "
    "synthesize real zlib-compressed PNGs whose rows rotate through "
    "all five scanline filters, decode them back (chunk walk + CRC "
    "verify + stdlib inflate + unfilter), emit integer per-channel "
    "pixel sums. The oracle replays the deterministic pixel signal "
    "directly — a hash match proves the inflate and every filter "
    "reconstruction byte for byte, the WAV/Y4M playbook applied to "
    "a real web format. JPEG and FLAC joined the family in r8 "
    "(multimodal_jpeg_meta, multimodal_flac_meta).",
)
def q_multimodal_png_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.png_pixel_stats(
        multimodal.with_png_payload(d)
    )


@register(
    "multimodal_gif_meta",
    """
    WITH d AS (SELECT doc_id,
                      8 + doc_id % 5 AS w,
                      5 + doc_id % 4 AS h
               FROM documents),
    px AS (SELECT doc_id, w, h,
                  (doc_id*7 + yy.y*11 + xx.x*3) % 64 AS idx
           FROM d,
           LATERAL (SELECT unnest(range(0, h)) AS y) yy,
           LATERAL (SELECT unnest(range(0, w)) AS x) xx)
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(64 AS INTEGER) AS n_palette,
           CAST(SUM(idx) AS BIGINT) AS sum_idx,
           CAST(MAX(idx) AS INTEGER) AS max_idx,
           CAST(SUM((idx * 37) % 256) AS BIGINT) AS sum_r
    FROM px GROUP BY doc_id
    """,
    doc="GIF modality — the family's first ENTROPY-CODED format "
    "(operators/multimodal.py with_gif_payload / gif_pixel_stats; "
    "functions/gifcodec.py): synthesize real GIF87a payloads with a "
    "genuine dictionary-building LZW encoder, decode them back "
    "(block walk, LSB-first bit unpack, variable code width, KwKwK "
    "dictionary reconstruction, 4096-entry clear/rebuild), emit "
    "index sums plus a palette-routed channel sum. The oracle "
    "replays the deterministic index/palette signal — a hash match "
    "proves the LZW decode and the color-table parse byte for byte. "
    "With PNG (zlib) and GIF (LZW) real, the remaining codec gates "
    "were JPEG/FLAC, both closed in r8 (multimodal_jpeg_meta, "
    "multimodal_flac_meta); LPC/stereo FLAC and progressive JPEG "
    "stay the documented out-of-envelope gates.",
)
def q_multimodal_gif_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.gif_pixel_stats(
        multimodal.with_gif_payload(d)
    )


@register(
    "multimodal_jpeg_meta",
    """
    WITH d AS (SELECT doc_id,
                      16 + 8*(doc_id % 3) AS w,
                      8 + 8*(doc_id % 2) AS h
               FROM documents),
    px AS (SELECT doc_id, w, h, cc.c AS c,
                  3 + (doc_id*31 + cc.c*101 + (xx.x // 8)*13
                       + (yy.y // 8)*7) % 250
                  + ((((doc_id*17 + cc.c*29 + (xx.x // 8)*5
                        + (yy.y // 8)*3) % 7) - 3)
                     * (CASE WHEN (xx.x % 8) % 4 IN (0, 3)
                             THEN 1 ELSE -1 END)
                     * (CASE WHEN (yy.y % 8) % 4 IN (0, 3)
                             THEN 1 ELSE -1 END)) AS val
           FROM d,
           LATERAL (SELECT unnest(range(0, 3)) AS c) cc,
           LATERAL (SELECT unnest(range(0, h)) AS y) yy,
           LATERAL (SELECT unnest(range(0, w)) AS x) xx)
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS n_components,
           CAST(SUM(CASE WHEN c = 0 THEN val ELSE 0 END) AS BIGINT)
             AS sum_y,
           CAST(SUM(CASE WHEN c = 1 THEN val ELSE 0 END) AS BIGINT)
             AS sum_cb,
           CAST(SUM(CASE WHEN c = 2 THEN val ELSE 0 END) AS BIGINT)
             AS sum_cr,
           CAST(SUM(CASE WHEN c = 0 THEN val*val ELSE 0 END)
                AS BIGINT) AS sumsq_y,
           CAST(MAX(CASE WHEN c = 0 THEN val END) AS INTEGER) AS max_y
    FROM px GROUP BY doc_id
    """,
    doc="JPEG modality — the flagship LOSSY web format, closing the "
    "vendored codec family (operators/multimodal.py "
    "with_jpeg_payload / jpeg_component_stats; functions/jpegcodec.py "
    "encode_jpeg/decode): synthesize real baseline JPEGs whose 8x8 "
    "blocks carry energy only at the two RATIONAL-basis positions — "
    "DC and AC(4,4) — so the decode is pixel-exact (v + k*s(x)*s(y), "
    "s = [+,-,-,+,+,-,-,+]) while the bitstream exercises the full "
    "baseline machinery: 4 canonical Huffman tables parsed from DHT, "
    "double-ZRL runs to zigzag 39, EOB, DC prediction across MCUs, "
    "0xFF byte unstuffing, dequant, and a real float 2D IDCT. The "
    "oracle replays the samples per pixel; sumsq_y is the statistic "
    "that pins the AC path (plain sums are invariant to the "
    "zero-mean AC basis). Full documents table like PNG/GIF "
    "(~0.5ms/doc pure-python entropy coding, Arrow-parallel). "
    "YCbCr->RGB is deliberately NOT applied (irrational matrix; "
    "component stats are the decode proof).",
)
def q_multimodal_jpeg_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.jpeg_component_stats(
        multimodal.with_jpeg_payload(d)
    )


@register(
    "multimodal_flac_meta",
    """
    WITH d AS (SELECT doc_id,
                      300 + (doc_id % 5) * 50 AS n,
                      8000 + (doc_id % 3) * 4000 AS sr
               FROM documents),
    s AS (SELECT doc_id, sr, n,
                 ((doc_id*37 + t.t*13) % 4001) - 2000 AS v
          FROM d, LATERAL (SELECT unnest(range(0, n)) AS t) t)
    SELECT doc_id,
           CAST(MAX(sr) AS INTEGER) AS sample_rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(SUM(v*v) AS BIGINT) AS sumsq_s,
           CAST(MIN(v) AS INTEGER) AS min_s,
           CAST(MAX(v) AS INTEGER) AS max_s
    FROM s GROUP BY doc_id
    """,
    doc="FLAC modality — compressed LOSSLESS audio, closing the last "
    "codec gate the multimodal family documented "
    "(operators/multimodal.py with_flac_payload / flac_sample_stats; "
    "functions/flaccodec.py): synthesize real FLAC streams "
    "(STREAMINFO with the PCM md5, fixed-predictor subframes, "
    "rice-coded residual partitions, CRC-8 headers + CRC-16 frames) "
    "from a sawtooth whose order-2 residuals are zero between wraps "
    "and spike at them — the shape rice coding is built for (the "
    "smooth-signal payload compresses ~4x) — then decode them back "
    "through the real entropy layer: frame sync, unary/rice decode, "
    "prediction reconstruction, both CRCs verified, STREAMINFO md5 "
    "checked over the decoded PCM. Lossless, so the oracle replays "
    "the sample formula directly with no rounding story (contrast "
    "multimodal_jpeg_meta's rational-basis trick). LPC subframes and "
    "stereo decorrelation stay outside the documented envelope.",
)
def q_multimodal_flac_meta(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.flac_sample_stats(
        multimodal.with_flac_payload(d)
    )


@register(
    "multimodal_video_frame_stats",
    """
    WITH d AS (SELECT doc_id,
                      8 + (doc_id % 5) * 2 AS w,
                      6 + (doc_id % 3) * 2 AS h,
                      2 + doc_id % 4 AS n
               FROM documents),
    px AS (SELECT doc_id, w, h, f.f AS f, yy.y AS y, xx.x AS x
           FROM d,
           LATERAL (SELECT unnest(range(0, n)) AS f) f,
           LATERAL (SELECT unnest(range(0, h)) AS y) yy,
           LATERAL (SELECT unnest(range(0, w)) AS x) xx)
    SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM((doc_id*31 + f*97 + y*13 + x*7) % 256) AS BIGINT)
             AS sum_y,
           CAST(SUM((doc_id*17 + f*53 + y*11 + x*3) % 256) AS BIGINT)
             AS sum_u,
           CAST(SUM((doc_id*29 + f*71 + y*5 + x*19) % 256) AS BIGINT)
             AS sum_v,
           CAST(MAX((doc_id*31 + f*97 + y*13 + x*7) % 256) AS INTEGER)
             AS max_y
    FROM px GROUP BY doc_id, f
    """,
    doc="Video modality: synthesize real YUV4MPEG2 streams (vendored "
    "C444 encoder — the ffmpeg pipe format), decode them back with "
    "the chunk parser, emit per-frame plane sums and the luma peak "
    "(operators/multimodal.py video_frame_stats / functions/"
    "videocodec.py). The 1-in/n-frames-out video shape; the sums "
    "depend on every decoded pixel, so the hash check proves the "
    "byte-level container parse and plane split. Completes the "
    "image/audio/video triad of REAL in-sandbox decoders; "
    "compressed codecs stay NotImplementedError-gated.",
)
def q_multimodal_video_frame_stats(spark, sf_dir):
    from pyspark_scd_spark.operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.video_frame_stats(
        multimodal.with_video_payload(d)
    )


_SCD_COMPOSITE_SQL = """
WITH snaps AS (
  SELECT l_partkey, l_suppkey, snap_date, l_quantity, l_returnflag FROM (
    SELECT l_partkey, l_suppkey, CAST(l_shipdate AS DATE) AS snap_date,
           l_quantity, l_returnflag,
           ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey,
                              CAST(l_shipdate AS DATE)
                              ORDER BY l_orderkey DESC, l_linenumber DESC)
             AS rn
    FROM lineitem) WHERE rn = 1),
h AS (
  SELECT *, sha256(concat_ws('||', CAST(CAST(l_quantity AS INTEGER)
           AS VARCHAR), l_returnflag)) AS row_hash
  FROM snaps),
s AS (
  SELECT *,
    MIN(snap_date) OVER w AS min_t,
    MAX(snap_date) OVER w AS max_t,
    LAG(row_hash)  OVER wo AS prev_hash,
    LEAD(row_hash) OVER wo AS next_hash,
    MAX(snap_date) OVER () AS global_max_t
  FROM h
  WINDOW w  AS (PARTITION BY l_partkey, l_suppkey),
         wo AS (PARTITION BY l_partkey, l_suppkey ORDER BY snap_date)),
st AS (
  SELECT *,
    CASE WHEN snap_date = min_t THEN 'New'
         WHEN next_hash IS NULL AND max_t <> global_max_t THEN 'Deleted'
         WHEN prev_hash <> row_hash THEN 'Changed'
         ELSE 'No Change' END AS change_status
  FROM s)
SELECT l_partkey, l_suppkey, snap_date, change_status
FROM st
"""


@register(
    "scd_composite_key",
    _SCD_COMPOSITE_SQL,
    doc="SCD change classification over a COMPOSITE entity key "
    "(part, supplier) on the 4x-larger lineitem table — exercises the "
    "multi-column key_cols path of the same single-shuffle pipeline.",
)
def q_scd_composite_key(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    snaps = li.select(
        "l_partkey",
        "l_suppkey",
        F.to_date("l_shipdate").alias("snap_date"),
        # stringify exactly as the oracle does: quantity is integral
        F.col("l_quantity").cast("int").cast("string").alias("l_quantity"),
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
    )
    keys = ["l_partkey", "l_suppkey"]
    df = scd.snapshot_dedup_aligned(
        snaps, keys, "snap_date", tiebreak_cols=["l_orderkey", "l_linenumber"]
    )
    df = scd.with_row_hash(df, ["l_quantity", "l_returnflag"])
    df = scd.with_change_status(
        df, keys, "snap_date", global_max_source=snaps.select("snap_date")
    )
    return df.select(
        "l_partkey", "l_suppkey", "snap_date", "change_status"
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0) / 7.0, 2) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l1
    WHERE l_quantity < (
      SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated average threshold per part — "
    "decorrelated into a per-part aggregate joined back to the fact.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(per_part, li.l_partkey == F.col("pp_key"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.round((F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0) / 7.0, 2)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ----------------------------------------------------------------------
# TPC-H Q21: the correlated EXISTS / NOT EXISTS pair over lineitem as
# window facts on the order key (WinMagic, Zuzarte et al. SIGMOD 2003),
# with the orders side tagged into the same window instead of joined:
# both sides share the one hash exchange on l_orderkey.
# ----------------------------------------------------------------------


_BY_ORDER = "OVER (PARTITION BY l_orderkey)"


def _q21_lines(spark, sf_dir, col: str, *facts: str) -> DataFrame:
    """Lineitem rows (``l_orderkey``, ``l_suppkey``, ``col``) tagged
    ``f = 0`` and the status-F order keys tagged ``f = 1``, unioned,
    with the per-order facts over one ``l_orderkey`` window: ``n_f``,
    the order's F rows (the orders join's multiplicity), ``nsupp``, its
    distinct non-NULL suppliers (a TPC-H order has at most 7 lines),
    and the SQL expressions ``facts``. Each window level is one
    ``selectExpr``: a py4j round trip instead of one per Column."""
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_suppkey", col, "0 AS f"
    )
    # A NULL key joins nothing, so it gets no F row to count.
    o = (
        _t(spark, sf_dir, "orders")
        .filter("o_orderstatus = 'F' AND o_orderkey IS NOT NULL")
        .selectExpr("o_orderkey AS l_orderkey", "1 AS f")
    )
    return li.unionByName(o, allowMissingColumns=True).selectExpr(
        "*",
        f"sum(f) {_BY_ORDER} AS n_f",
        f"size(collect_set(l_suppkey) {_BY_ORDER}) AS nsupp",
        *facts,
    )


def _q21_numwait(spark, sf_dir, lines: DataFrame, not_exists: str) -> DataFrame:
    """``numwait`` per supplier name over the lineitem rows of ``lines``
    that have a status-F order, pass EXISTS (another supplier on the
    order) and pass the SQL predicate ``not_exists``. Each row counts
    once per F row of its order, as the inner join with orders would
    count it."""
    s = _t(spark, sf_dir, "supplier").selectExpr("s_suppkey AS l_suppkey", "s_name")
    return (
        lines.filter(f"f = 0 AND n_f > 0 AND nsupp >= 2 AND ({not_exists})")
        .join(F.broadcast(s), "l_suppkey")
        .groupBy("s_name")
        .agg(F.expr("sum(n_f) AS numwait"))
    )


@register(
    "q21_waiting_supplier",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape: EXISTS + NOT EXISTS self-correlations on the "
    "fact table, decorrelated into per-order window facts: lineitem "
    "rows and status-F order keys are tagged and unioned, one "
    "l_orderkey window counts each order's F rows, its distinct "
    "suppliers and the suppliers with an R line, and no join but the "
    "supplier broadcast remains.",
)
def q21_waiting_supplier(spark, sf_dir):
    lines = _q21_lines(
        spark,
        sf_dir,
        "l_returnflag",
        "collect_set(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) "
        f"{_BY_ORDER} AS r_supps",
    )
    # NOT EXISTS: no supplier but the row's own has an R line.
    return _q21_numwait(
        spark, sf_dir, lines, "size(array_remove(r_supps, l_suppkey)) = 0"
    )


@register(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name,
           SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0 AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: 4-way join, returned-item revenue per "
    "customer, top-20.",
)
def q10_returned_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    # exact-cents aggregation: each term is rounded to an integer cent
    # (identical doubles -> identical rounding in every engine), the
    # BIGINT sum is order-independent, so no cross-engine ulp/rounding
    # boundary can flip the result
    rev_cents = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
    ).cast("long")
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        (F.sum(rev_cents) / 100.0).alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: conditional counts split by a dimension "
    "attribute after an equi-join.",
)
def q12_shipmode_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ======================================================================
# TPC-H relational shapes, batch 4: q7/q8/q9/q11/q15/q20.
# The testdata has no partsupp table, so q9/q11/q20 keep the reference
# query's JOIN/decorrelation SHAPE with a stand-in measure
# (p_retailprice for ps_supplycost, lineitem volume for ps_availqty);
# the point of each entry is the plan structure, not TPC-H compliance.
# ======================================================================


_CENTS = "CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)"


def _rev_cents():
    """Exact-cents revenue term (see q10 comment: integer cents make
    the sum order-independent, so no cross-engine ulp flake)."""
    return F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
    ).cast("long")


@register(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           SUM(volume_cents) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
             {_CENTS} AS volume_cents
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: fact-fact join (lineitem x orders) with two "
    "independent dim hops to nation, a symmetric two-nation "
    "disjunction, and a year rollup. Both nation lookups broadcast; "
    "the only shuffles are the orderkey join and the final group.",
)
def q7_volume_shipping(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    # Pre-filtering both nation sides to the two named nations makes
    # the inner joins themselves enforce the disjunction's nation
    # membership; only the asymmetric pairing (1,2)/(2,1) remains as a
    # residual filter.
    sn = s.join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
    cn = c.join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum(_rev_cents()) / 100.0).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_7'
                     THEN volume_cents ELSE 0 END) * 1.0
                 / SUM(volume_cents), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             {_CENTS} AS volume_cents,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO')
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: 8-way star join, then a conditional-sum / "
    "total-sum ratio per year. Numerator and denominator are both "
    "exact integer cents, so the double division rounds identically "
    "in both engines.",
)
def q8_market_share(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    n1 = n.select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    # customer-side nation is filtered to the ASIA region before the
    # fact join, so non-qualifying customers never reach the shuffle
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("nk2")
    )
    sn = s.join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
    cn = c.join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
    )
    cents = _rev_cents()
    nat_cents = F.when(F.col("supp_nation") == "NATION_7", cents).otherwise(
        F.lit(0).cast("long")
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(nat_cents) * 1.0 / F.sum(cents), 6
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year, SUM(amount_cents) / 100.0 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(ROUND((l_extendedprice * (1 - l_discount)
                         - 0.5 * p_retailprice * l_quantity) * 100) AS BIGINT)
               AS amount_cents
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%')
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape: profit per supplier-nation per year over a "
    "part-name LIKE filter. The testdata has no partsupp, so "
    "0.5 * p_retailprice stands in for ps_supplycost — the 5-way "
    "join-through-part structure is what this entry pins.",
)
def q9_product_profit(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    sn = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
    )
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .groupBy("nation", "o_year")
        .agg((F.sum(amount_cents) / 100.0).alias("sum_profit"))
    )


@register(
    "q11_important_stock",
    f"""
    WITH nat_value AS (
      SELECT l_partkey, SUM({_CENTS}) AS value_cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey)
    SELECT l_partkey, value_cents / 100.0 AS part_value
    FROM nat_value
    WHERE value_cents > (SELECT 2.0 * AVG(value_cents) FROM nat_value)
    """,
    doc="TPC-H Q11 shape: per-part value within one nation, kept only "
    "when above a multiple of the average per-part value (TPC-H's "
    "fixed fraction-of-total is not scale-stable: the part count "
    "grows with SF, so every share shrinks and the result empties) "
    "— a scalar "
    "subquery over the same aggregate, decorrelated into agg + "
    "broadcast cross-join. lineitem revenue stands in for "
    "ps_supplycost*ps_availqty (no partsupp in testdata).",
)
def q11_important_stock(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey"
    )
    per_part = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_rev_cents()).alias("value_cents"))
    )
    # The threshold is a second aggregate OVER the per-part aggregate
    # (not over lineitem), so per_part is the shared subplan; Spark
    # evaluates it twice unless cached, but it is already the small
    # side (|parts| rows), so recompute beats a persist at scale.
    total = per_part.agg(
        (2.0 * F.avg("value_cents")).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_cents") > F.col("threshold"))
        .select(
            "l_partkey", (F.col("value_cents") / 100.0).alias("part_value")
        )
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_CENTS}) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_cents / 100.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_cents = (SELECT MAX(total_cents) FROM revenue)
    """,
    doc="TPC-H Q15 shape: quarterly revenue view per supplier, then "
    "keep the argmax row(s) via a scalar-max subquery over the same "
    "view. Exact integer cents make the WHERE = comparison safe "
    "(double equality would be a cross-engine flake).",
)
def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_cents()).alias("total_cents")
    )
    top = revenue.agg(F.max("total_cents").alias("max_cents"))
    return (
        revenue.join(F.broadcast(top))
        .filter(F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_cents") / 100.0).alias("total_revenue"),
        )
    )


@register(
    "q20_potential_promotion",
    """
    SELECT s_name FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 100)
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape: IN over a grouped+HAVING subquery -> "
    "aggregate then left-semi join. The availqty comparison against "
    "partsupp becomes a shipped-quantity threshold (no partsupp in "
    "testdata); the nested-semi-join plan is what this entry pins.",
)
def q20_potential_promotion(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(heavy),
            s.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name")
        .orderBy("s_name")
    )


@register(
    "dedup_cc_clusters",
    """
    WITH RECURSIVE docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
          FROM reach GROUP BY a)
    """,
    doc="Near-dup clusters: exact 3-gram jaccard pairs closed into "
    "connected components (operators/dedup.py connected_components — "
    "min-label propagation + pointer jumping, O(log diameter) "
    "rounds). Oracle is a recursive-CTE transitive closure, so this "
    "iterative algorithm IS value-checked, not rows-only.",
)
def q_dedup_cc_clusters(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, n=3, threshold=0.5,
        shingles=_staged_doc_shingles(spark, sf_dir),
    ).select("doc_a", "doc_b")
    cc = dedup.connected_components(pairs, strategy=_cc_strategy(d))
    w = Window.partitionBy("component")
    return cc.withColumn("cluster_size", F.count(F.lit(1)).over(w)).select(
        F.col("doc_a").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "dedup_survivors",
    """
    WITH RECURSIVE docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a)
    SELECT d.doc_id, length(d.text) AS text_len
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM lab
                      WHERE lab.doc_id = d.doc_id
                        AND lab.cluster_id <> lab.doc_id)
    ORDER BY d.doc_id
    """,
    doc="Deduplicated corpus: jaccard pairs -> connected components "
    "-> drop all non-canonical cluster members (operators/dedup.py "
    "survivors; anti-join on the small drop set, corpus rows never "
    "shuffle).",
)
def q_dedup_survivors(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, n=3, threshold=0.5,
        shingles=_staged_doc_shingles(spark, sf_dir),
    ).select("doc_a", "doc_b")
    cc = dedup.connected_components(pairs, strategy=_cc_strategy(d))
    return (
        dedup.survivors(d, cc)
        .select("doc_id", F.length("text").alias("text_len"))
        .orderBy("doc_id")
    )


@register(
    "profile_table",
    """
    SELECT '*' AS col_name, 'n_rows' AS metric,
           CAST(COUNT(*) AS DOUBLE) AS value FROM orders
    UNION ALL SELECT 'o_orderkey', 'n_nulls',
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      FROM orders
    UNION ALL SELECT 'o_orderkey', 'n_distinct',
      CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_orderkey', 'min',
      CAST(MIN(o_orderkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_orderkey', 'max',
      CAST(MAX(o_orderkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_orderkey', 'mean',
      ROUND(AVG(o_orderkey), 6) FROM orders
    UNION ALL SELECT 'o_custkey', 'n_nulls',
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      FROM orders
    UNION ALL SELECT 'o_custkey', 'n_distinct',
      CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_custkey', 'min',
      CAST(MIN(o_custkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_custkey', 'max',
      CAST(MAX(o_custkey) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_custkey', 'mean',
      ROUND(AVG(o_custkey), 6) FROM orders
    UNION ALL SELECT 'o_orderstatus', 'n_nulls',
      CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      FROM orders
    UNION ALL SELECT 'o_orderstatus', 'n_distinct',
      CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_orderstatus', 'avg_len',
      ROUND(AVG(LENGTH(o_orderstatus)), 6) FROM orders
    UNION ALL SELECT 'o_orderpriority', 'n_nulls',
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      FROM orders
    UNION ALL SELECT 'o_orderpriority', 'n_distinct',
      CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) FROM orders
    UNION ALL SELECT 'o_orderpriority', 'avg_len',
      ROUND(AVG(LENGTH(o_orderpriority)), 6) FROM orders
    """,
    doc="One-pass table profiler (operators/quality.py "
    "profile_columns): every null/distinct/min/max/mean metric for "
    "every column in a SINGLE aggregate job, exploded to long format "
    "— vs the oracle's 17 separate scans. approx_count_distinct "
    "variant available for the 100 TB path.",
)
def q_profile_table(spark, sf_dir):
    from pyspark_scd_spark.operators.quality import profile_columns

    o = _t(spark, sf_dir, "orders")
    return profile_columns(
        o,
        numeric_cols=["o_orderkey", "o_custkey"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


@register(
    "corpus_vocab_topk",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS token
      FROM documents)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
    doc="Vocabulary building: global token frequencies, top-100 heavy "
    "hitters. explode -> groupBy gets map-side partial aggregation "
    "(per-partition combine BEFORE the shuffle, so shuffle volume is "
    "|vocab| per partition, not |tokens|); the top-k is a "
    "TakeOrdered, never a global sort.",
)
def q_corpus_vocab_topk(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TXT.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(100)
    )


@register(
    "doc_pack_bins",
    """
    WITH sized AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens, shard,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 2048) AS BIGINT) AS bin_id
    FROM (SELECT doc_id, n_tokens, doc_id % 32 AS shard FROM sized)
    """,
    doc="Sequence packing for training batches: deterministic "
    "next-fit within 32 hash shards — each doc lands in bin "
    "(shard, floor(prefix_token_sum / budget)). The running-sum "
    "window is PARTITIONED by shard, so no data ever moves to a "
    "single task (a global ORDER BY pack would); at 100 TB shard "
    "count scales with the cluster and bins stay equally tight.",
)
def q_doc_pack_bins(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        TXT.token_count("text").cast("long").alias("n_tokens"),
        (F.col("doc_id") % 32).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sized.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2048)
        ),
    )


@register(
    "embedding_quantize_int8",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    s AS (SELECT vec_id, emb,
                 GREATEST(list_max(list_transform(emb, x -> ABS(x))) / 127.0,
                          1e-12) AS scale
          FROM v)
    SELECT vec_id, ROUND(scale, 9) AS scale,
           list_transform(emb, x -> CAST(ROUND(x / scale) AS TINYINT)) AS qvec
    FROM s
    """,
    doc="Symmetric per-vector int8 quantization (operators/"
    "similarity.py quantize_int8): 4x compression for the ANN "
    "candidate tier; per-vector scales, pure map, zero shuffle.",
)
def q_embedding_quantize_int8(spark, sf_dir):
    from pyspark_scd_spark.operators.similarity import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    return quantize_int8(e)


@register(
    "stratified_balance_sample",
    """
    WITH h AS (
      SELECT event_id, event_type,
             md5(CAST(event_id AS VARCHAR)) AS hk
      FROM events),
    r AS (SELECT event_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY hk, event_id) AS rn
          FROM h),
    m AS (SELECT MIN(cnt) AS n_min FROM (
            SELECT COUNT(*) AS cnt FROM events GROUP BY event_type))
    SELECT event_id, event_type FROM r, m WHERE rn <= n_min
    """,
    doc="Class-balanced deterministic downsample: every event_type "
    "keeps exactly n_min rows (the smallest class's size), chosen by "
    "md5-hash order — reproducible across runs and engines, unlike "
    "sampleBy(). One window per class partition + a broadcast scalar; "
    "the md5 order also makes the kept subset uniform within class.",
)
def q_stratified_balance_sample(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    hk = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(hk.asc(), F.col("event_id"))
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n_min = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("n_min"))
    )
    return (
        ranked.join(F.broadcast(n_min))
        .filter(F.col("rn") <= F.col("n_min"))
        .select("event_id", "event_type")
    )


@register(
    "events_rollup_gapfill",
    """
    WITH agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
             FROM agg GROUP BY 1),
    scaffold AS (
      SELECT s.event_type, g.g AS bucket
      FROM span s, LATERAL (SELECT unnest(generate_series(
             s.b0, s.b1, INTERVAL 1 HOUR)) AS g) g),
    joined AS (
      SELECT sc.event_type, sc.bucket, a.cents,
             a.cents IS NULL AS is_gap
      FROM scaffold sc LEFT JOIN agg a
        ON sc.event_type = a.event_type AND sc.bucket = a.bucket)
    SELECT event_type, CAST(epoch(bucket) AS BIGINT) AS bucket_ts,
           COALESCE(LAST_VALUE(cents IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) / 100.0
             AS bucket_value,
           is_gap
    FROM joined
    """,
    doc="Hypertable-style continuous aggregate (operators/"
    "timeseries.py rollup_gapfill): hourly rollup with EVERY bucket "
    "materialized via a sequence() scaffold (215 of 3600 buckets are "
    "gaps at sf0.01) and last-observation-carried-forward fill. The "
    "LOCF window reuses the scaffold partitioning — gap-fill adds "
    "zero exchanges over the bare rollup.",
)
def q_events_rollup_gapfill(spark, sf_dir):
    from pyspark_scd_spark.operators.timeseries import rollup_gapfill

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = rollup_gapfill(
        ev, ["event_type"], "ts", cents, bucket_width="hour",
        step="interval 1 hour",
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_ts"),
        (F.col("bucket_value") / 100.0).alias("bucket_value"),
        "is_gap",
    )


@register(
    "fk_conformance_report",
    """
    SELECT 'orders.o_custkey->customer' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
      FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', CAST(COUNT(*) AS BIGINT)
      FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT)
      FROM lineitem l WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT)
      FROM lineitem l WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
    doc="Referential-integrity audit (operators/quality.py "
    "fk_orphans): orphan counts for every FK edge of the star "
    "schema, each a key-projected left-anti join (broadcast when the "
    "dimension key set fits).",
)
def q_fk_conformance_report(spark, sf_dir):
    from pyspark_scd_spark.operators.quality import fk_orphans

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    checks = [
        ("orders.o_custkey->customer",
         fk_orphans(o, _t(spark, sf_dir, "customer"),
                    ["o_custkey"], ["c_custkey"])),
        ("lineitem.l_orderkey->orders",
         fk_orphans(li, o, ["l_orderkey"], ["o_orderkey"])),
        ("lineitem.l_partkey->part",
         fk_orphans(li, _t(spark, sf_dir, "part"),
                    ["l_partkey"], ["p_partkey"])),
        ("lineitem.l_suppkey->supplier",
         fk_orphans(li, _t(spark, sf_dir, "supplier"),
                    ["l_suppkey"], ["s_suppkey"])),
    ]
    out = None
    for name, orphans in checks:
        row = orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(name).alias("fk"), "n_orphans"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "events_rollup_interp",
    """
    WITH agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
             FROM agg GROUP BY 1),
    scaffold AS (
      SELECT s.event_type, g.g AS bucket
      FROM span s, LATERAL (SELECT unnest(generate_series(
             s.b0, s.b1, INTERVAL 1 HOUR)) AS g) g),
    joined AS (
      SELECT sc.event_type, sc.bucket, a.cents,
             a.cents IS NULL AS is_gap
      FROM scaffold sc LEFT JOIN agg a
        ON sc.event_type = a.event_type AND sc.bucket = a.bucket),
    w AS (
      SELECT event_type, bucket, cents, is_gap,
             CAST(epoch(bucket) AS DOUBLE) AS ep,
             LAST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN cents IS NOT NULL
                             THEN CAST(epoch(bucket) AS DOUBLE) END
                        IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             FIRST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL
                              THEN CAST(epoch(bucket) AS DOUBLE) END
                         IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM joined)
    SELECT event_type, CAST(epoch(bucket) AS BIGINT) AS bucket_ts,
           ROUND(COALESCE(CAST(cents AS DOUBLE),
                          CAST(FLOOR(pv + (nv - pv) * (ep - pb)
                                     / (nb - pb) + 0.5) AS DOUBLE),
                          CAST(pv AS DOUBLE), CAST(nv AS DOUBLE))
                 / 100.0, 4) AS bucket_value,
           is_gap
    FROM w
    """,
    doc="Gap-filled rollup with linear interpolation (operators/"
    "timeseries.py rollup_gapfill fill='interp'): gaps take the "
    "time-weighted value between neighboring observations, computed "
    "on epoch seconds so irregular bucket spacing stays linear in "
    "physical time; span edges fall back to the nearest observation.",
)
def q_events_rollup_interp(spark, sf_dir):
    from pyspark_scd_spark.operators.timeseries import rollup_gapfill

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = rollup_gapfill(
        ev, ["event_type"], "ts", cents, bucket_width="hour",
        step="interval 1 hour", fill="interp", quantize_interp=True,
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_ts"),
        F.round(F.col("bucket_value") / 100.0, 4).alias("bucket_value"),
        "is_gap",
    )


@register(
    "snapshot_diff_cdc",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    old_v AS (
      SELECT key, o_orderstatus, o_orderpriority FROM (
        SELECT key, o_orderstatus, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY snap_date DESC) AS rn
        FROM snaps WHERE snap_date < DATE '1999-01-01') WHERE rn = 1),
    new_v AS (
      SELECT key, o_orderstatus, o_orderpriority FROM (
        SELECT key, o_orderstatus, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY snap_date DESC) AS rn
        FROM snaps) WHERE rn = 1)
    SELECT COALESCE(o.key, n.key) AS key,
           CASE WHEN o.key IS NULL THEN 'added'
                WHEN n.key IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                  THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus
    FROM old_v o FULL OUTER JOIN new_v n ON o.key = n.key
    WHERE NOT (o.key IS NOT NULL AND n.key IS NOT NULL
               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
               AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
    """,
    doc="CDC between two table versions (operators/scd.py "
    "snapshot_diff): current view as of 1999-01-01 vs latest, one "
    "null-safe full-outer join on the key — answers 'what moved' "
    "without windows or a history scan.",
)
def q_snapshot_diff_cdc(spark, sf_dir):
    snaps = order_snapshots(spark, sf_dir)
    old = scd.current_view(
        snaps.filter(F.col("snap_date") < "1999-01-01"),
        ["key"], "snap_date", stamp_global_max=False,
    )
    new = scd.current_view(
        snaps, ["key"], "snap_date", stamp_global_max=False
    )
    d = scd.snapshot_diff(
        old, new, ["key"], ["o_orderstatus", "o_orderpriority"]
    )
    return d.filter(F.col("diff_status") != "unchanged").select(
        "key", "diff_status", "old_o_orderstatus", "new_o_orderstatus"
    )


@register(
    "feature_quantile_bins",
    """
    WITH b AS (SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS bs
               FROM orders)
    SELECT CAST(len(list_filter(bs, x -> o_totalprice > x)) + 1 AS INTEGER)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders, b
    GROUP BY 1
    """,
    doc="Quantile feature binning the scale-safe way: exact quartile "
    "boundaries from one aggregate (broadcast as a 1-row side), then "
    "bucket = count of boundaries below the value via an array "
    "filter — never a global-ntile window, which would funnel every "
    "row through one task.",
)
def q_feature_quantile_bins(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.expr(
            "percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))"
        ).alias("bs")
    )
    return (
        o.join(F.broadcast(b))
        .withColumn(
            "bucket",
            (
                F.size(
                    F.filter(
                        F.col("bs"),
                        lambda x: F.col("o_totalprice") > x,
                    )
                )
                + 1
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "events_funnel",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT stage, users FROM (
      SELECT 1 AS ord, 'view' AS stage,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS users
      UNION ALL SELECT 2, 'click_after_view',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c)
      UNION ALL SELECT 3, 'purchase_after_click',
             (SELECT CAST(COUNT(*) AS BIGINT) FROM p))
    ORDER BY ord
    """,
    doc="Strict-order funnel (view -> click -> purchase): each "
    "stage's first event must follow the previous stage's first "
    "event. Three user-keyed aggregates; the stage joins are "
    "co-partitioned on user_id, so AQE reuses one exchange per "
    "stage, never a per-user window over all events.",
)
def q_events_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def first_after(etype, prev, tcol, out):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out))
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = first_after("view", None, None, "t1")
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    rows = [
        ("view", v), ("click_after_view", c), ("purchase_after_click", p)
    ]
    out = None
    for stage, df in rows:
        r = df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(stage).alias("stage"), "users"
        )
        out = r if out is None else out.unionByName(r)
    return out


@register(
    "pii_tokenize",
    """
    SELECT c_custkey,
           sha256('v1|' || c_name) AS name_token,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS acctbal_band,
           c_mktsegment
    FROM customer
    """,
    doc="PII pseudonymization: deterministic salted-hash tokens "
    "(joinable across tables without exposing the value; rotate the "
    "salt to break linkage) + generalization of a quasi-identifier "
    "into bands. The production form of the reference's PII "
    "remove_columns intent (jobs/create_employee_all.py:85-97, an "
    "empty-list no-op there); pure projection, zero shuffle.",
)
def q_pii_tokenize(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.sha2(F.concat(F.lit("v1|"), F.col("c_name")), 256).alias(
            "name_token"
        ),
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("acctbal_band"),
        "c_mktsegment",
    )


def _kmeans_oracle(
    iters: int = 3, k: int = 8, dim: int = 64, tail_sql: str | None = None
) -> str:
    """Unrolled Lloyd's k-means as SQL (the pagerank-oracle pattern):
    per iteration, assignment = 9dp-rounded score argmax (larger score
    first, smaller cell on ties) and centroid update = per-(cell, dim)
    AVG rounded to 9dp, empty cells carrying the previous centroid
    (re-rounded, as the engine does). The 9dp rounding at both steps
    is what makes a floating-point training trajectory replayable
    across engines."""
    assign = (
        "SELECT vec_id, cell FROM (\n"
        "    SELECT e.vec_id, c.cell,\n"
        "           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY\n"
        "             ROUND(list_inner_product(e.v, c.cv)\n"
        "                   - 0.5 * list_inner_product(c.cv, c.cv), 9)"
        " DESC,\n"
        "             c.cell ASC) AS rn\n"
        "    FROM e CROSS JOIN {cn} c) WHERE rn = 1"
    )
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),",
        f"c0 AS (SELECT vec_id AS cell,"
        f" list_transform(v, x -> ROUND(x, 9)) AS cv"
        f" FROM e WHERE vec_id < {k}),",
    ]
    for i in range(iters):
        parts.append(f"a{i} AS ({assign.format(cn=f'c{i}')}),")
        parts.append(
            f"m{i} AS (SELECT a.cell, CAST(d.i AS INTEGER) AS dim,\n"
            f"         ROUND(AVG((e.v)[d.i]), 9) AS m\n"
            f"  FROM a{i} a JOIN e USING (vec_id),\n"
            f"       LATERAL (SELECT unnest(range(1, {dim + 1})) AS i) d\n"
            f"  GROUP BY 1, 2),"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.cell,\n"
            f"  COALESCE(m.arr, list_transform(c.cv, x -> ROUND(x, 9)))"
            f" AS cv\n"
            f"  FROM c{i} c LEFT JOIN (SELECT cell,"
            f" list(m ORDER BY dim) AS arr\n"
            f"       FROM m{i} GROUP BY cell) m ON m.cell = c.cell),"
        )
    if tail_sql is None:
        tail_sql = (
            f"fin AS ({assign.format(cn=f'c{iters}')})\n"
            "SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM fin"
        )
    parts.append(
        tail_sql.replace("{assign}", assign.format(cn=f"c{iters}"))
    )
    return "\n".join(parts)



_IVF_TRAINED_TAIL = """
corp AS ({assign}),
cv AS (SELECT c.vec_id, c.cell, e.v FROM corp c JOIN e USING (vec_id)),
q AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             ROUND(list_cosine_similarity(e.v, c.cv), 9) DESC,
             c.cell DESC) AS rn
    FROM e CROSS JOIN c3 c
    WHERE e.vec_id >= 100 AND e.vec_id < 110) WHERE rn = 1),
s AS (SELECT q.query_id, cv.vec_id,
             ROUND(list_cosine_similarity(cv.v, q.qv), 6) AS cosine
      FROM cv JOIN q USING (cell)),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register(
    "sim_search_ivf_trained",
    _kmeans_oracle(iters=3, k=8, dim=64, tail_sql=_IVF_TRAINED_TAIL),
    doc="Full IVF lifecycle, VALUE-CHECKED: Lloyd's k-means trains "
    "the centroids (operators/similarity.py kmeans_train, 3 fixed "
    "9dp-rounded iterations — reproducible across engines), the "
    "corpus is cell-assigned with the trained centroids, and each "
    "query probes only its own cell with an exact cosine re-rank "
    "inside. The oracle replays training (unrolled Lloyd's), corpus "
    "assignment (kmeans score rule: dot - half-norm, smaller-cell "
    "ties), query assignment (ivf_assign cosine rule, larger-cell "
    "ties) and the re-rank — the entire index lifecycle as one "
    "hash-checked query.",
)
def q_sim_search_ivf_trained(spark, sf_dir):
    from pyspark_scd_spark.functions import vectors as V
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    centroids, corpus = similarity.kmeans_train(
        e, k=8, max_iter=3, tol=0.0, round_centroids=9
    )
    queries = similarity.ivf_assign(
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)),
        centroids,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("ivf_cell").alias("cell"),
    )
    corpus_vec = corpus.join(e, "vec_id")
    scored = corpus_vec.join(F.broadcast(queries), "cell").select(
        "query_id",
        "vec_id",
        F.round(V.cosine(F.col("embedding"), F.col("__qv")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS token
      FROM documents),
    freq AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT SUM(c) AS n FROM freq)
    SELECT doc_id,
           ROUND(AVG(-LN(c * 1.0 / n)), 4) AS avg_neg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks JOIN freq USING (token), tot
    GROUP BY doc_id
    """,
    doc="Unigram language-model quality score: per-document average "
    "negative log-probability of its tokens under the corpus unigram "
    "distribution — high values flag gibberish/outlier documents for "
    "corpus filtering. Two aggregates over one tokenization; the "
    "frequency table joins back token-keyed (broadcast while the "
    "vocab fits) and the total is a broadcast scalar.",
)
def q_text_unigram_logprob(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(TXT.tokens("text")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        toks.join(freq, "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log(F.col("c") * 1.0 / F.col("n"))), 4).alias(
                "avg_neg_logprob"
            ),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "scd_gap_as_delete",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    ranks AS (
      SELECT snap_date,
             ROW_NUMBER() OVER (ORDER BY snap_date) AS t_rank
      FROM (SELECT DISTINCT snap_date FROM snaps)),
    h AS (
      SELECT s.*, r.t_rank,
             sha256(concat_ws('||', o_orderstatus, o_orderpriority))
               AS row_hash
      FROM snaps s JOIN ranks r USING (snap_date)),
    s AS (
      SELECT *,
        MIN(snap_date) OVER (PARTITION BY key) AS min_t,
        MAX(snap_date) OVER (PARTITION BY key) AS max_t,
        LAG(row_hash)  OVER (PARTITION BY key ORDER BY snap_date) AS prev_hash,
        LEAD(row_hash) OVER (PARTITION BY key ORDER BY snap_date) AS next_hash,
        LAG(t_rank)    OVER (PARTITION BY key ORDER BY snap_date) AS prev_rank,
        LEAD(t_rank)   OVER (PARTITION BY key ORDER BY snap_date) AS next_rank,
        MAX(snap_date) OVER () AS global_max_t
      FROM h)
    SELECT key, snap_date,
      CASE WHEN snap_date = min_t THEN 'New'
           WHEN t_rank - prev_rank > 1 THEN 'New'
           WHEN (next_rank - t_rank > 1)
             OR (next_hash IS NULL AND max_t <> global_max_t)
             THEN 'Deleted'
           WHEN prev_hash <> row_hash THEN 'Changed'
           ELSE 'No Change' END AS change_status
    FROM s
    """,
    doc="SCD status with treat_gap_as_delete=True (operators/scd.py "
    "scd_apply): an entity absent from intermediate "
    "snapshots gets Deleted on its pre-gap row and New on "
    "reappearance — vs the reference's gap-invisible default "
    "(SURVEY.md §2 #10). Snapshot-date ranks come from a broadcast "
    "over the tiny distinct-date set, listed from the raw order scan, "
    "so gap detection adds no per-row shuffle and one exchange on the "
    "key serves the dedup and every window.",
)
def q_scd_gap_as_delete(spark, sf_dir):
    df = scd.scd_apply(
        order_rows(_t(spark, sf_dir, "orders")),
        key_cols=["key"],
        time_col="snap_date",
        hash_cols=SCD_HASH_COLS,
        tiebreak_cols=["o_orderkey"],
        treat_gap_as_delete=True,
    )
    return df.select("key", "snap_date", "change_status")


# ======================================================================
# Corpus operators: decontamination, repetition filters, source mixing
# ======================================================================


@register(
    "decontaminate_ngram",
    f"""
    WITH t AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval,
                      {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, is_eval,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
              || ' ' || toks[i.i+3] || ' ' || toks[i.i+4] AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) i),
    hits AS (SELECT tr.doc_id, tr.gram, ev.doc_id AS eval_id
             FROM g tr JOIN g ev ON tr.gram = ev.gram
             WHERE ev.is_eval AND NOT tr.is_eval)
    SELECT doc_id,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_overlap_grams,
           CAST(COUNT(DISTINCT eval_id) AS INTEGER) AS n_eval_docs_hit
    FROM hits GROUP BY doc_id
    """,
    doc="Train/eval 5-gram decontamination (GPT-3/PaLM n-gram-overlap "
    "rule): eval set = doc_id % 10 == 0; reports each training doc "
    "sharing a word 5-gram with any eval doc. Eval gram set is "
    "aggregated and BROADCAST (benchmarks stay small while the corpus "
    "grows); grams are xxhash64 longs on the wire "
    "(operators/corpus.py decontaminate_report).",
)
def q_decontaminate_ngram(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.decontaminate_report(
        d, eval_pred=(F.col("doc_id") % 10 == 0), n=5
    )


@register(
    "text_repetition_gopher",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tok,
                    len(list_distinct(toks)) AS n_dis FROM t),
    bg AS (SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) i),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY 1)
    SELECT b.doc_id, b.n_tok,
      ROUND(CASE WHEN b.n_tok > 0
                 THEN 1.0 - b.n_dis * 1.0 / b.n_tok ELSE 0.0 END, 4)
        AS dup_token_frac,
      CAST(COALESCE(tp.top_c, 0) AS BIGINT) AS top_bigram_count,
      ROUND(CASE WHEN b.n_tok > 0
                 THEN COALESCE(tp.top_c, 0) * 2.0 / b.n_tok
                 ELSE 0.0 END, 4) AS top_bigram_frac,
      (ROUND(CASE WHEN b.n_tok > 0
                  THEN 1.0 - b.n_dis * 1.0 / b.n_tok ELSE 0.0 END, 4) > 0.60
       OR (COALESCE(tp.top_c, 0) > 1
           AND ROUND(CASE WHEN b.n_tok > 0
                          THEN COALESCE(tp.top_c, 0) * 2.0 / b.n_tok
                          ELSE 0.0 END, 4) > 0.18)) AS repetitive
    FROM base b LEFT JOIN top tp ON b.doc_id = tp.doc_id
    """,
    doc="Gopher-style repetition quality signals per document: "
    "duplicate-token fraction and top-bigram coverage, with the "
    "repetitive flag at Gopher-ish thresholds. Bigram counts explode "
    "to rows (map-side combine) — never nested array lambdas "
    "(operators/corpus.py repetition_stats).",
)
def q_text_repetition_gopher(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.repetition_stats(d)


_MIX_SQL_CTE = f"""
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
    tot AS (SELECT SUM(pow(n_tokens, 0.7)) AS sum_raw,
                   SUM(n_tokens) AS total_tokens FROM per)
"""


@register(
    "corpus_mix_weights",
    f"""
    WITH {_MIX_SQL_CTE}
    SELECT source, n_docs, n_tokens,
           ROUND(pow(n_tokens, 0.7) / sum_raw, 6) AS weight,
           ROUND(pow(n_tokens, 0.7) / sum_raw * total_tokens / n_tokens, 4)
             AS epochs
    FROM per, tot
    """,
    doc="Temperature-weighted corpus mixing table: per-source sampling "
    "weight ∝ n_tokens^0.7 (the multilingual-LM rule flattening toward "
    "small sources) and effective epochs under a total-token budget. "
    "One scan → |sources| rows; normalizer is a broadcast 1-row "
    "aggregate (operators/corpus.py mix_weights).",
)
def q_corpus_mix_weights(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.mix_weights(d, alpha=0.7)


@register(
    "corpus_temperature_sample",
    f"""
    WITH {_MIX_SQL_CTE},
    w AS (SELECT source,
            ROUND(pow(n_tokens, 0.7) / sum_raw * total_tokens / n_tokens, 4)
              AS epochs
          FROM per, tot),
    r AS (SELECT source, ROUND(LEAST(1.0, 0.5 * epochs), 6) AS keep_rate
          FROM w)
    SELECT d.doc_id, d.source, r.keep_rate
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS DOUBLE) / 4294967296.0 < r.keep_rate
    """,
    doc="Deterministic temperature-sampled downsample: per-source "
    "keep-rate min(1, budget_frac·epochs), membership by md5 32-bit "
    "fraction of doc_id — reproducible across engines/cluster sizes, "
    "stable under corpus growth. Rate table broadcast onto the scan: "
    "zero corpus-side shuffles (operators/corpus.py "
    "temperature_sample).",
)
def q_corpus_temperature_sample(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.temperature_sample(d, alpha=0.7, budget_frac=0.5)


def _release_mrow(stage: str, src: str, payload: str = "text",
                  toks_of: str = "text") -> str:
    """One manifest row of the corpus_release oracle: stage label,
    doc count, token volume, and the order-insensitive bit_xor of a
    60-bit md5 prefix of id:payload."""
    toks = _TOKS_SQL.replace("text", toks_of)
    return f"""
    SELECT '{stage}' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(len({toks})), 0) AS BIGINT) AS n_tokens,
           COALESCE(BIT_XOR(CAST(('0x' || substring(md5(
             CAST(doc_id AS VARCHAR) || ':' || {payload}), 1, 15))
             AS BIGINT)), 0) AS content_sig
    FROM {src}"""


@register(
    "corpus_release",
    f"""
    WITH raw AS (SELECT doc_id, source, text FROM documents),
    ev AS (SELECT doc_id, text FROM raw WHERE doc_id % 10 = 0),
    s1 AS (SELECT * FROM raw WHERE NOT (doc_id % 10 = 0)),
    fpd AS (SELECT doc_id, source, text,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                       'g'))) AS f
            FROM s1),
    s2 AS (SELECT doc_id, source, text FROM
            (SELECT *, MIN(doc_id) OVER (PARTITION BY f) AS cmin
             FROM fpd)
           WHERE doc_id = cmin),
    t2 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM s2),
    shg AS (SELECT DISTINCT doc_id,
              toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
                AS s
            FROM t2,
            LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
              FROM shg a JOIN shg b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    dropb AS (SELECT DISTINCT db AS doc_id FROM inter
              JOIN sizes sa ON sa.doc_id = da
              JOIN sizes sb ON sb.doc_id = db
              WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    s3 AS (SELECT s2.* FROM s2 ANTI JOIN dropb USING (doc_id)),
    t3 AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM s3),
    p AS (SELECT doc_id, source, CAST(i.i AS BIGINT) AS idx,
                 array_to_string(toks[(i.i*16+1):(i.i*16+16)], ' ')
                   AS para
          FROM t3,
          LATERAL (SELECT unnest(range(0,
               CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS i) i),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(para)
                    ORDER BY doc_id, idx) AS rk FROM p),
    s4 AS (SELECT doc_id, MIN(source) AS source,
                  string_agg(para, ' ' ORDER BY idx) AS text
           FROM r WHERE rk = 1 GROUP BY doc_id),
    t4 AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM s4),
    gtr AS (SELECT DISTINCT doc_id,
              toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
                || ' ' || toks[i.i+3] || ' ' || toks[i.i+4] AS gram
            FROM t4,
            LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) i),
    tev AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM ev),
    gev AS (SELECT DISTINCT
              toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
                || ' ' || toks[i.i+3] || ' ' || toks[i.i+4] AS gram
            FROM tev,
            LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) i),
    cont AS (SELECT DISTINCT gtr.doc_id FROM gtr
             JOIN gev USING (gram)),
    s5 AS (SELECT s4.* FROM s4 ANTI JOIN cont USING (doc_id)),
    q AS (SELECT doc_id, source, text,
                 CAST(len({_TOKS_SQL}) AS DOUBLE) AS n_tok,
                 CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                   AS n_dis,
                 (length(text) - length(regexp_replace(text, '[0-9]',
                   '', 'g'))) * 1.0 / length(text) AS dr
          FROM s5),
    s6 AS (SELECT doc_id, source, text FROM q
           WHERE LEAST(1.0, n_tok / 100.0) * 0.4
                 + CASE WHEN n_tok > 0 THEN n_dis / n_tok
                        ELSE 0.0 END * 0.4
                 + (1.0 - dr) * 0.2 >= 0.58),
    per AS (SELECT source,
                   CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
            FROM s6 GROUP BY source),
    tot AS (SELECT SUM(pow(n_tokens, 0.7)) AS sum_raw,
                   SUM(n_tokens) AS total_tokens FROM per),
    rt AS (SELECT source,
              ROUND(LEAST(1.0, 0.5 * ROUND(pow(n_tokens, 0.7)
                / sum_raw * total_tokens / n_tokens, 4)), 6)
                AS keep_rate
           FROM per, tot),
    s7 AS (SELECT s6.* FROM s6 JOIN rt USING (source)
           WHERE CAST(CAST(('0x' || substring(md5(
                   CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 AS DOUBLE) / 4294967296.0 < keep_rate),
    sized AS (SELECT doc_id, text,
                     CAST(len({_TOKS_SQL}) AS BIGINT) AS nt,
                     doc_id % 32 AS shard
              FROM s7),
    pk AS (SELECT doc_id, text,
                  CAST(FLOOR((SUM(nt) OVER (PARTITION BY shard
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) - nt) / 2048) AS BIGINT) AS bin
           FROM sized)
    {_release_mrow("0_input", "raw")}
    UNION ALL {_release_mrow("1_eval_holdout", "s1")}
    UNION ALL {_release_mrow("2_exact_dedup", "s2")}
    UNION ALL {_release_mrow("3_near_dedup", "s3")}
    UNION ALL {_release_mrow("4_para_dedup", "s4")}
    UNION ALL {_release_mrow("5_decontaminate", "s5")}
    UNION ALL {_release_mrow("6_quality_gate", "s6")}
    UNION ALL {_release_mrow("7_temperature_mix", "s7")}
    UNION ALL {_release_mrow(
        "8_pack", "pk", payload="CAST(bin AS VARCHAR)")}
    """,
    doc="End-to-end corpus RELEASE composite (operators/corpus.py "
    "corpus_release) — the product a training-data team ships, as "
    "one operator with one hash-checked manifest: eval holdout → "
    "exact dedup (min-id per fingerprint) → near dedup (banded "
    "MinHash + exact-Jaccard >= 0.5, larger id of each pair drops) "
    "→ paragraph dedup with the cut text MATERIALIZED and flowing "
    "downstream → 5-gram decontamination vs the eval docs' raw text "
    "→ quality gate (unrounded IEEE-identical compare) → "
    "deterministic temperature mix → next-fit (shard, bin) packing. "
    "One row per stage: (stage, n_docs, n_tokens, content_sig) with "
    "content_sig = bit_xor of a 60-bit md5 prefix of id:text (id:bin "
    "for the pack stage) — order-insensitive, so a consumer verifies "
    "an entire release byte-for-byte against the card. The oracle "
    "replays all nine stages in one SQL chain assembled from the "
    "already-proven per-stage oracles; every stage has real drop "
    "mass at sf0.1 (8 exact dups, 24+ near-dup docs, 1k+ dup "
    "paragraph spans, quality q25 under the 0.58 gate).",
)
def q_corpus_release(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.corpus_release(d, F.col("doc_id") % 10 == 0)


@register(
    "doc_chunk_windows",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok,
            CASE WHEN len(toks) <= 16 THEN 1
                 ELSE CAST(ceil((len(toks) - 16) / 12.0) AS BIGINT) + 1
            END AS n_chunks
          FROM t)
    SELECT doc_id, CAST(i.i AS INTEGER) AS chunk_id,
           array_to_string(toks[i.i * 12 + 1 : i.i * 12 + 16], ' ')
             AS chunk_text,
           CAST(len(toks[i.i * 12 + 1 : i.i * 12 + 16]) AS INTEGER)
             AS n_tokens
    FROM n, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) i
    """,
    doc="Fixed-window token chunking (16-token windows, stride 12): "
    "pretraining prep that cuts documents into training-window pieces "
    "with overlapping context. Pure array ops + one explode — a "
    "shuffle-free flatMap over the scan "
    "(operators/corpus.py chunk_documents).",
)
def q_doc_chunk_windows(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.chunk_documents(d, chunk_tokens=16, stride=12)


@register(
    "corpus_clean_pipeline",
    rf"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS_SQL} AS toks,
                      doc_id % 10 = 0 AS is_eval FROM documents),
    m AS (SELECT doc_id, source, is_eval, toks,
                 CAST(len(toks) AS INTEGER) AS n_tok,
                 CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dis,
                 (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                   * 1.0 / length(text) AS digit_ratio,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM t),
    q AS (SELECT *, ROUND(LEAST(1.0, n_tok / 100.0) * 0.4
              + CASE WHEN n_tok > 0 THEN n_dis / n_tok ELSE 0.0 END * 0.4
              + (1.0 - digit_ratio) * 0.2, 4) AS quality,
              MIN(doc_id) OVER (PARTITION BY fp) AS canonical
          FROM m),
    bg AS (SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) i),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY 1),
    rep AS (SELECT m.doc_id FROM m LEFT JOIN top ON m.doc_id = top.doc_id
            WHERE ROUND(CASE WHEN m.n_tok > 0
                             THEN 1.0 - m.n_dis / m.n_tok
                             ELSE 0.0 END, 4) > 0.60
               OR (COALESCE(top.top_c, 0) > 1
                   AND ROUND(CASE WHEN m.n_tok > 0
                                  THEN COALESCE(top.top_c, 0) * 2.0 / m.n_tok
                                  ELSE 0.0 END, 4) > 0.18)),
    g5 AS (SELECT DISTINCT doc_id, is_eval,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
               || ' ' || toks[i.i+3] || ' ' || toks[i.i+4] AS gram
           FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) i),
    cont AS (SELECT DISTINCT tr.doc_id FROM g5 tr JOIN g5 ev
             ON tr.gram = ev.gram WHERE ev.is_eval AND NOT tr.is_eval)
    SELECT doc_id, source, n_tok, quality
    FROM q
    WHERE NOT is_eval AND quality >= 0.5 AND doc_id = canonical
      AND doc_id NOT IN (SELECT doc_id FROM rep)
      AND doc_id NOT IN (SELECT doc_id FROM cont)
    """,
    doc="The composed clean-training-corpus pipeline: drop eval rows, "
    "quality-gate (score >= 0.5), exact-dedup to canonical docs, drop "
    "Gopher-repetitive docs, drop eval-contaminated docs — one "
    "declarative plan where drop lists are doc-id anti-joins and the "
    "contaminated list broadcasts (operators/corpus.py clean_corpus).",
)
def q_corpus_clean_pipeline(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.clean_corpus(
        d, eval_pred=(F.col("doc_id") % 10 == 0), quality_threshold=0.5, n=5
    )


@register(
    "approx_sketch_stats",
    """
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           ROUND(MEDIAN(l_extendedprice), 2) AS exact_p50_price,
           TRUE AS orders_err_le_5pct,
           TRUE AS parts_err_le_5pct,
           TRUE AS p50_err_le_5pct
    FROM lineitem
    """,
    doc="Sketch-based approximate statistics in ONE aggregation pass: "
    "HLL++ approx_count_distinct on the lineitem join keys and KLL-ish "
    "approx_percentile on price. At 100 TB the exact column drops and "
    "the sketch pass is the only affordable form (mergeable partial "
    "sketches, map-side combine, |result| = 1 row regardless of "
    "input). Driver-checkable via the bounded-error contract: exact "
    "twins are oracle-replayed, the sketch values assert within ±5% "
    "as booleans the oracle emits as TRUE (engine-specific sketch "
    "registers cannot be replayed). Raw estimates stay under the "
    "pytest tolerance check (tests/test_corpus.py).",
)
def q_approx_sketch_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("__ao"),
        F.countDistinct("l_orderkey").cast("long").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("__ap"),
        F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("__p50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__ep50"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return agg.select(
        "exact_orders",
        "exact_parts",
        F.round("__ep50", 2).alias("exact_p50_price"),
        within("__ao", "exact_orders").alias("orders_err_le_5pct"),
        within("__ap", "exact_parts").alias("parts_err_le_5pct"),
        within("__p50", "__ep50").alias("p50_err_le_5pct"),
    )


@register(
    "grouped_trend_ols",
    """
    WITH pts AS (SELECT o_custkey,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                        AS DOUBLE) AS x,
                   o_totalprice AS y
                 FROM orders)
    SELECT o_custkey, CAST(COUNT(*) AS INTEGER) AS n_points,
           ROUND(covar_pop(y, x) / var_pop(x), 4) AS slope
    FROM pts GROUP BY o_custkey
    HAVING COUNT(*) >= 2 AND var_pop(x) > 0
    """,
    doc="Per-customer OLS spend trend (slope of order total over "
    "order date) via grouped applyInPandas — the grouped-UDAF "
    "template: Arrow batches per key, closed-form population slope in "
    "numpy, degenerate groups emit nothing; shuffle identical to any "
    "groupBy (operators/timeseries.py grouped_linear_trend).",
)
def q_grouped_trend_ols(spark, sf_dir):
    from pyspark_scd_spark.operators import timeseries

    orders = _t(spark, sf_dir, "orders")
    pts = orders.select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return timeseries.grouped_linear_trend(
        pts, key_col="o_custkey", x_col="x", y_col="y"
    )


@register(
    "unpivot_nation_metrics",
    """
    WITH w AS (SELECT n_name,
                 ROUND(SUM(l_quantity), 2) AS sum_qty,
                 ROUND(SUM(l_extendedprice), 2) AS sum_price,
                 ROUND(AVG(l_discount), 4) AS avg_disc
               FROM lineitem
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation ON s_nationkey = n_nationkey
               GROUP BY n_name)
    SELECT n_name, 'sum_qty' AS metric, sum_qty AS value FROM w
    UNION ALL
    SELECT n_name, 'sum_price' AS metric, sum_price AS value FROM w
    UNION ALL
    SELECT n_name, 'avg_disc' AS metric, avg_disc AS value FROM w
    """,
    doc="Wide-to-long unpivot (DataFrame.unpivot / melt) of a "
    "per-nation aggregate: three measure columns become (metric, "
    "value) rows — the inverse of pivot_status_priority. Unpivot is a "
    "zero-shuffle expression (Expand node) over the aggregate.",
)
def q_unpivot_nation_metrics(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    w = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )
    return w.unpivot(
        ids=["n_name"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "events_cohort_retention",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    first AS (SELECT user_id, MIN(day) AS cohort_date FROM ud GROUP BY 1),
    act AS (SELECT f.cohort_date,
                   CAST(ud.day - f.cohort_date AS INTEGER) AS offset_days,
                   ud.user_id
            FROM ud JOIN first f ON ud.user_id = f.user_id),
    cohort_n AS (SELECT cohort_date, COUNT(DISTINCT user_id) AS n_cohort
                 FROM act WHERE offset_days = 0 GROUP BY 1)
    SELECT a.cohort_date, a.offset_days,
           COUNT(DISTINCT a.user_id) AS n_active,
           ROUND(COUNT(DISTINCT a.user_id) * 1.0 / c.n_cohort, 4)
             AS retention
    FROM act a JOIN cohort_n c ON a.cohort_date = c.cohort_date
    GROUP BY a.cohort_date, a.offset_days, c.n_cohort
    """,
    doc="Cohort retention: users grouped by first-activity date, "
    "fraction still active at each day offset. Activity collapses to "
    "distinct (user, day) first (the cardinality reducer), cohorts "
    "come from a user-keyed min, and the per-cohort size joins back "
    "broadcast — all further aggregation runs on |users x days|, "
    "never raw events.",
)
def q_events_cohort_retention(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # checkpointed: the distinct user-day set anchors four branches
    # (first-activity, both sides of the activity join via `act`, and
    # the cohort-size aggregate); without it the event scan + distinct
    # runs once per branch
    ud = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint()
    )
    first = ud.groupBy("user_id").agg(F.min("day").alias("cohort_date"))
    act = ud.join(first, "user_id").select(
        "cohort_date",
        F.datediff("day", "cohort_date").alias("offset_days"),
        "user_id",
    )
    cohort_n = (
        act.filter(F.col("offset_days") == 0)
        .groupBy("cohort_date")
        .agg(F.count_distinct("user_id").alias("n_cohort"))
    )
    return (
        act.groupBy("cohort_date", "offset_days")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(cohort_n), "cohort_date")
        .select(
            "cohort_date",
            "offset_days",
            "n_active",
            F.round(F.col("n_active") / F.col("n_cohort"), 4).alias(
                "retention"
            ),
        )
    )


@register(
    "events_dau_wau",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
    wau AS (SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
            FROM (SELECT DISTINCT day FROM ud) d
            JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY 1)
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
    doc="Rolling activity: daily actives, trailing-7-day actives, and "
    "DAU/WAU stickiness. Distinct (user, day) first; the WAU window is "
    "an explode of each activity day onto the 7 days it covers, then a "
    "plain count-distinct — COUNT(DISTINCT) over a RANGE frame does "
    "not exist, and the explode form shuffles |users x days x 7| tiny "
    "rows instead of range-joining raw events.",
)
def q_events_dau_wau(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    cov = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
    )
    wau = cov.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


@register(
    "fuzzy_match_blocked",
    """
    WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 5
    """,
    doc="Blocked fuzzy entity matching: Levenshtein <= 5 between part "
    "names sharing a (brand, size) block — the equi-join block bounds "
    "the quadratic edit-distance work to a handful of rows per block; "
    "an unblocked fuzzy join is n-squared and a non-starter "
    "(operators/relational.py fuzzy_match_blocked).",
)
def q_fuzzy_match_blocked(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return relational.fuzzy_match_blocked(
        part.select("p_partkey", "p_name", "p_brand", "p_size"),
        block_cols=["p_brand", "p_size"],
        text_col="p_name",
        id_col="p_partkey",
        max_distance=5,
    )


@register(
    "table_checksum_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST(('0x' || substring(md5(
             o_orderkey || '|' || o_custkey || '|' || o_orderstatus
             || '|' || o_orderpriority || '|' || CAST(o_orderdate AS DATE)
           ), 1, 15)) AS BIGINT)) AS checksum
    FROM orders
    """,
    doc="Order-insensitive table fingerprint: bit_xor of a 60-bit "
    "md5 prefix over each row's key+state string — one aggregate "
    "pass, one output row, engine-independent. The anti-entropy "
    "primitive for verifying replication/migration of a 100 TB table "
    "without moving it (compare two 8-byte checksums, not two "
    "tables); xor makes it order- and partitioning-insensitive and "
    "incrementally maintainable (xor in the delta's checksum).",
)
def q_table_checksum_audit(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.to_date("o_orderdate").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor(h).alias("checksum"),
    )


@register(
    "scd_type2_intervals",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    h AS (
      SELECT key, snap_date, o_orderstatus, o_orderpriority,
        CASE WHEN LAG(o_orderstatus || '||' || o_orderpriority)
                    OVER (PARTITION BY key ORDER BY snap_date)
               IS DISTINCT FROM (o_orderstatus || '||' || o_orderpriority)
             THEN 1 ELSE 0 END AS chg
      FROM snaps),
    i AS (
      SELECT *, SUM(chg) OVER (PARTITION BY key ORDER BY snap_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM h),
    g AS (
      SELECT key, island, o_orderstatus, o_orderpriority,
             MIN(snap_date) AS valid_from, MAX(snap_date) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS n_snaps
      FROM i GROUP BY 1, 2, 3, 4)
    SELECT key, o_orderstatus, o_orderpriority, valid_from, last_seen,
           n_snaps,
           LEAD(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
             AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
             IS NULL AS is_current
    FROM g
    """,
    doc="SCD Type-2 effective-dated dimension: contiguous runs of "
    "identical state collapse to one row with [valid_from, valid_to) "
    "+ is_current (operators/scd.py type2_intervals). The reference "
    "stops at per-snapshot change_status rows (jobs/"
    "create_employee_all.py:136-150); this is the classic "
    "interval-form output built on the same islands, grouped on the "
    "run start that dates employee_all's rows (one key window, one "
    "exchange). At 100 TB the "
    "output is |state changes|, orders of magnitude smaller than "
    "the snapshot history it summarizes.",
)
def q_scd_type2_intervals(spark, sf_dir):
    snaps = order_snapshots(spark, sf_dir)
    df = scd.with_row_hash(snaps, SCD_HASH_COLS)
    return scd.type2_intervals(
        df, key_cols=["key"], time_col="snap_date",
        state_cols=SCD_HASH_COLS,
    )


@register(
    "events_anomaly_zscore",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT day, event_type, cnt,
        AVG(cnt) OVER w AS mu,
        stddev_pop(cnt) OVER w AS sd
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT day, event_type, cnt,
           ROUND(mu, 4) AS trailing_avg,
           ROUND((cnt - mu) / NULLIF(sd, 0), 4) AS zscore,
           COALESCE(ABS((cnt - mu) / NULLIF(sd, 0)) >= 3.0, FALSE)
             AS is_anomaly
    FROM scored
    """,
    doc="Time-series anomaly detection: daily event counts scored "
    "against a trailing-28-day rolling mean/stddev per event_type; "
    "|z| >= 3 flags. One groupBy (map-side combined, |days x types| "
    "rows) then windows over the tiny daily series — the rolling "
    "stats never touch raw events, so the pattern costs the same at "
    "100 TB as the daily rollup itself.",
)
def q_events_anomaly_zscore(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-27, Window.currentRow)
    )
    mu = F.avg("cnt").over(w)
    sd = F.stddev_pop("cnt").over(w)
    z = (F.col("cnt") - mu) / F.nullif(sd, F.lit(0.0))
    return daily.select(
        "day",
        "event_type",
        "cnt",
        F.round(mu, 4).alias("trailing_avg"),
        F.round(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) >= 3.0, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "events_attribution",
    """
    WITH ordered AS (
      SELECT event_id, user_id, ts, event_type,
        last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
          OVER w AS click_ts,
        last_value(CASE WHEN event_type = 'click' THEN event_id END
                   IGNORE NULLS) OVER w AS click_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id AS purchase_id, user_id,
           CAST(ts AS DATE) AS purchase_day,
           CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 3600000000
                THEN click_id END AS click_event_id,
           CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 3600000000
                THEN CAST(FLOOR((epoch_us(ts) - epoch_us(click_ts))
                                / 1000000) AS BIGINT)
                END AS seconds_since_click,
           COALESCE(epoch_us(ts) - epoch_us(click_ts) <= 3600000000, FALSE)
             AS attributed
    FROM ordered WHERE event_type = 'purchase'
    """,
    doc="Last-click attribution: each purchase joined to the same "
    "user's most recent click within 1 hour — computed as ONE "
    "user-keyed window carrying the last click forward "
    "(last_value IGNORE NULLS), never an O(n^2) range self-join. "
    "One exchange on user_id; the streaming twin is the watermarked "
    "stream-stream interval join in streaming/join.py.",
)
def q_events_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    click_ts = F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w)
    click_id = F.last(
        F.when(is_click, F.col("event_id")), ignorenulls=True
    ).over(w)
    sec_us = epoch_us(F.col("ts")) - epoch_us(click_ts)
    within = sec_us <= 3600 * 1_000_000
    return (
        ev.select(
            "event_id", "user_id", "ts", "event_type",
            click_ts.alias("__click_ts"), click_id.alias("__click_id"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.to_date("ts").alias("purchase_day"),
            F.when(
                (epoch_us(F.col("ts"))
                 - epoch_us(F.col("__click_ts"))) <= 3600 * 1_000_000,
                F.col("__click_id"),
            ).alias("click_event_id"),
            F.when(
                (epoch_us(F.col("ts"))
                 - epoch_us(F.col("__click_ts"))) <= 3600 * 1_000_000,
                F.floor(
                    (epoch_us(F.col("ts"))
                     - epoch_us(F.col("__click_ts"))) / 1_000_000
                ).cast("long"),
            ).alias("seconds_since_click"),
            F.coalesce(
                (epoch_us(F.col("ts"))
                 - epoch_us(F.col("__click_ts"))) <= 3600 * 1_000_000,
                F.lit(False),
            ).alias("attributed"),
        )
    )


@register(
    "bpe_pair_counts",
    """
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    pairs AS (
      SELECT unnest(t[1:len(t) - 1]) AS token_a,
             unnest(t[2:len(t)]) AS token_b
      FROM toks WHERE len(t) > 1)
    SELECT token_a, token_b, CAST(COUNT(*) AS BIGINT) AS freq
    FROM pairs GROUP BY 1, 2
    ORDER BY freq DESC, token_a, token_b LIMIT 100
    """,
    doc="First BPE merge iteration: corpus-wide adjacent-token-pair "
    "frequencies, top-100. Pairs come from zipping the token array "
    "with its own tail (two slices, zero windows, zero extra "
    "shuffles); the count is a map-side-combined groupBy and the "
    "top-k a TakeOrdered — the same shape a distributed BPE trainer "
    "runs once per merge step over 100 TB of text.",
)
def q_bpe_pair_counts(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    # Two-select shape: bind __toks before slicing so CollapseProject
    # cannot re-inline the tokenizer into both slice arms (memory:
    # the O(n^2) re-inline trap).
    toks = d.select(TXT.tokens("text").alias("__toks")).filter(
        F.size("__toks") > 1
    )
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
                F.expr("slice(__toks, 2, size(__toks) - 1)"),
            )
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.0").alias("token_a"), F.col("p.1").alias("token_b")
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token_a", "token_b")
        .limit(100)
    )


@register(
    "incremental_agg_merge",
    """
    SELECT event_type,
           ROUND(SUM(value), 4) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value
    FROM events GROUP BY 1
    """,
    doc="Incremental materialized-aggregate maintenance: a base "
    "aggregate state (days < 2024-01-20) merged with the new "
    "partition's partial aggregate by re-aggregating the two tiny "
    "state tables — sums add, counts add, avg derives at read time. "
    "The oracle is the full recompute; at 100 TB the incremental "
    "path touches ONLY the new day's data plus |groups| state rows "
    "instead of re-scanning all history (SURVEY.md §7 M4).",
)
def q_incremental_agg_merge(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    cutoff = "2024-01-20"

    def partial(df):
        return df.groupBy("event_type").agg(
            F.sum("value").alias("__sum_v"),
            F.count(F.lit(1)).alias("__n"),
        )

    base = partial(ev.filter(day < cutoff))
    delta = partial(ev.filter(day >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("__sum_v").alias("__sum_v"), F.sum("__n").alias("__n")
        )
    )
    return merged.select(
        "event_type",
        F.round("__sum_v", 4).alias("total_value"),
        F.col("__n").cast("long").alias("n_events"),
        F.round(F.col("__sum_v") / F.col("__n"), 6).alias("avg_value"),
    )


# ======================================================================
# Corpus search: TF-IDF weighting + inverted index
# ======================================================================

from pyspark_scd_spark.operators import search as _search  # noqa: E402
from pyspark_scd_spark.operators import sequence as _sequence  # noqa: E402


@register(
    "tfidf_top_terms",
    """
    WITH terms AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9]+'), t -> t <> '')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM terms GROUP BY 1, 2),
    dfr AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs
      FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfr.df_docs,
             ROUND(tf.tf * ln(n.n_docs / dfr.df_docs), 6) AS tfidf
      FROM tf JOIN dfr USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS INTEGER) AS term_rank
      FROM scored)
    SELECT doc_id, term, tf, df_docs, tfidf, term_rank
    FROM ranked WHERE term_rank <= 3
    """,
    doc="Top-3 TF-IDF terms per document (keyword extraction). The "
    "per-doc term counts combine map-side before one exchange; the "
    "document-frequency table is vocab-sized and BROADCASTs onto the "
    "tf table, so no second shuffle of the big side "
    "(operators/search.py tfidf_top_terms).",
)
def q_tfidf_top_terms(spark, sf_dir):
    return _search.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register(
    "inverted_index",
    """
    WITH raw AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9]+'), t -> t <> '')) AS term
      FROM documents),
    terms AS (SELECT DISTINCT doc_id, term FROM raw)
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 20),
                           ',') AS postings
    FROM terms GROUP BY term
    """,
    doc="Inverted index build: token -> capped posting list (first 20 "
    "doc ids ascending) + uncapped document frequency. The cap is "
    "applied inside the aggregate so stop-word tokens cost a bounded "
    "row — the long-posting skew killer at corpus scale "
    "(operators/search.py inverted_index).",
)
def q_inverted_index(spark, sf_dir):
    return _search.inverted_index(
        _t(spark, sf_dir, "documents"), max_postings=20
    )


# ======================================================================
# Event-sequence mining: Markov transitions + session paths
# ======================================================================


@register(
    "events_markov_transitions",
    """
    WITH pairs AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dst
      FROM events),
    counts AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS transitions
      FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, transitions,
           ROUND(transitions / SUM(transitions) OVER (PARTITION BY src),
                 6) AS prob
    FROM counts
    """,
    doc="First-order Markov transition matrix over per-user event "
    "streams: one exchange on user_id for the lead window, then the "
    "pair counts aggregate the |event_types|^2 derived space with "
    "map-side combine (operators/sequence.py markov_transitions).",
)
def q_events_markov(spark, sf_dir):
    return _sequence.markov_transitions(_t(spark, sf_dir, "events"))


@register(
    "events_session_paths",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000
             OR LAG(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM marked),
    steps AS (
      SELECT event_type AS s1,
             LEAD(event_type, 1) OVER w AS s2,
             LEAD(event_type, 2) OVER w AS s3
      FROM sess
      WINDOW w AS (PARTITION BY user_id, session_id
                   ORDER BY ts, event_id)),
    counts AS (
      SELECT s1 || '>' || s2 || '>' || s3 AS path,
             CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM steps WHERE s3 IS NOT NULL GROUP BY 1)
    SELECT path, occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY occurrences DESC, path ASC)
                AS INTEGER) AS path_rank
    FROM counts QUALIFY path_rank <= 50
    """,
    doc="Top-50 within-session event-type trigram paths (funnel "
    "discovery). Sessionize (lag-gap + running sum, ONE exchange on "
    "user_id) -> in-session trigrams via lead -> count. The global "
    "rank runs on the tiny path-count table only "
    "(operators/sequence.py session_paths).",
)
def q_events_session_paths(spark, sf_dir):
    return _sequence.session_paths(_t(spark, sf_dir, "events"))


# ======================================================================
# Robust time-series statistics: MAD outliers + EWMA smoothing
# ======================================================================

from pyspark_scd_spark.operators import timeseries as _ts  # noqa: E402


@register(
    "events_outliers_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(ANY_VALUE(d.med), 4) AS median_value,
           ROUND(ANY_VALUE(m.mad), 4) AS mad,
           CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust per-type outlier report: |x - median| > 3 * 1.4826 * "
    "MAD. Two exact-percentile passes; the |keys|-row stats tables "
    "broadcast back onto the scan so the fact table never shuffles "
    "(operators/timeseries.py robust_outliers_mad).",
)
def q_events_outliers_mad(spark, sf_dir):
    return _ts.robust_outliers_mad(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


@register(
    "events_ewma_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY day) AS rn
      FROM daily)
    SELECT a.day, a.event_type, a.cnt,
           ROUND(SUM(b.cnt * POWER(0.7, a.rn - b.rn))
                 / SUM(POWER(0.7, a.rn - b.rn)), 4) AS ewma
    FROM idx a JOIN idx b
      ON a.event_type = b.event_type
     AND b.rn BETWEEN a.rn - 27 AND a.rn
    GROUP BY a.day, a.event_type, a.cnt
    """,
    doc="EWMA smoothing (alpha=0.3) of daily counts over the trailing "
    "28 observed days. Spark form is self-join-free: collect_list "
    "over the bounded window frame + a codegen'd weighted aggregate "
    "over array indices; the oracle uses the equivalent banded "
    "self-join on the tiny rollup (operators/timeseries.py "
    "ewma_daily).",
)
def q_events_ewma_daily(spark, sf_dir):
    return _ts.ewma_daily(_t(spark, sf_dir, "events"), "event_type", "ts")


# ======================================================================
# Iterative graph analytics: PageRank over the supplier<->customer graph
# ======================================================================

from pyspark_scd_spark.operators import graph as _graph  # noqa: E402


@register(
    "graph_pagerank_topk",
    """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT 'S' || CAST(s AS VARCHAR) AS src,
             'C' || CAST(c AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 'C' || CAST(c AS VARCHAR),
             'S' || CAST(s AS VARCHAR) FROM pairs),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY 1),
    p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    p1 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0) AS pr
      FROM nodes n0 CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p0 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node),
    p2 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0) AS pr
      FROM nodes n0 CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p1 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node),
    p3 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0) AS pr
      FROM nodes n0 CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p2 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node)
    SELECT node, ROUND(pr, 6) AS pagerank
    FROM p3 ORDER BY pagerank DESC, node ASC LIMIT 20
    """,
    doc="Top-20 PageRank (3 synchronous power iterations, d=0.85) "
    "over the bidirectional supplier<->customer trade graph derived "
    "from lineitem x orders. DataFrame-loop iteration: one edges-"
    "sized exchange per pass, cached edge/degree tables, lineage "
    "truncation via localCheckpoint; the oracle is the identical "
    "recurrence unrolled as three CTE levels "
    "(operators/graph.py pagerank).",
)
def q_graph_pagerank(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Longs on the wire, strings only on the 20-row result: node ids
    # are encoded as suppkey*2 / custkey*2+1 so every shuffle
    # (distinct, degree groupBy, contribution aggregate) moves 8-byte
    # keys instead of 'S123'-style strings; the bipartite encoding is
    # bijective, so the graph is identical. The distinct pair set is
    # checkpointed BEFORE mirroring (the union references it twice)
    # and pagerank is told it is already distinct — the mirrored set
    # is a disjoint union of even->odd and odd->even keys.
    # Cardinality-gated broadcast of the orders key map: the projected
    # (o_orderkey, o_custkey) pair is 16 bytes/row, so up to ~5M orders
    # it broadcasts in tens of MB and removes the join's exchange of
    # the 4x-larger lineitem side; beyond the bound the hint is
    # DROPPED and the plan degrades to the shuffle join (never an
    # unbounded forced broadcast — the count is a parquet metadata
    # read).
    o_side = F.broadcast(o) if o.count() <= 5_000_000 else o
    pairs = (
        li.join(o_side, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionAll(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    ranks = _graph.pagerank(
        edges,
        iters=3,
        damping=0.85,
        edges_distinct=True,
        edges_materialized=True,
    )
    out = ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, "S").otherwise("C"),
            (F.col("node") / 2).cast("long").cast("string"),
        ).alias("node"),
        F.round("pr", 6).alias("pagerank"),
    )
    return out.orderBy(F.col("pagerank").desc(), F.col("node").asc()).limit(20)


@register(
    "graph_pagerank_dangling",
    """
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT 'S' || CAST(s AS VARCHAR) AS src,
             'C' || CAST(c AS VARCHAR) AS dst FROM pairs),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY 1),
    p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    d0 AS (
      SELECT COALESCE(SUM(pr), 0.0) AS dm FROM p0
      WHERE node NOT IN (SELECT src FROM edges)),
    p1 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0)
             + 0.85 * ANY_VALUE(d0.dm) / ANY_VALUE(nn.n) AS pr
      FROM nodes n0 CROSS JOIN nn CROSS JOIN d0
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p0 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node),
    d1 AS (
      SELECT COALESCE(SUM(pr), 0.0) AS dm FROM p1
      WHERE node NOT IN (SELECT src FROM edges)),
    p2 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0)
             + 0.85 * ANY_VALUE(d1.dm) / ANY_VALUE(nn.n) AS pr
      FROM nodes n0 CROSS JOIN nn CROSS JOIN d1
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p1 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node),
    d2 AS (
      SELECT COALESCE(SUM(pr), 0.0) AS dm FROM p2
      WHERE node NOT IN (SELECT src FROM edges)),
    p3 AS (
      SELECT n0.node,
             0.15 / ANY_VALUE(nn.n)
             + 0.85 * COALESCE(SUM(p.pr / d.outdeg), 0.0)
             + 0.85 * ANY_VALUE(d2.dm) / ANY_VALUE(nn.n) AS pr
      FROM nodes n0 CROSS JOIN nn CROSS JOIN d2
      LEFT JOIN edges e ON e.dst = n0.node
      LEFT JOIN p2 p ON p.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n0.node)
    SELECT node, ROUND(pr, 6) AS pagerank
    FROM p3 ORDER BY pagerank DESC, node ASC LIMIT 20
    """,
    doc="Top-20 PageRank WITH dangling-mass redistribution over the "
    "DIRECTED supplier->customer trade graph (customers have no "
    "out-edges, so without the correction ~half the rank mass leaks "
    "every pass). Each iteration adds one |nodes|-sized semi-join + "
    "1-row global aggregate, crossJoined back in broadcast form — "
    "never a driver collect; rank mass is conserved (sums to 1). "
    "Oracle is the identical recurrence unrolled with per-level "
    "dangling scalars (operators/graph.py pagerank, "
    "redistribute_dangling=True).",
)
def q_graph_pagerank_dangling(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Same long-keyed bipartite encoding as graph_pagerank_topk, but
    # the edge set is the DIRECTED half only: suppliers point at the
    # customers they ship to, customers point nowhere — the canonical
    # dangling-node workload.
    o_side = F.broadcast(o) if o.count() <= 5_000_000 else o
    edges = (
        li.join(o_side, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    ranks = _graph.pagerank(
        edges,
        iters=3,
        damping=0.85,
        edges_distinct=True,
        edges_materialized=True,
        redistribute_dangling=True,
    )
    out = ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, "S").otherwise("C"),
            (F.col("node") / 2).cast("long").cast("string"),
        ).alias("node"),
        F.round("pr", 6).alias("pagerank"),
    )
    return out.orderBy(F.col("pagerank").desc(), F.col("node").asc()).limit(20)


# ======================================================================
# TPC-H remainder: Q6/Q10/Q12/Q14/Q17/Q19/Q21/Q22 shapes, adapted to
# the driver testdata's trimmed columns (no partsupp/shipmode/phone —
# see TESTDATA.md). Completes the classic join/agg/subquery taxonomy:
# pure pushdown agg, join+topk, conditional agg, ratio agg, correlated
# scalar subquery, disjunctive join predicate, double-correlated
# EXISTS/NOT EXISTS, and scalar-subquery + anti-join.
# ======================================================================


@register(
    "q6_forecast_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure filter+aggregate with full predicate pushdown "
    "into the parquet scan — zero joins, one map-side-combined scalar "
    "agg; the plan's FileScan shows all three PushedFilters.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * F.col("l_discount") * 100
                    ).cast("long")
                )
                / 100.0
            ).alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
           AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10: top-20 customers by returned-item revenue. "
    "customer and nation broadcast onto the fact side; single fact "
    "shuffle for the groupBy, then TakeOrdered top-k (no global sort).",
)
def q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    rev = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        (
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            )
            / 100.0
        ).alias("revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


@register(
    "q12_priority_lineclass",
    """
    SELECT l_linestatus,
           SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape (l_linestatus standing in for the trimmed "
    "l_shipmode): fact-fact join + conditional-sum pivot; tiny 2-row "
    "result, the join is the only real exchange.",
)
def q12_priority_lineclass(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_effect",
    """
    WITH cents AS (
      SELECT
        SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 ELSE 0 END) AS promo_cents,
        SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS total_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        AND l_shipdate <  TIMESTAMP '1996-10-01')
    SELECT promo_cents / 100.0 AS promo_revenue,
           total_cents / 100.0 AS total_revenue,
           ROUND(100.0 * promo_cents / total_cents, 4) AS promo_pct
    FROM cents
    """,
    doc="TPC-H Q14 promotion-effect ratio: conditional agg over a "
    "broadcast part join; integer-cents arithmetic keeps the ratio "
    "bit-identical across engines.",
)
def q14_promo_effect(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
            ).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
    )
    return agg.select(
        (F.col("promo_cents") / 100.0).alias("promo_revenue"),
        (F.col("total_cents") / 100.0).alias("total_revenue"),
        F.round(100.0 * F.col("promo_cents") / F.col("total_cents"), 4).alias(
            "promo_pct"
        ),
    )


@register(
    "q17_small_qty_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 700.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17: correlated scalar subquery (per-part 20%-of-average "
    "quantity threshold) decorrelated into a per-part aggregate joined "
    "back to the fact; the part-filtered side broadcasts so the per-part "
    "avg join never shuffles the fact table twice.",
)
def q17_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # Per-part threshold over ALL lineitems of that part (quantities are
    # integral doubles, so the avg is order-independent and exact).
    thresh = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((0.2 * F.avg("l_quantity")).alias("qty_limit"))
    )
    return (
        li.join(F.broadcast(thresh), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 700.0
            ).alias("avg_yearly")
        )
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
           AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 disjunctive join predicate: the OR-of-ANDs mixes "
    "build-side (brand/size) and stream-side (quantity) conditions; "
    "part pre-filtered to the union of brand clauses and broadcast, "
    "residual disjunction evaluated post-join in codegen.",
)
def q19_disjunctive_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#13", "Brand#25")
    )
    q = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(clause)
        .agg(
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                )
                / 100.0
            ).alias("revenue")
        )
    )


@register(
    "q21_last_shipper",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 25
    """,
    doc="TPC-H Q21 shape (last shipper standing in for the trimmed "
    "receipt/commit dates): double-correlated EXISTS / NOT EXISTS "
    "decorrelated into per-order window facts over lineitem rows and "
    "status-F order keys tagged into one union: each supplier's ship "
    "max, the order's top two of those and how many suppliers attain "
    "the top give the latest ship date of any other supplier, so "
    "lineitem is scanned once and shuffled once on l_orderkey, with no "
    "join but the supplier broadcast.",
)
def q21_last_shipper(spark, sf_dir):
    # Each supplier's ship max, then the order's top one, then how many
    # suppliers hold the top and the runner-up. The per-order window of
    # _q21_lines sits lowest, so its l_orderkey exchange also clusters
    # the (order, supplier) window above it.
    lines = (
        _q21_lines(spark, sf_dir, "l_shipdate")
        .selectExpr(
            "*",
            "CASE WHEN l_suppkey IS NOT NULL THEN max(l_shipdate) "
            "OVER (PARTITION BY l_orderkey, l_suppkey) END AS supp_max",
        )
        .selectExpr("*", f"max(supp_max) {_BY_ORDER} AS max1")
        .selectExpr(
            "*",
            "size(collect_set(CASE WHEN supp_max = max1 THEN l_suppkey END) "
            f"{_BY_ORDER}) AS n_at_max",
            f"max(CASE WHEN supp_max < max1 THEN supp_max END) {_BY_ORDER} AS max2",
        )
    )
    # NOT EXISTS a later line of another supplier, whose latest ship
    # date is the runner-up when this supplier alone holds the top and
    # the top otherwise; a NULL ship date on either side blocks nothing.
    counts = _q21_numwait(
        spark,
        sf_dir,
        lines,
        "coalesce(l_shipdate >= CASE WHEN supp_max = max1 AND n_at_max = 1 "
        "THEN max2 ELSE max1 END, true)",
    )
    return counts.orderBy(F.desc("numwait"), "s_name").limit(25)


@register(
    "q22_idle_balance",
    """
    WITH avg_bal AS (
      SELECT AVG(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS a_cents
      FROM customer WHERE c_acctbal > 0)
    SELECT n_name, COUNT(*) AS numcust,
           SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN avg_bal
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > a_cents
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
    doc="TPC-H Q22 shape (nation standing in for the trimmed phone "
    "country code; churned-since-2000 standing in for never-ordered, "
    "which is empty in this data): global scalar subquery broadcast "
    "onto the dim, inactive customers via left-anti join on a date-"
    "filtered key-projected orders scan; integer-cents threshold keeps "
    "the average order-independent.",
)
def q22_idle_balance(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    n = _t(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(cents).alias("a_cents"))
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(cents > F.col("a_cents"))
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(cents) / 100.0).alias("totacctbal"),
        )
    )


# ======================================================================
# Contrastive mining, triangle counting, experiment analysis
# ======================================================================


@register(
    "graph_triangle_count",
    """
    WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01'),
    e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
          FROM su a JOIN su b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
            FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
    GROUP BY node
    """,
    doc="Per-supplier triangle counts in the Q1-1996 co-supplier graph "
    "(suppliers linked when they serve the same order; the unwindowed "
    "graph is complete, so a quarter window keeps it sparse). "
    "Compact-forward a<b<c join expands every wedge from its lowest-id "
    "corner only — the standard hub-blowup mitigation "
    "(operators/graph.py triangle_count).",
)
def q_graph_triangle_count(spark, sf_dir):
    from pyspark_scd_spark.operators import graph as _g

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    su = li.select("l_orderkey", "l_suppkey").distinct()
    sb = su.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    pairs = su.join(sb, (su.l_orderkey == F.col("o2"))).filter(
        F.col("l_suppkey") < F.col("s2")
    )
    return _g.triangle_count(
        pairs.select(
            F.col("l_suppkey").alias("src"), F.col("s2").alias("dst")
        )
    )


@register(
    "events_ab_test",
    """
    WITH per_user AS (
      SELECT user_id AS uid,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    assigned AS (
      SELECT uid, converted,
             CASE WHEN CAST(('0x' || substring(md5(CAST(uid AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM per_user),
    variants AS (
      SELECT variant, COUNT(*) AS n_users,
             SUM(converted) AS n_converted
      FROM assigned GROUP BY variant),
    tot AS (SELECT SUM(n_users) AS n, SUM(n_converted) AS c FROM variants)
    SELECT variant, n_users, n_converted,
           ROUND(n_converted * 1.0 / n_users, 6) AS conversion_rate,
           ROUND(CASE WHEN variant = 'A' THEN
             ((n_converted * 1.0 / n_users)
              - ((c - n_converted) * 1.0 / (n - n_users)))
             / sqrt((c * 1.0 / n) * (1 - c * 1.0 / n)
                    * (1.0 / n_users + 1.0 / (n - n_users)))
           END, 4) AS z_score
    FROM variants CROSS JOIN tot
    """,
    doc="A/B experiment readout: md5-parity variant assignment "
    "(deterministic across engines/runs, unlike rand() splits), "
    "per-user conversion collapse to '14+ purchases' (one map-side-"
    "combined shuffle; every event type reaches every user in this "
    "data, so presence alone is degenerate), 2-row variant aggregate, "
    "pooled two-proportion z-score from exact integer counts "
    "(operators/sequence.py ab_test_conversion).",
)
def q_events_ab_test(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _sequence.ab_test_conversion(ev, min_events=14)


# ======================================================================
# Basket mining, skew report, drift monitoring
# ======================================================================


@register(
    "basket_lift_pairs",
    """
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
               FROM lineitem),
    n AS (SELECT COUNT(DISTINCT bk) AS nb FROM b),
    item_n AS (SELECT it, COUNT(*) AS ni FROM b GROUP BY it),
    p AS (SELECT a.it AS item_a, c.it AS item_b, COUNT(*) AS pair_count
          FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT item_a, item_b, pair_count,
           ROUND(pair_count * 1.0 / nb, 6) AS support,
           ROUND(pair_count * 1.0 / na.ni, 6) AS confidence_a_to_b,
           ROUND((pair_count * 1.0 / na.ni) * (nb * 1.0 / nc.ni), 6) AS lift
    FROM p
    JOIN item_n na ON na.it = item_a
    JOIN item_n nc ON nc.it = item_b
    CROSS JOIN n
    """,
    doc="Market-basket association mining: part pairs co-ordered in "
    ">=2 orders with support / confidence / lift. Pairs generated "
    "only inside each basket (never item x item); item margins and "
    "the basket total broadcast onto the pair table; exact-integer "
    "count arithmetic (operators/relational.py basket_lift_pairs).",
)
def q_basket_lift_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return relational.basket_lift_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
    )


@register(
    "hot_key_report",
    """
    WITH c AS (SELECT l_partkey, COUNT(*) AS n_rows FROM lineitem
               GROUP BY l_partkey),
    t AS (SELECT SUM(n_rows) AS total FROM c)
    SELECT l_partkey, n_rows,
           ROUND(n_rows * 1.0 / total, 6) AS share,
           ROUND(n_rows * 1.0 / (total / (SELECT COUNT(*) FROM c)), 4)
             AS skew_factor
    FROM c CROSS JOIN t
    ORDER BY n_rows DESC, l_partkey ASC LIMIT 20
    """,
    doc="Hot-key pre-flight report: the 20 heaviest join/agg keys with "
    "row share and skew factor (x the mean key load) — the decision "
    "input for salting / AQE skew hints before a big job "
    "(operators/skew.py top_frequent_keys + broadcast totals).",
)
def q_hot_key_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # one key aggregation feeds both the totals and the top-20 (same
    # ordering/tie-break as skew.top_frequent_keys); checkpointed so
    # the two branches share the single materialization
    counts = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint()
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    top = counts.orderBy(
        F.col("n_rows").desc(), F.col("l_partkey").asc()
    ).limit(20)
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            "l_partkey",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__t"), 6).alias("share"),
            F.round(
                F.col("n_rows") / (F.col("__t") / F.col("__k")), 4
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("l_partkey").asc())
    )


@register(
    "source_drift_chisq",
    """
    WITH cont AS (SELECT source, lang, COUNT(*) AS o
                  FROM documents GROUP BY source, lang),
    margins AS (SELECT lang, SUM(o) AS m FROM cont GROUP BY lang),
    gn AS (SELECT source, SUM(o) AS ng FROM cont GROUP BY source),
    tot AS (SELECT SUM(o) AS N FROM cont),
    scaffold AS (SELECT gn.source, gn.ng, margins.lang, margins.m
                 FROM gn CROSS JOIN margins),
    j AS (SELECT s.source, s.ng, s.m,
                 COALESCE(cont.o, 0) AS o, tot.N
          FROM scaffold s
          LEFT JOIN cont ON cont.source = s.source AND cont.lang = s.lang
          CROSS JOIN tot)
    SELECT source, MAX(ng) AS n_rows,
           ROUND(SUM(POWER(o - ng * (m * 1.0 / N), 2)
                     / (ng * (m * 1.0 / N))), 4) AS chi_square,
           CAST(COUNT(*) - 1 AS INTEGER) AS dof
    FROM j GROUP BY source
    """,
    doc="Per-source language-mix drift monitor: chi-square of each "
    "source's language distribution against the corpus mix, zero-"
    "observed cells included via the broadcast group x category "
    "scaffold (operators/quality.py category_drift_chisq).",
)
def q_source_drift_chisq(spark, sf_dir):
    from pyspark_scd_spark.operators.quality import category_drift_chisq

    d = _t(spark, sf_dir, "documents")
    return category_drift_chisq(d, group_col="source", category_col="lang")


_RECURSIVE_BFS_SQL = """
WITH RECURSIVE su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'),
e AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM su a JOIN su b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
walk(node, hops) AS (
  SELECT MIN(a), 0 FROM e
  UNION ALL
  SELECT e.b, w.hops + 1 FROM walk w JOIN e ON e.a = w.node
  WHERE w.hops < 6)
SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
FROM walk GROUP BY node
"""


@register(
    "recursive_bfs_hops",
    _RECURSIVE_BFS_SQL,
    doc="Bounded-hop BFS via Spark 4 recursive CTE (WITH RECURSIVE, "
    "UNION ALL body — Spark's supported recursion form): shortest hop "
    "count from the lowest-id supplier through the Q1-1996 co-supplier "
    "graph, MIN(hops) folding the path multiset. The oracle is the "
    "IDENTICAL SQL text on DuckDB — one source of truth, two engines.",
)
def q_recursive_bfs_hops(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_RECURSIVE_BFS_SQL)


@register(
    "doc_pack_materialize",
    """
    WITH sized AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents),
    binned AS (
      SELECT doc_id, toks, shard,
             CAST(FLOOR((SUM(len(toks)) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
                         - len(toks)) / 2048) AS BIGINT) AS bin_id
      FROM (SELECT doc_id, toks, doc_id % 32 AS shard FROM sized))
    SELECT shard, bin_id,
           CAST(COUNT(*) AS INTEGER) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           flatten(list(list_append(toks, '</s>') ORDER BY doc_id))
             AS packed_tokens
    FROM binned GROUP BY shard, bin_id
    """,
    doc="Materialized training sequences: each (shard, bin) from the "
    "doc_pack_bins assignment becomes ONE packed token array — docs "
    "concatenated in deterministic doc_id order with an EOS sentinel "
    "after each. sort_array over (doc_id, tokens) structs gives the "
    "ordered aggregation without a second window; packing runs "
    "entirely inside the shard partition, so no global order and no "
    "single-task stage.",
)
def q_doc_pack_materialize(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        TXT.tokens("text").alias("toks"),
        (F.col("doc_id") % 32).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.withColumn(
        "bin_id",
        F.floor(
            (F.sum(F.size("toks")).over(w) - F.size("toks")) / F.lit(2048)
        ),
    )
    packed = (
        binned.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.size("toks")).alias("n_tokens"),
            F.sort_array(
                F.collect_list(F.struct("doc_id", "toks"))
            ).alias("__ordered"),
        )
        .select(
            "shard",
            "bin_id",
            "n_docs",
            "n_tokens",
            F.flatten(
                F.transform(
                    "__ordered",
                    lambda s: F.array_append(s["toks"], F.lit("</s>")),
                )
            ).alias("packed_tokens"),
        )
    )
    return packed


@register(
    "events_rollup_zerofill",
    """
    WITH agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    span AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
             FROM agg GROUP BY 1),
    scaffold AS (
      SELECT s.event_type, g.g AS bucket
      FROM span s, LATERAL (SELECT unnest(generate_series(
             s.b0, s.b1, INTERVAL 1 HOUR)) AS g) g),
    joined AS (
      SELECT sc.event_type, sc.bucket, a.cents,
             a.cents IS NULL AS is_gap
      FROM scaffold sc LEFT JOIN agg a
        ON sc.event_type = a.event_type AND sc.bucket = a.bucket)
    SELECT event_type, CAST(epoch(bucket) AS BIGINT) AS bucket_ts,
           COALESCE(cents, 0) / 100.0 AS bucket_value,
           is_gap
    FROM joined
    """,
    doc="Zero-filled continuous aggregate (operators/timeseries.py "
    "rollup_gapfill fill='zero'): the sum-metric twin of the LOCF "
    "form — absent buckets mean 'nothing happened', so they fill "
    "with 0, not the carried observation; a pure projection over the "
    "scaffold join, no window at all.",
)
def q_events_rollup_zerofill(spark, sf_dir):
    from pyspark_scd_spark.operators.timeseries import rollup_gapfill

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = rollup_gapfill(
        ev, ["event_type"], "ts", cents, bucket_width="hour",
        step="interval 1 hour", fill="zero",
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_ts"),
        (F.col("bucket_value") / 100.0).alias("bucket_value"),
        "is_gap",
    )


# ======================================================================
# Structured Streaming surfaced through the driver contract: each
# builder runs the streaming operator to completion with
# trigger(availableNow=True) against a file-source replay of the
# testdata, writes the append-mode output to parquet (executor-side,
# never a driver memory sink), and returns the result as a batch
# DataFrame the oracle can hash. Emission semantics are part of the
# check: append mode emits exactly the windows/sessions whose end <=
# final watermark (max event time - delay), and the oracles encode
# that filter explicitly.
# ======================================================================

_STREAM_SRC_CACHE: dict[tuple, str] = {}


def _stream_source(spark: SparkSession, sf_dir: str, name: str,
                   prepare=None, options: dict | None = None) -> DataFrame:
    """Streaming DataFrame over a plain-parquet replay of a testdata
    table (written once per process: the raw testdata carries
    TIMESTAMP(NANOS) the file stream source cannot ingest directly).
    ``prepare`` optionally transforms the batch table before staging —
    e.g. the orders-as-snapshots projection. ``options`` are reader
    (SOURCE) options — e.g. maxFilesPerTrigger, which throttles
    micro-batch size and is silently ignored if set on the writer."""
    import hashlib
    import tempfile

    if prepare is None:
        prep_key = None
    else:
        # Key on the code object, not __name__: two same-named local
        # closures with diverging bodies must NOT share a staging dir.
        # Closure cell values and referenced global names are part of
        # the key too — identical bytecode with different captured
        # variables (or different globals) is a different transform.
        code = prepare.__code__
        def _cell_repr(c):
            try:
                v = c.cell_contents
            except ValueError:  # unfilled cell
                return "<empty>"
            return "<self>" if v is prepare else repr(v)

        cells = tuple(_cell_repr(c) for c in (prepare.__closure__ or ()))
        prep_key = hashlib.md5(
            code.co_code
            + repr(code.co_consts).encode()
            + repr(code.co_names).encode()
            + repr(cells).encode()
        ).hexdigest()
    key = (sf_dir, name, prep_key)
    if key not in _STREAM_SRC_CACHE:
        out = tempfile.mkdtemp(prefix=f"stream_src_{name}_") + "/data"
        df = _t(spark, sf_dir, name)
        if prepare is not None:
            df = prepare(df)
        df.write.parquet(out)
        _STREAM_SRC_CACHE[key] = out
    path = _STREAM_SRC_CACHE[key]
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def _run_stream_to_batch(out_df: DataFrame) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a
    parquet sink and return the materialized output. The sink is a
    directory write — state, shuffle and output all stay executor-side;
    the driver only coordinates the micro-batches."""
    import tempfile

    spark = out_df.sparkSession
    outdir = tempfile.mkdtemp(prefix="stream_out_") + "/data"
    ck = tempfile.mkdtemp(prefix="stream_ck_")
    q = (
        out_df.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.read.parquet(outdir)


@register(
    "stream_events_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
        CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > 1800000000
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL
             THEN 1 ELSE 0 END AS is_start,
        event_id
      FROM events),
    sess AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id
                ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
      FROM marked),
    agg AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
             CAST(epoch_us(MAX(ts)) + 1800000000 AS BIGINT)
               AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
               AS session_value
      FROM sess GROUP BY user_id, session_id),
    wm AS (SELECT MAX(epoch_us(ts)) - 1000000 AS w FROM events)
    SELECT user_id, session_start_us, session_end_us, n_events,
           session_value
    FROM agg, wm WHERE session_end_us <= w
    """,
    doc="Structured Streaming sessionization run to completion: "
    "session_window(30 min) + 1s watermark over a file-source replay, "
    "availableNow trigger, append mode (streaming/sessions.py "
    "sessionize_stream). The oracle is the batch lag-gap twin PLUS "
    "the append-mode emission rule (session_end <= max_ts - delay) — "
    "verified equal, including the gap boundary (an event exactly "
    "gap-after extends the session in both forms).",
)
def q_stream_events_sessionize(spark, sf_dir):
    from pyspark_scd_spark.streaming import sessions as S

    def to_cents(df):
        return df.withColumn(
            "value", F.round(F.col("value") * 100).cast("long").cast("double")
        )

    ev = _stream_source(spark, sf_dir, "events", prepare=to_cents)
    out = S.sessionize_stream(ev, gap="30 minutes", watermark="1 second")
    got = _run_stream_to_batch(out)
    return got.select(
        "user_id",
        epoch_us("session_start").alias("session_start_us"),
        epoch_us("session_end").alias("session_end_us"),
        "n_events",
        (F.col("session_value") / 100.0).alias("session_value"),
    )


@register(
    "stream_events_tumbling",
    """
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    wm AS (SELECT MAX(epoch_us(ts)) - 1000000 AS w FROM events)
    SELECT CAST(epoch_us(ws) AS BIGINT) AS window_start_us, event_type, n
    FROM agg, wm WHERE epoch_us(ws) + 3600000000 <= w
    """,
    doc="Watermarked tumbling-window streaming counts run to "
    "completion (streaming/sessions.py tumbling_counts_stream): "
    "window('1 hour') + 1s watermark, availableNow, append mode. "
    "Oracle = hourly batch counts restricted to windows the final "
    "watermark closed (window_end <= max_ts - delay).",
)
def q_stream_events_tumbling(spark, sf_dir):
    from pyspark_scd_spark.streaming import sessions as S

    ev = _stream_source(spark, sf_dir, "events")
    out = S.tumbling_counts_stream(ev, window="1 hour", watermark="1 second")
    got = _run_stream_to_batch(out)
    return got.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n",
    )


@register(
    "stream_dedup_watermark",
    """
    SELECT DISTINCT user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM events
    """,
    doc="Watermark-bounded streaming dedup (streaming/dedup.py "
    "dedup_stream -> dropDuplicatesWithinWatermark): state is one "
    "entry per key EXPIRED at the horizon, so it is bounded by "
    "arrival rate x horizon, not stream lifetime (plain "
    "dropDuplicates on a stream grows forever). Keys cover the full "
    "projected row, so the surviving set is exactly DISTINCT and "
    "arrival order cannot matter.",
)
def q_stream_dedup_watermark(spark, sf_dir):
    from pyspark_scd_spark.streaming import dedup as D

    def project(df):
        return df.select("user_id", "event_type", "ts")

    ev = _stream_source(spark, sf_dir, "events", prepare=project)
    out = D.dedup_stream(
        ev, keys=["user_id", "event_type", "ts"], horizon="1 hour"
    )
    got = _run_stream_to_batch(out)
    return got.select(
        "user_id", "event_type", epoch_us("ts").alias("ts_us")
    )


def _scd_snaps_prep(orders):
    """Shared snapshot projection for the SCD stream builders
    (module-level so both classify variants share one staging dir)."""
    deduped = scd.snapshot_dedup_aligned(
        order_rows(orders), ["key"], "snap_date", ["o_orderkey"]
    ).drop("o_orderkey")
    return scd.with_row_hash(deduped, SCD_HASH_COLS).select(
        "key", "snap_date", "row_hash"
    )


@register(
    "stream_scd_status",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    l AS (SELECT key, snap_date, o_orderstatus, o_orderpriority,
                 LAG(snap_date) OVER w AS prev_date,
                 LAG(o_orderstatus) OVER w AS prev_status,
                 LAG(o_orderpriority) OVER w AS prev_prio
          FROM snaps
          WINDOW w AS (PARTITION BY key ORDER BY snap_date))
    SELECT key, CAST(snap_date AS DATE) AS snap_date,
           CASE WHEN prev_date IS NULL THEN 'New'
                WHEN o_orderstatus <> prev_status
                     OR o_orderpriority <> prev_prio THEN 'Changed'
                ELSE 'No Change' END AS change_status
    FROM l
    """,
    doc="Stateful streaming SCD classification (streaming/"
    "scd_stream.py scd_status_stream): applyInPandasWithState holds "
    "one row-hash per entity, classifying each arriving snapshot as "
    "New/Changed/No Change in O(arriving rows) with O(entities) "
    "state — the shape where accumulated history depth never matters. "
    "Deleted is intentionally absent (undetectable row-by-row in a "
    "stream; owned by the batch twin — documented divergence). "
    "Oracle = per-key lag classification over the same snapshots.",
)
def q_stream_scd_status(spark, sf_dir):
    from pyspark_scd_spark.streaming import scd_stream as SS

    snaps = _stream_source(spark, sf_dir, "orders", prepare=_scd_snaps_prep)
    out = SS.scd_status_stream(
        snaps, key_col="key", time_col="snap_date", hash_col="row_hash"
    )
    return _run_stream_to_batch(out)


@register(
    "stream_scd_status_ttl",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    l AS (SELECT key, snap_date, o_orderstatus, o_orderpriority,
                 LAG(snap_date) OVER w AS prev_date,
                 LAG(o_orderstatus) OVER w AS prev_status,
                 LAG(o_orderpriority) OVER w AS prev_prio
          FROM snaps
          WINDOW w AS (PARTITION BY key ORDER BY snap_date))
    SELECT key, CAST(snap_date AS DATE) AS snap_date,
           CASE WHEN prev_date IS NULL
                     OR date_diff('day', prev_date, snap_date) > 90
                THEN 'New'
                WHEN o_orderstatus <> prev_status
                     OR o_orderpriority <> prev_prio THEN 'Changed'
                ELSE 'No Change' END AS change_status
    FROM l
    """,
    doc="Stateful streaming SCD classification with EVENT-time TTL "
    "expiry (streaming/scd_stream.py scd_status_stream, "
    "event_ttl_days=90): an entity idle longer than the TTL between "
    "consecutive snapshots re-enters as New — the deterministic "
    "expiry twin of the processing-time GroupState timeout, so the "
    "TTL path itself is oracle-checkable (the wall-clock timeout is "
    "covered by pytest only, being replay-nondeterministic by "
    "nature). Oracle = per-key lag classification with the same "
    "gap>90d cold-start reset.",
)
def q_stream_scd_status_ttl(spark, sf_dir):
    from pyspark_scd_spark.streaming import scd_stream as SS

    snaps = _stream_source(spark, sf_dir, "orders", prepare=_scd_snaps_prep)
    out = SS.scd_status_stream(
        snaps,
        key_col="key",
        time_col="snap_date",
        hash_col="row_hash",
        event_ttl_days=90,
    )
    return _run_stream_to_batch(out)


def _clicks_prep(df):
    """Shared click projection for the attribution stream builders.
    _stream_source keys its staged parquet on the prepare function's
    bytecode, constants, names and closure cells, not its __name__, so
    the builders that pass this one function share one staging dir."""
    return df.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )


def _purchases_prep(df):
    return df.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )


@register(
    "stream_attribution_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
    doc="Watermarked stream-stream interval join run to completion "
    "(streaming/join.py attribution_candidates_stream): click and "
    "purchase streams joined on user + 1h range predicate; the "
    "watermarks + range condition bound BOTH state stores to the "
    "horizon. Inner-join rows are final on arrival, so the "
    "availableNow drain emits exactly the batch interval-join result "
    "the oracle computes.",
)
def q_stream_attribution_join(spark, sf_dir):
    from pyspark_scd_spark.streaming import join as J

    c = _stream_source(spark, sf_dir, "events", prepare=_clicks_prep)
    p = _stream_source(spark, sf_dir, "events", prepare=_purchases_prep)
    out = J.attribution_candidates_stream(
        c, p, horizon="1 hour", watermark="30 minutes"
    )
    got = _run_stream_to_batch(out)
    return got.select(
        "purchase_id",
        "user_id",
        epoch_us("purchase_ts").alias("purchase_ts_us"),
        "click_id",
        epoch_us("click_ts").alias("click_ts_us"),
    )


@register(
    "embedding_pq_encode",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id < 8),
    sub AS (SELECT e.vec_id, CAST(s.s AS INTEGER) AS sub_idx,
                   (e.v)[s.s*8+1 : s.s*8+8] AS x
            FROM e, LATERAL (SELECT unnest(range(0, 8)) AS s) s),
    cs AS (SELECT code, CAST(s.s AS INTEGER) AS sub_idx,
                  (cent.cv)[s.s*8+1 : s.s*8+8] AS y
           FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS s) s),
    d AS (SELECT sub.vec_id, sub.sub_idx, cs.code,
                 ROUND(list_inner_product(x, x)
                       - 2 * list_inner_product(x, y)
                       + list_inner_product(y, y), 9) AS dist2
          FROM sub JOIN cs USING (sub_idx)),
    best AS (SELECT vec_id, sub_idx, code, dist2,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                        ORDER BY dist2 ASC, code ASC) AS rn
             FROM d),
    agg AS (SELECT vec_id,
                   string_agg(CAST(code AS VARCHAR), ','
                              ORDER BY sub_idx) AS pq_code,
                   SUM(CAST(ROUND(dist2 * 1000000000) AS BIGINT))
                     / 1000000000.0 AS mse
            FROM best WHERE rn = 1 GROUP BY vec_id)
    SELECT vec_id, pq_code, mse FROM agg
    """,
    doc="Product quantization encode (operators/similarity.py "
    "pq_encode): d=64 split into 8 subspaces, each subvector coded as "
    "its nearest of 8 deterministic centroids (subvectors of the 8 "
    "lowest-id embeddings) — m log2(k)-bit codes, the ANN compression "
    "tier between int8 and raw floats. Distances via x.x - 2x.y + y.y "
    "rounded 9dp with smaller-code tie-break; the oracle replays "
    "assignment exactly; mse = total squared reconstruction error. "
    "Pure codegen map over the corpus scan, no shuffle.",
)
def q_embedding_pq_encode(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    first8 = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    ds = 8
    codebooks = [
        [vec[j * ds : (j + 1) * ds] for vec in first8] for j in range(8)
    ]
    return similarity.pq_encode(e, codebooks)


@register(
    "sim_search_ivf_probe2",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
    cells AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY ROUND(list_cosine_similarity(v, cv), 9) DESC,
                          c DESC) AS rn
      FROM e CROSS JOIN cent),
    assign AS (SELECT vec_id, c AS ivf_cell FROM cells WHERE rn = 1),
    corp AS (SELECT e.vec_id, e.v, a.ivf_cell
             FROM e JOIN assign a USING (vec_id)),
    probes AS (SELECT vec_id AS query_id, c AS ivf_cell
               FROM cells WHERE rn <= 2
                 AND vec_id >= 100 AND vec_id < 110),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id >= 100 AND vec_id < 110),
    s AS (SELECT p.query_id, corp.vec_id,
                 ROUND(list_cosine_similarity(corp.v, q.qv), 6) AS cosine
          FROM probes p
          JOIN corp ON corp.ivf_cell = p.ivf_cell
          JOIN q ON q.query_id = p.query_id),
    r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
          FROM s)
    SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """,
    doc="Multi-probe IVF ANN (operators/similarity.py "
    "ivf_probe_cells): each query probes its top-2 nearest cells — "
    "the standard recall knob for boundary queries, trading 2x probe "
    "scan for near-exact recall; corpus rows stay in exactly one "
    "cell, so the probe join is partition-pruned at rest. "
    "Deterministic probe ranking (9dp, larger-cell tie-break) "
    "replayed by the oracle.",
)
def q_sim_search_ivf_probe2(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity
    from pyspark_scd_spark.functions import vectors as _V

    e = _t(spark, sf_dir, "embeddings")
    centroids = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    corpus = similarity.ivf_assign(e, centroids)
    queries = similarity.ivf_probe_cells(
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)),
        centroids,
        n_probe=2,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("probe_cell").alias("ivf_cell"),
    )
    scored = corpus.join(F.broadcast(queries), "ivf_cell").select(
        "query_id",
        "vec_id",
        F.round(_V.cosine(F.col("embedding"), F.col("__qv")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@register(
    "events_sliding_window",
    """
    WITH hops AS (
      SELECT event_type, ts,
             date_trunc('hour', ts) - INTERVAL (h.h) HOUR AS window_start
      FROM events,
           LATERAL (SELECT unnest(range(0, 2)) AS h) h),
    agg AS (
      SELECT window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM hops GROUP BY 1, 2)
    SELECT CAST(epoch_us(window_start) AS BIGINT) AS window_start_us,
           event_type, n
    FROM agg
    """,
    doc="Sliding (hopping) window aggregation: window(ts, '2 hours', "
    "'1 hour') — every event contributes to the two hour-aligned "
    "2-hour windows covering it; Spark's Expand feeds one groupBy "
    "(one exchange), the same plan shape as a rollup. Oracle "
    "generates both hops per event explicitly.",
)
def q_events_sliding_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            epoch_us(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )


@register(
    "scd_asof_lookup",
    f"""
    WITH snaps AS ({SNAPS_SQL}),
    h AS (
      SELECT key, snap_date, o_orderstatus, o_orderpriority,
        CASE WHEN LAG(o_orderstatus || '||' || o_orderpriority)
                    OVER (PARTITION BY key ORDER BY snap_date)
               IS DISTINCT FROM (o_orderstatus || '||' || o_orderpriority)
             THEN 1 ELSE 0 END AS chg
      FROM snaps),
    i AS (
      SELECT *, SUM(chg) OVER (PARTITION BY key ORDER BY snap_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
      FROM h),
    g AS (
      SELECT key, island, o_orderstatus, o_orderpriority,
             MIN(snap_date) AS valid_from
      FROM i GROUP BY 1, 2, 3, 4),
    t2 AS (
      SELECT key, o_orderstatus, o_orderpriority, valid_from,
             LEAD(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
               AS valid_to
      FROM g)
    SELECT key, o_orderstatus, o_orderpriority,
           CAST(valid_from AS DATE) AS valid_from,
           CAST(valid_to AS DATE) AS valid_to
    FROM t2
    WHERE valid_from <= DATE '1996-06-15'
      AND (valid_to IS NULL OR valid_to > DATE '1996-06-15')
    """,
    doc="Point-in-time (AS OF) lookup over the SCD Type-2 dimension: "
    "each entity's state effective on 1996-06-15 — the query every "
    "type-2 consumer runs (operators/scd.py type2_intervals + an "
    "interval-containment filter). At rest the dimension is "
    "|state changes| rows, so the lookup is a filter over a tiny "
    "table, never the snapshot history.",
)
def q_scd_asof_lookup(spark, sf_dir):
    snaps = order_snapshots(spark, sf_dir)
    df = scd.with_row_hash(snaps, SCD_HASH_COLS)
    t2 = scd.type2_intervals(
        df, key_cols=["key"], time_col="snap_date",
        state_cols=SCD_HASH_COLS,
    )
    asof = F.lit("1996-06-15").cast("date")
    return t2.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    ).select(
        "key", "o_orderstatus", "o_orderpriority", "valid_from", "valid_to"
    )


def _semantic_clusters(spark, sf_dir, pairs_op: str, **index_kwargs):
    """Near-dup pairs from ``similarity.<pairs_op>`` closed into
    connected components, with each component's size."""
    from pyspark_scd_spark.operators import dedup, similarity

    e = _t(spark, sf_dir, "embeddings")
    pairs = getattr(similarity, pairs_op)(
        e, threshold=0.3, **index_kwargs
    ).select("id_a", "id_b")
    cc = dedup.connected_components(
        pairs, src_col="id_a", dst_col="id_b",
        strategy=_cc_strategy(e),
    )
    w = Window.partitionBy("component")
    return cc.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    ).select(
        F.col("id_a").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "dedup_semantic_clusters",
    _semantic_clusters_oracle(_lsh_cand_ctes(ordered=True)),
    doc="Semantic (embedding) near-dup clusters over the ANN tier — "
    "the 100 TB default path: multi-probe LSH candidates + exact "
    "cosine verify (embedding_neardup_pairs_ann) closed into "
    "connected components. The transitive closure partially absorbs "
    "candidate-tier misses (a missed a-b edge still clusters via "
    "a-c-b); the exact grid twin remains available for bounded "
    "subsets. Oracle replays candidates, verify and a recursive-CTE "
    "closure.",
)
def q_dedup_semantic_clusters(spark, sf_dir):
    return _semantic_clusters(
        spark, sf_dir, "embedding_neardup_pairs_ann",
        dim=64, n_planes=8, n_tables=8,
    )


@register(
    "orders_retention_cohort",
    """
    WITH firsts AS (
      SELECT o_custkey,
             MIN(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY 1),
    aged AS (
      SELECT o.o_custkey, f.cohort_month,
             CAST(datediff('month', f.cohort_month,
                  date_trunc('month', o.o_orderdate)) AS INTEGER)
               AS age_months
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey)
    SELECT CAST(cohort_month AS DATE) AS cohort_month, age_months,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers
    FROM aged GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: customers bucketed by first-order "
    "month, activity counted per (cohort, month age) — the classic "
    "growth-analytics rollup. Two key-partitioned aggregates (first "
    "order per customer, then distinct-count per cohort cell); the "
    "cohort table joins back onto orders by customer key, so both "
    "exchanges are on o_custkey and AQE can co-locate them.",
)
def q_orders_retention_cohort(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    aged = o.join(firsts, "o_custkey").select(
        "o_custkey",
        "cohort_month",
        (
            (F.year(F.col("o_orderdate")) - F.year("cohort_month")) * 12
            + (F.month(F.col("o_orderdate")) - F.month("cohort_month"))
        ).cast("int").alias("age_months"),
    )
    return aged.groupBy(
        F.to_date("cohort_month").alias("cohort_month"), "age_months"
    ).agg(F.countDistinct("o_custkey").alias("active_customers"))


@register(
    "kmeans_train_cells",
    _kmeans_oracle(iters=3, k=8, dim=64),
    doc="Distributed Lloyd's k-means, VALUE-CHECKED end to end: 3 "
    "fixed iterations from the 8 lowest-id seeds with 9dp-rounded "
    "scores and centroids (operators/similarity.py kmeans_train "
    "round_centroids=9, tol=0). The oracle replays the full training "
    "trajectory as unrolled SQL — assignment argmax, per-(cell,dim) "
    "mean, empty-cell carry — making an iterative ML training loop a "
    "hash-checked query, like the unrolled pagerank oracle. Per "
    "round: one blocked-BLAS assignment pass over Arrow batches and "
    "one map-side-combined (cell, dim) aggregate; driver state is the "
    "k x d centroid matrix only.",
)
def q_kmeans_train_cells(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    _, assigned = similarity.kmeans_train(
        e, k=8, max_iter=3, tol=0.0, round_centroids=9
    )
    return assigned.select("vec_id", "cell")


@register(
    "corpus_weighted_sample",
    """
    WITH t AS (
      SELECT doc_id,
             GREATEST(CAST(len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE), 1.0) AS w
      FROM documents),
    s AS (
      SELECT doc_id, CAST(w AS BIGINT) AS weight,
             ROUND(-ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
                   / w, 9) AS sample_key
      FROM t)
    SELECT doc_id, weight, sample_key FROM s
    ORDER BY sample_key ASC, doc_id ASC LIMIT 200
    """,
    doc="Weighted sampling WITHOUT replacement, determinized "
    "Efraimidis-Spirakis A-ES (operators/corpus.py "
    "weighted_sample_topk): u = md5 32-bit fraction of doc_id, key = "
    "-ln(u)/w with w = token count, k smallest keys win — inclusion "
    "probability proportional to tokens contributed, the one-pass "
    "distributed form of weighted reservoir sampling. Key is a pure "
    "map over the scan; top-k is TakeOrderedAndProject (per-partition "
    "heap, no corpus sort/shuffle); 9dp rounding + id tie-break make "
    "the sample identical across engines and cluster sizes.",
)
def q_corpus_weighted_sample(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.weighted_sample_topk(d, k=200)


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-round BPE oracle: each merge round is the same CTE
    chain (pair count -> top-1 -> candidate runs -> greedy keep ->
    apply + renumber), chained n times — the same unrolled-iteration
    trick as the k-means and pagerank oracles."""
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, n_merges + 1)
    )
    return _bpe_chain(n_merges) + "\n    " + union


def _bpe_chain(n_merges: int) -> str:
    """The shared WITH-chain (r0 … s{n}) of the BPE oracles —
    bpe_train_merges unions the s{i} summaries, bpe_encode_checksum
    extends r{n} with vocab-id CTEs."""
    parts = [
        """
    WITH r0 AS (
      SELECT doc_id, CAST(UNNEST(range(len(t))) AS BIGINT) AS pos,
             UNNEST(t) AS tok
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS t
            FROM documents)
      WHERE len(t) > 0)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
    p{i} AS (SELECT doc_id, pos, tok,
                  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM r{i - 1}),
    t{i} AS (SELECT tok AS a, nxt AS b, COUNT(*) AS freq
           FROM p{i} WHERE nxt IS NOT NULL
           GROUP BY 1, 2 ORDER BY freq DESC, a ASC, b ASC LIMIT 1),
    c{i} AS (SELECT p.doc_id, p.pos, p.tok, t.b AS mb,
                  (p.tok = t.a AND p.nxt = t.b) AS cand
           FROM p{i} p CROSS JOIN t{i} t),
    g{i} AS (SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER() OVER
                (PARTITION BY doc_id, cand ORDER BY pos) END AS grp
           FROM c{i}),
    k{i} AS (SELECT *, cand AND ((pos - MIN(pos) OVER
                (PARTITION BY doc_id, grp)) % 2 = 0) AS keep
           FROM g{i}),
    d{i} AS (SELECT *, COALESCE(lag(keep) OVER
                (PARTITION BY doc_id ORDER BY pos), FALSE) AS dropped
           FROM k{i}),
    r{i} AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY pos) - 1 AS BIGINT) AS pos,
                  CASE WHEN keep THEN tok || chr(31) || mb
                       ELSE tok END AS tok
           FROM d{i} WHERE NOT dropped),
    s{i} AS (SELECT CAST({i} AS INTEGER) AS step, a AS token_a,
                  b AS token_b, CAST(freq AS BIGINT) AS pair_freq,
                  (SELECT COUNT(*) FROM r{i}) AS tokens_after
           FROM t{i})"""
        )
    return ",".join(parts)


@register(
    "bpe_train_merges",
    _bpe_oracle(3),
    doc="BPE merge TRAINING loop, value-checked end to end "
    "(operators/corpus.py bpe_train_merges): 3 rounds of "
    "most-frequent-adjacent-pair selection (freq DESC, pair ASC "
    "tie-break) + greedy non-overlapping merge apply (runs of A=A "
    "merge every other position), recounting on the merged corpus "
    "each round. tokens_after proves each merge was APPLIED, not "
    "just chosen. Corpus state stays exploded across executors; per "
    "round one map-side-combined pair count + doc-co-partitioned "
    "windows; driver state = one winning pair per round (k-means "
    "pattern). The oracle unrolls the 3 rounds as identical CTE "
    "chains.",
)
def q_bpe_train_merges(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    merge_table, _ = corpus.bpe_train_merges(d, n_merges=3)
    return merge_table


@register(
    "sim_search_ivf_pq",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
    cells AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY ROUND(list_cosine_similarity(v, cv), 9) DESC,
                          c DESC) AS rn
      FROM e CROSS JOIN cent),
    assign AS (SELECT vec_id, c AS ivf_cell FROM cells WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, c AS ivf_cell
               FROM cells WHERE rn <= 2
                 AND vec_id >= 100 AND vec_id < 110),
    sub AS (SELECT e.vec_id, CAST(s.s AS INTEGER) AS sub_idx,
                   (e.v)[s.s*8+1 : s.s*8+8] AS x
            FROM e, LATERAL (SELECT unnest(range(0, 8)) AS s) s),
    cs AS (SELECT c AS code, CAST(s.s AS INTEGER) AS sub_idx,
                  (cent.cv)[s.s*8+1 : s.s*8+8] AS y
           FROM cent, LATERAL (SELECT unnest(range(0, 8)) AS s) s),
    d AS (SELECT sub.vec_id, sub.sub_idx, cs.code,
                 ROUND(list_inner_product(x, x)
                       - 2 * list_inner_product(x, y)
                       + list_inner_product(y, y), 9) AS dist2
          FROM sub JOIN cs USING (sub_idx)),
    best AS (SELECT vec_id, sub_idx, code,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                        ORDER BY dist2 ASC, code ASC) AS rn
             FROM d),
    lut AS (SELECT d.vec_id AS query_id, d.sub_idx, d.code,
                   CAST(ROUND(d.dist2 * 1000000000) AS BIGINT) AS dn
            FROM d WHERE d.vec_id >= 100 AND d.vec_id < 110),
    adc AS (SELECT p.query_id, a.vec_id, SUM(l.dn) AS n
            FROM probes p
            JOIN assign a ON a.ivf_cell = p.ivf_cell
            JOIN best b ON b.vec_id = a.vec_id AND b.rn = 1
            JOIN lut l ON l.query_id = p.query_id
                      AND l.sub_idx = b.sub_idx AND l.code = b.code
            GROUP BY 1, 2),
    r AS (SELECT query_id, vec_id, n,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY n ASC, vec_id ASC) AS INTEGER) AS rank
          FROM adc)
    SELECT query_id, vec_id, n / 1000000000.0 AS adc_dist, rank
    FROM r WHERE rank <= 5
    """,
    doc="IVF+PQ asymmetric-distance ANN — the full 100 TB serving "
    "stack in one query (operators/similarity.py pq_adc_topk): "
    "corpus reduced to (cell, 8x3-bit PQ codes) by a pure-map encode, "
    "queries probe their top-2 IVF cells and ship an 8x8 LUT of "
    "exact integer-nano squared distances; ADC = zip-sum of table "
    "lookups, codegen, zero corpus shuffle before the final top-k. "
    "Exact longs end to end, so ADC ranking is engine-reproducible "
    "with no float-order risk; the oracle replays encode, probe, LUT "
    "and ADC from the same CTEs as the pq/probe2 oracles.",
)
def q_sim_search_ivf_pq(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    first8 = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    ds = 8
    codebooks = [
        [vec[j * ds : (j + 1) * ds] for vec in first8] for j in range(8)
    ]
    corpus = similarity.ivf_assign(e, first8)
    qsub = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    # one collect serves both the query vectors and their probe cells
    # (ivf_probe_cells keeps the embedding column) — the probe-cell
    # expression tree is 8 64-dim cosines, so each extra job over it
    # pays its codegen again.
    probe_rows = (
        similarity.ivf_probe_cells(qsub, first8, n_probe=2)
        .select("vec_id", "embedding", "probe_cell")
        .orderBy("vec_id", "probe_cell")
        .collect()
    )
    queries_d: dict[int, list[float]] = {}
    query_cells: dict[int, list[int]] = {}
    for r in probe_rows:
        qid = int(r["vec_id"])
        queries_d[qid] = list(r["embedding"])
        query_cells.setdefault(qid, []).append(int(r["probe_cell"]))
    queries = sorted(queries_d.items())
    return similarity.pq_adc_topk(
        corpus,
        codebooks,
        queries,
        k=5,
        cell_col="ivf_cell",
        query_cells=query_cells,
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "hybrid_search_rrf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks GROUP BY 1, 2),
    dlen AS (SELECT doc_id, SUM(tf) AS dlen FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
              FROM tf GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(dlen) AS avgdl FROM dlen),
    qtok AS (SELECT DISTINCT doc_id AS query_id, tok FROM toks
             WHERE doc_id >= 100 AND doc_id < 105),
    cand AS (SELECT q.query_id, t.doc_id, t.tf, f.df, l.dlen,
                    s.n_docs, s.avgdl
             FROM tf t JOIN qtok q USING (tok)
             JOIN dfreq f USING (tok)
             JOIN dlen l ON l.doc_id = t.doc_id, stats s
             WHERE t.doc_id <> q.query_id),
    kw0 AS (SELECT query_id, doc_id,
                   ROUND(SUM(ln((n_docs - df + CAST('0.5' AS DOUBLE))
                                / (df + CAST('0.5' AS DOUBLE))
                                + CAST('1.0' AS DOUBLE))
                         * (tf * CAST('{_BM25_K1 + 1.0!r}' AS DOUBLE))
                         / (tf + CAST('{_BM25_K1!r}' AS DOUBLE)
                            * (CAST('{1.0 - _BM25_B!r}' AS DOUBLE)
                               + CAST('{_BM25_B!r}' AS DOUBLE)
                                 * dlen / avgdl))), 6) AS bm25
            FROM cand GROUP BY 1, 2),
    kw AS (SELECT query_id, doc_id, rk AS kw_rank FROM (
             SELECT query_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY bm25 DESC, doc_id ASC) AS rk
             FROM kw0) WHERE rk <= 20),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id >= 100 AND vec_id < 105),
    vs AS (SELECT q.query_id, e.vec_id AS doc_id,
                  ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
           FROM e CROSS JOIN qv q WHERE e.vec_id <> q.query_id),
    vec AS (SELECT query_id, doc_id, rk AS vec_rank FROM (
              SELECT query_id, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, doc_id ASC) AS rk
              FROM vs) WHERE rk <= 20),
    fused AS (SELECT COALESCE(kw.query_id, vec.query_id) AS query_id,
                     COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
                     kw.kw_rank, vec.vec_rank,
                     COALESCE(1E0 / (60 + kw.kw_rank), 0E0)
                       + COALESCE(1E0 / (60 + vec.vec_rank), 0E0) AS rrf
              FROM kw FULL OUTER JOIN vec
                ON kw.query_id = vec.query_id
               AND kw.doc_id = vec.doc_id),
    r AS (SELECT query_id, doc_id,
                 CAST(kw_rank AS INTEGER) AS kw_rank,
                 CAST(vec_rank AS INTEGER) AS vec_rank,
                 ROUND(rrf, 6) AS rrf_score,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rank
          FROM fused)
    SELECT query_id, doc_id, kw_rank, vec_rank, rrf_score, rank
    FROM r WHERE rank <= 10
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion — the RAG-stack "
    "query (operators/search.py hybrid_search_rrf): an Okapi BM25 "
    "lexical leg (idf = ln((N-df+.5)/(df+.5)+1), k1=1.2 b=0.75; "
    "query terms broadcast onto the (doc,term,tf) table = an "
    "inverted-index probe, corpus never shuffles for candidates) and "
    "a dense cosine leg (query vectors broadcast), each cut at 20, "
    "fused by rrf = sum 1/(60+rank) and re-ranked top-10. RRF terms "
    "are reciprocals of small integers — bit-identical across "
    "engines; BM25 constants are inlined from the same Python "
    "doubles the builder uses.",
)
def q_hybrid_search_rrf(spark, sf_dir):
    from pyspark_scd_spark.operators import search

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return search.hybrid_search_rrf(
        d, e, query_ids=list(range(100, 105)), k=10, k0=20, rrf_k=60,
        term_freq=_staged_term_freq(spark, sf_dir),
    )


@register(
    "dedup_span_overlap",
    r"""
    WITH n AS (SELECT doc_id,
                      trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
               FROM documents),
    g AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                 CAST(CAST(('0x' || substr(md5(substr(t,
                      CAST(i.i AS INTEGER), 5)), 1, 15)) AS UBIGINT)
                      AS BIGINT) AS h
          FROM n, LATERAL (SELECT unnest(range(1,
               GREATEST(length(t), 5) - 5 + 2)) AS i) i),
    w AS (SELECT doc_id, pos, h,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS wmin,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
          FROM g),
    fps AS (SELECT DISTINCT doc_id, wmin AS fingerprint
            FROM w WHERE pos <= n_grams - 3),
    keep AS (SELECT fingerprint FROM fps
             GROUP BY fingerprint HAVING COUNT(*) <= 20),
    kept AS (SELECT f.doc_id, f.fingerprint
             FROM fps f JOIN keep USING (fingerprint))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fingerprint = b.fingerprint
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
    doc="Substring-level near-dup pairs (operators/dedup.py "
    "span_overlap_pairs): documents sharing >=3 winnowing "
    "fingerprints — the scalable ExactSubstr stand-in for shared "
    "boilerplate/quotes that shingle Jaccard dilutes on long docs. "
    "Hub fingerprints (df > 20) dropped before the inverted-index "
    "self-join (bounds the worst key to df^2); 60-bit md5 gram "
    "hashes so the oracle replays the fingerprints exactly.",
)
def q_dedup_span_overlap(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.span_overlap_pairs(
        d.select("doc_id", "text"), min_shared=3, max_df=20,
        hash_fn="md5",
    )


@register(
    "corpus_datacard",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS nt,
             lang, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents),
    overall AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             ROUND(AVG(nt), 4) AS avg_tokens,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp,
             CAST(SUM(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
      FROM base),
    lc AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c
           FROM base GROUP BY 1),
    ent AS (SELECT ROUND(SUM(-(c / n_docs) * ln(c / n_docs)), 6)
                     AS lang_entropy
            FROM lc, overall)
    SELECT n_docs, total_tokens, avg_tokens, n_sources, n_langs,
           lang_entropy,
           ROUND(1.0 - n_fp / n_docs, 6) AS exact_dup_rate,
           ROUND(n_short / n_docs, 6) AS short_doc_frac
    FROM overall, ent
    """,
    doc="One-row corpus datacard (operators/corpus.py "
    "corpus_datacard): volume (docs/tokens/avg), diversity (source "
    "count, language-mix Shannon entropy), exact-dup rate from "
    "normalized-text fingerprints, short-doc fraction. Bounded "
    "aggregates + broadcast cross joins — one row out at any scale.",
)
def q_corpus_datacard(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.corpus_datacard(d)


def _pii_scrub_oracle() -> str:
    """DuckDB twin of pii_scrub over the PII-enriched corpus: the SAME
    regex strings compile identically under Java regex and RE2 (shared
    dialect — see corpus.PII_PATTERNS), standard-SQL string literals
    pass backslashes through verbatim, and regexp_replace applies the
    same fixed order with the 'g' flag. Counts run against the
    ORIGINAL text, as the operator does."""
    from pyspark_scd_spark.operators.corpus import PII_PATTERNS

    em, emr = PII_PATTERNS["email"]
    ph, phr = PII_PATTERNS["phone"]
    ip, ipr = PII_PATTERNS["ipv4"]
    return f"""
    WITH enr AS (SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-'
          || CAST(doc_id % 7 AS VARCHAR) || '.example.org or 555-'
          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
          || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
      FROM documents)
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{em}', '{emr}', 'g'),
               '{ph}', '{phr}', 'g'),
               '{ip}', '{ipr}', 'g')) AS scrubbed_md5,
           CAST(length(regexp_extract_all(t, '{em}')) AS INTEGER)
             AS n_emails,
           CAST(length(regexp_extract_all(t, '{ph}')) AS INTEGER)
             AS n_phones,
           CAST(length(regexp_extract_all(t, '{ip}')) AS INTEGER)
             AS n_ips
    FROM enr
    """


def _pii_enriched(d: DataFrame) -> DataFrame:
    """Deterministic PII enrichment shared by the batch and stream
    PII entries (and replayed in the oracle): the raw corpus has no
    PII, so both engines append doc_id-derived emails/phones/IPs."""
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("text"),
    )


@register(
    "pii_scrub_redact",
    _pii_scrub_oracle(),
    doc="PII redaction (operators/corpus.py pii_scrub) — the C4/Dolma "
    "corpus-prep stage: emails, dashed phone numbers, and IPv4 "
    "addresses replaced with typed mask tokens, per-doc counts "
    "emitted for the datacard. Pure JVM-side regexp projection (no "
    "UDF, no shuffle — rides the scan at any scale). The corpus is "
    "deterministically PII-enriched in BOTH engines so the scrub is "
    "genuinely exercised; the regex dialect (classes, bounded "
    "repetition, \\\\b, non-capturing groups) compiles identically "
    "under Java regex and RE2, and the md5 of the scrubbed text "
    "hash-checks every replacement byte.",
)
def q_pii_scrub_redact(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    out = corpus.pii_scrub(_pii_enriched(d))
    return out.select(
        "doc_id",
        F.md5("scrubbed").alias("scrubbed_md5"),
        "n_emails",
        "n_phones",
        "n_ips",
    )


@register(
    "lm_perplexity_score",
    """
    WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents
               WHERE length(lower(text)) >= 3),
    gr AS (SELECT doc_id, substring(tx, CAST(i.i AS INTEGER), 3) AS g
           FROM t,
           LATERAL (SELECT unnest(range(1, length(tx) - 1)) AS i) i),
    tri AS (SELECT g, COUNT(*) AS c3 FROM gr GROUP BY g),
    cx AS (SELECT substring(g, 1, 2) AS cxk, COUNT(*) AS cn
           FROM gr GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT substring(g, 3, 1)) AS vv FROM gr),
    s AS (SELECT doc_id, -LN((c3 + 1.0) / (cn + 1.0 * vv)) AS nll
          FROM gr JOIN tri USING (g)
          JOIN cx ON substring(gr.g, 1, 2) = cxk
          CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(EXP(AVG(nll)), 4) AS perplexity
    FROM s GROUP BY doc_id
    """,
    doc="Character-trigram LM perplexity per document (operators/"
    "corpus.py char_trigram_perplexity) — the CCNet/KenLM quality-"
    "filter shape: train a smoothed trigram model on the corpus, "
    "score each doc by the perplexity of its own characters; the "
    "ranking tail is the gibberish/boilerplate to drop. Train and "
    "score are one hash-checked query: two gram-keyed aggregates "
    "build the LM, scoring joins are gram-keyed (LM broadcasts "
    "while it fits), the final reduce is doc-keyed. The V scalar is "
    "bounded by the alphabet (the kmeans bounded-driver-state "
    "contract).",
)
def q_lm_perplexity_score(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.char_trigram_perplexity(d)


@register(
    "bpe_encode_checksum",
    _bpe_chain(3)
    + """,
    vocab AS (SELECT tok,
                     CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                         tok ASC) - 1 AS BIGINT) AS id
              FROM r3 GROUP BY tok),
    enc AS (SELECT r.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM((r.pos + 1) * v.id) AS BIGINT)
                     AS ids_checksum
            FROM r3 r JOIN vocab v USING (tok) GROUP BY 1)
    SELECT doc_id, n_tokens, ids_checksum FROM enc
    """,
    doc="BPE train-then-ENCODE lifecycle (operators/corpus.py "
    "bpe_encode_checksum): after the 3 trained merges, dense token "
    "ids are assigned over the final vocab (freq DESC, token ASC) "
    "and every document is encoded; the output pins the full id "
    "sequence per doc via the exact integer checksum sum((pos+1)*id). "
    "Encoding is a broadcast-vocab join over the exploded corpus; the "
    "only global ordering runs on the aggregated vocab (bounded, "
    "never corpus-sized). Oracle extends the unrolled-round training "
    "chain with the same vocab-id CTEs.",
)
def q_bpe_encode_checksum(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.bpe_encode_checksum(d, n_merges=3)


@register(
    "events_debounce",
    """
    WITH marked AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 5000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)),
    grp AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS g
      FROM marked),
    agg AS (
      SELECT user_id, event_type, g,
             MIN(struct_pack(ts := ts, event_id := event_id)) AS first_ev,
             CAST(COUNT(*) - 1 AS BIGINT) AS n_suppressed
      FROM grp GROUP BY 1, 2, 3)
    SELECT (first_ev).event_id AS event_id, user_id, event_type,
           CAST(epoch_us((first_ev).ts) AS BIGINT) AS ts_us,
           n_suppressed
    FROM agg
    """,
    doc="Telemetry debounce (operators/sequence.py debounce_events): "
    "bursts of same-(user,type) events with consecutive gaps <= 5s "
    "collapse to their first event, which carries n_suppressed — "
    "chained micro-sessionization (lag-gap mark + running-sum group "
    "ids), one exchange on (user,type), lossless for counting.",
)
def q_events_debounce(spark, sf_dir):
    from pyspark_scd_spark.operators import sequence as SQ

    ev = _t(spark, sf_dir, "events")
    return SQ.debounce_events(ev, gap="5 seconds")


@register(
    "ann_recall_report",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id >= 100 AND vec_id < 110),
    ex0 AS (SELECT q.query_id, e.vec_id,
                   ROUND(list_cosine_similarity(e.v, q.qv), 6) AS c
            FROM e CROSS JOIN q),
    exact AS (SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY c DESC, vec_id ASC) AS rk
                FROM ex0) WHERE rk <= 10),
    cent AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
    cells AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY ROUND(list_cosine_similarity(v, cv), 9) DESC,
                          c DESC) AS rn
      FROM e CROSS JOIN cent),
    assign AS (SELECT vec_id, c AS ivf_cell FROM cells WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, c AS ivf_cell
               FROM cells WHERE rn <= 1
                 AND vec_id >= 100 AND vec_id < 110),
    iv0 AS (SELECT p.query_id, e.vec_id,
                   ROUND(list_cosine_similarity(e.v, q.qv), 6) AS c
            FROM probes p
            JOIN assign a ON a.ivf_cell = p.ivf_cell
            JOIN e ON e.vec_id = a.vec_id
            JOIN q ON q.query_id = p.query_id),
    approx AS (SELECT query_id, vec_id FROM (
                 SELECT query_id, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id ASC) AS rk
                 FROM iv0) WHERE rk <= 10),
    hits AS (SELECT ex.query_id, COUNT(*) AS h
             FROM exact ex JOIN approx ap
               ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
             GROUP BY 1)
    SELECT q.query_id,
           ROUND(COALESCE(h, 0) / 10.0, 6) AS recall_at_10
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """,
    doc="ANN index self-measurement (operators/similarity.py "
    "ann_recall_report): recall@10 of the single-probe IVF tier "
    "against the exact cosine tier, per query — the report every ANN "
    "deployment runs before trusting its index (and the direct view "
    "of the n_probe recall knob). Both legs are the engine's own "
    "operators; the report is a join of two <=|Q|*k ranked lists, "
    "|Q| rows out at any scale.",
)
def q_ann_recall_report(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    centroids = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    queries = e.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ann_recall_report(
        e, queries, centroids, k=10, n_probe=1
    )


@register(
    "corpus_weighted_sample_stratified",
    """
    WITH t AS (
      SELECT source, doc_id,
             GREATEST(CAST(len(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE), 1.0) AS w
      FROM documents),
    s AS (
      SELECT source, doc_id, CAST(w AS BIGINT) AS weight,
             ROUND(-ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
                   / w, 9) AS sample_key
      FROM t),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY sample_key ASC, doc_id ASC) AS rk FROM s)
    SELECT source, doc_id, weight, sample_key FROM r WHERE rk <= 50
    """,
    doc="Stratified weighted sampling without replacement "
    "(operators/corpus.py weighted_sample_per_group): the A-ES key "
    "ranked WITHIN each source — 50 docs per source, inclusion "
    "probability proportional to tokens inside the stratum; the "
    "per-source-quota mix primitive. Rank window co-partitioned on "
    "source with WindowGroupLimit map-side pruning.",
)
def q_corpus_weighted_sample_stratified(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.weighted_sample_per_group(d, k=50)


@register(
    "corpus_epoch_materialize",
    f"""
    WITH {_MIX_SQL_CTE},
    w AS (SELECT source,
            ROUND(1.5 * ROUND(pow(n_tokens, 0.7) / sum_raw
                              * total_tokens / n_tokens, 4), 6) AS e
          FROM per, tot),
    d AS (SELECT doc_id, d.source, w.e,
                 CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),
                      1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
          FROM documents d JOIN w ON d.source = w.source),
    n AS (SELECT doc_id, source,
                 CAST(FLOOR(e) AS INTEGER)
                   + CASE WHEN u < e - FLOOR(e) THEN 1 ELSE 0 END AS nc
          FROM d)
    SELECT doc_id, source, CAST(UNNEST(range(1, nc + 1)) AS INTEGER)
             AS copy_id
    FROM n WHERE nc >= 1
    """,
    doc="Epoch materialization — the UPSAMPLING half of the "
    "temperature mix (operators/corpus.py epoch_materialize): each "
    "source's budgeted epochs e_s may exceed 1; every doc emits "
    "floor(e_s) copies plus one more iff its md5 fraction < "
    "frac(e_s) — deterministic oversampling hitting ~e_s x tokens in "
    "expectation. Per-source table broadcast; explode is a flatMap, "
    "zero corpus shuffles.",
)
def q_corpus_epoch_materialize(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.epoch_materialize(d, alpha=0.7, budget_frac=1.5)


@register(
    "corpus_epoch_shuffle",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5('0:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
                  AS BIGINT) AS h1,
             CAST(CAST(('0x' || substring(md5('0:' ||
                  CAST(doc_id AS VARCHAR)), 16, 15)) AS UBIGINT)
                  AS BIGINT) AS h2
      FROM documents),
    s AS (SELECT doc_id, CAST(h1 % 8 AS INTEGER) AS shard, h2 FROM h)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
               ORDER BY h2 ASC, doc_id ASC) - 1 AS BIGINT) AS position
    FROM s
    """,
    doc="Deterministic epoch shuffle (operators/corpus.py "
    "epoch_shuffle_shards): a reproducible pseudo-random permutation "
    "materialized as (shard, position) — what a sharded training "
    "loader consumes; different epochs give independent permutations. "
    "shard = md5(epoch:id) mod n; position ranks a second md5 inside "
    "the shard, so each shard sorts locally after ONE exchange — the "
    "global permutation is never globally sorted.",
)
def q_corpus_epoch_shuffle(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.epoch_shuffle_shards(d, n_shards=8, epoch=0)


@register(
    "stream_events_debounce",
    """
    WITH marked AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 5000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id))
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM marked WHERE is_start = 1
    """,
    doc="Streaming debounce run to completion "
    "(streaming/dedup.py debounce_stream, applyInPandasWithState): "
    "burst leaders emit on arrival, suppressed events extend the "
    "burst through ONE long of state per (user,type) — bursts "
    "spanning micro-batches chain through the carried state. The "
    "availableNow drain emits exactly the batch twin's leader set "
    "(events_debounce minus the suppression counts, which need "
    "closed bursts).",
)
def q_stream_events_debounce(spark, sf_dir):
    from pyspark_scd_spark.streaming import dedup as SD

    def prep(df):
        return df.select(
            "event_id",
            "user_id",
            "event_type",
            epoch_us(F.col("ts")).alias("ts_us"),
        )

    ev = _stream_source(spark, sf_dir, "events", prepare=prep)
    return _run_stream_to_batch(
        SD.debounce_stream(ev, gap_seconds=5)
    )


@register(
    "kanonymity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
             CAST(COUNT(*) AS BIGINT) AS group_size
      FROM customer GROUP BY 1, 2, 3)
    SELECT c_nationkey, c_mktsegment, acctbal_band, group_size,
           CASE WHEN group_size = 1 THEN 'unique'
                ELSE 'small_group' END AS severity
    FROM g WHERE group_size < 5
    """,
    doc="k-anonymity risk audit (operators/quality.py "
    "kanonymity_report): quasi-identifier combinations (nation, "
    "segment, banded balance) shared by fewer than k=5 customers are "
    "re-identification risks; groups of 1 are 'unique'. One "
    "map-side-combined aggregate + filter — |risky groups| rows out. "
    "The release-gate complement of pii_tokenize's banding.",
)
def q_kanonymity_report(spark, sf_dir):
    from pyspark_scd_spark.operators import quality

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
            "acctbal_band"
        ),
    )
    return quality.kanonymity_report(
        c, ["c_nationkey", "c_mktsegment", "acctbal_band"], k=5
    )


@register(
    "stream_events_sliding",
    """
    WITH g AS (SELECT e.event_type, epoch_us(e.ts) AS t,
                 CAST(UNNEST(range(0, 4)) AS BIGINT) AS k
          FROM events e),
    win AS (SELECT event_type,
                   (CAST(FLOOR(t / 900000000.0) AS BIGINT) - k)
                     * 900000000 AS ws, t
            FROM g),
    agg AS (SELECT ws, event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM win WHERE ws + 3600000000 > t AND t >= ws
            GROUP BY 1, 2),
    wm AS (SELECT MAX(epoch_us(ts)) - 1000000 AS w FROM events)
    SELECT agg.ws AS window_start_us, event_type, n
    FROM agg, wm WHERE agg.ws + 3600000000 <= wm.w
    """,
    doc="Watermarked hopping-window streaming counts run to "
    "completion (streaming/sessions.py sliding_counts_stream): "
    "window('1 hour', slide '15 min') + 1s watermark, availableNow, "
    "append mode — each event lands in 4 overlapping windows; state "
    "per open window expires at the watermark. Oracle replays the "
    "hop assignment (floor(t/slide) - k for k in 0..3) restricted to "
    "windows the final watermark closed.",
)
def q_stream_events_sliding(spark, sf_dir):
    from pyspark_scd_spark.streaming import sessions as S

    ev = _stream_source(spark, sf_dir, "events")
    out = S.sliding_counts_stream(
        ev, window="1 hour", slide="15 minutes", watermark="1 second"
    )
    got = _run_stream_to_batch(out)
    return got.select(
        epoch_us("window_start").alias("window_start_us"),
        "event_type",
        "n",
    )


@register(
    "stream_attribution_outer",
    """
    WITH wm AS (
      SELECT LEAST(
        (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
        (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
      ) - INTERVAL 30 MINUTE AS w),
    inner_pairs AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
             c.event_id AS click_id,
             CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us
      FROM events p JOIN events c
        ON c.user_id = p.user_id
       AND p.event_type = 'purchase' AND c.event_type = 'click'
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR),
    unmatched AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
             CAST(NULL AS BIGINT) AS click_id,
             CAST(NULL AS BIGINT) AS click_ts_us
      FROM events p, wm WHERE p.event_type = 'purchase'
       AND NOT EXISTS (SELECT 1 FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
       AND p.ts <= wm.w)
    SELECT * FROM inner_pairs UNION ALL SELECT * FROM unmatched
    """,
    doc="Watermarked stream-stream LEFT OUTER interval join run to "
    "completion (streaming/join.py attribution_outer_stream): "
    "matched pairs are final on arrival; an unmatched purchase emits "
    "null-padded only when the GLOBAL watermark (min of both inputs "
    "- delay) passes its timestamp — the availableNow no-data flush "
    "advances it to min(max_click, max_purchase) - 30min, and the "
    "oracle encodes exactly that emission line. The unattributed-"
    "conversions feed, state bounded by horizon + watermark.",
)
def q_stream_attribution_outer(spark, sf_dir):
    from pyspark_scd_spark.streaming import join as J

    c = _stream_source(spark, sf_dir, "events", prepare=_clicks_prep)
    p = _stream_source(spark, sf_dir, "events", prepare=_purchases_prep)
    out = J.attribution_outer_stream(
        c, p, horizon="1 hour", watermark="30 minutes"
    )
    got = _run_stream_to_batch(out)
    return got.select(
        "purchase_id",
        "user_id",
        epoch_us("purchase_ts").alias("purchase_ts_us"),
        "click_id",
        epoch_us("click_ts").alias("click_ts_us"),
    )


@register(
    "dedup_incremental_batch",
    """
    WITH docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS store_id, b.doc_id AS batch_id,
                     count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s
               AND a.doc_id < 400 AND b.doc_id >= 400
              GROUP BY 1, 2)
    SELECT store_id, batch_id,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = store_id
    JOIN sizes sb ON sb.doc_id = batch_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    """,
    doc="Incremental near-dup — the daily-ingest shape "
    "(operators/dedup.py minhash_lsh_pairs_incremental): the NEW "
    "batch (doc_id >= 400) is banded against the existing store's "
    "signature table only; no store-store or batch-batch pairs, no "
    "history re-scan — each day costs O(batch) + one band join. 63 "
    "hashes / 21 bands, exact-Jaccard >= 0.5 verify; the oracle is "
    "the exact cross-side Jaccard join (same recall-by-band-margin "
    "argument as dedup_minhash_lsh: nothing on this corpus lies in "
    "the LSH miss zone).",
)
def q_dedup_incremental_batch(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_incremental(
        d.filter(F.col("doc_id") < 400),
        d.filter(F.col("doc_id") >= 400),
        num_hashes=63,
        bands=21,
        verify_threshold=0.5,
    )


@register(
    "quality_calibrate_quantile",
    f"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS_SQL} AS toks
               FROM documents),
    m AS (
      SELECT doc_id, source,
        CAST(len(toks) AS DOUBLE) AS n_tok,
        CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dis,
        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
          * 1.0 / length(text) AS digit_ratio
      FROM t),
    base AS (
      SELECT doc_id, source,
        ROUND(LEAST(1.0, n_tok / 100.0) * 0.4
              + CASE WHEN n_tok > 0 THEN n_dis / n_tok ELSE 0.0 END * 0.4
              + (1.0 - digit_ratio) * 0.2, 4) AS raw_score
      FROM m),
    r AS (SELECT doc_id, source, raw_score,
            ROUND(percent_rank() OVER (PARTITION BY source
                ORDER BY raw_score ASC, doc_id ASC), 9) AS src_pr
          FROM base),
    g AS (SELECT quantile_cont(raw_score,
            [0.0, 0.01, 0.02, 0.03, 0.04, 0.05, 0.06, 0.07, 0.08, 0.09, 0.1, 0.11, 0.12, 0.13, 0.14, 0.15, 0.16, 0.17, 0.18, 0.19, 0.2, 0.21, 0.22, 0.23, 0.24, 0.25, 0.26, 0.27, 0.28, 0.29, 0.3, 0.31, 0.32, 0.33, 0.34, 0.35, 0.36, 0.37, 0.38, 0.39, 0.4, 0.41, 0.42, 0.43, 0.44, 0.45, 0.46, 0.47, 0.48, 0.49, 0.5, 0.51, 0.52, 0.53, 0.54, 0.55, 0.56, 0.57, 0.58, 0.59, 0.6, 0.61, 0.62, 0.63, 0.64, 0.65, 0.66, 0.67, 0.68, 0.69, 0.7, 0.71, 0.72, 0.73, 0.74, 0.75, 0.76, 0.77, 0.78, 0.79, 0.8, 0.81, 0.82, 0.83, 0.84, 0.85, 0.86, 0.87, 0.88, 0.89, 0.9, 0.91, 0.92, 0.93, 0.94, 0.95, 0.96, 0.97, 0.98, 0.99, 1.0]) AS grid FROM base)
    SELECT doc_id, source, raw_score, src_pr,
           ROUND(grid[CAST(FLOOR(src_pr * 100) AS INTEGER) + 1], 4)
             AS calibrated_score
    FROM r, g
    """,
    doc="Cross-source quantile calibration (operators/corpus.py "
    "quality_calibrate_quantile): each doc's quality score is mapped "
    "to the POOLED score at its within-source percentile — quantile "
    "mapping, so one global threshold cuts every source at the same "
    "relative depth. Within-source percent_rank is one co-partitioned "
    "window; the pooled inverse CDF is a 101-point exact-percentile "
    "grid computed in one aggregate and broadcast — per-doc "
    "calibration is an array lookup, no global sort.",
)
def q_quality_calibrate_quantile(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.quality_calibrate_quantile(d)


@register(
    "dedup_incremental_clusters",
    """
    WITH RECURSIVE docs AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS toks
         FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter_s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s
                 AND a.doc_id < b.doc_id AND b.doc_id < 400
                GROUP BY 1, 2),
    pairs_s AS (SELECT doc_a, doc_b FROM inter_s
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs_s
              UNION SELECT doc_b, doc_a FROM pairs_s),
    reach AS (SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    sclust AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
               FROM reach GROUP BY a),
    inter_x AS (SELECT a.doc_id AS store_id, b.doc_id AS batch_id,
                       count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s
                 AND a.doc_id < 400 AND b.doc_id >= 400
                GROUP BY 1, 2),
    xp AS (SELECT store_id, batch_id FROM inter_x
           JOIN sizes sa ON sa.doc_id = store_id
           JOIN sizes sb ON sb.doc_id = batch_id
           WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    assign AS (SELECT xp.batch_id,
                      MIN(COALESCE(sc.cluster_id, xp.store_id))
                        AS cluster_id
               FROM xp LEFT JOIN sclust sc ON sc.doc_id = xp.store_id
               GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(a.cluster_id, d.doc_id) AS cluster_id,
           a.cluster_id IS NULL AS is_new_cluster
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
    LEFT JOIN assign a ON a.batch_id = d.doc_id
    """,
    doc="Incremental cluster maintenance (operators/dedup.py "
    "incremental_cluster_assign): batch docs inherit the MIN existing "
    "cluster among their matched store docs (singleton store matches "
    "contribute their own id); unmatched docs open new singleton "
    "clusters. Store clusters come from the store-only CC run and "
    "cross matches from the incremental LSH matcher — history is "
    "never re-clustered; intra-batch merges belong to the batch "
    "self-pass (documented). Oracle: store-side recursive-CTE "
    "closure + exact cross-side Jaccard + the same min/coalesce "
    "assignment.",
)
def q_dedup_incremental_clusters(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    store = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    # ONE store shingle pass feeds both the store-side jaccard pairs
    # and the incremental matcher (each would otherwise re-run the
    # widest stage of the suite on the same docs)
    store_sh = dedup.shingle_pairs(store, n=3).cache()
    store_pairs = dedup.ngram_jaccard_pairs(
        store, n=3, threshold=0.5, shingles=store_sh
    ).select("doc_a", "doc_b")
    store_clusters = dedup.connected_components(
        store_pairs, strategy=_cc_strategy(d)
    )
    cross = dedup.minhash_lsh_pairs_incremental(
        store,
        batch,
        num_hashes=63,
        bands=21,
        verify_threshold=0.5,
        store_shingles=store_sh,
    ).select("store_id", "batch_id")
    node_col = store_clusters.columns[0]
    return dedup.incremental_cluster_assign(
        store_clusters.select(
            F.col(node_col).alias("doc_id"), "component"
        ),
        cross,
        batch.select("doc_id"),
    )


@register(
    "events_autocorr_weekly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    paired AS (
      SELECT a.event_type, a.cnt, b.cnt AS prev
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type
       AND b.day = a.day - INTERVAL 7 DAY)
    SELECT event_type, CAST(7 AS INTEGER) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(corr(cnt, prev), 4) AS autocorr
    FROM paired
    GROUP BY event_type
    """,
    doc="Weekly-seasonality detector (operators/timeseries.py "
    "autocorrelation): per event_type correlation of the daily count "
    "with its own CALENDAR lag-7 value — near 1 means a weekly rhythm; "
    "a missing day shortens n_pairs instead of misaligning the lag. "
    "One self-join + one corr aggregate over the |days x types| "
    "rollup; raw events are touched only by the rollup groupBy.",
)
def q_events_autocorr_weekly(spark, sf_dir):
    from pyspark_scd_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return TS.autocorrelation(daily, lag=7)


@register(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (SELECT event_type, AVG(cnt) AS mu,
                     stddev_pop(cnt) AS sd
              FROM daily GROUP BY 1),
    run AS (
      SELECT d.event_type, d.day, d.cnt,
             SUM((d.cnt - s.mu) / s.sd - 0.5) OVER w AS r
      FROM daily d JOIN stats s ON s.event_type = d.event_type
      WHERE s.sd > 0
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    c AS (
      SELECT event_type, day, cnt,
             ROUND(r - MIN(LEAST(r, 0.0)) OVER
                 (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               4) AS cusum
      FROM run)
    SELECT event_type, day, cnt, cusum
    FROM c WHERE cusum >= 2.0
    """,
    doc="CUSUM change-point detection (operators/timeseries.py "
    "cusum_changepoints): S_t = max(0, S_(t-1) + z_t - k) flags "
    "sustained level shifts; computed via the closed form "
    "S_t = R_t - min(0, min R_u) — TWO cumulative windows over the "
    "daily rollup, no iteration, no UDF; per-key mean/stddev ride a "
    "broadcast aggregate. k=0.5; h=2 here so the stationary synthetic "
    "series still exercises the flag path (production alarms use "
    "h~4-5 sigma).",
)
def q_events_cusum_changepoint(spark, sf_dir):
    from pyspark_scd_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return TS.cusum_changepoints(daily, slack=0.5, threshold=2.0)


@register(
    "corpus_collocations_pmi",
    """
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents),
    pairs AS (
      SELECT unnest(t[1:len(t) - 1]) AS tok_a,
             unnest(t[2:len(t)]) AS tok_b
      FROM toks WHERE len(t) > 1),
    pc AS (SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS pair_n
           FROM pairs GROUP BY 1, 2),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS uni_n FROM (
              SELECT tok_a AS tok FROM pairs
              UNION ALL SELECT tok_b FROM pairs)
            GROUP BY 1),
    tp AS (SELECT CAST(SUM(pair_n) AS DOUBLE) AS tp FROM pc),
    tu AS (SELECT CAST(SUM(uni_n) AS DOUBLE) AS tu FROM uni)
    SELECT tok_a, tok_b, pair_n,
           ROUND(ln((pair_n / tp)
                    / ((na.uni_n / tu) * (nb.uni_n / tu))), 4) AS pmi
    FROM pc
    JOIN uni na ON na.tok = tok_a
    JOIN uni nb ON nb.tok = tok_b, tp, tu
    WHERE pair_n >= 10
    ORDER BY pmi DESC, tok_a ASC, tok_b ASC LIMIT 50
    """,
    doc="Collocation mining (operators/search.py collocations_pmi): "
    "top-50 adjacent pairs by PMI = ln(p(ab)/(p(a)p(b))) over the "
    "pair space, min_count=10 against the rare-pair PMI pathology — "
    "the phrase-detection signal feeding tokenizer/phrase vocabs. "
    "Two map-side-combined aggregates + 1-row broadcasts + "
    "TakeOrdered; no corpus-sized sort.",
)
def q_corpus_collocations_pmi(spark, sf_dir):
    from pyspark_scd_spark.operators import search

    d = _t(spark, sf_dir, "documents")
    return search.collocations_pmi(d, min_count=10, k=50)


@register(
    "retrieval_disagreement",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
                 '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks GROUP BY 1, 2),
    dlen AS (SELECT doc_id, SUM(tf) AS dlen FROM tf GROUP BY 1),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
              FROM tf GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(dlen) AS avgdl FROM dlen),
    qtok AS (SELECT DISTINCT doc_id AS query_id, tok FROM toks
             WHERE doc_id >= 100 AND doc_id < 105),
    cand AS (SELECT q.query_id, t.doc_id, t.tf, f.df, l.dlen,
                    s.n_docs, s.avgdl
             FROM tf t JOIN qtok q USING (tok)
             JOIN dfreq f USING (tok)
             JOIN dlen l ON l.doc_id = t.doc_id, stats s
             WHERE t.doc_id <> q.query_id),
    kw0 AS (SELECT query_id, doc_id,
                   ROUND(SUM(ln((n_docs - df + CAST('0.5' AS DOUBLE))
                                / (df + CAST('0.5' AS DOUBLE))
                                + CAST('1.0' AS DOUBLE))
                         * (tf * CAST('{1.2 + 1.0!r}' AS DOUBLE))
                         / (tf + CAST('{1.2!r}' AS DOUBLE)
                            * (CAST('{1.0 - 0.75!r}' AS DOUBLE)
                               + CAST('{0.75!r}' AS DOUBLE)
                                 * dlen / avgdl))), 6) AS bm25
            FROM cand GROUP BY 1, 2),
    kw AS (SELECT query_id, doc_id, rk AS kw_rank FROM (
             SELECT query_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY bm25 DESC, doc_id ASC) AS rk
             FROM kw0) WHERE rk <= 20),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id >= 100 AND vec_id < 105),
    vs AS (SELECT q.query_id, e.vec_id AS doc_id,
                  ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine
           FROM e CROSS JOIN qv q WHERE e.vec_id <> q.query_id),
    vec AS (SELECT query_id, doc_id, rk AS vec_rank FROM (
              SELECT query_id, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, doc_id ASC) AS rk
              FROM vs) WHERE rk <= 20),
    both_legs AS (
      SELECT COALESCE(kw.query_id, vec.query_id) AS query_id,
             COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
             kw.kw_rank, vec.vec_rank
      FROM kw FULL OUTER JOIN vec
        ON kw.query_id = vec.query_id AND kw.doc_id = vec.doc_id)
    SELECT query_id, doc_id,
           CASE WHEN kw_rank IS NOT NULL THEN 'lexical'
                ELSE 'dense' END AS found_by,
           CAST(kw_rank AS INTEGER) AS kw_rank,
           CAST(vec_rank AS INTEGER) AS vec_rank
    FROM both_legs
    WHERE kw_rank IS NULL OR vec_rank IS NULL
    """,
    doc="Retriever-distillation hard-pair mining (operators/search.py "
    "retrieval_disagreement): the symmetric difference of the BM25 "
    "and cosine top-20 lists per query — lexical-only hits are dense "
    "miss candidates, dense-only hits are lexical blind spots; the "
    "agreement set carries no training signal. Same validated legs "
    "as hybrid_search_rrf; the mining is a full-outer join of two "
    "tiny ranked lists.",
)
def q_retrieval_disagreement(spark, sf_dir):
    from pyspark_scd_spark.operators import search

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return search.retrieval_disagreement(
        d, e, query_ids=list(range(100, 105)), k0=20,
        term_freq=_staged_term_freq(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# The dense kNN / hard-negative / near-dup family: one candidate source per
# index (exact grid, LSH buckets, IVF cells) times one tail per consumer.
# An index parameter of None is the scale form (auto_planes / auto_cells),
# computed from the corpus count in both engines.
# ---------------------------------------------------------------------------

# consumer -> (operator/registry name prefix, ordered pairs, oracle tail,
#              operator arguments)
_DENSE_CONSUMERS = {
    "neardup": ("embedding_neardup_pairs", True, _neardup_tail,
                {"threshold": 0.3}),
    "knn": ("knn_label_vote", False, _knn_vote_tail, {"k": 5}),
    "hardneg": ("hard_negative_mining", False, _hardneg_tail, {"k": 3}),
}

# index -> (operator suffix, oracle candidate CTEs, index arguments)
_DENSE_INDEXES = {
    "grid": ("grid", None, lambda p: {}),
    "lsh": ("ann", _lsh_cand_ctes,
            lambda p: {"dim": 64, "n_planes": p, "n_tables": 8}),
    "ivf": ("ivf", _ivf_cand_ctes,
            lambda p: {"k_cells": p, "n_probe": 2}),
}


def _dense_oracle(consumer: str, index: str, param: int | None) -> str:
    _, ordered, tail, _ = _DENSE_CONSUMERS[consumer]
    cand_ctes = _DENSE_INDEXES[index][1]
    if cand_ctes is None:
        body = tail(_all_pairs(ordered))
    else:
        body = f"{cand_ctes(param, ordered=ordered)},\n    {tail(_CAND_PAIRS)}"
    return f"""
    WITH {_DENSE_E},
    {body}
    """


def _dense_builder(consumer: str, index: str, param: int | None):
    prefix, _, _, kwargs = _DENSE_CONSUMERS[consumer]
    suffix, _, index_kwargs = _DENSE_INDEXES[index]

    def build(spark, sf_dir):
        from pyspark_scd_spark.operators import similarity

        e = _t(spark, sf_dir, "embeddings")
        return getattr(similarity, f"{prefix}_{suffix}")(
            e, **kwargs, **index_kwargs(param)
        )

    return build


# (name, consumer, index, index parameter, doc)
for _name, _consumer, _index, _param, _doc in (
    (
        "embedding_neardup_pairs", "neardup", "grid", None,
        "Semantic near-dup pairs, cosine >= 0.3, via the blocked BLAS "
        "pair GRID: corpus packed into chunk rows, upper-triangle block "
        "self-join, one dense matmul per cell — exact, and never "
        "materialized on the driver or broadcast corpus-wide; threshold "
        "applies to the 4dp-rounded value so backends agree "
        "(operators/similarity.py embedding_neardup_pairs_grid).",
    ),
    (
        "embedding_neardup_pairs_ann", "neardup", "lsh", 8,
        "Semantic near-dup pairs, ANN tier — the 100 TB default path "
        "for the dense quartet: multi-probe hyperplane LSH candidates "
        "(8 tables x 8 planes, Hamming<=1) -> exact cosine verify >= 0.3 "
        "on the 4dp-rounded value (operators/similarity.py "
        "embedding_neardup_pairs_ann). Candidate volume is "
        "O(n*bucket*tables) with auto_planes, vs the grid twin's O(n^2) "
        "matmul; the hyperplanes are deterministic constants, so the "
        "FULL composition (candidates AND verify) replays in oracle SQL. "
        "Recall vs the exact twin is measured per cosine band by "
        "ann_pair_recall_report.",
    ),
    (
        "embedding_neardup_pairs_ann_auto", "neardup", "lsh", None,
        "embedding_neardup_pairs_ann under the auto_planes rule "
        "(planes = clamp(ceil(log2(n/32)), 4, 20)) — the LSH tier's "
        "SCALE form: growing planes with log2(n) keeps bucket population "
        "(and per-row candidate work) constant, making the tier "
        "O(n*tables) where the pinned-planes parity form's candidate "
        "FRACTION is constant (quadratic pair work). One static oracle "
        "covers every scale factor because the hyperplane PRNG stream is "
        "prefix-stable: the 20-plane bucket masks to any p via "
        "b20 % 2^p, with p computed from the corpus count in SQL.",
    ),
    (
        "embedding_neardup_pairs_ivf", "neardup", "ivf", 8,
        "Semantic near-dup pairs, IVF tier (operators/similarity.py "
        "embedding_neardup_pairs_ivf): top-2 centroid-cell assignment "
        "(9dp-rounded cosine, ties toward the larger cell), candidates = "
        "same-cell pairs, exact cosine verify >= 0.3 at 4dp. Under the "
        "balanced auto_cells rule (k = probe*sqrt(n)) assignment plus "
        "within-cell dense verify total O(n^1.5*d) — vs the exact "
        "grid's O(n^2*d) and hyperplane LSH, whose candidate density on "
        "clustered corpora stays near-quadratic (round-4 SCALING study, "
        "100k x 64d: LSH emitted 175M candidates — 3.5% of all pairs — "
        "and ran 8x slower than the exact grid itself; measured walls "
        "and the n where each tier wins are in SCALING.md). Centroids "
        "here are the first 8 vectors (deterministic, oracle-replayable "
        "— k pinned so the oracle SQL stays static); kmeans_train "
        "output composes for tighter cells.",
    ),
    (
        "embedding_neardup_pairs_ivf_auto", "neardup", "ivf", None,
        "embedding_neardup_pairs_ivf under the balanced auto_cells "
        "rule (k = probe*sqrt(n), operators/similarity.py auto_cells) — "
        "the SCALE form of the IVF tier, where assignment O(n*k*d) and "
        "within-cell verify O(n*(n/k)*probe^2*d) equalize at O(n^1.5*d). "
        "The pinned-k=8 sibling stays registered as the parity form "
        "(static small-k oracle); this entry computes k from the corpus "
        "count in BOTH engines (scalar-subquery LIMIT on the oracle "
        "side), so the benched x10 tier finally measures the sub-linear "
        "path the round-4 study validated, not the quadratic-in-cell "
        "parity pin.",
    ),
    (
        "knn_label_vote", "knn", "grid", None,
        "kNN label-consistency audit (k=5): majority label among each "
        "vector's nearest cosine neighbors, self excluded — disagreements "
        "are candidate annotation errors. Blocked pair GRID: per-cell "
        "dense matmuls emit local top-k candidates (lossless under the "
        "total order), global merge + vote as window/groupBy plans — no "
        "driver collect, no corpus broadcast; deterministic ranking "
        "(cosine 6dp DESC, id ASC) and tie-break (smaller label) mirrored "
        "in the oracle (operators/similarity.py knn_label_vote_grid).",
    ),
    (
        "knn_label_vote_ann", "knn", "lsh", 8,
        "kNN label-consistency audit, ANN tier (operators/similarity"
        ".py knn_label_vote_ann): neighbor candidates from multi-probe "
        "LSH (8x8, Hamming<=1) instead of the exact all-pairs grid, then "
        "the identical exact-cosine top-5 re-rank, majority vote and "
        "tie-breaks as knn_label_vote. Per-anchor candidate work is "
        "O(bucket*tables) — the shape that survives 100x corpus growth.",
    ),
    (
        "knn_label_vote_ann_auto", "knn", "lsh", None,
        "knn_label_vote_ann under auto_planes (planes = "
        "clamp(ceil(log2(n/32)), 4, 20), prefix-stable hyperplane "
        "stream: bucket_p = bucket_20 % 2^p with p from COUNT(*) in "
        "SQL) — the LSH tier's scale form for the directed kNN audit: "
        "bucket population stays ~constant as n grows, so per-anchor "
        "candidate work is O(bucket*tables) at any scale. Same vote and "
        "tie-break contract as the pinned parity form.",
    ),
    (
        "knn_label_vote_ivf", "knn", "ivf", 8,
        "kNN label-consistency audit, IVF tier (operators/similarity"
        ".py knn_label_vote_ivf): directed same-cell candidates instead "
        "of LSH buckets, then the identical exact-cosine top-5 re-rank, "
        "majority vote and tie-breaks as knn_label_vote. The candidate "
        "generator the round-4 study promotes for clustered corpora — "
        "per-anchor candidate work ~probe^2*sqrt(n) under balanced "
        "auto_cells (k pinned to 8 here for the static oracle); the LSH "
        "twin stays registered for corpora without centroid structure.",
    ),
    (
        "knn_label_vote_ivf_auto", "knn", "ivf", None,
        "knn_label_vote_ivf under the balanced auto_cells rule — the "
        "scale form of the directed IVF audit (per-anchor candidate work "
        "~probe^2*sqrt(n) instead of the pinned-k=8 parity form's n/8 "
        "cell population). Same vote/tie-break contract; k computed from "
        "the corpus count in both engines.",
    ),
    (
        "hard_negative_mining", "hardneg", "grid", None,
        "Contrastive-training hard negatives: top-3 most-similar "
        "different-label vectors per anchor via the blocked pair GRID "
        "with same-label columns masked per cell — local top-k per "
        "(anchor-block, corpus-block), lossless global window merge; no "
        "driver collect, no corpus broadcast. Ranking at 6 dp (cosine "
        "DESC, neg_id ASC), emitted cosine at 4 dp, both mirrored in the "
        "oracle (operators/similarity.py hard_negative_mining_grid).",
    ),
    (
        "hard_negative_mining_ann", "hardneg", "lsh", 8,
        "Contrastive hard negatives, ANN tier (operators/similarity"
        ".py hard_negative_mining_ann): multi-probe LSH candidates with "
        "same-label pairs masked, exact-cosine top-3 re-rank per anchor "
        "— ranking at 6dp (cosine DESC, id ASC), emitted cosine 4dp "
        "half-away, the exact twin's contract. The hard-negative use "
        "case needs the MOST similar cross-label rows, exactly where "
        "LSH recall concentrates.",
    ),
    (
        "hard_negative_mining_ivf", "hardneg", "ivf", 8,
        "Contrastive hard negatives, IVF tier (operators/similarity"
        ".py hard_negative_mining_ivf): directed same-cell candidates "
        "with same-label pairs masked, exact-cosine top-3 re-rank per "
        "anchor — ranking at 6dp (cosine DESC, id ASC), emitted cosine "
        "4dp half-away, the exact twin's contract. Hard negatives are "
        "the MOST similar cross-label rows; on clustered corpora those "
        "share a centroid cell by construction.",
    ),
    (
        "hard_negative_mining_ivf_auto", "hardneg", "ivf", None,
        "hard_negative_mining_ivf under the balanced auto_cells rule "
        "(k = probe*sqrt(n)) — completes the IVF auto family: every "
        "IVF consumer now has a benched scale form whose index "
        "parameter is computed from the corpus count in both engines "
        "(the LSH hard-negative tier has no auto form). "
        "Same masking/ranking contract as the pinned parity form.",
    ),
):
    register(_name, _dense_oracle(_consumer, _index, _param), doc=_doc)(
        _dense_builder(_consumer, _index, _param)
    )


@register(
    "ann_pair_recall_report",
    f"""
    WITH {_DENSE_E},
    {_neardup_verify_sql(_all_pairs(ordered=True), "exact")},
    {_lsh_cand_ctes(ordered=True)},
    {_neardup_verify_sql(_CAND_PAIRS, "ann")},
    j AS (SELECT CAST(CASE WHEN exact.cosine < 0.35 THEN 0.30
                      WHEN exact.cosine < 0.40 THEN 0.35
                      WHEN exact.cosine < 0.45 THEN 0.40
                      ELSE 0.45 END AS DOUBLE) AS band_lo,
                 CASE WHEN ann.id_a IS NULL THEN 0 ELSE 1 END AS hit
          FROM exact LEFT JOIN ann USING (id_a, id_b))
    SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 6) AS recall
    FROM j GROUP BY band_lo
    """,
    doc="Recall of the ANN pair tier vs the exact grid twin, per "
    "cosine band (operators/similarity.py ann_pair_recall_report) — "
    "the measurement that justifies making ANN the default path. "
    "LSH recall is a function of pair angle, so banding shows it "
    "concentrating where near-duplicates live (this corpus is "
    "near-isotropic, the worst case: 0.6 at cosine 0.3 rising to "
    "1.0 at >=0.55). Both legs are deterministic engine operators, "
    "so the ANN quality report is itself oracle-checkable.",
)
def q_ann_pair_recall_report(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    return similarity.ann_pair_recall_report(
        e, threshold=0.3, dim=64, n_planes=8, n_tables=8
    )


def _bpe_batched_chain(rounds: int, m: int) -> str:
    """Unrolled oracle for bpe_train_merges_batched: per round, the
    top-m pair ranking, the declarative token-disjoint keep rule
    (NOT EXISTS vs any higher-ranked pair), and the simultaneous
    multi-pair greedy apply — same run logic as _bpe_chain because
    kept pairs are pairwise token-disjoint (adjacent candidates are
    always the same A=A pair)."""
    parts = [
        """
    WITH r0 AS (
      SELECT doc_id, CAST(UNNEST(range(len(t))) AS BIGINT) AS pos,
             UNNEST(t) AS tok
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS t
            FROM documents)
      WHERE len(t) > 0)"""
    ]
    for i in range(1, rounds + 1):
        offset = " + ".join(
            [f"(SELECT COUNT(*) FROM kept{j})" for j in range(1, i)]
        ) or "0"
        parts.append(
            f"""
    p{i} AS (SELECT doc_id, pos, tok,
                  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM r{i - 1}),
    cnt{i} AS (SELECT tok AS a, nxt AS b, COUNT(*) AS freq
           FROM p{i} WHERE nxt IS NOT NULL GROUP BY 1, 2),
    top{i} AS (SELECT * FROM (
             SELECT a, b, freq, ROW_NUMBER() OVER (
                 ORDER BY freq DESC, a ASC, b ASC) AS rk
             FROM cnt{i}) WHERE rk <= {m}),
    kept{i} AS (SELECT t.a, t.b, t.freq FROM top{i} t
           WHERE NOT EXISTS (SELECT 1 FROM top{i} u
                 WHERE u.rk < t.rk AND (u.a = t.a OR u.a = t.b
                       OR u.b = t.a OR u.b = t.b))),
    c{i} AS (SELECT p.doc_id, p.pos, p.tok, p.nxt AS mb,
                  (k.a IS NOT NULL) AS cand
           FROM p{i} p LEFT JOIN kept{i} k
                ON p.tok = k.a AND p.nxt = k.b),
    g{i} AS (SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER() OVER
                (PARTITION BY doc_id, cand ORDER BY pos) END AS grp
           FROM c{i}),
    k{i} AS (SELECT *, cand AND ((pos - MIN(pos) OVER
                (PARTITION BY doc_id, grp)) % 2 = 0) AS keep
           FROM g{i}),
    d{i} AS (SELECT *, COALESCE(lag(keep) OVER
                (PARTITION BY doc_id ORDER BY pos), FALSE) AS dropped
           FROM k{i}),
    r{i} AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY pos) - 1 AS BIGINT) AS pos,
                  CASE WHEN keep THEN tok || chr(31) || mb
                       ELSE tok END AS tok
           FROM d{i} WHERE NOT dropped),
    s{i} AS (SELECT CAST({offset} + ROW_NUMBER() OVER (
                  ORDER BY freq DESC, a ASC, b ASC) AS INTEGER) AS step,
                  a AS token_a, b AS token_b,
                  CAST(freq AS BIGINT) AS pair_freq,
                  (SELECT COUNT(*) FROM r{i}) AS tokens_after
           FROM kept{i})"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, rounds + 1)
    )
    return ",".join(parts) + "\n    " + union


@register(
    "bpe_train_merges_batched",
    _bpe_batched_chain(rounds=4, m=16),
    doc="BPE training at realistic vocab scope (operators/corpus.py "
    "bpe_train_merges_batched): 4 corpus passes, each merging the "
    "token-disjoint subset of the round's top-16 pairs "
    "simultaneously — the batched shape that reaches 10k+ merges in "
    "bounded sequential jobs, vs one-pair-per-pass. The keep rule is "
    "declarative (NOT EXISTS vs any higher-ranked pair), so the "
    "oracle replays selection, disjointness and the multi-pair "
    "greedy apply exactly; ~50 merges land in 4 jobs here.",
)
def q_bpe_train_merges_batched(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    merge_table, _ = corpus.bpe_train_merges_batched(
        d, rounds=4, batch_size=16
    )
    return merge_table


@register(
    "dsir_importance_rank",
    f"""
    WITH toks AS (
      SELECT doc_id, source = 'src0' AS is_target,
             unnest({_TOKS_SQL}) AS token
      FROM documents),
    v AS (SELECT token,
                 SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
                 SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
          FROM toks GROUP BY token),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr,
                   COUNT(*) AS vsz FROM v),
    scored AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             ROUND(SUM(LN((v.ct + 1.0) / (tot.nt + 1.0 * vsz))
                     - LN((v.cr + 1.0) / (tot.nr + 1.0 * vsz))), 4)
               AS log_ratio
      FROM toks t JOIN v USING (token), tot
      WHERE NOT t.is_target
      GROUP BY t.doc_id),
    r AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 log_ratio,
                 CAST(ROW_NUMBER() OVER (ORDER BY log_ratio DESC,
                      doc_id ASC) AS INTEGER) AS rank
          FROM scored)
    SELECT * FROM r WHERE rank <= 100
    """,
    doc="DSIR-style data selection (operators/corpus.py "
    "dsir_importance_rank; Xie et al. 2023, simplified to exact "
    "unigram features): rank the raw pool by the importance "
    "log-ratio of a target-domain unigram LM (here the src0 sample) "
    "over the raw-pool LM, add-1 smoothing over the joint "
    "vocabulary; the top of the ranking is the raw data most like "
    "the target domain. One tokenize pass; both LMs share one "
    "vocab-keyed aggregate; broadcast totals; TakeOrdered cut — no "
    "corpus-wide sort, no single-partition window over data.",
)
def q_dsir_importance_rank(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.dsir_importance_rank(
        d, target_pred=(F.col("source") == "src0"), top_n=100
    )


@register(
    "sim_search_lsh_multiprobe",
    _sim_search_lsh_oracle(multiprobe=True),
    doc="Multi-probe ANN top-k (operators/similarity.py "
    "lsh_bucketed_topk(multiprobe=True); Lv et al. VLDB'07): each "
    "query probes its own bucket plus every Hamming-1 neighbor in "
    "all 3 tables — (planes+1)x more probe rows on the QUERY side "
    "only, the corpus explosion unchanged — recovering neighbors "
    "that a flipped boundary bit hides from sim_search_lsh. The "
    "serving-time recall knob beside IVF's n_probe, and the "
    "single-query twin of the candidate generator behind the "
    "dense-quartet *_ann entries.",
)
def q_sim_search_lsh_multiprobe(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_bucketed_topk(
        e, queries, dim=64, k=5, n_planes=6, multiprobe=True
    )


def _neardup_incr_oracle() -> str:
    """DuckDB twin of embedding_neardup_incremental: store/batch split
    on vec_id % 10, per-table sign-bit buckets over each side
    (hyperplane constants inlined), Hamming<=1 probe expansion on the
    BATCH side only, DISTINCT (store, batch) candidates, exact cosine
    verify at 4dp."""
    probes = ", ".join(["b"] + [f"xor(b, {1 << i})" for i in range(8)])
    return f"""
    WITH {_DENSE_E},
    s AS (SELECT * FROM e WHERE vec_id % 10 <> 7),
    nb AS (SELECT * FROM e WHERE vec_id % 10 = 7),
    cbs AS ({_lsh_buckets_sql("s", 8, 8)}),
    cbb AS ({_lsh_buckets_sql("nb", 8, 8)}),
    pb AS (SELECT vec_id, t, unnest([{probes}]) AS pb FROM cbb),
    cand AS (SELECT DISTINCT cbs.vec_id AS id_a, pb.vec_id AS id_b
             FROM cbs JOIN pb ON cbs.t = pb.t AND cbs.b = pb.pb),
    {_neardup_verify_sql(_CAND_PAIRS)}
    SELECT id_a AS store_id, id_b AS batch_id, cosine FROM nd
    """


@register(
    "embedding_neardup_incremental",
    _neardup_incr_oracle(),
    doc="Daily-ingest semantic near-dup (operators/similarity.py "
    "embedding_neardup_incremental): new-batch vectors (vec_id%10=7 "
    "here) probe the STORE's persisted LSH bucket table only — one "
    "Arrow bucket pass over the batch, Hamming<=1 probe join, exact "
    "cosine verify packing only candidate store vectors. O(batch) "
    "per day, never a store re-scan — the embedding twin of "
    "minhash_lsh_pairs_incremental, completing the dense dedup "
    "lifecycle.",
)
def q_embedding_neardup_incremental(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    store = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    return similarity.embedding_neardup_incremental(
        store, batch, threshold=0.3, dim=64, n_planes=8, n_tables=8
    )


@register(
    "stream_embedding_neardup",
    _neardup_incr_oracle(),
    doc="Streaming twin of embedding_neardup_incremental: the batch "
    "vectors arrive as a file-source stream (maxFilesPerTrigger "
    "throttled so availableNow replays in MULTIPLE micro-batches), "
    "and a foreachBatch sink runs the incremental probe-and-verify "
    "of each micro-batch against the static store, appending to "
    "parquet. Each arriving vector is paired against the store "
    "exactly once regardless of micro-batch boundaries, so the "
    "result equals the one-shot incremental run — which is the "
    "oracle: micro-batching is an execution detail, not a "
    "semantics change.",
)
def q_stream_embedding_neardup(spark, sf_dir):
    import tempfile

    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    store = e.filter(F.col("vec_id") % 10 != 7).localCheckpoint()
    batch_stream = _stream_source(
        spark, sf_dir, "embeddings",
        prepare=lambda df: df.filter(F.col("vec_id") % 10 == 7)
        .repartition(4),
        # SOURCE option (a writer-side maxFilesPerTrigger is silently
        # ignored): 4 staged files / 2 per trigger ⇒ availableNow
        # replays in 2 micro-batches, which is the point — the
        # per-batch store probe must be batch-partition-invariant
        options={"maxFilesPerTrigger": "2"},
    )
    outdir = tempfile.mkdtemp(prefix="stream_neardup_out_") + "/data"
    ck = tempfile.mkdtemp(prefix="stream_neardup_ck_")

    def _probe(mb: DataFrame, epoch_id: int) -> None:
        if mb.isEmpty():
            return
        similarity.embedding_neardup_incremental(
            store, mb, threshold=0.3, dim=64, n_planes=8, n_tables=8
        ).write.mode("append").parquet(outdir)

    q = (
        batch_stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.read.parquet(outdir)


_LATE_ACCT_CACHE: dict[tuple, str] = {}


@register(
    "stream_late_data_accounting",
    """
    WITH c AS (SELECT date_trunc('hour', MIN(ts)) + INTERVAL 2 HOUR
                      AS cut FROM events),
    wm AS (SELECT MAX(epoch_us(ts)) - 1000000 AS w FROM events),
    tot AS (SELECT date_trunc('hour', ts) AS ws,
                   CAST(COUNT(*) AS BIGINT) AS n_total
            FROM events GROUP BY 1),
    ot AS (SELECT date_trunc('hour', ts) AS ws,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events, c WHERE ts >= cut GROUP BY 1)
    SELECT CAST(epoch_us(ws) AS BIGINT) AS window_start_us, n_total,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_on_time,
           CAST(n_total - COALESCE(n, 0) AS BIGINT) AS n_dropped
    FROM tot LEFT JOIN ot USING (ws), wm
    WHERE epoch_us(ws) + 3600000000 <= w
    """,
    doc="Late-data-dropped ACCOUNTING for a watermarked streaming "
    "aggregation: the staged replay writes the stream's oldest two "
    "hours of events as a SECOND file (later mtime), so with "
    "maxFilesPerTrigger=1 they arrive in micro-batch 2 — after "
    "batch 1 (which contains the stream's max event time) has pushed "
    "the watermark past their windows — and the hourly tumbling agg "
    "(1s delay, append) deterministically DROPS them. The builder "
    "then reconciles the stream's emitted counts against the staged "
    "batch totals per closed window: n_dropped = n_total - "
    "n_on_time. The oracle replays the same split declaratively, so "
    "the driver hash-checks that the watermark dropped EXACTLY the "
    "designated late rows — dropped-row accounting made "
    "oracle-checkable.",
)
def q_stream_late_data_accounting(spark, sf_dir):
    import tempfile
    import time as _time

    from pyspark_scd_spark.functions.time import as_event_time

    key = (sf_dir,)
    if key not in _LATE_ACCT_CACHE:
        out = tempfile.mkdtemp(prefix="stream_src_lateacct_") + "/data"
        ev = _t(spark, sf_dir, "events").select("user_id", "ts")
        # The cutoff travels as epoch MICROS (a tz-free long):
        # collecting a timestamp renders it in the driver's local
        # zone, which silently shifts the cut on non-UTC machines.
        cut_us = observed_aggregates(
            ev, epoch_us(F.date_trunc("hour", F.min("ts"))).alias("c")
        )["c"] + 7_200_000_000
        # Three staged files whose PATH order and MTIME order both
        # ascend (the part file is renamed to a fixed sequence name,
        # and a sleep separates the mtimes) — whichever ordering the
        # file source uses, the on-time file (which carries the
        # stream's max event time) forms micro-batch 0 and the late
        # file the FINAL micro-batch. The middle file is EMPTY: the
        # aggregation's drop-side watermark lags one batch behind the
        # event-time stats (measured: a late row lands in state when
        # it arrives in the very next batch, and is dropped from the
        # batch after), so the schema-only spacer batch lets the
        # max-ts watermark take effect before the late rows arrive —
        # making the drop deterministic instead of
        # propagation-timing-dependent.
        import glob as _glob
        import os as _os
        import shutil as _shutil

        def _stage_one(df, seq: int) -> None:
            tmp = tempfile.mkdtemp(prefix="stream_src_lateacct_tmp_")
            df.repartition(1).write.mode("overwrite").parquet(tmp)
            part = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
            _os.makedirs(out, exist_ok=True)
            _shutil.move(part, _os.path.join(out, f"{seq:05d}.parquet"))
            _shutil.rmtree(tmp, ignore_errors=True)

        ontime = ev.filter(epoch_us(F.col("ts")) >= F.lit(cut_us))
        _stage_one(ontime, 0)
        _time.sleep(1.2)
        _stage_one(ontime.limit(0), 1)
        _time.sleep(1.2)
        _stage_one(ev.filter(epoch_us(F.col("ts")) < F.lit(cut_us)), 2)
        _LATE_ACCT_CACHE[key] = out
    path = _LATE_ACCT_CACHE[key]
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        stream.withColumn("ts", as_event_time("ts"))
        .withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_on_time"))
        .select(F.col("w.start").alias("window_start"), "n_on_time")
    )
    got = _run_stream_to_batch(agg)
    allrows = spark.read.parquet(path).withColumn(
        "ts", as_event_time("ts")
    )
    tot = allrows.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.count(F.lit(1)).alias("n_total"))
    wm = allrows.agg(
        (F.max(epoch_us(F.col("ts"))) - F.lit(1000000)).alias("__w")
    )
    return (
        tot.join(got, "window_start", "left")
        .crossJoin(F.broadcast(wm))
        .filter(
            epoch_us(F.col("window_start")) + F.lit(3600000000)
            <= F.col("__w")
        )
        .select(
            epoch_us(F.col("window_start")).alias("window_start_us"),
            "n_total",
            F.coalesce(F.col("n_on_time"), F.lit(0))
            .cast("long")
            .alias("n_on_time"),
            (F.col("n_total") - F.coalesce(F.col("n_on_time"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


@register(
    "dedup_semantic_clusters_ivf",
    _semantic_clusters_oracle(_ivf_cand_ctes(ordered=True)),
    doc="Semantic near-dup clusters over the IVF tier — the "
    "composition the round-4 scale study promotes for clustered "
    "corpora: same-cell IVF candidates + within-cell dense-GEMM "
    "verify (embedding_neardup_pairs_ivf) closed into connected "
    "components. Identical closure semantics to the LSH-tier "
    "dedup_semantic_clusters (kept registered — multi-table LSH "
    "remains the better candidate generator on corpora too "
    "isotropic for centroids to partition well); oracle replays "
    "centroid assignment, same-cell candidates, verify, and a "
    "recursive-CTE closure.",
)
def q_dedup_semantic_clusters_ivf(spark, sf_dir):
    return _semantic_clusters(
        spark, sf_dir, "embedding_neardup_pairs_ivf", k_cells=8, n_probe=2
    )


_IVF_TRAINED_NEARDUP_TAIL = f"""
cent AS (SELECT cell AS c, cv FROM c3),
{_ivf_cand_ctes(ordered=True, seed=False)},
{_neardup_verify_sql(_CAND_PAIRS)}
SELECT id_a, id_b, cosine FROM nd
"""


@register(
    "embedding_neardup_pairs_ivf_trained",
    _kmeans_oracle(
        iters=3, k=8, dim=64, tail_sql=_IVF_TRAINED_NEARDUP_TAIL
    ),
    doc="Trained-IVF near-dup lifecycle, VALUE-CHECKED end to end: "
    "Lloyd's k-means trains the cell centroids (kmeans_train, 3 "
    "fixed 9dp-rounded iterations — the cross-engine-replayable "
    "trajectory), then the IVF near-dup tier runs against the "
    "TRAINED centroids (top-2 cell assignment, same-cell candidates, "
    "exact cosine verify >= 0.3 at 4dp). The oracle unrolls the "
    "training AND replays the candidate/verify composition — "
    "training-to-dedup as one hash-checked query. The round-4 1M "
    "study measured trained centroids buying ~+0.1 near-dup-band "
    "recall at unchanged candidate volume (SCALING.md); this entry "
    "registers that configuration as a first-class lifecycle.",
)
def q_embedding_neardup_pairs_ivf_trained(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    cents, _ = similarity.kmeans_train(
        e, k=8, max_iter=3, tol=0.0, round_centroids=9
    )
    return similarity.embedding_neardup_pairs_ivf(
        e, threshold=0.3, centroids=cents, n_probe=2
    )


def _neardup_incr_ivf_oracle(k_cells: int | None) -> str:
    """DuckDB twin of embedding_neardup_incremental_ivf: the batch
    (vec_id % 10 = 7) and the store (the rest) assigned to the store's
    first-k centroids, same-cell (store, batch) candidates, exact
    cosine verify at 4dp."""
    return f"""
    WITH {_DENSE_E},
    st AS (SELECT * FROM e WHERE vec_id % 10 <> 7),
    ba AS (SELECT * FROM e WHERE vec_id % 10 = 7),
    {_first_k_cent_sql("st", k_cells)},
    {_ivf_assign_sql("st", "cent", "c", "acs", 2)},
    {_ivf_assign_sql("ba", "cent", "c", "acb", 2)},
    cand AS (SELECT DISTINCT s.vec_id AS id_a, b.vec_id AS id_b
             FROM acs s JOIN acb b ON s.c = b.c),
    {_neardup_verify_sql(_CAND_PAIRS)}
    SELECT id_a AS store_id, id_b AS batch_id, cosine FROM nd
    """


def _neardup_incr_ivf(spark, sf_dir, k_cells: int | None):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    store = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7)
    return similarity.embedding_neardup_incremental_ivf(
        store, batch, threshold=0.3, k_cells=k_cells, n_probe=2
    )


@register(
    "embedding_neardup_incremental_ivf",
    _neardup_incr_ivf_oracle(8),
    doc="Daily-ingest semantic near-dup, IVF tier (operators/"
    "similarity.py embedding_neardup_incremental_ivf): the new batch "
    "(vec_id%10=7) is cell-assigned with the STORE's centroids and "
    "joined against the store's persisted cell table — one Arrow "
    "assignment pass over the batch, O(batch*cell*probe^2) per day, "
    "never a store re-scan. The IVF twin of "
    "embedding_neardup_incremental (LSH bucket store), completing "
    "the incremental lifecycle on the tier the round-4 study "
    "promotes for clustered corpora; at scale the centroids come "
    "from kmeans_train and the store cells are the persisted "
    "artifact, retrained only on drift.",
)
def q_embedding_neardup_incremental_ivf(spark, sf_dir):
    return _neardup_incr_ivf(spark, sf_dir, k_cells=8)


@register(
    "embedding_neardup_incremental_ivf_auto",
    _neardup_incr_ivf_oracle(None),
    doc="embedding_neardup_incremental_ivf under the balanced "
    "auto_cells rule (k = probe*sqrt(n_store)) — the SCALE form of "
    "the daily-ingest near-dup. The r8 x100 study measured the "
    "pinned-k=8 parity sibling at 3.8s/31s for x30/x100 novel "
    "vectors — 8x for 3.3x data, quadratic-within-cell by "
    "construction once cell population grows with n — while this "
    "form keeps per-cell population ~probe*sqrt(n): assignment "
    "O(n*k*d) and directed within-cell GEMM verify "
    "O(batch*(n/k)*probe^2*d) balance at O(n^1.5*d) per day. Same "
    "store/batch split, same 0.3 threshold; k computed from the "
    "store count in BOTH engines (scalar-subquery LIMIT).",
)
def q_embedding_neardup_incremental_ivf_auto(spark, sf_dir):
    return _neardup_incr_ivf(spark, sf_dir, k_cells=None)


@register(
    "ivf_drift_retrain",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    st AS (SELECT * FROM e WHERE vec_id % 10 <> 7),
    ba AS (SELECT vec_id, list_transform(v, x -> abs(x)) AS v
           FROM e WHERE vec_id % 10 = 7),
    {_first_k_cent_sql("st", 8)},
    {_ivf_assign_sql("st", "cent", "c", "acs", 2)},
    {_ivf_assign_sql("ba", "cent", "c", "acb", 2)},
    hist AS (SELECT cent.c AS cell,
                    COALESCE(hs.ns, 0) AS ns, COALESCE(hb.nb, 0) AS nb
             FROM cent
             LEFT JOIN (SELECT c, CAST(COUNT(*) AS BIGINT) AS ns
                        FROM acs GROUP BY 1) hs ON hs.c = cent.c
             LEFT JOIN (SELECT c, CAST(COUNT(*) AS BIGINT) AS nb
                        FROM acb GROUP BY 1) hb ON hb.c = cent.c),
    tv AS (SELECT ROUND(SUM(ABS(nb * ts - ns * tb))
                        / (2.0 * MAX(tb) * MAX(ts)), 6) AS tvd,
                  SUM(ABS(nb * ts - ns * tb))
                    > 0.25 * 2.0 * MAX(tb) * MAX(ts) AS trig
           FROM (SELECT hist.*, t.ts, t.tb FROM hist CROSS JOIN
                 (SELECT SUM(ns) AS ts, SUM(nb) AS tb FROM hist) t)),
    un AS (SELECT * FROM st UNION ALL SELECT * FROM ba),
    cent1 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                     AS INTEGER) AS c, v AS cv
              FROM un ORDER BY vec_id LIMIT 8),
    {_ivf_assign_sql("st", "cent1", "c", "rcs", 2)},
    {_ivf_assign_sql("ba", "cent1", "c", "rcb", 2)},
    r1 AS (SELECT cent1.c AS cell,
                  CAST(COALESCE(hs.n, 0) AS BIGINT) AS n_store,
                  CAST(COALESCE(hb.n, 0) AS BIGINT) AS n_batch
           FROM cent1
           LEFT JOIN (SELECT c, COUNT(*) AS n FROM rcs GROUP BY 1) hs
             ON hs.c = cent1.c
           LEFT JOIN (SELECT c, COUNT(*) AS n FROM rcb GROUP BY 1) hb
             ON hb.c = cent1.c),
    r0 AS (SELECT cell, CAST(ns AS BIGINT) AS n_store,
                  CAST(nb AS BIGINT) AS n_batch FROM hist)
    SELECT r.cell, r.n_store, r.n_batch, tv.tvd AS tv_drift,
           tv.trig AS retrained
    FROM (SELECT * FROM r1 WHERE (SELECT trig FROM tv)
          UNION ALL
          SELECT * FROM r0 WHERE NOT (SELECT trig FROM tv)) r
    CROSS JOIN tv
    """,
    doc="Drift-triggered IVF retrain (operators/similarity.py "
    "ivf_drift_retrain) — closes the maintenance loop the "
    "incremental IVF twins document: the batch arrives from a "
    "simulated encoder upgrade (rectified |x| embeddings — the "
    "all-positive orthant concentrates assignments into few cells, "
    "TV 0.45 vs the store where sign-flip's 0.10 stays isotropic "
    "and must NOT trip), its cell "
    "histogram under the serving centroids diverges (total-variation "
    "distance with an EXACT-INTEGER numerator Σ|nb·TS − ns·TB|; the "
    "trigger compares that integer against thr·2·TS·TB directly — "
    "no rounded division in the predicate, so the branch can never "
    "flip between engines on a 1-ulp boundary; the rounded tv is "
    "display-only), the 0.25 trigger trips, and the index re-seeds from "
    "store ∪ batch and re-assigns. One row per active-index cell "
    "with its store/batch populations + the drift stat. The oracle "
    "replays BOTH branches and selects by the same trigger, so the "
    "conditional itself is verified, not just the taken path.",
)
def q_ivf_drift_retrain(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    store = e.filter(F.col("vec_id") % 10 != 7)
    batch = e.filter(F.col("vec_id") % 10 == 7).select(
        "vec_id",
        F.transform("embedding", F.abs).alias("embedding"),
    )
    return similarity.ivf_drift_retrain(
        store, batch, k_cells=8, n_probe=2, drift_threshold=0.25
    )


@register(
    "suffix_array_ranks",
    """
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 10 = 0 AND len(text) >= 1),
    ch AS (SELECT doc_id, text, i.i AS i FROM docs,
           LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) i)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos_in_doc,
           CAST(DENSE_RANK() OVER (
             ORDER BY substring(text, CAST(i AS INTEGER))
           ) AS BIGINT) AS suffix_rank
    FROM ch
    """,
    doc="Corpus suffix-array ranks by distributed prefix doubling "
    "(operators/dedup.py suffix_ranks_prefix_doubling) — the REAL "
    "index behind ExactSubstr dedup (Lee et al. 2022), upgrading "
    "dedup_span_overlap's winnowing stand-in: every suffix of every "
    "document ranked in one global lexicographic order, equal-rank "
    "runs = verbatim repeated substrings. log2(max_len) rounds, "
    "each one hash join + one range exchange via global_dense_rank "
    "— NO single-partition sort anywhere. The doc_id*stride position "
    "encoding makes pos+k past a doc's end rank as the -1 sentinel "
    "(end-of-string), so document boundaries need no separator rows "
    "yet all suffixes sort against each other globally. The oracle "
    "is one window — DENSE_RANK over the raw suffix STRINGS — "
    "because the sentinel orders a proper prefix before every "
    "extension, exactly byte-wise comparison: ~10 distributed "
    "rounds replayed by one SQL sort, hash-checked. Runs on the "
    "doc_id%10=0 shard (the index build is the documented "
    "heavyweight; the shard keeps the per-round driver loop "
    "gate-friendly at every SF).",
)
def q_suffix_array_ranks(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return dedup.suffix_ranks_prefix_doubling(d)


@register(
    "dedup_exact_substrings",
    """
    WITH docs AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 10 = 0),
    g AS (SELECT doc_id, CAST(i.i AS BIGINT) AS i,
                 substring(text, CAST(i.i AS INTEGER), 20) AS gram
          FROM docs,
          LATERAL (SELECT unnest(range(1, len(text) - 20 + 2)) AS i) i),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
    ds AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, CAST(j.j AS BIGINT) AS j FROM ds,
            LATERAL (SELECT unnest(range(i, i + 20)) AS j) j),
    ch AS (SELECT doc_id, CAST(i.i AS BIGINT) AS i,
                  substring(text, CAST(i.i AS INTEGER), 1) AS c
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) i),
    keep AS (SELECT ch.doc_id,
                    COALESCE(string_agg(ch.c, '' ORDER BY ch.i)
                             FILTER (WHERE cov.j IS NULL), '') AS kept
             FROM ch LEFT JOIN cov
               ON cov.doc_id = ch.doc_id AND cov.j = ch.i
             GROUP BY ch.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(w.nw, 0) AS BIGINT) AS n_dup_windows,
           CAST(len(d.text) - len(COALESCE(k.kept, '')) AS BIGINT)
             AS cut_bytes,
           CAST(len(COALESCE(k.kept, '')) AS BIGINT) AS kept_len,
           md5(COALESCE(k.kept, '')) AS kept_md5
    FROM docs d
    LEFT JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw
               FROM ds GROUP BY 1) w ON w.doc_id = d.doc_id
    LEFT JOIN keep k ON k.doc_id = d.doc_id
    """,
    doc="ExactSubstr dedup MATERIALIZED (operators/dedup.py "
    "dedup_exact_substrings) — the capstone on suffix_array_ranks: "
    "every byte inside a 20-char window whose content occurs >= 2 "
    "times anywhere in the corpus (position-level, so overlapping "
    "self-repeats count — Lee et al. 2022 semantics, both copies "
    "cut) is removed, and the output md5 pins every byte of the cut "
    "corpus per doc. Spark side groups the 16-byte "
    "(rank_h(i), rank_h(i+L-h)) pair (h=16) built by ceil(log2 h) "
    "prefix-doubling rounds — NOT the raw L-gram bytes — so the "
    "exchange is constant-width per position and the index build "
    "stops at the h-prefix instead of the full suffix array; the "
    "cut is one Arrow mapInPandas numpy mask per doc. The oracle "
    "brute-forces the same definition by grouping raw 20-grams, so "
    "the window-location logic AND the byte-level reassembly are "
    "both hash-checked. Runs on the doc_id%10=0 shard (real dup "
    "mass at every SF: 131 dup positions at sf0.01, 11.6k at "
    "sf0.1).",
)
def q_dedup_exact_substrings(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return dedup.dedup_exact_substrings(d, min_len=20)


@register(
    "dedup_paragraph_exact",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    p AS (SELECT doc_id, CAST(i.i AS INTEGER) AS idx,
            array_to_string(
              toks[(i.i * 16 + 1):(i.i * 16 + 16)], ' ') AS para
          FROM t, LATERAL (SELECT unnest(range(0,
            CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS i) i),
    r AS (SELECT doc_id, idx, para,
            ROW_NUMBER() OVER (PARTITION BY md5(para)
                               ORDER BY doc_id, idx) AS rk
          FROM p)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN para END,
                                   ' ' ORDER BY idx), ''))
             AS kept_text_md5
    FROM r GROUP BY doc_id
    """,
    doc="Paragraph-level exact dedup (operators/corpus.py "
    "paragraph_dedup) — the Dolma/C4 intra-corpus stage: duplicate "
    "16-word spans keep only their first (doc_id, position) "
    "occurrence; documents are reassembled from surviving spans and "
    "the md5 pins every byte. First-occurrence election is ONE "
    "window over the span's full md5 (fixed-width wire key, no "
    "collision ambiguity); reassembly is one doc-keyed aggregate — "
    "two exchanges total, document-level dedup's shape at paragraph "
    "granularity.",
)
def q_dedup_paragraph_exact(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.paragraph_dedup(d, para_words=16)


_BLOOM_SQL = f"""
    WITH t AS (SELECT doc_id, doc_id % 10 = 0 AS is_eval,
                      {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, is_eval,
            toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2]
              || ' ' || toks[i.i+3] || ' ' || toks[i.i+4] AS gram
          FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i) i),
    h AS (SELECT doc_id, is_eval, gram,
            CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
            CAST(('0x' || substr(md5(gram), 16, 15)) AS BIGINT) | 1 AS h2
          FROM g),
    pos AS (SELECT doc_id, is_eval, gram, j.j AS j,
              (h1 + j.j * h2) % 65536 AS p
            FROM h, LATERAL (SELECT unnest(range(0, 3)) AS j) j),
    bset AS (SELECT DISTINCT p FROM pos WHERE is_eval),
    tr AS (SELECT pos.doc_id, pos.gram,
                  CAST(COUNT(bset.p) AS INTEGER) AS hits
           FROM pos LEFT JOIN bset USING (p)
           WHERE NOT pos.is_eval GROUP BY 1, 2)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN hits = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           SUM(CASE WHEN hits = 3 THEN 1 ELSE 0 END) > 0 AS is_flagged
    FROM tr GROUP BY doc_id
    """


@register(
    "bloom_decontaminate",
    _BLOOM_SQL,
    doc="Bloom-filter 5-gram decontamination (operators/corpus.py "
    "bloom_decontaminate): the eval set (doc_id%10=0) compresses to "
    "a CONSTANT 8 KB bitmap (m=65536, k=3; Kirsch-Mitzenmacher "
    "double hashing — h1/h2 are two 60-bit slices of ONE md5, h2 "
    "forced odd, position j = (h1 + j*h2) mod m — engine-independent, "
    "so the deterministic false-positive set is part of the checked "
    "contract, and the probe pays one md5 per gram instead of k) "
    "and the "
    "training corpus probes it as a PURE scan-side projection: zero "
    "joins, zero aggregates, zero exchanges (plan-pinned). The 100 TB replacement for "
    "decontaminate_ngram's broadcast gram set when the held-out "
    "suite is large.",
)
def q_bloom_decontaminate(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.bloom_decontaminate(
        d, eval_pred=(F.col("doc_id") % 10 == 0), n=5
    )


@register(
    "tokenizer_fertility",
    f"""
    WITH t AS (SELECT source, lang, length(text) AS b,
                      {_TOKS_SQL} AS toks FROM documents),
    d AS (SELECT source, lang, b,
            CAST(len(toks) AS BIGINT) AS w,
            CAST(list_sum(list_transform(toks,
                 x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT) AS s
          FROM t)
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(s) AS BIGINT) AS n_subwords,
           ROUND(SUM(s) * 1.0 / SUM(w), 4) AS fertility,
           ROUND(SUM(b) * 1.0 / SUM(s), 4) AS bytes_per_subword
    FROM d GROUP BY source, lang
    """,
    doc="Tokenizer fertility per (source, lang) (operators/corpus.py "
    "tokenizer_fertility): subwords per word and bytes per subword "
    "under the deterministic BPE-ish estimate — the standard check "
    "that no language/source pays a pathological sequence-length "
    "premium. One scan + one small-cardinality aggregate with "
    "map-side combine.",
)
def q_tokenizer_fertility(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.tokenizer_fertility(d)


@register(
    "train_holdout_split",
    f"""
    WITH t AS (SELECT
        CASE WHEN CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.8
             THEN 'train'
             WHEN CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.9
             THEN 'val' ELSE 'test' END AS split,
        source,
        CAST(len({_TOKS_SQL}) AS BIGINT) AS w
      FROM documents),
    a AS (SELECT split, source,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(w) AS BIGINT) AS n_tokens
          FROM t GROUP BY split, source)
    SELECT split, source, n_docs, n_tokens,
           ROUND(n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY split), 4)
             AS share_of_split
    FROM a
    """,
    doc="Deterministic train/val/test split + composition report "
    "(operators/corpus.py train_holdout_split): membership by the "
    "md5 32-bit fraction of doc_id (the temperature_sample device) "
    "at 80/10/10 — stable across engines, runs, and corpus growth. "
    "Split assignment rides the scan; the aggregate is (3 x "
    "n_sources) rows.",
)
def q_train_holdout_split(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.train_holdout_split(d)


def _logreg_oracle(n_steps: int = 3, lr: float = 0.5) -> str:
    """Unrolled-CTE twin of quality_classifier_train: one (g_i, w_i)
    CTE pair per GD step. The 9dp in-engine gradient rounding plus
    IEEE-exact weight updates make the whole trajectory replayable."""
    dims = 4
    xs = [f"x{k}" for k in range(dims)]

    def z(w_alias: str | None) -> str:
        if w_alias is None:  # w = 0 at step 1
            return " + ".join(f"0.0 * {x}" for x in xs)
        return " + ".join(f"{w_alias}.w{k} * x{k}" for k in range(dims))

    def grads(w_alias: str | None) -> str:
        p = f"1.0 / (1.0 + EXP(-({z(w_alias)})))"
        return ", ".join(
            f"ROUND(AVG(({p} - y) * {x}), 9) AS g{k}"
            for k, x in enumerate(xs)
        )

    ctes = [
        f"""
    f AS (SELECT doc_id,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
            1.0 AS x0,
            LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS x1,
            CASE WHEN len(toks) > 0
                 THEN CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS x2,
            CASE WHEN length(text) > 0
                 THEN (length(text)
                       - length(regexp_replace(text, '[0-9]', '', 'g')))
                      * 1.0 / length(text)
                 ELSE 0.0 END AS x3
          FROM t)"""
    ]
    prev = None
    for s in range(1, n_steps + 1):
        ctes.append(f"g{s} AS (SELECT {grads(prev)} FROM f"
                    + (f" CROSS JOIN w{s-1} {prev}" if prev else "")
                    + ")")
        upd = ", ".join(
            (f"{prev}.w{k} - {lr} * g{s}.g{k} AS w{k}" if prev
             else f"0.0 - {lr} * g{s}.g{k} AS w{k}")
            for k in range(dims)
        )
        ctes.append(f"w{s} AS (SELECT {upd} FROM g{s}"
                    + (f" CROSS JOIN w{s-1} {prev}" if prev else "")
                    + ")")
        prev = "w"
    p_final = f"1.0 / (1.0 + EXP(-({z('w')})))"
    return (
        f"WITH t AS (SELECT doc_id, text, lang, {_TOKS_SQL} AS toks "
        "FROM documents),\n"
        + ",\n".join(ctes)
        + f"""
    SELECT f.doc_id, f.y AS label,
           ROUND({p_final}, 4) AS score,
           ROUND({p_final}, 4) >= 0.5 AS predicted
    FROM f CROSS JOIN w{n_steps} w
    """
    )


@register(
    "quality_classifier_scores",
    _logreg_oracle(n_steps=3, lr=0.5),
    doc="Linear quality classifier trained by full-batch logistic GD "
    "and applied to the corpus (operators/corpus.py "
    "quality_classifier_train) — the fastText/WebText-classifier "
    "corpus-prep stage as one hash-checked lifecycle. Each GD step "
    "is ONE Spark job: a pass over the checkpointed features whose "
    "4-value gradient is observe()d and merged on the driver (step "
    "1 rides the checkpoint itself), so 3 steps build in 3 jobs with "
    "no exchange; the weights (d+1 floats, bounded driver state) ride "
    "back inside the next step's expression — no instance-level "
    "shuffle at any scale. Cross-engine determinism: gradients round "
    "in-engine at 9dp (libm-exp ulp and summation-order noise are "
    "~1e-13), weight "
    "updates are single IEEE ops, so the oracle's unrolled (g_i, "
    "w_i) CTE chain replays the trajectory bit-exactly.",
)
def q_quality_classifier_scores(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    scored, _w = corpus.quality_classifier_train(
        d, label_pred=(F.col("lang") == "en"), n_steps=3, lr=0.5
    )
    return scored


def _minhash_recall_oracle(
    n_hashes: int = 16, bands: int = 2, rpb: int = 8
) -> str:
    from pyspark_scd_spark.operators.dedup import (
        MINHASH_P,
        minhash_universal_constants,
    )

    consts = minhash_universal_constants(n_hashes)
    mins = ", ".join(
        f"MIN(({a} * h0 + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_case = " ".join(
        f"WHEN {b} THEN "
        + " || ':' || ".join(
            f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        for b in range(bands)
    )
    return f"""
    WITH docs AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id,
             toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
           FROM docs,
           LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) i),
    hx AS (SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
               % {MINHASH_P} AS h0
           FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
    br AS (SELECT doc_id, CAST(b.b AS INTEGER) AS b,
             CASE b.b {band_case} END AS bsig
           FROM sig, LATERAL (SELECT unnest(range(0, {bands})) AS b) b),
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM br x JOIN br y
               ON x.b = y.b AND x.bsig = y.bsig
                  AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    ex AS (SELECT doc_a, doc_b,
             ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    flg AS (SELECT ex.jaccard,
              CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
            FROM ex LEFT JOIN cand c USING (doc_a, doc_b)),
    g AS (SELECT CAST(floor(jaccard * 10) AS INTEGER) AS band_lo,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(caught) AS BIGINT) AS n_caught
          FROM flg GROUP BY 1)
    SELECT band_lo, n_pairs, n_caught,
           ROUND(n_caught * 1.0 / n_pairs, 4) AS recall,
           ROUND(1.0 - POWER(1.0 - POWER(
             LEAST(band_lo / 10.0 + 0.05, 1.0), {rpb}), {bands}), 4)
             AS expected_recall
    FROM g
    """


@register(
    "minhash_recall_report",
    _minhash_recall_oracle(),
    doc="Measured-vs-theoretical MinHash LSH recall per jaccard "
    "decile (operators/dedup.py minhash_recall_report) — the tuning "
    "artifact before committing a (bands x rows) config at scale. "
    "Hash family is the 60-bit md5 of 'i:shingle', replayed "
    "bit-exactly by the oracle (upgrading MinHash banding itself "
    "from the production entry's recall-1 equivalence argument to a "
    "hash-checked replay), and the config is deliberately weak "
    "(16 hashes, 2 bands x 8 rows) so real misses are exercised. The k min-hashes "
    "are k map-side-combined MIN aggregates - one exchange, no "
    "(doc, shingle) row multiplication by k.",
)
def q_minhash_recall_report(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_recall_report(
        d, n=3, threshold=0.5, num_hashes=16, bands=2
    )


@register(
    "stream_bloom_decontaminate",
    _BLOOM_SQL,
    doc="STREAMING Bloom decontamination (operators/corpus.py "
    "bloom_probe_projection over a file stream): the deployment "
    "shape — a static 8 KB eval bitmap built batch-side filters the "
    "incoming corpus per micro-batch. Because the probe is a pure "
    "stateless projection (no watermark, no state store, no "
    "aggregation), append mode is exact and output is independent "
    "of micro-batch boundaries; the oracle is the identical batch "
    "SQL.",
)
def q_stream_bloom_decontaminate(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    bitmap = corpus.bloom_bitmap(
        d.filter(F.col("doc_id") % 10 == 0), n=5
    )

    def train_docs(df):
        return df.filter(F.col("doc_id") % 10 != 0).select(
            "doc_id", "text"
        )

    src = _stream_source(spark, sf_dir, "documents", prepare=train_docs)
    out = corpus.bloom_probe_projection(src, bitmap, n=5)
    return _run_stream_to_batch(out)


def _bt_oracle(n_steps: int = 3, lr: float = 0.5) -> str:
    """Unrolled Bradley–Terry GD oracle: per step a residual CTE
    (JOIN-based θ lookups), a 9dp-rounded per-source gradient CTE,
    and a θ-update CTE — the quality_classifier_train replay
    contract extended from scalar weights to keyed parameters."""
    steps = []
    for i in range(1, n_steps + 1):
        prev = f"w{i-1}"
        steps.append(f"""
    r{i} AS (SELECT m.winner, m.loser,
          1.0 - 1.0 / (1.0 + EXP(-(wa.theta - wl.theta))) AS r
        FROM m JOIN {prev} wa ON wa.source = m.winner
               JOIN {prev} wl ON wl.source = m.loser),
    g{i} AS (SELECT source, ROUND(AVG(r), 9) AS g FROM (
          SELECT winner AS source, r FROM r{i}
          UNION ALL SELECT loser AS source, -r AS r FROM r{i}) u
        GROUP BY source),
    w{i} AS (SELECT {prev}.source, {prev}.theta + {lr} * g{i}.g AS theta
        FROM {prev} JOIN g{i} USING (source))""")
    return (
        f"""
    WITH t AS (SELECT doc_id, source, text, {_TOKS_SQL} AS toks
               FROM documents),
    qd AS (SELECT doc_id, source,
             LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.4
             + CASE WHEN len(toks) > 0
                    THEN CAST(len(list_distinct(toks)) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END * 0.4
             + (1.0 - CASE WHEN length(text) > 0
                       THEN (length(text)
                             - length(regexp_replace(text, '[0-9]',
                                                     '', 'g')))
                            * 1.0 / length(text)
                       ELSE 0.0 END) * 0.2 AS q
           FROM t),
    m AS (SELECT CASE WHEN a.q >= b.q THEN a.source ELSE b.source END
                   AS winner,
                 CASE WHEN a.q >= b.q THEN b.source ELSE a.source END
                   AS loser
          FROM qd a JOIN qd b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 2 = 0),
    w0 AS (SELECT DISTINCT source, 0.0 AS theta FROM
             (SELECT winner AS source FROM m
              UNION ALL SELECT loser FROM m) u),"""
        + ",".join(steps)
        + f""",
    stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_matches,
                CAST(SUM(wf) AS BIGINT) AS n_wins FROM
                (SELECT winner AS source, 1 AS wf FROM m
                 UNION ALL SELECT loser AS source, 0 AS wf FROM m) u
              GROUP BY source)
    SELECT w{n_steps}.source, ROUND(w{n_steps}.theta, 4) AS theta,
           n_matches, n_wins
    FROM w{n_steps} JOIN stats USING (source)
    """
    )


@register(
    "preference_bt_rank",
    _bt_oracle(n_steps=3, lr=0.5),
    doc="Bradley-Terry preference aggregation (operators/corpus.py "
    "preference_bt_rank) - the RLHF/arena shape: pairwise winners "
    "(deterministic demo pairing doc 2k vs 2k+1, winner = higher "
    "quality_score) aggregate into per-source strengths by "
    "full-batch GD on the BT log-likelihood. The parameters are a "
    "TABLE (one row per source) that never touches the driver: each "
    "step broadcasts the theta table onto the match relation, "
    "explodes matches into signed residual rows, and aggregates per "
    "source map-side. 9dp in-engine gradient rounding + IEEE "
    "updates let the unrolled JOIN-lookup CTE oracle replay the "
    "trajectory bit-exactly.",
)
def q_preference_bt_rank(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.preference_bt_rank(d, n_steps=3, lr=0.5)


@register(
    "stream_pii_scrub",
    _pii_scrub_oracle(),
    doc="STREAMING PII redaction (operators/corpus.py pii_scrub over "
    "a file stream): the ingest-time deployment shape — scrub before "
    "anything persists downstream. A stateless regexp projection "
    "(no watermark, no state store), so append mode is exact, "
    "output is independent of micro-batch boundaries, and the batch "
    "oracle SQL replays it verbatim.",
)
def q_stream_pii_scrub(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    src = _stream_source(
        spark, sf_dir, "documents", prepare=_pii_enriched
    )
    out = corpus.pii_scrub(src).select(
        "doc_id",
        F.md5("scrubbed").alias("scrubbed_md5"),
        "n_emails",
        "n_phones",
        "n_ips",
    )
    return _run_stream_to_batch(out)


@register(
    "dedup_source_matrix",
    r"""
    WITH docs AS (
      SELECT text, source FROM documents
      UNION ALL
      SELECT text, 'seed_mirror' AS source
      FROM documents WHERE doc_id % 13 = 0),
    h AS (
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             source
      FROM docs),
    counts AS (SELECT fp, source, COUNT(*) AS n FROM h GROUP BY 1, 2),
    dup AS (SELECT fp FROM counts GROUP BY fp HAVING SUM(n) > 1),
    hist AS (SELECT counts.* FROM counts JOIN dup USING (fp)),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                CASE WHEN a.source = b.source
                     THEN CAST(a.n * (a.n - 1) / 2 AS BIGINT)
                     ELSE CAST(a.n * b.n AS BIGINT) END AS p
              FROM hist a JOIN hist b
                ON a.fp = b.fp AND a.source <= b.source)
    SELECT source_a, source_b, CAST(SUM(p) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY 1, 2 HAVING SUM(p) > 0
    """,
    doc="Cross-source exact-duplicate matrix (operators/dedup.py "
    "cross_source_dup_matrix) — the provenance artifact: which "
    "sources copy from which. Duplicate groups reduce to "
    "per-(fingerprint, source) COUNTS before any pair arithmetic "
    "(within-source C(n,2), cross-source n_a*n_b on the histogram), "
    "so a 1M-copy document costs one histogram row per source, "
    "never a materialized pair join. The testdata documents table "
    "has no natural cross-source exact dups at small SFs (the r6 "
    "entry proved vacuously true: 0 rows from both engines), so "
    "BOTH engines seed a deterministic mirror — every doc_id "
    "divisible by 13 re-tagged source='seed_mirror' — giving the "
    "matrix real mass (39+ dup pairs at every SF) while staying "
    "hash-replayable.",
)
def q_dedup_source_matrix(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    seeded = d.select("text", "source").unionByName(
        d.filter(F.col("doc_id") % 13 == 0).select(
            "text", F.lit("seed_mirror").alias("source")
        )
    )
    return dedup.cross_source_dup_matrix(seeded)


@register(
    "doc_length_histogram",
    f"""
    WITH t AS (SELECT CAST(len({_TOKS_SQL}) AS BIGINT) AS n
               FROM documents),
    b AS (SELECT CAST((n // 16) * 16 AS BIGINT) AS bucket_lo,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1)
    SELECT bucket_lo, n_docs, n_tokens,
           ROUND(SUM(n_tokens) OVER (ORDER BY bucket_lo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 / SUM(n_tokens) OVER (), 4) AS cum_token_share
    FROM b
    """,
    doc="Sequence-length histogram with cumulative token share "
    "(operators/corpus.py doc_length_histogram) — the context-length/"
    "packing decision artifact: what share of tokens lives in docs "
    "shorter than L. One scan to a bounded bucket table; the "
    "cumulative window runs over buckets, never documents.",
)
def q_doc_length_histogram(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.doc_length_histogram(d, bucket_tokens=16)


def _cms_pos_sql(width: int) -> str:
    """Replay ``corpus._bloom_pos`` (Kirsch–Mitzenmacher double
    hashing) byte-identically in DuckDB: h1 = first 60 bits of
    md5(tok), h2 = next 60 bits forced odd, pos = (h1 + j*h2) mod
    width. The r12 oracle hashed md5('j:tok') instead — a different
    scheme that agreed with Spark only because sf0.01's vocab is far
    below the counter width (zero collisions, every estimate exact in
    BOTH schemes); tests/test_sketches.py now pins the match under
    real collision pressure (vocab >> width). h1 + 2*h2 < 3*2^60
    stays inside BIGINT."""
    return (
        "((CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) "
        "+ CAST(j.j AS BIGINT) * "
        "(CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) | 1)) "
        f"% {width})"
    )


def _cms_oracle(depth: int = 3, width: int = 1024, k: int = 20) -> str:
    pos = _cms_pos_sql(width)
    return f"""
    WITH tk AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tk GROUP BY tok),
    cells AS (SELECT CAST(j.j AS INTEGER) AS j, {pos} AS p, c
              FROM vocab,
              LATERAL (SELECT unnest(range(0, {depth})) AS j) j),
    counters AS (SELECT j, p, SUM(c) AS cnt FROM cells GROUP BY 1, 2),
    topk AS (SELECT tok, c FROM vocab
             ORDER BY c DESC, tok ASC LIMIT {k}),
    probes AS (SELECT tok, c, CAST(j.j AS INTEGER) AS j, {pos} AS p
               FROM topk,
               LATERAL (SELECT unnest(range(0, {depth})) AS j) j),
    est AS (SELECT tok, c, MIN(cnt) AS e
            FROM probes JOIN counters USING (j, p) GROUP BY 1, 2)
    SELECT tok AS token, c AS exact_count,
           CAST(e AS BIGINT) AS cms_estimate,
           CAST(e - c AS BIGINT) AS overestimate
    FROM est
    """


@register(
    "cms_vocab_topk",
    _cms_oracle(),
    doc="Count-Min-Sketch word frequencies beside their exact twin "
    "(operators/corpus.py cms_vocab_topk): the bounded-memory "
    "mergeable frequency sketch, made deterministic and "
    "hash-checkable - counter positions are the KM double hash "
    "(h1 + j*h2) mod width from one md5(token) (_bloom_pos, the "
    "shared Bloom device) and the oracle replays that exact "
    "arithmetic, so both engines build byte-identical counters and "
    "the CMS over-estimates are part of the checked contract "
    "(collision-pressure pin in tests/test_sketches.py). Counters "
    "aggregate over the VOCAB-sized count table exploded x depth "
    "(the corpus is scanned once); estimation joins the k-row top-k "
    "against the (depth x width) counter table.",
)
def q_cms_vocab_topk(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.cms_vocab_topk(d, depth=3, width=1024, k=20)


def _cms_grouped_oracle(
    depth: int = 3, width: int = 1024, k: int = 10
) -> str:
    pos = _cms_pos_sql(width)
    return f"""
    WITH tk AS (SELECT lang AS kx, unnest({_TOKS_SQL}) AS tok
                FROM documents),
    vocab AS (SELECT kx, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tk GROUP BY 1, 2),
    cells AS (SELECT kx, CAST(j.j AS INTEGER) AS j, {pos} AS p, c
              FROM vocab,
              LATERAL (SELECT unnest(range(0, {depth})) AS j) j),
    counters AS (SELECT kx, j, p, SUM(c) AS cnt
                 FROM cells GROUP BY 1, 2, 3),
    topk AS (SELECT kx, tok, c FROM (
               SELECT kx, tok, c,
                      ROW_NUMBER() OVER (PARTITION BY kx
                        ORDER BY c DESC, tok ASC) AS rn
               FROM vocab) WHERE rn <= {k}),
    probes AS (SELECT kx, tok, c, CAST(j.j AS INTEGER) AS j, {pos} AS p
               FROM topk,
               LATERAL (SELECT unnest(range(0, {depth})) AS j) j),
    est AS (SELECT kx, tok, c, MIN(cnt) AS e
            FROM probes JOIN counters USING (kx, j, p)
            GROUP BY 1, 2, 3)
    SELECT kx AS lang, tok AS token, c AS exact_count,
           CAST(e AS BIGINT) AS cms_estimate,
           CAST(e - c AS BIGINT) AS overestimate
    FROM est
    """


@register(
    "cms_vocab_topk_by_group",
    _cms_grouped_oracle(),
    doc="PER-LANGUAGE Count-Min-Sketch vocabulary top-k "
    "(operators/corpus.py cms_vocab_topk_grouped) — the r11 "
    "grouped-sketch playbook (hll_cardinality_by_group, "
    "quantile_sketch_by_group) applied to the frequency sketch, "
    "closing the r11 VERDICT grouped-breadth audit: one CMS per "
    "key, counters on a (key, j, position)-keyed map-side-combined "
    "exchange (per-key state bounded by depth x width, never the "
    "key's token count), top-k per key via key-partitioned "
    "row_number — no SinglePartition stage (plan-pinned). Oracle "
    "replays counters and estimates byte-identically per key.",
)
def q_cms_vocab_topk_by_group(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.cms_vocab_topk_grouped(
        d, "lang", depth=3, width=1024, k=10
    )


@register(
    "dedup_saturation_curve",
    r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents),
    f AS (SELECT doc_id,
            CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)
                 = 1 THEN 1 ELSE 0 END AS is_new,
            NTILE(10) OVER (ORDER BY doc_id) AS slice_no
          FROM h),
    per AS (SELECT slice_no, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(is_new) AS BIGINT) AS n_new
            FROM f GROUP BY slice_no)
    SELECT CAST(slice_no AS INTEGER) AS slice_no, n_docs, n_new,
           ROUND(n_new * 1.0 / n_docs, 4) AS new_rate,
           ROUND(SUM(n_new) OVER (ORDER BY slice_no
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1.0 /
                 SUM(n_docs) OVER (ORDER BY slice_no
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS cum_unique_share
    FROM per
    """,
    doc="Dedup saturation curve (operators/dedup.py "
    "dedup_saturation_curve): the corpus replayed in ingest order in "
    "10 slices - per slice the first-occurrence rate and cumulative "
    "unique share; a flattening curve says a source is crawled out. "
    "First-occurrence election is the dedup_exact window; the curve "
    "aggregates to 10 rows.",
)
def q_dedup_saturation_curve(spark, sf_dir):
    from pyspark_scd_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.dedup_saturation_curve(d, n_slices=10)


@register(
    "stream_quality_classifier",
    _logreg_oracle(n_steps=3, lr=0.5),
    doc="STREAMING classifier inference (operators/corpus.py "
    "classifier_score_projection over a file stream): the "
    "train-offline / score-at-ingest deployment shape - weights come "
    "from the batch quality_classifier_train run, then every "
    "incoming micro-batch is scored by a pure projection (features + "
    "sigmoid with literal weights): stateless, append-exact, and the "
    "batch oracle SQL replays train AND inference end-to-end.",
)
def q_stream_quality_classifier(spark, sf_dir):
    from pyspark_scd_spark.operators import corpus

    d = _t(spark, sf_dir, "documents")
    _, w = corpus.quality_classifier_train(
        d, label_pred=(F.col("lang") == "en"), n_steps=3, lr=0.5
    )

    def proj(df):
        return df.select("doc_id", "text", "lang")

    src = _stream_source(spark, sf_dir, "documents", prepare=proj)
    out = corpus.classifier_score_projection(
        src, w, label_pred=(F.col("lang") == "en")
    )
    return _run_stream_to_batch(out)


@register(
    "embedding_matryoshka_recall",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id >= 100 AND vec_id < 110),
    fs AS (SELECT q.query_id, e.vec_id,
                  ROUND(list_cosine_similarity(e.v, q.qv), 6) AS c
           FROM e CROSS JOIN q),
    fr AS (SELECT query_id, vec_id, c FROM (
             SELECT query_id, vec_id, c,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY c DESC, vec_id ASC) AS rk
             FROM fs) WHERE rk <= 10),
    ts AS (SELECT q.query_id, e.vec_id,
                  ROUND(list_cosine_similarity(e.v[1:16], q.qv[1:16]),
                        6) AS c
           FROM e CROSS JOIN q),
    tr AS (SELECT query_id, vec_id, c FROM (
             SELECT query_id, vec_id, c,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY c DESC, vec_id ASC) AS rk
             FROM ts) WHERE rk <= 10),
    h AS (SELECT fr.query_id, COUNT(*) AS hits
          FROM fr JOIN tr USING (query_id, vec_id) GROUP BY 1),
    fm AS (SELECT query_id, ROUND(AVG(c), 6) AS full_mean_cosine
           FROM fr GROUP BY 1),
    tm AS (SELECT query_id, ROUND(AVG(c), 6) AS trunc_mean_cosine
           FROM tr GROUP BY 1)
    SELECT fm.query_id,
           ROUND(COALESCE(h.hits, 0) / 10.0, 6) AS recall_at_10,
           full_mean_cosine, trunc_mean_cosine
    FROM fm JOIN tm USING (query_id)
    LEFT JOIN h USING (query_id)
    """,
    doc="Matryoshka truncation audit (operators/similarity.py "
    "matryoshka_recall_report): recall@10 of first-16-of-64-dim "
    "retrieval vs the full-dim exact top-10, plus both legs' mean "
    "cosines - the measured recall cost of serving truncated "
    "embeddings (4x less memory/bandwidth). Both legs are "
    "brute_force_topk (broadcast queries, zero corpus shuffle); "
    "truncation is a pure slice projection.",
)
def q_embedding_matryoshka_recall(spark, sf_dir):
    from pyspark_scd_spark.operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.matryoshka_recall_report(
        e, queries, trunc_dim=16, k=10
    )


@register(
    "doc_pack_efficiency",
    """
    WITH sized AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
                         - n_tokens) / 2048) AS BIGINT) AS bin_id
      FROM (SELECT doc_id, n_tokens, doc_id % 32 AS shard FROM sized)),
    bins AS (SELECT shard, bin_id,
               CAST(SUM(n_tokens) AS BIGINT) AS fill,
               CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM packed GROUP BY 1, 2)
    SELECT CAST(LEAST(FLOOR(fill * 10.0 / 2048), 10) AS INTEGER)
             AS util_decile,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(fill) AS BIGINT) AS n_tokens,
           CAST(SUM(GREATEST(2048 - fill, 0)) AS BIGINT) AS padding,
           ROUND(AVG(fill * 1.0 / 2048), 4) AS avg_util
    FROM bins GROUP BY 1
    """,
    doc="Packing-efficiency report over doc_pack_bins' next-fit "
    "output: bins histogrammed by utilization decile with the total "
    "PADDING each band wastes (padding tokens are wasted FLOPs at "
    "training time — this is the number that justifies a packer). "
    "The bin roll-up is one aggregate over the pack window's output; "
    "the histogram is bounded at 11 rows.",
)
def q_doc_pack_efficiency(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        TXT.token_count("text").cast("long").alias("n_tokens"),
        (F.col("doc_id") % 32).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048)
        .cast("long"),
    )
    bins = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").cast("long").alias("fill"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return bins.groupBy(
        F.least(F.floor(F.col("fill") * 10.0 / 2048), F.lit(10))
        .cast("int")
        .alias("util_decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("n_tokens"),
        F.sum(F.greatest(F.lit(2048) - F.col("fill"), F.lit(0)))
        .cast("long")
        .alias("padding"),
        F.round(F.avg(F.col("fill") / 2048.0), 4).alias("avg_util"),
    )


@register(
    "embedding_norm_report",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    m AS (SELECT vec_id, label,
            CAST(len(v) AS INTEGER) AS dim,
            SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm,
            CAST(len(list_filter(v, x -> x = 0.0)) AS INTEGER)
              AS n_zero,
            CAST(len(list_filter(v, x -> isnan(x))) AS INTEGER)
              AS n_nan
          FROM e)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dim) AS INTEGER) AS min_dim,
           CAST(MAX(dim) AS INTEGER) AS max_dim,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(AVG(nrm), 4) AS avg_norm,
           ROUND(MAX(nrm), 4) AS max_norm,
           CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vecs,
           CAST(SUM(n_nan) AS BIGINT) AS n_nan_components,
           CAST(SUM(CASE WHEN n_zero = dim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_all_zero
    FROM m GROUP BY label
    """,
    doc="Embedding sanity report per label: vector-norm distribution "
    "(min/avg/max), dimension range, and degenerate-vector counts "
    "(zero-norm, all-zero, NaN components) - the pre-flight every "
    "vector pipeline runs before trusting an embedding export "
    "(truncated files and failed encoder batches show up here "
    "first). Pure scan-side array math + one small-cardinality "
    "aggregate.",
)
def q_embedding_norm_report(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    n_zero = F.size(F.filter(v, lambda x: x == 0.0))
    n_nan = F.size(F.filter(v, lambda x: F.isnan(x)))
    m = e.select(
        "label",
        F.size(v).alias("dim"),
        nrm.alias("nrm"),
        n_zero.alias("n_zero"),
        n_nan.alias("n_nan"),
    )
    return m.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.sum((F.col("nrm") == 0.0).cast("long")).alias("n_zero_vecs"),
        F.sum("n_nan").cast("long").alias("n_nan_components"),
        F.sum((F.col("n_zero") == F.col("dim")).cast("long")).alias(
            "n_all_zero"
        ),
    )


@register(
    "quality_by_source",
    f"""
    WITH t AS (SELECT source, text, {_TOKS_SQL} AS toks FROM documents),
    m AS (SELECT source,
            LEAST(1.0, CAST(len(toks) AS DOUBLE) / 100.0) * 0.4
            + CASE WHEN len(toks) > 0
                   THEN CAST(len(list_distinct(toks)) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END * 0.4
            + (1.0 - CASE WHEN length(text) > 0
                     THEN (length(text)
                           - length(regexp_replace(text, '[0-9]',
                                                   '', 'g')))
                          * 1.0 / length(text)
                     ELSE 0.0 END) * 0.2 AS q
          FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(q), 4) AS min_quality,
           ROUND(AVG(q), 4) AS avg_quality,
           ROUND(MAX(q), 4) AS max_quality,
           CAST(SUM(CASE WHEN q < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below_gate
    FROM m GROUP BY source
    """,
    doc="Quality-score distribution per source (functions/text.py "
    "quality_score): min/avg/max and the count below the 0.5 gate - "
    "the datacard slice that says WHICH source is dragging the "
    "corpus down before anyone tunes a threshold. One scan, one "
    "small-cardinality aggregate.",
)
def q_quality_by_source(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    q = TXT.quality_score("text")
    return d.select("source", q.alias("__q")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.min("__q"), 4).alias("min_quality"),
        F.round(F.avg("__q"), 4).alias("avg_quality"),
        F.round(F.max("__q"), 4).alias("max_quality"),
        F.sum((F.col("__q") < 0.5).cast("long")).alias("n_below_gate"),
    )


@register(
    "customer_rfm_segments",
    """
    WITH per AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS f,
             ROUND(SUM(o_totalprice), 2) AS m
      FROM orders GROUP BY o_custkey),
    mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    base AS (SELECT o_custkey,
               CAST(date_diff('day', last_d, maxd) AS BIGINT) AS rec,
               f, m
             FROM per, mx),
    th AS (SELECT
             list_transform(quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]),
                            x -> ROUND(x, 9)) AS tr,
             list_transform(quantile_cont(f, [0.2, 0.4, 0.6, 0.8]),
                            x -> ROUND(x, 9)) AS tf,
             list_transform(quantile_cont(m, [0.2, 0.4, 0.6, 0.8]),
                            x -> ROUND(x, 9)) AS tm
           FROM base),
    scored AS (SELECT o_custkey, rec, f, m,
                 CAST(5 - len(list_filter(tr, x -> x < rec)) AS INTEGER)
                   AS r_score,
                 CAST(1 + len(list_filter(tf, x -> x < f)) AS INTEGER)
                   AS f_score,
                 CAST(1 + len(list_filter(tm, x -> x < m)) AS INTEGER)
                   AS m_score
               FROM base, th)
    SELECT o_custkey, rec AS recency_days, f AS n_orders,
           m AS monetary, r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM customer segmentation — the classic warehouse lifecycle "
    "analysis: per customer recency/frequency/monetary, quintile "
    "scores, and a segment label. Scores use the scale-safe quantile "
    "device (feature_quantile_bins): exact quintile boundaries from "
    "ONE aggregate broadcast back, bucket = count of boundaries "
    "strictly below the value — never a global NTILE window (which "
    "funnels every customer through one task). Boundaries rounded "
    "9dp in both engines to absorb interpolation ulp.",
)
def q_customer_rfm_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.round(F.sum("o_totalprice"), 2).alias("m"),
    )
    mx = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("maxd")
    )
    base = per.join(F.broadcast(mx)).select(
        "o_custkey",
        F.datediff("maxd", "last_d").cast("long").alias("rec"),
        "f",
        "m",
    )
    th = base.agg(
        *[
            F.transform(
                F.expr(
                    f"percentile({c}, array(0.2D, 0.4D, 0.6D, 0.8D))"
                ),
                lambda x: F.round(x, 9),
            ).alias(f"t{c}")
            for c in ("rec", "f", "m")
        ]
    )
    s = base.join(F.broadcast(th))
    r_score = (
        F.lit(5)
        - F.size(F.filter("trec", lambda x: x < F.col("rec")))
    ).cast("int")
    f_score = (
        F.lit(1) + F.size(F.filter("tf", lambda x: x < F.col("f")))
    ).cast("int")
    m_score = (
        F.lit(1) + F.size(F.filter("tm", lambda x: x < F.col("m")))
    ).cast("int")
    seg = (
        F.when((r_score >= 4) & (f_score >= 4), "champion")
        .when(r_score >= 4, "recent")
        .when(f_score >= 4, "loyal")
        .when((r_score <= 2) & (f_score <= 2), "at_risk")
        .otherwise("regular")
    )
    return s.select(
        "o_custkey",
        F.col("rec").alias("recency_days"),
        F.col("f").alias("n_orders"),
        F.col("m").alias("monetary"),
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        seg.alias("segment"),
    )


@register(
    "corpus_zipf_slope",
    f"""
    WITH tk AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM tk GROUP BY tok),
    top AS (SELECT tok, c FROM vocab
            ORDER BY c DESC, tok ASC LIMIT 1000),
    pts AS (SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC)
                     AS DOUBLE)) AS x,
                   LN(CAST(c AS DOUBLE)) AS y
            FROM top)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
           ROUND(covar_pop(y, x) / var_pop(x), 4) AS zipf_slope,
           ROUND(POWER(covar_pop(y, x), 2)
                 / (var_pop(x) * var_pop(y)), 4) AS r2
    FROM pts
    """,
    doc="Zipf-law fit of the vocabulary: OLS slope of ln(freq) on "
    "ln(rank) over the top-1000 tokens plus the fit r-squared — the "
    "corpus-health statistic (natural language sits near -1; "
    "template/bot text bends the curve). Vocab aggregates once "
    "(map-side combined); the rank window runs over the 1000-row "
    "top-k (TakeOrdered prunes map-side first), never the corpus; "
    "the fit is the closed-form covar_pop/var_pop aggregate.",
)
def q_corpus_zipf_slope(spark, sf_dir):
    from pyspark_scd_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(TXT.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = vocab.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        1000
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    pts = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.round(F.covar_pop("y", "x") / F.var_pop("x"), 4).alias(
            "zipf_slope"
        ),
        F.round(
            F.pow(F.covar_pop("y", "x"), 2)
            / (F.var_pop("x") * F.var_pop("y")),
            4,
        ).alias("r2"),
    )


# ----------------------------------------------------------------------
# Perceptual-hash image dedup (operators/perceptual.py): integer-DCT
# pHash + multi-index Hamming join. The cosine table is interpolated
# into the oracle as INTEGER LITERALS (the oracle never recomputes a
# cosine) and every downstream step is exact int64 arithmetic, so the
# 64-bit fingerprint is bit-identical across engines — recall of the
# band join is 1 by pigeonhole (max_hamming < bands), making the
# all-pairs oracle an EXACT twin, not a probabilistic one.
# ----------------------------------------------------------------------

from pyspark_scd_spark.operators import multimodal as _MM  # noqa: E402
from pyspark_scd_spark.operators.perceptual import (  # noqa: E402
    phash_cos_table as _phash_ct,
    phash_pixel_expr_sql as _phash_px,
    with_grayscale_payload as _gray_images,
)


def _ct_values(table) -> str:
    return ", ".join(
        f"({u}, {k}, {c})"
        for u, row in enumerate(table)
        for k, c in enumerate(row)
    )


# Shared oracle prefix: pixels -> integer DCT -> rank-32 median ->
# packed 63-bit hash, one row per document.
_PHASH_BITS_CTES = f"""
    ct(u, k, c) AS (VALUES {_ct_values(_phash_ct())}),
    yy AS (SELECT UNNEST(range(0, 16)) AS y),
    xx AS (SELECT UNNEST(range(0, 16)) AS x),
    px AS (SELECT doc_id, y, x,
                  CAST({_phash_px("doc_id", "y", "x")} AS BIGINT) AS p
           FROM documents, yy, xx),
    dct AS (SELECT px.doc_id, cu.u AS u, cv.u AS v,
                   SUM(px.p * cu.c * cv.c) AS coef
            FROM px JOIN ct cu ON cu.k = px.y
                    JOIN ct cv ON cv.k = px.x
            GROUP BY 1, 2, 3),
    nondc AS (SELECT doc_id, u, v, coef FROM dct
              WHERE NOT (u = 0 AND v = 0)),
    med AS (SELECT doc_id, coef AS m FROM (
              SELECT doc_id, coef,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY coef) AS rk
              FROM nondc)
            WHERE rk = 32),
    bits AS (SELECT n.doc_id,
                    CAST(SUM(CASE WHEN n.coef > med.m
                         THEN (CAST(1 AS BIGINT) << (n.u*8 + n.v - 1))
                         ELSE 0 END) AS BIGINT) AS phash
             FROM nondc n JOIN med ON n.doc_id = med.doc_id
             GROUP BY 1)
"""


# ----------------------------------------------------------------------
# Wide-MIH image family (round 12): 124-bit pHash from the 8x16
# low-frequency DCT block (CT8 @ P @ CT16^T, DC dropped, row-major
# coefficients 1..124, rank-62 threshold) — two packed words whose
# 31-bit substrings are the MIH bands, the same asymptote remedy the
# audio (r11) and video (r12) families carry. ct16 rows 0..7 equal
# ct exactly; rows 8..15 extend the frequency range (every value
# >= 0.0966 from a .5 rounding boundary — checked, not assumed).
# ----------------------------------------------------------------------

_PHASH_WIDE_BITS_CTES = f"""
    ct(u, k, c) AS (VALUES {_ct_values(_phash_ct())}),
    ct16(u, k, c) AS (VALUES {_ct_values(_phash_ct(16))}),
    yy AS (SELECT UNNEST(range(0, 16)) AS y),
    xx AS (SELECT UNNEST(range(0, 16)) AS x),
    px AS (SELECT doc_id, y, x,
                  CAST({_phash_px("doc_id", "y", "x")} AS BIGINT) AS p
           FROM documents, yy, xx),
    dctw AS (SELECT px.doc_id, cu.u AS u, cv.u AS v,
                    SUM(px.p * cu.c * cv.c) AS coef
             FROM px JOIN ct cu ON cu.k = px.y
                     JOIN ct16 cv ON cv.k = px.x
             GROUP BY 1, 2, 3),
    keptw AS (SELECT doc_id, u*16 + v AS idx, coef FROM dctw
              WHERE u*16 + v BETWEEN 1 AND 124),
    medw AS (SELECT doc_id, coef AS m FROM (
               SELECT doc_id, coef,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY coef) AS rk
               FROM keptw)
             WHERE rk = 62),
    wbits AS (SELECT n.doc_id,
                     CAST(SUM(CASE WHEN n.coef > medw.m
                          AND n.idx <= 62
                       THEN (CAST(1 AS BIGINT)
                             << CAST(n.idx - 1 AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS phash_lo,
                     CAST(SUM(CASE WHEN n.coef > medw.m
                          AND n.idx >= 63
                       THEN (CAST(1 AS BIGINT)
                             << CAST(n.idx - 63 AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS phash_hi
              FROM keptw n JOIN medw ON n.doc_id = medw.doc_id
              GROUP BY 1)
"""


# ----------------------------------------------------------------------
# Video perceptual near-dup (operators/perceptual.py video_*): the
# pHash playbook applied to video — per-frame 63-bit luma fingerprints
# from a REAL Y4M decode, exact integer mean-compare (lum*(w*h) > sum,
# no division), frame-vote pairing over the distinct-hash multi-index
# Hamming join. The oracle replays the deterministic plane signal
# (multimodal.with_video_payload: luma(doc,f,y,x) = (doc*31 + f*97 +
# y*13 + x*7) % 256, dims from doc_id) pixel-for-pixel, so a hash
# match proves the Y4M container parse, the plane split, AND the
# fingerprint arithmetic bit-for-bit.
# ----------------------------------------------------------------------

_VIDEO_FHASH_CTES = """
    dims AS (SELECT doc_id,
                    8 + (doc_id % 5) * 2 AS w,
                    6 + (doc_id % 3) * 2 AS h,
                    2 + doc_id % 4 AS n
             FROM documents),
    fr AS (SELECT doc_id, w, h, CAST(f.f AS BIGINT) AS f
           FROM dims, LATERAL (SELECT UNNEST(range(n)) AS f) f),
    sums AS (SELECT fr.doc_id, fr.f,
                    ANY_VALUE(fr.w) AS w, ANY_VALUE(fr.h) AS h,
                    SUM((fr.doc_id*31 + fr.f*97 + y.y*13 + x.x*7) % 256)
                      AS s
             FROM fr,
                  LATERAL (SELECT UNNEST(range(h)) AS y) y,
                  LATERAL (SELECT UNNEST(range(w)) AS x) x
             GROUP BY 1, 2),
    fbits AS (SELECT doc_id, f,
                     CAST(SUM(CASE WHEN
                       ((doc_id*31 + f*97 + (k.k % h)*13
                         + ((k.k*7) % w)*7) % 256) * w * h > s
                       THEN (CAST(1 AS BIGINT) << k.k) ELSE 0 END)
                       AS BIGINT) AS fhash
              FROM sums, LATERAL (SELECT UNNEST(range(63)) AS k) k
              GROUP BY 1, 2)
"""


# ----------------------------------------------------------------------
# Audio perceptual fingerprint (operators/perceptual.py
# audio_fingerprint): the third leg of the multimodal dedup triple.
# Corpus = every document's deterministic PCM clip plus a planted
# "re-encoded copy" twin for doc_id % 13 == 0 (+333 phase on samples
# j < 2, id shifted +10M): only window 0's energy changes, so the twin
# differs in at most bit 0 — hamming <= 1 by construction, a
# guaranteed-detectable near-dup population.
# ----------------------------------------------------------------------

_AUDIO_FP_CTES = """
    aud AS (SELECT doc_id AS out_id, doc_id AS base, 0 AS boost
            FROM documents
            UNION ALL
            SELECT doc_id + 10000000, doc_id, 333
            FROM documents WHERE doc_id % 13 = 0),
    smp AS (SELECT out_id, j.j AS j,
                   ((base*7919 + j.j*104729
                     + CASE WHEN j.j < 2 THEN boost ELSE 0 END)
                    % 65536) - 32768 AS v
            FROM aud,
                 LATERAL (SELECT UNNEST(range(64 + base % 193)) AS j) j),
    wins AS (SELECT out_id, j // 4 AS w, SUM(v*v) AS e
             FROM smp GROUP BY 1, 2),
    wl AS (SELECT out_id, w, e,
                  LEAD(e) OVER (PARTITION BY out_id ORDER BY w) AS e2
           FROM wins),
    afp AS (SELECT out_id AS doc_id,
                   CAST(COUNT(*) AS INTEGER) AS n_windows,
                   CAST(COALESCE(SUM(CASE WHEN e2 > e AND w <= 62
                     THEN (CAST(1 AS BIGINT)
                           << CAST((16 * w) % 63 AS INTEGER))
                     ELSE 0 END), 0) AS BIGINT) AS afp
            FROM wl GROUP BY 1)
"""


_AUDIO_FP_WIDE_CTES = """
    aud AS (SELECT doc_id AS out_id, doc_id AS base, 0 AS boost
            FROM documents
            UNION ALL
            SELECT doc_id + 10000000, doc_id, 333
            FROM documents WHERE doc_id % 13 = 0),
    smp AS (SELECT out_id, j.j AS j,
                   ((base*7919 + j.j*104729
                     + CASE WHEN j.j < 2 THEN boost ELSE 0 END)
                    % 65536) - 32768 AS v
            FROM aud,
                 LATERAL (SELECT UNNEST(range(250 + base % 193)) AS j) j),
    wins AS (SELECT out_id, j // 2 AS w, SUM(v*v) AS e
             FROM smp GROUP BY 1, 2),
    wl AS (SELECT out_id, w, e,
                  LEAD(e) OVER (PARTITION BY out_id ORDER BY w) AS e2
           FROM wins),
    afpw AS (SELECT out_id AS doc_id,
                    CAST(COUNT(*) AS INTEGER) AS n_windows,
                    CAST(COALESCE(SUM(CASE WHEN e2 > e AND w <= 61
                      THEN (CAST(1 AS BIGINT) << CAST(w AS INTEGER))
                      ELSE 0 END), 0) AS BIGINT) AS afp_lo,
                    CAST(COALESCE(SUM(CASE WHEN e2 > e
                          AND w BETWEEN 62 AND 123
                      THEN (CAST(1 AS BIGINT)
                            << CAST(w - 62 AS INTEGER))
                      ELSE 0 END), 0) AS BIGINT) AS afp_hi
             FROM wl GROUP BY 1)
"""


# ----------------------------------------------------------------------
# Wide-MIH video family (round 12): 124-bit per-frame fingerprints
# over >= 124-pixel frames (min_w=16, min_h=10), with planted
# "re-encoded copy" twins (doc_id % 13 == 0 -> id+10M, +333 on frame
# 0's (0,0) luma inside the modulo) — frames 1..n-1 stay
# byte-identical to the base clip, so every twin pair carries at
# least one guaranteed hamming-0 frame match. Position map: bit k
# samples flat luma index (k*101) % (w*h) — injective for k < w*h
# (101 is prime and never divides w*h here), so all 124 bits sample
# DISTINCT pixels.
# ----------------------------------------------------------------------

_VIDEO_FHASH_WIDE_CTES = """
    vdims AS (SELECT doc_id,
                     16 + (doc_id % 5) * 2 AS w,
                     10 + (doc_id % 3) * 2 AS h,
                     2 + doc_id % 4 AS n
              FROM documents),
    vtw AS (SELECT doc_id, w, h, n, doc_id AS base, 0 AS boost
            FROM vdims
            UNION ALL
            SELECT doc_id + 10000000, w, h, n, doc_id, 333
            FROM vdims WHERE doc_id % 13 = 0),
    vfr AS (SELECT doc_id, base, boost, w, h, CAST(f.f AS BIGINT) AS f
            FROM vtw, LATERAL (SELECT UNNEST(range(n)) AS f) f),
    vsums AS (SELECT fr.doc_id, fr.f,
                     ANY_VALUE(fr.base) AS base,
                     ANY_VALUE(fr.boost) AS boost,
                     ANY_VALUE(fr.w) AS w, ANY_VALUE(fr.h) AS h,
                     SUM((fr.base*31 + fr.f*97 + y.y*13 + x.x*7
                          + CASE WHEN fr.f = 0 AND y.y = 0 AND x.x = 0
                                 THEN fr.boost ELSE 0 END) % 256)
                       AS s
              FROM vfr fr,
                   LATERAL (SELECT UNNEST(range(h)) AS y) y,
                   LATERAL (SELECT UNNEST(range(w)) AS x) x
              GROUP BY 1, 2),
    vlum AS (SELECT doc_id, f, w, h, s, k.k AS k,
                    (base*31 + f*97
                     + (((k.k*101) % (w*h)) // w)*13
                     + (((k.k*101) % (w*h)) % w)*7
                     + CASE WHEN f = 0 AND ((k.k*101) % (w*h)) = 0
                            THEN boost ELSE 0 END) % 256 AS lum
             FROM vsums,
                  LATERAL (SELECT UNNEST(range(124)) AS k) k),
    vbits AS (SELECT doc_id, f,
                     CAST(SUM(CASE WHEN lum * w * h > s AND k < 62
                       THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS fhash_lo,
                     CAST(SUM(CASE WHEN lum * w * h > s AND k >= 62
                       THEN (CAST(1 AS BIGINT)
                             << CAST(k - 62 AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS fhash_hi
              FROM vlum GROUP BY 1, 2)
"""


# ----------------------------------------------------------------------
# The 18 perceptual entries: modality (image, video, audio) x width
# (narrow: one 63-bit word, 16-bit MIH bands; wide: two 62-bit words,
# 31-bit bands) x consumer (the hash itself, all near-dup pairs, the
# store x batch incremental probe). Each family record holds what
# varies; one oracle generator and one builder factory cover the rest.
# The oracles brute-force every pair — an EXACT twin of the banded
# join, whose recall is 1 by pigeonhole.
# ----------------------------------------------------------------------


def _twins(payload, boost: str, **kw):
    """Corpus of every document's clip plus a planted "re-encoded
    copy" twin (+333 on ``boost``, id + 10M) for doc_id % 13 == 0."""

    def corpus(d):
        return payload(d, **kw).unionByName(
            payload(
                d.filter(F.col("doc_id") % 13 == 0),
                **{boost: 333},
                id_offset=10_000_000,
                **kw,
            )
        )

    return corpus


class _PerceptualFamily(NamedTuple):
    ctes: str  # oracle CTE chain replaying the hash kernel ...
    table: str  # ... into this per-hash table
    hash_meta: str  # the hash entry's columns between doc_id and the words
    hash_cols: tuple  # hash words: one (narrow) or two (wide)
    hash_op: str  # perceptual.<kernel>
    corpus: Callable  # documents -> payload rows
    # store/batch: True = one hash pass (localCheckpoint), ids < 10M vs
    # the planted twins; False = doc_id % 10 < 8 vs >= 8, filtered BEFORE
    # the hash (mapInPandas is a pushdown barrier: filtering its output
    # would hash the full corpus on both branches)
    twin_split: bool
    min_matches: int | None  # frame vote threshold; None = hamming pairs


_IMAGE_META = "CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height"
_FRAME_META = "CAST(f AS INTEGER) AS frame_idx"
_PERCEPTUAL = {
    ("image", "narrow"): _PerceptualFamily(
        _PHASH_BITS_CTES, "bits", _IMAGE_META, ("phash",),
        "image_phash", _gray_images, False, None,
    ),
    ("image", "wide"): _PerceptualFamily(
        _PHASH_WIDE_BITS_CTES, "wbits", _IMAGE_META,
        ("phash_lo", "phash_hi"), "image_phash_wide", _gray_images,
        False, None,
    ),
    ("video", "narrow"): _PerceptualFamily(
        _VIDEO_FHASH_CTES, "fbits", _FRAME_META, ("fhash",),
        "video_frame_hashes", _MM.with_video_payload, False, 2,
    ),
    ("video", "wide"): _PerceptualFamily(
        _VIDEO_FHASH_WIDE_CTES, "vbits", _FRAME_META,
        ("fhash_lo", "fhash_hi"), "video_frame_hash_wide",
        _twins(_MM.with_video_payload, "pixel_boost", min_w=16, min_h=10),
        True, 1,
    ),
    ("audio", "narrow"): _PerceptualFamily(
        _AUDIO_FP_CTES, "afp", "n_windows", ("afp",),
        "audio_fingerprint", _twins(_MM.with_audio_payload, "phase_boost"),
        True, None,
    ),
    ("audio", "wide"): _PerceptualFamily(
        _AUDIO_FP_WIDE_CTES, "afpw", "n_windows", ("afp_lo", "afp_hi"),
        "audio_fingerprint_wide",
        _twins(_MM.with_audio_payload, "phase_boost", min_samples=250),
        True, None,
    ),
}


def _perceptual_oracle(fam: _PerceptualFamily, consumer: str) -> str:
    t = fam.table
    if consumer == "hash":
        return f"""
    WITH {fam.ctes}
    SELECT doc_id, {fam.hash_meta}, {", ".join(fam.hash_cols)}
    FROM {t}
    """
    if consumer == "incremental":
        a, b, out_a, out_b = "s", "b", "store_id", "batch_id"
        on = (
            "s.doc_id < 10000000 AND b.doc_id >= 10000000"
            if fam.twin_split
            else "s.doc_id % 10 < 8 AND b.doc_id % 10 >= 8"
        )
    else:
        a, b, on = "a", "b", "a.doc_id < b.doc_id"
        out_a, out_b = (
            ("doc_a", "doc_b") if fam.min_matches is None
            else ("video_a", "video_b")
        )
    ham = " + ".join(
        f"bit_count(xor({a}.{c}, {b}.{c}))" for c in fam.hash_cols
    )
    if fam.min_matches is None:
        out, tail = f"CAST({ham} AS INTEGER) AS hamming", ""
    else:
        out = "CAST(COUNT(*) AS BIGINT) AS n_matched"
        tail = f"GROUP BY 1, 2 HAVING COUNT(*) >= {fam.min_matches}"
    return f"""
    WITH {fam.ctes}
    SELECT {a}.doc_id AS {out_a}, {b}.doc_id AS {out_b}, {out}
    FROM {t} {a} JOIN {t} {b}
      ON {on} AND {ham} <= 3
    {tail}
    """


# (wide, frame vote) -> near-dup operator, formatted with the consumer
_NEARDUP_OPS = {
    (False, False): "phash_neardup_{}",
    (False, True): "video_neardup_{}",
    (True, False): "wide_hamming_neardup_{}",
    (True, True): "video_neardup_{}_wide",
}


def _perceptual_builder(fam: _PerceptualFamily, consumer: str):
    def build(spark, sf_dir):
        from pyspark_scd_spark.operators import perceptual

        d = _t(spark, sf_dir, "documents")
        hashed = getattr(perceptual, fam.hash_op)
        if consumer == "hash":
            return hashed(fam.corpus(d))
        wide = len(fam.hash_cols) == 2
        vote = fam.min_matches is not None
        op = getattr(perceptual, _NEARDUP_OPS[wide, vote].format(consumer))
        kw = (
            dict(zip(("lo_col", "hi_col"), fam.hash_cols)) if wide
            else {"hash_col": fam.hash_cols[0]}
        )
        if vote:
            kw["min_matches"] = fam.min_matches
        if consumer == "pairs":
            return op(hashed(fam.corpus(d)), **kw)
        if fam.twin_split:
            h = hashed(fam.corpus(d)).localCheckpoint(eager=False)
            return op(
                h.filter(F.col("doc_id") < 10_000_000),
                h.filter(F.col("doc_id") >= 10_000_000),
                **kw,
            )
        return op(
            hashed(fam.corpus(d.filter(F.col("doc_id") % 10 < 8))),
            hashed(fam.corpus(d.filter(F.col("doc_id") % 10 >= 8))),
            **kw,
        )

    return build


# (name, modality, width, consumer, doc)
for _name, _modality, _width, _consumer, _doc in (
    ("image_phash", "image", "narrow", "hash",
     "Perceptual image hash (operators/perceptual.py image_phash): "
     "synthesize real grayscale PNGs (vendored encoder, all five "
     "scanline filters), decode them back, integer 2-D DCT via two "
     "int64 GEMMs against a fixed-point cosine table, threshold the "
     "63 low-frequency coefficients at their rank-32 value, pack into "
     "bits 0..62. Every step is exact integer arithmetic; the oracle "
     "replays it term-for-term with the cosine table as literals — a "
     "hash match proves the PNG decode AND the DCT bit for bit. The "
     "Arrow stage is two small GEMMs per image, no per-pixel Python."),
    ("image_phash_neardup", "image", "narrow", "pairs",
     "Near-dup image pairs at Hamming distance <= 3 over the "
     "64-bit pHash (operators/perceptual.py phash_neardup_pairs): "
     "multi-index hashing (Norouzi et al., CVPR 2012) — four disjoint "
     "16-bit substrings, a pair within distance 3 < 4 bands agrees "
     "exactly on at least one substring by PIGEONHOLE, so the band "
     "equi-join has recall 1 deterministically (contrast MinHash's "
     "probabilistic band curve; no corpus-specific margin needed) and "
     "bit_count(xor) verifies candidates exactly. The oracle brute- "
     "forces all pairs. The plan's one shuffle exchange is the pinned "
     "REPARTITION_BY_NUM on phash that builds the hash-partitioned "
     "(id, phash) cache, which every later join reads co-partitioned; "
     "at sf0.01 the (band_no, band_val) band join, both expansion "
     "joins and the equal-hash self-join are broadcast — the "
     "image-dedup twin of dedup_minhash_lsh."),
    ("image_phash_incremental", "image", "narrow", "incremental",
     "Daily-ingest image near-dup (operators/perceptual.py "
     "phash_neardup_incremental): candidates ONLY between the new "
     "batch (doc_id % 10 >= 8) and the standing store — the "
     "O(batch)/day lifecycle shape of minhash_lsh_pairs_incremental "
     "applied to the pHash index. The store's banded table is a pure "
     "projection of the persisted (id, phash) store; each day costs "
     "one band equi-join, never a history re-scan. Pigeonhole recall "
     "1 at hamming <= 3 over 4 bands, exact bit_count verify; the "
     "oracle brute-forces the store x batch cross product."),
    ("image_phash_wide", "image", "wide", "hash",
     "124-bit perceptual image hash (operators/perceptual.py "
     "image_phash_wide): the image_phash derivation over the WIDER "
     "8x16 low-frequency DCT block — CT8 @ P @ CT16^T, DC dropped, "
     "row-major coefficients 1..124 thresholded at their rank-62 "
     "value, bits 0..61 in phash_lo and 62..123 in phash_hi. Exact "
     "int64 arithmetic end to end (max |coef| < 2^43); the oracle "
     "replays both GEMMs with the cosine tables as integer literals, "
     "so a hash match proves the PNG decode and both DCT passes bit "
     "for bit."),
    ("image_phash_neardup_wide", "image", "wide", "pairs",
     "Near-dup image pairs over the 124-bit wide pHash "
     "(operators/perceptual.py wide_hamming_neardup_pairs): 4 MIH "
     "bands of 31 BITS over distinct (lo, hi) words — pigeonhole "
     "recall 1 at hamming <= 3, band buckets drawn from a 2^31 value "
     "space, moving the 64-bit family's n²/2^16 candidate floor "
     "(SCALING.md round 11) to n²/2^31. Oracle brute-forces all "
     "pairs, so banded recall is checked, not assumed — the image "
     "leg of the wide-MIH triple (audio r11, video r12)."),
    ("image_phash_incremental_wide", "image", "wide", "incremental",
     "Daily-ingest image near-dup over the 124-bit wide pHash "
     "(operators/perceptual.py wide_hamming_neardup_incremental): "
     "candidates ONLY between the new batch (doc_id % 10 >= 8) and "
     "the standing store, with the wide-MIH candidate stage — r13 "
     "closing VERDICT r12 item 5: at 10M+ distinct store hashes the "
     "narrow incremental probe inherits the n²/2^16 band floor the "
     "batch forms escaped; 4 bands of 31 bits move it to n²/2^31. "
     "Store-side banded table is a pure projection of the persisted "
     "(id, lo, hi) store; pigeonhole recall 1 at hamming <= 3, exact "
     "two-word bit_count verify. Oracle brute-forces store x batch."),
    ("video_phash_frames", "video", "narrow", "hash",
     "Per-frame 63-bit luma fingerprint over REAL Y4M streams "
     "(operators/perceptual.py video_frame_hashes): decode the "
     "vendored YUV4MPEG2 container, and for each frame set bit k iff "
     "the luma sample at (k % h, (k*7) % w) exceeds the frame mean — "
     "compared exactly as lum*(w*h) > sum(luma), no division, so the "
     "hash is bit-identical across engines. The oracle replays the "
     "deterministic plane signal pixel-for-pixel: a hash match proves "
     "the container parse, plane split, and fingerprint arithmetic. "
     "Pure Arrow map, one video in / n_frames rows out."),
    ("video_phash_neardup", "video", "narrow", "pairs",
     "Near-duplicate video pairs by frame voting (operators/"
     "perceptual.py video_neardup_pairs): a frame match is Hamming "
     "(fhash_a, fhash_b) <= 3 over the 63-bit per-frame luma "
     "fingerprint; a video pair qualifies with >= 2 matched frame "
     "combinations — the standard no-temporal-alignment shape for "
     "re-encoded-clip dedup. Scale architecture is the image family's "
     "distinct-hash collapse: the multi-index band join (pigeonhole "
     "recall 1) runs over DISTINCT frame hashes, video pairs come "
     "from expansion joins plus one hash-keyed self-join for "
     "equal-hash frames (AQE skew-split). The oracle brute-forces all "
     "cross-video frame combinations."),
    ("video_phash_incremental", "video", "narrow", "incremental",
     "Daily-ingest video near-dup (operators/perceptual.py "
     "video_neardup_incremental): frame-vote pairs ONLY between the "
     "new batch (doc_id % 10 >= 8) and the standing store — the "
     "O(batch)/day lifecycle shape of the image family lifted to "
     "frame voting. Distinct-hash collapse on both sides; equal "
     "hashes band-match trivially so hamming-0 needs no separate "
     "branch. The oracle brute-forces the store x batch frame cross "
     "product."),
    ("video_frame_hash_wide", "video", "wide", "hash",
     "Per-frame 124-bit luma fingerprint over REAL Y4M streams "
     "(operators/perceptual.py video_frame_hash_wide): bit k set iff "
     "the luma sample at flat index (k*101) % (w*h) exceeds the frame "
     "mean — compared exactly as lum*(w*h) > sum(luma), no division, "
     "bit-identical across engines; bits 0..61 in fhash_lo, 62..123 "
     "in fhash_hi. The >= 124-pixel frame precondition is ENFORCED in "
     "the operator (smaller frames would alias sample positions and "
     "re-correlate MIH bands). Corpus: >= 160-pixel frames with "
     "planted re-encode twins (doc_id%13==0, +333 on frame 0 pixel "
     "(0,0), id+10M). Pure Arrow map, one video in / n_frames rows "
     "out; oracle replays the plane signal pixel-for-pixel."),
    ("video_phash_neardup_wide", "video", "wide", "pairs",
     "Near-duplicate video pairs by frame voting over the 124-bit "
     "wide fingerprint (operators/perceptual.py "
     "video_neardup_pairs_wide): a frame match is total Hamming <= 3 "
     "over the two packed words; min_matches=1 because the planted "
     "twin corpus guarantees every (base, base+10M) pair >= 1 "
     "hamming-0 frame match (frames 1..n-1 byte-identical). Candidate "
     "stage is 4 MIH bands of 31 BITS over DISTINCT frame-hash words "
     "(pigeonhole recall 1 at hamming <= 3), so band buckets draw "
     "from a 2^31 value space — the n²/2^16 candidate floor that was "
     "72% of the narrow family's x300 wall (SCALING.md round 11) "
     "moves to n²/2^31. Oracle brute-forces all cross-video frame "
     "combinations — banded recall is checked, not assumed."),
    ("video_phash_incremental_wide", "video", "wide", "incremental",
     "Daily-ingest video near-dup over the 124-bit wide frame "
     "fingerprint (operators/perceptual.py "
     "video_neardup_incremental_wide): store = the original clips "
     "(ids < 10M), batch = today's re-encodes (planted twins, ids "
     ">= 10M; frames 1..n-1 byte-identical so every twin pair "
     "carries >= 1 hamming-0 frame match — min_matches=1 as in the "
     "batch wide form). The daily probe is one 31-bit band equi-join "
     "of batch frame hashes against the persisted store index — r13 "
     "closing VERDICT r12 item 5: the narrow incremental's 2^16 "
     "band space goes quadratic past ~10^6 distinct store frame "
     "hashes; 2^31 buckets stay ~empty. One hash pass feeds both "
     "sides; frame votes aggregate the two expansion joins. Oracle "
     "brute-forces all store x batch frame combinations."),
    ("audio_fingerprint", "audio", "narrow", "hash",
     "63-bit audio fingerprint over REAL WAV payloads (operators/"
     "perceptual.py audio_fingerprint): decode the vendored RIFF/PCM "
     "container, 4-sample window energies, bit k = energy[k+1] > "
     "energy[k] — the Haitsma-Kalker energy-transition derivation, "
     "all int64 so the oracle replays samples, energies, and packed "
     "bits exactly. Corpus includes planted re-encode twins "
     "(doc_id%13==0, +333 phase on 2 samples, id+10M). Pure Arrow "
     "map; a hash match proves the WAV parse AND the fingerprint "
     "arithmetic."),
    ("audio_fingerprint_neardup", "audio", "narrow", "pairs",
     "Near-duplicate audio pairs at hamming <= 3 over the 63-bit "
     "energy-transition fingerprint — same distinct-hash multi-index "
     "band machinery as the image family (phash_neardup_pairs is "
     "hash-generic: pigeonhole recall 1, exact bit_count verify, "
     "hamming-0 clique self-join). The planted twins are found at "
     "hamming <= 1 by construction; the oracle brute-forces all "
     "pairs."),
    ("audio_fingerprint_incremental", "audio", "narrow", "incremental",
     "Daily-ingest audio near-dup: the hash-generic "
     "phash_neardup_incremental applied to the 63-bit energy-"
     "transition fingerprint. Store = the original corpus (ids < "
     "10M), batch = today's re-encoded uploads (the planted twins, "
     "ids >= 10M) — so every twin is guaranteed to pair with its "
     "base at hamming <= 1 across the store/batch boundary, plus "
     "natural transition-pattern collisions. O(batch)/day: the "
     "store's banded table is a pure projection of the persisted "
     "(id, afp) store. Oracle brute-forces store x batch."),
    ("audio_fingerprint_wide", "audio", "wide", "hash",
     "124-bit audio fingerprint (operators/perceptual.py "
     "audio_fingerprint_wide): the energy-transition derivation at "
     "window=2 over >= 250-sample clips, transitions 0..61 in afp_lo "
     "and 62..123 in afp_hi — the MIH scale path the round-11 decade "
     "study named (SCALING.md): 31-bit bands draw from a 2^31 value "
     "space, so the candidate floor that caps the 63-bit family at "
     "~10^6 distinct hashes moves out to billions. The >= 125-window "
     "precondition is ENFORCED in the operator (shorter clips would "
     "leave afp_hi zero — a hot zero-bucket, the exact concentration "
     "pathology this family avoids). Oracle replays samples, window "
     "energies, and both packed words exactly."),
    ("audio_fingerprint_neardup_wide", "audio", "wide", "pairs",
     "Audio near-dup over the 124-bit fingerprint "
     "(operators/perceptual.py wide_hamming_neardup_pairs): the "
     "phash_neardup_pairs architecture — distinct-hash collapse, band "
     "candidates, exact verify, expansion joins, hamming-0 self-join "
     "— with 4 MIH bands of 31 bits (pigeonhole recall 1 at "
     "hamming <= 3 over two 62-bit words). Corpus: >= 250-sample "
     "clips with planted re-encode twins (doc_id%13==0, +333 phase, "
     "id+10M; window-0 energy shifts, so hamming <= 1). Oracle "
     "brute-forces all pairs — recall of the banded join is checked, "
     "not assumed. Scale: band buckets hold n/2^31 hashes, so the "
     "round-11-measured n^2/2^16 candidate floor of the 63-bit "
     "family does not apply until ~10^9 distinct fingerprints."),
    ("audio_fingerprint_incremental_wide", "audio", "wide", "incremental",
     "Daily-ingest audio near-dup over the 124-bit fingerprint "
     "(operators/perceptual.py wide_hamming_neardup_incremental): "
     "store = the original corpus (ids < 10M), batch = today's "
     "re-encoded uploads (planted twins, ids >= 10M) — the narrow "
     "audio incremental's lifecycle with the wide-MIH candidate "
     "stage (r13, VERDICT r12 item 5): 31-bit band buckets keep the "
     "daily probe off the n²/2^16 floor as the standing store grows "
     "past ~10^6 distinct fingerprints. One fingerprint pass feeds "
     "both sides (localCheckpoint), each day costs one band "
     "equi-join against the persisted store index. Oracle "
     "brute-forces store x batch."),
):
    _fam = _PERCEPTUAL[_modality, _width]
    register(_name, _perceptual_oracle(_fam, _consumer), doc=_doc)(
        _perceptual_builder(_fam, _consumer)
    )


# ----------------------------------------------------------------------
# Deterministic HyperLogLog (operators/sketches.py): mergeable
# cardinality sketch whose ENTIRE register table — not just the
# estimate — is hash-checked cross-engine (60-bit md5 hash + the
# or-shift bit-smear rank, both exact int64 in Spark and DuckDB).
# ----------------------------------------------------------------------

def _hll_lineitem_cte(p: int) -> str:
    """DuckDB CTE chain replaying sketches.hll_registers over
    lineitem.l_orderkey at 2^p buckets: 60-bit md5 prefix, bucket =
    h % 2^p, rank of the remaining (60-p) bits via the or-shift
    bit-smear — exact int64 ops both engines evaluate identically."""
    m = 1 << p
    return f"""
    hv AS (SELECT CAST(CAST(('0x' || substring(md5(CAST(l_orderkey
                  AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
           FROM lineitem),
    w0 AS (SELECT h % {m} AS bucket, h >> {p} AS w FROM hv),
    s1 AS (SELECT bucket, w | (w >> 1) AS w FROM w0),
    s2 AS (SELECT bucket, w | (w >> 2) AS w FROM s1),
    s4 AS (SELECT bucket, w | (w >> 4) AS w FROM s2),
    s8 AS (SELECT bucket, w | (w >> 8) AS w FROM s4),
    s16 AS (SELECT bucket, w | (w >> 16) AS w FROM s8),
    s32 AS (SELECT bucket, w | (w >> 32) AS w FROM s16),
    regs AS (SELECT bucket,
                    CAST(MAX({60 - p + 1} - bit_count(w)) AS INTEGER)
                      AS register
             FROM s32 GROUP BY 1)
"""


_HLL_REG_CTES = _hll_lineitem_cte(10)


@register(
    "hll_registers",
    f"""
    WITH {_HLL_REG_CTES}
    SELECT bucket, register FROM regs
    """,
    doc="HyperLogLog register table over lineitem.l_orderkey "
    "(operators/sketches.py hll_registers, p=10): 60-bit md5 hash, "
    "bucket = h % 1024, rank of the remaining 50 bits via the "
    "or-shift bit-smear (rank = 51 - bit_count(smeared w)) — exact "
    "int64 ops both engines evaluate identically, so all 1024 "
    "registers hash-check, proving the hash routing, the rank "
    "derivation, AND the max-merge. Plan: one map-side-combined "
    "groupBy; shuffle bounded by m rows per partition at any scale "
    "- the mergeability that makes COUNT(DISTINCT) affordable at "
    "100 TB.",
)
def q_hll_registers(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    return sketches.hll_registers(li, F.col("l_orderkey"), p=10)


@register(
    "hll_cardinality_report",
    f"""
    WITH {_hll_lineitem_cte(8)},
    rep AS (SELECT CAST(COUNT(*) AS BIGINT) AS observed_buckets,
                   SUM(POWER(2.0, -register)) AS hs
            FROM regs),
    est AS (SELECT CAST(256 AS BIGINT) AS m,
                   observed_buckets,
                   CAST(256 - observed_buckets AS BIGINT)
                     AS zero_buckets,
                   ROUND(hs + (256 - observed_buckets), 6)
                     AS harmonic_sum,
                   ROUND(((0.7213 / (1.0 + 1.079 / 256)) * 256)
                         * 256 / (hs + (256 - observed_buckets)), 2)
                     AS hll_estimate
            FROM rep),
    ex AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                    AS exact_distinct FROM lineitem)
    SELECT est.*, ex.exact_distinct,
           ROUND(ABS(est.hll_estimate - ex.exact_distinct)
                 / ex.exact_distinct, 4) AS rel_error,
           est.hll_estimate <= 2.5 * 256 AS small_range_unreliable
    FROM est, ex
    """,
    doc="HLL cardinality report (operators/sketches.py hll_distinct, "
    "p=8, raw-regime estimator): alpha_m*m^2 / (sum 2^-reg + "
    "zero_buckets), exact COUNT(DISTINCT) carried beside the sketch "
    "as a self-auditing accuracy column. The linear-counting branch "
    "is deliberately absent (ln() is libm-dependent and would break "
    "bit-parity), and the small_range_unreliable guard column "
    "(estimate <= 2.5*m) makes that regime contract "
    "machine-checkable: the oracle recomputes the flag, and p=8 is "
    "chosen so the entry sits in the raw regime at EVERY shipped SF "
    "(sf0.001's 1473 distinct orderkeys vs threshold 2.5*256=640; "
    "p=10's threshold 2560 would trip there — asserted across all "
    "three SFs in tests/test_sketches.py). The harmonic sum is "
    "dyadic (2^-k terms), so cross-engine float agreement survives "
    "ROUND(6).",
)
def q_hll_cardinality_report(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    return sketches.hll_distinct(li, F.col("l_orderkey"), p=8)


_HLL_GROUPED_CTES = """
    hv AS (SELECT l_returnflag,
                  CAST(CAST(('0x' || substring(md5(CAST(l_orderkey
                  AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
           FROM lineitem),
    w0 AS (SELECT l_returnflag, h % 256 AS bucket, h >> 8 AS w FROM hv),
    s1 AS (SELECT l_returnflag, bucket, w | (w >> 1) AS w FROM w0),
    s2 AS (SELECT l_returnflag, bucket, w | (w >> 2) AS w FROM s1),
    s4 AS (SELECT l_returnflag, bucket, w | (w >> 4) AS w FROM s2),
    s8 AS (SELECT l_returnflag, bucket, w | (w >> 8) AS w FROM s4),
    s16 AS (SELECT l_returnflag, bucket, w | (w >> 16) AS w FROM s8),
    s32 AS (SELECT l_returnflag, bucket, w | (w >> 32) AS w FROM s16),
    regs AS (SELECT l_returnflag, bucket,
                    CAST(MAX(53 - bit_count(w)) AS INTEGER) AS register
             FROM s32 GROUP BY 1, 2),
    rep AS (SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS observed_buckets,
                   SUM(POWER(2.0, -register)) AS hs
            FROM regs GROUP BY 1),
    est AS (SELECT l_returnflag,
                   CAST(256 AS BIGINT) AS m,
                   observed_buckets,
                   CAST(256 - observed_buckets AS BIGINT)
                     AS zero_buckets,
                   ROUND(hs + (256 - observed_buckets), 6)
                     AS harmonic_sum,
                   ROUND(((0.7213 / (1.0 + 1.079 / 256)) * 256)
                         * 256 / (hs + (256 - observed_buckets)), 2)
                     AS hll_estimate
            FROM rep),
    ex AS (SELECT l_returnflag,
                  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                    AS exact_distinct
           FROM lineitem GROUP BY 1)
"""


@register(
    "hll_cardinality_by_group",
    f"""
    WITH {_HLL_GROUPED_CTES}
    SELECT est.*, ex.exact_distinct,
           ROUND(ABS(est.hll_estimate - ex.exact_distinct)
                 / ex.exact_distinct, 4) AS rel_error,
           est.hll_estimate <= 2.5 * 256 AS small_range_unreliable
    FROM est JOIN ex USING (l_returnflag)
    """,
    doc="PER-KEY HLL cardinality (operators/sketches.py "
    "hll_distinct_grouped, p=8): distinct l_orderkey per "
    "l_returnflag — the grouped companion of hll_cardinality_report, "
    "completing the sketch family's grouped symmetry with "
    "quantile_sketch_by_group. The register pipeline is one "
    "map-side-combined (key, bucket) exchange with per-key state of "
    "2^p registers REGARDLESS of group size; the exact "
    "COUNT(DISTINCT) audit column is the documented expensive "
    "baseline (its shuffle carries every distinct (key, value) pair "
    "— the two-phase shape agg_hotkey_distinct ships). The "
    "small_range_unreliable guard applies per key (smallest group "
    "at sf0.001: 1081 distincts vs threshold 640 — measured before "
    "choosing p, same discipline as the global entry).",
)
def q_hll_cardinality_by_group(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    return sketches.hll_distinct_grouped(
        li, ["l_returnflag"], F.col("l_orderkey"), p=8
    )


def _hll_reg_sql(name: str, where: str, p: int = 6) -> str:
    """CTE chain text for one side's HLL registers (bucket, register)
    over lineitem.l_orderkey rows matching ``where`` — the DuckDB
    replay of sketches.hll_registers at 2^p buckets, smear chain
    generated instead of hand-written."""
    m = 1 << p
    parts = [
        f"h{name} AS (SELECT CAST(CAST(('0x' || substring(md5(CAST("
        f"l_orderkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h"
        f" FROM lineitem WHERE {where})",
        f"w{name}0 AS (SELECT h % {m} AS bucket, h >> {p} AS w"
        f" FROM h{name})",
    ]
    prev = f"w{name}0"
    for i, k in enumerate((1, 2, 4, 8, 16, 32), start=1):
        parts.append(
            f"w{name}{i} AS (SELECT bucket, w | (w >> {k}) AS w"
            f" FROM {prev})"
        )
        prev = f"w{name}{i}"
    parts.append(
        f"r{name} AS (SELECT bucket, CAST(MAX({60 - p + 1} - "
        f"bit_count(w)) AS INTEGER) AS register FROM {prev}"
        f" GROUP BY 1)"
    )
    return ",\n    ".join(parts)


_HLL_EST64 = (
    "((0.7213 / (1.0 + 1.079 / 64)) * 64) * 64"
    " / (SUM(POWER(2.0, -register)) + (64 - COUNT(*)))"
)


@register(
    "hll_set_cardinality",
    f"""
    WITH {_hll_reg_sql("a", "l_shipdate < TIMESTAMP '1996-01-01'")},
    {_hll_reg_sql("b", "l_shipdate >= TIMESTAMP '1996-01-01'")},
    ru AS (SELECT bucket, MAX(register) AS register
           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
           GROUP BY 1),
    ea AS (SELECT {_HLL_EST64} AS e FROM ra),
    eb AS (SELECT {_HLL_EST64} AS e FROM rb),
    eu AS (SELECT {_HLL_EST64} AS e FROM ru),
    xa AS (SELECT DISTINCT l_orderkey FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1996-01-01'),
    xb AS (SELECT DISTINCT l_orderkey FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
    xi AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
           FROM xa JOIN xb USING (l_orderkey))
    SELECT ROUND(ea.e, 2) AS est_first_half,
           ROUND(eb.e, 2) AS est_second_half,
           ROUND(eu.e, 2) AS est_union,
           ROUND(ea.e + eb.e - eu.e, 2) AS est_intersection,
           xi.exact_intersection
    FROM ea, eb, eu, xi
    """,
    doc="HLL set-operation cardinality (operators/sketches.py "
    "hll_estimate_from_registers, p=6): orders shipping before vs "
    "from 1996, |A intersect B| estimated by inclusion-exclusion "
    "over MERGED registers (union sketch = one groupBy-max over two "
    "64-row tables) beside the exact intersection — the sketch "
    "pattern a join planner uses to size A-join-B without touching "
    "either side twice. Register replay + estimate arithmetic both "
    "hash-checked; raw-regime only (both sides >> 2.5m).",
)
def q_hll_set_cardinality(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    cut = "l_shipdate < TIMESTAMP '1996-01-01'"
    a = sketches.hll_registers(
        li.filter(F.expr(cut)), F.col("l_orderkey"), p=6
    ).localCheckpoint(eager=False)
    b = sketches.hll_registers(
        li.filter(~F.expr(cut)), F.col("l_orderkey"), p=6
    ).localCheckpoint(eager=False)
    u = (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )
    ea = sketches.hll_estimate_from_registers(a, 6, "__ea")
    eb = sketches.hll_estimate_from_registers(b, 6, "__eb")
    eu = sketches.hll_estimate_from_registers(u, 6, "__eu")
    xa = li.filter(F.expr(cut)).select("l_orderkey").distinct()
    xb = li.filter(~F.expr(cut)).select("l_orderkey").distinct()
    xi = (
        xa.join(xb, "l_orderkey", "semi")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(xi))
        .select(
            F.round("__ea", 2).alias("est_first_half"),
            F.round("__eb", 2).alias("est_second_half"),
            F.round("__eu", 2).alias("est_union"),
            F.round(
                F.col("__ea") + F.col("__eb") - F.col("__eu"), 2
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


@register(
    "quantile_sampled_report",
    """
    WITH s AS (
      SELECT l_extendedprice FROM lineitem
      WHERE CAST(CAST(('0x' || substring(md5(
              CAST(l_orderkey AS VARCHAR) || '-' ||
              CAST(l_linenumber AS VARCHAR) || '-' ||
              CAST(l_partkey AS VARCHAR) || '-' ||
              CAST(l_suppkey AS VARCHAR)), 1, 8)) AS UBIGINT)
            AS BIGINT) / 4294967296.0 < 0.1),
    samp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
                    ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_s,
                    ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_s,
                    ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_s
             FROM s),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_e,
                  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_e,
                  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_e
           FROM lineitem)
    SELECT n_total, n_sampled,
           p50_s AS p50_sample, p50_e AS p50_exact,
           ROUND(ABS(p50_s - p50_e), 4) AS p50_abs_err,
           p90_s AS p90_sample, p90_e AS p90_exact,
           ROUND(ABS(p90_s - p90_e), 4) AS p90_abs_err,
           p99_s AS p99_sample, p99_e AS p99_exact,
           ROUND(ABS(p99_s - p99_e), 4) AS p99_abs_err
    FROM samp, ex
    """,
    doc="Approximate quantiles by DETERMINISTIC sampling: a 10% "
    "md5-fraction sample (keyed on the 4-col row identity — the "
    "(l_orderkey, l_linenumber) non-uniqueness trap) feeds the same "
    "interpolated percentile as the exact twin, emitted side by side "
    "with absolute errors. Because membership is a pure hash "
    "predicate, the sample is reproducible across engines, runs, and "
    "cluster sizes (no TABLESAMPLE nondeterminism), so even the "
    "approximation is hash-checked exactly. 100 TB NOTE: this entry "
    "is the sampling AUDIT form — BOTH branches call Spark's exact "
    "percentile(), a value-buffering aggregate whose single "
    "aggregation state is a memory wall at scale even on the 10% "
    "sample. Production callers use quantile_sketch_report: its "
    "log-bucket histogram state is bounded (~7.3k buckets) and "
    "merges by count addition (mirroring the exact-branch language "
    "of operators/sketches.py hll_distinct).",
)
def q_quantile_sampled_report(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
    )
    frac = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        / F.lit(4294967296.0)
    )
    samp = li.filter(frac < 0.1).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_s"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_s"),
    )
    ex = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_e"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_e"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_e"),
    )
    return samp.crossJoin(F.broadcast(ex)).select(
        "n_total",
        "n_sampled",
        F.col("p50_s").alias("p50_sample"),
        F.col("p50_e").alias("p50_exact"),
        F.round(F.abs(F.col("p50_s") - F.col("p50_e")), 4).alias(
            "p50_abs_err"
        ),
        F.col("p90_s").alias("p90_sample"),
        F.col("p90_e").alias("p90_exact"),
        F.round(F.abs(F.col("p90_s") - F.col("p90_e")), 4).alias(
            "p90_abs_err"
        ),
        F.col("p99_s").alias("p99_sample"),
        F.col("p99_e").alias("p99_exact"),
        F.round(F.abs(F.col("p99_s") - F.col("p99_e")), 4).alias(
            "p99_abs_err"
        ),
    )


_QSKETCH_CTES = """
    v AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem),
    m1 AS (SELECT c, c | (c >> 1) AS s FROM v),
    m2 AS (SELECT c, s | (s >> 2) AS s FROM m1),
    m4 AS (SELECT c, s | (s >> 4) AS s FROM m2),
    m8 AS (SELECT c, s | (s >> 8) AS s FROM m4),
    m16 AS (SELECT c, s | (s >> 16) AS s FROM m8),
    m32 AS (SELECT c, s | (s >> 32) AS s FROM m16),
    bw AS (SELECT c, CAST(POWER(2.0,
                CASE WHEN bit_count(s) - 1 > 7
                     THEN bit_count(s) - 1 - 7 ELSE 0 END)
              AS BIGINT) AS w
           FROM m32),
    hist AS (SELECT c - (c % w) AS lo, c - (c % w) + w AS hi,
                    CAST(COUNT(*) AS BIGINT) AS cnt
             FROM bw GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets
            FROM hist),
    ch AS (SELECT lo, hi, cnt,
                  CAST(SUM(cnt) OVER (ORDER BY lo) AS BIGINT) AS cum
           FROM hist)
"""


def _qsketch_pick_sql(p: float, name: str) -> str:
    t = f"(1.0 + {p} * (n_total - 1))"
    return (
        f"ROUND(MAX(CASE WHEN (cum - cnt) < {t} AND {t} <= cum "
        f"THEN (lo + (hi - lo) * (({t} - (cum - cnt)) / cnt)) / 100.0 "
        f"END), 4) AS {name}"
    )


@register(
    "quantile_sketch_report",
    f"""
    WITH {_QSKETCH_CTES}
    SELECT n_total, n_buckets,
           {_qsketch_pick_sql(0.5, "p50_sketch")},
           {_qsketch_pick_sql(0.9, "p90_sketch")},
           {_qsketch_pick_sql(0.99, "p99_sketch")}
    FROM ch, tot
    GROUP BY n_total, n_buckets
    """,
    doc="MERGEABLE quantiles (operators/sketches.py quantile_sketch; "
    "VERDICT r10 item 2 — the 100 TB replacement for exact "
    "percentile()'s value-buffering single aggregation state): "
    "l_extendedprice is scaled to exact integer cents, bucketed into "
    "a deterministic HDR-style log histogram (top-8-bits buckets, "
    "relative width <= 2^-7 = 0.78%; floor(log2) via the HLL bit-"
    "smear, POWER(2,k) exact in doubles — no libm log whose last-ulp "
    "would flip boundaries between engines), and p50/p90/p99 are "
    "interpolated inside the answer bucket at percentile_cont's "
    "fractional rank. Histogram state is bounded (~7.3k buckets "
    "INDEPENDENT of input size) and merges by count addition, so "
    "the plan is one map-side-combinable exchange; the cumulative "
    "window runs over sketch rows, never data rows (pinned in "
    "tests/test_plans.py). The oracle replays bucketing AND "
    "interpolation from scratch, so the approximate answer itself "
    "hash-checks cross-engine — unlike approx_percentile's opaque "
    "digest. Accuracy vs the exact percentile is asserted <= 2^-7 "
    "relative in tests/test_sketches.py.",
)
def q_quantile_sketch_report(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return sketches.quantile_sketch(
        li,
        cents,
        {"p50_sketch": 0.5, "p90_sketch": 0.9, "p99_sketch": 0.99},
        sub_bits=7,
        scale=100.0,
    )


_QSKETCH_GROUPED_CTES = """
    v AS (SELECT l_returnflag,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem),
    m1 AS (SELECT l_returnflag, c, c | (c >> 1) AS s FROM v),
    m2 AS (SELECT l_returnflag, c, s | (s >> 2) AS s FROM m1),
    m4 AS (SELECT l_returnflag, c, s | (s >> 4) AS s FROM m2),
    m8 AS (SELECT l_returnflag, c, s | (s >> 8) AS s FROM m4),
    m16 AS (SELECT l_returnflag, c, s | (s >> 16) AS s FROM m8),
    m32 AS (SELECT l_returnflag, c, s | (s >> 32) AS s FROM m16),
    bw AS (SELECT l_returnflag, c, CAST(POWER(2.0,
                CASE WHEN bit_count(s) - 1 > 7
                     THEN bit_count(s) - 1 - 7 ELSE 0 END)
              AS BIGINT) AS w
           FROM m32),
    hist AS (SELECT l_returnflag, c - (c % w) AS lo,
                    c - (c % w) + w AS hi,
                    CAST(COUNT(*) AS BIGINT) AS cnt
             FROM bw GROUP BY 1, 2, 3),
    ch AS (SELECT l_returnflag, lo, hi, cnt,
                  CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
                                      ORDER BY lo) AS BIGINT) AS cum,
                  CAST(SUM(cnt) OVER (PARTITION BY l_returnflag)
                       AS BIGINT) AS n_total,
                  CAST(COUNT(*) OVER (PARTITION BY l_returnflag)
                       AS BIGINT) AS n_buckets
           FROM hist)
"""


@register(
    "quantile_sketch_by_group",
    f"""
    WITH {_QSKETCH_GROUPED_CTES}
    SELECT l_returnflag, n_total, n_buckets,
           {_qsketch_pick_sql(0.5, "p50_sketch")},
           {_qsketch_pick_sql(0.9, "p90_sketch")},
           {_qsketch_pick_sql(0.99, "p99_sketch")}
    FROM ch
    GROUP BY 1, 2, 3
    """,
    doc="PER-KEY mergeable quantiles (operators/sketches.py "
    "quantile_sketch_grouped): the grouped form a pipeline actually "
    "calls at 100 TB — per-source length percentiles, per-day "
    "latency bands — here p50/p90/p99 of l_extendedprice per "
    "l_returnflag. Same deterministic log-bucket histogram and "
    "interpolation as quantile_sketch_report, but the plan is "
    "strictly better: the one data exchange is the map-side-combined "
    "(key, bucket) groupBy and the cumulative/total windows "
    "PARTITION BY the key — no SinglePartition stage at all (plan "
    "test). Per-key state is bounded by the ~7.3k-bucket histogram, "
    "never the group's row count — exact percentile() per group "
    "would buffer the hot group's every value in one task, the "
    "agg_hotkey_distinct failure shape.",
)
def q_quantile_sketch_by_group(spark, sf_dir):
    from pyspark_scd_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return sketches.quantile_sketch_grouped(
        li,
        ["l_returnflag"],
        cents,
        {"p50_sketch": 0.5, "p90_sketch": 0.9, "p99_sketch": 0.99},
        sub_bits=7,
        scale=100.0,
    )
