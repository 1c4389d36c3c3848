"""Registry-wide guards: every declared query must analyze cleanly and
every oracle key must have a builder."""

from __future__ import annotations

import os
import sys

import pytest

from pyspark_scd_spark.registry import REGISTRY

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
)
from check_oracle import _canon  # noqa: E402

# Entries whose oracle is generated from shared pieces in registry.py:
# the dense family (candidate source x consumer tail, the near-dup
# verify and the LSH bucket SQL) and the perceptual family (modality x
# width x consumer).
GENERATED_ORACLE_ENTRIES = [
    "embedding_neardup_pairs",
    "embedding_neardup_pairs_ann",
    "embedding_neardup_pairs_ann_auto",
    "embedding_neardup_pairs_ivf",
    "embedding_neardup_pairs_ivf_auto",
    "knn_label_vote",
    "knn_label_vote_ann",
    "knn_label_vote_ann_auto",
    "knn_label_vote_ivf",
    "knn_label_vote_ivf_auto",
    "hard_negative_mining",
    "hard_negative_mining_ann",
    "hard_negative_mining_ivf",
    "hard_negative_mining_ivf_auto",
    "dedup_semantic_clusters",
    "dedup_semantic_clusters_ivf",
    "ann_pair_recall_report",
    "embedding_neardup_pairs_ivf_trained",
    "embedding_neardup_incremental",
    "embedding_neardup_incremental_ivf",
    "embedding_neardup_incremental_ivf_auto",
    "stream_embedding_neardup",
    "sim_search_lsh",
    "sim_search_lsh_multiprobe",
    "image_phash",
    "image_phash_neardup",
    "image_phash_incremental",
    "image_phash_wide",
    "image_phash_neardup_wide",
    "image_phash_incremental_wide",
    "video_phash_frames",
    "video_phash_neardup",
    "video_phash_incremental",
    "video_frame_hash_wide",
    "video_phash_neardup_wide",
    "video_phash_incremental_wide",
    "audio_fingerprint",
    "audio_fingerprint_neardup",
    "audio_fingerprint_incremental",
    "audio_fingerprint_wide",
    "audio_fingerprint_neardup_wide",
    "audio_fingerprint_incremental_wide",
]


def test_every_query_analyzes(spark):
    """Building each query forces Catalyst analysis (schema access) —
    catches unresolved columns / bad expressions across the whole
    registry without executing any job. Iterative builders (the merge
    fold) do run small collects; everything else is plan-only."""
    for name, q in REGISTRY.items():
        df = q.builder(spark, "/root/testdata/sf0.001")
        assert df.schema.fields, name
        assert len(df.columns) == len(set(df.columns)), (
            name,
            "duplicate output column names break the oracle compare",
        )


def test_oracle_queries_have_docs():
    for name, q in REGISTRY.items():
        assert q.doc, f"{name} has no doc string"


def test_register_rejects_duplicate_keys():
    """A duplicate key must raise at registration time, not silently
    shadow the earlier builder (a shadowed q6_forecast_revenue shipped
    exactly that way once)."""
    import pytest

    from pyspark_scd_spark.registry import register

    existing = next(iter(REGISTRY))
    with pytest.raises(ValueError, match="duplicate registry key"):
        register(existing, None, doc="dup")(lambda spark, sf_dir: None)


def test_profile_columns_unit(spark):
    from pyspark_scd_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "bbb"), (2, "a")],
        ["x", "s"],
    )
    out = {
        (r["col_name"], r["metric"]): r["value"]
        for r in profile_columns(
            df, numeric_cols=["x"], string_cols=["s"]
        ).collect()
    }
    assert out[("*", "n_rows")] == 4.0
    assert out[("x", "n_nulls")] == 1.0
    assert out[("x", "n_distinct")] == 2.0
    assert out[("x", "min")] == 1.0 and out[("x", "max")] == 2.0
    assert out[("s", "n_nulls")] == 1.0
    assert out[("s", "avg_len")] == round((1 + 3 + 1) / 3, 6)


def test_fk_orphans_unit(spark):
    from pyspark_scd_spark.operators.quality import fk_orphans

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], ["id", "fk"]
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    got = fk_orphans(child, parent, ["fk"], ["pk"]).collect()
    # 99 is an orphan; NULL fk is excluded per SQL FK semantics
    assert [(r["id"], r["fk"]) for r in got] == [(3, 99)]


def test_basket_lift_symmetry(spark):
    from pyspark_scd_spark.operators.relational import basket_lift_pairs

    rows = [  # baskets: {1: a,b,c}, {2: a,b}, {3: a}, {4: b,c}
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"),
        (4, "b"), (4, "c"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {(r["item_a"], r["item_b"]): r
           for r in basket_lift_pairs(df, "basket", "item",
                                      min_pair_count=2).collect()}
    ab = out[("a", "b")]
    assert ab["pair_count"] == 2
    assert ab["support"] == 0.5            # 2 of 4 baskets
    assert abs(ab["confidence_a_to_b"] - 2 / 3) < 1e-6
    assert abs(ab["lift"] - (2 * 4) / (3 * 3)) < 1e-6
    bc = out[("b", "c")]
    assert bc["pair_count"] == 2 and abs(bc["lift"] - (2 * 4) / (3 * 2)) < 1e-6
    assert ("a", "c") not in out           # count 1 < min_pair_count


def test_category_drift_chisq_zero_cells(spark):
    from pyspark_scd_spark.operators.quality import category_drift_chisq

    rows = (
        [("s1", "en")] * 50 + [("s1", "fr")] * 50
        + [("s2", "en")] * 100          # s2 has ZERO fr rows
    )
    df = spark.createDataFrame(rows, ["source", "lang"])
    out = {r["source"]: r for r in
           category_drift_chisq(df, "source", "lang").collect()}
    # margins: en=150 fr=50 N=200. s2: exp en=75 fr=25,
    # chi2 = 25^2/75 + 25^2/25 = 8.3333 + 25 = 33.3333; with two
    # groups the deviations mirror, so s1 carries the same statistic.
    assert out["s2"]["dof"] == 1
    assert abs(out["s2"]["chi_square"] - 33.3333) < 1e-3
    assert abs(out["s1"]["chi_square"] - 33.3333) < 1e-3


def test_schema_diff(spark):
    from pyspark.sql import functions as F

    from pyspark_scd_spark.operators.quality import schema_diff

    a = spark.createDataFrame([(1, "x", 1.0)], "id int, name string, v double")
    b = spark.createDataFrame(
        [(1, "x", 2)], "id int, name string, v int"
    ).withColumn("extra", F.lit(1))
    out = {r["column"]: r for r in schema_diff(a, b).collect()}
    assert out["v"]["change"] == "type_changed"
    assert out["v"]["before"] == "double" and out["v"]["after"] == "int"
    assert out["extra"]["change"] == "added"
    assert "id" not in out and "name" not in out
    # symmetric: removed from the other direction
    back = {r["column"]: r for r in schema_diff(b, a).collect()}
    assert back["extra"]["change"] == "removed"


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from pyspark_scd_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", GENERATED_ORACLE_ENTRIES)
def test_dense_oracle_matches_builder(spark, sf_dir, duck, name):
    """The Spark builder and its DuckDB oracle return the same rows
    (compared as tools/check_oracle.py does)."""
    q = REGISTRY[name]
    sdf = q.builder(spark, sf_dir)
    s_cols, s_rows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    rel = duck.sql(q.oracle)
    d_cols, d_rows = _canon(list(rel.columns), rel.fetchall())
    assert s_cols == d_cols
    assert s_rows, f"{name}: no rows, nothing compared"
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def _q21_tables(root) -> str:
    """Tiny lineitem / orders / supplier parquet on q21's edges: NULL
    ship dates (a line's own, and another supplier's only ones), a NULL
    l_suppkey, a NULL l_returnflag, a NULL order key on both sides, a
    status-F order listed twice, a non-F order, and a supplier missing
    from the supplier table."""
    import datetime as dt

    import pyarrow as pa

    def d(day):
        return dt.datetime(1995, 1, day)

    lineitem = [  # l_orderkey, l_suppkey, l_returnflag, l_shipdate
        (1, 1, "N", d(5)), (1, 2, "A", None), (1, 3, "R", d(3)),
        (2, 1, "N", d(1)), (2, 2, "N", None), (2, 2, None, None),
        (3, 1, "R", d(7)), (3, None, "R", d(9)), (3, 2, "N", d(7)),
        (4, 1, "N", d(2)), (4, None, "N", d(3)),
        (5, 1, "N", d(1)), (5, 2, "N", d(2)),
        (6, 1, "N", d(4)), (6, 2, "R", d(2)),
        (7, 1, "N", d(1)), (7, 4, "N", d(2)),
        (None, 1, "N", d(1)), (None, 2, "N", d(2)),
    ]
    orders = [(1, "F"), (2, "F"), (3, "F"), (4, "F"), (5, "O"), (6, "F"),
              (6, "F"), (7, "F"), (None, "F")]
    supplier = [(1, "Supplier#1"), (2, "Supplier#2"), (3, "Supplier#3")]
    tables = {
        "lineitem": (lineitem, [("l_orderkey", pa.int64()), ("l_suppkey", pa.int64()),
                                ("l_returnflag", pa.string()),
                                ("l_shipdate", pa.timestamp("us"))]),
        "orders": (orders, [("o_orderkey", pa.int64()), ("o_orderstatus", pa.string())]),
        "supplier": (supplier, [("s_suppkey", pa.int64()), ("s_name", pa.string())]),
    }
    return _write_tables(root, tables)


def _write_tables(root, tables) -> str:
    """Write ``{name: (rows, [(field, arrow type), ...])}`` as
    ``root/<name>.parquet``; returns ``root`` as an sf_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, (rows, fields) in tables.items():
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({f: pa.array(c, t) for (f, t), c in zip(fields, cols)}),
            f"{root}/{name}.parquet",
        )
    return str(root)


def _assert_matches_oracle(spark, name, sf_dir):
    """The builder's rows on ``sf_dir`` equal its DuckDB oracle's,
    compared as tools/check_oracle.py does."""
    import duckdb

    q = REGISTRY[name]
    sdf = q.builder(spark, sf_dir)
    s_cols, s_rows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{f}'")
    rel = con.sql(q.oracle)
    d_cols, d_rows = _canon(list(rel.columns), rel.fetchall())
    con.close()
    assert s_rows, f"{name}: no rows, nothing compared"
    assert (s_cols, s_rows) == (d_cols, d_rows)


@pytest.mark.parametrize("name", ["q21_last_shipper", "q21_waiting_supplier"])
def test_q21_null_edges_match_oracle(spark, tmp_path, name):
    """Both q21 builders return their DuckDB oracle's rows where NULLs
    decide EXISTS / NOT EXISTS: a NULL ship date blocks nothing, a NULL
    supplier is no other supplier, a NULL return flag is no R."""
    _assert_matches_oracle(spark, name, _q21_tables(tmp_path))


@pytest.mark.parametrize("excluded", [True, False], ids=["excluded", "none_excluded"])
def test_q16_null_supplier_matches_oracle(spark, tmp_path, excluded):
    """q16's NOT IN on a NULL l_suppkey: the line drops out while the
    excluded-supplier set is non-empty, and stays (counting no
    supplier) when it is empty."""
    import pyarrow as pa

    lineitem = [(1, None), (2, 1), (2, 2)]  # l_partkey, l_suppkey
    part = [(1, "Brand#2", "A"), (2, "Brand#3", "B")]
    supplier = [(1, 100.0), (2, -5.0 if excluded else 5.0)]
    sf_dir = _write_tables(tmp_path, {
        "lineitem": (lineitem, [("l_partkey", pa.int64()), ("l_suppkey", pa.int64())]),
        "part": (part, [("p_partkey", pa.int64()), ("p_brand", pa.string()),
                        ("p_type", pa.string())]),
        "supplier": (supplier, [("s_suppkey", pa.int64()), ("s_acctbal", pa.float64())]),
    })
    _assert_matches_oracle(spark, "q16_notin_distinct", sf_dir)
