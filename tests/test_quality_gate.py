"""The row-level quality gates checked during a staged write: the
metrics are observed while ``write_staged`` writes its staging copy and
``validate`` reads them before the swap."""

from __future__ import annotations

import functools
import os

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.operators.quality import (
    QualityError,
    observed_write_metrics,
    validate,
)
from pyspark_scd_spark.sources.writers import write_staged


def _frames(spark) -> dict:
    """(frame, keys) pairs covering every accept/reject case."""
    base = spark.range(0, 20).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("g"),
        F.lit("x").alias("v"),
    )
    null_k = base.withColumn(
        "k", F.when(F.col("k") == 7, None).otherwise(F.col("k"))
    )
    return {
        "clean": (base, ["k"]),
        "clean_composite": (base, ["g", "k"]),
        "duplicate": (base.unionByName(base.limit(1)), ["k"]),
        # ids i and i+15 share (i % 3, i % 5)
        "duplicate_composite": (base.withColumn("k", F.col("k") % 5), ["g", "k"]),
        "null_key": (null_k, ["k"]),
        "null_in_composite": (null_k, ["g", "k"]),
        "two_null_keys": (
            base.withColumn(
                "k", F.when(F.col("k") < 2, None).otherwise(F.col("k"))
            ),
            ["k"],
        ),
        "empty": (base.filter(F.lit(False)), ["k"]),
    }


def _rejects(fn) -> bool:
    try:
        fn()
    except QualityError:
        return True
    return False


def _gated_write(df, keys, path: str) -> str:
    observed, obs = observed_write_metrics(df, keys)
    return write_staged(
        observed, path, check=functools.partial(validate, df, keys, observed=obs)
    )


def _tree_bytes(root: str) -> dict:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_write_gate_matches_validate(spark, tmp_path):
    """On the same frames the write gate and a standalone ``validate``
    accept and reject identically, and both agree with the rule the
    gate has always enforced: reject when there are no rows, or when
    the row count differs from COUNT(DISTINCT keys) — which a NULL key
    or a duplicate key both cause."""
    for name, (df, keys) in _frames(spark).items():
        rows = df.collect()
        distinct = {
            tuple(r[k] for k in keys)
            for r in rows
            if all(r[k] is not None for k in keys)
        }
        expected = not rows or len(rows) != len(distinct)
        standalone = _rejects(lambda: validate(df, keys))
        in_write = _rejects(
            lambda: _gated_write(df, keys, str(tmp_path / name))
        )
        assert (standalone, in_write) == (expected, expected), name


@pytest.mark.parametrize(
    "name, message",
    [
        ("duplicate", "duplicate keys"),
        ("null_key", "NULL keys"),
        ("empty", "0 records"),
    ],
)
def test_write_gate_keeps_committed_output(spark, tmp_path, name, message):
    """A rejected write raises ``QualityError``, leaves the committed
    directory byte-identical and removes its staging copy."""
    frames = _frames(spark)
    path = str(tmp_path / "out")
    _gated_write(*frames["clean"], path)
    before = _tree_bytes(path)

    with pytest.raises(QualityError, match=message):
        _gated_write(*frames[name], path)

    assert _tree_bytes(path) == before
    assert not os.path.exists(f"{path}.__staging__")
    assert not os.path.exists(f"{path}.__old__")
    assert spark.read.parquet(path).count() == 20
