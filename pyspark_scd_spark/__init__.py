"""pyspark_scd_spark — a PySpark-native analytics engine.

The reference pipeline's semantic surface (SCD change tracking over
snapshot drops; reference ``jobs/create_employee_all.py``) rebuilt as
a library of composable DataFrame transforms, plus the operators a
large-scale training-data pipeline needs. Everything takes and
returns plain DataFrames, so transforms chain with
``df.transform(...)`` and compose with arbitrary Spark code.

Quick start (the reference's whole job in four lines)::

    from pyspark_scd_spark import scd, read_csv_snapshots
    snaps, files = read_csv_snapshots(spark, "in/*.csv", schema)
    history = scd.scd_apply(snaps, key_cols=["employee_number"],
                            time_col="snapshot_date", hash_cols=attrs)
    current = scd.current_view(history, ["employee_number"],
                               "snapshot_date")

Operator families (see COVERAGE.md for the full query inventory):

- ``operators.scd`` — change tracking: snapshot dedup, row hashing,
  4-way status, corrected islands change dates, current view,
  incremental ``scd_merge`` (O(entities) per day), Type-2 intervals.
- ``operators.dedup`` — exact groups, n-gram Jaccard (count/PPJoin),
  MinHash LSH, SimHash, winnowed span overlap, connected components,
  survivor selection.
- ``operators.similarity`` — cosine top-k (grid / LSH / IVF tiers),
  k-means training, int8 + product quantization, IVF+PQ ADC search,
  kNN label audit, hard-negative mining.
- ``operators.corpus`` — decontamination, Gopher repetition filter,
  temperature mixing, weighted sampling (A-ES), chunking, BPE merge
  training + encoding, dataset card.
- ``operators.search`` — TF-IDF, inverted index, Okapi BM25,
  BM25+vector reciprocal-rank-fusion hybrid retrieval.
- ``operators.relational`` — dim joins, semi/anti, as-of, range join,
  rollup/cube, fuzzy blocking, basket lift.
- ``operators.quality`` — schema/grain gates, column profiler, FK
  audit, chi-square drift, schema diff.
- ``operators.timeseries`` / ``operators.sequence`` — gap-filled
  rollups, MAD outliers, EWMA, OLS trends; sessionization, funnels,
  Markov transitions, A/B readouts.
- ``operators.graph`` / ``operators.topk`` / ``operators.skew`` —
  PageRank, triangle counts; top-k forms; salted aggregation.
- ``streaming`` — watermarked sessions/dedup/joins, stateful SCD.
- ``sources`` — FAILFAST readers, two-phase staged writer, bucketed /
  Z-ordered layouts, a Python DataSource for snapshot drops.
"""

from __future__ import annotations

from pyspark_scd_spark.operators import (  # noqa: F401
    corpus,
    dedup,
    graph,
    multimodal,
    quality,
    relational,
    scd,
    search,
    sequence,
    similarity,
    skew,
    timeseries,
    topk,
)
from pyspark_scd_spark.session import get_spark  # noqa: F401
from pyspark_scd_spark.sources.readers import (  # noqa: F401
    read_csv_snapshots,
    read_parquet_table,
    register_testdata_views,
)
from pyspark_scd_spark.sources.writers import (  # noqa: F401
    write_bucketed_table,
    write_staged,
    write_zordered,
)

__all__ = [
    "corpus", "dedup", "graph", "multimodal", "quality", "relational",
    "scd", "search", "sequence", "similarity", "skew", "timeseries",
    "topk", "get_spark", "read_csv_snapshots", "read_parquet_table",
    "register_testdata_views", "write_bucketed_table", "write_staged",
    "write_zordered",
]
