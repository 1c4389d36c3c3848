"""End-to-end training-corpus preparation job.

The LLM-pipeline twin of ``jobs/employee_dim.py``: where that job
rebuilds the reference's SCD outputs from snapshot drops, this one
turns a raw ``documents`` table into training-ready artifacts:

1. **clean** — ``clean_corpus`` (eval-holdout drop, quality gate,
   exact-dedup canonical pick, repetition gate, n-gram
   decontamination) in one declarative plan;
2. **chunk** — surviving docs cut into overlapping fixed token
   windows (``chunk_documents``);
3. **mix** — per-source temperature weights over the *surviving*
   corpus (``mix_weights``), written beside the chunks as the
   sampling manifest;
4. **write + validate** — two-phase staged writes (no partial output
   is ever visible, re-runs are safe) whose quality gates ride the
   write: the chunk grain (doc_id, chunk_id) and the manifest key are
   observed unique/non-NULL/non-empty while the staging copy is
   written, and checked before the swap.

Everything is one lineage per output; the only full-corpus shuffles
are the ones the operators already budget (repetition bigram counts,
canonical window) — cleaning, chunking, and writing all ride the
document scan.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import corpus
from pyspark_scd_spark.operators.quality import (
    observed_write_metrics,
    validate,
)
from pyspark_scd_spark.sources.writers import write_staged


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    eval_mod: int = 10,
    quality_threshold: float = 0.5,
    chunk_tokens: int = 16,
    stride: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """One corpus-prep run. Returns (chunks, mix) re-read from the
    committed outputs, so callers observe exactly what persisted."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    eval_pred = F.col("doc_id") % eval_mod == 0

    survivors = corpus.clean_corpus(
        docs,
        eval_pred=eval_pred,
        quality_threshold=quality_threshold,
        keep_cols=("source",),
    )
    # Chunk only surviving docs: semi-join the clean id set back onto
    # the text, then window it. The join is doc_id-keyed both sides.
    clean_docs = docs.join(
        survivors.select("doc_id"), "doc_id", "left_semi"
    )
    chunks = corpus.chunk_documents(
        clean_docs, chunk_tokens=chunk_tokens, stride=stride
    ).join(docs.select("doc_id", "source"), "doc_id")

    mix = corpus.mix_weights(clean_docs)

    # One staged write per output, with the row gates observed during
    # it (the same gate as jobs/employee_dim.py): each lineage runs
    # once, nothing is cached, and a bad output never replaces the
    # committed one.
    for df, name, keys, partition_by in (
        (chunks, "chunks", ["doc_id", "chunk_id"], ["source"]),
        (mix, "mix", ["source"], []),
    ):
        observed, obs = observed_write_metrics(df, keys)
        write_staged(
            observed,
            os.path.join(out_dir, name),
            partition_by=partition_by,
            check=functools.partial(validate, df, keys, observed=obs),
        )

    return (
        spark.read.parquet(os.path.join(out_dir, "chunks")),
        spark.read.parquet(os.path.join(out_dir, "mix")),
    )
