"""Corpus-level training-data operators: decontamination, repetition
quality filters, and temperature-weighted source mixing.

These are the pipeline stages between "documents exist" and "documents
are a training mix": remove eval-set leakage (n-gram overlap), drop
degenerate repetitive documents (Gopher-style repetition signals), and
compute per-source sampling weights/rates so the final mix follows
n_tokens^alpha temperature sampling instead of raw corpus proportions.

The reference engine has no corpus operators (its surface is the SCD
pipeline, reference jobs/create_employee_all.py); these extend the
BASELINE.json north star (LLM data pipeline at 100 TB).

Scale notes (100 TB design point):
- Decontamination joins the corpus against the *eval* gram set, which
  is tiny (benchmarks are MBs, corpora are TBs) — the eval set is
  aggregated and broadcast, so the corpus side never shuffles; grams
  are xxhash64 longs, never strings, on the wire.
- Repetition stats shuffle only (doc_id, gram) partial counts with
  map-side combine; no arrays cross a shuffle.
- Mixing weights aggregate to one row per source (dozens), then
  broadcast back — the document scan is the only full pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window, functions as F

from pyspark_scd_spark.functions import text as TXT
from pyspark_scd_spark.operators.quality import observed_aggregates


def _word_ngrams(toks: Column, n: int) -> Column:
    """All n-word grams (NOT distinct — callers needing counts keep
    duplicates; wrap in array_distinct for set semantics). Arrays
    shorter than n yield an EMPTY array (the word_shingles
    descending-sequence guard)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.slice(toks, 1, 0))


def decontaminate_report(
    df: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Train/eval n-gram-overlap decontamination report.

    Rows ``eval_pred`` selects form the held-out eval set; every other
    row is training corpus. A training document is contaminated when it
    shares at least one word n-gram with any eval document (the
    GPT-3/PaLM 13-gram rule, scaled to this corpus's ~30-token docs).

    Returns one row per contaminated training doc:
    (id, n_overlap_grams, n_eval_docs_hit).

    Plan shape: eval grams aggregate to a distinct set (small — eval
    benchmarks don't grow with corpus size) and BROADCAST to the train
    side; the corpus-sized train relation never shuffles. Grams are
    hashed to 64-bit longs at explode so the broadcast table and join
    keys are fixed-width, not strings.
    """
    # Bind the token array to a real column BEFORE the gram lambda and
    # hash AFTER the explode: inlining tokens(text) into the n-gram
    # transform makes Catalyst re-evaluate split+filter per element_at
    # (O(len·n) per gram), and nesting xxhash64 inside a second
    # transform re-inlines the whole gram array per element. Same fix
    # as dedup._shingles (measured here: 20.9s -> ~1s at sf0.1).
    toks_df = df.select(
        F.col(id_col),
        eval_pred.alias("__is_eval"),
        TXT.tokens(text_col).alias("__toks"),
    )
    grams = toks_df.select(
        F.col(id_col),
        "__is_eval",
        F.explode(TXT.word_shingles(F.col("__toks"), n)).alias("__gs"),
    ).select(id_col, "__is_eval", F.xxhash64("__gs").alias("__g"))
    eval_grams = (
        grams.filter("__is_eval")
        .groupBy("__g")
        .agg(F.collect_set(id_col).alias("__eval_ids"))
    )
    train = grams.filter(~F.col("__is_eval"))
    hits = train.join(F.broadcast(eval_grams), "__g")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_overlap_grams"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("__eval_ids")))
            ).alias("n_eval_docs_hit"),
        )
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals.

    Per document: token count, duplicate-token fraction
    (1 − distinct/total), the occurrence count of the most frequent
    bigram, the fraction of tokens covered by that bigram's
    occurrences, and a ``repetitive`` flag at the Gopher-ish
    thresholds (dup_token_frac > 0.60, or a bigram that actually
    repeats AND covers > 0.18 of the tokens — the count > 1 guard
    keeps short documents, where any single bigram clears the
    coverage bar, from false-flagging).

    Bigram counting explodes to rows and aggregates (map-side combine)
    rather than nesting higher-order functions over a bound token
    array — Catalyst's CollapseProject re-inlines the array into each
    lambda, going quadratic per document. The token array is BOUND to
    a named column before the n-gram transform for the same reason
    (the decontaminate_report fix): passing the raw split+filter
    expression into the lambda re-evaluates it per element_at —
    O(len) work per bigram, O(len²) per document. r6 count()-based
    timing HID this (the final join's count pruned the heavy
    branches); honest noop timing exposed 5k docs costing 6.6s,
    the binding brings it back to sub-second.
    """
    toks_df = df.select(
        F.col(id_col), TXT.tokens(text_col).alias("__toks")
    )
    base = toks_df.select(
        F.col(id_col),
        F.size("__toks").alias("n_tok"),
        F.size(F.array_distinct("__toks")).alias("n_distinct"),
    )
    bigrams = toks_df.select(
        F.col(id_col),
        F.explode(_word_ngrams(F.col("__toks"), 2)).alias("__g"),
    )
    top = (
        bigrams.groupBy(id_col, "__g")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").cast("long").alias("top_bigram_count"))
    )
    j = base.join(top, id_col, "left").select(
        id_col,
        "n_tok",
        F.round(
            F.when(
                F.col("n_tok") > 0,
                1.0 - F.col("n_distinct") / F.col("n_tok"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_token_frac"),
        F.coalesce("top_bigram_count", F.lit(0).cast("long")).alias(
            "top_bigram_count"
        ),
    )
    top_frac = F.round(
        F.when(
            F.col("n_tok") > 0,
            F.col("top_bigram_count") * 2.0 / F.col("n_tok"),
        ).otherwise(F.lit(0.0)),
        4,
    )
    return j.withColumn("top_bigram_frac", top_frac).withColumn(
        "repetitive",
        (F.col("dup_token_frac") > 0.60)
        | (
            (F.col("top_bigram_count") > 1)
            & (F.col("top_bigram_frac") > 0.18)
        ),
    )


def mix_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-weighted corpus mixing table.

    Per source: document count, token count, the normalized sampling
    weight w_s ∝ n_tokens_s^alpha (alpha < 1 flattens the mix toward
    small sources — the multilingual-LM sampling rule), and the
    effective epochs each source is read under a budget of
    ``sum(n_tokens)`` output tokens (epochs_s = w_s · total / n_s).

    One full scan aggregates to |sources| rows; the normalizing sum is
    a broadcast cross-join of a 1-row aggregate (never a
    single-partition window).
    """
    per_src = df.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(TXT.token_count(text_col)).cast("long").alias("n_tokens"),
    )
    raw = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    per_src = per_src.withColumn("__raw", raw)
    totals = per_src.agg(
        F.sum("__raw").alias("__sum_raw"),
        F.sum("n_tokens").alias("__total_tokens"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.round(F.col("__raw") / F.col("__sum_raw"), 6).alias("weight"),
            F.round(
                (F.col("__raw") / F.col("__sum_raw"))
                * F.col("__total_tokens")
                / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
    )


def temperature_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.7,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Deterministic temperature-sampled corpus downsample.

    Each source gets keep-rate r_s = min(1, w_s · B / n_tokens_s)
    where w_s is the ``mix_weights`` weight and B = budget_frac ·
    total tokens; a document survives iff its md5 32-bit fraction is
    below its source's rate — reproducible across runs, engines, and
    cluster sizes, and stable under corpus growth (a doc's fate
    depends only on its id and its source's rate).

    The per-source rate table is broadcast back onto the corpus scan:
    sampling is one full pass with zero corpus-side shuffles.
    """
    # rate = min(1, weight * B / n_tokens_s) with B = budget_frac *
    # total_tokens; since epochs = weight * total / n_tokens, this is
    # exactly min(1, budget_frac * epochs).
    rates = mix_weights(df, source_col, text_col, alpha).select(
        source_col,
        F.round(
            F.least(F.lit(1.0), F.lit(budget_frac) * F.col("epochs")), 6
        ).alias("keep_rate"),
    )
    frac = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(frac < F.col("keep_rate"))
        .select(id_col, source_col, "keep_rate")
    )


def epoch_materialize(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.7,
    budget_frac: float = 1.5,
) -> DataFrame:
    """Materialize the temperature mix as ACTUAL training rows —
    the upsampling half of the mix pipeline (``temperature_sample``
    only downsamples). Each source's target epochs
    e_s = budget_frac · epochs_s may exceed 1: every doc gets
    floor(e_s) full copies plus one more iff its md5 fraction falls
    below frac(e_s) — so a source scheduled at 2.3 epochs emits each
    doc 2 or 3 times, deterministically, with exactly ~2.3× its
    tokens in expectation.

    Returns (id, source, copy_id ≥ 1) exploded rows. The per-source
    epoch table is broadcast onto the scan; the explode is a flatMap —
    zero corpus shuffles, reproducible on any cluster size.
    """
    epochs = mix_weights(df, source_col, text_col, alpha).select(
        source_col,
        F.round(F.lit(budget_frac) * F.col("epochs"), 6).alias("__e"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        / F.lit(4294967296.0)
    )
    n = F.floor("__e").cast("int") + F.when(
        u < (F.col("__e") - F.floor("__e")), 1
    ).otherwise(0)
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard
    # n=0 docs with an explicit empty array so they emit no copies.
    copies = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        df.join(F.broadcast(epochs), source_col)
        .select(
            F.col(id_col),
            F.col(source_col),
            F.explode(copies).alias("copy_id"),
        )
    )


def epoch_shuffle_shards(
    df: DataFrame,
    n_shards: int = 8,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch shuffle: a reproducible pseudo-random
    permutation of the corpus, materialized as (shard, position) —
    what a training loader consumes per epoch. Different ``epoch``
    values give independent permutations; the same epoch always gives
    the same order on any cluster size.

    shard = md5(epoch:id) mod n_shards; position = rank of a second
    md5 within the shard. One exchange on shard, then each shard
    sorts locally — the global permutation is never globally sorted
    (shard-major order IS the epoch order, matching sharded loaders).
    """
    from pyspark.sql import Window as W

    tag = F.concat(
        F.lit(f"{int(epoch)}:"), F.col(id_col).cast("string")
    )
    h = F.conv(F.substring(F.md5(tag), 1, 15), 16, 10).cast("long")
    shard = F.pmod(h, F.lit(int(n_shards))).cast("int")
    order_key = F.conv(F.substring(F.md5(tag), 16, 15), 16, 10).cast(
        "long"
    )
    wp = W.partitionBy("shard").orderBy(
        F.col("__ord").asc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(id_col), shard.alias("shard"), order_key.alias("__ord")
        )
        .withColumn(
            "position", (F.row_number().over(wp) - 1).cast("long")
        )
        .select(id_col, "shard", "position")
    )


def _aes_weight_and_key(
    id_col: str, text_col: str, weight_col: Column | None
) -> tuple[Column, Column]:
    """The shared A-ES machinery of both weighted samplers: weight
    (token count unless overridden, floored at 1) and the 9dp-rounded
    key −ln(u)/w with u = (md5_32 + 0.5)/2³² ∈ (0,1). The DuckDB
    oracles mirror these constants exactly — change them HERE only."""
    w = (
        F.greatest(TXT.token_count(text_col).cast("double"), F.lit(1.0))
        if weight_col is None
        else weight_col.cast("double")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return w, F.round(-F.log(u) / w, 9)


def weighted_sample_topk(
    df: DataFrame,
    k: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_col: Column | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES, determinized): each row draws a uniform
    u from the md5 32-bit fraction of its id, gets key = −ln(u)/w, and
    the k smallest keys form the sample. Inclusion probability is
    proportional to weight, no two-pass normalization, no global rate
    table — the distributed form of weighted reservoir sampling.

    Default weight = token count (the LLM-mix case: sample documents
    proportional to the training tokens they contribute); pass any
    positive column expression to override.

    Scale shape: the key is a pure map over the scan and the top-k is
    TakeOrderedAndProject (per-partition heap of k, merge on the
    driver) — no sort, no shuffle of the corpus, identical sample on
    any cluster size. The key is rounded to 9 dp (ties break on id) so
    ranking is reproducible across engines; the only libm call is ln,
    whose last-ulp jitter vanishes at 9 dp.
    """
    w, key = _aes_weight_and_key(id_col, text_col, weight_col)
    return (
        df.select(
            F.col(id_col),
            w.cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame,
    k: int = 50,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_col: Column | None = None,
) -> DataFrame:
    """Stratified A-ES: ``weighted_sample_topk`` within each group —
    k docs per source, inclusion probability ∝ weight inside the
    stratum. The mix-building primitive for per-source quotas.

    Same key construction as the global form; the top-k per group is
    a rank window co-partitioned on the group (WindowGroupLimit keeps
    k per group map-side), so the shuffle moves ≤ groups·k rows after
    the limit pushdown.
    """
    from pyspark.sql import Window as W

    w, key = _aes_weight_and_key(id_col, text_col, weight_col)
    wr = W.partitionBy(group_col).orderBy(
        F.col("sample_key").asc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(group_col),
            F.col(id_col),
            w.cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select(group_col, id_col, "weight", "sample_key")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 16,
    stride: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-window token chunking with overlap — the standard
    pretraining prep step that turns variable-length documents into
    training-window-sized pieces (stride < chunk_tokens gives
    overlapping context across chunk boundaries).

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens); the
    number of chunks is 1 for docs that fit one window, else
    ceil((n − chunk)/stride) + 1 so the final window reaches the last
    token. Returns (id, chunk_id, chunk_text, n_tokens).

    Pure array expressions (sequence → slice → concat_ws) in one
    codegen stage, then a single explode: no shuffle at all — chunking
    is a flatMap over the scan, so it scales with input bytes
    regardless of cluster size. The token array is BOUND to a named
    column before the chunk lambda (the decontaminate_report /
    repetition_stats fix): the lambda slices it twice per chunk, and
    an unbound split+filter expression would re-run per slice —
    O(len²/stride) per document.
    """
    df = df.select(
        F.col(id_col), TXT.tokens(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = (
        F.when(n <= chunk_tokens, F.lit(1).cast("long"))
        .otherwise(
            F.ceil((n - F.lit(chunk_tokens)) / float(stride)).cast("long")
            + 1
        )
    )
    chunk_structs = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(toks, (i * stride + 1).cast("int"), chunk_tokens)
            ).alias("chunk_text"),
            F.size(
                F.slice(toks, (i * stride + 1).cast("int"), chunk_tokens)
            ).alias("n_tokens"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunk_structs).alias("__c")
    ).select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_text").alias("chunk_text"),
        F.col("__c.n_tokens").alias("n_tokens"),
    )


def clean_corpus(
    df: DataFrame,
    eval_pred: Column,
    quality_threshold: float = 0.5,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """The composed clean-training-corpus pipeline: one DataFrame that
    applies, in order, the standard pretraining filters —

    1. drop eval-set rows (they are held out, not trained on);
    2. quality gate: composite quality score ≥ threshold;
    3. exact dedup: keep only each fingerprint group's canonical
       (minimum-id) document;
    4. repetition gate: drop Gopher-flagged repetitive docs;
    5. decontamination: drop training docs sharing a word n-gram with
       any eval doc.

    Returns surviving (id, *keep_cols, n_tok, quality).

    Composition stays declarative, so Catalyst sees ONE plan: the
    quality/fingerprint scalars ride the initial scan, the canonical
    pick is a window over the fingerprint hash, and the two drop
    lists (repetitive, contaminated) are doc-id anti-joins — the
    contaminated list is tiny (it is bounded by eval-overlap) and
    broadcasts.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        eval_pred.alias("__is_eval"),
        TXT.token_count(text_col).alias("n_tok"),
        F.round(TXT.quality_score(text_col), 4).alias("quality"),
        TXT.fingerprint(text_col).alias("__fp"),
    )
    base = base.withColumn(
        "__canonical", F.min(id_col).over(W.partitionBy("__fp"))
    )
    repetitive = (
        repetition_stats(df, id_col=id_col, text_col=text_col)
        .filter("repetitive")
        .select(id_col)
    )
    contaminated = decontaminate_report(
        df, eval_pred, id_col=id_col, text_col=text_col, n=n
    ).select(id_col)
    return (
        base.filter(~F.col("__is_eval"))
        .filter(F.col("quality") >= quality_threshold)
        .filter(F.col(id_col) == F.col("__canonical"))
        .join(repetitive, id_col, "left_anti")
        .join(F.broadcast(contaminated), id_col, "left_anti")
        .select(id_col, *keep_cols, "n_tok", "quality")
    )


def bpe_train_merges(
    df: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\x1f",
) -> tuple[DataFrame, DataFrame]:
    """Iterative BPE merge training — the actual training loop, not
    just the first pair count: each round finds the corpus-wide most
    frequent adjacent token pair (ties: freq DESC, pair ASC), merges
    every non-overlapping occurrence greedily left-to-right (the
    standard BPE rule — in a run like ``a a a`` only the first pair
    merges), and recounts on the merged corpus.

    Returns ``(merge_table, tokens)``: the merge table is the trained
    artifact — one row per step ``(step, token_a, token_b, pair_freq,
    tokens_after)`` where ``tokens_after`` is the corpus token count
    after applying that merge (proof the merge was applied, not just
    chosen); ``tokens`` is the final exploded (doc_id, pos, tok)
    corpus state. Merged tokens join with ``sep`` (0x1f — outside the
    tokenizer alphabet, so merges never collide with raw tokens).

    Scale shape: the corpus lives EXPLODED as (doc_id, pos, tok) rows
    across the cluster; per round the pair count is a map-side-combined
    groupBy (only distinct pairs shuffle), the winning pair is one
    driver row (like k-means' k x d centroid state), and the merge
    apply is windows co-partitioned on doc_id. ``localCheckpoint``
    truncates lineage each round. One-merge-per-pass keeps each round
    exactly replayable by a second engine (the oracle unrolls rounds
    as CTE chains), but sequential rounds make 10k+ vocabularies
    unusable — at vocab scale use ``bpe_train_merges_batched`` (many
    merges per corpus pass) or train on a bounded sample with this
    exact trainer (the sample-then-train contract: merge quality
    converges long before the full corpus is counted).

    Overlap resolution is pure SQL: candidate positions (tok=A,
    next=B) form runs of consecutive positions; greedy keeps every
    other candidate from each run's start (runs only exceed length 1
    when A=B).
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    toks = df.select(
        F.col(id_col).alias("doc_id"), TXT.tokens(text_col).alias("t")
    ).filter(F.size("t") > 0)
    rows = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    rows = rows.localCheckpoint()

    wdoc = W.partitionBy("doc_id").orderBy("pos")
    merges = []
    for step in range(1, n_merges + 1):
        p = rows.withColumn("nxt", F.lead("tok").over(wdoc))
        tops = (
            p.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(
                F.col("freq").desc(), F.col("tok").asc(), F.col("nxt").asc()
            )
            .limit(1)
            .collect()
        )
        if not tops:  # no adjacent pairs left (e.g. all 1-token docs)
            break
        top = tops[0]
        a, b, freq = top["tok"], top["nxt"], int(top["freq"])
        wc = W.partitionBy("doc_id", "cand").orderBy("pos")
        wg = W.partitionBy("doc_id", "grp")
        marked = (
            p.withColumn(
                "cand", (F.col("tok") == a) & (F.col("nxt") == b)
            )
            .withColumn(
                "grp",
                F.when(
                    F.col("cand"), F.col("pos") - F.row_number().over(wc)
                ),
            )
            .withColumn(
                "keep",
                F.col("cand")
                & ((F.col("pos") - F.min("pos").over(wg)) % 2 == 0),
            )
            .withColumn(
                "dropped",
                F.coalesce(F.lag("keep").over(wdoc), F.lit(False)),
            )
        )
        applied = marked.filter(~F.col("dropped")).select(
            "doc_id",
            F.col("pos").alias("opos"),
            F.when(
                F.col("keep"), F.concat_ws(sep, F.col("tok"), F.lit(b))
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        rows = applied.select(
            "doc_id",
            (
                F.row_number().over(
                    W.partitionBy("doc_id").orderBy("opos")
                )
                - 1
            ).cast("long").alias("pos"),
            "tok",
        ).localCheckpoint()
        merges.append((step, a, b, freq, rows.count()))

    merge_table = spark.createDataFrame(
        merges,
        schema="step int, token_a string, token_b string, "
        "pair_freq bigint, tokens_after bigint",
    )
    return merge_table, rows


def corpus_datacard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    short_doc_tokens: int = 20,
) -> DataFrame:
    """One-row dataset card — the summary block a training-data
    release ships: document/token volume, source and language
    diversity (Shannon entropy of the language mix), exact-duplicate
    rate (1 − distinct fingerprints / docs), and the short-document
    fraction.

    Three bounded aggregates (corpus-wide scalars, per-language
    counts, nothing else) joined by broadcast cross joins — the
    corpus is scanned once per aggregate with map-side combine, no
    data-proportional shuffle, and the result is a single row
    regardless of scale.
    """
    toks = TXT.token_count(text_col)
    base = df.select(
        F.col(id_col),
        toks.alias("__nt"),
        F.col(lang_col),
        F.col(source_col),
        TXT.fingerprint(text_col).alias("__fp"),
    )
    overall = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nt").cast("long").alias("total_tokens"),
        F.round(F.avg("__nt"), 4).alias("avg_tokens"),
        F.countDistinct(source_col).cast("long").alias("n_sources"),
        F.countDistinct(lang_col).cast("long").alias("n_langs"),
        F.countDistinct("__fp").cast("long").alias("__n_fp"),
        F.sum(
            F.when(F.col("__nt") < short_doc_tokens, 1).otherwise(0)
        ).cast("long").alias("__n_short"),
    )
    lang_counts = base.groupBy(lang_col).agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    entropy = (
        lang_counts.crossJoin(
            F.broadcast(overall.select("n_docs"))
        )
        .select(
            (
                -(F.col("__c") / F.col("n_docs"))
                * F.log(F.col("__c") / F.col("n_docs"))
            ).alias("__h")
        )
        .agg(F.round(F.sum("__h"), 6).alias("lang_entropy"))
    )
    return overall.crossJoin(F.broadcast(entropy)).select(
        "n_docs",
        "total_tokens",
        "avg_tokens",
        "n_sources",
        "n_langs",
        "lang_entropy",
        # try_divide: an empty corpus yields NULL rates instead of an
        # ANSI DIVIDE_BY_ZERO (the oracle never hits this — DuckDB
        # returns no groups — but library callers can).
        F.round(
            1.0 - F.try_divide(F.col("__n_fp"), F.col("n_docs")), 6
        ).alias("exact_dup_rate"),
        F.round(
            F.try_divide(F.col("__n_short"), F.col("n_docs")), 6
        ).alias("short_doc_frac"),
    )


def bpe_encode_checksum(
    df: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-then-encode BPE lifecycle: run ``bpe_train_merges``,
    assign dense token ids over the FINAL merged vocabulary (corpus
    frequency DESC, token ASC — the conventional BPE id order), and
    encode every document, emitting a per-doc verification row
    ``(doc_id, n_tokens, ids_checksum)`` with checksum =
    Σ (pos+1)·id — an exact integer that pins the whole id sequence
    (any id or position flip changes it).

    Scale shape: encoding joins the exploded corpus against the
    broadcast vocab-id table; the id assignment is the one global
    ordering in the pipeline and runs on the AGGREGATED vocab
    (|distinct tokens|, bounded by the tokenizer — ~30k here, never
    corpus-sized), which is the same single-pass any tokenizer
    trainer does. Checksums are integer sums — engine-exact.
    """
    from pyspark.sql import Window as W

    _, rows = bpe_train_merges(
        df, n_merges=n_merges, id_col=id_col, text_col=text_col
    )
    vocab = rows.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    wv = W.orderBy(F.col("__f").desc(), F.col("tok").asc())
    vocab_ids = vocab.select(
        "tok", (F.row_number().over(wv) - 1).cast("long").alias("__id")
    )
    return (
        rows.join(F.broadcast(vocab_ids), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("pos") + 1) * F.col("__id"))
            .cast("long")
            .alias("ids_checksum"),
        )
        .select(F.col("doc_id").alias(id_col), "n_tokens", "ids_checksum")
    )


def quality_calibrate_quantile(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    grid_points: int = 101,
) -> DataFrame:
    """Cross-source quantile calibration of the quality score —
    quantile mapping: a document's score is replaced by the POOLED
    corpus score at its within-source percentile, so a single global
    quality threshold cuts every source at the same relative depth
    (raw thresholds over-prune sources whose writing style scores
    systematically low — the classic multi-source curation bias).

    Scale shape: within-source percent_rank is one co-partitioned
    window; the pooled inverse-CDF is a ``grid_points``-point exact
    percentile grid computed in ONE aggregate and broadcast back —
    per-doc calibration is an array lookup, no global sort and no
    corpus-sized join. Ordering ties break on id so the mapping is
    engine-reproducible.
    """
    from pyspark.sql import Window as W

    # cached: the ranked window and the percentile-grid aggregate are
    # independent consumers — uncached, the tokenize+quality pass over
    # the corpus would run twice (same convention as dedup._shingles).
    # Lifetime contract: the cache lives until Spark's LRU evicts it;
    # long-lived sessions calling this repeatedly should
    # spark.catalog.clearCache() (or unpersist via df.storageLevel)
    # between calls — the library never unpersists a relation the
    # returned lazy plan still references.
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.round(TXT.quality_score(text_col), 4).alias("raw_score"),
    ).cache()
    w = W.partitionBy(source_col).orderBy(
        F.col("raw_score").asc(), F.col(id_col).asc()
    )
    ranked = base.withColumn(
        "src_pr", F.round(F.percent_rank().over(w), 9)
    )
    probs = ", ".join(
        repr(i / (grid_points - 1)) for i in range(grid_points)
    )
    grid = base.agg(
        F.expr(f"percentile(raw_score, array({probs}))").alias("__grid")
    )
    idx = (
        F.floor(F.col("src_pr") * (grid_points - 1)).cast("int") + 1
    )
    return ranked.crossJoin(F.broadcast(grid)).select(
        id_col,
        source_col,
        "raw_score",
        "src_pr",
        F.round(F.element_at("__grid", idx), 4).alias(
            "calibrated_score"
        ),
    )


def bpe_train_merges_batched(
    df: DataFrame,
    rounds: int = 4,
    batch_size: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\x1f",
) -> tuple[DataFrame, DataFrame]:
    """BPE training at realistic vocab scope: ``rounds`` corpus passes,
    each merging a BATCH of up to ``batch_size`` pairs — the shape that
    reaches 10k+ merges in bounded jobs, versus ``bpe_train_merges``'s
    one-pair-per-pass (exact but O(vocab) sequential jobs).

    Batch selection is DECLARATIVE so a second engine can replay it:
    rank the round's top ``batch_size`` pairs by (freq DESC, pair ASC);
    keep a pair iff it shares no token with ANY higher-ranked pair of
    the batch (kept or not — a NOT EXISTS, not a sequential matching).
    Kept pairs are therefore pairwise token-disjoint, which makes the
    simultaneous apply EXACT: no position can be claimed by two kept
    pairs (it would need a shared token), adjacent candidates are
    always the same A=A run pair, and the per-run greedy keep works
    unchanged. The approximation relative to strict sequential BPE is
    only that ranks 2..m use the PRE-round counts — the standard
    batched-BPE trade (counts shift by at most the higher merges'
    overlap), not a correctness bug; each round's batch IS exact for
    its pre-round corpus.

    Driver state per round: ``batch_size`` pair rows (the k-means
    centroid pattern) — never corpus data. ``tokens_after`` in the
    merge table is the post-ROUND token count (shared by the round's
    merges). Returns ``(merge_table, tokens)`` like the sequential
    trainer; ``step`` numbers merges globally in (round, freq DESC,
    pair ASC) order.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    toks = df.select(
        F.col(id_col).alias("doc_id"), TXT.tokens(text_col).alias("t")
    ).filter(F.size("t") > 0)
    rows = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    # cache + eager count, NOT localCheckpoint (r13): each round's
    # token table is consumed by two chains (the top-pair aggregate
    # and the merge apply), and the apply's windows are all keyed on
    # doc_id — InMemoryTableScan PRESERVES the previous round's
    # hashpartitioning(doc_id) output partitioning, so every round
    # after the first runs its window stack without re-exchanging
    # the corpus (a localCheckpoint's Scan ExistingRDD reports no
    # partitioning — the near-dup probe, commit ba7aef8). The eager
    # count forecloses the AQE lazy-cache race; the previous round's
    # blocks are unpersisted once the new round materializes, so
    # pinned storage stays ~2 copies.
    rows = rows.cache()
    rows.count()
    prev_rows = rows

    wdoc = W.partitionBy("doc_id").orderBy("pos")
    merges: list = []
    step = 0
    for _rnd in range(rounds):
        p = rows.withColumn("nxt", F.lead("tok").over(wdoc))
        top = (
            p.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(
                F.col("freq").desc(), F.col("tok").asc(), F.col("nxt").asc()
            )
            .limit(batch_size)
            .collect()
        )
        if not top:
            break
        kept: list = []
        used: set = set()
        for r in top:
            a, b = r["tok"], r["nxt"]
            if a not in used and b not in used:
                kept.append((a, b, int(r["freq"])))
            used.add(a)
            used.add(b)
        cand = None
        for a, b, _f in kept:
            this = (F.col("tok") == a) & (F.col("nxt") == b)
            cand = this if cand is None else (cand | this)
        wc = W.partitionBy("doc_id", "cand").orderBy("pos")
        wg = W.partitionBy("doc_id", "grp")
        marked = (
            p.withColumn("cand", cand)
            .withColumn(
                "grp",
                F.when(
                    F.col("cand"), F.col("pos") - F.row_number().over(wc)
                ),
            )
            .withColumn(
                "keep",
                F.col("cand")
                & ((F.col("pos") - F.min("pos").over(wg)) % 2 == 0),
            )
            .withColumn(
                "dropped",
                F.coalesce(F.lag("keep").over(wdoc), F.lit(False)),
            )
        )
        applied = marked.filter(~F.col("dropped")).select(
            "doc_id",
            F.col("pos").alias("opos"),
            F.when(
                F.col("keep"),
                F.concat_ws(sep, F.col("tok"), F.col("nxt")),
            )
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
        rows = applied.select(
            "doc_id",
            (
                F.row_number().over(
                    W.partitionBy("doc_id").orderBy("opos")
                )
                - 1
            ).cast("long").alias("pos"),
            "tok",
        ).cache()
        n_after = rows.count()
        prev_rows.unpersist(False)
        prev_rows = rows
        for a, b, freq in kept:
            step += 1
            merges.append((step, a, b, freq, n_after))

    merge_table = spark.createDataFrame(
        merges,
        schema="step int, token_a string, token_b string, "
        "pair_freq bigint, tokens_after bigint",
    )
    return merge_table, rows


def dsir_importance_rank(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", simplified to
    exact unigram features): rank the RAW pool by the importance
    log-ratio of a target-domain unigram LM over the raw-pool LM,
    ln Π p_target(w)/p_raw(w), with add-``smoothing`` estimates over
    the joint vocabulary. The top of the ranking is the raw data
    that looks most like the target domain — the standard
    domain-adaptation selection pass before pretraining.

    ``target_pred`` marks the (small) target sample; every other row
    is the raw pool being selected from. Returns the top ``top_n``
    raw docs as (doc_id, n_tokens, log_ratio, rank), ranking on the
    4dp-rounded ratio with id tie-break so the cut is
    engine-reproducible.

    Scale shape: one tokenize pass; both LMs are ONE vocab-keyed
    aggregate (map-side combined; the conditional sums share the
    shuffle); the vocab table joins back token-keyed (broadcast while
    the vocab fits) with the totals as a broadcast scalar; per-doc
    scoring is a doc-keyed aggregate and the final cut a TopK — no
    corpus-wide sort.
    """
    toks = df.select(
        F.col(id_col),
        target_pred.alias("__is_target"),
        F.explode(TXT.tokens(text_col)).alias("token"),
    )
    v = toks.groupBy("token").agg(
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("__is_target"), 1).otherwise(0)).alias("cr"),
    )
    tot = v.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("vsz"),
    )
    a = float(smoothing)
    lr_term = F.log(
        (F.col("ct") + a) / (F.col("nt") + a * F.col("vsz"))
    ) - F.log((F.col("cr") + a) / (F.col("nr") + a * F.col("vsz")))
    scored = (
        toks.filter(~F.col("__is_target"))
        .join(v, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(lr_term), 4).alias("log_ratio"),
        )
    )
    from pyspark.sql import Window as W

    # TakeOrdered cut first (distributed, no global sort), THEN the
    # rank window over the <= top_n survivors — never a
    # single-partition window over the full scored pool.
    cut = scored.orderBy(
        F.col("log_ratio").desc(), F.col(id_col).asc()
    ).limit(top_n)
    w = W.orderBy(F.col("log_ratio").desc(), F.col(id_col).asc())
    return cut.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select(id_col, "n_tokens", "log_ratio", "rank")


# PII scrubbing patterns — a shared regex dialect: character classes,
# bounded repetition, \b, and non-capturing groups mean the SAME
# pattern string compiles identically under Java regex (Spark) and
# RE2 (DuckDB), so the oracle replays the scrub byte-for-byte. Both
# engines use leftmost-first matching and ASCII \d here.
PII_PATTERNS = {
    "email": (
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    "phone": (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
}


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII redaction — the corpus-prep stage every public-web
    pretraining pipeline runs (C4 and Dolma both ship regex scrubbers
    of exactly this shape): emails, dashed/dotted phone numbers, and
    IPv4 addresses are replaced with typed mask tokens, with per-doc
    match counts emitted for the datacard.

    Pure JVM-side regexp_replace/regexp_count chained in one
    projection — no UDF, no shuffle; at 100 TB this rides the scan.
    Counts are computed BEFORE any replacement so overlapping classes
    (an IP inside an email's domain would already be consumed) cannot
    double-count: each pattern counts against the original text, and
    replacements apply in a fixed order (email, phone, ipv4).

    Returns (id, scrubbed, n_emails, n_phones, n_ips).
    """
    scrubbed = F.col(text_col)
    counts = {}
    for name, (pat, token) in PII_PATTERNS.items():
        # native regexp_count with a lit() pattern — routing the
        # pattern through an F.expr SQL literal would re-interpret
        # its backslashes (\b -> backspace) under Spark's default
        # string-literal escaping
        counts[name] = F.regexp_count(
            F.col(text_col), F.lit(pat)
        ).cast("int")
    for name, (pat, token) in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ips"),
    )


def char_trigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 1.0,
    materialize_docs_max: int = 200_000,
) -> DataFrame:
    """Character-trigram LM perplexity per document — the CCNet/KenLM
    quality-filter shape (Wenzek et al. 2020): train a smoothed
    trigram model on the corpus itself, score each document by the
    perplexity of its own characters, and the tail of the ranking is
    the gibberish/boilerplate to drop. Real pipelines score against a
    Wikipedia-trained KenLM; the self-trained corpus LM here has the
    identical dataflow and makes the whole lifecycle one hash-checked
    query.

    p(c₃|c₁c₂) = (count(c₁c₂c₃)+k) / (count(c₁c₂·)+k·V), V = distinct
    third characters corpus-wide; per-doc perplexity =
    exp(mean −ln p) over its trigrams, 4dp. Docs shorter than 3 chars
    emit nothing (no trigram evidence).

    Scale shape (r7, two forms with a measured cutover — the CC
    edge-count-cutover device applied to a linear pipeline):

    - SMALL corpora (≤ ``materialize_docs_max``): one explode pass
      reduces to per-(doc, gram) COUNTS (map-side combined; the one
      wide exchange), checkpointed for both consumers — the explode
      never runs twice. Wins while the gram table sits comfortably
      in the shuffle tier: sf0.1 4.2s → 3.0s median.
    - LARGE corpora: the STATELESS two-pass form — the explode runs
      once for the LM build and once for scoring, but NOTHING
      corpus-sized is exchanged or materialized (tri's groupBy
      reduces to vocab-per-partition before its shuffle; the final
      doc agg map-side-combines to ~1 row/doc/partition because
      explode preserves doc locality). Measured at x100 (500k docs,
      ~150M grams): 47s vs the materializing form's 72s (5.0× from
      x30 — the (doc,gram) exchange + checkpoint go super-linear
      once they spill); a grams-table checkpoint variant OOMs the
      execution tier outright. At 100 TB only this form is sane:
      two scans beat shuffling the corpus once.

    Either form: the trigram LM is the only corpus-fed aggregate and
    is vocab-bounded; context counts ride a window over the LM
    (context = the trigram key's own prefix); V is one bounded
    scalar; the nll lookup broadcasts at any corpus scale. The two
    forms produce identical output (weighted mean over per-doc gram
    counts ≡ per-occurrence mean; 4dp round) — the oracle pins it.
    """
    t = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__t")
    ).filter(F.length("__t") >= 3)
    # sequence(1, n) with n >= 1 only (length >= 3 guaranteed above —
    # sequence(1, 0) is DESCENDING in Spark and would emit junk)
    grams = t.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, length(__t) - 2), "
                "i -> substring(__t, i, 3))"
            )
        ).alias("__g"),
    )
    # Form cutover (docstring: Scale shape). The count is a cheap
    # parquet-scan row count; the threshold ≈ 60M grams at the
    # testdata's ~300 chars/doc, where the measured curves cross.
    materialize = df.count() <= materialize_docs_max
    if materialize:
        # Per-(doc, gram) counts: the ONE corpus-sized exchange,
        # reduced map-side before the shuffle and checkpointed
        # because both the LM build and the scoring pass consume it.
        scoring_src = (
            grams.groupBy(id_col, "__g")
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint()
        )
        tri = scoring_src.groupBy("__g").agg(
            F.sum("__c").alias("__c3")
        ).localCheckpoint()
    else:
        # Stateless two-pass: tri aggregates the explode directly
        # (vocab-per-partition reduction before its exchange — the
        # shuffle carries ~vocab rows per partition, never the
        # corpus); scoring re-derives the explode below.
        scoring_src = None
        tri = grams.groupBy("__g").agg(
            F.count(F.lit(1)).alias("__c3")
        ).localCheckpoint()
    # The trigram LM is the ONLY corpus-fed aggregate; the context
    # LM and V both derive from it (sum over the prefix / distinct
    # third chars), so they run over the VOCAB-sized tri table —
    # bounded by alphabet³, never the corpus. V rides a broadcast
    # 1-row aggregate instead of a driver-blocking .count() (r14: the
    # count was a fourth sequential driver round trip, ~0.3 s of wall;
    # k·V as a Column — F.lit(k)·__v, double×long — is bit-identical
    # to the old F.lit(k*v) literal for any v < 2^53).
    v_df = tri.agg(
        F.countDistinct(F.substring("__g", 3, 1)).alias("__v")
    )
    # Context counts via a window over the vocab-sized tri table
    # (context = the trigram key's own 2-char prefix): one vocab-keyed
    # exchange replaces the r6 ctx groupBy + prefix-equijoin pair —
    # same arithmetic, one fewer shuffle and no join, on a table
    # bounded by alphabet³ regardless of corpus size.
    w_ctx = Window.partitionBy(F.substring("__g", 1, 2))
    nll = -F.log(
        (F.col("__c3") + F.lit(k))
        / (F.sum("__c3").over(w_ctx) + F.lit(k) * F.col("__v"))
    )
    # per-gram nll lookup: vocab-sized, broadcastable at ANY corpus
    # scale (trigram space is alphabet-bounded). Scoring: weighted
    # mean over the materialized per-doc gram counts, or the
    # per-occurrence mean over a second explode — identical values
    # (weights ARE the occurrence multiplicities).
    lut = tri.crossJoin(F.broadcast(v_df)).select(
        "__g", nll.alias("__nll")
    )
    if materialize:
        return (
            scoring_src.join(F.broadcast(lut), "__g")
            .groupBy(id_col)
            .agg(
                F.sum("__c").cast("long").alias("n_grams"),
                F.round(
                    F.exp(
                        F.sum(F.col("__nll") * F.col("__c"))
                        / F.sum("__c")
                    ),
                    4,
                ).alias("perplexity"),
            )
        )
    return (
        grams.join(F.broadcast(lut), "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.exp(F.avg("__nll")), 4).alias("perplexity"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_words: int = 16,
) -> DataFrame:
    """Paragraph-level exact dedup — the Dolma/C4 intra-corpus stage:
    duplicate paragraphs keep only their FIRST occurrence (min
    (doc_id, position)); later copies are dropped from their documents
    and the surviving text is reassembled. Catches the boilerplate
    (headers, license blocks, navigation) that document-level dedup
    misses because the surrounding text differs.

    This corpus has no newline structure, so "paragraph" = consecutive
    non-overlapping ``para_words``-token spans (the last span may be
    short) — the span rule is the pluggable part; the dedup dataflow
    is the operator.

    Returns (id, n_paras, n_kept, kept_text_md5) — the md5 pins every
    byte of the reassembled text.

    Scale shape: two exchanges total. Spans stay in array land until
    one posexplode; first-occurrence election is a single window over
    the paragraph's md5 (fixed 32-char wire key — the full 128-bit
    digest, so no collision can merge distinct paragraphs); the
    doc-side reassembly is one doc-keyed aggregate. At 100 TB the
    hash-partitioned window IS the canonical shape (same as
    dedup_exact); the one-pass streaming alternative is a Bloom
    filter over paragraph hashes (see bloom_decontaminate for that
    device).
    """
    k = int(para_words)
    # zero-token docs have no spans: the oracle's range(0, ceil(0/k))
    # emits nothing (the doc is absent), while Spark's
    # sequence(0, -1) would be DESCENDING and emit phantom '' spans —
    # filter keeps the two engines agreeing and the sequence ascending
    toks_df = df.select(
        F.col(id_col), TXT.tokens(text_col).alias("__toks")
    ).filter(F.size("__toks") >= 1)
    # bind the token array BEFORE the span lambda (the CollapseProject
    # re-inlining hazard — see decontaminate_report)
    paras = toks_df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__toks) / {k}.0) "
                f"as int) - 1), i -> concat_ws(' ', slice(__toks, "
                f"i * {k} + 1, {k})))"
            )
        ).alias("idx", "__para"),
    )
    w = Window.partitionBy(F.md5("__para")).orderBy(id_col, "idx")
    ranked = paras.withColumn("__rk", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rk") == 1, F.struct(F.col("idx"), F.col("__para"))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum((F.col("__rk") == 1).cast("long")).alias("n_kept"),
            # collect_list skips the NULL structs of dropped spans;
            # array_sort on (idx, para) structs restores text order
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["__para"],
                    ),
                )
            ).alias("kept_text_md5"),
        )
    )


def bloom_bitmap(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> list[int]:
    """Build the eval-set Bloom bitmap: m_bits bits as m/64 signed
    longs. Bit positions are the 60-bit md5 of ``j:gram`` mod m for
    j in 0..k−1 — engine-independent (DuckDB replays them bit-exactly)
    and deterministic, so the false-positive set is part of the
    checked contract, not noise. Driver state is the bitmap only
    (bounded by the constant m — the kmeans-centroid contract)."""
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    words = m_bits // 64
    # docs shorter than n tokens have no n-grams; filtering them out
    # BEFORE the shingle lambda also avoids word_shingles' descending
    # sequence(0, size-n) on size < n (element_at index-0 crash)
    toks_df = eval_df.select(
        TXT.tokens(text_col).alias("__toks")
    ).filter(F.size("__toks") >= n)
    grams = toks_df.select(
        F.explode(TXT.word_shingles(F.col("__toks"), n)).alias("__gs")
    )
    pos_rows = (
        grams.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos(F.col("__gs"), j, m_bits)
                        for j in range(k_hashes)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bitmap = [0] * words
    for r in pos_rows:
        bitmap[r["p"] // 64] |= 1 << (r["p"] % 64)
    # two's-complement fold into signed longs for the array literal
    return [b - (1 << 64) if b >= (1 << 63) else b for b in bitmap]


def _bloom_h1h2(md5_hex: Column) -> tuple[Column, Column]:
    """Kirsch–Mitzenmacher double-hash pair from ONE md5: h1 = the
    digest's first 60 bits, h2 = its next 60 bits forced ODD (m is a
    power of two, so an odd stride is coprime with m and the k probe
    positions never collapse onto a short cycle). Position j is then
    (h1 + j·h2) mod m — the classic result that two hash functions
    simulate k with no loss in Bloom FP asymptotics. r6 computed a
    FULL md5 per (gram, j) — 3 md5s per probed gram, and md5 over
    ~30-char grams dominated the honest (noop-timed) probe cost."""
    h1 = F.conv(F.substring(md5_hex, 1, 15), 16, 10).cast("bigint")
    h2 = (
        F.conv(F.substring(md5_hex, 16, 15), 16, 10)
        .cast("bigint")
        .bitwiseOR(F.lit(1))
    )
    return h1, h2


def _bloom_pos(gram: Column, j: int, m_bits: int) -> Column:
    """Position of hash j for a gram — KM double hashing, identical
    in Spark and DuckDB (the oracle replays the same slice/or/mod)."""
    h1, h2 = _bloom_h1h2(F.md5(gram))
    return (h1 + F.lit(j) * h2) % m_bits


# 2^k for k in 0..63 as signed longs (2^63 wraps negative): bit tests
# use (word & POW[k]) != 0, avoiding per-element variable shifts that
# the Column API cannot express inside a lambda.
_BLOOM_POWS = [
    (1 << k) if k < 63 else -(1 << 63) for k in range(64)
]


def bloom_probe_projection(
    df: DataFrame,
    bitmap: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> DataFrame:
    """Scan-side Bloom probe: per document, how many of its distinct
    word n-grams have all k bits set in ``bitmap``. A PURE PROJECTION
    — no join, no aggregate, no shuffle — so it applies unchanged to
    a batch scan or a streaming micro-batch. The bitmap and the
    bit-mask table enter as foldable array literals (constant-folded
    once, not built per row).

    Returns (id, n_grams, n_flagged, is_flagged).
    """
    # ONE parsed literal-array expression each (r14): building the
    # 1024-word bitmap through F.lit/F.array was ~1030 py4j round
    # trips — 0.63 s of measured driver wall per construction. A SQL
    # bigint literal (L suffix) types exactly like F.lit(int) on
    # 64-bit values, so the arrays — and the probe — are unchanged.
    bm = F.expr(
        "array(" + ", ".join(f"{b}L" for b in bitmap) + ")"
    )
    pows = F.expr(
        "array(" + ", ".join(f"{v}L" for v in _BLOOM_POWS) + ")"
    )

    def _bit_set(pair: Column, j: int) -> Column:
        pos = (pair["h1"] + F.lit(j) * pair["h2"]) % m_bits
        word = F.element_at(
            F.col("__bm"), (pos / 64).cast("int") + 1
        )
        mask = F.element_at(
            F.col("__pows"), (pos % 64).cast("int") + 1
        )
        return word.bitwiseAND(mask) != 0

    def _hit(pair: Column) -> Column:
        cond = _bit_set(pair, 0)
        for j in range(1, k_hashes):
            cond = cond & _bit_set(pair, j)
        return cond

    def _pair(h: Column) -> Column:
        h1, h2 = _bloom_h1h2(h)
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    return (
        df.select(
            F.col(id_col), TXT.tokens(text_col).alias("__toks")
        )
        # same short-doc rule as the oracle (whose LATERAL range()
        # emits no gram rows, dropping the doc): docs with < n tokens
        # are absent from the report, and the filter keeps
        # word_shingles' sequence(0, size-n) ascending (size < n
        # would crash on element_at index 0)
        .filter(F.size("__toks") >= n)
        .select(
            F.col(id_col),
            TXT.word_shingles(F.col("__toks"), n).alias("__gs"),
        )
        .withColumn("__bm", bm)
        .withColumn("__pows", pows)
        # two nested transforms so each gram's md5 is computed ONCE
        # and its (h1, h2) pair once — a single lambda slicing md5(g)
        # twice would re-hash per slice (HOF bodies don't CSE)
        .withColumn(
            "__hp",
            F.transform(
                F.transform("__gs", lambda g: F.md5(g)), _pair
            ),
        )
        .select(
            F.col(id_col),
            F.size("__gs").cast("long").alias("n_grams"),
            F.size(F.filter(F.col("__hp"), _hit))
            .cast("long")
            .alias("n_flagged"),
        )
        .withColumn("is_flagged", F.col("n_flagged") > 0)
    )


def bloom_decontaminate(
    df: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter n-gram decontamination — the shape that replaces
    decontaminate_report's broadcast gram SET when the eval suite is
    large: the eval grams compress into an ``m_bits``-bit Bloom filter
    (here 8 KB) that is CONSTANT-SIZE no matter how many benchmarks
    are held out, and the training corpus probes it as a pure
    scan-side projection (``bloom_probe_projection``) — zero joins,
    zero shuffles, zero aggregates on the corpus. This is how
    decontamination runs at 100 TB (Dolma's dedup/decontamination
    uses exactly this device), and the projection applies unchanged
    to a streaming micro-batch (``stream_bloom_decontaminate``).

    A gram is flagged iff all k bits are set; with m=65536, k=3 and
    ~10k eval grams the FP rate is (1−e^{−kn/m})^k ≈ 0.1%.

    Returns one row per TRAINING doc:
    (id, n_grams, n_flagged, is_flagged).
    """
    bitmap = bloom_bitmap(
        df.filter(eval_pred), text_col, n, m_bits, k_hashes
    )
    return bloom_probe_projection(
        df.filter(~eval_pred), bitmap, id_col, text_col, n, m_bits,
        k_hashes,
    )


def tokenizer_fertility(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per corpus slice: subword tokens per
    whitespace word and bytes per subword — the standard check that a
    tokenizer isn't pathologically fragmenting some language or source
    (fertility >> 1.3 for a language means its text costs that many
    times more sequence length per word). Uses the repo's
    deterministic BPE-ish subword estimate (functions/text.py
    subword_estimate).

    One scan, one small-cardinality aggregate with map-side combine —
    the fact side never shuffles more than the partial rows.
    """
    per_doc = df.select(
        *group_cols,
        TXT.token_count(text_col).cast("long").alias("__w"),
        TXT.subword_estimate(text_col).alias("__s"),
        F.length(text_col).cast("long").alias("__b"),
    )
    return (
        per_doc.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").alias("n_words"),
            F.sum("__s").alias("n_subwords"),
            F.round(F.sum("__s") / F.sum("__w"), 4).alias("fertility"),
            F.round(F.sum("__b") / F.sum("__s"), 4).alias(
                "bytes_per_subword"
            ),
        )
    )


def train_holdout_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    bounds: tuple[float, float] = (0.8, 0.9),
) -> DataFrame:
    """Deterministic train/val/test split + composition report — the
    reproducible-split requirement: membership is the md5 32-bit
    fraction of the document id (the temperature_sample device), so
    the split is stable across engines, cluster sizes, runs, and
    corpus growth (a doc never migrates when new docs arrive).

    Returns one row per (split, source): n_docs, n_tokens,
    share_of_split — the composition check that the holdouts aren't
    accidentally skewed toward one source.

    Scale: split assignment is a pure projection riding the scan; the
    aggregate is (3 × n_sources) rows; the window over it is
    driver-trivial.
    """
    lo, hi = bounds
    frac = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    tagged = df.select(
        F.when(frac < lo, "train")
        .when(frac < hi, "val")
        .otherwise("test")
        .alias("split"),
        F.col(source_col).alias("source"),
        TXT.token_count(text_col).cast("long").alias("__t"),
    )
    agg = tagged.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").alias("n_tokens"),
    )
    w = Window.partitionBy("split")
    return agg.withColumn(
        "share_of_split",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4),
    )


def _classifier_features(
    df: DataFrame, label_pred: Column, id_col: str, text_col: str
) -> DataFrame:
    """Shared feature projection for the logistic quality classifier:
    (id, __y, __x0..__x3). A pure scan-side select — reused by the
    trainer, the batch scorer, and the streaming scorer so all three
    (and the SQL oracle) see identical feature arithmetic."""
    n_tok = TXT.token_count(text_col).cast("double")
    diversity = F.when(
        n_tok > 0, TXT.distinct_token_count(text_col) / n_tok
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        # when/otherwise: a NULL predicate (e.g. NULL lang) lands in
        # the otherwise-branch as 0, matching the oracle's CASE ELSE 0
        # — a bare cast would yield NULL and silently drop the row
        # from every AVG gradient
        F.when(label_pred, 1).otherwise(0).alias("__y"),
        F.lit(1.0).alias("__x0"),
        F.least(F.lit(1.0), n_tok / F.lit(100.0)).alias("__x1"),
        diversity.alias("__x2"),
        TXT.digit_ratio(text_col).alias("__x3"),
    )


def _classifier_p(w: list[float]) -> Column:
    z = sum(
        (F.lit(w[k]) * F.col(f"__x{k}") for k in range(len(w))),
        F.lit(0.0),
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def classifier_score_projection(
    df: DataFrame,
    weights: list[float],
    label_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents with trained classifier weights — a PURE
    projection (features + sigmoid with literal weights), so it
    applies unchanged to a batch scan or a streaming micro-batch:
    the train-offline / score-at-ingest deployment shape."""
    feats = _classifier_features(df, label_pred, id_col, text_col)
    score = F.round(_classifier_p(weights), 4)
    return feats.select(
        F.col(id_col),
        F.col("__y").alias("label"),
        score.alias("score"),
        (score >= 0.5).alias("predicted"),
    )


def quality_classifier_train(
    df: DataFrame,
    label_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_steps: int = 3,
    lr: float = 0.5,
) -> tuple[DataFrame, list[float]]:
    """Train a linear quality classifier by full-batch logistic
    gradient descent and score every document — the fastText-style
    quality-classifier stage (GPT-3's WebText-vs-CommonCrawl filter,
    CCNet's LM+classifier combo): features are the repo's
    deterministic text signals (length score, lexical diversity,
    digit ratio + bias), the label is ``label_pred``, and training is
    ``n_steps`` of full-batch GD from w=0.

    Returns (scored DataFrame (id, label, score, predicted), final
    weights).

    Distributed shape: each GD step is ONE pass over the checkpointed
    features whose 4-value gradient is ``observe()``d — partials
    merge on the driver as the tasks finish, so a step is one Spark
    job with no exchange (``quality.observed_aggregates``). Step 1's
    gradient (at w=0) rides the job that checkpoints the features, so
    ``n_steps`` steps cost ``n_steps`` jobs in all, and ``n_steps=0``
    costs none (the scorer then reads the features straight from
    ``df``). The weights (d+1 floats, the kmeans bounded-driver-state
    contract) broadcast back inside the next step's expression. No
    instance-level shuffle ever.

    Determinism across engines: the per-step GRADIENT is rounded
    in-engine at 9 decimals (absorbing libm-exp ulp and the
    summation-order noise of the partial merge, both ~1e-13 relative,
    far under the 1e-9 quantum), and the weight update w - lr*g is
    single IEEE ops — bit-exact in any engine — so the whole weight
    trajectory replays identically in the unrolled-CTE SQL oracle.
    """
    dims = 4

    def _gradient(w: list[float]) -> list[Column]:
        p = _classifier_p(w)
        return [
            F.round(F.avg((p - F.col("__y")) * F.col(f"__x{k}")), 9).alias(
                f"g{k}"
            )
            for k in range(dims)
        ]

    w = [0.0] * dims
    feats = _classifier_features(df, label_pred, id_col, text_col)
    for step in range(n_steps):
        if step == 0:
            # read n_steps+1 times: compute the features once, and
            # take the first gradient during that same pass
            obs = Observation()
            feats = feats.observe(obs, *_gradient(w)).localCheckpoint()
            grad = obs.get
        else:
            grad = observed_aggregates(feats, *_gradient(w))
        w = [w[k] - lr * grad[f"g{k}"] for k in range(dims)]

    score = F.round(_classifier_p(w), 4)
    scored = feats.select(
        F.col(id_col),
        F.col("__y").alias("label"),
        score.alias("score"),
        (score >= 0.5).alias("predicted"),
    )
    return scored, w


def preference_bt_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_steps: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Bradley–Terry preference aggregation — the RLHF/arena shape:
    pairwise comparisons between items from competing sources are
    aggregated into per-source strength parameters θ_s by full-batch
    gradient ascent on the BT log-likelihood (one GD step:
    θ_w += lr·(1−σ(θ_w−θ_l)), θ_l −= the same residual). The demo
    pairing is deterministic (doc 2k vs 2k+1, winner = higher
    quality_score, ties to the left), so the whole
    comparisons→ranking lifecycle is one hash-checked query.

    Returns one row per source: (source, theta, n_matches, n_wins).

    Scale shape: unlike quality_classifier_train's scalar weights,
    the parameters here are a TABLE (one row per source) that never
    touches the driver — each step broadcasts the θ table onto the
    match relation twice (winner/loser legs), explodes each match
    into two signed residual rows, and aggregates per source
    (map-side combined). Matches are localCheckpointed once; the θ
    table is checkpointed per step (it is |sources| rows, so the
    materialization is trivial while cutting the iterative-join
    lineage).

    Determinism: per-source residual means round in-engine at 9dp;
    θ updates are single IEEE ops — the oracle's unrolled (g_i, w_i)
    CTE chain with JOIN-based θ lookups replays the trajectory
    bit-exactly (the quality_classifier_train contract, extended
    from scalars to keyed parameters).
    """
    q = df.select(
        F.col(id_col).alias("__id"),
        F.col(source_col).alias("__src"),
        TXT.quality_score(text_col).alias("__q"),
    )
    a = q.filter(F.col("__id") % 2 == 0).select(
        F.col("__id").alias("__pair"),
        F.col("__src").alias("__sa"),
        F.col("__q").alias("__qa"),
    )
    b = q.filter(F.col("__id") % 2 == 1).select(
        (F.col("__id") - 1).alias("__pair"),
        F.col("__src").alias("__sb"),
        F.col("__q").alias("__qb"),
    )
    win = F.col("__qa") >= F.col("__qb")
    m = (
        a.join(b, "__pair")
        .select(
            F.when(win, F.col("__sa")).otherwise(F.col("__sb")).alias(
                "winner"
            ),
            F.when(win, F.col("__sb")).otherwise(F.col("__sa")).alias(
                "loser"
            ),
        )
        .localCheckpoint()
    )
    w = (
        m.select(F.col("winner").alias("source"))
        .union(m.select(F.col("loser").alias("source")))
        .distinct()
        .withColumn("theta", F.lit(0.0))
        .localCheckpoint()
    )
    for _ in range(n_steps):
        j = (
            m.join(
                F.broadcast(
                    w.select(
                        F.col("source").alias("winner"),
                        F.col("theta").alias("__tw"),
                    )
                ),
                "winner",
            )
            .join(
                F.broadcast(
                    w.select(
                        F.col("source").alias("loser"),
                        F.col("theta").alias("__tl"),
                    )
                ),
                "loser",
            )
        )
        r = F.lit(1.0) - (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("__tw") - F.col("__tl"))))
        )
        rows = j.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("winner").alias("source"), r.alias("__r")
                    ),
                    F.struct(
                        F.col("loser").alias("source"),
                        (-r).alias("__r"),
                    ),
                )
            ).alias("__e")
        ).select("__e.source", "__e.__r")
        g = rows.groupBy("source").agg(
            F.round(F.avg("__r"), 9).alias("__g")
        )
        w = (
            w.join(g, "source")
            .select(
                "source",
                (F.col("theta") + F.lit(lr) * F.col("__g")).alias(
                    "theta"
                ),
            )
            .localCheckpoint()
        )
    stats = (
        m.select(F.col("winner").alias("source"), F.lit(1).alias("__w"))
        .union(m.select(F.col("loser").alias("source"), F.lit(0)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.sum("__w").cast("long").alias("n_wins"),
        )
    )
    return w.join(stats, "source").select(
        "source",
        F.round("theta", 4).alias("theta"),
        "n_matches",
        "n_wins",
    )


def doc_length_histogram(
    df: DataFrame,
    text_col: str = "text",
    bucket_tokens: int = 16,
) -> DataFrame:
    """Sequence-length histogram with cumulative token share — the
    artifact behind context-length and packing decisions (what share
    of tokens lives in docs shorter than L?). One scan aggregates to
    the bounded bucket table; the cumulative window runs over buckets
    (dozens of rows), never documents.

    Returns per bucket: (bucket_lo, n_docs, n_tokens,
    cum_token_share) ordered by bucket_lo.
    """
    k = int(bucket_tokens)
    per_doc = df.select(TXT.token_count(text_col).cast("long").alias("__t"))
    buckets = per_doc.groupBy(
        (F.floor(F.col("__t") / k) * k).cast("long").alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__t").cast("long").alias("n_tokens"),
    )
    w = Window.orderBy("bucket_lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return buckets.select(
        "bucket_lo",
        "n_docs",
        "n_tokens",
        F.round(
            F.sum("n_tokens").over(w) / F.sum("n_tokens").over(tot), 4
        ).alias("cum_token_share"),
    )


def cms_vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Count-Min-Sketch word frequencies beside their exact twin —
    the bounded-memory frequency sketch (Cormode–Muthukrishnan) that
    replaces an unbounded vocab hashmap at stream/100 TB scale, made
    DETERMINISTIC and hash-checkable: counter positions come from
    ``_bloom_pos`` — Kirsch–Mitzenmacher double hashing, (h1 + j*h2)
    mod width with h1/h2 the first/next 60 bits of one md5(token)
    (the Bloom device, shared code) — and the oracle replays exactly
    that arithmetic, so both engines build byte-identical counters
    and the over-estimates are part of the checked contract, not
    noise (pinned under collision pressure in tests/test_sketches.py).

    Emits the top-``k`` tokens by exact count (count DESC, token ASC)
    with (token, exact_count, cms_estimate, overestimate). CMS
    guarantees estimate >= exact; the gap shows collision pressure at
    the chosen (depth × width).

    Scale shape: token counts aggregate once (map-side combined, the
    corpus's only full pass); counters aggregate over the
    VOCAB-sized count table exploded ×depth; estimation joins the
    k-row top-k against the (depth×width)-row counter table.
    """
    toks = df.select(
        F.explode(TXT.tokens(text_col)).alias("__tok")
    )
    vocab = toks.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).localCheckpoint()  # feeds counters, top-k, and estimation

    def _pos(tok, j: int):
        # the Bloom device, shared: one determinism contract, one code
        return _bloom_pos(tok, j, width)

    cells = vocab.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("__j"),
                        _pos(F.col("__tok"), j).alias("__p"),
                        F.col("__c").alias("__c"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__e")
    ).select("__e.__j", "__e.__p", "__e.__c")
    counters = cells.groupBy("__j", "__p").agg(
        F.sum("__c").alias("__cnt")
    )
    topk = (
        vocab.orderBy(F.col("__c").desc(), F.col("__tok").asc())
        .limit(k)
    )
    probes = topk.select(
        "__tok",
        "__c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("__j"),
                        _pos(F.col("__tok"), j).alias("__p"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__e"),
    ).select("__tok", "__c", "__e.__j", "__e.__p")
    est = (
        probes.join(F.broadcast(counters), ["__j", "__p"])
        .groupBy("__tok", "__c")
        .agg(F.min("__cnt").cast("long").alias("cms_estimate"))
    )
    return est.select(
        F.col("__tok").alias("token"),
        F.col("__c").alias("exact_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("__c"))
        .cast("long")
        .alias("overestimate"),
    )


def cms_vocab_topk_grouped(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    depth: int = 3,
    width: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Per-key ``cms_vocab_topk`` — the grain a 100 TB pipeline
    actually calls the frequency sketch at (per-language / per-source
    vocabulary health), the r11 grouped-sketch playbook
    (hll_registers_grouped, quantile_sketch_grouped) applied to CMS.

    One CMS per key: counters aggregate on (key, j, position) — the
    (key, bucket)-keyed map-side-combined exchange shape, per-key
    state bounded by depth × width regardless of the key's token
    count. Top-k per key is a key-partitioned row_number (never a
    global sort); estimation joins each key's k·depth probes against
    its own counter table on (key, j, p) — unhinted, so AQE
    broadcasts the counter side while n_keys · depth · width stays
    small and shuffles it when the key space grows. No
    SinglePartition stage anywhere (plan-pinned in
    tests/test_plans.py).

    Emits (key, token, exact_count, cms_estimate, overestimate);
    estimate >= exact per CMS guarantee, same checked contract as
    the global form.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(key_col).alias("__k"),
        F.explode(TXT.tokens(text_col)).alias("__tok"),
    )
    vocab = (
        toks.groupBy("__k", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint()  # feeds counters, top-k, and estimation
    )
    cells = vocab.select(
        "__k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("__j"),
                        _bloom_pos(F.col("__tok"), j, width).alias(
                            "__p"
                        ),
                        F.col("__c").alias("__c"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__e"),
    ).select("__k", "__e.__j", "__e.__p", "__e.__c")
    counters = cells.groupBy("__k", "__j", "__p").agg(
        F.sum("__c").alias("__cnt")
    )
    w = Window.partitionBy("__k").orderBy(
        F.col("__c").desc(), F.col("__tok").asc()
    )
    topk = (
        vocab.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    probes = topk.select(
        "__k",
        "__tok",
        "__c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("__j"),
                        _bloom_pos(F.col("__tok"), j, width).alias(
                            "__p"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__e"),
    ).select("__k", "__tok", "__c", "__e.__j", "__e.__p")
    est = (
        probes.join(counters, ["__k", "__j", "__p"])
        .groupBy("__k", "__tok", "__c")
        .agg(F.min("__cnt").cast("long").alias("cms_estimate"))
    )
    return est.select(
        F.col("__k").alias(key_col),
        F.col("__tok").alias("token"),
        F.col("__c").alias("exact_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("__c"))
        .cast("long")
        .alias("overestimate"),
    )


def corpus_release(
    df: DataFrame,
    eval_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    quality_threshold: float = 0.58,
    jaccard_threshold: float = 0.5,
    para_words: int = 16,
    n_gram: int = 5,
    alpha: float = 0.7,
    budget_frac: float = 0.5,
    bin_tokens: int = 2048,
    n_shards: int = 32,
    lsh_num_hashes: int = 63,
    lsh_bands: int = 21,
    upto: int | None = None,
) -> DataFrame:
    """End-to-end "corpus release" composite — the pipeline a training-
    data team actually ships, as ONE operator with ONE hash-checked
    manifest. Nine stages, each reusing the standing operator:

    0. ``0_input``          — the raw corpus;
    1. ``1_eval_holdout``   — eval rows (``eval_pred``) leave the
       training pool first, so they can't influence dedup or the mix;
    2. ``2_exact_dedup``    — fingerprint groups keep their minimum-id
       document (``functions/text.fingerprint``);
    3. ``3_near_dedup``     — banded MinHash + exact-Jaccard verify
       (``dedup.minhash_lsh_pairs``); every qualifying pair drops its
       LARGER id — one deterministic sweep, SQL-replayable, unlike a
       transitive CC collapse (registered separately as
       ``dedup_cc_clusters``);
    4. ``4_para_dedup``     — duplicate ``para_words``-token spans keep
       their first (doc, idx) occurrence; surviving spans reassemble
       into the cut text that flows DOWNSTREAM (the paragraph_dedup
       report device, upgraded to materialize); token-empty docs drop;
    5. ``5_decontaminate``  — drop training docs sharing a word
       ``n_gram``-gram with any eval doc's RAW text;
    6. ``6_quality_gate``   — composite quality score ≥ threshold on
       the REASSEMBLED text (unrounded compare: the score arithmetic
       is the same IEEE expression in both engines);
    7. ``7_temperature_mix``— deterministic per-source temperature
       sampling (``temperature_sample``: md5-fraction membership);
    8. ``8_pack``           — next-fit packing into (shard, bin)
       (the doc_pack_bins device); the sig pins every bin assignment.

    Returns the MANIFEST: one row per stage — (stage, n_docs,
    n_tokens, content_sig) where content_sig is the order-insensitive
    ``bit_xor`` of a 60-bit md5 prefix of ``id:payload`` (payload =
    the stage's surviving text, or ``id:bin`` for the pack stage).
    A downstream consumer can verify an entire release byte-for-byte
    against this card; the DuckDB oracle replays all nine stages.

    Scale notes: every stage is the registered operator's plan — the
    manifest adds one bounded aggregate per stage. Stage outputs are
    ``localCheckpoint(eager=False)``-pinned so stage N+1 and stage N's
    manifest row share one execution instead of re-running the
    prefix chain (9 stages would otherwise cost O(k²) scans).

    ORACLE-PARITY PRECONDITION (stage 3): the operator generates
    near-dup candidates with banded MinHash (default 21 bands × 3
    rows) while the DuckDB oracle computes exact all-pairs Jaccard,
    so bit-parity rests on the CORPUS-SPECIFIC recall margin: a pair
    at jaccard j is missed with probability (1−j³)^bands — <3e-7 at
    j=0.8 but ≈6% at j=0.5. Parity is guaranteed only when every
    qualifying pair (j ≥ ``jaccard_threshold``) sits comfortably
    above the band curve's knee (measured min qualifying jaccard on
    the test corpora: ≥0.8). A corpus with a pair just above the
    threshold can make the manifest diverge from the oracle
    probabilistically — ``tests/test_corpus.py::
    test_corpus_release_recall_margin_precondition`` measures the
    margin on the shipped corpora and fails loudly if a data change
    ever invalidates it.
    """
    if upto is not None and not 0 <= upto <= 8:
        # Out-of-range values would otherwise fail obscurely: -1
        # slices the manifest to [] (IndexError on rows[0]); >8
        # silently behaves like None.
        raise ValueError(
            f"upto must be in [0, 8] (stage index), got {upto!r}"
        )
    from pyspark_scd_spark.operators import dedup as DD

    def _sig(payload: Column) -> Column:
        return F.coalesce(
            F.bit_xor(
                F.conv(F.substring(F.md5(payload), 1, 15), 16, 10)
                .cast("long")
            ),
            F.lit(0),
        )

    # Column objects are immutable unresolved expressions, reusable
    # across DataFrames — build the three manifest aggregate columns
    # ONCE and share them across all nine _row calls (r13: each F.*
    # call is one or more py4j round trips; rebuilding the
    # count/token-sum/sig trees per stage was ~0.3 s of driver time
    # per manifest row, ~2.5 s of the composite's wall).
    _n_docs_col = F.count(F.lit(1)).cast("long").alias("n_docs")
    _n_tokens_col = (
        F.coalesce(F.sum(TXT.token_count(text_col)), F.lit(0))
        .cast("long")
        .alias("n_tokens")
    )

    def _row(stage: str, sdf: DataFrame, sig_col: Column) -> DataFrame:
        return sdf.agg(
            _n_docs_col,
            _n_tokens_col,
            sig_col,
        ).select(
            F.lit(stage).alias("stage"),
            "n_docs",
            "n_tokens",
            "content_sig",
        )

    def _text_payload() -> Column:
        return F.concat(
            F.col(id_col).cast("string"), F.lit(":"), F.col(text_col)
        )

    # the shared text-payload signature aggregate (stages 0-7; the
    # pack stage signs id:bin instead)
    _text_sig_col = _sig(_text_payload()).alias("content_sig")

    s0 = df.select(id_col, source_col, text_col)
    s1 = s0.filter(~eval_pred).localCheckpoint(eager=False)
    eval_docs = s0.filter(eval_pred)

    # 2: exact dedup — canonical = min id per normalized fingerprint
    from pyspark.sql import Window as W

    fp = s1.withColumn("__fp", TXT.fingerprint(text_col))
    s2 = (
        fp.withColumn(
            "__cmin", F.min(id_col).over(W.partitionBy("__fp"))
        )
        .filter(F.col(id_col) == F.col("__cmin"))
        .select(id_col, source_col, text_col)
        .localCheckpoint(eager=False)
    )

    # 3: near dedup — qualifying pairs drop their larger id
    pairs = DD.minhash_lsh_pairs(
        s2,
        id_col=id_col,
        text_col=text_col,
        num_hashes=lsh_num_hashes,
        bands=lsh_bands,
        verify_threshold=jaccard_threshold,
    )
    drops = pairs.select(
        F.col("doc_b").alias(id_col)
    ).distinct()
    s3 = s2.join(drops, id_col, "left_anti").localCheckpoint(
        eager=False
    )

    # 4: paragraph dedup, text MATERIALIZED (first (doc, idx) span of
    # each distinct paragraph survives; reassembly = idx-ordered join)
    k = int(para_words)
    toks_df = s3.select(
        F.col(id_col),
        F.col(source_col),
        TXT.tokens(text_col).alias("__toks"),
    ).filter(F.size("__toks") >= 1)
    paras = toks_df.select(
        id_col,
        source_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__toks) / {k}.0)"
                f" as int) - 1), i -> concat_ws(' ', slice(__toks, "
                f"i * {k} + 1, {k})))"
            )
        ).alias("idx", "__para"),
    )
    wp = W.partitionBy(F.md5("__para")).orderBy(id_col, "idx")
    kept = paras.withColumn("__rk", F.row_number().over(wp)).filter(
        F.col("__rk") == 1
    )
    s4 = (
        kept.groupBy(id_col, source_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("idx"), F.col("__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
            ).alias(text_col)
        )
        .filter(F.length(text_col) > 0)
        .localCheckpoint(eager=False)
    )

    # 5: decontaminate vs the eval docs' RAW grams (bounded set,
    # broadcast — the decontaminate_report device on raw strings so
    # the oracle replays grams verbatim)
    def _grams(sdf: DataFrame) -> DataFrame:
        # size >= n_gram guard BEFORE the sequence: Spark's
        # sequence(1, 0) is DESCENDING ([1, 0] — slice at index 0
        # then throws), the paragraph-span trap in another costume
        toks = sdf.select(
            F.col(id_col), TXT.tokens(text_col).alias("__toks")
        ).filter(F.size("__toks") >= n_gram)
        return toks.select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__toks) - "
                    f"{n_gram - 1}), i -> concat_ws(' ', "
                    f"slice(__toks, i, {n_gram})))"
                )
            ).alias("__gram"),
        ).distinct()

    contaminated = (
        _grams(s4)
        .join(
            F.broadcast(_grams(eval_docs).select("__gram").distinct()),
            "__gram",
        )
        .select(id_col)
        .distinct()
    )
    s5 = s4.join(contaminated, id_col, "left_anti").localCheckpoint(
        eager=False
    )

    # 6: quality gate on the reassembled text (unrounded compare)
    s6 = s5.filter(
        TXT.quality_score(text_col) >= F.lit(quality_threshold)
    ).localCheckpoint(eager=False)

    # 7: deterministic temperature mix
    kept_ids = temperature_sample(
        s6,
        source_col=source_col,
        id_col=id_col,
        text_col=text_col,
        alpha=alpha,
        budget_frac=budget_frac,
    ).select(id_col)
    s7 = s6.join(kept_ids, id_col).localCheckpoint(eager=False)

    # 8: next-fit pack into (shard, bin)
    sized = s7.select(
        id_col,
        source_col,
        text_col,
        TXT.token_count(text_col).cast("long").alias("__nt"),
        (F.col(id_col) % n_shards).alias("__shard"),
    )
    wb = (
        W.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s8 = sized.withColumn(
        "__bin",
        F.floor(
            (F.sum("__nt").over(wb) - F.col("__nt"))
            / F.lit(bin_tokens)
        ).cast("long"),
    )

    # ``upto`` truncates the manifest to stages <= upto — the
    # stage-timing instrument (tools/stage_timings.py) times the
    # manifest prefix at each k and differences consecutive walls to
    # attribute marginal cost per stage. Production callers leave it
    # None (full 9-row manifest).
    rows = [
        _row("0_input", s0, _text_sig_col),
        _row("1_eval_holdout", s1, _text_sig_col),
        _row("2_exact_dedup", s2, _text_sig_col),
        _row("3_near_dedup", s3, _text_sig_col),
        _row("4_para_dedup", s4, _text_sig_col),
        _row("5_decontaminate", s5, _text_sig_col),
        _row("6_quality_gate", s6, _text_sig_col),
        _row("7_temperature_mix", s7, _text_sig_col),
        _row(
            "8_pack",
            s8,
            _sig(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("__bin").cast("string"),
                )
            ).alias("content_sig"),
        ),
    ]
    if upto is not None:
        rows = rows[: upto + 1]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
