"""Deduplication operators for large-scale document corpora.

Five tiers, cheapest first — a production 100 TB pipeline runs them in
this order so each tier shrinks the candidate set for the next:

1. exact          — hash-groupBy on a content fingerprint
2. ngram_jaccard  — exact set-similarity via shingle inverted index
3. minhash_lsh    — probabilistic candidate generation, O(n·bands)
4. simhash        — 64-bit bitwise sketch, hamming-banded
5. embedding      — semantic near-dup via cosine (see similarity.py)

Everything is DataFrame ops: explode → groupBy → self-join on
bucket keys. No Python UDFs; the hashes are ``xxhash64`` (JVM,
codegen). At scale the shuffle keys are (shingle) / (band, signature) /
(chunk) — all high-cardinality, so partitions stay balanced; the
classic skew risk (a shingle present in half the corpus) is removed by
the document-frequency cap ``max_df``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_scd_spark.functions import text as TXT
from pyspark_scd_spark.operators.quality import observed_aggregates


def exact_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-duplicate groups by normalized-content fingerprint.

    Returns one row per document with its group's canonical (minimum)
    id and the group size — callers keep ``doc_id == canonical_id`` to
    dedup. One shuffle on the 128-bit fingerprint; no skew (identical
    texts are the only collisions).
    """
    h = df.select(
        F.col(id_col), TXT.fingerprint(text_col).alias("fp")
    )
    w = Window.partitionBy("fp")
    return (
        h.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .select(id_col, "canonical_id", "n_copies")
    )


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc; optionally drop shingles
    occurring in more than ``max_df`` documents (stop-shingles create
    quadratic join blowup and carry no discriminative signal)."""
    # Bind the token array to a real column BEFORE the shingle lambda:
    # inlining tokens(text) into word_shingles makes Spark re-evaluate
    # the split+filter for every element_at inside the transform —
    # O(len²) per document (measured 13s -> 0.5s at sf0.1).
    toks = df.select(
        F.col(id_col).alias("__id"), TXT.tokens(text_col).alias("__toks")
    )
    # Shingles leave this function as 64-bit xxhash64 values, not
    # strings: every downstream consumer (the distinct here, the k
    # seeded min-hashes, the inverted-index verify joins) only needs
    # identity, and hashing/shuffling a long costs a fraction of a
    # ~20-char string — the k signature hashes alone were k string
    # hashes per (doc, shingle) row. Collision risk at 64 bits is
    # |shingles|²/2⁶⁵ (~4e-9 for a 260k-shingle corpus) and only
    # perturbs a jaccard count by 1.
    # Docs with fewer than n tokens have no n-shingles in any engine
    # (the oracles' LATERAL range() emits nothing); the filter also
    # keeps word_shingles' sequence(0, size-n) ascending — on
    # size < n the sequence is DESCENDING and element_at hits index
    # <= 0 / out-of-bounds, killing the job on the first empty or
    # punctuation-only document.
    sh = (
        toks.filter(F.size("__toks") >= n)
        .select(
            "__id",
            F.explode(TXT.word_shingles("__toks", n)).alias("__s"),
        )
        .select("__id", F.xxhash64("__s").alias("shingle"))
        .distinct()
    )
    if max_df is not None:
        doc_freq = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("__df")
        )
        sh = (
            sh.join(doc_freq.filter(F.col("__df") <= max_df), "shingle")
            .drop("__df")
        )
    return sh


def shingle_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Public form of the shared shingle pass: the distinct
    (``__id``, shingle-hash) pair set every text-dedup tier consumes.
    Stage it once (``write_staged``) and pass it to
    ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` via ``shingles=``
    — tokenize+shingle+distinct is the widest stage of the whole dedup
    suite, so a pipeline running several tiers should pay it once, not
    once per tier."""
    return _shingles(df, id_col, text_col, n, max_df)


def _identical_set_groups(sh: DataFrame):
    """Collapse identical shingle SETS: (members, rep_shingles).

    A corpus with verbatim duplicates (the normal state of web-scale
    data) multiplies every shingle's document frequency by the copy
    count c, so any shingle-keyed candidate join — the Jaccard
    inverted index, MinHash band buckets — grows ~c². Jaccard and
    every MinHash/band signature depend only on the shingle SET, so
    docs with byte-identical sets are interchangeable: run the
    quadratic stage over one representative per set (``rep_shingles``)
    and expand pairs afterwards (``_expand_rep_pairs``). This is the
    exact-dedup-before-near-dup staging a production corpus pipeline
    performs anyway, done transparently inside the operator.

    ``members``: (__sig, __id, __rep) — every doc with its set
    signature and the group representative (min id). Set-signature
    collisions (two different sets, one xxhash64) are the same
    ~n²/2⁶⁵ class as the shingle-hash collision documented in
    ``_shingles``.
    """
    # hash each element BEFORE the join: the serialized form must be
    # injective for arbitrary caller-provided shingle values (raw
    # strings may contain the separator — {'x,y'} and {'x','y'} would
    # concat identically), so the signature is built over fixed-width
    # per-element xxhash64 digits, which cannot straddle a comma
    from pyspark.sql import Window as W

    sig = sh.groupBy("__id").agg(
        F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.xxhash64(F.col("shingle").cast("string"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("__sig")
    )
    # The group representative (min id per signature) rides a WINDOW
    # over the sig table instead of the old groupBy + join-back chain
    # (r13: sig -> groups -> members was THREE eager checkpoint jobs;
    # the window computes members in ONE job with the same two
    # exchanges — __id aggregate, __sig window — and no caller needs
    # the groups table standalone). Same values: min(__id) per __sig.
    # EAGER checkpoints on the two layers every caller consumes,
    # deliberately — round-10 audit (NOTES.md item 9):
    # localCheckpoint(eager=False) still executes all upstream query
    # stages at call time under AQE (lazy-in-name-only), and cache()
    # — genuinely lazy — loses the sequencing, so AQE's PARALLEL
    # query stages race the shared shingle scan and compute it twice
    # (18.3s -> 32s cold at sf0.1). The visible cost is that building
    # this plan runs jobs, charged at construction rather than first
    # consumption.
    members = sig.withColumn(
        "__rep", F.min("__id").over(W.partitionBy("__sig"))
    ).localCheckpoint()
    rep_sh = sh.join(
        members.filter(F.col("__id") == F.col("__rep")).select("__id"),
        "__id",
    ).localCheckpoint()
    return members, rep_sh


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    include_within: bool = True,
    value_col: str = "jaccard",
) -> DataFrame:
    """Expand representative-level near-dup pairs back to all docs.

    Cross-group doc pairs inherit the rep pair's value verbatim (their
    sets are identical to the reps'); same-group pairs have jaccard
    exactly 1.0 (identical sets) and are emitted whenever 1.0 passes
    the caller's threshold (``include_within``). Output is
    bit-identical to running the uncollapsed pipeline — same integer
    count triples, same double division — and the expansion joins move
    output-sized data only (pairs, members)."""
    ma = members.select(
        F.col("__rep").alias("doc_a"), F.col("__id").alias("__xa")
    )
    mb = members.select(
        F.col("__rep").alias("doc_b"), F.col("__id").alias("__xb")
    )
    cross = rep_pairs.join(ma, "doc_a").join(mb, "doc_b").select(
        F.least("__xa", "__xb").alias("doc_a"),
        F.greatest("__xa", "__xb").alias("doc_b"),
        value_col,
    )
    if not include_within:
        return cross
    wa = members.select("__sig", F.col("__id").alias("__xa"))
    wb = members.select("__sig", F.col("__id").alias("__xb"))
    within = (
        wa.join(wb, "__sig")
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            F.col("__xa").alias("doc_a"),
            F.col("__xb").alias("doc_b"),
            F.lit(1.0).alias(value_col),
        )
    )
    return cross.union(within)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    method: str = "count",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join. Emits
    (doc_a, doc_b, jaccard) for pairs ≥ threshold, doc_a < doc_b.

    ``shingles``: optionally a precomputed ``shingle_pairs`` table
    (already persisted by the caller) — skips the tokenize+shingle
    pass entirely.

    ``method='count'`` (default): shingle inverted-index self-join,
    intersection(a,b) = count of co-occurring shingles, |A∪B| =
    |A|+|B|−∩ — one join + one pair-count aggregate, never an n²
    cross-join.

    ``method='ppjoin'``: AllPairs/PPJoin prefix filtering — also
    exact. Candidates only from the first |r|−⌈t·|r|⌉+1 shingles of
    each doc ordered by ascending global frequency, then verified
    with ``array_intersect`` over full sets. Wins when the shingle
    document-frequency distribution is heavy-tailed (hot
    stop-shingles sit outside every prefix, so the quadratic hot-key
    blowup of 'count' never happens). Loses on template-heavy
    near-uniform corpora where prefixes stay long: measured on the
    sf0.1 documents table (5000 docs, 27k distinct shingles, mean
    df≈10), 'count' counts 1.13M intersecting pairs in one cheap
    aggregate while 'ppjoin' still emits 310k candidates and pays two
    array-verify joins — 'count' is ~2× faster there. At 100 TB with
    a web-scale zipfian shingle distribution the ranking flips; pick
    per corpus.
    """
    if method not in ("count", "ppjoin"):
        raise ValueError(f"unknown method: {method!r}")
    # cached: consumed by the size/frequency tables, the pair join,
    # and (ppjoin) the verification sets — without it the
    # tokenize+explode re-runs per consumer. A caller-staged shingle
    # table is already persisted; don't double-cache it.
    if shingles is not None:
        sh = shingles
    else:
        sh = _shingles(df, id_col, text_col, n, max_df).cache()
    if method == "count":
        # Collapse identical shingle SETS before the quadratic
        # co-occurrence join (see _identical_set_groups): measured
        # 31.7s -> ~2s at 50k docs / 10 verbatim copies each.
        members, rep_sh = _identical_set_groups(sh)
        sizes = rep_sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
        a = rep_sh.select(F.col("__id").alias("doc_a"), "shingle")
        b = rep_sh.select(F.col("__id").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("__i"))
        )
        na = sizes.select(
            F.col("__id").alias("doc_a"), F.col("__n").alias("__na")
        )
        nb = sizes.select(
            F.col("__id").alias("doc_b"), F.col("__n").alias("__nb")
        )
        rep_pairs = (
            inter.join(na, "doc_a")
            .join(nb, "doc_b")
            .withColumn(
                "jaccard",
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
            )
        )
        return _expand_rep_pairs(
            rep_pairs, members, include_within=threshold <= 1.0
        )

    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ordered = sh.join(freq, "shingle").withColumn(
        "__pos",
        F.row_number().over(
            Window.partitionBy("__id").orderBy("__df", "shingle")
        ),
    )
    sized = ordered.withColumn(
        "__n",
        F.count(F.lit(1)).over(
            Window.partitionBy("__id").orderBy("__df", "shingle").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    prefix_len = F.col("__n") - F.ceil(threshold * F.col("__n")) + 1
    prefix = sized.filter(F.col("__pos") <= prefix_len).select(
        "__id", "shingle", "__n"
    )
    pa = prefix.select(
        F.col("__id").alias("doc_a"), "shingle", F.col("__n").alias("__na")
    )
    pb = prefix.select(
        F.col("__id").alias("doc_b"), "shingle", F.col("__n").alias("__nb")
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # size filter: t*|A| <= |B| <= |A|/t or jaccard can't reach t
            & (F.col("__nb") >= F.ceil(threshold * F.col("__na")))
            & (F.col("__na") >= F.ceil(threshold * F.col("__nb")))
        )
        .select("doc_a", "doc_b", "__na", "__nb")
        .distinct()
    )

    # Verify the surviving candidates against the full shingle sets:
    # exact intersection via array_intersect over per-doc arrays. The
    # candidate set is tiny relative to the corpus, so the two id-keyed
    # joins move candidate-sized data, not shingle-sized data.
    sets = sh.groupBy("__id").agg(F.collect_list("shingle").alias("__arr"))
    sa = sets.select(F.col("__id").alias("doc_a"), F.col("__arr").alias("__sa"))
    sb = sets.select(F.col("__id").alias("doc_b"), F.col("__arr").alias("__sb"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "__i", F.size(F.array_intersect("__sa", "__sb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, with_size: bool = False
) -> DataFrame:
    """MinHash signatures from an (``__id``, shingle) pair set.

    ``with_size`` additionally emits ``__n`` = the doc's shingle-set
    size in the SAME aggregate — callers that need set sizes for the
    Jaccard verify (minhash_lsh_pairs) get them without a second
    full pass + exchange over the shingle table (r13)."""
    # k independent seeded hashes. (Kirsch-Mitzenmacher double hashing
    # — h_i = h1 + i*h2 from two base hashes — was benchmarked here:
    # it saved nothing measurable because the banded self-join, not
    # shingle hashing, dominates, and its linear dependence cost ~4%
    # candidate recall at j>=0.5. Independent hashes win.)
    #
    # ONE parsed struct-of-aggregates expression instead of k Column
    # trees (r14): each F.min(F.xxhash64(col, lit)) chain is ~5 py4j
    # round trips, so the 63-hash corpus_release form spent ~0.45 s of
    # driver wall just constructing this aggregate. A single F.expr is
    # one parse; the SQL int literal seed types exactly like F.lit(i)
    # (IntegerType) so the hashes — and the aggregate values — are
    # bit-identical (asserted in tests/test_dedup_expr_forms.py).
    terms = ", ".join(
        f"min(xxhash64(shingle, {i})) AS mh_{i}"
        for i in range(num_hashes)
    )
    if with_size:
        terms += ", count(1) AS __n"
    return (
        sh.groupBy("__id")
        .agg(F.expr(f"struct({terms})").alias("__mh"))
        .select("__id", "__mh.*")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature per document: k independent hash functions
    simulated as ``xxhash64(shingle, seed=i)``; signature[i] = min over
    the doc's shingles. One explode + one groupBy(doc) with k min()
    aggregates — map-side partial aggregation keeps the shuffle at
    |docs|·k, independent of shingle count."""
    sh = _shingles(df, id_col, text_col, n, None)
    return _signatures_from_shingles(sh, num_hashes).withColumnRenamed(
        "__id", id_col
    )


def _band_signatures(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, sig) rows: each band's row-hashes collapsed to one
    64-bit xxhash — the LSH bucket key. Shared by the self-join and
    incremental (batch-vs-store) candidate generators.

    Built as ONE parsed expression (r14, same rationale and
    bit-identity argument as _signatures_from_shingles: named_struct
    int literals type like F.lit(b), xxhash64 over the same columns)."""
    rows_per_band = num_hashes // bands
    arr = ", ".join(
        "named_struct('band', {b}, 'sig', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"mh_{i}"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col).alias("__id"),
        F.expr(f"explode(array({arr}))").alias("bs"),
    ).select(
        "__id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs_incremental(
    store: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    store_shingles: DataFrame | None = None,
    store_banded: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest near-dup: candidates ONLY between the NEW batch
    and the existing store — the incremental shape where store↔store
    pairs were settled by earlier runs and batch↔batch dups get their
    own (much smaller) self-pass. Band signatures for the store are
    the persistable artifact: pass ``store_banded`` (the persisted
    (id, band, sig) table from earlier runs — write it with
    ``write_staged``) and ``store_shingles`` (or let the verify tier
    re-shingle the store; at 100 TB persist both, or re-shingle just
    the candidate store docs) so each day's work is O(batch) + one
    band join, never O(corpus²) and never a history re-scan.

    Returns (store_id, batch_id, jaccard ≥ verify_threshold) — exact
    Jaccard verification on the candidate pairs only, same
    recall-by-band-margin argument as ``minhash_lsh_pairs``.

    Cache lifetime: the internal shingle caches persist until Spark's
    LRU evicts them; a daily-batch driver looping over many batches
    should pass pre-staged ``store_shingles``/``store_banded`` (no
    internal cache is taken then) or clearCache() between batches.
    """
    sh_s = (
        store_shingles
        if store_shingles is not None
        else _shingles(store, id_col, text_col, n, None).cache()
    )
    sh_b = _shingles(batch, id_col, text_col, n, None).cache()
    b_s = (
        store_banded
        if store_banded is not None
        else _band_signatures(
            _signatures_from_shingles(sh_s, num_hashes),
            "__id",
            num_hashes,
            bands,
        )
    )
    b_b = _band_signatures(
        _signatures_from_shingles(sh_b, num_hashes), "__id", num_hashes,
        bands,
    )
    cand = (
        b_s.select(
            F.col("__id").alias("store_id"), "band", "sig"
        )
        .join(
            b_b.select(
                F.col("__id").alias("batch_id"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .select("store_id", "batch_id")
        .distinct()
    )
    sizes_s = sh_s.groupBy("__id").agg(F.count(F.lit(1)).alias("__na"))
    sizes_b = sh_b.groupBy("__id").agg(F.count(F.lit(1)).alias("__nb"))
    cand_sh = sh_s.select(
        F.col("__id").alias("store_id"), "shingle"
    ).join(cand, "store_id")
    inter = (
        cand_sh.join(
            sh_b.select(F.col("__id").alias("batch_id"), "shingle"),
            ["batch_id", "shingle"],
        )
        .groupBy("store_id", "batch_id")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    j = (
        inter.join(
            sizes_s.select(F.col("__id").alias("store_id"), "__na"),
            "store_id",
        )
        .join(
            sizes_b.select(F.col("__id").alias("batch_id"), "__nb"),
            "batch_id",
        )
        .withColumn(
            "__j",
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("__j") >= verify_threshold)
    )
    return j.select(
        "store_id", "batch_id", F.round("__j", 4).alias("jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact Jaccard verify.

    bands=8 × rows=4 over 32 hashes → collision prob ≈
    1−(1−j⁴)⁸ (≈0.97 at j=0.7, ≈0.03 at j=0.2). Candidates = docs
    sharing any band signature (self-join on (band, hash-of-rows));
    survivors verified with exact Jaccard ≥ verify_threshold.

    Scale: signatures are |docs| rows; the band join key is a 64-bit
    hash, so bucket sizes stay tiny unless docs truly collide.

    ``shingles``: optionally a precomputed, caller-persisted
    ``shingle_pairs`` table — skips the tokenize+shingle pass.
    """
    rows_per_band = num_hashes // bands
    # ONE shingle pass feeds both the signature build and the exact
    # verify below — shingling (tokenize + explode + distinct) is the
    # widest stage in the whole pipeline, so computing it twice doubled
    # the dominant cost. Cache is per-partition columnar and bounded by
    # the distinct (id, shingle) set.
    if shingles is not None:
        sh = shingles
    else:
        sh = _shingles(df, id_col, text_col, n, None).cache()
    # Identical-set collapse (see _identical_set_groups): MinHash
    # signatures, band buckets, and exact Jaccard all depend only on
    # the shingle SET, so verbatim duplicates — which make band
    # buckets and the candidate verify ~c² in the copy count — run
    # once via their representative and expand at the end.
    members, sh = _identical_set_groups(sh)
    # with_size: the Jaccard verify's set sizes ride the signature
    # aggregate (same groupBy(__id) exchange) instead of a second
    # full pass over the shingle table (r13).
    sig = _signatures_from_shingles(
        sh, num_hashes, with_size=True
    ).withColumnRenamed("__id", id_col)

    banded = _band_signatures(sig, id_col, num_hashes, bands)

    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("doc_a"), F.col("y.__id").alias("doc_b")
        )
        .distinct()
    )

    # Exact-verify ONLY the candidate pairs: attach each candidate's
    # a-side shingles, intersect against the b-side inverted index —
    # work ∝ |candidates|·shingles/doc, not all co-occurring pairs
    # (verifying via a full-corpus jaccard join would redo the O(df²)
    # blowup LSH exists to avoid).
    sizes = sig.select(F.col(id_col).alias("__id"), "__n")
    # No broadcast hint: a cluster of k near-identical docs yields
    # ~k²/2 candidate pairs, so cand is NOT bounded in adversarial
    # corpora — AQE picks broadcast when it actually fits and degrades
    # to a shuffle join when it doesn't.
    cand_sh = sh.select(F.col("__id").alias("doc_a"), "shingle").join(
        cand, "doc_a"
    )
    inter = (
        cand_sh.join(
            sh.select(F.col("__id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    na = sizes.select(F.col("__id").alias("doc_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("doc_b"), F.col("__n").alias("__nb"))
    # threshold on the UNROUNDED ratio (the oracle and the incremental
    # tier both do) — rounding first would admit pairs up to half an
    # ulp-at-4dp below the threshold and diverge from both
    rep_pairs = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "__j",
            F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("__j") >= verify_threshold)
        .select(
            "doc_a", "doc_b", F.round("__j", 4).alias("jaccard")
        )
    )
    # Within-group pairs: identical sets -> identical signatures ->
    # band collision guaranteed -> exact jaccard 1.0, emitted iff the
    # threshold admits 1.0 — exactly what the uncollapsed pipeline
    # would produce for them.
    return _expand_rep_pairs(
        rep_pairs, members, include_within=verify_threshold <= 1.0
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document from its token multiset.

    Per token: xxhash64 → 64 bits; per bit position the corpus-classic
    ±1 vote; sign of the summed vote → signature bit. Implemented as
    explode → per-bit conditional sum → bit reassembly, all JVM-side.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(TXT.tokens(text_col)).alias("tok"),
    )
    h = toks.withColumn("__h", F.xxhash64("tok"))
    one = F.lit(1).cast("long")
    votes = h.groupBy("__id").agg(
        *[
            F.sum(
                # shiftleft, not a lit(1 << i) literal: 1 << 63 overflows
                # a signed 64-bit literal, shiftleft wraps correctly
                F.when(
                    F.col("__h").bitwiseAND(F.shiftleft(one, i)) != 0, 1
                ).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(64)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v_{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(64)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc.bitwiseOR(t)
    return votes.select(F.col("__id").alias(id_col), acc.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips via chunk-banding.

    Pigeonhole: two signatures ≤ 3 bits apart must agree exactly on at
    least one of 4 16-bit chunks → join on (chunk_idx, chunk_value),
    then exact popcount filter. Same scaling shape as MinHash LSH.
    """
    sig = simhash_signatures(df, id_col, text_col)
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    chunked = sig.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("__id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))

    cand = (
        chunked.alias("x")
        .join(
            chunked.alias("y"),
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("doc_a"),
            F.col("y.__id").alias("doc_b"),
            F.col("x.simhash").alias("__sa"),
            F.col("y.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_signatures_md5(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash from md5-derived token bits, split into two 32-bit
    halves — the cross-engine-reproducible twin of
    ``simhash_signatures``.

    The xxhash64 form is the fast path, but no other engine computes
    Spark's xxhash64, so it can only ever be rows-only checked. md5 is
    a standard both Spark and DuckDB expose with identical hex output:
    per token, bit i comes from hex digit i//2 (2 bits per digit, 64
    bits from 32 digits), the per-bit ±1 vote sum is unchanged, and
    the signature packs as (sig_lo, sig_hi) 32-bit halves — avoiding
    the 2^63 signed-overflow a single BIGINT rebuild would hit in SQL.
    ``duckdb_simhash_cte`` emits the byte-identical oracle SQL.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(TXT.tokens(text_col)).alias("tok"),
    )
    h = toks.withColumn("m", F.md5("tok"))

    def bit(i: int):
        nib = F.conv(F.substring("m", i // 2 + 1, 1), 16, 10).cast("int")
        return F.shiftrightunsigned(nib, i % 2).bitwiseAND(F.lit(1))

    votes = h.groupBy("__id").agg(
        *[
            F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"v_{i}")
            for i in range(64)
        ]
    )

    def pack(lo_bit: int) -> "F.Column":
        acc = F.lit(0).cast("long")
        for i in range(32):
            acc = acc + F.when(
                F.col(f"v_{lo_bit + i}") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return acc

    return votes.select(
        F.col("__id").alias(id_col),
        pack(0).alias("sig_lo"),
        pack(32).alias("sig_hi"),
    )


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within ``max_hamming`` of the md5-bit SimHash, via the
    same pigeonhole chunk-banding as ``simhash_pairs`` (4 chunks of 16
    bits: ≤3 flips leave at least one chunk identical, so banding is
    LOSSLESS — the output deterministically equals the brute-force
    all-pairs filter the DuckDB oracle runs).
    """
    sig = simhash_signatures_md5(df, id_col, text_col)
    mask = (1 << 16) - 1
    chunk_exprs = [
        F.col("sig_lo").bitwiseAND(F.lit(mask)),
        F.shiftrightunsigned("sig_lo", 16).bitwiseAND(F.lit(mask)),
        F.col("sig_hi").bitwiseAND(F.lit(mask)),
        F.shiftrightunsigned("sig_hi", 16).bitwiseAND(F.lit(mask)),
    ]
    chunked = sig.select(
        F.col(id_col).alias("__id"),
        "sig_lo",
        "sig_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), c.alias("cv"))
                    for i, c in enumerate(chunk_exprs)
                ]
            )
        ).alias("c"),
    ).select(
        "__id", "sig_lo", "sig_hi",
        F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"),
    )
    cand = (
        chunked.alias("x")
        .join(
            chunked.alias("y"),
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(
            F.col("x.__id").alias("doc_a"),
            F.col("y.__id").alias("doc_b"),
            F.col("x.sig_lo").alias("__la"),
            F.col("x.sig_hi").alias("__ha"),
            F.col("y.sig_lo").alias("__lb"),
            F.col("y.sig_hi").alias("__hb"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("__la").bitwiseXOR(F.col("__lb")))
        + F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duckdb_simhash_cte(max_hamming: int = 3) -> str:
    """DuckDB SQL computing exactly ``simhash_pairs_md5`` over the
    ``documents`` view — brute-force all pairs (no banding needed:
    banding is lossless, so the banded Spark output equals this
    filter). Generated, because it needs 64 per-bit vote sums."""
    vote_terms = ",\n        ".join(
        (
            f"SUM(CASE WHEN (strpos('0123456789abcdef', "
            f"substr(m, {i // 2 + 1}, 1)) - 1 >> {i % 2}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) AS v_{i}"
        )
        for i in range(64)
    )

    def pack(lo_bit: int) -> str:
        return " + ".join(
            f"(CASE WHEN v_{lo_bit + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        )

    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text),
                    '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM documents),
    h AS (SELECT doc_id, md5(tok) AS m FROM toks),
    v AS (SELECT doc_id,
        {vote_terms}
      FROM h GROUP BY doc_id),
    s AS (SELECT doc_id,
                 {pack(0)} AS sig_lo,
                 {pack(32)} AS sig_hi
          FROM v)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig_lo, b.sig_lo))
                + bit_count(xor(a.sig_hi, b.sig_hi)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig_lo, b.sig_lo))
          + bit_count(xor(a.sig_hi, b.sig_hi)) <= {max_hamming}
    """


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    strategy: str = "auto",
    local_edge_limit: int = 5_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair set.

    The last mile of dedup: pair emitters (ngram_jaccard_pairs,
    minhash_lsh_pairs, simhash_pairs) find edges; clustering them and
    electing one survivor per component is what actually removes rows.
    The reference has no analogue (its dedup is single-table
    row_number, jobs/create_employee_all.py:74-81); this is the
    standard closure step of a corpus pipeline.

    Distributed algorithm: min-label propagation with pointer jumping
    — each round relaxes labels across edges (label(v) := min over
    neighbors) and then jumps (label(v) := label(label(v))), so chains
    collapse in O(log diameter) rounds, not O(diameter). Rounds are
    two shuffles; lineage is cut with localCheckpoint every round
    (iterative DataFrame plans otherwise grow without bound and
    re-execute under AQE), and the convergence test's exact-decimal
    label sum is observed during that checkpoint, so it costs no job
    of its own. Labels only decrease, so the label-sum is strictly
    decreasing until the fixpoint — equality of consecutive sums is
    the stop test, with no old-vs-new join.

    ``strategy``: the edge set of a deduplicated corpus is typically
    tiny relative to the corpus (pairs, not documents). 'auto' counts
    raw pairs once and, below ``local_edge_limit``, solves on the
    driver with a vectorized numpy min-label kernel instead of 3-5
    distributed rounds — the same small-side-goes-local call Spark
    itself makes when it broadcasts a join side. The local path skips
    the mirror+distinct shuffle entirely (its kernel relaxes both
    edge directions itself), so its cost is one Arrow transfer plus
    sub-second numpy work. 'distributed' / 'local' force a path
    ('local' raises if the pair count exceeds the limit rather than
    silently OOMing the driver).

    Returns one row per node appearing in ``pairs``:
    (``src_col``, ``component``), component = min node id reachable.
    """
    # Materialize the pair generator ONCE up front: both the local
    # Arrow transfer and the distributed mirror reference it, and
    # without this checkpoint the upstream similarity self-join runs
    # twice (measured ~2x the whole query's cost at sf0.1).
    p = pairs.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).localCheckpoint()
    if strategy not in ("auto", "distributed", "local"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if strategy != "distributed":
        n_edges = p.count()  # free: localCheckpoint already ran
        if n_edges <= local_edge_limit:
            return _cc_union_find_local(p, src_col)
        if strategy == "local":
            raise ValueError(
                f"{n_edges} edges exceeds local_edge_limit="
                f"{local_edge_limit}; use strategy='distributed'"
            )
    # The mirrored+distinct edge set is checkpointed too, since every
    # propagation round re-reads it.
    edges = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    prev_sum = None
    for _ in range(max_iter):
        cand = edges.join(labels, edges.a == labels.id).select(
            F.col("b").alias("id"), F.col("label")
        )
        relaxed = (
            labels.union(cand).groupBy("id").agg(F.min("label").alias("label"))
        )
        parent = relaxed.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        # the convergence sum is observed while the checkpoint runs:
        # no job of its own
        label_sum = Observation()
        labels = (
            relaxed.join(parent, relaxed.label == F.col("pid"))
            .select("id", F.col("plabel").alias("label"))
            .observe(
                label_sum,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            )
            .localCheckpoint()
        )
        s = label_sum.get["s"]
        if prev_sum is not None and s == prev_sum:
            break
        prev_sum = s
    return labels.select(
        F.col("id").alias(src_col), F.col("label").alias("component")
    )


def survivors(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The deduplicated corpus: drop every clustered document except
    its component's canonical (minimum-id) member.

    ``components`` is connected_components() output — (id, component)
    for documents that appear in at least one near-dup pair; documents
    absent from it are singletons and survive untouched. The drop set
    (id != component) is usually a small fraction of the corpus, so
    the anti-join broadcasts it when stats allow; rows of ``df`` never
    shuffle.
    """
    drop = components.filter(
        F.col(components.columns[0]) != F.col("component")
    ).select(F.col(components.columns[0]).alias("__drop_id"))
    return df.join(
        drop, df[id_col] == F.col("__drop_id"), "left_anti"
    )


def _cc_union_find_local(edges: DataFrame, src_col: str) -> DataFrame:
    """Driver closure for small edge sets, vectorized in numpy.

    ``edges`` is the RAW pair set (unmirrored, possibly with
    duplicates or self-loops) — the kernel relaxes both directions of
    every pair itself, so the caller never pays a mirror+distinct
    shuffle for the local path.

    Labels match the distributed path exactly: every component is
    labeled by its minimum node id. The old implementation collected
    py4j Row objects into a Python-dict union-find and cost ~50 s at
    2M edges (Row materialization + per-edge dict churn); this one
    moves the edge list over Arrow and runs min-label propagation
    with pointer jumping on integer-code arrays — the same algorithm
    as the distributed path, but each round is two ``np.minimum.at``
    scatters plus gather-squaring, so 2M edges close in well under a
    second. ``np.unique`` returns SORTED uniques, making the integer
    codes order-isomorphic to the original ids: the min over codes is
    the min over ids for any orderable id type (ints, strings)."""
    import numpy as np

    pdf = edges.toPandas()
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    nodes = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(nodes, a)
    cb = np.searchsorted(nodes, b)
    lab = np.arange(len(nodes))
    while True:
        new = lab.copy()
        np.minimum.at(new, ca, lab[cb])
        np.minimum.at(new, cb, lab[ca])
        while True:  # pointer jumping: collapse label chains
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    out = pd.DataFrame({"a": nodes, "component": nodes[lab]})
    schema = T.StructType(
        [
            T.StructField(src_col, edges.schema["a"].dataType),
            T.StructField("component", edges.schema["a"].dataType),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema=schema)


def span_overlap_pairs(
    df: DataFrame,
    min_shared: int = 3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Substring-level near-dup candidates via shared winnowing
    fingerprints — the scalable stand-in for exact-substring dedup
    (Lee et al.'s ExactSubstr): two documents sharing ≥ ``min_shared``
    winnow fingerprints share, with high probability, that many
    distinct substrings of length ≥ k+window−1 — boilerplate headers,
    quoted passages, templated spans — which shingle-set Jaccard
    dilutes away on long documents.

    Plan: fingerprints (functions/text.py winnow_fingerprint_rows, ~
    1/window of the gram hashes) → drop hub fingerprints appearing in
    more than ``max_df`` docs (the stop-shingle cap that bounds the
    self-join's worst key to max_df², same as ngram_jaccard_pairs) →
    inverted-index self-join on fingerprint → per-pair shared count.
    One exchange of the fingerprint rows; never all-pairs.

    Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    fps = TXT.winnow_fingerprint_rows(
        df, id_col=id_col, text_col=text_col, k=k, window=window,
        hash_fn=hash_fn,
    )
    keep = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fingerprint")
    )
    kept = fps.join(keep, "fingerprint")
    a = kept.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = kept.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def incremental_cluster_assign(
    store_clusters: DataFrame,
    cross_pairs: DataFrame,
    batch_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign a NEW batch's documents to the store's existing near-dup
    clusters — the daily continuation of ``connected_components``
    without re-clustering history: a batch doc joins the minimum
    cluster among its matched store docs (a matched store doc that
    was a singleton contributes its own id); unmatched docs open new
    singleton clusters (``is_new_cluster``). Intra-batch merges
    belong to the batch's own (small) self-pass — documented
    limitation of the incremental form, same contract as
    ``minhash_lsh_pairs_incremental``.

    Inputs: ``store_clusters`` (doc_id, component) from the store's
    CC run — matched store docs absent from it are treated as
    singletons; ``cross_pairs`` (store_id, batch_id) from the
    incremental matcher; ``batch_ids`` the batch's id column. All
    joins are id-keyed and batch-sized — history never rescans.
    """
    sc = store_clusters.select(
        F.col(id_col).alias("store_id"), F.col("component")
    )
    assign = (
        cross_pairs.select("store_id", "batch_id")
        .join(sc, "store_id", "left")
        .select(
            "batch_id",
            F.coalesce("component", F.col("store_id")).alias("__c"),
        )
        .groupBy("batch_id")
        .agg(F.min("__c").alias("__cluster"))
    )
    return (
        batch_ids.select(F.col(id_col))
        .join(
            assign, F.col(id_col) == F.col("batch_id"), "left"
        )
        .select(
            id_col,
            F.coalesce("__cluster", F.col(id_col)).alias("cluster_id"),
            F.col("__cluster").isNull().alias("is_new_cluster"),
        )
    )


MINHASH_P = 2147483647  # 2^31 − 1, prime


def minhash_universal_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal hash family
    h_i(x) = (a_i·x + b_i) mod MINHASH_P — LCG-derived so Spark
    builders and SQL oracle generators interpolate identical
    literals. a_i is kept nonzero."""
    out = []
    for i in range(1, k + 1):
        a = (1103515245 * i + 12345) % MINHASH_P or 1
        b = (2654435761 * i) % MINHASH_P
        out.append((a, b))
    return out


def minhash_recall_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Measured-vs-theoretical recall of a banded MinHash LSH config
    against the exact Jaccard tier — the tuning artifact you produce
    BEFORE committing a (bands × rows) config to a 100 TB dedup run.

    Unlike the production ``minhash_lsh_pairs`` (xxhash64 family,
    whose oracle is the recall-1-by-construction equivalence
    argument), the hash family here is the 60-bit md5 of ``'i:' ||
    shingle`` — replayable bit-exactly by any engine with md5 — and
    the config is deliberately WEAK (the registered form is 16
    hashes as 2 bands × 8 rows: expected recall is ≈0.47 at j=0.85
    and ≈0.89 at j=0.95), so the report exercises real misses, not a
    vacuous all-1 column.

    Per jaccard decile of the exact-pair set: (band_lo = ⌊10·j⌋,
    n_pairs, n_caught, recall, expected_recall) where expected_recall
    evaluates 1−(1−m^r)^b at the decile midpoint.

    Scale shape: the k min-hashes are k map-side-combined MIN
    aggregates over the (doc, shingle) rows — ONE exchange, no row
    multiplication by k; band rows multiply only at doc granularity
    (b per doc); candidates come from the band-key equi-join. The
    exact tier reuses ngram_jaccard_pairs (inverted index +
    identical-set collapse). The report joins pair-keyed relations —
    both co-partition on (doc_a, doc_b).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    toks = df.select(
        F.col(id_col).alias("__id"), TXT.tokens(text_col).alias("__toks")
    )
    # string shingles here (not _shingles' xxhash64): the md5 hash
    # family must see byte-identical inputs in both engines
    # word_shingles is already distinct-per-doc and the per-doc MIN
    # aggregates are duplicate-insensitive, so NO corpus-wide distinct
    # here — the signature stage's only exchange is the groupBy(__id).
    # Docs shorter than n tokens have no shingles in either engine
    # (and the filter keeps sequence(0, size-n) ascending).
    sh = toks.filter(F.size("__toks") >= n).select(
        "__id",
        F.explode(TXT.word_shingles(F.col("__toks"), n)).alias("__s"),
    )

    # ONE md5 per shingle row, then k derivations from the universal
    # family h_i = (a_i*h0 + b_i) mod p (p = 2^31−1; constants from
    # minhash_universal_constants, the same formula the oracle
    # generator interpolates). 16 independent md5+conv calls per row
    # were the stage wall (4.5s -> ~1s at sf0.1); products stay under
    # 2^62 so the modular arithmetic is overflow-free BIGINT in both
    # engines.
    hashed = sh.select(
        "__id",
        F.expr(
            "cast(conv(substr(md5(__s), 1, 15), 16, 10) as bigint) "
            f"% {MINHASH_P}"
        ).alias("__h0"),
    )
    consts = minhash_universal_constants(num_hashes)
    sig = hashed.groupBy("__id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("__h0") + F.lit(b)) % F.lit(MINHASH_P)
            ).alias(f"__m{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    band_rows = sig.select(
        "__id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.col(
                                f"__m{b * rows_per_band + r}"
                            ).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__b", "__sig"),
        # materialized: the candidate self-join reads it twice, and
        # without the checkpoint each leg re-runs the whole
        # shingle+signature pipeline (measured ~2x the stage cost)
    ).localCheckpoint()
    cand = (
        band_rows.alias("x")
        .join(band_rows.alias("y"), ["__b", "__sig"])
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("doc_a"), F.col("y.__id").alias("doc_b")
        )
        .distinct()
    )
    exact = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col, n=n, threshold=threshold
    )
    j = exact.join(
        cand.withColumn("__c", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    band_lo = F.floor(F.col("jaccard") * 10).cast("int")
    mid = F.least(F.col("band_lo") / 10.0 + 0.05, F.lit(1.0))
    return (
        j.groupBy(band_lo.alias("band_lo"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce("__c", F.lit(0))).cast("long").alias(
                "n_caught"
            ),
        )
        .withColumn(
            "recall", F.round(F.col("n_caught") / F.col("n_pairs"), 4)
        )
        .withColumn(
            "expected_recall",
            F.round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.pow(mid, F.lit(rows_per_band)),
                    F.lit(bands),
                ),
                4,
            ),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate matrix — the provenance artifact
    behind every corpus datacard: WHICH sources copy from which
    (mirrors, scrapes of the same upstream, license laundering).
    One row per unordered source pair with at least one duplicate
    pair: (source_a <= source_b, n_dup_pairs).

    Never materializes doc-level duplicate pairs: duplicate groups
    reduce to per-(fingerprint, source) COUNTS first, and the pair
    arithmetic runs on that histogram (within-source C(n,2),
    cross-source n_a*n_b) — so a pathological 1M-copy document costs
    one histogram row per source, not 10^12 join rows. Two
    fingerprint-keyed aggregates + one histogram self-join.
    """
    counts = (
        df.select(
            TXT.fingerprint(text_col).alias("__fp"),
            F.col(source_col).alias("__src"),
        )
        .groupBy("__fp", "__src")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # keep only fingerprints with >1 doc overall (duplicate groups)
    dup_fp = (
        counts.groupBy("__fp")
        .agg(F.sum("__n").alias("__tot"))
        .filter(F.col("__tot") > 1)
        .select("__fp")
    )
    h = counts.join(dup_fp, "__fp")
    a = h.select("__fp", F.col("__src").alias("__sa"), F.col("__n").alias("__na"))
    b = h.select("__fp", F.col("__src").alias("__sb"), F.col("__n").alias("__nb"))
    pairs = (
        a.join(b, "__fp")
        .filter(F.col("__sa") <= F.col("__sb"))
        .select(
            F.col("__sa").alias("source_a"),
            F.col("__sb").alias("source_b"),
            F.when(
                F.col("__sa") == F.col("__sb"),
                (F.col("__na") * (F.col("__na") - 1) / 2).cast("long"),
            )
            .otherwise((F.col("__na") * F.col("__nb")).cast("long"))
            .alias("__p"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("__p").cast("long").alias("n_dup_pairs"))
        .filter(F.col("n_dup_pairs") > 0)
    )


def dedup_saturation_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_slices: int = 10,
) -> DataFrame:
    """Dedup saturation curve — is more data still NEW data? The
    corpus is replayed in ingest order (ascending id) in
    ``n_slices`` equal slices; per slice: how many docs are first
    occurrences of their content vs copies of something already
    ingested, and the cumulative unique share. A flattening curve is
    the signal to stop crawling a source (the scaling-law datapoint
    every corpus team tracks).

    Scale shape: first-occurrence election is one window over the
    content fingerprint (dedup_exact's shape); slice assignment uses
    ntile over ids — a SECOND corpus-wide sort exchange, acceptable
    here because the slice boundary is rank-based; with a known id
    range, a width_bucket-style map would drop it. The curve itself
    aggregates to ``n_slices`` rows.
    """
    h = df.select(
        F.col(id_col).alias("__id"),
        TXT.fingerprint(text_col).alias("__fp"),
    )
    is_first = (
        F.row_number().over(
            Window.partitionBy("__fp").orderBy("__id")
        )
        == 1
    )
    sliced = h.select(
        "__id",
        is_first.cast("long").alias("__new"),
        F.ntile(n_slices)
        .over(Window.orderBy("__id"))
        .alias("slice_no"),
    )
    per = sliced.groupBy("slice_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__new").cast("long").alias("n_new"),
    )
    w = Window.orderBy("slice_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "slice_no",
        "n_docs",
        "n_new",
        F.round(F.col("n_new") / F.col("n_docs"), 4).alias("new_rate"),
        F.round(
            F.sum("n_new").over(w) / F.sum("n_docs").over(w), 4
        ).alias("cum_unique_share"),
    )


def suffix_ranks_prefix_doubling(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rank_col: str = "suffix_rank",
) -> DataFrame:
    """Corpus SUFFIX-ARRAY ranks by distributed prefix doubling — the
    real index behind ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), where
    ``dedup_span_overlap`` is the winnowing stand-in: rank every
    suffix of every document in one global lexicographic order, so
    equal-rank runs ARE repeated substrings across the corpus.

    Construction (O(log max_len) rounds, each one hash join + one
    range exchange — never a single-partition sort):

    - positions encode as ``doc_id·stride + offset`` with
      ``stride = 2·max_len + 1`` — STRICTLY more than offset + the
      largest doubling step (the last step is the power of two below
      max_len), so ``pos + k`` past a document's end lands in the
      gap between documents, finds no row, and ranks as the −1
      sentinel: EXACTLY end-of-string semantics, no separator rows,
      and no cross-document phantom reads (a bare ``max_len + 1``
      stride lets late rounds roll into the next document's range
      and break verbatim-duplicate ties nondeterministically);
    - round 0 ranks are raw ascii codes (the corpus is ASCII — the
      multimodal entries' verified assumption), so byte order equals
      lexicographic order with zero exchanges spent;
    - each doubling round joins rank[pos] with rank[pos+k]
      (sentinel −1 when absent) and re-ranks the pair with
      ``global_dense_rank`` (operators/ranking.py) — the range-
      partitioned, bounded-driver-state global ranking; per-round
      ``localCheckpoint`` cuts the iterative lineage (the
      scd_merge / pagerank device).

    Ties in the result are REAL: identical suffixes (verbatim
    repeated text) share a rank at every round, so the output is
    deterministic and its dense ranks replay in one SQL window —
    ``DENSE_RANK() OVER (ORDER BY suffix_string)`` — because the −1
    sentinel orders a proper prefix before every extension, exactly
    like byte-wise string comparison.

    Returns (id, pos_in_doc 0-based, rank_col). At 100 TB this is
    the documented heavyweight: ~log₂(max_len) corpus exchanges to
    build, amortized over every substring-dedup query it serves.
    """
    from pyspark_scd_spark.operators.ranking import global_dense_rank

    t = df.select(F.col(id_col), F.col(text_col)).filter(
        F.length(text_col) >= 1
    )
    ranks, stride, mx = _prefix_pos_ranks(t, id_col, text_col)
    if not mx:
        return t.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("pos_in_doc"),
            F.lit(0).cast("long").alias(rank_col),
        ).limit(0)
    if mx == 1:
        # no doubling round ran — densify the raw codes so the
        # contract (ranks are DENSE 1..D) holds for 1-char corpora
        return global_dense_rank(
            ranks, ["__r"], rank_col="__nr"
        ).select(
            F.floor(F.col("__pos") / stride).cast("long").alias(id_col),
            (F.col("__pos") % stride).cast("long").alias("pos_in_doc"),
            F.col("__nr").cast("long").alias(rank_col),
        )
    return ranks.select(
        F.floor(F.col("__pos") / stride).cast("long").alias(id_col),
        # posexplode offsets are 0-based already
        (F.col("__pos") % stride).cast("long").alias("pos_in_doc"),
        F.col("__r").cast("long").alias(rank_col),
    )


def _prefix_pos_ranks(
    t: DataFrame,
    id_col: str,
    text_col: str,
    upto: int | None = None,
):
    """Prefix-doubling position ranks shared by the full suffix-array
    build (``suffix_ranks_prefix_doubling``) and the ExactSubstr span
    cutter (``dedup_exact_substrings``): returns ``(ranks, stride,
    mx)`` where ``ranks`` is (``__pos`` = id·stride + 0-based offset,
    ``__r``), ``__r`` equality ⟺ equality of the suffixes' first
    ``min(2^ceil(log2(upto or mx)), covered)`` characters (truncated
    suffixes rank distinctly from any full window via the −1
    sentinel). With ``upto=h`` (a power of two) the loop stops once
    ranks reflect an h-char prefix — ⌈log₂ h⌉ rounds instead of
    ⌈log₂ max_len⌉, which is the whole point for fixed-window
    queries. ``mx == 0`` means the corpus is empty (ranks unusable);
    ``mx == 1`` means raw ascii codes were returned un-densified.

    Storage discipline: each round pins TWO corpus-positions-sized
    localCheckpoints (global_dense_rank's range-pinned pass + the
    round's ranks). Once round N's ranks have materialized
    (eager=True), round N−1's blocks are garbage; unpersist them
    immediately via their JVM RDD handles — otherwise peak pinned
    storage is ~2·log₂(max_len) copies of the position table.
    """
    from pyspark_scd_spark.operators.ranking import (
        checkpoint_rdd_handle,
        global_dense_rank,
    )

    mx = observed_aggregates(t, F.max(F.length(text_col)).alias("mx"))["mx"]
    if not mx:
        return None, 0, 0
    mx = int(mx)
    stride = 2 * mx + 1
    codes = t.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length({text_col})), "
                f"i -> ascii(substring({text_col}, i, 1)))"
            )
        ).alias("__i", "__code"),
    )
    ranks = codes.select(
        (F.col(id_col) * stride + F.col("__i")).alias("__pos"),
        F.col("__code").cast("long").alias("__r"),
    ).localCheckpoint(eager=True)
    # after the round with step k the rank reflects a 2k-char prefix;
    # stop once k >= lim (every suffix covered to the target). The
    # last step is therefore the power of two below mx — the stride
    # bound above.
    lim = min(mx, upto) if upto else mx
    stale: list = []  # round N−1's pinned JVM RDDs
    k = 1
    while k < lim:
        shifted = ranks.select(
            (F.col("__pos") - k).alias("__pos"),
            F.col("__r").alias("__r2"),
        )
        paired = (
            ranks.join(shifted, "__pos", "left")
            .select(
                "__pos",
                "__r",
                F.coalesce("__r2", F.lit(-1)).alias("__r2"),
            )
        )
        fresh: list = []  # this round's intermediate (gdr's pinned pass)
        prev_handle = checkpoint_rdd_handle(ranks)
        ranks = (
            global_dense_rank(
                paired, ["__r", "__r2"], rank_col="__nr", _cleanup=fresh
            )
            .select("__pos", F.col("__nr").alias("__r"))
            .localCheckpoint(eager=True)
        )
        # ranks is now materialized data: the previous round's ranks
        # AND this round's gdr intermediate are both unreachable.
        if prev_handle is not None:
            stale.append(prev_handle)
        stale.extend(fresh)
        for h in stale:
            try:
                h.unpersist(False)
            except Exception:
                pass
        stale = []
        k *= 2
    return ranks, stride, mx


def dedup_exact_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
) -> DataFrame:
    """ExactSubstr dedup MATERIALIZED (Lee et al. 2022): cut from
    every document every byte that lies inside a length-``min_len``
    window whose content occurs ≥ 2 times anywhere in the corpus
    (position-level count, so overlapping self-repeats within one
    document count too — the paper's semantics, where BOTH copies of
    a duplicated span are removed since each occurrence is judged
    independently). ``suffix_ranks_prefix_doubling`` builds the
    index's hard part; this locates and cuts the spans.

    Per doc: (id, n_dup_windows, cut_bytes, kept_len, kept_md5) —
    the md5 pins every byte of the cut corpus for the oracle.

    Two physical strategies behind one semantics, chosen by wire
    width: at ``min_len <= 32`` the raw L-gram is grouped DIRECTLY
    (it costs no more shuffled than a 16-byte rank pair, and skips
    every doubling round); above that the rank-pair path runs.

    Scale design — why ranks instead of grouping the raw L-grams
    (the large-L regime; the paper's window is 50 tokens, hundreds
    of bytes):

    - a window start ``i`` holds a duplicated L-gram iff the pair
      ``(rank_h(i), rank_h(i+L−h))`` with ``h = 2^⌊log₂L⌋`` repeats
      — the two h-windows overlap-cover [i, i+L) exactly (2h ≥ L),
      the standard overlapping-windows trick. Grouping shuffles 16
      bytes per position instead of L raw bytes (L=50 tokens ≈
      hundreds of bytes in the paper's setting), and the h-ranks
      build is ⌈log₂ h⌉ rounds, NOT ⌈log₂ max_len⌉ — the fixed-L cut
      needs only the prefix of the full suffix-array build;
    - valid starts come straight from the docs table
      (``sequence(0, len−L)``), so no per-position length join; both
      rank lookups are constant-shift hash joins (the doubling-round
      device);
    - the cut itself is one Arrow ``mapInPandas`` over (doc, text,
      sorted dup starts): a numpy boolean mask per doc, O(len +
      windows·L) per doc, per-task state bounded by one document.

    Truncated tails can never false-positive: a start is only
    emitted when ``i + L ≤ len``, and inside a valid window both
    h-rank lookups see full h-char windows, so rank equality is
    exactly h-gram equality.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    h = 1 << (L.bit_length() - 1)  # 2^floor(log2(L)); 2h >= L
    t = df.select(F.col(id_col), F.col(text_col))
    nonempty = t.filter(F.length(text_col) >= 1)

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_dup_windows", T.LongType()),
            T.StructField("cut_bytes", T.LongType()),
            T.StructField("kept_len", T.LongType()),
            T.StructField("kept_md5", T.StringType()),
        ]
    )

    def _trivial() -> DataFrame:
        # no document reaches L chars: the corpus is kept verbatim
        return t.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_dup_windows"),
            F.lit(0).cast("long").alias("cut_bytes"),
            F.length(F.coalesce(F.col(text_col), F.lit("")))
            .cast("long")
            .alias("kept_len"),
            F.md5(
                F.coalesce(F.col(text_col), F.lit("")).cast("binary")
            ).alias("kept_md5"),
        )

    mx0 = observed_aggregates(
        nonempty, F.max(F.length(text_col)).alias("mx")
    )["mx"]
    if not mx0 or int(mx0) < L:
        # no document reaches L chars — bail BEFORE the eager codes
        # checkpoint materializes a corpus-positions table for nothing
        return _trivial()

    if L <= 32:
        # Direct-gram fast path: the rank-pair construction earns its
        # keep by shuffling 16 bytes per position INSTEAD of L raw
        # bytes — at L <= 32 the raw gram's wire cost is COMPARABLE
        # to the rank pair (exactly 32 bytes for ASCII; substring/
        # length are character-based, so a fully non-ASCII gram can
        # reach 4x that in UTF-8 — still a small constant, and the
        # fast path trades it for skipping ceil(log2 h) checkpointed
        # doubling rounds + two rank joins, which dominates at any
        # byte width). Grouping the grams directly stays exact. The
        # rank path below is the scale form for the paper's L
        # (50 tokens, hundreds of bytes).
        grams = nonempty.filter(F.length(text_col) >= L).select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, length({text_col}) - {L}),"
                    f" i -> struct(i AS s,"
                    f" substring({text_col}, i + 1, {L}) AS g))"
                )
            ).alias("__w"),
        ).select(
            id_col,
            F.col("__w.s").alias("__s"),
            F.col("__w.g").alias("__g"),
        )
        # agg+join (not a window): the heavy side stays a plain hash
        # exchange AQE can skew-split
        dup_keys = (
            grams.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= 2)
            .select("__g")
        )
        dup_starts = grams.join(dup_keys, "__g").select(id_col, "__s")
    else:
        ranks, stride, mx = _prefix_pos_ranks(
            nonempty, id_col, text_col, upto=h
        )

        # valid window starts (0-based), straight from the docs table
        starts = nonempty.filter(F.length(text_col) >= L).select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col) - F.lit(L))
            ).alias("__s"),
        )
        keyed = starts.select(
            id_col,
            "__s",
            (F.col(id_col) * stride + F.col("__s")).alias("__p1"),
            (
                F.col(id_col) * stride + F.col("__s") + F.lit(L - h)
            ).alias("__p2"),
        )
        r1 = ranks.select(
            F.col("__pos").alias("__p1"), F.col("__r").alias("__r1")
        )
        r2 = ranks.select(
            F.col("__pos").alias("__p2"), F.col("__r").alias("__r2")
        )
        keyed = keyed.join(r1, "__p1").join(r2, "__p2")
        # duplicated L-gram keys: bounded 16-byte key per position;
        # the agg+join (not a window) keeps the heavy side a plain
        # hash exchange AQE can skew-split
        dup_keys = (
            keyed.groupBy("__r1", "__r2")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") >= 2)
            .select("__r1", "__r2")
        )
        dup_starts = keyed.join(dup_keys, ["__r1", "__r2"]).select(
            id_col, "__s"
        )
    per_doc = dup_starts.groupBy(id_col).agg(
        F.sort_array(F.collect_list("__s")).alias("__starts")
    )
    joined = t.join(per_doc, id_col, "left")

    def _cut(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {
                c: [] for c in (
                    "n_dup_windows", "cut_bytes", "kept_len",
                    "kept_md5",
                )
            }
            for text, starts_arr in zip(
                pdf[text_col], pdf["__starts"]
            ):
                s = "" if text is None else text
                has = starts_arr is not None and len(starts_arr) > 0
                if has:
                    mask = np.zeros(len(s), dtype=bool)
                    for st in starts_arr:
                        mask[st : st + L] = True
                    arr = np.array(list(s), dtype=object)
                    kept = "".join(arr[~mask].tolist())
                    nw = int(len(starts_arr))
                else:
                    kept = s
                    nw = 0
                out["n_dup_windows"].append(nw)
                out["cut_bytes"].append(len(s) - len(kept))
                out["kept_len"].append(len(kept))
                out["kept_md5"].append(
                    hashlib.md5(kept.encode("utf-8")).hexdigest()
                )
            res = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_dup_windows": pd.Series(
                        out["n_dup_windows"], dtype="int64"
                    ),
                    "cut_bytes": pd.Series(
                        out["cut_bytes"], dtype="int64"
                    ),
                    "kept_len": pd.Series(
                        out["kept_len"], dtype="int64"
                    ),
                    "kept_md5": out["kept_md5"],
                }
            )
            yield res

    return joined.mapInPandas(_cut, schema=out_schema)
