"""Perceptual-hash image dedup: integer-DCT pHash + multi-index
Hamming join.

The near-dup-image analogue of MinHash text dedup — the operator a
training-data pipeline runs to drop re-encoded / lightly-edited
copies of the same picture before training a vision model. Classic
pHash (Zauner 2010, and the pHash.org implementation): downscale,
2-D DCT, keep the low-frequency block, threshold each coefficient at
the median → a 64-bit fingerprint whose Hamming distance tracks
perceptual similarity. Candidate generation is multi-index hashing
(Norouzi, Punjani & Fleet, CVPR 2012): split the 64-bit hash into
``MIH_BANDS`` disjoint 16-bit substrings; by pigeonhole any pair within
Hamming distance d < MIH_BANDS agrees EXACTLY on at least one substring,
so an equi-join per band finds every qualifying pair — recall 1 by
construction, not probabilistically (contrast MinHash LSH's
(1-j^r)^b miss curve). Verification is exact: bit_count(xor) on the
candidate set only.

Cross-engine bit-parity: the DCT uses an INTEGER cosine table
(round(cos(pi*(2k+1)u/32) * 10000) — every entry is >= 0.09 away
from a .5 rounding boundary, so any correctly-rounded double cos
produces the same integers). Pixels, coefficients, median (the 32nd
smallest of the 63 non-DC coefficients — rank-based, no
median-definition drift) and the packed hash are all exact int64
arithmetic, replayable term-for-term by a SQL oracle. Bit 63 is
never used (the DC coefficient is dropped and bit indices run
0..62), so the hash stays non-negative BIGINT in every engine.

Scale shape (100 TB): the signature pass is an Arrow ``mapInPandas``
stream (decode + two 8x16 @ 16x16 integer GEMMs per image — no
Python row loop over pixels); bands multiply rows only at doc
granularity (x4); candidates come from a band-key equi-join that
shuffles (band_no, band_val) — the same bucketed-candidates shape as
minhash_lsh_pairs, never an all-pairs cross join. Duplicate-heavy
corpora would concentrate identical hashes in one band bucket, so the
band join runs over DISTINCT hashes and ids are recovered by
hash-keyed joins afterwards (the distinct-hash collapse,
phash_neardup_pairs) — verbatim copies cost one band row per hash,
like the identical-set collapse in text dedup.

Reference scope note: the reference engine (see SURVEY.md) has no
image operators at all — this extends the §2c multimodal family
(operators/multimodal.py) with the dedup capability the survey's
north-star list mandates.
"""

from __future__ import annotations

import math
import operator
from functools import cache, reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_scd_spark.operators.multimodal import (
    _map_payloads,
    _synth_payloads,
)

PHASH_IMG = 16  # synthetic grayscale image side (N x N)
PHASH_FREQ = 8  # low-frequency DCT block kept (top-left F x F)
PHASH_SCALE = 10000  # integer cosine fixed-point scale
PHASH_GROUPS = 40  # docs sharing doc_id % GROUPS share a base image


def phash_cos_table(rows: int = PHASH_FREQ) -> list[list[int]]:
    """ct[u][k] = round(cos(pi*(2k+1)*u / (2*PHASH_IMG)) * SCALE),
    u in [0, rows), k in [0, PHASH_IMG). The default PHASH_FREQ rows
    are the pHash low-frequency block; ``rows=16`` is the full table
    whose extra rows 8..15 extend the frequency range the wide hash
    keeps (rows 0..7 are the same formula, so equal). Verified: every
    value of the full 16x16 grid sits >= 0.0966 from a .5 boundary at
    SCALE=10000, so Python and any SQL engine rounding a
    correctly-rounded double cos agree exactly. The registry
    interpolates these integers as LITERALS into the oracle SQL — the
    oracle never recomputes a cosine."""
    n = PHASH_IMG
    return [
        [
            round(math.cos(math.pi * (2 * k + 1) * u / (2 * n)) * PHASH_SCALE)
            for k in range(n)
        ]
        for u in range(rows)
    ]


def phash_pixel_expr_sql(doc: str = "doc_id", y: str = "y", x: str = "x") -> str:
    """The synthetic grayscale pixel closed form as SQL text for the
    DuckDB oracle (interpolated by the registry). ``_pixel`` below is
    a hand-transcribed Python twin of the same formula — the two are
    pinned equal over an exhaustive (doc, y, x) grid by
    tests/test_perceptual.py::test_pixel_sql_python_parity, so any
    drift between them fails loudly. Group base pattern plus an
    eps-scaled per-doc perturbation: docs in one group differ by a
    small high-frequency field whose magnitude grows with
    (doc // GROUPS) % 4, so the corpus holds pairs at Hamming 0, a
    few bits, and far apart — the operator is exercised, not vacuous.
    Max value 240 + 3*2 = 246 < 256: no clamp, no wraparound."""
    g = f"({doc} % {PHASH_GROUPS})"
    eps = f"(({doc} // {PHASH_GROUPS}) % 4)"
    return (
        f"(({g}*37 + {y}*13 + {x}*5 + (({y}*{x}) % 7)*9) % 241"
        f" + {eps} * (({y} + 2*{x} + {doc}) % 3))"
    )


def _pixel(doc: int, y: int, x: int) -> int:
    g = doc % PHASH_GROUPS
    eps = (doc // PHASH_GROUPS) % 4
    return ((g * 37 + y * 13 + x * 5 + ((y * x) % 7) * 9) % 241
            + eps * ((y + 2 * x + doc) % 3))


def _pixels_np(doc: int, n: int):
    """The full n x n pixel grid of ``_pixel`` as one uint8 numpy
    buffer (r13: the per-pixel Python loop was ~1s of every image
    query's wall at sf0.1). All terms non-negative int64, so the
    modulos match Python's exactly — bit-identical to the reference
    form (pinned in tests/test_perceptual.py)."""
    g = doc % PHASH_GROUPS
    eps = (doc // PHASH_GROUPS) % 4
    y = np.arange(n, dtype=np.int64)[:, None]
    x = np.arange(n, dtype=np.int64)[None, :]
    base = (g * 37 + y * 13 + x * 5 + ((y * x) % 7) * 9) % 241
    return (base + eps * ((y + 2 * x + doc) % 3)).astype(np.uint8)


def with_grayscale_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Synthesize a REAL grayscale PNG binary column (vendored
    encoder: colortype 0, zlib scanlines, all five filters in
    rotation) from the deterministic pixel closed form. Downstream
    consumers exercise a genuine decode, same playbook as
    multimodal.with_png_payload."""

    def make(i):
        from pyspark_scd_spark.functions import imagecodec

        # one numpy grid per doc — bit-identical to the _pixel
        # reference form (encode_png slices the flat buffer row-wise;
        # bytes input is equivalent to a list of ints)
        n = PHASH_IMG
        return imagecodec.encode_png(n, n, 1, _pixels_np(i, n).tobytes())

    return _synth_payloads(df, make, id_col, out_col)


def _pinned_hash_cache(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition on ``cols`` (PINNED count — the upstream is a
    per-row-expensive Arrow synth/hash stage, so AQE must not
    coalesce the tiny-bytes output back to one partition, the r8
    trap), cache, and eagerly materialize with ONE pass.

    Why cache and not localCheckpoint (r13 measured change): the
    near-dup forms consume their (id, hash) projection 4-5 times —
    distinct, the equal-hash self-join (both sides), and two
    expansion joins — ALL keyed on the hash columns.
    ``InMemoryTableScan`` preserves the hash partitioning, so every
    one of those consumers is exchange-free; a localCheckpoint's
    ``Scan ExistingRDD`` reports NO partitioning (probed on this
    build) and each consumer re-exchanged the full table. Measured
    at the x300 diverse tier (4.5M frames, same window, alternating
    A/B): 52s -> 27.5s for video_phash_neardup_wide. The eager
    count() forecloses the r10 AQE race (independent query stages
    computing a lazy cache twice); clearCache() releases the blocks
    (which it never did for checkpoint RDDs — the r13 leak finding).
    """
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = 200
    out = df.repartition(n, *cols).cache()
    out.count()
    return out


# ======================================================================
# Multi-index Hamming join (Norouzi, Punjani & Fleet, CVPR 2012) behind
# every near-dup operator below. A hash is one 63-bit word or two
# 62-bit words, cut into MIH_BANDS disjoint substrings: 16 bits each
# for one word, 31 bits each for two. Two consumers — the batch
# self-join and the store x batch probe — plus the frame-vote tail.
# ======================================================================

MIH_BANDS = 4  # disjoint substrings per hash: recall 1 at hamming < 4
_BAND_BITS = {1: 16, 2: 31}  # hash words -> substring width
# internal hash-word columns; a pair side swaps the third character
# for its tag: __h -> __ha/__hb/__hs, (__lo, __hi) -> (__la, __ha), ...
_WORDS = {1: ("__h",), 2: ("__lo", "__hi")}


def _mih_words(n_words: int, max_hamming: int) -> tuple[str, ...]:
    """The hash-word columns for an ``n_words`` hash, after the
    pigeonhole check every consumer relies on: a pair within distance
    d < MIH_BANDS has fewer differing bits than substrings, so at
    least one substring matches exactly — the band equi-join has
    RECALL 1. Checked before any job runs."""
    if max_hamming >= MIH_BANDS:
        raise ValueError(
            "pigeonhole recall guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {MIH_BANDS})"
        )
    return _WORDS[n_words]


def _side(words, tag: str) -> list[str]:
    return [w[:3] + tag for w in words]


def _renamed(df: DataFrame, id_col: str, id_as: str, cols, names):
    return df.select(
        F.col(id_col).alias(id_as),
        *[F.col(c).alias(n) for c, n in zip(cols, names)],
    )


def _hamming(xs, ys):
    return reduce(
        operator.add,
        [
            F.bit_count(F.col(x).bitwiseXOR(F.col(y)))
            for x, y in zip(xs, ys)
        ],
    ).cast("int")


def _banded(hs: DataFrame, words) -> DataFrame:
    """Multi-index banding projection shared by both consumers:
    explode each distinct-hash row into MIH_BANDS (band_no, band_val)
    rows where band j of word i is bits [width*j, width*(j+1)) of that
    word. ONE definition so the band layout can never drift between
    the two join shapes."""
    width = _BAND_BITS[len(words)]
    per_word = MIH_BANDS // len(words)
    mask = (1 << width) - 1
    return hs.select(
        *words,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i * per_word + j).alias("band_no"),
                        F.shiftright(F.col(w), j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i, w in enumerate(words)
                    for j in range(per_word)
                ]
            )
        ).alias("__b"),
    ).select(*words, "__b.band_no", "__b.band_val")


def _word_lt(words):
    """Lexicographic a < b over the hash words: each unordered hash
    pair is emitted once."""
    a, b = F.col(f"a.{words[0]}"), F.col(f"b.{words[0]}")
    if len(words) == 1:
        return a < b
    return (a < b) | ((a == b) & _word_lt(words[1:]))


def _candidate_pairs(
    hs: DataFrame, words, max_hamming: int
) -> DataFrame:
    """(a-side words, b-side words, hamming) verified pairs over a
    DISTINCT hash table: band self-join, exact bit_count(xor) verify.

    At 31-bit bands (two words) the self-join runs over hot buckets
    only (r13 restructure; x1000 stage attribution: the naive banded
    self-join was 80s of the video family's 137s wall with ZERO
    surviving candidates — pure sort-merge mechanics on 60M band
    rows): only a (band_no, band_val) bucket holding >= 2 distinct
    hashes can produce a pair, and at 2^31-value buckets occupancy is
    ~always 1 (expected hot buckets ~ 4·n²/2^32 — 200k of 60M rows
    at 15M hashes). So: ONE map-side-combined exchange counts bucket
    occupancy; the hot-bucket key set (tiny) joins back against the
    banded table — AQE broadcasts it, so the 60M rows are probed in
    place, never exchanged or sorted — and the pair self-join runs
    over the ~hot-rows-only remainder. At 100 TB (~10^8+ distinct
    hashes) the hot set grows as n²/2^32; when it outgrows the
    broadcast threshold AQE falls back to a shuffled join of
    banded-vs-hot — still strictly cheaper than the full banded
    self-join this replaces. In this form ``hs`` is cached (plain
    cache — it arrives co-partitioned from the pinned cache): the
    banded explode feeds BOTH the occupancy count and the probe pass,
    and without the pin the distinct aggregation runs twice.

    At 16-bit bands (one word) buckets are dense (n/2^16 hashes
    each), so the prefilter would drop nothing: plain self-join.
    """
    if len(words) == 1:
        cand = _banded(hs, words)
    else:
        banded = _banded(hs.cache(), words)
        hot = (
            banded.groupBy("band_no", "band_val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("band_no", "band_val")
        )
        cand = banded.join(hot, ["band_no", "band_val"])
    a = cand.alias("a")
    b = cand.alias("b")
    wa, wb = _side(words, "a"), _side(words, "b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & _word_lt(words),
        )
        .select(
            *[F.col(f"a.{w}").alias(x) for w, x in zip(words, wa)],
            *[F.col(f"b.{w}").alias(x) for w, x in zip(words, wb)],
        )
        .distinct()
        .withColumn("hamming", _hamming(wa, wb))
        .filter(F.col("hamming") <= max_hamming)
    )


def _batch_pairs(
    df: DataFrame,
    id_col: str,
    hash_cols,
    max_hamming: int,
    frames: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every id pair within
    ``max_hamming``, doc_a < doc_b — the distinct-hash collapse
    (phash_neardup_pairs' docstring): the band join runs over DISTINCT
    hashes, two hash->ids expansion joins recover cross-hash pairs,
    and one hash-keyed self-join adds the equal-hash (hamming 0) pairs
    — AQE skew-join splits a hot hash.

    ``frames``: rows are video frames (columns video_a, video_b) —
    two frames of ONE video may be near each other, and a frame vote
    counts cross-video matches only."""
    words = _mih_words(len(hash_cols), max_hamming)
    # the (id, hash) projection is referenced four times below (hash
    # universe, two expansion joins, the hamming-0 self-join), ALL
    # keyed on the hash words; the pinned hash-partitioned cache runs
    # the upstream Arrow decode+hash stage once AND makes every
    # consumer exchange-free (_pinned_hash_cache, r13).
    ids = _pinned_hash_cache(
        _renamed(df, id_col, "__id", hash_cols, words), *words
    )
    hp = _candidate_pairs(
        ids.select(*words).distinct(), words, max_hamming
    )
    wa, wb = _side(words, "a"), _side(words, "b")
    cross = hp.join(
        _renamed(ids, "__id", "__ida", words, wa), wa
    ).join(_renamed(ids, "__id", "__idb", words, wb), wb)
    if frames:
        cross = cross.filter(F.col("__ida") != F.col("__idb"))
    out_a, out_b = ("video_a", "video_b") if frames else ("doc_a", "doc_b")
    x = ids.alias("x")
    y = ids.alias("y")
    zero = x.join(
        y,
        reduce(
            operator.and_,
            [F.col(f"x.{w}") == F.col(f"y.{w}") for w in words],
        )
        & (F.col("x.__id") < F.col("y.__id")),
    ).select(
        F.col("x.__id").alias(out_a),
        F.col("y.__id").alias(out_b),
        F.lit(0).cast("int").alias("hamming"),
    )
    return cross.select(
        F.least("__ida", "__idb").alias(out_a),
        F.greatest("__ida", "__idb").alias(out_b),
        "hamming",
    ).unionByName(zero)


def _probe_pairs(
    store: DataFrame,
    batch: DataFrame,
    id_col: str,
    hash_cols,
    max_hamming: int,
) -> DataFrame:
    """(store_id, batch_id, hamming) for every store x batch pair
    within ``max_hamming`` — the O(batch)/day probe. Distinct-hash
    collapse on both sides: the band join runs store-hash x
    batch-hash, then two hash->ids joins expand to ids. Equal hashes
    across the two sides band-match trivially, so hamming-0 pairs
    need no separate branch (the sides are disjoint id spaces)."""
    words = _mih_words(len(hash_cols), max_hamming)
    ws, wb = _side(words, "s"), _side(words, "b")
    s_ids = _pinned_hash_cache(
        _renamed(store, id_col, "store_id", hash_cols, ws), *ws
    )
    b_ids = _pinned_hash_cache(
        _renamed(batch, id_col, "batch_id", hash_cols, wb), *wb
    )

    def banded(ids, names):
        return _banded(
            ids.select(
                *[F.col(n).alias(w) for n, w in zip(names, words)]
            ).distinct(),
            words,
        )

    s = banded(s_ids, ws).alias("s")
    b = banded(b_ids, wb).alias("b")
    hp = (
        s.join(
            b,
            (F.col("s.band_no") == F.col("b.band_no"))
            & (F.col("s.band_val") == F.col("b.band_val")),
        )
        .select(
            *[F.col(f"s.{w}").alias(x) for w, x in zip(words, ws)],
            *[F.col(f"b.{w}").alias(x) for w, x in zip(words, wb)],
        )
        .distinct()
        .withColumn("hamming", _hamming(ws, wb))
        .filter(F.col("hamming") <= max_hamming)
    )
    # expand the (typically much smaller) batch side FIRST so the
    # store expansion — the output-sized blowup on clique-heavy
    # corpora — happens in the last join instead of being shuffled
    # again through a second one.
    return (
        hp.join(b_ids, wb)
        .join(s_ids, ws)
        .select("store_id", "batch_id", "hamming")
    )


def _frame_vote(
    pairs: DataFrame, a: str, b: str, min_matches: int
) -> DataFrame:
    """Video pairs with at least ``min_matches`` matched frame
    combinations, from frame-level pairs."""
    return (
        pairs.groupBy(a, b)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
        .filter(F.col("n_matched") >= min_matches)
    )


# ======================================================================
# Hash kernels. Each derivation has ONE kernel taking ``n_words``: a
# hash is one 63-bit word (the narrow operators) or two 62-bit words
# (the wide ones, for 31-bit MIH bands); the public hashers are thin
# wrappers that pick the width.
# ======================================================================

_HASH_BITS = {1: 63, 2: 124}  # hash words -> fingerprint bits


@cache
def _pack_weights(n_words: int):
    per = _HASH_BITS[n_words] // n_words
    k = np.arange(_HASH_BITS[n_words], dtype=np.int64)
    w = np.zeros((k.size, n_words), dtype=np.int64)
    w[k, k // per] = np.left_shift(np.int64(1), k % per)
    return w


def _pack(bits, n_words: int):
    """Pack the last axis of a 0/1 int64 array of _HASH_BITS[n_words]
    bits into ``n_words`` int64 words (the result's last axis): bits
    0..62 into one word, or bits 0..61 into the lo word and 62..123
    into the hi word. Bit 63 is never set, so every word is a
    non-negative BIGINT in every engine."""
    return bits @ _pack_weights(n_words)


def _image_phash(df, id_col, payload_col, n_words: int) -> DataFrame:
    """The pHash kernel behind ``image_phash`` (one word: 8x8 block,
    coefs = CT8 @ P @ CT8^T) and ``image_phash_wide`` (two words: 8x16
    block, CT8 @ P @ CT16^T): drop the DC term, threshold the next
    _HASH_BITS row-major coefficients at their lower-median rank
    (strict >), pack."""
    name = "image_phash" if n_words == 1 else "image_phash_wide"
    schema = PHASH_SCHEMA if n_words == 1 else WIDE_PHASH_SCHEMA
    n_bits = _HASH_BITS[n_words]
    ct = np.asarray(phash_cos_table(), dtype=np.int64)
    ct_v = np.asarray(phash_cos_table(PHASH_FREQ * n_words), dtype=np.int64)

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import imagecodec

        w, h, c, px = imagecodec.decode(payload)
        if (w, h) != (PHASH_IMG, PHASH_IMG):
            # the fixed-point cosine table is N=16-specific; real
            # pipelines resize to N x N first (the downscale step of
            # canonical pHash) — out of scope for the deterministic
            # synthetic family
            raise ValueError(
                f"{name} expects a "
                f"{PHASH_IMG}x{PHASH_IMG} input, got {w}x{h}"
            )
        p = np.asarray(px, dtype=np.int64).reshape(h, w, c)[:, :, 0]
        # row-major index 0 is the DC term (u=0, v=0)
        rest = (ct @ p @ ct_v.T).ravel()[1 : n_bits + 1]
        bits = (rest > np.sort(rest)[(n_bits - 1) // 2]).astype(np.int64)
        return [(doc_id, w, h, *_pack(bits, n_words).tolist())]

    return _map_payloads(df, rows, schema, id_col, payload_col)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(doc_id, width, height, phash): decode the image payload
    (vendored PNG/PNM/BMP codec), integer 2-D DCT via two int64 GEMMs
    (C = CT @ P @ CT^T, CT the 8x16 fixed-point cosine table), drop
    the DC term, threshold the 63 low-frequency coefficients at their
    rank-32 value (strict >), pack into bits 0..62 of an int64.

    Every step is exact integer arithmetic (max |coef| < 2^43), so
    the hash is bit-identical across engines and platforms — the
    property the oracle pins."""

    return _image_phash(df, id_col, payload_col, n_words=1)


def phash_neardup_pairs(
    ph: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair with Hamming distance
    <= max_hamming, doc_a < doc_b. Multi-index hashing: band i is
    bits [16i, 16i+16) of the hash; a pair within distance d <
    ``MIH_BANDS`` has < MIH_BANDS differing-bit "budget" spread
    over ``MIH_BANDS`` disjoint substrings, so at least one
    substring matches exactly (pigeonhole) — the band equi-join has
    RECALL 1, then bit_count(xor) verifies candidates exactly.

    DISTINCT-HASH COLLAPSE (round-10 decade-study finding): image
    corpora carry exact-duplicate cliques — many docs sharing one
    phash (verbatim copies; the synthetic registry corpus by
    construction). Banding the raw (id, hash) table makes every band
    self-join do O(|clique|²) work PER BAND, measured 195s at 150k
    docs where hashing itself took 2.3s. So the band join here runs
    over DISTINCT hashes only (volume ∝ hash diversity, never doc
    count); doc pairs are then recovered by two hash->ids joins
    (cross-clique, hamming >= 1) plus one hash-keyed self-join
    (intra-clique, hamming 0 — AQE skew-join splits a hot hash).
    The pair OUTPUT is still Σ|A|·|B| — inherent to the list-pairs
    contract — but no shuffle JOIN is quadratic anymore. Measured at
    the same 150k tier: 195s -> ~9s.
    """
    return _batch_pairs(ph, id_col, [hash_col], max_hamming)


def phash_neardup_incremental(
    store: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Daily-ingest image near-dup: candidates ONLY between the NEW
    batch and the existing store — the O(batch)/day shape of
    ``minhash_lsh_pairs_incremental`` applied to the pHash index.
    The store side is the persistable artifact (its banded table is
    a pure projection of the (id, phash) store — cheap to rebuild or
    persist); each day's work is one band equi-join of the batch's
    4·|batch| band rows against the store index, never a history
    re-scan. Pigeonhole recall 1 at max_hamming < MIH_BANDS, exact
    bit_count verify — same guarantees as the batch form.

    Returns (store_id, batch_id, hamming <= max_hamming).
    """
    return _probe_pairs(store, batch, id_col, [hash_col], max_hamming)


# ======================================================================
# Video perceptual near-dup: per-frame luma fingerprints + the same
# distinct-hash multi-index Hamming machinery as the image family.
# ======================================================================

VIDEO_FHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fhash", T.LongType()),
    ]
)


def _frame_hashes(df, id_col, payload_col, n_words: int) -> DataFrame:
    """The frame-hash kernel behind ``video_frame_hashes`` (one word,
    bit k samples luma (k % h, (k*7) % w)) and
    ``video_frame_hash_wide`` (two words, bit k samples flat index
    (k * VIDEO_WIDE_STRIDE) % (w*h), with its size and injectivity
    guards): bit k is set iff that sample exceeds the frame mean,
    compared exactly as ``lum * (w*h) > sum(luma)``."""
    schema = VIDEO_FHASH_SCHEMA if n_words == 1 else WIDE_VIDEO_FHASH_SCHEMA
    ks = np.arange(_HASH_BITS[n_words], dtype=np.int64)

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import videocodec

        meta, frames = videocodec.decode_y4m(payload)
        w, h = meta["width"], meta["height"]
        wh = w * h
        if n_words == 1:
            idx = (ks % h) * w + (ks * 7) % w
        else:
            if wh < 124:
                raise ValueError(
                    "video_frame_hash_wide needs >= 124 luma "
                    f"samples per frame (w*h >= 124), got "
                    f"{w}x{h} for doc {doc_id}; small frames "
                    "use video_frame_hashes (63-bit)"
                )
            idx = (ks * VIDEO_WIDE_STRIDE) % wh
            # the stride-101 map is a bijection over k<124 only when
            # gcd(101, w*h)=1 OR w*h/101 >= 124; a frame with e.g.
            # w*h = 202 passes the size check yet repeats positions
            # with period w*h/101, silently re-correlating the MIH
            # bands — enforce the docstring's distinctness claim
            if np.unique(idx).size != 124:
                raise ValueError(
                    "video_frame_hash_wide stride-101 position "
                    f"map is non-injective for {w}x{h} frames "
                    f"(w*h={wh} shares factor 101 with the "
                    "stride and w*h/101 < 124) for doc "
                    f"{doc_id}; all 124 bits must sample "
                    "distinct pixels — use a frame size with "
                    "w*h not a multiple of 101, or "
                    "video_frame_hashes (63-bit)"
                )
        # stack the clip's luma planes into ONE (n_frames, w*h)
        # matrix: one row-sum, one broadcast compare, one bit-pack
        # GEMM replace the per-frame Python loop (r13: hashing was the
        # video families' wall — 60-65s of the wide x1000 136.5s;
        # same values, pinned bit-identical in tests/test_perceptual.py)
        n_f = len(frames)
        m = np.frombuffer(
            b"".join(bytes(fr[0]) for fr in frames), dtype=np.uint8
        ).reshape(n_f, wh)
        sums = m.sum(axis=1, dtype=np.int64)
        bits = (m[:, idx].astype(np.int64) * wh > sums[:, None]).astype(
            np.int64
        )
        return [
            (doc_id, f, *ws)
            for f, ws in enumerate(_pack(bits, n_words).tolist())
        ]

    return _map_payloads(df, rows, schema, id_col, payload_col)


def video_frame_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """63-bit perceptual fingerprint per decoded video FRAME: bit k is
    set iff the luma sample at position (k % h, (k*7) % w) exceeds the
    frame's mean — compared exactly as ``lum * (w*h) > sum(luma)`` so
    there is no division and the hash is bit-identical across engines
    (the image-pHash exactness discipline applied to video; the frame
    planes come from a REAL Y4M parse, functions/videocodec.py).

    Returns (id, frame_idx, fhash) — the index a frame-voting video
    dedup builds on. The Arrow stage is a pure map (1 video in,
    n_frames rows out); at 100 TB it scales with frames/core and
    nothing exchanges.
    """

    return _frame_hashes(df, id_col, payload_col, n_words=1)


def video_neardup_pairs(
    fh: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
    max_hamming: int = 3,
    min_matches: int = 2,
) -> DataFrame:
    """(video_a, video_b, n_matched) for every cross-video pair whose
    frames match at least ``min_matches`` times, where a frame match
    is Hamming(fhash_a, fhash_b) <= max_hamming. Frame-vote dedup is
    the standard shape for near-duplicate video detection: clips
    survive re-encoding with most frame fingerprints intact, so a
    handful of matched frames identifies a duplicate without any
    temporal alignment.

    Same scale architecture as phash_neardup_pairs: the band join
    runs over DISTINCT frame hashes (pigeonhole recall 1 at
    max_hamming < MIH_BANDS), doc-level pairs are recovered by expansion
    joins, and equal-hash frame matches come from one hash-keyed
    self-join (AQE skew-join splits a hot fingerprint). The only
    corpus-sized exchanges are hash-keyed.
    """
    pairs = _batch_pairs(fh, id_col, [hash_col], max_hamming, frames=True)
    return _frame_vote(pairs, "video_a", "video_b", min_matches)


# ======================================================================
# Audio perceptual fingerprint: window-energy delta bits — the third
# leg of the multimodal dedup triple (image pHash, video frame votes,
# audio energy-transition fingerprints).
# ======================================================================

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("afp", T.LongType()),
    ]
)


def _audio_fp(
    df, id_col, payload_col, window: int, n_words: int
) -> DataFrame:
    """The fingerprint kernel behind ``audio_fingerprint`` (one word,
    transition k at bit (16k) % 63) and ``audio_fingerprint_wide``
    (two words, transition k at bit k, >= 125 windows enforced):
    ``window``-sample window energies (sum of squares, the last window
    zero-padded), transition sign k = energy[k+1] > energy[k]."""
    schema = AUDIO_FP_SCHEMA if n_words == 1 else WIDE_AUDIO_FP_SCHEMA
    n_bits = _HASH_BITS[n_words]

    def rows(doc_id, payload):
        from pyspark_scd_spark.functions import audiocodec

        _, samples = audiocodec.decode_wav(payload)
        s = np.asarray(samples, dtype=np.int64)
        n_win = (len(s) + window - 1) // window
        if n_words == 2 and n_win < 125:
            raise ValueError(
                "audio_fingerprint_wide needs >= 125 windows "
                f"(>= {125 * window} samples at window="
                f"{window}), got {n_win} for doc {doc_id}; "
                "short clips use audio_fingerprint (63-bit)"
            )
        pad = n_win * window - len(s)
        if pad:
            s = np.concatenate([s, np.zeros(pad, dtype=np.int64)])
        # pure numpy (r12: the per-window Python loop was the measured
        # hash-stage bottleneck at the 5M-clip tier — same values)
        e = (s.reshape(n_win, window) ** 2).sum(axis=1)
        # a zero-sample clip (n_win == 0) has no transitions and
        # emits afp=0: clamp k at 0
        k = max(0, min(n_win - 1, n_bits))
        bits = (e[1 : k + 1] > e[:k]).astype(np.int64)
        if n_words == 1:
            spread = np.zeros(n_bits, dtype=np.int64)
            spread[(16 * np.arange(k)) % 63] = bits
            bits = spread
        return [(doc_id, n_win, *_pack(bits, n_words).tolist())]

    return _map_payloads(df, rows, schema, id_col, payload_col)


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window: int = 4,
) -> DataFrame:
    """63-bit audio fingerprint from a REAL WAV decode: split the PCM
    stream into ``window``-sample windows, compute each window's
    integer energy (sum of squares), and derive transition sign k as
    energy[k+1] > energy[k] (k <= 62). Energy-TRANSITION signs are
    the Haitsma-Kalker (2002) robust-hash derivation reduced to one
    band: invariant under volume scaling and phase shifts, which is
    why re-encoded copies keep most bits. All int64 arithmetic — the
    oracle replays sample values, window energies, and the packed
    bits exactly.

    BIT LAYOUT (round-11 decade-study fix): transition k is stored at
    bit position (16*k) % 63 — a hamming-preserving bijection (two
    clips' differing-transition COUNT is unchanged, so near-dup
    semantics and the pigeonhole recall guarantee are identical).
    Why: adjacent transitions share a window energy and are
    negatively correlated, so with transition k at bit k the
    contiguous 16-bit LSH bands collapse onto alternating-pattern
    modes (measured at 500k diverse clips: band values 0x5555/0xAAAA
    held 600+ distinct fingerprints each vs a uniform mean of ~11,
    and the x300 band join went superlinear — 123s vs the video
    family's 68s at 3x the rows, SCALING.md round 11). The
    interleave gives band i transitions {4i', spaced 4 apart}, whose
    signs are independent, so band values spread ~uniformly and the
    candidate volume returns to the n²/2^16 floor shared with the
    image/video families.

    Returns (id, n_windows, afp). Pure Arrow map; pairs come from
    ``phash_neardup_pairs`` unchanged (the band machinery is
    hash-generic).
    """

    return _audio_fp(df, id_col, payload_col, window, n_words=1)


def video_neardup_incremental(
    store_fh: DataFrame,
    batch_fh: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "fhash",
    max_hamming: int = 3,
    min_matches: int = 2,
) -> DataFrame:
    """Daily-ingest video near-dup: frame-vote pairs ONLY between the
    NEW batch's videos and the standing store — the O(batch)/day
    lifecycle shape of phash_neardup_incremental lifted to frame
    voting. Same distinct-hash collapse: the band join runs over
    store-hash x batch-hash (equal hashes band-match trivially, so
    hamming-0 frame matches need no separate branch — the sides are
    disjoint id spaces), then two expansion joins recover (store
    video, batch video, matched frame combination) rows and the
    frame vote aggregates them.

    Returns (store_id, batch_id, n_matched >= min_matches).
    """
    pairs = _probe_pairs(store_fh, batch_fh, id_col, [hash_col], max_hamming)
    return _frame_vote(pairs, "store_id", "batch_id", min_matches)


# ======================================================================
# Wide (124-bit) audio fingerprint: the MIH scale path the round-11
# decade study named. At fixed 63-bit width, hamming<=3 banding is
# stuck with 16-bit substrings (pigeonhole needs bands > max_hamming),
# so band buckets hold n/2^16 hashes and candidate volume grows
# quadratically once distinct hashes outnumber ~10^6 (SCALING.md
# round 11). Multi-index hashing (Norouzi et al. 2012, public) says
# substring length should track log2(n): two 62-bit words give 4
# bands of 31 bits — bucket space 2^31, so candidates stay
# planted-pairs-sized out to billions of distinct fingerprints.
# ======================================================================

WIDE_AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("afp_lo", T.LongType()),
        T.StructField("afp_hi", T.LongType()),
    ]
)


def audio_fingerprint_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    window: int = 2,
) -> DataFrame:
    """124-bit audio fingerprint: the ``audio_fingerprint`` energy-
    transition derivation at window=2 (so a 250-sample clip yields
    125+ window energies), transitions 0..61 packed into ``afp_lo``
    bits 0..61 and 62..123 into ``afp_hi`` — two int64 words whose
    31-bit substrings are the MIH bands of
    ``wide_hamming_neardup_pairs``.

    No bit interleave here, deliberately: the narrow form needed it
    because 16-bit bands of 1-dependent transition signs collapse
    onto alternating-pattern modes (~2^-11 mass each); at 31 bits a
    mode carries ~(2/3)^30 ≈ 5e-6 of clips — ~8 per mode at 1.5M,
    noise. Documented so nobody "simplifies" the narrow form's
    interleave away by analogy in the other direction.

    PRECONDITION (enforced): every clip must decode to >= 125
    windows (>= 250 samples at window=2). Shorter clips would leave
    afp_hi identically zero, recreating a hot zero-bucket in the hi
    bands — the exact concentration pathology this family exists to
    avoid; short clips belong to the 63-bit ``audio_fingerprint``.
    """

    return _audio_fp(df, id_col, payload_col, window, n_words=2)


def wide_hamming_neardup_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    lo_col: str = "afp_lo",
    hi_col: str = "afp_hi",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) over the 124-bit fingerprint — the
    phash_neardup_pairs architecture (distinct-hash collapse, band
    candidates, exact verify, expansion joins, hamming-0 self-join)
    with 4 bands of 31 BITS instead of 16: pigeonhole recall 1 at
    max_hamming <= 3 (4 disjoint substrings cover all 124 bits), and
    band buckets draw from a 2^31 value space, so candidate volume
    stays ~planted-pairs-sized instead of the n²/2^16 floor
    (SCALING.md round 11 measured that floor dominating the narrow
    family's decade beyond ~10^6 distinct hashes)."""
    return _batch_pairs(fp, id_col, [lo_col, hi_col], max_hamming)


def wide_hamming_neardup_incremental(
    store: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    lo_col: str = "afp_lo",
    hi_col: str = "afp_hi",
    max_hamming: int = 3,
) -> DataFrame:
    """Daily-ingest near-dup over the 124-bit fingerprint:
    candidates ONLY between the NEW batch and the standing store —
    ``phash_neardup_incremental``'s O(batch)/day lifecycle shape
    with the wide-MIH candidate stage (r13, VERDICT r12 item 5: at
    10M+ distinct store hashes the narrow incremental probe inherits
    the same n²/2^16 band floor the batch forms escaped; 31-bit
    bands move it to n²/2^31). Store-side banded table is a pure
    projection of the persisted (id, lo, hi) store; each day costs
    one band equi-join of the batch's 4·|batch| band rows against
    the store index, never a history re-scan. Equal hashes across
    the two sides band-match trivially, so hamming-0 pairs need no
    separate branch (the sides are disjoint id spaces). Pigeonhole
    recall 1 at hamming <= 3 over 4 disjoint 31-bit substrings,
    exact two-word bit_count verify.

    Returns (store_id, batch_id, hamming <= max_hamming).
    """
    return _probe_pairs(
        store, batch, id_col, [lo_col, hi_col], max_hamming
    )


# ======================================================================
# Wide-MIH video family (round 12): the 124-bit remedy the round-11
# decade study prescribed for video — at x300 the narrow (63-bit)
# family's pair stage was 49s of 68s total, sitting on the same
# n²/2^16 band-candidate floor the audio family escaped with 31-bit
# bands (SCALING.md round 11).
# ======================================================================

WIDE_VIDEO_FHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("fhash_lo", T.LongType()),
        T.StructField("fhash_hi", T.LongType()),
    ]
)

# Position stride for the wide frame hash: bit k samples luma index
# (k * 101) % (w*h). 101 is prime and never divides w*h (frame sides
# are products of 2/3/5/7/11 here), so k -> position is INJECTIVE for
# k < w*h — all 124 bits sample DISTINCT pixels, unlike the narrow
# form's (k % h, 7k % w) map whose joint period lcm(h, w/gcd(7,w))
# can fall below 124 on small frames and duplicate bits (duplicated
# bits correlate band values — the concentration pathology).
VIDEO_WIDE_STRIDE = 101


def video_frame_hash_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """124-bit perceptual fingerprint per decoded video FRAME: bit k
    (0..123) is set iff the luma sample at flat index
    (k * 101) % (w*h) exceeds the frame mean — compared exactly as
    ``lum * (w*h) > sum(luma)`` so there is no division and the hash
    is bit-identical across engines. Bits 0..61 pack into fhash_lo,
    62..123 into fhash_hi — two int64 words whose 31-bit substrings
    are the MIH bands of the wide pair join.

    PRECONDITION (enforced): every frame must carry >= 124 luma
    samples (w*h >= 124), so all 124 bits sample distinct pixels —
    smaller frames would alias positions and re-correlate bands;
    small-frame corpora belong to the 63-bit ``video_frame_hashes``.

    The Arrow stage is a pure map (1 video in, n_frames rows out);
    at 100 TB it scales with frames/core and nothing exchanges.
    """

    return _frame_hashes(df, id_col, payload_col, n_words=2)


def video_neardup_pairs_wide(
    fh: DataFrame,
    id_col: str = "doc_id",
    lo_col: str = "fhash_lo",
    hi_col: str = "fhash_hi",
    max_hamming: int = 3,
    min_matches: int = 2,
) -> DataFrame:
    """(video_a, video_b, n_matched) frame-vote dedup over the
    124-bit wide frame fingerprint — ``video_neardup_pairs`` with the
    wide-MIH candidate stage: the band join runs over DISTINCT
    (lo, hi) frame-hash words in 4 bands of 31 BITS (pigeonhole
    recall 1 at max_hamming <= 3 over two 62-bit words), so band
    buckets draw from a 2^31 value space and the candidate floor
    moves from n²/2^16 to n²/2^31 — the remedy proven on the audio
    family in round 11 (operators/perceptual.py
    wide_hamming_neardup_pairs), applied to the family where the
    floor was 72% of measured x300 wall.

    Same doc-level recovery as the narrow form: hash pairs expand to
    cross-video frame matches via two hash-keyed joins; equal-hash
    frame matches come from one hash-keyed self-join (AQE skew-join
    splits a hot fingerprint). The only corpus-sized exchanges are
    hash-keyed.
    """
    pairs = _batch_pairs(
        fh, id_col, [lo_col, hi_col], max_hamming, frames=True
    )
    return _frame_vote(pairs, "video_a", "video_b", min_matches)


def video_neardup_incremental_wide(
    store_fh: DataFrame,
    batch_fh: DataFrame,
    id_col: str = "doc_id",
    lo_col: str = "fhash_lo",
    hi_col: str = "fhash_hi",
    max_hamming: int = 3,
    min_matches: int = 2,
) -> DataFrame:
    """Daily-ingest video near-dup over the 124-bit wide frame
    fingerprint: frame-vote pairs ONLY between the NEW batch's
    videos and the standing store — ``video_neardup_incremental``
    with the wide-MIH candidate stage (r13, VERDICT r12 item 5).
    The store's banded table is a projection of the persisted
    (video, lo, hi) frame store; the daily cost is one 31-bit band
    equi-join of batch frame hashes against the store index — at
    10M+ distinct store frame hashes the narrow probe's band
    buckets (2^16 space) go quadratic while these (2^31 space) stay
    ~empty. Equal frame hashes across the sides band-match
    trivially (disjoint id spaces — no separate hamming-0 branch);
    the two expansion joins recover (store video, batch video,
    matched frame combination) rows and the frame vote aggregates
    them, exactly the batch wide form's recovery.

    Returns (store_id, batch_id, n_matched >= min_matches).
    """
    pairs = _probe_pairs(
        store_fh, batch_fh, id_col, [lo_col, hi_col], max_hamming
    )
    return _frame_vote(pairs, "store_id", "batch_id", min_matches)


# ======================================================================
# Wide-MIH image family (round 12): 124-bit pHash — same remedy as
# audio (r11) and video (r12): 31-bit MIH bands over two packed
# words, so the candidate floor moves from n²/2^16 to n²/2^31 before
# the 64-bit family's ~10M-distinct-hash horizon is reached.
# ======================================================================

WIDE_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("phash_lo", T.LongType()),
        T.StructField("phash_hi", T.LongType()),
    ]
)


def image_phash_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(doc_id, width, height, phash_lo, phash_hi): 124-bit
    perceptual image hash. Same derivation as ``image_phash`` with a
    WIDER low-frequency block: coefs = CT8 @ P @ CT16^T (8x16 = 128
    integer-DCT coefficients, u in [0,8) x v in [0,16)), drop the DC
    term, keep row-major coefficients 1..124, threshold at their
    rank-62 value (strict >, exact integer compare), pack bits 0..61
    into phash_lo and 62..123 into phash_hi.

    Every step is exact int64 arithmetic (max |coef| < 2^43), so
    both words are bit-identical across engines; the 31-bit-band MIH
    join (``wide_hamming_neardup_pairs``) gives pigeonhole recall 1
    at hamming <= 3 with band buckets drawn from a 2^31 value space
    — the image twin of the audio (r11) and video (r12) wide forms.
    """

    return _image_phash(df, id_col, payload_col, n_words=2)
