"""Perceptual-hash image dedup (operators/perceptual.py): integer
cosine-table safety, pigeonhole exactness of the multi-index band
join vs brute force, distance-spectrum non-vacuity, envelope gates.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pyspark_scd_spark.operators import perceptual


def test_cos_table_far_from_rounding_boundaries():
    """Every fixed-point cosine value must sit far from a .5 rounding
    boundary so Python round() and any SQL ROUND over a correctly-
    rounded double cos agree — the cross-engine bit-parity premise."""
    n = perceptual.PHASH_IMG
    s = perceptual.PHASH_SCALE
    worst = 1.0
    for u in range(perceptual.PHASH_FREQ):
        for k in range(n):
            v = math.cos(math.pi * (2 * k + 1) * u / (2 * n)) * s
            worst = min(worst, abs(v - math.floor(v) - 0.5))
    assert worst > 1e-3, f"cosine value within {worst} of a boundary"
    tbl = perceptual.phash_cos_table()
    assert len(tbl) == perceptual.PHASH_FREQ
    assert all(len(r) == n for r in tbl)
    assert tbl[0] == [s] * n  # u=0 row is all cos(0)


def test_pixel_closed_form_in_byte_range():
    n = perceptual.PHASH_IMG
    vals = [
        perceptual._pixel(d, y, x)
        for d in (0, 1, 39, 40, 79, 120, 159, 4999)
        for y in range(n)
        for x in range(n)
    ]
    assert min(vals) >= 0 and max(vals) <= 255


def test_band_join_equals_brute_force(spark, sf_dir):
    """Pigeonhole recall = 1: the banded join must find EXACTLY the
    pairs the all-pairs Hamming filter finds — no misses (recall) and
    no extras (the verify filter)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    ph = perceptual.image_phash(
        perceptual.with_grayscale_payload(docs)
    ).cache()
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in perceptual.phash_neardup_pairs(ph).collect()
    }
    rows = {r["doc_id"]: r["phash"] for r in ph.collect()}
    ph.unpersist()
    want = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(rows[a] ^ rows[b]).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want and want, "band join must equal brute force"


def test_distance_spectrum_non_vacuous(spark, sf_dir):
    """The synthetic family must exercise the operator: identical
    pairs (hamming 0), near pairs (1..3), and pairs beyond the
    threshold — otherwise the entry proves nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ph = perceptual.image_phash(
        perceptual.with_grayscale_payload(docs)
    ).cache()
    pairs = perceptual.phash_neardup_pairs(ph, max_hamming=3)
    hist = {
        r["hamming"]: r["n"]
        for r in pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_docs = ph.count()
    n_hashes = ph.select("phash").distinct().count()
    ph.unpersist()
    assert hist.get(0, 0) > 0, "no identical-hash pairs"
    assert sum(v for k, v in hist.items() if k > 0) > 0, (
        "no near-but-not-identical pairs"
    )
    # far pairs exist: distinct hashes exceed what a <=3-ball cover
    # of one representative would allow if everything were near
    assert n_hashes > 1
    total_near = sum(hist.values())
    assert total_near < n_docs * (n_docs - 1) // 2, (
        "every pair qualified — spectrum is vacuous"
    )


def test_phash_envelope_gates(spark):
    from pyspark_scd_spark.functions import imagecodec

    df = spark.createDataFrame(
        [(1, imagecodec.encode_png(8, 8, 1, [0] * 64))],
        "doc_id: long, payload: binary",
    )
    with pytest.raises(Exception, match="16x16"):
        perceptual.image_phash(df).collect()
    ph = spark.createDataFrame([(1, 5)], "doc_id: long, phash: long")
    with pytest.raises(ValueError, match="pigeonhole"):
        perceptual.phash_neardup_pairs(ph, max_hamming=4)



def test_tools_reference_existing_perceptual_names():
    """The scale studies in tools/ call perceptual.<name>,
    multimodal.<name> and similarity.<name> but never run in the test
    suite, so a renamed or removed operator or helper would only
    surface on a full-scale run. Scan their ASTs (no Spark), resolve
    each file's import aliases (``similarity as S``) and require every
    referenced name to exist."""
    import ast
    import glob
    import os

    from pyspark_scd_spark.operators import multimodal, similarity

    modules = {
        "perceptual": perceptual,
        "multimodal": multimodal,
        "similarity": similarity,
    }
    package = "pyspark_scd_spark.operators"
    tools = os.path.join(os.path.dirname(__file__), "..", "tools")
    refs = {}
    for path in glob.glob(os.path.join(tools, "*.py")):
        with open(path) as f:
            tree = ast.parse(f.read())
        # local name -> module name
        bound = {
            a.asname or a.name: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module == package
            for a in node.names
            if a.name in modules
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                refs.setdefault(
                    (bound[node.value.id], node.attr),
                    os.path.basename(path),
                )
    for mod in modules:
        assert any(m == mod for m, _ in refs), (
            f"no {mod}.<name> references found under tools/"
        )
    missing = {
        f"{m}.{n}": p
        for (m, n), p in refs.items()
        if not hasattr(modules[m], n)
    }
    assert not missing, missing


def test_pixel_sql_python_parity():
    """_pixel (Python) and phash_pixel_expr_sql (DuckDB oracle text)
    are two transcriptions of one formula; pin them equal over the
    full exhaustive grid the operator ever evaluates — every (y, x)
    in the 16x16 image for docs covering all PHASH_GROUPS groups and
    all 4 eps magnitudes — so silent drift between the operator's
    synthetic pixels and the oracle's is impossible."""
    import duckdb

    n = perceptual.PHASH_IMG
    docs = list(range(perceptual.PHASH_GROUPS * 4))
    expr = perceptual.phash_pixel_expr_sql("d.doc", "g.y", "g.x")
    con = duckdb.connect()
    con.execute(
        "CREATE TEMP TABLE d AS SELECT unnest(?) AS doc", [docs]
    )
    con.execute(
        f"CREATE TEMP TABLE g AS SELECT y, x FROM range({n}) t1(y),"
        f" range({n}) t2(x)"
    )
    rows = con.execute(
        f"SELECT d.doc, g.y, g.x, {expr} AS px FROM d, g"
        " ORDER BY d.doc, g.y, g.x"
    ).fetchall()
    assert len(rows) == len(docs) * n * n
    for doc, y, x, px in rows:
        assert px == perceptual._pixel(doc, y, x), (doc, y, x)


def test_video_frame_hashes_match_python_reference(spark):
    """Spark's Arrow-side frame fingerprint equals a direct Python
    recomputation from the deterministic plane signal, for dims
    covering every (w, h, n) combination the synth produces."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    got = {
        (r["doc_id"], r["frame_idx"]): r["fhash"]
        for r in perceptual.video_frame_hashes(
            MM.with_video_payload(docs)
        ).collect()
    }
    for i in range(60):
        w, h, n = MM._vid_dims(i)
        for f in range(n):
            lum = [
                (i * 31 + f * 97 + y * 13 + x * 7) % 256
                for y in range(h)
                for x in range(w)
            ]
            s = sum(lum)
            expect = sum(
                (1 << k)
                for k in range(63)
                if lum[(k % h) * w + (k * 7) % w] * (w * h) > s
            )
            assert got[(i, f)] == expect, (i, f)


def test_video_neardup_identical_and_disjoint(spark):
    """Byte-identical videos match on every frame combination at
    hamming 0; a video with no matching frames produces no pair."""
    from pyspark.sql import Row

    # two identical 2-frame videos + one with disjoint hashes
    fh = spark.createDataFrame(
        [
            Row(doc_id=1, frame_idx=0, fhash=10),
            Row(doc_id=1, frame_idx=1, fhash=99),
            Row(doc_id=2, frame_idx=0, fhash=10),
            Row(doc_id=2, frame_idx=1, fhash=99),
            Row(doc_id=3, frame_idx=0, fhash=(1 << 40) | (1 << 20)),
        ]
    )
    out = {
        (r["video_a"], r["video_b"]): r["n_matched"]
        for r in perceptual.video_neardup_pairs(fh).collect()
    }
    # frames 10 and 99 differ by more than 3 bits (10^99 = 105 ->
    # popcount 4), so only the two aligned matches count
    assert out == {(1, 2): 2}


def test_video_neardup_counts_cross_frame_combinations(spark):
    """A frame hash within hamming 3 of TWO frames of another video
    contributes two matched combinations; min_matches filters."""
    from pyspark.sql import Row

    fh = spark.createDataFrame(
        [
            Row(doc_id=1, frame_idx=0, fhash=0b1000),
            Row(doc_id=2, frame_idx=0, fhash=0b1001),
            Row(doc_id=2, frame_idx=1, fhash=0b1010),
        ]
    )
    out = perceptual.video_neardup_pairs(fh, min_matches=2).collect()
    assert len(out) == 1 and out[0]["n_matched"] == 2
    none = perceptual.video_neardup_pairs(fh, min_matches=3).collect()
    assert none == []


def test_audio_fingerprint_matches_python_reference(spark):
    """Spark's Arrow-side fingerprint equals a direct Python
    recomputation from the deterministic PCM signal."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: (r["n_windows"], r["afp"])
        for r in perceptual.audio_fingerprint(
            MM.with_audio_payload(docs)
        ).collect()
    }
    for i in range(40):
        n = 64 + i % 193
        s = [((i * 7919 + j * 104729) % 65536) - 32768 for j in range(n)]
        n_win = (n + 3) // 4
        e = [
            sum(v * v for v in s[w * 4 : (w + 1) * 4])
            for w in range(n_win)
        ]
        afp = sum(
            (1 << ((16 * k) % 63))
            for k in range(min(n_win - 1, 63))
            if e[k + 1] > e[k]
        )
        assert got[i] == (n_win, afp), i


def test_audio_twin_is_near_duplicate(spark):
    """The planted re-encode twin (+333 phase on samples j < 2)
    changes only window 0's energy, so its fingerprint is within
    hamming 1 of the original — and the pair machinery finds it."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 13).withColumnRenamed("id", "doc_id")
    clips = MM.with_audio_payload(docs).unionByName(
        MM.with_audio_payload(
            docs, phase_boost=333, id_offset=10_000_000
        )
    )
    fp = perceptual.audio_fingerprint(clips)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in perceptual.phash_neardup_pairs(
            fp, hash_col="afp"
        ).collect()
    }
    for i in range(13):
        assert (i, i + 10_000_000) in pairs
        assert pairs[(i, i + 10_000_000)] <= 1


def test_video_neardup_incremental_batch_only(spark):
    """Candidates only cross the store/batch boundary; an exact-dup
    video in the batch matches its store twin on every frame."""
    from pyspark.sql import Row

    store = spark.createDataFrame(
        [
            Row(doc_id=1, frame_idx=0, fhash=10),
            Row(doc_id=1, frame_idx=1, fhash=99),
            Row(doc_id=2, frame_idx=0, fhash=10),
            Row(doc_id=2, frame_idx=1, fhash=99),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=7, frame_idx=0, fhash=10),
            Row(doc_id=7, frame_idx=1, fhash=99),
            Row(doc_id=8, frame_idx=0, fhash=(1 << 40)),
        ]
    )
    out = {
        (r["store_id"], r["batch_id"]): r["n_matched"]
        for r in perceptual.video_neardup_incremental(
            store, batch
        ).collect()
    }
    # store videos 1 and 2 are identical to each other, but store-
    # internal pairs must NOT appear; both match batch video 7
    assert out == {(1, 7): 2, (2, 7): 2}


def test_audio_incremental_twins_cross_boundary(spark):
    """Every planted re-encode twin pairs with its base across the
    store (<10M) / batch (>=10M) split at hamming <= 1."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 26).withColumnRenamed("id", "doc_id")
    fp = perceptual.audio_fingerprint(
        MM.with_audio_payload(docs).unionByName(
            MM.with_audio_payload(
                docs.filter(F.col("doc_id") % 13 == 0),
                phase_boost=333,
                id_offset=10_000_000,
            )
        )
    )
    pairs = {
        (r["store_id"], r["batch_id"]): r["hamming"]
        for r in perceptual.phash_neardup_incremental(
            fp.filter(F.col("doc_id") < 10_000_000),
            fp.filter(F.col("doc_id") >= 10_000_000),
            hash_col="afp",
        ).collect()
    }
    for base in (0, 13):
        assert (base, base + 10_000_000) in pairs
        assert pairs[(base, base + 10_000_000)] <= 1


def test_audio_interleave_bit_layout_is_bijection():
    """The (16k) % 63 transition->bit permutation is a bijection on
    0..62 (no transition lost, none overwritten) and strides adjacent
    transitions 16 bit positions apart, so each contiguous 16-bit LSH
    band samples transitions spaced 4 apart — the decorrelation that
    removes the alternating-pattern band modes (SCALING.md r11)."""
    pos = [(16 * k) % 63 for k in range(63)]
    assert sorted(pos) == list(range(63))
    for k in range(62):
        assert abs(pos[k + 1] - pos[k]) in (16, 63 - 16)


def test_audio_fingerprint_wide_matches_python_reference(spark):
    """Arrow-side 124-bit fingerprint equals a direct Python
    recomputation (window=2, two packed words)."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: (r["n_windows"], r["afp_lo"], r["afp_hi"])
        for r in perceptual.audio_fingerprint_wide(
            MM.with_audio_payload(docs, min_samples=250)
        ).collect()
    }
    for i in range(30):
        n = 250 + i % 193
        s = [((i * 7919 + j * 104729) % 65536) - 32768 for j in range(n)]
        n_win = (n + 1) // 2
        e = [
            sum(v * v for v in s[w * 2 : (w + 1) * 2])
            for w in range(n_win)
        ]
        lo = hi = 0
        for k in range(min(n_win - 1, 124)):
            if e[k + 1] > e[k]:
                if k < 62:
                    lo |= 1 << k
                else:
                    hi |= 1 << (k - 62)
        assert got[i] == (n_win, lo, hi), i


def test_wide_band_join_equals_brute_force(spark):
    """Pigeonhole recall 1 for the 31-bit-band two-word join: the
    banded pipeline finds EXACTLY the pairs an all-pairs 124-bit
    hamming filter finds — including hamming-0 twins."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 120).withColumnRenamed("id", "doc_id")
    clips = MM.with_audio_payload(docs, min_samples=250).unionByName(
        MM.with_audio_payload(
            docs.filter(F.col("doc_id") % 13 == 0),
            phase_boost=333,
            id_offset=10_000_000,
            min_samples=250,
        )
    )
    fp = perceptual.audio_fingerprint_wide(clips).cache()
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in perceptual.wide_hamming_neardup_pairs(fp).collect()
    }
    rows = {
        r["doc_id"]: (r["afp_lo"], r["afp_hi"]) for r in fp.collect()
    }
    fp.unpersist()
    want = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(rows[a][0] ^ rows[b][0]).count("1") + bin(
                rows[a][1] ^ rows[b][1]
            ).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want and want
    # every planted twin is found
    for i in range(0, 120, 13):
        assert any(p[0] == i and p[1] == i + 10_000_000 for p in want)


def test_audio_fingerprint_wide_rejects_short_clips(spark):
    """The >= 125-window precondition is enforced, not documented:
    a short clip raises instead of silently producing the hot
    zero-bucket pathology in the hi bands."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 3).withColumnRenamed("id", "doc_id")
    with pytest.raises(Exception, match="125 windows"):
        perceptual.audio_fingerprint_wide(
            MM.with_audio_payload(docs)  # default 64..256 samples
        ).collect()


def test_video_frame_hash_wide_matches_python_reference(spark):
    """Arrow-side 124-bit frame hash equals a direct Python
    recomputation of the deterministic luma signal (stride-101
    position bijection, two packed words)."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    got = {
        (r["doc_id"], r["frame_idx"]): (r["fhash_lo"], r["fhash_hi"])
        for r in perceptual.video_frame_hash_wide(
            MM.with_video_payload(docs, min_w=16, min_h=10)
        ).collect()
    }
    for i in range(20):
        w = 16 + (i % 5) * 2
        h = 10 + (i % 3) * 2
        n = 2 + i % 4
        for f in range(n):
            lum = [
                (i * 31 + f * 97 + y * 13 + x * 7) % 256
                for y in range(h)
                for x in range(w)
            ]
            s = sum(lum)
            lo = hi = 0
            for k in range(124):
                p = (k * 101) % (w * h)
                if lum[p] * (w * h) > s:
                    if k < 62:
                        lo |= 1 << k
                    else:
                        hi |= 1 << (k - 62)
            assert got[(i, f)] == (lo, hi), (i, f)


def test_video_wide_stride_positions_distinct():
    """(k*101) % (w*h) is injective over k < 124 for EVERY frame
    geometry the synthesizer can emit — all 124 bits sample distinct
    pixels (the narrow form's aliasing pathology engineered out)."""
    for min_w, min_h in ((16, 10), (8, 6)):
        for dw in range(5):
            for dh in range(3):
                w, h = min_w + dw * 2, min_h + dh * 2
                if w * h < 124:
                    continue
                pos = [(k * 101) % (w * h) for k in range(124)]
                assert len(set(pos)) == 124, (w, h)


def test_video_wide_band_join_equals_brute_force(spark):
    """Recall 1 for the wide frame-vote pipeline: pairs and match
    counts equal an all-pairs frame-hamming brute force, and every
    planted twin (frames 1..n-1 byte-identical) is found at
    min_matches=1."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 80).withColumnRenamed("id", "doc_id")
    clips = MM.with_video_payload(
        docs, min_w=16, min_h=10
    ).unionByName(
        MM.with_video_payload(
            docs.filter(F.col("doc_id") % 13 == 0),
            min_w=16,
            min_h=10,
            pixel_boost=333,
            id_offset=10_000_000,
        )
    )
    fh = perceptual.video_frame_hash_wide(clips).cache()
    got = {
        (r["video_a"], r["video_b"]): r["n_matched"]
        for r in perceptual.video_neardup_pairs_wide(
            fh, min_matches=1
        ).collect()
    }
    by_vid: dict = {}
    for r in fh.collect():
        by_vid.setdefault(r["doc_id"], []).append(
            (r["fhash_lo"], r["fhash_hi"])
        )
    fh.unpersist()
    want: dict = {}
    ids = sorted(by_vid)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            m = sum(
                1
                for la, ha in by_vid[a]
                for lb, hb in by_vid[b]
                if bin(la ^ lb).count("1") + bin(ha ^ hb).count("1")
                <= 3
            )
            if m >= 1:
                want[(a, b)] = m
    assert got == want and want
    for i in range(0, 80, 13):
        assert (i, i + 10_000_000) in want


def test_video_frame_hash_wide_rejects_small_frames(spark):
    """The >= 124-pixel precondition is enforced, not documented:
    a small frame raises instead of silently aliasing positions and
    re-correlating the MIH bands."""
    from pyspark_scd_spark.operators import multimodal as MM

    docs = spark.range(0, 3).withColumnRenamed("id", "doc_id")
    with pytest.raises(Exception, match="124 luma"):
        perceptual.video_frame_hash_wide(
            MM.with_video_payload(docs)  # default 8x6-class frames
        ).collect()


def test_cos_table_16_far_from_rounding_boundaries():
    """Every entry of the extended 16-row table sits >= 0.09 from a
    .5 boundary — the cross-engine exactness precondition, re-checked
    for the rows the wide hash adds (8..15)."""
    import math

    n = perceptual.PHASH_IMG
    for u in range(16):
        for k in range(n):
            v = (
                math.cos(math.pi * (2 * k + 1) * u / (2 * n))
                * perceptual.PHASH_SCALE
            )
            assert abs(v - math.floor(v) - 0.5) >= 0.09, (u, k)
    assert perceptual.phash_cos_table(16)[:8] == (
        perceptual.phash_cos_table()
    )


def test_image_phash_wide_matches_python_reference(spark):
    """Arrow-side 124-bit image hash equals a direct numpy
    recomputation from the pixel closed form (both GEMMs, rank-62
    threshold, two packed words)."""
    import numpy as np

    from pyspark_scd_spark.operators.perceptual import _pixel

    docs = spark.range(0, 25).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: (r["phash_lo"], r["phash_hi"])
        for r in perceptual.image_phash_wide(
            perceptual.with_grayscale_payload(docs)
        ).collect()
    }
    ct8 = np.asarray(perceptual.phash_cos_table(), dtype=np.int64)
    ct16 = np.asarray(perceptual.phash_cos_table(16), dtype=np.int64)
    n = perceptual.PHASH_IMG
    for i in range(25):
        p = np.asarray(
            [[_pixel(i, y, x) for x in range(n)] for y in range(n)],
            dtype=np.int64,
        )
        rest = (ct8 @ p @ ct16.T).ravel()[1:125]
        med = np.sort(rest)[61]
        lo = hi = 0
        for k, c in enumerate(rest):
            if c > med:
                if k < 62:
                    lo |= 1 << k
                else:
                    hi |= 1 << (k - 62)
        assert got[i] == (lo, hi), i


def test_image_wide_band_join_equals_brute_force(spark):
    """Pigeonhole recall 1 for the wide image pair join: the banded
    pipeline finds EXACTLY the pairs an all-pairs 124-bit hamming
    filter finds on the synthetic near-dup corpus."""
    docs = spark.range(0, 160).withColumnRenamed("id", "doc_id")
    fp = perceptual.image_phash_wide(
        perceptual.with_grayscale_payload(docs)
    ).cache()
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in perceptual.wide_hamming_neardup_pairs(
            fp, lo_col="phash_lo", hi_col="phash_hi"
        ).collect()
    }
    rows = {
        r["doc_id"]: (r["phash_lo"], r["phash_hi"])
        for r in fp.collect()
    }
    fp.unpersist()
    want = set()
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(rows[a][0] ^ rows[b][0]).count("1") + bin(
                rows[a][1] ^ rows[b][1]
            ).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want and want


def test_audio_fingerprint_zero_sample_clip_emits_zero(spark):
    """r13 ADVICE: the r12 vectorization crashed on a zero-sample
    WAV — n_win=0 gave k=-1, so the empty `bits` broadcast against
    wts[:-1] (62 weights). The replaced loop form returned afp=0;
    pin that contract."""
    from pyspark_scd_spark.functions import audiocodec

    df = spark.createDataFrame(
        [
            (1, audiocodec.encode_wav([], 8000)),
            (2, audiocodec.encode_wav([5, 9, 1, 2, 8, 8, 0, 3], 8000)),
        ],
        "doc_id: long, payload: binary",
    )
    rows = {
        r["doc_id"]: (r["n_windows"], r["afp"])
        for r in perceptual.audio_fingerprint(df, window=4).collect()
    }
    assert rows[1] == (0, 0)
    assert rows[2][0] == 2  # sane clip still fingerprints


def test_video_frame_hash_wide_rejects_noninjective_stride(spark):
    """r13 ADVICE: w*h >= 124 is necessary but not sufficient for
    the 'all 124 bits sample distinct pixels' guarantee — a frame
    whose pixel count shares the factor 101 with the stride (and
    w*h/101 < 124) repeats positions with period w*h/101. 101x2 =
    202 pixels passes the size gate yet only 2 distinct positions
    exist; it must be rejected, while 101x124 (divisible by 101 but
    with a full period) and ordinary sizes stay accepted."""
    from pyspark_scd_spark.functions import videocodec

    def vid(w, h):
        n = w * h
        y = bytes((i * 7) % 256 for i in range(n))
        u = v = bytes(n)
        return videocodec.encode_y4m([(y, u, v)], w, h)

    bad = spark.createDataFrame(
        [(1, vid(101, 2))], "doc_id: long, payload: binary"
    )
    with pytest.raises(Exception, match="non-injective"):
        perceptual.video_frame_hash_wide(bad).collect()

    ok = spark.createDataFrame(
        [(1, vid(101, 124)), (2, vid(16, 16))],
        "doc_id: long, payload: binary",
    )
    assert perceptual.video_frame_hash_wide(ok).count() == 2


# (module, operator, declared schema) for every operator behind the
# shared (id, payload) -> rows map: the eleven decoders and six hashers
_PAYLOAD_MAPS = [
    ("multimodal", "extract_payload_meta", "PAYLOAD_META_SCHEMA"),
    ("multimodal", "decode_image_features", "IMAGE_FEATURE_SCHEMA"),
    ("multimodal", "resize_payload", "RESIZED_SCHEMA"),
    ("multimodal", "sample_frames", "FRAME_SAMPLE_SCHEMA"),
    ("multimodal", "decode_audio_features", "AUDIO_FEATURE_SCHEMA"),
    ("multimodal", "audio_window_energy", "AUDIO_ENERGY_SCHEMA"),
    ("multimodal", "video_frame_stats", "VIDEO_FRAME_STATS_SCHEMA"),
    ("multimodal", "png_pixel_stats", "PNG_PIXEL_STATS_SCHEMA"),
    ("multimodal", "gif_pixel_stats", "GIF_PIXEL_STATS_SCHEMA"),
    ("multimodal", "jpeg_component_stats", "JPEG_COMPONENT_STATS_SCHEMA"),
    ("multimodal", "flac_sample_stats", "FLAC_SAMPLE_STATS_SCHEMA"),
    ("perceptual", "image_phash", "PHASH_SCHEMA"),
    ("perceptual", "video_frame_hashes", "VIDEO_FHASH_SCHEMA"),
    ("perceptual", "audio_fingerprint", "AUDIO_FP_SCHEMA"),
    ("perceptual", "image_phash_wide", "WIDE_PHASH_SCHEMA"),
    ("perceptual", "video_frame_hash_wide", "WIDE_VIDEO_FHASH_SCHEMA"),
    ("perceptual", "audio_fingerprint_wide", "WIDE_AUDIO_FP_SCHEMA"),
]


@pytest.mark.parametrize(
    "mod,op,schema,zero_sample_clip",
    [(*m, False) for m in _PAYLOAD_MAPS]
    + [("multimodal", "audio_window_energy", "AUDIO_ENERGY_SCHEMA", True)],
    ids=[m[1] for m in _PAYLOAD_MAPS] + ["audio_window_energy-zero-sample"],
)
def test_payload_maps_emit_no_rows_with_declared_schema(
    spark, mod, op, schema, zero_sample_clip
):
    """An empty input gives 0 rows carrying the operator's declared
    schema; so does a non-empty batch whose payloads yield no rows (a
    zero-sample clip has no energy windows), which hands an empty
    record list across the Arrow boundary."""
    from pyspark_scd_spark.functions import audiocodec
    from pyspark_scd_spark.operators import multimodal

    module = {"multimodal": multimodal, "perceptual": perceptual}[mod]
    if zero_sample_clip:
        df = spark.createDataFrame(
            [(1, audiocodec.encode_wav([], 8000))],
            "doc_id: long, payload: binary",
        )
    else:
        df = spark.range(0).select(
            F.col("id").alias("doc_id"),
            F.lit("").cast("binary").alias("payload"),
        )
    out = getattr(module, op)(df)
    assert out.schema == getattr(module, schema)
    assert out.collect() == []
