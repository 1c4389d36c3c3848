"""x30/x100/x300 decade for the VIDEO frame-vote and AUDIO
fingerprint dedup families (VERDICT r10 item 4 — the only two dedup
families without scale evidence; image pHash got its decade in round
10, tools/phash_scale_study.py).

CORPUS CHOICE follows the pHash-decade lesson verbatim: the registry
corpora derive pixels/samples linearly from doc_id, so hash diversity
saturates and pair output goes quadratic — right for oracle parity,
wrong for a throughput decade. This study synthesizes DIVERSE media:

- video: 3-frame 16x8 Y4M clips whose luma comes from a Knuth hash of
  (doc, frame, y, x) — frame hashes ~unique; every doc_id % 100 == 1
  keeps doc-1's frames 1..2 byte-identical and replaces frame 0, so
  each planted partner matches on exactly 2 frames (hamming 0) and
  survives min_matches=2 — dup mass linear in n.
- audio: 256-sample WAV clips from the same hash family; partners
  copy doc-1's samples and perturb only the last 8, flipping <= 2
  energy-transition bits — a hamming <= 3 planted pair.

The measurement is therefore the operator pipeline — Y4M/WAV decode
(pure Arrow map), distinct-hash band join, expansion joins, frame
vote — not output materialization. Distinct-hash counts are printed
per tier so corpus degeneracy is visible, not assumed.

Tiers vs sf0.1's 5k documents: 150k ("x30"), 500k ("x100"),
1.5M ("x300"). Timing protocol = phash_scale_study.py: noop consumer,
warm + 2 timed per (query, tier), steady state = the last.

Usage: python tools/av_scale_study.py [out_json] [max_tier]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from pyspark_scd_spark.operators import multimodal, perceptual  # noqa: E402
from pyspark_scd_spark.session import get_spark  # noqa: E402

TIERS = [(150_000, "x30"), (500_000, "x100"), (1_500_000, "x300")]

# h=9 deliberately: video_frame_hashes samples luma at positions
# (k % h, 7k % w); with h=8, w=16 the position sequence repeats every
# 16 bits (lcm(8,16)/... both powers of two), leaving only 16
# independent bits and hash cliques; lcm(9,16)=144 > 63 gives 63
# distinct sample positions -> ~unique frame hashes (measured: 2479
# distinct of 6000 frames at h=8 vs ~5980 at h=9 on the n=2000 probe)
VID_W, VID_H, VID_F = 16, 9, 3
AUD_N = 256


def _vid_frame(seed: int, f: int) -> bytes:
    # xxhash-style avalanche per pixel: the additive-congruential
    # form left correlated threshold patterns (measured 103 hamming
    # <= 3 pairs at n=2000 where ~20 planted exist); full mixing
    # makes incidental near-collisions vanish so dup mass is the
    # planted linear component only
    out = bytearray(VID_H * VID_W)
    base = (seed ^ (f * 0x9E3779B9)) & 0xFFFFFFFF
    i = 0
    for y in range(VID_H):
        ry = (base ^ (y * 0x85EBCA6B)) & 0xFFFFFFFF
        for x in range(VID_W):
            v = (ry ^ (x * 0xC2B2AE35)) & 0xFFFFFFFF
            v = (v ^ (v >> 13)) * 0x27D4EB2F & 0xFFFFFFFF
            v ^= v >> 15
            out[i] = v % 251
            i += 1
    return bytes(out)


def diverse_video_payload(df: DataFrame) -> DataFrame:
    """Real Y4M clips with ~unique frame hashes; doc_id % 100 == 1
    replants doc-1's frames 1..2 (planted 2-frame-vote partner)."""

    uv = bytes([128]) * (VID_W * VID_H)

    def make(i):
        from pyspark_scd_spark.functions import videocodec

        base = i - 1 if i % 100 == 1 else i
        seed = (base * 2654435761) % 2147483647
        frames = []
        for f in range(VID_F):
            if f == 0 and i % 100 == 1:
                # partner's own frame 0 — different content, so only
                # frames 1..2 vote
                y = _vid_frame((i * 97 + 13) % 2147483647, 0)
            else:
                y = _vid_frame(seed, f)
            frames.append((y, uv, uv))
        return videocodec.encode_y4m(frames, VID_W, VID_H)

    return multimodal._synth_payloads(df, make)


def _aud_samples(seed: int) -> list:
    """splitmix64 avalanche per sample index (r13, VERDICT r12 item
    4): the additive-congruential form drew every clip from <=31
    bits of effective state, and the x1000 diverse tier saturated at
    2.96M distinct fingerprints of 5M clips — the study was
    measuring corpus saturation, not the operator. Full 64-bit
    mixing gives the seed family well over 48 bits of entropy so
    distinct fingerprints ~ n at x1000 (numpy-vectorized: the synth
    runs inside the TIMED hash stage, so it must not get slower)."""
    import numpy as np

    j = np.arange(AUD_N, dtype=np.uint64)
    z = np.uint64(seed & ((1 << 64) - 1)) + j * np.uint64(
        0x9E3779B97F4A7C15
    )
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    return [int(v) - 32768 for v in (z & np.uint64(0xFFFF))]


def diverse_audio_payload(df: DataFrame) -> DataFrame:
    """Real WAV clips with ~unique fingerprints; doc_id % 100 == 1
    copies doc-1's samples and perturbs only the last 8 (<= 2
    transition-bit flips — a planted hamming <= 3 partner)."""

    def make(i):
        from pyspark_scd_spark.functions import audiocodec

        # raw base feeds the 64-bit mixer directly — the r12 31-bit
        # golden-ratio modulus capped seed entropy
        samples = _aud_samples(i - 1 if i % 100 == 1 else i)
        if i % 100 == 1:
            for j in range(AUD_N - 8, AUD_N):
                samples[j] = ((samples[j] + 4321) % 65536) - 32768
        return audiocodec.encode_wav(samples, 16000)

    return multimodal._synth_payloads(df, make)


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ensure_tier(spark, n: int, d: str) -> None:
    marker = os.path.join(d, "documents.parquet", "_SUCCESS")
    if os.path.exists(marker):
        return
    t0 = time.time()
    df = spark.range(0, n).withColumnRenamed("id", "doc_id")
    df.repartition(32).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    print(f"built {d} ({n} ids) in {time.time() - t0:.1f}s", flush=True)


def _queries(spark, sf_dir: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def q_video_hash(_s, _d):
        return perceptual.video_frame_hashes(diverse_video_payload(docs))

    def q_video_neardup(_s, _d):
        return perceptual.video_neardup_pairs(
            perceptual.video_frame_hashes(diverse_video_payload(docs))
        )

    def q_video_incremental(_s, _d):
        def _fh(pred):
            return perceptual.video_frame_hashes(
                diverse_video_payload(docs.filter(pred))
            )

        return perceptual.video_neardup_incremental(
            _fh(F.col("doc_id") % 10 < 8),
            _fh(F.col("doc_id") % 10 >= 8),
        )

    def q_audio_hash(_s, _d):
        return perceptual.audio_fingerprint(diverse_audio_payload(docs))

    def q_audio_neardup(_s, _d):
        return perceptual.phash_neardup_pairs(
            perceptual.audio_fingerprint(diverse_audio_payload(docs)),
            hash_col="afp",
        )

    def q_audio_incremental(_s, _d):
        fp = perceptual.audio_fingerprint(
            diverse_audio_payload(docs)
        ).localCheckpoint(eager=False)
        return perceptual.phash_neardup_incremental(
            fp.filter(F.col("doc_id") % 10 < 8),
            fp.filter(F.col("doc_id") % 10 >= 8),
            hash_col="afp",
        )

    def q_audio_neardup_wide(_s, _d):
        # the 124-bit MIH form (round 11): the 256-sample diverse
        # corpus meets the >= 125-window precondition at window=2
        return perceptual.wide_hamming_neardup_pairs(
            perceptual.audio_fingerprint_wide(
                diverse_audio_payload(docs)
            )
        )

    return {
        "video_frame_hashes": q_video_hash,
        "video_phash_neardup": q_video_neardup,
        "video_phash_incremental": q_video_incremental,
        "audio_fingerprint": q_audio_hash,
        "audio_fingerprint_neardup": q_audio_neardup,
        "audio_fingerprint_incremental": q_audio_incremental,
        "audio_fingerprint_neardup_wide": q_audio_neardup_wide,
    }


def _diversity(spark, sf_dir: str) -> dict:
    """Distinct-hash counts — the degeneracy check the pHash study
    taught us to print, not assume."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vd = (
        perceptual.video_frame_hashes(diverse_video_payload(docs))
        .agg(
            F.countDistinct("fhash").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    ad = (
        perceptual.audio_fingerprint(diverse_audio_payload(docs))
        .agg(
            F.countDistinct("afp").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    return {
        "video_frames": vd["n"],
        "video_distinct_fhash": vd["d"],
        "audio_clips": ad["n"],
        "audio_distinct_afp": ad["d"],
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/av_decade.json"
    max_tier = sys.argv[2] if len(sys.argv) > 2 else "x300"
    tiers = TIERS[: [t for _, t in TIERS].index(max_tier) + 1]
    spark = get_spark(app_name="av_scale_study")

    for n, _tag in tiers:
        _ensure_tier(spark, n, f"/tmp/avdiv_{n}")

    div = _diversity(spark, f"/tmp/avdiv_{tiers[0][0]}")
    print("DIVERSITY(x30) " + json.dumps(div), flush=True)

    names = list(_queries(spark, f"/tmp/avdiv_{tiers[0][0]}"))
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for name in names:
        for n, tag in tiers:
            d = f"/tmp/avdiv_{n}"
            q = _queries(spark, d)[name]
            runs = []
            for _ in range(3):  # warm + 2 timed
                t0 = time.time()
                _consume(q(spark, d))
                runs.append(round(time.time() - t0, 2))
                spark.catalog.clearCache()
            results[name][tag] = runs[-1]
            print(
                json.dumps(
                    {"query": name, "tier": tag, "n": n, "runs": runs}
                ),
                flush=True,
            )

    summary: dict = {"diversity_x30": div}
    for name, r in results.items():
        x30, x100, x300 = r.get("x30"), r.get("x100"), r.get("x300")
        summary[name] = {
            "x30": x30,
            "x100": x100,
            "x300": x300,
            "x30_to_x100": round(x100 / x30, 2) if x30 and x100 else None,
            "x100_to_x300": round(x300 / x100, 2)
            if x100 and x300 else None,
        }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print("SUMMARY " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
