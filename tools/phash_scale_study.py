"""x30/x100/x300 decade for the image-pHash dedup family
(SCALING.md round 10 — VERDICT r9 item 2: the only dedup family
without a decade study).

CORPUS CHOICE (the study's first finding): the registry corpus
(perceptual.with_grayscale_payload) synthesizes pixels from
(doc % GROUPS, (doc//GROUPS) % 4, doc % 3) — at ANY scale it has at
most ~300 distinct pHashes (measured: 35 at 150k docs), so hash
cliques grow linearly with n and the pair OUTPUT is quadratic:
421.8M pairs at 150k docs. That is a degenerate all-duplicates
corpus — right for oracle parity at sf0.01, wrong for a throughput
decade (the same reason the ANN study generated novel vectors
instead of key-shifting). This study synthesizes DIVERSE images —
pixels from a per-doc integer hash, so pHashes are ~unique — with
planted near-dup partners (every doc_id % 100 == 1 perturbs doc-1's
image), so dup mass grows linearly and the measurement is the
operator pipeline (PNG decode, integer DCT, distinct-hash band join,
expansion), not output materialization.

The registry-corpus pathology itself is documented in SCALING.md:
the round-10 distinct-hash collapse took the 150k clique corpus from
195s to ~48s (all remaining cost is the contract-inherent 422M-row
output), and the collapse is what makes the DIVERSE decade here flat.

Tiers vs sf0.1's 5k documents: 150k ("x30"), 500k ("x100"),
1.5M ("x300"). Timing protocol = ann_x100_study.py: noop consumer,
warm + 2 timed per (query, tier), steady state = the last.

Usage: python tools/phash_scale_study.py [out_json] [max_tier]
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
from tools.av_scale_study import _consume, _ensure_tier  # noqa: E402

TIERS = [(150_000, "x30"), (500_000, "x100"), (1_500_000, "x300")]


def diverse_grayscale_payload(
    df: DataFrame, id_col: str = "doc_id", out_col: str = "payload"
) -> DataFrame:
    """Real grayscale PNGs with ~unique pHashes: pixels from a
    Knuth-hash of the doc id. Every doc_id % 100 == 1 renders doc-1's
    base image with a small corner perturbation — a planted near-dup
    partner (hamming small, often 0..3), so dup mass is linear in n."""

    n = perceptual.PHASH_IMG

    def make(i):
        from pyspark_scd_spark.functions import imagecodec

        base = i - 1 if i % 100 == 1 else i
        s = (base * 2654435761) % 2147483647
        px = [
            (s + y * 40503 + x * 9973 + ((y * x) % 11) * 7919
             + ((s >> 8) * (y + 3 * x)) ) % 251
            for y in range(n)
            for x in range(n)
        ]
        if i % 100 == 1:
            for k in range(8):
                px[k] = (px[k] + 9) % 251
        return imagecodec.encode_png(n, n, 1, px)

    return multimodal._synth_payloads(df, make, id_col, out_col)


def _queries(spark, sf_dir: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def q_hash(_spark, _d):
        return perceptual.image_phash(diverse_grayscale_payload(docs))

    def q_neardup(_spark, _d):
        return perceptual.phash_neardup_pairs(
            perceptual.image_phash(diverse_grayscale_payload(docs))
        )

    def q_incremental(_spark, _d):
        def _ph(pred):
            return perceptual.image_phash(
                diverse_grayscale_payload(docs.filter(pred))
            )

        return perceptual.phash_neardup_incremental(
            _ph(F.col("doc_id") % 10 < 8),
            _ph(F.col("doc_id") % 10 >= 8),
        )

    return {
        "image_phash": q_hash,
        "image_phash_neardup": q_neardup,
        "image_phash_incremental": q_incremental,
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/phash_decade.json"
    max_tier = sys.argv[2] if len(sys.argv) > 2 else "x300"
    tiers = TIERS[: [t for _, t in TIERS].index(max_tier) + 1]
    spark = get_spark(app_name="phash_scale_study")

    for n, _tag in tiers:
        _ensure_tier(spark, n, f"/tmp/phashdiv_{n}")

    results: dict[str, dict[str, float]] = {}
    for name in ["image_phash", "image_phash_neardup", "image_phash_incremental"]:
        results[name] = {}
        for n, tag in tiers:
            d = f"/tmp/phashdiv_{n}"
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

    summary = {}
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
