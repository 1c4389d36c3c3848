"""Scale-ratio study driver for SCALING.md: run registry queries
against the key-shifted tiers gen_scale.py wrote and report
steady-state (second-run) wall times.

    python tools/scale_study.py /tmp/scale_x3 /tmp/scale_x10 -- q1 q2 ...

Each query runs twice per tier in one session; the second run's wall
time is reported (first run absorbs staging/codegen — the same
protocol as the round-2 tables). Output: one markdown table row per
query.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_scd_spark.operators import similarity  # noqa: E402
from pyspark_scd_spark.registry import REGISTRY  # noqa: E402
from pyspark_scd_spark.session import get_spark  # noqa: E402


def _emb(spark, d):
    from pyspark_scd_spark.sources.readers import read_parquet_table

    return read_parquet_table(spark, d, "embeddings")


def _ann_auto(op, **kw):
    """The library's auto_planes scale path (registry entries pin
    n_planes=8 only so their oracle SQL stays static; at scale the
    auto path is the default)."""
    return lambda spark, d: op(_emb(spark, d), n_planes=None, **kw)


# Non-registry study targets: the ANN trio under auto_planes, and the
# exact grid twins for the quadratic baseline.
SPECIAL = {
    "neardup_ann_auto": _ann_auto(
        similarity.embedding_neardup_pairs_ann, threshold=0.3, dim=64
    ),
    "neardup_grid_exact": lambda spark, d: similarity.embedding_neardup_pairs_grid(
        _emb(spark, d), threshold=0.3
    ),
    "knn_ann_auto": _ann_auto(similarity.knn_label_vote_ann, k=5, dim=64),
    "knn_grid_exact": lambda spark, d: similarity.knn_label_vote_grid(
        _emb(spark, d), k=5
    ),
    "hardneg_ann_auto": _ann_auto(
        similarity.hard_negative_mining_ann, k=3, dim=64
    ),
}


def main() -> None:
    argv = sys.argv[1:]
    split = argv.index("--")
    dirs, keys = argv[:split], argv[split + 1 :]
    spark = get_spark(app_name="scale_study")
    results: dict[str, list[float]] = {k: [] for k in keys}
    for d in dirs:
        for k in keys:
            b = SPECIAL[k] if k in SPECIAL else REGISTRY[k].builder
            # noop-format write, NOT count(): count() lets the
            # optimizer prune final-stage aggregate expressions
            # (the bench.py r7 lesson), under-measuring queries
            # whose last stage carries md5/collect_list work.
            try:
                t0 = time.time()
                b(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                cold = time.time() - t0
                t0 = time.time()
                df = b(spark, d)
                df.write.format("noop").mode("overwrite").save()
                steady = time.time() - t0
                n = "-"
            except Exception as e:  # noqa: BLE001
                print(f"ERR {k} @ {d}: {e}", flush=True)
                results[k].append(float("nan"))
                continue
            results[k].append(steady)
            print(
                f"{k} @ {os.path.basename(d)}: cold {cold:.2f}s "
                f"steady {steady:.2f}s rows {n}",
                flush=True,
            )
            spark.catalog.clearCache()
    hdr = " | ".join(os.path.basename(d) for d in dirs)
    print(f"\n| query | {hdr} |")
    print("|---" * (len(dirs) + 1) + "|")
    for k in keys:
        cells = " | ".join(f"{v:.2f}s" for v in results[k])
        print(f"| {k} | {cells} |")


if __name__ == "__main__":
    main()
