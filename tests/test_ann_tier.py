"""ANN candidate-generation + exact re-rank tier (the dense quartet's
scale path): correctness contracts vs the exact grid twins, recall
floors, auto-sizing, and plan shape."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pyspark_scd_spark.operators import similarity
from pyspark_scd_spark.plans import explain
from pyspark_scd_spark.sources.readers import read_parquet_table


def _emb(spark, sf_dir):
    return read_parquet_table(spark, sf_dir, "embeddings")


def test_ann_pairs_subset_of_exact_with_identical_cosines(spark, sf_dir):
    """Candidate generation is approximate; the VERIFY stage is exact:
    every emitted ANN pair must appear in the exact grid output with a
    bit-identical cosine, and no pair below threshold may leak."""
    e = _emb(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs_grid(
            e, threshold=0.3
        ).collect()
    }
    ann = similarity.embedding_neardup_pairs_ann(
        e, threshold=0.3, dim=64, n_planes=8, n_tables=8
    ).collect()
    assert len(ann) > 0
    for r in ann:
        key = (r["id_a"], r["id_b"])
        assert key in exact, f"ANN emitted pair not in exact set: {key}"
        assert r["cosine"] == exact[key], (key, r["cosine"], exact[key])
    # recall floor on this near-isotropic corpus (the ANN worst case;
    # measured 0.57-0.63 overall at sf0.001-0.1)
    assert len(ann) / len(exact) >= 0.45, (len(ann), len(exact))


def test_ann_pair_recall_report_consistent(spark, sf_dir):
    """The report's own numbers must reproduce the subset measurement:
    sum(n_hit) == |ann∩exact|, sum(n_true) == |exact|, and recall
    rises (weakly) with the cosine band on every corpus."""
    e = _emb(spark, sf_dir)
    rep = sorted(
        similarity.ann_pair_recall_report(
            e, threshold=0.3, dim=64, n_planes=8, n_tables=8
        ).collect(),
        key=lambda r: r["band_lo"],
    )
    n_true = sum(r["n_true"] for r in rep)
    n_hit = sum(r["n_hit"] for r in rep)
    exact_n = similarity.embedding_neardup_pairs_grid(e, threshold=0.3).count()
    ann_n = similarity.embedding_neardup_pairs_ann(
        e, threshold=0.3, dim=64, n_planes=8, n_tables=8
    ).count()
    assert n_true == exact_n
    assert n_hit == ann_n  # verify stage makes ann ⊆ exact
    for r in rep:
        assert 0.0 <= r["recall"] <= 1.0


def test_knn_ann_contract(spark, sf_dir):
    """Same output contract as the exact twin: one vote row per anchor
    that has candidates, n_agree <= k, prediction among the corpus
    labels, deterministic across runs."""
    e = _emb(spark, sf_dir)
    out1 = similarity.knn_label_vote_ann(e, k=5, dim=64).collect()
    out2 = similarity.knn_label_vote_ann(e, k=5, dim=64).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    labels = {r["label"] for r in e.select("label").distinct().collect()}
    ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    seen = set()
    for r in out1:
        assert r["vec_id"] in ids
        assert r["vec_id"] not in seen  # one row per anchor
        seen.add(r["vec_id"])
        assert 1 <= r["n_agree"] <= 5
        assert r["predicted_label"] in labels
        assert r["mislabeled"] == (r["predicted_label"] != r["label"])


def test_hard_negative_ann_exactness_on_candidates(spark, sf_dir):
    """Every ANN hard negative must be a true cross-label pair with
    the exact cosine; ranks are 1..k contiguous per anchor."""
    e = _emb(spark, sf_dir)
    out = similarity.hard_negative_mining_ann(e, k=3, dim=64).collect()
    assert out
    lab = {r["vec_id"]: r["label"] for r in e.collect()}
    by_anchor = {}
    for r in out:
        assert lab[r["neg_id"]] == r["neg_label"]
        assert r["neg_label"] != r["label"]
        by_anchor.setdefault(r["vec_id"], []).append(r["rank"])
    for anchor, ranks in by_anchor.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), anchor


def test_auto_planes_scaling():
    """auto_planes keeps expected bucket size constant: +1 plane per
    corpus doubling — the property that makes candidate volume O(n)
    instead of O(n²)."""
    assert similarity.auto_planes(1_000, target_bucket=32) == 5
    assert similarity.auto_planes(2_000, target_bucket=32) == 6
    assert similarity.auto_planes(64_000, target_bucket=32) == 11
    assert similarity.auto_planes(10, target_bucket=32) == 4  # lo clamp
    assert similarity.auto_planes(10**12, target_bucket=32) == 20  # hi clamp


def test_auto_blocks_floor(spark, sf_dir):
    e = _emb(spark, sf_dir)
    b = similarity._auto_blocks(e, "embedding")
    import math

    par = spark.sparkContext.defaultParallelism
    assert b >= math.ceil(math.sqrt(2.0 * par))


def test_lsh_candidates_plan_is_bucket_equijoin(spark, sf_dir):
    """The candidate join must be an equi-join on (table, bucket) —
    never a cartesian/BNLJ — and must not materialize on the driver
    (no LocalTableScan of corpus-derived rows)."""
    e = _emb(spark, sf_dir)
    cand = similarity.lsh_candidates(e, dim=64, n_planes=8, n_tables=8)
    plan = explain.physical_plan(cand)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # hash-partitioned equi-join on the (t, bucket) keys
    assert re.search(r"hashpartitioning\((?:ta|t)", plan) or re.search(
        r"\[(?:ta|t)[^\]]*\], \[(?:tb|t)", plan
    ), plan


def test_ivf_pairs_subset_of_exact_with_identical_cosines(spark, sf_dir):
    """The IVF near-dup tier shares the family contract: candidates
    are approximate (same-cell pairs) but the verify stage is exact —
    every emitted pair appears in the exact grid output with a
    bit-identical cosine, and nothing below threshold leaks."""
    e = _emb(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_neardup_pairs_grid(
            e, threshold=0.3
        ).collect()
    }
    ivf = similarity.embedding_neardup_pairs_ivf(
        e, threshold=0.3, k_cells=8, n_probe=2
    ).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["id_a"], r["id_b"])
        assert key in exact, f"IVF emitted pair not in exact set: {key}"
        assert r["cosine"] == exact[key], (key, r["cosine"], exact[key])


def test_ivf_recall_monotone_in_probes(spark, sf_dir):
    """More probed cells per vector can only add same-cell pairs:
    the probe=1 pair set must be a subset of the probe=2 set."""
    e = _emb(spark, sf_dir)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs_ivf(
            e, threshold=0.3, k_cells=8, n_probe=1
        ).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs_ivf(
            e, threshold=0.3, k_cells=8, n_probe=2
        ).collect()
    }
    assert p1 <= p2
    assert len(p2) >= len(p1)


def test_ivf_near_identical_vectors_share_cells(spark):
    """A planted near-duplicate (tiny noise on a copy) must land in
    the same top-probe cell as its source and be recovered — the
    'near-dup pairs concentrate in shared cells' property the tier's
    recall claim rests on."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 8)).astype(float)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant near-dups of rows 0..4 with 1% noise
    for j in range(5):
        v = base[j] + 0.01 * rng.normal(size=8)
        rows.append((100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.embedding_neardup_pairs_ivf(
        df, threshold=0.95, k_cells=8, n_probe=1,
        id_col="vec_id", vec_col="embedding",
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    for j in range(5):
        assert (j, 100 + j) in found, (j, found)


def test_ivf_knn_with_one_cell_equals_exact_grid(spark, sf_dir):
    """With k_cells=1 every vector shares the single cell, so the IVF
    candidate set degenerates to ALL pairs — the kNN audit must then
    equal the exact grid twin row for row (candidate restriction is
    the ONLY approximation in the tier)."""
    e = _emb(spark, sf_dir)
    ivf = {
        tuple(r)
        for r in similarity.knn_label_vote_ivf(
            e, k=5, k_cells=1, n_probe=1
        ).collect()
    }
    grid = {
        tuple(r)
        for r in similarity.knn_label_vote_grid(e, k=5).collect()
    }
    assert ivf == grid
    assert len(ivf) > 0


def test_ivf_hard_negatives_contract(spark, sf_dir):
    """IVF hard negatives: every row is a cross-label pair with rank
    in 1..k, and with k_cells=1 the output equals the exact twin."""
    e = _emb(spark, sf_dir)
    rows = similarity.hard_negative_mining_ivf(
        e, k=3, k_cells=8, n_probe=2
    ).collect()
    assert rows
    for r in rows:
        assert r["label"] != r["neg_label"]
        assert 1 <= r["rank"] <= 3
    ivf1 = {
        tuple(r)
        for r in similarity.hard_negative_mining_ivf(
            e, k=3, k_cells=1, n_probe=1
        ).collect()
    }
    grid = {
        tuple(r)
        for r in similarity.hard_negative_mining_grid(e, k=3).collect()
    }
    assert ivf1 == grid


def test_lsh_bucket_nan_and_null_edge_semantics(spark):
    """Edge-input parity with the SQL twins: a NaN dot compares
    GREATER than 0 in Spark SQL and DuckDB (NaN-greatest; DuckDB's
    list_dot_product propagates NaN), so a NaN-containing vector
    takes the ALL-ONES bucket; a NULL vector yields a NULL dot —
    falsy ⇒ bucket 0. A wrong-length vector also gets bucket 0
    (matches Spark's zip_with NULL-fill; DuckDB instead ERRORS on
    mismatched lengths, so oracle-replayed corpora must pre-filter
    those). numpy's naive `acc >= 0` would give bucket 0 for NaN and
    silently diverge the candidate set from the oracle replay."""
    rows = [
        (1, [1.0] * 8),          # normal
        (2, [float("nan")] * 8),  # NaN components -> NaN dots
        (3, None),                # NULL vector
        (4, [1.0, 2.0]),          # wrong length: engine-side bucket 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        (r["vec_id"], r["t"]): r["b"]
        for r in similarity._lsh_bucket_rows(
            df, 8, 4, 2, "vec_id", "embedding"
        ).collect()
    }
    for t in range(2):
        assert out[(2, t)] == 15, out  # all 4 plane bits set
        assert out[(3, t)] == 0, out
        assert out[(4, t)] == 0, out
        assert 0 <= out[(1, t)] <= 15


def test_auto_cells_balances_assignment_and_verify():
    """auto_cells follows the balanced IVF rule k = probe·√n, the
    point where O(n·k·d) assignment and O(n·(n/k)·probe²·d) verify
    equalize — total work O(n^1.5·d) (k∝n measured quadratic in
    assignment at 300k; SCALING.md round 4)."""
    assert similarity.auto_cells(10_000, n_probe=2) == 200
    assert similarity.auto_cells(100_000, n_probe=2) == 632
    assert similarity.auto_cells(1_000_000, n_probe=2) == 2000
    assert similarity.auto_cells(100_000, n_probe=4) == 1265
    assert similarity.auto_cells(1, n_probe=2) == 8  # lo clamp
    assert similarity.auto_cells(10**9, n_probe=4) == 65536  # hi clamp
    # k grows as sqrt(n): 100x data -> 10x cells
    assert (
        similarity.auto_cells(1_000_000) / similarity.auto_cells(10_000)
        == 10.0
    )


def test_auto_blocks_caps_chunk_rows(spark):
    """The sims-matrix OOM guard: block count must grow with row
    count even when packed bytes are tiny (the memory driver is
    (rows/B)^2 per worker, not chunk bytes)."""
    import math

    big = spark.range(0, 90_000).selectExpr(
        "id AS vec_id", "array(cast(id as float)) AS embedding"
    )
    b = similarity._auto_blocks(big, "embedding", max_chunk_rows=4000)
    assert b >= math.ceil(90_000 / 4000), b


def test_bucket_verify_survives_column_pruning(spark, sf_dir):
    """Regression: the two cogroup legs descend from one checkpointed
    base; without fresh exprIds on the query leg, a downstream
    count() pruned the member child to the group key and the kernel
    raised KeyError on the id column. count() and a pruned select
    must both execute."""
    e = _emb(spark, sf_dir)
    out = similarity.embedding_neardup_pairs_ann(e, 0.3, 64, 8, 8)
    assert out.count() > 0
    assert out.select("id_a", "id_b").count() == out.count()


def test_l2_rows_mixed_null_group():
    """A bucket/cell group mixing real vectors with NULL or
    wrong-length ones must degrade the bad rows to NaN (pair-path
    parity), not crash — numpy >= 1.24 raises ValueError on the
    inhomogeneous fast path, so the ragged fallback must engage."""
    import numpy as np
    import pandas as pd

    from pyspark_scd_spark.operators.similarity import _l2_rows

    col = pd.Series([[3.0, 4.0], None, [1.0, 2.0, 3.0]])
    mat = _l2_rows(col)
    assert mat.shape == (3, 2)
    np.testing.assert_allclose(mat[0], [0.6, 0.8])
    assert np.isnan(mat[1]).all()
    assert np.isnan(mat[2]).all()  # wrong-length degrades too


def test_grid_and_ivf_verify_agree_on_ties_and_zero_vectors(spark):
    """The exact grid and the IVF tier verify through one pairs
    kernel: a cosine exactly on a 4 dp rounding boundary (1/32) rounds
    half away from zero in both, as DuckDB's ROUND does (np.round
    would give 0.0312 and drop the pair), and a zero vector scores
    NaN, which no threshold keeps (DuckDB scores it -1.0)."""
    schema = "vec_id bigint, embedding array<double>"
    tie = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0, 0.0]), (2, [1.0, 31.0, 5.0, 6.0, 1.0])],
        schema,
    )
    zero = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),
        ],
        schema,
    )

    def both_tiers(df, threshold):
        grid = similarity.embedding_neardup_pairs_grid(
            df, threshold, n_blocks=1
        )
        ivf = similarity.embedding_neardup_pairs_ivf(
            df, threshold, k_cells=1, n_probe=1
        )
        return [sorted(map(tuple, out.collect())) for out in (grid, ivf)]

    assert both_tiers(tie, 0.0313) == [[(1, 2, 0.0313)]] * 2
    assert both_tiers(zero, -0.5) == [[(1, 2, 0.0)]] * 2


def test_dense_kernels_match_reference_at_any_chunking():
    """Both dense kernels chunk the query rows to bound the sims
    matrix; one-row chunks and one whole-group chunk must give the
    same rows in the same order, for every mask combination, and those
    rows must match a plain-Python ranking and filter of the same
    rounded cosines — with a duplicate vector (a cosine tie, broken by
    the smaller id), a zero vector (NaN cosines: greatest in the top-k
    order, never above a threshold) and a pair whose cosine, 1/32,
    clears a 0.0313 threshold only by rounding half away from zero."""
    import math

    import numpy as np
    import pandas as pd

    from pyspark_scd_spark.operators.similarity import (
        _PAIR_FIELDS,
        _SCORED_FIELDS,
        _frame,
        _l2_rows,
        _np_pairs_emit,
        _np_topk_emit,
        _round_away,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(73, 8))
    base[40] = base[30]
    base[50] = 0.0
    base[5] = [1.0, 0, 0, 0, 0, 0, 0, 0]
    base[60] = [1.0, 31, 5, 6, 1, 0, 0, 0]
    labels = rng.integers(0, 3, size=73).astype(np.int64)
    # queries 0..36 and members 20..72 overlap, so the self and
    # upper-triangle masks both bite
    qids = np.arange(0, 37, dtype=np.int64)
    nids = np.arange(20, 73, dtype=np.int64)
    qmat = _l2_rows(pd.Series(list(base[qids])))
    nmat = _l2_rows(pd.Series(list(base[nids])))
    dots = qmat @ nmat.T

    def rank_key(cand):
        c, nid = cand
        return (not math.isnan(c), 0.0 if math.isnan(c) else -c, nid)

    for cross_label_only in (True, False):
        one, whole = (
            _frame(
                _np_topk_emit(
                    qids, labels[qids], qmat, nids, labels[nids], nmat,
                    5, 6, cross_label_only, chunk_rows=c,
                ),
                _SCORED_FIELDS,
            )
            for c in (1, 4096)
        )
        pd.testing.assert_frame_equal(one, whole)
        sims = _round_away(dots, 6)
        expected = []
        for i, q in enumerate(qids):
            cands = [
                (sims[i, j], n)
                for j, n in enumerate(nids)
                if n != q
                and not (cross_label_only and labels[n] == labels[q])
            ]
            expected += [(q, n, c) for c, n in sorted(cands, key=rank_key)[:5]]
        got = list(zip(whole.qid, whole.nid, whole.c))
        assert len(got) == len(expected) == 5 * len(qids)
        for (gq, gn, gc), (eq, en, ec) in zip(got, expected):
            assert (gq, gn) == (eq, en)
            assert gc == ec or (math.isnan(gc) and math.isnan(ec))

    sims = _round_away(dots, 4)
    for upper, threshold in ((True, 0.2), (False, 0.2), (True, 0.0313)):
        one, whole = (
            _frame(
                _np_pairs_emit(
                    qids, qmat, nids, nmat, threshold, 4, upper,
                    chunk_rows=c,
                ),
                _PAIR_FIELDS,
            )
            for c in (1, 4096)
        )
        pd.testing.assert_frame_equal(one, whole)
        expected = [
            (q, n, sims[i, j])
            for i, q in enumerate(qids)
            for j, n in enumerate(nids)
            if sims[i, j] >= threshold and (q < n or not upper)
        ]
        assert (30, 40, 1.0) in expected
        assert list(zip(whole.id_a, whole.id_b, whole.cosine)) == expected
    assert (5, 60, 0.0313) in expected
