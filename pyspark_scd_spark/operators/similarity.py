"""Similarity search over embedding columns (``array<float>``).

Two kinds of operator live here:

- Query-set top-k (``brute_force_topk``, ``lsh_bucketed_topk``): the
  query set is broadcast and the corpus scanned once. Their cosine is
  a double-precision Catalyst expression (functions/vectors.py),
  bit-identical to the oracle's
  ``list_cosine_similarity(CAST(v AS DOUBLE[]), ...)``.
- The dense self-similarity family — kNN label vote, hard negatives
  and near-dup pairs — over three indexes: the exact pair grid
  (``*_grid``), LSH buckets (``*_ann``) and IVF cells (``*_ivf``).
  The index decides which vectors meet in a group (a grid cell, a
  (table, bucket) or a probed cell); every group is then scored by
  one of two numpy kernels: ``_np_topk_emit`` (per-anchor top-k) or
  ``_np_pairs_emit`` (above-threshold pairs). Both L2-normalize
  through ``_l2_rows`` (a zero vector scores NaN, which no threshold
  keeps) and round through ``_round_away``, DuckDB's
  half-away-from-zero ``ROUND``. The grid is the only exact tier; each
  index has one verify path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_scd_spark.functions import vectors as V
from pyspark_scd_spark.operators.quality import observed_aggregates


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    broadcast(queries) × corpus → per-row cosine → per-query top-k via
    row_number. With Q queries the corpus-side work is Q·n dot
    products, embarrassingly parallel, zero corpus shuffle; the only
    exchange is the final top-k on the (tiny) Q·k candidate set
    (WindowGroupLimit prunes to k per query map-side first).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    )
    scored = corpus.join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(V.cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-Python PRNG so the
    constants are reproducible everywhere, numpy-free)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket_expr(
    vec_col: str, dim: int, n_planes: int = 8, seed: int = 42
):
    """Column expression for the random-hyperplane signature:
    bit i = sign(v · plane_i). Generated as one SQL string — building
    n_planes×dim literal trees through Column operators costs seconds
    of py4j round trips per table (same fix as _pq_best_sql); the
    zip-fold dot is arithmetically identical to the Column form."""
    planes = hyperplanes(dim, n_planes, seed)
    quoted = "`" + vec_col.replace("`", "``") + "`"
    vd = f"transform({quoted}, t -> CAST(t AS DOUBLE))"
    terms = []
    for i, p in enumerate(planes):
        y = "array(" + ", ".join(_sql_dbl(x) for x in p) + ")"
        terms.append(
            f"(CASE WHEN {_sql_dot(vd, y)} >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(terms)
    )


def duckdb_bucket_sql(
    vcol: str, dim: int, n_planes: int = 8, seed: int = 42
) -> str:
    """The DuckDB expression computing exactly ``lsh_bucket_expr``:
    the hyperplanes are deterministic constants, so they inline into
    the oracle SQL as literal arrays and ``list_dot_product`` replays
    the same double-precision dot products — which makes hyperplane
    LSH an oracle-checkable operator, not a rows-only one."""
    planes = hyperplanes(dim, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vcol}, {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k: candidates from the query's LSH bucket in ANY of
    ``n_tables`` independent hash tables, exact cosine re-rank within.

    A single table misses neighbors whose cluster straddles a
    hyperplane (measured: mean recall@5 0.66 on 10-cluster synthetic
    data); with L independent tables a true neighbor is missed only if
    it separates from the query in EVERY table — miss^L (same data:
    ≥0.9 at L=3). Cost: the corpus is exploded L× into (table, bucket)
    keys, still one equi-join, candidates deduped before re-rank.

    ``multiprobe`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket in each table (Lv et al.,
    VLDB'07): (planes+1)x more probe rows on the QUERY side only —
    the corpus explosion is unchanged — buying the recall a
    flipped-sign boundary bit costs. The serving-time recall knob
    beside ``n_probe`` on the IVF tier.
    """
    def tabled(df, keep_cols, vcol):
        buckets = [
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket_expr(vcol, dim, n_planes, seed=42 + t).alias("b"),
            )
            for t in range(n_tables)
        ]
        return df.select(
            *keep_cols,
            F.explode(F.array(*buckets)).alias("__tb"),
        ).select(
            *keep_cols, F.col("__tb.t").alias("t"), F.col("__tb.b").alias("b")
        )

    c = tabled(corpus, [id_col, vec_col], vec_col)
    q = tabled(
        queries.select(query_id_col, F.col(vec_col).alias("__qv")),
        [query_id_col, "__qv"],
        "__qv",
    )
    if multiprobe:
        probes = [F.col("b")] + [
            F.col("b").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
        q = q.select(
            query_id_col,
            "__qv",
            "t",
            F.explode(F.array(*probes)).alias("b"),
        )

    cand = (
        c.join(F.broadcast(q), ["t", "b"])
        .select(query_id_col, id_col, vec_col, "__qv")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(V.cosine(F.col(vec_col), F.col("__qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _ivf_scored_sql(xcol: str, centroids: list[list[float]]) -> str:
    """SQL text for the per-centroid (9dp-rounded cosine, cell) struct
    array — the shared core of ivf_assign / ivf_probe_cells. ``xcol``
    must already be a bound array<double> column. One py4j call per
    DataFrame instead of ~600 Column-operator round trips (the same
    driver-side build cost fix as _pq_best_sql); the arithmetic is the
    Column form's exactly: zip-fold dot, sqrt-of-fold norms,
    dot/(norm*norm)."""
    structs = []
    for i, c in enumerate(centroids):
        y = "array(" + ", ".join(_sql_dbl(x) for x in c) + ")"
        cos = (
            f"{_sql_dot(xcol, y)} / "
            f"(sqrt({_sql_dot(xcol, xcol)}) * sqrt({_sql_dot(y, y)}))"
        )
        structs.append(f"named_struct('s', round({cos}, 9), 'c', {i})")
    return f"array({', '.join(structs)})"


def _ivf_bound(df: DataFrame, vec_col: str) -> DataFrame:
    """Bind the double-cast vector once before the scored-array text
    (keeps the cast out of every dot product)."""
    return df.withColumn(
        "__vd", F.transform(F.col(vec_col), lambda t: t.cast("double"))
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """IVF cell assignment: argmax cosine over a fixed centroid table.
    Centroids come from any offline sample (here: deterministic
    constants); at query time only matching cells are scanned —
    partition-prune the corpus by writing it partitioned on
    ``ivf_cell``.

    Scores are rounded to 9 dp before the argmax so the assignment is
    reproducible across engines (raw last-ulp differences between two
    near-tied centroid cosines would otherwise flip cells); 9-dp ties
    break toward the LARGER cell index (struct max is lexicographic).
    """
    # argmax via array_max over (score, cell) structs: each centroid's
    # cosine expression appears exactly ONCE. A chained when/otherwise
    # fold would embed the running best twice per step — 2^n expression
    # blowup that stalls the analyzer beyond ~6 centroids.
    return (
        _ivf_bound(df, vec_col)
        .withColumn(
            out_col,
            F.expr(f"array_max({_ivf_scored_sql('__vd', centroids)})")[
                "c"
            ],
        )
        .drop("__vd")
    )


def ivf_probe_cells(
    df: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 2,
    vec_col: str = "embedding",
    out_col: str = "probe_cell",
) -> DataFrame:
    """Multi-probe IVF: explode each query row into its ``n_probe``
    nearest centroid cells — the standard recall knob for IVF search
    (a query near a cell boundary misses neighbors assigned to the
    adjacent cell unless it probes both; probing the top-p cells
    trades p× scan cost for near-exact recall).

    Same determinism contract as ``ivf_assign``: scores rounded to
    9 dp, ties toward the larger cell index ((s DESC, c DESC)
    ordering — array_sort on (s, c) structs then reversed).
    """
    top = F.expr(
        f"slice(reverse(array_sort("
        f"{_ivf_scored_sql('__vd', centroids)})), 1, {int(n_probe)})"
    )
    return (
        _ivf_bound(df, vec_col)
        .withColumn(out_col, F.explode(F.transform(top, lambda t: t["c"])))
        .drop("__vd")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale).

    4x storage/bandwidth reduction for ANN candidate generation (the
    exact-rerank tier keeps fp32); per-VECTOR scales need no global
    pass, so this is a pure map — no shuffle, whole-stage codegen,
    works identically on a stream. Arithmetic is forced to double on
    the float input so that rounding is engine-reproducible.
    """
    v = F.col(vec_col).cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),  # all-zero vector guard: emits zeros, not NaN
    )
    return df.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        F.transform(
            v, lambda x: F.round(x / scale).cast("tinyint")
        ).alias("qvec"),
    )


def _sql_dbl(x: float) -> str:
    """Exact double literal for SQL text (repr round-trips IEEE754;
    CAST from string avoids Spark's bare-decimal-literal → DECIMAL
    typing)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_dot(a: str, b: str) -> str:
    """SQL text twin of functions/vectors.dot: zip-multiply then
    serial left-fold — the identical float sequence as the Column
    form and DuckDB's list_inner_product."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> a * b), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _pq_best_sql(xcol: str, cb: list[list[float]]) -> str:
    """argmin (9dp-rounded squared distance, smaller code) over one
    subspace's codebook, as ONE SQL expression string: struct(s, c)
    via array_min — each centroid's distance appears exactly once (no
    when/otherwise blowup), and building the whole subspace costs one
    py4j call instead of ~250 (constructing the 8×8×3 dot-product
    tree through Column operators measured 9s of pure driver time at
    build; F.expr over generated text is ~100×cheaper). ``xcol`` must
    be a BOUND column name (see ``_pq_sliced``). Shared by pq_encode
    and pq_codes; arithmetic is bit-identical to the previous Column
    form (same zip-fold dots, same x·x − 2x·y + y·y shape)."""
    structs = []
    for code, cent in enumerate(cb):
        y = "array(" + ", ".join(_sql_dbl(c) for c in cent) + ")"
        dist2 = (
            f"{_sql_dot(xcol, xcol)} - 2 * {_sql_dot(xcol, y)} "
            f"+ {_sql_dot(y, y)}"
        )
        structs.append(
            f"named_struct('s', round({dist2}, 9), 'c', {code})"
        )
    return f"array_min(array({', '.join(structs)}))"


def _pq_sliced(
    df: DataFrame,
    m: int,
    ds: int,
    id_col: str,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Bind the double-cast vector and each subvector slice to REAL
    columns before the per-centroid distance math. Inlined, Catalyst's
    CollapseProject would re-substitute the cast-transform into every
    one of the m·k·3 dot products (the O(n²) re-inline trap — measured
    here: 9s → 0.9s per pass on sf0.1's 5000×64 corpus)."""
    bound = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.transform(F.col(vec_col), lambda t: t.cast("double")).alias(
            "__v"
        ),
    )
    return bound.select(
        id_col,
        *extra_cols,
        *[
            F.slice("__v", j * ds + 1, ds).alias(f"__x{j}")
            for j in range(m)
        ],
    )


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ code vector per row — ``(id, *extra, codes array<int>)``,
    the compressed-corpus input ``pq_adc_topk`` scans. Same
    assignment contract as ``pq_encode`` (9dp rounding, smaller-code
    ties); pure codegen map, no shuffle."""
    ds = len(codebooks[0][0])
    sliced = _pq_sliced(
        df, len(codebooks), ds, id_col, vec_col, extra_cols
    )
    codes = F.array(
        *[
            F.expr(_pq_best_sql(f"__x{j}", cb))["c"]
            for j, cb in enumerate(codebooks)
        ]
    )
    return sliced.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], codes.alias("codes")
    )


def _round_away_scalar(a: float, d: int) -> float:
    """DuckDB-style half-away-from-zero rounding (python round() is
    half-even — they disagree exactly on .5 boundaries)."""
    import math

    p = 10.0**d
    return math.copysign(math.floor(abs(a) * p + 0.5), a) / p


def adc_lut_nanos(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[int]]:
    """ADC lookup table for one query in integer nano-units:
    lut[j][c] = round9(||q_j − centroid_{j,c}||²)·1e9 as exact longs.

    Serial left-to-right sums and the x·x − 2x·y + y·y expression
    mirror the engine-side arithmetic (functions/vectors.py dot /
    DuckDB list_inner_product) bit for bit, and integer nanos make the
    downstream ADC SUM exact — no float summation-order risk in the
    ranking."""
    ds = len(codebooks[0][0])
    lut: list[list[int]] = []
    for j, cb in enumerate(codebooks):
        x = [float(t) for t in query_vec[j * ds : (j + 1) * ds]]
        row = []
        for cent in cb:
            y = [float(t) for t in cent]
            xx = 0.0
            for a in x:
                xx += a * a
            xy = 0.0
            for a, b in zip(x, y):
                xy += a * b
            yy = 0.0
            for b in y:
                yy += b * b
            d9 = _round_away_scalar(xx - 2 * xy + yy, 9)
            row.append(int(_round_away_scalar(d9 * 1e9, 0)))
        lut.append(row)
    return lut


def pq_adc_topk(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    query_cells: dict[int, list[int]] | None = None,
) -> DataFrame:
    """IVF+PQ asymmetric-distance search — the standard 100 TB ANN
    serving shape (IVF prunes the scan to probed cells, PQ codes make
    the scanned bytes ~100× smaller, ADC scores candidates from a
    per-query lookup table without decompressing).

    The corpus is reduced to ``(id, cell, codes)`` — a pure map — and
    each query ships only its m×k LUT (exact integer nanos) via a
    broadcast; the approximate distance is a zip-sum of m table
    lookups per candidate, whole-stage codegen, zero corpus shuffle
    before the final per-query top-k. With ``cell_col``/
    ``query_cells`` the scan is pruned to each query's probed cells
    (at rest: partition the code table by cell). Exact longs end to
    end ⇒ rankings are reproducible across engines; ties break on id.

    Returns (query_id, id, adc_dist, rank<=k).
    """
    spark = corpus.sparkSession
    extra = (cell_col,) if cell_col else ()
    coded = pq_codes(
        corpus, codebooks, id_col=id_col, vec_col=vec_col, extra_cols=extra
    )
    qrows = []
    for qid, vec in queries:
        lut = adc_lut_nanos(vec, codebooks)
        if cell_col:
            cells = (query_cells or {}).get(qid)
            if not cells:
                # a NULL cell would NULL-compare in the join and the
                # query would silently vanish from the output
                raise ValueError(
                    f"cell_col={cell_col!r} given but query {qid} has "
                    "no probe cells in query_cells"
                )
            for c in cells:
                qrows.append((int(qid), int(c), lut))
        else:
            qrows.append((int(qid), None, lut))
    qdf = spark.createDataFrame(
        qrows, schema="query_id bigint, __cell int, lut array<array<bigint>>"
    )
    if cell_col:
        cand = coded.join(
            F.broadcast(qdf), F.col(cell_col) == F.col("__cell")
        )
    else:
        cand = coded.crossJoin(F.broadcast(qdf.drop("__cell")))
    nanos = F.aggregate(
        F.zip_with(
            "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.select("query_id", id_col, nanos.alias("__n"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__n").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            (F.col("__n") / F.lit(1000000000.0)).alias("adc_dist"),
            "rank",
        )
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: split each vector into m subspaces and
    encode each subvector as the index of its nearest codebook
    centroid — the standard ANN compression tier between int8 and raw
    floats (m log2(k) bits per vector; m=8, k=8 turns a 256-byte
    float64 vector into 3 bytes).

    ``codebooks``: m entries of k centroids each (centroid length =
    dim/m). Returns (id, pq_code, mse): ``pq_code`` is the
    comma-joined code string, ``mse`` the total squared reconstruction
    distance across subspaces.

    Pure Catalyst expressions (no UDF): per subspace the squared
    distance to each centroid is ``x·x − 2x·y + y·y`` (the same
    associativity-friendly form an oracle engine computes), rounded to
    9 dp before the argmin so assignments are reproducible across
    engines; ties break toward the smaller code. One projection, no
    shuffle, whole-stage codegen — at 100 TB this is a map over the
    corpus scan.
    """
    m = len(codebooks)
    ds = len(codebooks[0][0])
    sliced = _pq_sliced(df, m, ds, id_col, vec_col)
    codes = []
    errs = []
    for j, cb in enumerate(codebooks):
        best = F.expr(_pq_best_sql(f"__x{j}", cb))
        codes.append(best["c"])
        errs.append(best["s"])
    # Integer-nanos sum, not ROUND(sum, 6): the per-subspace distances
    # are 9dp-rounded, so their sum routinely lands EXACTLY on .5
    # rounding boundaries at 6dp — where Spark (BigDecimal HALF_UP)
    # and double-arithmetic engines disagree. Rounding each term to
    # integer nano-units first is unambiguous (terms sit within float
    # error of an integer), and the long sum is exact.
    mse_nanos = F.round(errs[0] * 1e9).cast("long")
    for e in errs[1:]:
        mse_nanos = mse_nanos + F.round(e * 1e9).cast("long")
    return sliced.select(
        F.col(id_col),
        F.concat_ws(",", *[c.cast("string") for c in codes]).alias(
            "pq_code"
        ),
        (mse_nanos / 1000000000.0).alias("mse"),
    )


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    tol: float = 1e-6,
    round_centroids: int | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Distributed Lloyd's k-means — trains the IVF centroids that
    ivf_assign / the partition-pruned ANN path consume.

    Each round: (1) assignment is a blocked BLAS matmul against the
    broadcast k x d centroid matrix inside ``mapInPandas`` (argmin of
    squared euclidean == argmax of dot minus half-norm; one Arrow hop
    per batch, never per-row Python); (2) new centroids come from ONE
    groupBy(cell, dim) mean over posexploded components — map-side
    partial aggregation shrinks the shuffle to k·d rows per task; the
    k x d result is collected to the driver (tiny) where the shift
    test runs. Iteration state (the centroid matrix) lives driver-side
    and is re-broadcast, so there is NO growing Spark lineage across
    rounds — unlike label propagation, nothing needs checkpointing.

    Deterministic: initial centroids are the k lowest-id vectors;
    every subsequent step is deterministic given the data.
    ``round_centroids`` additionally rounds the updated centroids AND
    the assignment scores to that many decimals each round, making the
    whole training trajectory reproducible ACROSS ENGINES (an oracle
    can replay Lloyd's iterations as unrolled SQL: AVG summation-order
    jitter is ~1e-15 and vanishes under 9-dp rounding) — pass
    ``tol=0.0`` with a fixed ``max_iter`` so no early-stop depends on
    float drift.

    Returns (centroids, assignments) — assignments is (id_col, cell).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    base = df.select(id_col, vec_col).localCheckpoint()
    init = base.orderBy(id_col).limit(k).collect()
    centroids = np.array([r[vec_col] for r in init], dtype=np.float64)
    if round_centroids is not None:
        # the seed centroids get the same rounding as every update, so
        # an oracle's replay starts from bit-identical state
        centroids = np.round(centroids, round_centroids)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
        ]
    )
    sc = df.sparkSession.sparkContext

    def assigner(b_cent):
        def _assign(batches):
            cent = b_cent.value  # k x d
            half = 0.5 * (cent * cent).sum(axis=1)  # k
            for pdf in batches:
                q = np.array(list(pdf[vec_col]), dtype=np.float64)
                scores = q @ cent.T - half
                if round_centroids is not None:
                    scores = np.round(scores, round_centroids)
                # ties: np.argmax keeps the FIRST max — the lowest
                # cell index, mirrored by the oracle's (score DESC,
                # cell ASC) ranking
                cells = np.argmax(scores, axis=1).astype(np.int32)
                yield pd.DataFrame(
                    {"id": pdf[id_col].to_numpy(dtype=np.int64), "cell": cells}
                )

        return _assign

    assigned = None
    for _ in range(max_iter):
        b_cent = sc.broadcast(centroids)
        assigned = base.mapInPandas(assigner(b_cent), schema=schema)
        comp = (
            assigned.join(base, assigned.id == base[id_col])
            .select("cell", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new_cent = centroids.copy()  # empty cells keep their position
        for r in comp:
            new_cent[r["cell"], r["dim"]] = r["m"]
        if round_centroids is not None:
            new_cent = np.round(new_cent, round_centroids)
        shift = float(np.max(np.linalg.norm(new_cent - centroids, axis=1)))
        centroids = new_cent
        if shift < tol:
            break
    b_cent = sc.broadcast(centroids)
    assigned = base.mapInPandas(assigner(b_cent), schema=schema).withColumnRenamed(
        "id", id_col
    )
    return centroids.tolist(), assigned


# ----------------------------------------------------------------------
# Blocked pair-grid: exact dense similarity WITHOUT driver/broadcast
# materialization of the corpus: the family's exact tier.
# ----------------------------------------------------------------------


def _auto_blocks(
    df: DataFrame,
    vec_col: str,
    target_mb: int = 32,
    max_chunk_rows: int = 4000,
) -> int:
    """Block count for the pair grid, derived from the corpus instead
    of hand-tuned: enough blocks that (a) a packed chunk is ~target_mb
    of float64, (b) the upper-triangle grid B(B+1)/2 has at least
    ~parallelism cells, and (c) — the binding constraint in practice —
    a cell's DENSE SIMS MATRIX (chunk_rows² · 8 bytes, times one per
    concurrent Python worker) stays bounded: at d=64 a 32 MB chunk is
    65k rows whose sims matrix is 34 GB, so sizing by packed bytes
    alone OOMs the host long before the chunk itself is large
    (observed: kernel OOM at 60k vectors with B=8 → 7.5k-row chunks →
    450 MB sims + sort workspace across 32 workers). 4000-row chunks
    cap the sims at 128 MB/worker. Costs one metadata count plus a
    1-row dim probe."""
    import math

    n = df.count()
    dim_row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim = int(dim_row[0]["d"]) if dim_row else 1
    par = df.sparkSession.sparkContext.defaultParallelism
    by_bytes = math.ceil(n * max(dim, 1) * 8 / (target_mb * 1024 * 1024))
    by_par = math.ceil(math.sqrt(2.0 * par))
    by_rows = math.ceil(n / max_chunk_rows)
    return max(1, by_par, by_bytes, by_rows)


def _pack_vec_blocks(
    df: DataFrame,
    n_blocks: int,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Pack vectors into ``n_blocks`` chunk rows of serialized
    L2-normalized float64 matrices: (blk, n, dim, ids, mat[, labels]).

    One hash exchange on the block key; each chunk is built inside its
    own task via grouped ``applyInPandas``, so nothing ever leaves the
    executors. Chunk size is corpus_bytes/n_blocks — size n_blocks so a
    chunk is ~tens of MB (a 100 TB corpus at d=64 packs to ~50 GB of
    float64, i.e. n_blocks≈1000 for 50 MB chunks).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    src = df.select(*cols).withColumn(
        "__blk",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int"),
    )
    fields = [
        T.StructField("blk", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("dim", T.IntegerType()),
        T.StructField("ids", T.BinaryType()),
        T.StructField("mat", T.BinaryType()),
    ]
    if label_col:
        fields.append(T.StructField("labels", T.BinaryType()))
    schema = T.StructType(fields)

    def _pack(key, pdf):
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = _l2_rows(pdf[vec_col])
        row = {
            "blk": [int(key[0])],
            "n": [int(len(ids))],
            "dim": [int(mat.shape[1])],
            "ids": [ids.tobytes()],
            "mat": [mat.tobytes()],
        }
        if label_col:
            row["labels"] = [
                pdf[label_col].to_numpy(dtype=np.int64).tobytes()
            ]
        return pd.DataFrame(row)

    return src.groupBy("__blk").applyInPandas(_pack, schema=schema)


def _grid(packed: DataFrame, upper_only: bool) -> DataFrame:
    """Self-join of the packed chunk table into grid cells.

    ``upper_only`` keeps blk_l <= blk_r (each unordered block pair
    once — symmetric pair emitters). The join is chunk-rows × chunk-
    rows with no key: Catalyst broadcasts one side when it fits
    (B heavy rows, the optimal plan at test scale) and falls back to a
    partition-pair CartesianProduct beyond the broadcast threshold —
    either way executor-to-executor, never via the driver. Total bytes
    moved = 2·B·corpus/B·1 = O(corpus·√cells) replication, the
    standard blocked-matmul bound.
    """
    left = packed.select(
        *[F.col(c).alias(f"l_{c}") for c in packed.columns]
    )
    right = packed.select(
        *[F.col(c).alias(f"r_{c}") for c in packed.columns]
    )
    cells = left.crossJoin(right)
    if upper_only:
        cells = cells.filter(F.col("l_blk") <= F.col("r_blk"))
    return cells


def _grid_side(row, side: str):
    """(ids, labels or None, L2-normalized matrix) of one side
    (``'l'`` or ``'r'``) of a ``_grid`` cell row."""
    import numpy as np

    def get(c):
        return getattr(row, f"{side}_{c}", None)

    lab = get("labels")
    return (
        np.frombuffer(get("ids"), dtype=np.int64),
        None if lab is None else np.frombuffer(lab, dtype=np.int64),
        np.frombuffer(get("mat"), dtype=np.float64).reshape(
            get("n"), get("dim")
        ),
    )


def embedding_neardup_pairs_grid(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    n_blocks: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via a blocked BLAS pair grid —
    exact, and fully distributed (no driver collect, no corpus-wide
    broadcast).

    The corpus is packed into ``n_blocks`` chunk rows (one shuffle),
    the chunk table self-joined into the upper-triangle grid of block
    pairs, and each grid cell runs the pairs kernel
    (``_np_pairs_emit``: normalized float64 dot, rounded half away
    from zero to ``round_to`` like DuckDB's ROUND, threshold on the
    ROUNDED value), emitting pairs with id_a < id_b. Each unordered
    pair lives in exactly one cell. The LSH and IVF tiers verify
    their groups with the same kernel.
    """
    import numpy as np

    # localCheckpoint: the grid references the packed table twice; the
    # checkpoint runs the pack once and pins it executor-side.
    if n_blocks is None:
        n_blocks = _auto_blocks(df, vec_col)
    packed = _pack_vec_blocks(df, n_blocks, id_col, vec_col).localCheckpoint()
    cells = _grid(packed, upper_only=True)

    def _cell(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                aids, _, amat = _grid_side(row, "l")
                bids, _, bmat = _grid_side(row, "r")
                # One emission per unordered pair: the diagonal cell
                # sees both orderings, off-diagonal cells see one.
                out = _frame(
                    _np_pairs_emit(
                        aids, amat, bids, bmat, threshold, round_to,
                        upper=row.l_blk == row.r_blk,
                    ),
                    _PAIR_FIELDS,
                )
                yield out.assign(
                    id_a=np.minimum(out.id_a, out.id_b),
                    id_b=np.maximum(out.id_a, out.id_b),
                )

    return cells.mapInPandas(_cell, schema=_schema(_PAIR_FIELDS))


def _grid_topk_scored(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_blocks: int | None,
    cross_label_only: bool,
) -> DataFrame:
    """(qid, qlabel, nid, nlabel, c) candidate rows of the exact grid's
    per-anchor consumers: every (query-block, corpus-block) cell runs
    the top-k kernel (``_np_topk_emit``, cosine at 6 dp) and emits its
    LOCAL top-k per query — lossless, because top-k under a total
    order distributes over any partition of the corpus. Shuffled
    candidate volume is |corpus|·n_blocks·k rows, independent of
    corpus width."""
    if n_blocks is None:
        n_blocks = _auto_blocks(df, vec_col)
    packed = _pack_vec_blocks(
        df, n_blocks, id_col, vec_col, label_col
    ).localCheckpoint()
    cells = _grid(packed, upper_only=False)

    def _cell(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield _frame(
                    _np_topk_emit(
                        *_grid_side(row, "l"), *_grid_side(row, "r"),
                        k, 6, cross_label_only,
                    ),
                    _SCORED_FIELDS,
                )

    return cells.mapInPandas(_cell, schema=_schema(_SCORED_FIELDS))


def knn_label_vote_grid(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_blocks: int | None = None,
) -> DataFrame:
    """Label-noise audit: majority label vote among each vector's k
    nearest cosine neighbors (self excluded), exact, without
    materializing the corpus on the driver.

    Returns (id, label, predicted_label, n_agree, mislabeled) — rows
    whose neighborhood disagrees with their own label are candidate
    annotation errors, the standard kNN-consistency data-quality check
    before training.

    Candidate generation is the blocked pair grid
    (``_grid_topk_scored``): each cell emits its local top-k rows per
    query. The global merge (row_number over cosine DESC, id ASC),
    majority vote and smaller-label tie-break then run as ordinary
    window/groupBy plans (``_vote_tail``) — the same declarative shape
    as the DuckDB oracle.
    """
    scored = _grid_topk_scored(
        df, k, id_col, vec_col, label_col, n_blocks,
        cross_label_only=False,
    )
    return _vote_tail(scored, k, id_col, label_col)


def hard_negative_mining_grid(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_blocks: int | None = None,
) -> DataFrame:
    """Contrastive-training data prep: for every anchor vector, the k
    most-similar vectors carrying a DIFFERENT label — the "hard
    negatives" that make contrastive / triplet losses informative —
    exact, via the blocked pair grid (no driver collect, no corpus
    broadcast).

    Returns (id, label, neg_id, neg_label, cosine, rank), rank 1..k.

    Each grid cell masks same-label columns and emits its local top-k
    negatives per anchor under (cosine@6dp DESC, id ASC)
    (``_grid_topk_scored``); the global row_number merge keeps the
    true top-k (local top-k under a total order is lossless), and the
    emitted cosine re-rounds to 4 dp half away from zero, matching
    DuckDB ROUND (``_hardneg_tail``).
    """
    scored = _grid_topk_scored(
        df, k, id_col, vec_col, label_col, n_blocks,
        cross_label_only=True,
    )
    return _hardneg_tail(scored, k, id_col, label_col)


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Recall@k of the IVF tier against the exact tier — the
    measurement every ANN deployment runs before trusting its index:
    per query, |IVF top-k ∩ exact top-k| / k.

    Both legs are the engine's own operators (brute_force_topk;
    ivf_assign + cell-probe re-rank), so the report is a join of two
    ≤|Q|·k ranked lists — the corpus is scanned once per leg with no
    extra shuffle, and the output is |Q| rows regardless of scale.
    Raising ``n_probe`` shows the recall knob directly in the report.
    """
    exact = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    probed = ivf_probe_cells(
        queries, centroids, n_probe=n_probe, vec_col=vec_col
    ).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        F.col("probe_cell").alias("ivf_cell"),
    )
    assigned = ivf_assign(corpus, centroids, vec_col=vec_col)
    scored = assigned.join(F.broadcast(probed), "ivf_cell").select(
        query_id_col,
        id_col,
        F.round(V.cosine(F.col(vec_col), F.col("__qv")), 6).alias(
            "__cos"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    approx = (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col)
    )
    hits = exact.join(approx, [query_id_col, id_col]).groupBy(
        query_id_col
    ).agg(F.count(F.lit(1)).alias("__hits"))
    return (
        exact.select(query_id_col)
        .distinct()
        .join(hits, query_id_col, "left")
        .select(
            query_id_col,
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / float(k), 6
            ).alias(f"recall_at_{k}"),
        )
    )


# ---------------------------------------------------------------------------
# ANN candidate generation + exact re-rank (the 100 TB default path)
# ---------------------------------------------------------------------------


def auto_planes(
    n_rows: int, target_bucket: int = 32, lo: int = 4, hi: int = 20
) -> int:
    """Plane count giving an EXPECTED bucket population of
    ``target_bucket`` under a uniform sign-bit distribution:
    2^planes ≈ n/target. Fixing planes while the corpus grows keeps
    the candidate FRACTION constant (i.e. quadratic pair work);
    growing planes with log2(n) keeps bucket size — and therefore
    per-row candidate work — constant, which is what makes the LSH
    tier O(n·tables) instead of O(n²). Registry entries pin planes so
    their oracle SQL stays static; pass ``n_planes=None`` to the
    operators for the auto path."""
    import math

    return max(lo, min(hi, math.ceil(math.log2(max(n_rows, 1) / target_bucket))))


def _lsh_bucket_rows(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    seed: int = 42,
) -> DataFrame:
    """(id, t, b) bucket rows for all ``n_tables`` LSH tables in ONE
    Arrow ``mapInPandas`` pass over the corpus, from an in-closure
    plane tensor.

    This replaces per-table ``lsh_bucket_expr`` columns in the
    candidate path: inlining tables x planes x dim float literals into
    the SQL text made the PLAN ~80 KB, and parsing/analyzing it
    dominated each ANN query's fixed cost (NOTES.md round 3). The
    planes ship once inside the pickled closure (~32 KB) instead of
    inside every plan.

    Arithmetic is bit-identical to ``lsh_bucket_expr`` /
    ``duckdb_bucket_sql`` — the oracle replays the SQL twin, so bucket
    ids must match exactly: float→double cast (exact), per-plane dot
    as the serial left-fold ``acc += v[j]*p[j]`` with j ascending
    (each step one IEEE double multiply + add, same sequence as
    ``aggregate(zip_with(...))``), bit i set iff NOT (dot < 0) — the
    form that matches BOTH SQL engines on edge inputs: a NULL vector
    yields a NULL dot (falsy ⇒ bit 0) and a NaN dot compares GREATER
    than 0 in Spark SQL and DuckDB (NaN-greatest semantics, unlike
    IEEE; DuckDB's list_dot_product does propagate NaN), so NaN ⇒
    bit 1; numpy's ``acc >= 0`` would give bit 0 for NaN and silently
    diverge the candidate set from the oracle. A WRONG-LENGTH vector
    gets bucket 0 like NULL — that matches Spark's zip_with (NULL
    fill) but is an engine-side convention only: DuckDB's
    list_dot_product ERRORS on mismatched lengths, so such rows must
    be filtered before any oracle-replayed corpus.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (T, planes, dim)
    pt = planes.reshape(n_tables * n_planes, dim).T.copy()  # (dim, T*planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("t", T.IntegerType()),
            T.StructField("b", T.LongType()),
        ]
    )
    n_t, n_p = n_tables, n_planes

    def _run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.full((n, dim), np.nan, dtype=np.float64)
            valid = np.zeros(n, dtype=bool)
            for i, v in enumerate(pdf[vec_col]):
                if v is not None and len(v) == dim:
                    vecs[i] = v
                    valid[i] = True
            acc = np.zeros((n, n_t * n_p), dtype=np.float64)
            for j in range(dim):  # serial left-fold: oracle-identical
                acc += vecs[:, j : j + 1] * pt[j]
            # NOT (acc < 0): NaN dots set the bit, matching the SQL
            # twins' NaN-greatest comparison semantics (see docstring)
            bits = (~(acc < 0.0)).reshape(n, n_t, n_p)
            buckets = (bits * weights).sum(axis=2, dtype=np.int64)
            # NULL / wrong-length vectors: SQL's dot is NULL, every
            # CASE is falsy ⇒ bucket 0 (distinct from a NaN dot)
            buckets[~valid] = 0
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_t),
                    "t": np.tile(np.arange(n_t, dtype=np.int32), n),
                    "b": buckets.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_run, schema=out_schema)


def lsh_candidates(
    df: DataFrame,
    dim: int,
    n_planes: int | None = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    ordered: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """DISTINCT LSH candidate id pairs: two rows are candidates when
    their sign-bit buckets are equal — or, with ``multiprobe``, within
    Hamming distance 1 — in ANY of ``n_tables`` independent tables.

    Multi-probe is the standard recall lever when angles are wide
    (Lv et al., VLDB'07): probing the ``n_planes`` neighboring buckets
    of ONE side covers Hamming≤1 symmetrically (XOR is symmetric), so
    only the probe side explodes (planes+1)×. The join is an equi-join
    on (table, bucket) — shuffle keys are high-cardinality by
    construction (auto_planes sizes 2^planes ~ n/bucket), so
    partitions stay balanced at any corpus size.

    ``ordered=True`` emits each unordered pair once (id_a < id_b, the
    pair-dedup contract); ``ordered=False`` emits both directions
    (id_a ≠ id_b, the per-query-neighbor contract).

    Measured on the driver testdata (near-isotropic embeddings — the
    hard regime for any ANN family): planes=8/tables=8/multiprobe
    gives 26% candidate density with pair recall 0.63 at cosine≥0.3
    (θ=72.5°) rising to 0.74 at ≥0.4 and 1.0 at ≥0.55 — recall
    concentrates exactly where near-duplicates live. Real corpora
    with genuine duplicate structure sit far inside the ≥0.55 band.
    """
    if n_planes is None:
        n_planes = auto_planes(df.count())
    # One Arrow pass computes all tables' buckets (planes live in the
    # closure, not the plan — see _lsh_bucket_rows); the SQL-expression
    # form survives only as the DuckDB oracle twin (duckdb_bucket_sql).
    # localCheckpoint: both join legs consume the bucket table — the
    # checkpoint scans the corpus ONCE and pins the skinny (id, t, b)
    # rows executor-side instead of re-running the pass per leg.
    cb = _lsh_bucket_rows(
        df, dim, n_planes, n_tables, id_col, vec_col, seed
    ).localCheckpoint()
    if multiprobe:
        probes = [F.col("b")] + [
            F.col("b").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
        pb = cb.select(
            F.col(id_col).alias("id_a"),
            F.col("t").alias("ta"),
            F.explode(F.array(*probes)).alias("pb"),
        )
    else:
        pb = cb.select(
            F.col(id_col).alias("id_a"),
            F.col("t").alias("ta"),
            F.col("b").alias("pb"),
        )
    c = cb.select(
        F.col(id_col).alias("id_b"), F.col("t").alias("tb"), F.col("b")
    )
    cond = (
        (F.col("id_a") < F.col("id_b"))
        if ordered
        else (F.col("id_a") != F.col("id_b"))
    )
    out = (
        pb.join(c, (F.col("ta") == F.col("tb")) & (F.col("pb") == F.col("b")))
        .filter(cond)
        .select("id_a", "id_b")
    )
    # distinct=False defers dedup to the caller: when the verify stage
    # filters hard (a cosine threshold), deduping the small SURVIVOR
    # set beats shuffling the full candidate multiset here (duplicate
    # factor bounded by tables x probes).
    return out.distinct() if distinct else out


def candidate_pair_cosine(
    df: DataFrame,
    cand: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    decimals: int = 6,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine for a CANDIDATE pair list without joining vectors
    onto every pair — the verify stage that survives 100x.

    Joining full vectors onto each candidate moves O(|cand|·dim)
    bytes through the shuffle and the Arrow boundary (measured: the
    x30 kNN verify shipped ~90 GB that way and became the wall).
    Here vectors move as PACKED NORMALIZED BLOCKS (the pair-grid
    representation, O(corpus·√cells) replication) and candidates move
    as skinny (id_a, id_b) rows grouped by their (block_a, block_b)
    cell; a cogrouped applyInPandas gathers each cell's rows from the
    two block matrices and emits numpy row dots. Arithmetic is the
    grid twins' normalize-then-dot with half-away rounding — the
    oracle-matched family.

    Output: (id_a, id_b[, label_a, label_b], cosine); one row per
    candidate row (caller dedups if it passed a multiset).
    """
    import numpy as np

    if n_blocks is None:
        n_blocks = _auto_blocks(df, vec_col)
    packed = _pack_vec_blocks(
        df, n_blocks, id_col, vec_col, label_col
    ).localCheckpoint()
    # Block assignment must replay _pack_vec_blocks' hash bit-for-bit,
    # so candidate ids are cast to the CORPUS id type BEFORE hashing
    # (xxhash64(int) != xxhash64(bigint) for the same value — a
    # type-mismatched candidate table would route pairs to the wrong
    # cell and silently score the wrong vectors).
    id_type = df.schema[id_col].dataType
    blk = lambda c: F.pmod(  # noqa: E731  (must mirror _pack_vec_blocks)
        F.xxhash64(F.col(c).cast(id_type)), F.lit(n_blocks)
    ).cast("int")
    cand2 = cand.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        blk("id_a").alias("blk_a"),
        blk("id_b").alias("blk_b"),
    )
    cells = _grid(packed, upper_only=False).select(
        F.col("l_blk").alias("blk_a"),
        F.col("r_blk").alias("blk_b"),
        "l_n", "l_dim", "l_ids", "l_mat",
        "r_n", "r_dim", "r_ids", "r_mat",
        *(
            ["l_labels", "r_labels"]
            if label_col
            else []
        ),
    )
    # Semi-join the B^2 grid on the cells candidates actually occupy:
    # the grid's packed-block bytes grow O(n^2/chunk) while a sparse
    # candidate set touches few cells — without this the cogroup
    # shuffles every cell's matrices regardless (AQE broadcasts the
    # tiny distinct-key side, so the heavy blobs gain a filter without
    # gaining an exchange).
    occupied = cand2.select("blk_a", "blk_b").distinct()
    cells = cells.join(F.broadcast(occupied), ["blk_a", "blk_b"], "left_semi")
    fields = [("id_a", "long"), ("id_b", "long")]
    if label_col:
        fields += [("label_a", "int"), ("label_b", "int")]
    fields.append(("cosine", "double"))
    with_labels = bool(label_col)

    def _cell(key, cand_pdf, cell_pdf):
        if len(cand_pdf) == 0 or len(cell_pdf) == 0:
            return _frame({}, fields)
        row = cell_pdf.iloc[0]
        aids = np.frombuffer(row["l_ids"], dtype=np.int64)
        amat = np.frombuffer(row["l_mat"], dtype=np.float64).reshape(
            int(row["l_n"]), int(row["l_dim"])
        )
        bids = np.frombuffer(row["r_ids"], dtype=np.int64)
        bmat = np.frombuffer(row["r_mat"], dtype=np.float64).reshape(
            int(row["r_n"]), int(row["r_dim"])
        )
        # id -> row position via argsort+searchsorted (C-speed; a
        # Python dict .map() here measured ~10x the whole cell cost)
        aorder = np.argsort(aids, kind="stable")
        border = np.argsort(bids, kind="stable")
        ca = cand_pdf["id_a"].to_numpy(dtype=np.int64)
        cb = cand_pdf["id_b"].to_numpy(dtype=np.int64)
        ia = aorder[np.clip(np.searchsorted(aids[aorder], ca), 0, len(aids) - 1)]
        ib = border[np.clip(np.searchsorted(bids[border], cb), 0, len(bids) - 1)]
        # Membership check: a candidate id absent from the corpus (or
        # hashed under a different type) would otherwise silently pair
        # the WRONG vector — fail loudly instead. Residual gap: a
        # foreign id whose hash routes to a block with NO corpus rows
        # produces no grid cell at all, so its candidate rows vanish
        # before this code runs (empty-cell early return above) —
        # callers needing a hard guarantee should assert
        # output rows == candidate rows (this function emits exactly
        # one row per candidate row when all ids resolve).
        if not (np.array_equal(aids[ia], ca) and np.array_equal(bids[ib], cb)):
            missing_a = ca[aids[ia] != ca]
            missing_b = cb[bids[ib] != cb]
            raise ValueError(
                "candidate_pair_cosine: candidate ids not found in their "
                f"corpus block (cell {key}): id_a={missing_a[:5].tolist()} "
                f"id_b={missing_b[:5].tolist()} — candidate table references "
                "ids absent from the corpus, or the id column's type hashes "
                "differently than the corpus id column."
            )
        out = {"id_a": [ca], "id_b": [cb]}
        if with_labels:
            alab = np.frombuffer(row["l_labels"], dtype=np.int64)
            blab = np.frombuffer(row["r_labels"], dtype=np.int64)
            out["label_a"] = [alab[ia]]
            out["label_b"] = [blab[ib]]
        c = (amat[ia] * bmat[ib]).sum(axis=1)
        out["cosine"] = [_round_away(c, decimals)]
        return _frame(out, fields)

    return (
        cand2.groupBy("blk_a", "blk_b")
        .cogroup(cells.groupBy("blk_a", "blk_b"))
        .applyInPandas(_cell, schema=_schema(fields))
    )


def _round_away_col(c, decimals: int):
    """DuckDB-style ROUND (half away from zero, computed in double
    arithmetic): sign(x)·floor(|x|·10^d + 0.5)/10^d. IEEE ops are
    deterministic, so this is bit-identical across engines — unlike
    Spark's BigDecimal HALF_UP round, which can disagree with the
    float formula on .5-boundary doubles. The Column twin of
    ``_round_away``."""
    p = float(10**decimals)
    return F.signum(c) * F.floor(F.abs(c) * F.lit(p) + F.lit(0.5)) / F.lit(p)


def _round_away(a, decimals: int):
    """DuckDB's ``ROUND`` in numpy: half away from zero, in double
    arithmetic. ``np.round`` is half-to-even, and the two disagree
    exactly on .5 boundaries, which real cosine ties hit (1/32 at 4 dp
    is 0.0313 here and in DuckDB, 0.0312 under ``np.round``). NaN
    stays NaN."""
    import numpy as np

    p = 10.0**decimals
    with np.errstate(invalid="ignore"):
        return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def _l2_rows(col, dim_hint: int | None = None):
    """Vector column → L2-normalized float64 matrix — the one
    normalization of the dense family (``_pack_vec_blocks`` and every
    bucket/cell verify). NO zero-norm guard: a zero vector normalizes
    to NaN rows, so its cosines are NaN — which Spark's window
    ordering ranks GREATEST and ``_neardup_threshold`` excludes, the
    same fates every tier gives them."""
    import numpy as np

    try:
        # numpy >= 1.24 RAISES ValueError on inhomogeneous input (a
        # group mixing real vectors with NULL/wrong-length ones) —
        # it no longer returns an object array — so the ragged path
        # must be reached via the exception, not an ndim check alone
        mat = np.array(list(col), dtype=np.float64)
    except ValueError:
        mat = None
    if mat is None or mat.ndim != 2:  # ragged / empty edge
        n = len(col)
        # derive the dim from the first NON-NULL vector: NULL rows do
        # reach this kernel (bucket 0 routes them), and a NULL-first
        # group must degrade to NaN rows, not crash on len(None)
        d = dim_hint or next(
            (len(v) for v in col if v is not None), 1
        )
        out = np.full((n, d), np.nan, dtype=np.float64)
        for i, v in enumerate(col):
            if v is not None and len(v) == d:
                out[i] = v
        mat = out
    with np.errstate(invalid="ignore", divide="ignore"):
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat


def _chunk_rows(chunk_rows: int, n_members: int) -> int:
    """Query rows per GEMM chunk: at most ``chunk_rows``, and few enough
    that the chunk's sims matrix stays near 16M doubles (~128 MB). The
    floor is 1, not 16: a 16-row floor lets the sims matrix reach
    16*M elements on mega-groups (M=10M members -> ~1.3 GB)."""
    return max(1, min(chunk_rows, 16_000_000 // max(n_members, 1)))


def _np_topk_emit(
    qids, qlab, qmat, nids, nlab, nmat, k, decimals, cross_label_only,
    chunk_rows=2048,
):
    """Top-k kernel of the dense family: chunked directed top-k of one
    group (grid cell, LSH bucket or IVF cell). Rounded GEMM sims, self
    masked, (optionally) same-label masked, per-query top-k under the
    (cosine DESC, id ASC) total order. NaN sims rank GREATEST (Spark /
    DuckDB NaN-greatest ordering — numpy would sort them last, which
    would silently diverge from the oracle on degenerate vectors).
    Returns per-chunk column arrays of ``_SCORED_FIELDS`` for
    ``_frame``.

    The order is one int64 key per (query, member), ascending: a
    rounded cosine is a whole number of 10^-decimals units, so minus
    that count (NaN above every cosine, masked members below), times
    the member count, plus the member's id rank is exact and tie-free.
    ``argpartition`` then a k-wide sort replace a two-key lexsort of
    every full row (about 3x faster per cell at k=3)."""
    import numpy as np

    m = len(nids)
    kk = min(k, m)
    big = 2.0 * 10**decimals
    id_rank = np.empty(m, dtype=np.int64)
    id_rank[np.argsort(nids, kind="stable")] = np.arange(m)
    chunk = _chunk_rows(chunk_rows, m)
    cols = {"qid": [], "qlabel": [], "nid": [], "nlabel": [], "c": []}
    for lo in range(0, len(qids), chunk):
        q = slice(lo, lo + chunk)
        sims = _round_away(qmat[q] @ nmat.T, decimals)
        units = np.rint(sims * 10.0**decimals)
        units[np.isnan(units)] = big
        units[qids[q, None] == nids[None, :]] = -big
        if cross_label_only:
            units[qlab[q, None] == nlab[None, :]] = -big
        key = (-units).astype(np.int64) * m + id_rank
        top = np.argpartition(key, kk - 1, axis=-1)[:, :kk]
        order = np.take_along_axis(
            top,
            np.argsort(np.take_along_axis(key, top, axis=-1), axis=-1),
            axis=-1,
        )
        valid = (np.take_along_axis(units, order, axis=1) != -big).ravel()
        cols["qid"].append(np.repeat(qids[q], kk)[valid])
        cols["qlabel"].append(np.repeat(qlab[q], kk)[valid])
        cols["nid"].append(nids[order.ravel()][valid])
        cols["nlabel"].append(nlab[order.ravel()][valid])
        cols["c"].append(
            np.take_along_axis(sims, order, axis=1).ravel()[valid]
        )
    return cols


def _np_pairs_emit(
    qids, qmat, nids, nmat, threshold, decimals, upper, chunk_rows=2048,
):
    """Pairs kernel of the dense family: chunked above-threshold pairs
    of one group. Rounded GEMM sims ``>= threshold`` — NaN fails the
    IEEE ``>=``, the ``_neardup_threshold`` contract — and, when
    ``upper``, only ``qid < nid`` (a self group, or a group whose
    queries and members overlap, then emits each unordered pair once).
    Rounding moves a dot by at most half a unit, so only dots within
    one unit of the threshold are rounded and tested. Returns
    per-chunk column arrays of ``_PAIR_FIELDS`` for ``_frame``."""
    import numpy as np

    chunk = _chunk_rows(chunk_rows, len(nids))
    cols = {"id_a": [], "id_b": [], "cosine": []}
    for lo in range(0, len(qids), chunk):
        dots = qmat[lo:lo + chunk] @ nmat.T
        with np.errstate(invalid="ignore"):
            ii, jj = np.nonzero(dots >= threshold - 10.0**-decimals)
        c = _round_away(dots[ii, jj], decimals)
        keep = c >= threshold
        if upper:
            keep &= qids[ii + lo] < nids[jj]
        cols["id_a"].append(qids[ii[keep] + lo])
        cols["id_b"].append(nids[jj[keep]])
        cols["cosine"].append(c[keep])
    return cols


_SCORED_FIELDS = [
    ("qid", "long"),
    ("qlabel", "int"),
    ("nid", "long"),
    ("nlabel", "int"),
    ("c", "double"),
]
_PAIR_FIELDS = [("id_a", "long"), ("id_b", "long"), ("cosine", "double")]


def _schema(fields):
    """Spark schema of ``(name, 'long' | 'int' | 'double')`` fields."""
    from pyspark.sql import types as T

    m = {"long": T.LongType(), "int": T.IntegerType(),
         "double": T.DoubleType()}
    return T.StructType([T.StructField(n, m[t]) for n, t in fields])


def _frame(cols, fields):
    """pandas frame of ``fields`` from per-chunk column arrays (a
    kernel's output; ``{}`` for an empty group), typed to match
    ``_schema(fields)`` even when no row survives."""
    import numpy as np
    import pandas as pd

    m = {"long": np.int64, "int": np.int32, "double": np.float64}
    return pd.DataFrame(
        {
            n: np.concatenate(cols[n]).astype(m[t], copy=False)
            if cols.get(n)
            else np.array([], dtype=m[t])
            for n, t in fields
        }
    )


def _dedup_scored(scored: DataFrame) -> DataFrame:
    """Collapse cross-group re-emissions of the same directed
    candidate (a pair sharing >1 probed bucket/cell is scored once
    per shared group). max-agg rather than distinct: two emissions
    compute the dot in different GEMM shapes, and a value landing
    exactly on a rounding boundary could round differently per group —
    distinct would then keep both rows (the same rule as the pair
    consumers' dedup in ``_grouped_threshold_pairs`` and
    ``embedding_neardup_pairs_ivf``)."""
    return scored.groupBy("qid", "qlabel", "nid", "nlabel").agg(
        F.max("c").alias("c")
    )


def _auto_anchor_salt(
    df: DataFrame,
    n_groups: int,
    n_probe: int,
    cap: int = 16,
    min_anchor_rows: int = 256,
) -> int:
    """Anchor-salt factor for pinned cell/bucket counts: enough salts
    that n_groups * salt oversubscribes the cluster's task slots 4x
    (first-k centroids make SKEWED cells, so matching slots 1:1 still
    leaves the wall at largest_cell/salt — measured at x10/k_cells=8:
    salt 4 = 7.0s, salt 8 = 5.6s, salt 16 = 3.9s vs 11.4s unsalted),
    but never slicing the average cell below ``min_anchor_rows``
    anchors per task — below that, checkpoint+cogroup fixed costs eat
    the parallelism win (sf0.1 measured +0.8s at salt 16). Groups
    already >= 2x slots (the balanced auto_cells/auto_planes forms)
    resolve to 1 without the count job: no replication, self-GEMM
    path unchanged. The one count() here is a parquet-scan row count
    — bounded work at any corpus scale."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if n_groups >= 2 * slots:
        return 1
    by_slots = -(-(4 * slots) // max(n_groups, 1))
    by_rows = (df.count() * n_probe) // (
        max(n_groups, 1) * min_anchor_rows
    )
    return int(max(1, min(cap, by_slots, by_rows)))


def _salted_cell_topk_scored(
    assigned: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_salt: int,
    decimals: int = 6,
    cross_label_only: bool = False,
) -> DataFrame:
    """``_cell_topk_scored`` with the ANCHOR side split ``n_salt``
    ways per cell — the parallelism fix for PINNED cell counts
    (k_cells=8 parity forms): the self-GEMM path runs one task per
    cell, so 8 cells on 32 cores leaves 3/4 of the machine idle while
    each task grinds a (n/8)² matmul. Anchors hash to one
    (cell, salt) group; members replicate to every salt of their
    cell, so each anchor still sees the FULL cell member set — its
    per-group top-k is bit-identical to the unsalted cell top-k
    (same GEMM row, same rounding, same (cosine DESC, id ASC)
    order), and the global merge tail is unchanged. Cost: member
    shuffle volume x n_salt (bounded by the salt cap) for ~n_salt x
    task parallelism; FLOPs are identical.

    ``n_salt <= 1`` falls back to the one-shuffle self-GEMM path."""
    if n_salt <= 1:
        return _cell_topk_scored(
            assigned, ["cell"], k, id_col, vec_col, label_col,
            decimals=decimals, cross_label_only=cross_label_only,
        )
    # Both legs consume the assignment pass; checkpoint so the
    # mapInPandas centroid fold runs once, and re-alias the query
    # leg's columns — cogroup children sharing attribute ids
    # miscompile under column pruning (the _lsh_assigned_vec_rows
    # lesson: a pruned member child arrived without its vector).
    cols = [id_col, vec_col, label_col]
    base = assigned.localCheckpoint()
    members = base.select(
        *cols,
        "cell",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_salt)])
        ).alias("salt"),
    )
    queries = base.select(
        *[F.col(c).alias(c) for c in cols],
        F.col("cell").alias("cell"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
        .cast("int")
        .alias("salt"),
    )
    return _grouped_topk_scored(
        queries, members, ["cell", "salt"], k, id_col, vec_col,
        label_col, decimals=decimals,
        cross_label_only=cross_label_only,
    )


def _grouped_topk_scored(
    queries: DataFrame,
    members: DataFrame,
    group_cols: list,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    decimals: int = 6,
    cross_label_only: bool = False,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Per-group directed top-k via dense GEMM — the bucket-native
    verify for candidate generators whose candidates share a group
    key (LSH (table, bucket); IVF cell). Vectors shuffle once to
    their groups as O(dim) rows and each group runs one normalized
    matmul + vectorized top-k; candidate PAIRS are never
    materialized. Correct because top-k under a total order
    distributes over any cover of the candidate set: a global top-k
    neighbor of q is, in every group it shares with q, ranked at
    least as high — so per-group top-k ⊇ global top-k (the grid
    kernel's argument, applied per bucket). Replaces the generic
    pair-gather (``candidate_pair_cosine``) whose ~0.6M pairs/s
    gather rate was the x10 wall for dup-heavy corpora where
    candidate density is near-quadratic per bucket.

    Returns deduped (qid, qlabel, nid, nlabel, c) rows — the exact
    shape the vote / hard-negative tails rank globally.
    """
    def _cell(key, qpdf, mpdf):
        import numpy as np

        if len(qpdf) == 0 or len(mpdf) == 0:
            return _frame({}, _SCORED_FIELDS)
        return _frame(
            _np_topk_emit(
                qpdf[id_col].to_numpy(dtype=np.int64),
                qpdf[label_col].to_numpy(dtype=np.int64),
                _l2_rows(qpdf[vec_col]),
                mpdf[id_col].to_numpy(dtype=np.int64),
                mpdf[label_col].to_numpy(dtype=np.int64),
                _l2_rows(mpdf[vec_col]),
                k, decimals, cross_label_only, chunk_rows,
            ),
            _SCORED_FIELDS,
        )

    scored = (
        queries.groupBy(*group_cols)
        .cogroup(members.groupBy(*group_cols))
        .applyInPandas(_cell, schema=_schema(_SCORED_FIELDS))
    )
    return _dedup_scored(scored)


def _cell_topk_scored(
    assigned: DataFrame,
    group_cols: list,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    decimals: int = 6,
    cross_label_only: bool = False,
    chunk_rows: int = 2048,
) -> DataFrame:
    """``_grouped_topk_scored`` for the self case (queries ≡ members,
    e.g. IVF cells where every row is both anchor and neighbor): one
    grouped pass, each group GEMMs against itself — no cogroup, no
    second shuffle of the same rows."""
    def _cell(key, pdf):
        import numpy as np

        if len(pdf) < 2:
            return _frame({}, _SCORED_FIELDS)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        lab = pdf[label_col].to_numpy(dtype=np.int64)
        mat = _l2_rows(pdf[vec_col])
        return _frame(
            _np_topk_emit(
                ids, lab, mat, ids, lab, mat, k, decimals,
                cross_label_only, chunk_rows,
            ),
            _SCORED_FIELDS,
        )

    scored = assigned.groupBy(*group_cols).applyInPandas(
        _cell, schema=_schema(_SCORED_FIELDS)
    )
    return _dedup_scored(scored)


def _grouped_threshold_pairs(
    queries: DataFrame,
    members: DataFrame,
    group_cols: list,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_to: int = 4,
    chunk_rows: int = 2048,
    upper: bool = True,
) -> DataFrame:
    """Per-group above-threshold pairs via dense GEMM — the
    bucket/cell-native verify for the pair consumers (near-dup).
    Emits each surviving pair as (id_a, id_b, cosine); a pair found in
    several shared groups collapses by max-agg (the IVF cells path's
    rounding-boundary rationale). With ``upper`` (one corpus on both
    sides) only id_a < id_b is kept, and every unordered candidate
    pair (a, b) with a < b is still found at least once: a's probe
    rows visit b's exact bucket by the candidate definition, so the
    (a-as-query, b-as-member) meeting always happens. ``upper=False``
    is the directed store×batch form (id_a from ``queries``, id_b from
    ``members``). NaN cosines are excluded by the IEEE ``>=`` — the
    ``_neardup_threshold`` contract."""

    def _cell(key, qpdf, mpdf):
        import numpy as np

        if len(qpdf) == 0 or len(mpdf) == 0:
            return _frame({}, _PAIR_FIELDS)
        return _frame(
            _np_pairs_emit(
                qpdf[id_col].to_numpy(dtype=np.int64),
                _l2_rows(qpdf[vec_col]),
                mpdf[id_col].to_numpy(dtype=np.int64),
                _l2_rows(mpdf[vec_col]),
                threshold, round_to, upper, chunk_rows,
            ),
            _PAIR_FIELDS,
        )

    pairs = (
        queries.groupBy(*group_cols)
        .cogroup(members.groupBy(*group_cols))
        .applyInPandas(_cell, schema=_schema(_PAIR_FIELDS))
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("cosine").alias("cosine")
    )


def _lsh_assigned_vec_rows(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    multiprobe: bool,
    id_col: str,
    vec_col: str,
    label_col: str | None,
    seed: int = 42,
):
    """(queries, members) legs for the bucket-GEMM verify: members
    are each vector's EXACT (table, bucket) rows with the vector
    (and label) carried along; queries are the multi-probe expansion
    of the same rows (bucket XOR each single bit, plus the exact
    probe) — the one-side-explodes Hamming≤1 scheme of
    ``lsh_candidates``, here materialized as O(dim) vector rows so
    each bucket group can run one dense GEMM instead of gathering
    candidate pairs. The joined base is localCheckpointed: both legs
    consume it, so the corpus and the bucket pass run once."""
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    cb = _lsh_bucket_rows(
        df, dim, n_planes, n_tables, id_col, vec_col, seed
    )
    base = cb.join(df.select(*cols), id_col).localCheckpoint()
    members = base.select(*cols, "t", "b")
    # The query leg re-ALIASES every column: both legs descend from
    # the same checkpointed base, and a cogroup whose two children
    # share attribute ids miscompiles under column pruning (observed:
    # a downstream count() pruned the member child down to the group
    # key, and the kernel's member pdf arrived without the id/vector
    # columns). Fresh exprIds keep the children independent.
    if multiprobe:
        probes = [F.col("b")] + [
            F.col("b").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
        queries = base.select(
            *[F.col(c).alias(c) for c in cols],
            F.col("t").alias("t"),
            F.explode(F.array(*probes)).alias("b"),
        )
    else:
        queries = base.select(
            *[F.col(c).alias(c) for c in cols],
            F.col("t").alias("t"),
            F.col("b").alias("b"),
        )
    return queries, members


def _vote_tail(
    scored: DataFrame, k: int, id_col: str, label_col: str
) -> DataFrame:
    """Global top-k merge + majority vote + smaller-label tie-break
    over (qid, qlabel, nid, nlabel, c) candidate rows — the shared
    tail of every kNN label-audit tier (grid / LSH / IVF)."""
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("c").desc(), F.col("nid").asc()
    )
    topk = scored.withColumn("rk", F.row_number().over(w_rank)).filter(
        F.col("rk") <= k
    )
    votes = topk.groupBy("qid", "qlabel", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("nlabel").asc()
    )
    return (
        votes.withColumn("pr", F.row_number().over(w_vote))
        .filter(F.col("pr") == 1)
        .select(
            F.col("qid").alias(id_col),
            F.col("qlabel").alias(label_col),
            F.col("nlabel").alias("predicted_label"),
            F.col("votes").cast("int").alias("n_agree"),
            (F.col("nlabel") != F.col("qlabel")).alias("mislabeled"),
        )
    )


def _hardneg_tail(
    scored: DataFrame, k: int, id_col: str, label_col: str
) -> DataFrame:
    """Global top-k merge of cross-label candidates → hard-negative
    rows (rank at 6 dp, emitted cosine re-rounded to 4 dp half-away)
    — the shared tail of every hard-negative tier."""
    w = Window.partitionBy("qid").orderBy(
        F.col("c").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("qlabel").alias(label_col),
            F.col("nid").alias("neg_id"),
            F.col("nlabel").alias("neg_label"),
            _round_away_col(F.col("c"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _lsh_scored(
    df: DataFrame,
    k: int,
    dim: int,
    n_planes: int | None,
    n_tables: int,
    multiprobe: bool,
    id_col: str,
    vec_col: str,
    label_col: str,
    cross_label_only: bool,
) -> DataFrame:
    """Scored candidate neighbors of the LSH tier's per-anchor
    consumers (kNN vote, hard negatives), ready for their global tail.

    Per-(table, bucket) dense GEMM + vectorized local top-k — top-k
    distributes over the bucket cover, so per-bucket top-k ⊇ global
    top-k (the grid kernel's argument; with ``cross_label_only`` the
    same-label mask applies inside the kernel and the argument holds
    on the masked order). Candidate pairs are never materialized: on
    dup-heavy corpora a pair-gather's candidate volume is
    near-quadratic per bucket (the 201 s x10 row)."""
    if n_planes is None:
        n_planes = auto_planes(df.count())
    queries, members = _lsh_assigned_vec_rows(
        df, dim, n_planes, n_tables, multiprobe,
        id_col, vec_col, label_col,
    )
    return _grouped_topk_scored(
        queries, members, ["t", "b"], k,
        id_col, vec_col, label_col, decimals=6,
        cross_label_only=cross_label_only,
    )


def embedding_neardup_pairs_ann(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Semantic near-dup pairs, ANN tier: LSH candidate pairs → exact
    cosine verify ≥ threshold (threshold applies to the rounded value,
    same contract as the exact grid twin ``embedding_neardup_pairs_grid``).

    This is the 100 TB default: candidate volume is O(n·bucket·tables)
    with ``n_planes=None`` auto-sizing, versus the grid's exact O(n²)
    matmul — the grid remains the exact-tier twin for bounded subsets
    and for recall measurement (``ann_pair_recall_report``). Because
    the hyperplanes are deterministic constants, the whole composition
    (candidates AND verify) replays in oracle SQL — the output is
    exact-checkable, only its candidate set is approximate.

    The verify is a bucket GEMM: candidate pairs are never
    materialized — vectors shuffle once to their (table, bucket)
    groups (queries probe-expanded, the Hamming≤1 one-side scheme) and
    each group runs one dense normalized matmul, emitting only
    above-threshold pairs. On duplicate-heavy corpora, where
    per-bucket candidate density is near-quadratic, a generic
    pair-gather's ~0.6M pairs/s is the x10 wall (round-4 study).
    """
    if n_planes is None:
        n_planes = auto_planes(df.count())
    queries, members = _lsh_assigned_vec_rows(
        df, dim, n_planes, n_tables, multiprobe,
        id_col, vec_col, None,
    )
    return _grouped_threshold_pairs(
        queries, members, ["t", "b"], threshold,
        id_col, vec_col, round_to,
    )


def knn_label_vote_ann(
    df: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int | None = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label-consistency audit, ANN tier: neighbors restricted to
    LSH candidates (Hamming≤1 in any table), exact cosine re-rank to
    top-k (per-bucket GEMMs, ``_lsh_scored``), then the same majority
    vote / tie-break contract as the exact twin ``knn_label_vote_grid``.
    Rows whose buckets hold no other vector emit no vote (both engines
    replay identically).
    """
    scored = _lsh_scored(
        df, k, dim, n_planes, n_tables, multiprobe,
        id_col, vec_col, label_col, cross_label_only=False,
    )
    return _vote_tail(scored, k, id_col, label_col)


def hard_negative_mining_ann(
    df: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_planes: int | None = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard negatives, ANN tier: LSH candidates with the
    same-label pairs masked, exact cosine re-rank (per-bucket GEMMs,
    ``_lsh_scored``) to the top-k different-label neighbors per
    anchor. Ranking at 6 dp (cosine DESC, id ASC); emitted cosine
    re-rounds to 4 dp half-away — the exact twin
    ``hard_negative_mining_grid``'s contract.
    """
    scored = _lsh_scored(
        df, k, dim, n_planes, n_tables, multiprobe,
        id_col, vec_col, label_col, cross_label_only=True,
    )
    return _hardneg_tail(scored, k, id_col, label_col)


def ann_pair_recall_report(
    df: DataFrame,
    threshold: float = 0.3,
    dim: int = 64,
    n_planes: int | None = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of the ANN pair tier against the exact grid twin, per
    cosine band — the measurement that justifies (or vetoes) making
    the ANN tier the default path on a given corpus. LSH recall is a
    function of pair angle, so one aggregate number hides the story;
    banding shows recall concentrating where near-duplicates actually
    live (≥0.55 here ⇒ recall 1.0 even on isotropic data).

    Both legs are deterministic engine operators, so the report —
    unusually for an ANN quality metric — is itself oracle-checkable.
    Output: (band_lo, n_true, n_hit, recall), one row per band with
    ≥1 true pair.
    """
    exact = embedding_neardup_pairs_grid(
        df, threshold, id_col=id_col, vec_col=vec_col
    )
    ann = embedding_neardup_pairs_ann(
        df, threshold, dim, n_planes, n_tables, multiprobe,
        id_col, vec_col,
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    band = (
        F.when(F.col("cosine") < 0.35, 0.30)
        .when(F.col("cosine") < 0.40, 0.35)
        .when(F.col("cosine") < 0.45, 0.40)
        .otherwise(0.45)
    )
    joined = exact.join(ann, ["id_a", "id_b"], "left").select(
        band.alias("band_lo"), F.coalesce(F.col("__hit"), F.lit(0)).alias("__hit")
    )
    return joined.groupBy("band_lo").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum("__hit").cast("bigint").alias("n_hit"),
        F.round(F.sum("__hit") / F.count(F.lit(1)), 6).alias("recall"),
    )


def _neardup_threshold(threshold: float):
    """The family's threshold predicate: NaN cosines are EXCLUDED.
    Spark compares NaN greater than every value, so a bare
    ``cosine >= t`` would keep a degenerate (zero-norm) pair that the
    DuckDB oracle rejects (its list_cosine_similarity clamps
    degenerate results to -1.0, never NaN) and that the numpy
    cells-verify drops (IEEE ``>=``) — three engines, one rule."""
    return (~F.isnan("cosine")) & (F.col("cosine") >= threshold)


def _incremental_verify_pairs(
    store: DataFrame,
    batch: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_to: int,
) -> DataFrame:
    """Shared verify tail of the two incremental near-dup twins (LSH
    and IVF candidate generators): pack only the store vectors that
    candidates touch (left-semi), union the batch, exact cosine on
    candidates, NaN-safe threshold, (store_id, batch_id, cosine)."""
    needed_store = store.select(id_col, vec_col).join(
        cand.select(F.col("id_a").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    corpus = needed_store.unionByName(batch.select(id_col, vec_col))
    scored = candidate_pair_cosine(
        corpus, cand, id_col, vec_col, decimals=round_to
    )
    return scored.filter(_neardup_threshold(threshold)).select(
        F.col("id_a").alias("store_id"),
        F.col("id_b").alias("batch_id"),
        "cosine",
    )


def embedding_neardup_incremental(
    store: DataFrame,
    batch: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    store_buckets: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest semantic near-dup: exact-cosine-verified pairs
    between a NEW batch of vectors and the existing STORE only — the
    embedding twin of ``minhash_lsh_pairs_incremental`` (dedup.py),
    completing the dedup lifecycle for the dense tier.

    The store's LSH bucket table (id, t, b) is the persistable
    artifact: pass ``store_buckets`` (written by an earlier run via
    ``_lsh_bucket_rows``, one row per vector per table) and each
    day's work is one Arrow bucket pass over the BATCH, a probe join
    against the store's bucket table, and an exact-cosine verify that
    packs only the CANDIDATE store vectors — O(batch·tables·buckets),
    never a store re-scan and never O(store²). Store↔store pairs were
    settled by earlier runs; batch↔batch dups get their own (much
    smaller) self-pass via ``embedding_neardup_pairs_ann``.

    Multi-probe expands the BATCH side to Hamming≤1 (XOR is
    symmetric, so one-sided expansion covers both directions — same
    argument as ``lsh_candidates``). Returns (store_id, batch_id,
    cosine) with cosine ≥ threshold on the ``round_to``-rounded value,
    the grid/ANN family contract.
    """
    cb_store = (
        store_buckets
        if store_buckets is not None
        else _lsh_bucket_rows(
            store, dim, n_planes, n_tables, id_col, vec_col
        )
    )
    cb_batch = _lsh_bucket_rows(
        batch, dim, n_planes, n_tables, id_col, vec_col
    )
    if multiprobe:
        probes = [F.col("b")] + [
            F.col("b").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
        pb = cb_batch.select(
            F.col(id_col).alias("id_b"),
            F.col("t").alias("tb"),
            F.explode(F.array(*probes)).alias("pb"),
        )
    else:
        pb = cb_batch.select(
            F.col(id_col).alias("id_b"),
            F.col("t").alias("tb"),
            F.col("b").alias("pb"),
        )
    cand = (
        cb_store.select(F.col(id_col).alias("id_a"), "t", "b")
        .join(pb, (F.col("t") == F.col("tb")) & (F.col("b") == F.col("pb")))
        .select("id_a", "id_b")
        # localCheckpoint: cand feeds TWO jobs (the eager pack inside
        # candidate_pair_cosine via the needed_store semi-join, then
        # the cogroup) — without it each job re-runs the store bucket
        # pass, i.e. exactly the store re-scan this operator exists
        # to avoid
        .distinct()
        .localCheckpoint()
    )
    # Verify packs only the store vectors candidates actually touch
    # (left-semi on the candidate store ids) plus the batch — the
    # per-day verify cost tracks the candidate set, not the store.
    return _incremental_verify_pairs(
        store, batch, cand, threshold, id_col, vec_col, round_to
    )


def embedding_neardup_incremental_ivf(
    store: DataFrame,
    batch: DataFrame,
    threshold: float,
    centroids=None,
    k_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    store_cells: DataFrame | None = None,
    fold: str = "serial",
) -> DataFrame:
    """Daily-ingest semantic near-dup on the IVF tier: exact-verified
    pairs between a NEW batch and the existing STORE via shared
    centroid cells — the IVF twin of ``embedding_neardup_incremental``
    (whose candidate generator is the LSH bucket store).

    The store's cell-assignment table (id, cell) is the persistable
    artifact: pass ``store_cells`` (written by an earlier run via
    ``_ivf_cell_rows``) and each day's work is one Arrow assignment
    pass over the BATCH against the store's cells — O(batch·cell_size·
    probe²) per day, never a store re-scan. Centroids default to the
    first ``k_cells`` STORE vectors (deterministic, oracle-replayable);
    at scale pass ``kmeans_train`` output and the balanced
    ``auto_cells`` k — and retrain/re-assign only when drift warrants
    (the classic IVF maintenance cycle).

    The verify is the directed cell-native GEMM: both sides cogroup on
    the cell key and pair volume exists only as FLOPs inside each task
    (``_grouped_threshold_pairs`` with ``upper=False``, store rows as
    queries). Materializing the same-cell store×batch pair list
    instead costs ~160M rows at 60k vectors under the pinned
    k_cells=8 parity config, billions at 600k (r8 x100 study). A pair
    sharing >1 probed cell dedups by max-agg (different GEMM shapes
    may round a boundary dot differently — the
    embedding_neardup_pairs_ivf lesson).

    Returns (store_id, batch_id, cosine ≥ threshold at ``round_to``).
    """
    if store_cells is not None and centroids is None:
        # A persisted cell table is only meaningful WITH the centroids
        # that produced it: re-deriving defaults here would assign the
        # batch against different centroids (and, as the store grows,
        # a different k), silently matching unrelated cells — and the
        # derivation itself is a full store scan this operator
        # promises to avoid.
        raise ValueError(
            "embedding_neardup_incremental_ivf: store_cells requires "
            "the centroids that built it"
        )
    if centroids is None:
        centroids = _default_centroids(
            store, k_cells, n_probe, id_col, vec_col
        )
    cs = (
        store_cells
        if store_cells is not None
        else _ivf_cell_rows(
            store, centroids, n_probe, id_col, vec_col, fold=fold
        )
    )
    cb = _ivf_cell_rows(
        batch, centroids, n_probe, id_col, vec_col, fold=fold
    )
    ca_vec = cs.join(store.select(id_col, vec_col), id_col)
    cb_vec = cb.join(batch.select(id_col, vec_col), id_col)
    pairs = _grouped_threshold_pairs(
        ca_vec, cb_vec, ["cell"], threshold, id_col, vec_col,
        round_to, upper=False,
    )
    return pairs.select(
        F.col("id_a").alias("store_id"),
        F.col("id_b").alias("batch_id"),
        "cosine",
    )


def ivf_drift_retrain(
    store: DataFrame,
    batch: DataFrame,
    k_cells: int = 8,
    n_probe: int = 2,
    drift_threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fold: str = "serial",
) -> DataFrame:
    """Close the IVF maintenance loop: measure distribution DRIFT of
    an incoming batch against the serving index's cell histogram and,
    when it trips the threshold, RETRAIN (re-seed centroids from
    store ∪ batch, re-assign everything). This is the cycle
    ``embedding_neardup_incremental_ivf`` documents but leaves to the
    operator of this function: day-to-day the persisted cell table
    absorbs batches O(batch); an embedding-model upgrade or a corpus
    shift silently degrades cell balance (and with it recall) until
    the index is rebuilt — the drift stat is the trigger.

    Drift = total-variation distance between the store's and the
    batch's cell-assignment histograms under the CURRENT centroids,
    computed with an exact-integer numerator — TV = Σ|nb·TS − ns·TB|
    / (2·TB·TS) — so both engines agree bit-for-bit before one final
    rounded division (the float-sum-association dodge). Returns one
    row per cell of the ACTIVE index (retrained or original):
    (cell, n_store, n_batch, tv_drift, retrained). Driver state is
    k-bounded scalars (the histogram totals and the TV numerator) —
    the bounded-driver-state contract every IVF op here keeps.

    At 100 TB: histograms are k-sized aggregates of the (id, cell)
    tables the incremental path already maintains, so the drift check
    is ~free per batch; the retrain branch costs one assignment pass
    over the store — exactly the cost it avoids paying daily.
    """
    c0 = _default_centroids(store, k_cells, n_probe, id_col, vec_col)
    acs = _ivf_cell_rows(store, c0, n_probe, id_col, vec_col, fold=fold)
    acb = _ivf_cell_rows(batch, c0, n_probe, id_col, vec_col, fold=fold)

    def _hist(cells_df, alias):
        return cells_df.groupBy("cell").agg(
            F.count(F.lit(1)).alias(alias)
        )

    spark = store.sparkSession
    all_cells = spark.range(len(c0)).select(
        F.col("id").cast("int").alias("cell")
    )
    hist = (
        all_cells.join(_hist(acs, "__ns"), "cell", "left")
        .join(_hist(acb, "__nb"), "cell", "left")
        .fillna(0, subset=["__ns", "__nb"])
    )
    tot = observed_aggregates(
        hist, F.sum("__ns").alias("ts"), F.sum("__nb").alias("tb")
    )
    ts, tb = int(tot["ts"]), int(tot["tb"])
    tv_num = int(
        observed_aggregates(
            hist,
            F.sum(
                F.abs(
                    F.col("__nb") * F.lit(ts)
                    - F.col("__ns") * F.lit(tb)
                )
            ).alias("tv_num"),
        )["tv_num"]
    )
    # half-AWAY rounding (DuckDB ROUND), not Python's banker's round:
    # a TV landing exactly on a 5e-7 boundary must not round apart
    import math

    tv = (
        math.floor(tv_num / (2.0 * tb * ts) * 1e6 + 0.5) / 1e6
        if ts and tb
        else 0.0
    )
    # Trigger on the EXACT integer numerator, not the rounded tv:
    # two half-away roundings (here and DuckDB's ROUND) can disagree
    # on values whose unrounded double sits 1 ulp from a 5e-7
    # boundary, flipping the retrained branch between engines. The
    # comparison tv_num > thr·2·tb·ts has one exactly-representable
    # product on the right (tb·ts < 2^53 at any realistic histogram
    # total; thr·2 = 0.5 for the registry's 0.25), so both engines
    # evaluate the identical predicate. The rounded tv is emitted
    # for display only.
    retrained = bool(ts and tb) and (
        float(tv_num) > drift_threshold * 2.0 * float(tb) * float(ts)
    )

    if retrained:
        merged = store.select(id_col, vec_col).unionByName(
            batch.select(id_col, vec_col)
        )
        c1 = _default_centroids(
            merged, k_cells, n_probe, id_col, vec_col
        )
        acs = _ivf_cell_rows(
            store, c1, n_probe, id_col, vec_col, fold=fold
        )
        acb = _ivf_cell_rows(
            batch, c1, n_probe, id_col, vec_col, fold=fold
        )
        all_cells = spark.range(len(c1)).select(
            F.col("id").cast("int").alias("cell")
        )
    return (
        all_cells.join(_hist(acs, "n_store"), "cell", "left")
        .join(_hist(acb, "n_batch"), "cell", "left")
        .fillna(0, subset=["n_store", "n_batch"])
        .select(
            "cell",
            F.col("n_store").cast("long").alias("n_store"),
            F.col("n_batch").cast("long").alias("n_batch"),
            F.lit(tv).alias("tv_drift"),
            F.lit(retrained).alias("retrained"),
        )
    )


def auto_cells(n_rows: int, n_probe: int = 2, lo: int = 8,
               hi: int = 65536) -> int:
    """Balanced IVF cell count k = n_probe·√n — the point where
    centroid ASSIGNMENT (O(n·k·d)) and within-cell pair VERIFY
    (O(n·(n/k)·probe²·d)) equalize, making total work O(n^1.5·d).

    The round-4 study measured both failure modes of the naive
    rules: k ∝ n (constant cell population) gives linear candidate
    volume but QUADRATIC assignment — at 300k vectors the n×k cosine
    matrix was 22s of the 25s wall; small fixed k degenerates toward
    the O(n²) grid. k = probe·√n is the classic IVF balance (larger
    cells than k∝n once n > ~4k·probe², so recall RISES with n while
    the dense cells-verify absorbs the extra pairs at BLAS rates).
    Either way LSH loses on clustered corpora: its candidate density
    stays near-quadratic (measured 3.5% of all pairs at 100k under
    auto_planes — SCALING.md round 4)."""
    import math

    return max(lo, min(hi, round(n_probe * math.sqrt(n_rows))))


def _ivf_cell_rows(
    df: DataFrame,
    centroids,
    n_probe: int,
    id_col: str,
    vec_col: str,
    fold: str = "serial",
) -> DataFrame:
    """(id, cell) rows — each vector's top-``n_probe`` centroid cells
    — in one Arrow ``mapInPandas`` pass with the centroid matrix in
    the closure (k x dim SQL literals would re-create the plan-parse
    fixed cost _lsh_bucket_rows eliminated; at k=1000+ the literal
    form is unusable).

    Contract matches ``ivf_probe_cells`` / the DuckDB oracle exactly:
    cosine = dot/(|v|·|c|), rounded half-away to 9 dp; cells ranked
    (score DESC, cell DESC). With ``fold='serial'`` (the registry /
    oracle-replay default) every dot is the serial left-fold
    (j-ascending multiply-add); ``fold='blas'`` is one GEMM per
    Arrow batch — at large k the 64-step serial loop over an (n, k)
    accumulator is memory-bandwidth-bound and dominates assignment
    cost (measured ~20s of the 34s IVF total at 100k vectors with
    k=1563; auto_cells now sets k = n_probe·√n, ≈632 there), while
    the GEMM is <1s; the two differ only
    in float association, which the 9 dp rounding almost always
    absorbs, so 'blas' is the documented large-k scale path and
    'serial' the bit-replayable oracle twin.

    Top-``n_probe`` selection is an exact-integer argpartition: the
    9 dp score is an int64 (|s9| <= 1e9), combined with the cell id
    into key = s9*k + cell (monotone in the (score, cell) DESC order,
    tie-free since cell is unique) — O(nk) selection instead of the
    O(nk log k) two-key lexsort that dominated the first cut.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    n_probe = min(n_probe, k)
    if fold == "serial":
        cnorm = np.empty(k)
        for i in range(k):
            acc = 0.0
            for j in range(dim):
                acc += C[i, j] * C[i, j]
            cnorm[i] = math.sqrt(acc)
    else:
        cnorm = np.sqrt(np.einsum("ij,ij->i", C, C))

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("cell", T.IntegerType())]
    )
    kk = np.int64(k)

    def _run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.full((n, dim), np.nan, dtype=np.float64)
            for i, v in enumerate(pdf[vec_col]):
                if v is not None and len(v) == dim:
                    vecs[i] = v
            if fold == "serial":
                # left-fold, oracle-identical — but ROW-BLOCKED: the
                # full-width (n, k) accumulator is re-streamed dim
                # times, and at auto_cells scale (k ≈ 2√n ≈ 1549 at
                # 600k vectors) that traffic is the assignment wall
                # the r8 x300 study measured (serial 41s vs BLAS 15s
                # per pass). A 64-row block keeps the accumulator
                # L2-resident; each dot's j-ascending accumulation
                # order is untouched (independent per (row, cell)),
                # so the result is BIT-IDENTICAL to the unblocked
                # fold — measured 3.8x on the 20k x 1549 shape.
                accd = np.empty((n, k), dtype=np.float64)
                accn = np.empty(n, dtype=np.float64)
                Ct = np.ascontiguousarray(C.T)
                for lo in range(0, n, 64):
                    hi = min(lo + 64, n)
                    vb = np.ascontiguousarray(vecs[lo:hi].T)
                    a = np.zeros((hi - lo, k), dtype=np.float64)
                    an = np.zeros(hi - lo, dtype=np.float64)
                    for j in range(dim):
                        a += vb[j][:, None] * Ct[j]
                        an += vb[j] * vb[j]
                    accd[lo:hi] = a
                    accn[lo:hi] = an
            else:
                accd = vecs @ C.T
                accn = np.einsum("ij,ij->i", vecs, vecs)
            cos = accd / (np.sqrt(accn)[:, None] * cnorm)
            with np.errstate(invalid="ignore"):
                s9 = (
                    np.sign(cos) * np.floor(np.abs(cos) * 1e9 + 0.5)
                )
            # Degenerate cosines (zero-norm centroid or vector) are
            # NaN here but -1.0 in the oracle: DuckDB's
            # list_cosine_similarity CLAMPS — it never returns NaN
            # (verified on DuckDB 1.0: a zero-norm side yields -1.0).
            # Replay that exactly: NaN maps to the -1.0 score, TYING
            # with genuine antipodal cosines and falling to the
            # shared cell-DESC tiebreak — not above them (+2e9) or
            # below them (-2e9), either of which diverges when real
            # -1.0 scores coexist with degenerate cells.
            np.nan_to_num(
                s9, copy=False, nan=-1e9, posinf=1e9, neginf=-1e9
            )
            key = s9.astype(np.int64) * kk + np.arange(k, dtype=np.int64)
            if n_probe < k:
                part = np.argpartition(-key, n_probe - 1, axis=-1)[
                    :, :n_probe
                ]
            else:
                part = np.broadcast_to(
                    np.arange(k), (n, k)
                ).copy()
            topkey = np.take_along_axis(key, part, axis=-1)
            order = np.take_along_axis(
                part, np.argsort(-topkey, axis=-1), axis=-1
            )
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "cell": order.astype(np.int32).ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_run, schema=out_schema)


def _ivf_cell_vec_rows(
    df: DataFrame,
    centroids,
    n_probe: int,
    id_col: str,
    vec_col: str,
    fold: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """(cell, id, vec[, extras]) rows — ``_ivf_cell_rows`` assignment
    with the vector (and any ``extra_cols``, e.g. the label for the
    directed kNN consumers) carried along, so the within-cell verify
    needs NO join back onto the corpus: one mapInPandas pass emits
    n·probe rows of O(dim) bytes, the only shuffle the cells-verify
    path pays."""
    cells = _ivf_cell_rows(df, centroids, n_probe, id_col, vec_col, fold)
    return cells.join(df.select(id_col, vec_col, *extra_cols), id_col)


def _cell_dense_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_to: int,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Within-cell dense verify: group by cell and run the pairs kernel
    of each cell against itself (``_np_pairs_emit``, upper triangle),
    emitting pairs whose half-away-rounded cosine clears
    ``threshold``.

    This is the IVF-native verify shape: candidate pairs are never
    materialized — per-cell pair work IS the candidate volume
    (O(n·cell·probe²) with auto_cells), done at dense-BLAS rates
    instead of the generic pair-gather's ~0.6M pairs/s (measured:
    100k vectors / 15.5M candidates — 27s via candidate_pair_cosine,
    ~3s here; ``candidate_pair_cosine`` stays for candidate lists
    that do NOT share a grouping key, e.g. the incremental LSH
    store×batch probe). ``chunk_rows`` bounds the per-task sims
    matrix (chunk_rows × cell_rows float64) — the x30 OOM lesson from
    the pair grid applies to skewed cells too.
    """

    def _pairs(key, pdf):
        import numpy as np

        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = _l2_rows(pdf[vec_col])
        return _frame(
            _np_pairs_emit(
                ids, mat, ids, mat, threshold, round_to, True, chunk_rows
            ),
            _PAIR_FIELDS,
        )

    return assigned.groupBy("cell").applyInPandas(
        _pairs, schema=_schema(_PAIR_FIELDS)
    )


def _default_centroids(
    df: DataFrame,
    k_cells: int | None,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> list:
    """The IVF tier's deterministic centroid seed: the first
    ``k_cells`` (default: balanced ``auto_cells``) vectors by id —
    the rule every IVF oracle replays (``_ivf_cand_ctes``), factored
    so the twins cannot silently diverge. The k-row collect is
    bounded by construction (k ≈ probe·√n rows of dim doubles)."""
    k = k_cells if k_cells is not None else auto_cells(
        df.count(), n_probe
    )
    return [
        r["__v"]
        for r in df.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("__v"))
        .collect()
    ]


def _ivf_scored(
    df: DataFrame,
    k: int,
    k_cells: int | None,
    n_probe: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_salt: int | None,
    cross_label_only: bool,
) -> DataFrame:
    """Scored candidate neighbors of the IVF tier's per-anchor
    consumers (kNN vote, hard negatives), ready for their global tail.

    The directed analogue of the near-dup cells verify: vectors
    shuffle once to their probed cells (with the label carried — no
    join back), each cell GEMMs against itself (same-label pairs
    masked inside the kernel if ``cross_label_only``) and emits its
    local top-k per anchor. Per-cell top-k ⊇ global top-k (top-k
    distributes over the cell cover). Under a PINNED cell count the
    anchor side additionally salts ``n_salt`` ways (default: enough
    that cells x salts covers the task slots, see
    ``_auto_anchor_salt``) — members replicate per salt so every
    anchor still sees the full cell, output unchanged, parallelism x
    salt (the r6 x10 wall: 8 cells = 8 tasks on 32 cores)."""
    centroids = _default_centroids(
        df, k_cells, n_probe, id_col, vec_col
    )
    assigned = _ivf_cell_vec_rows(
        df, centroids, n_probe, id_col, vec_col, "serial",
        extra_cols=(label_col,),
    )
    salt = (
        n_salt
        if n_salt is not None
        else _auto_anchor_salt(df, len(centroids), n_probe)
    )
    return _salted_cell_topk_scored(
        assigned, k, id_col, vec_col, label_col, salt,
        decimals=6, cross_label_only=cross_label_only,
    )


def knn_label_vote_ivf(
    df: DataFrame,
    k: int = 5,
    k_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_salt: int | None = None,
) -> DataFrame:
    """kNN label-consistency audit, IVF tier: neighbors restricted to
    same-cell candidates (directed — every vector is an anchor), exact
    cosine re-rank to top-k, then the majority vote / tie-break
    contract of the exact twin ``knn_label_vote_grid``. The candidate
    generator the round-4 study promotes for clustered corpora
    (balanced ``auto_cells``: per-anchor candidate work ~probe²·√n);
    the LSH twin ``knn_label_vote_ann`` remains for corpora without
    centroid structure. Anchors alone in their cells emit no vote —
    both engines replay identically.

    Candidates are scored with per-cell GEMMs; ``n_salt`` splits each
    cell's anchors under a pinned cell count (``_ivf_scored``).
    """
    scored = _ivf_scored(
        df, k, k_cells, n_probe, id_col, vec_col, label_col,
        n_salt, cross_label_only=False,
    )
    return _vote_tail(scored, k, id_col, label_col)


def hard_negative_mining_ivf(
    df: DataFrame,
    k: int = 3,
    k_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_salt: int | None = None,
) -> DataFrame:
    """Contrastive hard negatives, IVF tier: directed same-cell
    candidates with same-label pairs masked, exact cosine re-rank
    (per-cell GEMMs, ``_ivf_scored``) to the top-k different-label
    neighbors per anchor. Ranking at 6 dp (cosine DESC, id ASC);
    emitted cosine re-rounds to 4 dp half-away — the exact twin
    ``hard_negative_mining_grid``'s contract. The hard-negative use
    case needs the MOST similar cross-label rows; on clustered corpora
    those share cells by construction.
    """
    scored = _ivf_scored(
        df, k, k_cells, n_probe, id_col, vec_col, label_col,
        n_salt, cross_label_only=True,
    )
    return _hardneg_tail(scored, k, id_col, label_col)


def embedding_neardup_pairs_ivf(
    df: DataFrame,
    threshold: float,
    centroids=None,
    k_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    fold: str = "serial",
) -> DataFrame:
    """Semantic near-dup pairs, IVF tier — the candidate generator
    that actually scales (SCALING.md round 4): vectors are assigned to
    their top-``n_probe`` centroid cells and candidates are SAME-CELL
    pairs only. With the balanced ``auto_cells`` rule (k = probe·√n)
    total work — centroid assignment plus within-cell dense verify —
    is O(n^1.5·d), versus the exact grid's O(n²·d) and hyperplane LSH
    whose candidate density on clustered corpora stays near-quadratic
    (round-4 study, 100k·64d clustered corpus: LSH emitted 175M
    candidates — 3.5% of all pairs — and ran 62s steady, 8× slower
    than the exact O(n²) BLAS grid itself at that n; see SCALING.md
    for the measured table and the n where each tier wins). Near-dup
    pairs concentrate in shared cells, so recall concentrates exactly
    where duplicates live — and rises with n under the balanced rule,
    since cell population grows as √n.

    ``centroids`` defaults to the first ``k_cells`` vectors by id — a
    deterministic, oracle-replayable sample (pass ``kmeans_train``
    output for tighter cells; the candidate contract is unchanged).
    The k-row collect is bounded by construction (k = n_probe·√n rows
    of dim doubles under ``auto_cells``), the same bounded-driver-state
    contract as
    kmeans_train's per-iteration centroid aggregate.

    Exact-cosine verify on candidates only, threshold on the
    ``round_to``-rounded value — the grid/ANN family contract.
    Candidate pairs are never materialized: vectors shuffle once to
    their cells (O(n·probe·dim) bytes) and each cell runs a dense
    normalized GEMM, emitting only above-threshold pairs — the
    IVF-native shape (measured at 100k vectors: 27s via a generic
    pair-gather vs ~3s here).
    """
    if centroids is None:
        centroids = _default_centroids(
            df, k_cells, n_probe, id_col, vec_col
        )
    assigned = _ivf_cell_vec_rows(
        df, centroids, n_probe, id_col, vec_col, fold
    )
    pairs = _cell_dense_pairs(
        assigned, threshold, id_col, vec_col, round_to
    )
    # a pair sharing >1 probed cell is emitted once per shared
    # cell; dedup is output-sized. max-agg rather than distinct:
    # the two emissions compute the dot in different GEMM shapes
    # (different cell matrices / chunk offsets), and BLAS
    # accumulation order is not guaranteed identical across
    # shapes — a dot landing exactly on a 4dp rounding boundary
    # could round differently per cell, and distinct() would
    # then keep BOTH rows for one pair
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("cosine").alias("cosine")
    )


def matryoshka_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    trunc_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Matryoshka truncation audit — recall@k of TRUNCATED-dimension
    retrieval against full-dimension exact top-k. The measurement
    behind MRL-style deployments (Kusupati et al. 2022): serve the
    first ``trunc_dim`` components (4× less memory/bandwidth at
    trunc 16 of 64) and pay a measured, not guessed, recall cost.

    Per query: (query_id, recall_at_k, full_mean_cosine,
    trunc_mean_cosine) — the cosine means show HOW wrong the
    truncated ranking is, not just how often.

    Both legs are brute_force_topk (broadcast queries, zero corpus
    shuffle, WindowGroupLimit top-k); truncation is a pure
    F.slice projection, so the corpus is scanned once per leg and
    the report joins two |Q|·k ranked lists.
    """
    full = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    tcorpus = corpus.withColumn(
        vec_col, F.slice(F.col(vec_col), 1, trunc_dim)
    )
    tqueries = queries.withColumn(
        vec_col, F.slice(F.col(vec_col), 1, trunc_dim)
    )
    trunc = brute_force_topk(
        tcorpus, tqueries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    hits = (
        full.select(query_id_col, id_col)
        .join(trunc.select(query_id_col, id_col), [query_id_col, id_col])
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    fstat = full.groupBy(query_id_col).agg(
        F.round(F.avg("cosine"), 6).alias("full_mean_cosine")
    )
    tstat = trunc.groupBy(query_id_col).agg(
        F.round(F.avg("cosine"), 6).alias("trunc_mean_cosine")
    )
    return (
        fstat.join(tstat, query_id_col)
        .join(hits, query_id_col, "left")
        .select(
            query_id_col,
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / float(k), 6
            ).alias(f"recall_at_{k}"),
            "full_mean_cosine",
            "trunc_mean_cosine",
        )
    )
