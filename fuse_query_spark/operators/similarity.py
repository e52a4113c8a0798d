"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single scan with JVM-side
zip_with/aggregate dot products (no UDF, no collect). Scale path:
random-hyperplane LSH — deterministic planes hashed from a seed,
bucket join instead of all-pairs; at 100 TB the bucket key shuffle
replaces the quadratic blowup, and the verify step scans only
colliding pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b) -> F.Column:
    """Zero-norm-safe: a zero vector's cosine is defined as 0.0, not
    0/0 = NaN — Spark sorts NaN ABOVE every real value under desc and
    NaN >= threshold is TRUE, so an unguarded zero embedding would
    dominate every top-k and pair with everything (code-review r8;
    the numpy paths already clamp their norms the same way)."""
    den = norm(a) * norm(b)
    return F.when(den == 0.0, F.lit(0.0)).otherwise(dot(a, b) / den)


def with_double_vec(df: DataFrame, vec_col: str, out_col: str = "_v") -> DataFrame:
    """float32 → float64 once at scan; all downstream math is double."""
    return df.withColumn(out_col, F.col(vec_col).cast("array<double>"))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k by cosine against a literal query vector. The query is a
    constant array (Catalyst folds it); plan = scan → project →
    TakeOrderedAndProject, i.e. per-partition top-k then merge — no
    full sort, no shuffle of the corpus."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    d = with_double_vec(df, vec_col)
    return (
        d.select(id_col, cosine(F.col("_v"), q).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def pairs_above_threshold_blas(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
) -> DataFrame:
    """Blocked pairwise cosine via applyInPandas + numpy BLAS: each
    block (LSH bucket / label) becomes one pandas group; the kernel
    normalizes the block matrix once and takes N @ N.T — one GEMM per
    block instead of per-element interpreted lambdas (Spark higher-
    order functions are not codegen'd; measured ~6x faster at sf0.1).

    At 100 TB the block is the unit of memory: keep blocks ≤ ~100k
    vectors (LSH bucket sizing), which bounds the per-task matrix."""
    import numpy as np
    import pandas as pd

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0] = 1.0
        nm = m / norms[:, None]
        sims = nm @ nm.T
        ia, ib = np.triu_indices(len(ids), k=1)
        s = sims[ia, ib]  # gather once — the O(pairs) fancy-index is
        # the per-block hot path; doing it twice doubled a multi-GB
        # temporary at the documented 100k-vector block size
        keep = s >= threshold
        a, b = ids[ia[keep]], ids[ib[keep]]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame({"id_a": a2, "id_b": b2, "cos_sim": s[keep]})

    return df.select(id_col, vec_col, block_col).groupBy(block_col).applyInPandas(
        _block_pairs, "id_a LONG, id_b LONG, cos_sim DOUBLE"
    )


def pairs_above_threshold(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold. With block_col, the self-join
    keys on the block (e.g. an LSH bucket or label) — the honest scale
    form. Without, it is the exact quadratic reference implementation
    for small candidate sets / tests."""
    d = with_double_vec(df, vec_col).select(
        F.col(id_col).alias("id"), F.col("_v").alias("v"), *( [F.col(block_col).alias("blk")] if block_col else [])
    )
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        # eqNullSafe: the BLAS twin groups NULL blocks together and
        # emits their pairs; plain == would silently drop them here
        # and the two variants would disagree (code-review r8)
        cond = cond & F.col("a.blk").eqNullSafe(F.col("b.blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy dependency in
    the executor path — generated driver-side, folded as literals).
    Uses a splitmix64-style hash so planes are reproducible across
    sessions and languages."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            x = (seed * 0x9E3779B97F4A7C15 + p * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 30
            x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 27
            x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 31
            # map to (-1, 1); uniform is fine for sign-LSH
            row.append((x / 2**63) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = 12, seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH bucket id: bit i = sign(v · plane_i). Adds column
    `bucket` (int). Cosine-similar vectors collide with probability
    (1 - θ/π)^n_planes. Pass `dim` when known (knn_lsh does) to skip
    the dimension-probe job; an empty input returns an empty bucketed
    frame instead of crashing on first()=None (code-review r8)."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("n")).first()
        if first is None or first["n"] is None:
            return df.withColumn("bucket", F.lit(None).cast("long"))
        dim = first["n"]
    planes = _hyperplanes(dim, n_planes, seed)
    d = with_double_vec(df, vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(F.col("_v"), p) > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        bucket = bucket + bit
    return d.withColumn("bucket", bucket).drop("_v")


def _assign_cells(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment by cosine via one numpy GEMM per
    Arrow batch (mapInPandas). numpy argmax takes the FIRST maximum, so
    ties resolve to the lowest centroid index — the same rule a SQL
    mirror expresses as ORDER BY cos DESC, idx ASC."""
    import numpy as np

    c = np.array(centroids, dtype="float64")
    c_norm = c / np.maximum(np.sqrt((c * c).sum(axis=1))[:, None], 1e-12)

    out_schema = df.schema.simpleString()[7:-1] + ",cell INT"  # struct<...> → ...

    def _assign(batches):
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            mn = m / np.maximum(np.sqrt((m * m).sum(axis=1))[:, None], 1e-12)
            cells = (mn @ c_norm.T).argmax(axis=1).astype("int32")
            out = pdf.copy()
            out["cell"] = cells
            yield out

    return df.mapInPandas(_assign, out_schema)


def ivf_assign(
    df: DataFrame,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic centroid choice (the k_cells
    vectors with the smallest xxhash64(id) — a reproducible uniform
    sample), then every vector is assigned to its nearest centroid by
    cosine (see _assign_cells).

    Returns (assigned_df with a `cell` column, centroids). A Lloyd
    refinement loop would re-run the same GEMM against means-per-cell;
    the seed-sample quantizer is the dependency-free baseline and is
    already effective for multi-probe ANN."""
    seeds = (
        df.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(id_col))
        .orderBy("_h")
        .limit(k_cells)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]
    return _assign_cells(df, centroids, vec_col), centroids


def _md5_seed_centroids(
    df: DataFrame, k_cells: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """Deterministic engine-portable centroid seeds: the k_cells
    vectors with the smallest (md5(CAST(id AS VARCHAR)), id). Single
    source of truth — knn_ivf_lloyd, ivf_assign_md5 and the persisted
    index all seed HERE, so their bit-equality (tested) cannot drift."""
    seeds = (
        df.select(id_col, vec_col)
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k_cells)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in seeds]


def _rank_probe_cells(centroids, query_vec, n_probe: int) -> list[int]:
    """Cells ordered by centroid cosine to the query (driver-side
    numpy over k_cells rows), deterministic tie-break on cell id."""
    import numpy as np

    c = np.array(centroids, dtype="float64")
    c_norm = c / np.maximum(np.sqrt((c * c).sum(axis=1))[:, None], 1e-12)
    q = np.array(query_vec, dtype="float64")
    qn = q / max(float(np.sqrt((q * q).sum())), 1e-12)
    sims = c_norm @ qn
    return sorted(range(len(centroids)), key=lambda i: (-sims[i], i))[:n_probe]


def ivf_assign_md5(
    df: DataFrame,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Engine-portable IVF quantizer: centroids = the k_cells vectors
    with the smallest (md5(CAST(id AS STRING)), id) — the same uniform
    sample any SQL engine can reproduce; centroid index = that sort
    order. Used by the fully oracle-checked IVF variant."""
    centroids = _md5_seed_centroids(df, k_cells, vec_col, id_col)
    return _assign_cells(df, centroids, vec_col), centroids


def knn_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    k_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k via IVF: probe the n_probe cells whose centroids are
    closest to the query, exact cosine within the probed cells
    (~n_probe/k_cells of the corpus scanned)."""
    import numpy as np

    assigned, centroids = ivf_assign(df, k_cells, vec_col, id_col)
    # shared probe ranking ((-cos, idx) — ties break to the LOWEST
    # cell, deterministically): the inline argsort()[::-1] this
    # replaced broke ties to the HIGHEST cell and depended on numpy's
    # non-stable sort (code-review r8)
    probe_cells = _rank_probe_cells(centroids, query_vec, n_probe)
    cands = assigned.filter(F.col("cell").isin(probe_cells))
    return brute_force_topk(cands, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def ivf_lloyd_refine(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of an IVF quantizer: re-assign, take per-cell
    means, repeat. The mean is computed JVM-side — posexplode of the
    vector to (cell, dim, value) rows feeds a groupBy(cell, dim) avg
    whose map-side partial aggregation collapses every partition to at
    most k_cells x dim rows before the exchange, so the shuffle volume
    is independent of corpus size; only the k_cells x dim means reach
    the driver. Empty cells keep their previous centroid."""
    for _ in range(iters):
        assigned = _assign_cells(df.select(vec_col), centroids, vec_col)
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col).cast("array<double>")))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        for r in means:
            new_c[r["cell"]][r["pos"]] = r["m"]
        centroids = new_c
    return centroids


def knn_ivf_lloyd(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    k_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """knn_ivf with Lloyd-refined centroids: seed from the md5 uniform
    sample, run `iters` refinement rounds, then probe as usual. Tighter
    cells raise recall at the same n_probe (asserted vs the seed-only
    quantizer in tests)."""
    centroids = _md5_seed_centroids(df, k_cells, vec_col, id_col)
    centroids = ivf_lloyd_refine(df, centroids, iters, vec_col)
    assigned = _assign_cells(df, centroids, vec_col)
    probe_cells = _rank_probe_cells(centroids, query_vec, n_probe)
    cands = assigned.filter(F.col("cell").isin(probe_cells))
    return brute_force_topk(cands, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def knn_ivf_md5(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    k_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """knn_ivf with the portable md5 quantizer. Probe choice uses the
    shared _rank_probe_cells ordering ((-cos, idx) — ties break to the
    lowest centroid index, matching a SQL ORDER BY cos DESC, idx)."""
    assigned, centroids = ivf_assign_md5(df, k_cells, vec_col, id_col)
    probe_cells = _rank_probe_cells(centroids, query_vec, n_probe)
    cands = assigned.filter(F.col("cell").isin(probe_cells))
    return brute_force_topk(cands, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def knn_lsh(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket plus all buckets within
    `max_probe_hamming` bit flips (multi-probe), then exact cosine
    within candidates.

    Recall is similarity-dependent by construction: P(bit agree) =
    1 - θ/π, so near-duplicates (cos ≥ 0.9) are recovered with ~0.96
    probability at 8 planes / Hamming≤2, while low-similarity
    "neighbours" (cos ≈ 0.3) are fundamentally hard for sign-LSH —
    raise max_probe_hamming or lower n_planes for such workloads."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    qbits = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbits |= 1 << i
    probes = [qbits]
    if max_probe_hamming >= 1:
        probes += [qbits ^ (1 << i) for i in range(n_planes)]
    if max_probe_hamming >= 2:
        probes += [
            qbits ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    bucketed = lsh_bucket(df, vec_col, n_planes, seed, dim=len(query_vec))
    cands = bucketed.filter(F.col("bucket").isin(probes))
    # exact re-rank within candidates IS brute_force_topk — delegate so
    # tie-break/NaN fixes live in one place (code-review r8)
    return brute_force_topk(cands, query_vec, vec_col=vec_col, id_col=id_col, k=k)


def quantize_int8(df, vec_col: str = "embedding", id_col: str = "vec_id"):
    """CONTRACT NOTE (code-review r8): all-zero/null vectors have
    scale=0 and produce NO output row — a caller auditing coverage
    must anti-join against the input to find them.

    Symmetric per-vector int8 quantization of an embedding column —
    the storage/serving format every large retrieval corpus ends up in
    (4x smaller than float32, SIMD-dot-product-friendly). scale =
    max|x|/127; q_i = floor(x_i/scale + 0.5) in [-127, 127] (explicit
    floor(+0.5) rounding so Spark and any re-implementation round ties
    identically); emits per-vector quantization diagnostics rather
    than the (huge) quantized payload: the quantized checksum, the max
    absolute dequantization error, and the count of saturated lanes.
    All math is promoted to double BEFORE the reduce so results are
    IEEE-identical across engines and partitionings. Narrow
    projection, no shuffle — embarrassingly parallel at any scale."""
    from pyspark.sql import functions as F

    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xs, lambda x: F.abs(x))) / F.lit(127.0)
    return (
        df.select(F.col(id_col), xs.alias("_xs"), scale.alias("_scale"))
        .filter(F.col("_scale") > 0)
        .withColumn("_q", F.transform(F.col("_xs"), lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / F.col("_scale") + F.lit(0.5)))
        )))
        .select(
            id_col,
            F.round(F.col("_scale"), 9).alias("scale_r9"),
            F.aggregate(F.col("_q"), F.lit(0.0), lambda a, x: a + x).cast("bigint").alias("q_sum"),
            F.aggregate(
                F.transform(F.col("_q"), lambda x: F.when(F.abs(x) >= 127.0, 1.0).otherwise(0.0)),
                F.lit(0.0), lambda a, x: a + x,
            ).cast("bigint").alias("n_saturated"),
            F.round(
                F.array_max(
                    F.zip_with(F.col("_xs"), F.col("_q"), lambda x, qi: F.abs(x - qi * F.col("_scale")))
                ), 9,
            ).alias("max_err_r9"),
        )
    )


def ivf_index_write(
    df: DataFrame,
    path: str,
    k_cells: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Persist an IVF index: build Lloyd-refined centroids (md5-seeded,
    fully deterministic), then write

      path/centroids/   (cell, centroid array<double>) — k_cells rows
      path/vectors/     the corpus + its cell, PARTITIONED BY cell

    The cell-partitioned layout is the point: probing becomes
    partition PRUNING. A search that probes n_probe of k_cells cells
    plans a scan whose PartitionFilters keep only those directories —
    at 100 TB the index build is one shuffle paid once, and every
    query thereafter reads ~n_probe/k_cells of the files with no
    filter evaluation at all. This is the batch-engine equivalent of
    an ANN index file: same recall/probe trade-off, served by the
    scan planner instead of a bespoke index reader."""
    from fuse_query_spark.sources.sinks import write_partitioned

    centroids = _md5_seed_centroids(df, k_cells, vec_col, id_col)
    centroids = ivf_lloyd_refine(df, centroids, iters, vec_col)
    assigned = _assign_cells(df, centroids, vec_col)
    # STATIC overwrite: an index rebuild must drop cells that received
    # no vectors this time — dynamic overwrite would leave last
    # build's cell directory in place, silently serving stale rows
    write_partitioned(
        assigned, f"{path}/vectors", partition_by=("cell",), overwrite_mode="static"
    )
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell INT, centroid ARRAY<DOUBLE>"
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def ivf_index_search(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a persisted IVF index: rank cells by centroid cosine
    (k_cells rows — driver-side numpy), then exact top-k inside the
    probed cells. The cell predicate prunes partitions at planning
    time (gated in tests): only the probed directories are listed."""
    crows = spark.read.parquet(f"{path}/centroids").collect()
    by_cell = {r["cell"]: r["centroid"] for r in crows}
    centroids = [by_cell[i] for i in sorted(by_cell)]
    probe_cells = _rank_probe_cells(centroids, query_vec, n_probe)
    vectors = spark.read.parquet(f"{path}/vectors").filter(F.col("cell").isin(probe_cells))
    return brute_force_topk(vectors, query_vec, vec_col=vec_col, id_col=id_col, k=k)


# --- Random projection (r5) ---------------------------------------------


def _rademacher_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 sign matrix from md5 parity — the Achlioptas
    (2003) sign random projection, JL-valid with the same distance
    guarantees as Gaussian. Constants are folded into the plan (and
    into the DuckDB oracle) exactly like the LSH hyperplanes."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: out[j] =
    (1/sqrt(out_dim)) * sum_i(+-vec[i]) with deterministic Rademacher
    signs — the cheap pre-step that shrinks ANN/cluster work by
    in_dim/out_dim while preserving pairwise distances within
    ~1/sqrt(out_dim). Pure Column arithmetic, scan-side, no shuffle,
    no UDF; each output is a fixed left-associated sum so the result
    is BIT-EXACT against any engine that evaluates the same formula
    (and 1/sqrt(16)=0.25 is an exact power of two).

    Returns the input's id column plus proj0..proj{out_dim-1}."""
    import os

    if not os.environ.get("FQ_RP_ARROW_DISABLE"):
        return _random_projection_arrow(df, in_dim, out_dim, vec_col, id_col)
    signs = _rademacher_signs(in_dim, out_dim)
    scale = 1.0 / (out_dim**0.5)
    # zip_with + aggregate compiles to a loop (small codegen) instead of
    # a 1024-node expression tree (18 s of compile); the fold keeps the
    # same left-associated sum order, and x*(+-1.0) is exact, so the
    # result stays bit-identical to the unrolled form.
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = []
    for j in range(out_dim):
        sgn = F.array(*[F.lit(float(signs[i][j])) for i in range(in_dim)])
        acc = F.aggregate(
            F.zip_with(vec_d, sgn, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append((acc * F.lit(scale)).alias(f"proj{j}"))
    return df.select(id_col, *cols)


def _random_projection_arrow(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """random_projection's Arrow/NumPy body (guide §4.2): the JVM
    Column form above is PLANNING-bound, not data-bound — 16
    aggregate/zip_with lambdas over a 64-literal sign array put ~1k
    nodes through Catalyst on every run, which costs ~1 s per
    invocation while the actual math on the sf0.1 corpus (2k rows x
    1024 flops) is microseconds. One mapInArrow stage with a trivial
    plan does the same fold in NumPy.

    BIT-exactness contract (the oracle hashes doubles exactly): the
    accumulation is an explicit per-input-index loop — acc starts at
    0.0 and adds v[i]*s[i] in index order, float64 throughout — i.e.
    the SAME left-associated sum the JVM fold and the DuckDB oracle
    expression evaluate; x*(+-1.0) and the final power-of-two scale
    multiply are exact, and float32->float64 widening is exact.
    NULL semantics mirror zip_with/aggregate: any row whose vector is
    NULL, has length != in_dim, or contains a NULL element projects to
    all-NULL (the JVM fold yields NULL for exactly those rows).
    FQ_RP_ARROW_DISABLE=1 restores the JVM Column path (measurement
    kill-switch, same class as FQ_SPREAD_DISABLE)."""
    import numpy as np

    signs = _rademacher_signs(in_dim, out_dim)
    sign_rows = np.array(signs, dtype=np.float64)  # (in_dim, out_dim)
    scale = np.float64(1.0 / (out_dim**0.5))
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, " + ", ".join(
        f"proj{j} double" for j in range(out_dim)
    )
    narrow = df.select(id_col, vec_col)

    def project(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            vec = batch.column(1)
            n = batch.num_rows
            if n == 0:
                continue
            flat = vec.flatten()
            offs = np.asarray(vec.offsets)
            lens = np.diff(offs)
            clean = (
                vec.null_count == 0
                and flat.null_count == 0
                and bool((lens == in_dim).all())
            )
            out = np.zeros((n, out_dim), dtype=np.float64)
            if clean:
                vals = flat.to_numpy(zero_copy_only=False).astype(np.float64)
                mat = vals.reshape(n, in_dim)
                # index-order accumulation == the JVM/oracle fold
                for i in range(in_dim):
                    out += mat[:, i : i + 1] * sign_rows[i]
                out *= scale
                cols = [pa.array(out[:, j], type=pa.float64()) for j in range(out_dim)]
            else:
                valid = np.zeros(n, dtype=bool)
                rows = vec.to_pylist()
                for r, v in enumerate(rows):
                    if v is None or len(v) != in_dim or any(x is None for x in v):
                        continue
                    valid[r] = True
                    acc = np.zeros(out_dim, dtype=np.float64)
                    for i, x in enumerate(v):
                        acc += np.float64(np.float32(x)) * sign_rows[i]
                    out[r] = acc * scale
                cols = [
                    pa.array(
                        [out[r, j] if valid[r] else None for r in range(n)],
                        type=pa.float64(),
                    )
                    for j in range(out_dim)
                ]
            yield pa.RecordBatch.from_arrays([ids] + cols, schema=_rp_arrow_schema(ids.type, id_col, out_dim))

    return narrow.mapInArrow(project, out_schema)


def _rp_arrow_schema(id_type, id_col: str, out_dim: int):
    import pyarrow as pa

    return pa.schema(
        [pa.field(id_col, id_type)] + [pa.field(f"proj{j}", pa.float64()) for j in range(out_dim)]
    )


# --- Semantic dedup + product quantization (r5, late) --------------------


def semantic_dedup_cells(
    df: DataFrame,
    threshold: float = 0.35,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: cluster
    the corpus with the portable md5-seeded quantizer (ivf_assign_md5),
    then inside each cell drop every vector that has a lower-id
    neighbour at cosine >= threshold (greedy keep-first). The cell is
    the blocking unit — pair generation is one BLAS GEMM per cell
    (pairs_above_threshold_blas), so total work is O(sum cell^2)
    instead of O(n^2); at 100 TB the cell count scales with the corpus
    (k_cells ~ n / desired_cell_size) keeping per-task matrices
    bounded, and the only shuffles are the groupBy(cell) for the GEMM
    and the left-anti join on id. Cross-cell near-dups are the
    accepted recall loss of the method (same trade as the paper).

    Returns the survivors as (id_col, cell)."""
    assigned, _ = ivf_assign_md5(df, k_cells, vec_col, id_col)
    dups = (
        pairs_above_threshold_blas(
            assigned, threshold, vec_col=vec_col, id_col=id_col, block_col="cell"
        )
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return (
        assigned.join(dups, F.col(id_col) == F.col("dup_id"), "left_anti")
        .select(id_col, "cell")
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    vector into m contiguous subspaces; subspace j's codebook is the
    j-th subvector of each of the k_codes md5-seeded sample vectors
    (_md5_seed_centroids — the same engine-portable uniform sample the
    IVF quantizer uses, so any SQL engine reproduces the codebooks
    exactly). Returns [m][k_codes][dim/m] doubles; k_codes rows reach
    the driver — independent of corpus size."""
    seeds = _md5_seed_centroids(df, k_codes, vec_col, id_col)
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[s[j * sub : (j + 1) * sub] for s in seeds] for j in range(m)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector to m uint8 codes: per subspace, the index of
    the codebook entry with the smallest squared L2 distance (ties to
    the lowest index — numpy argmin rule = ORDER BY dist, idx). One
    Arrow batch at a time through mapInPandas; the codebooks ride into
    the closure (m*k_codes*sub doubles — trivially broadcastable).
    Output is (id, codes array<int>): a 64-dim float32 vector becomes
    m bytes — a 32x storage cut, and the format ADC search scans.
    Embarrassingly parallel, no shuffle."""
    import numpy as np
    import pandas as pd

    cbs = [np.array(cb, dtype="float64") for cb in codebooks]
    m = len(cbs)
    sub = cbs[0].shape[1]

    def _enc(batches):
        for pdf in batches:
            x = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            codes = np.empty((len(pdf), m), dtype="int32")
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = ((xs[:, None, :] - cbs[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(_enc, f"{id_col} LONG, codes ARRAY<INT>")


def knn_pq_adc(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance-computation ANN over PQ codes: the query
    stays un-quantized; dist(v) ~= sum_j ||q_j - codebook_j[code_j]||^2.
    The m x k_codes distance table is computed driver-side and folded
    into the plan as literals, so the scan does m array lookups + a
    fixed left-associated sum per row — pure codegen'd Column math over
    the m-byte codes, never touching the original vectors. At 100 TB
    this reads ~3% of the bytes of a float32 brute-force scan and ends
    in TakeOrderedAndProject; combine with the IVF cell layout
    (ivf_index_write) for probe-pruned IVFADC."""
    import numpy as np

    q = np.array(query_vec, dtype="float64")
    m = len(codebooks)
    sub = len(codebooks[0][0])
    dist_table = []
    for j in range(m):
        c = np.array(codebooks[j], dtype="float64")
        qj = q[j * sub : (j + 1) * sub]
        dist_table.append([float(v) for v in ((c - qj[None, :]) ** 2).sum(axis=1)])
    tbl = F.array(*[F.array(*[F.lit(v) for v in row]) for row in dist_table])
    dist = F.lit(0.0)
    for j in range(m):
        dist = dist + F.element_at(F.element_at(tbl, j + 1), F.col("codes")[j] + 1)
    return (
        codes_df.withColumn("_adc", dist)
        .orderBy(F.asc("_adc"), F.asc(id_col))
        .limit(k)
    )


def pq_codebooks_lloyd(
    df: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """PQ codebook training: per-subspace Lloyd refinement of the
    md5-seeded codebooks (the classical PQ training loop, Jégou et al.
    2011 §III). Each iteration: encode the corpus against the current
    codebooks (pq_encode — one Arrow pass), then per-(subspace, code,
    dim) means JVM-side: posexplode the vector to (pos, val), derive
    (subspace, dim) = divmod(pos, sub), pick the row's code for that
    subspace, and groupBy(j, code, dim).avg — map-side partial
    aggregation collapses every partition to at most m*k_codes*sub
    rows before the exchange, so shuffle volume is independent of
    corpus size; only m*k_codes*sub means reach the driver. Empty
    codes keep their previous centroid. Quantization MSE is
    non-increasing per Lloyd step (asserted in tests)."""
    cbs = pq_codebooks(df, m, k_codes, vec_col, id_col)
    sub = len(cbs[0][0])
    base = df.select(id_col, vec_col)
    for _ in range(iters):
        codes = pq_encode(base, cbs, vec_col=vec_col, id_col=id_col)
        exploded = base.select(
            F.col(id_col),
            F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
        ).select(
            id_col,
            (F.col("pos") / sub).cast("int").alias("j"),
            (F.col("pos") % sub).alias("dim"),
            F.col("col").alias("val"),
        )
        means = (
            exploded.join(codes, id_col)
            .select(
                "j",
                "dim",
                "val",
                F.element_at(F.col("codes"), F.col("j") + 1).alias("code"),
            )
            .groupBy("j", "code", "dim")
            .agg(F.avg("val").alias("mu"))
            .collect()
        )
        new = [[list(c) for c in cb] for cb in cbs]
        for r in means:
            new[r["j"]][r["code"]][r["dim"]] = r["mu"]
        cbs = new
    return cbs


def knn_pq_adc_rerank(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN: ADC over PQ codes produces a `shortlist`-sized
    candidate set (scanning only the m-byte codes), then ONLY those
    rows are re-ranked by exact squared L2 against the full vectors —
    the IVFADC-with-refinement shape every production ANN system uses.
    The shortlist ids come back to the driver (bounded by `shortlist`)
    and re-entry is an isin-pruned scan + TakeOrderedAndProject, so
    full-precision vectors are read for ~shortlist rows regardless of
    corpus size. Exactness: with shortlist >= corpus this IS exact
    brute-force L2 (property-tested)."""
    codes = pq_encode(df, codebooks, vec_col=vec_col, id_col=id_col)
    short = [
        r[id_col]
        for r in knn_pq_adc(codes, codebooks, query_vec, k=shortlist, id_col=id_col)
        .select(id_col)
        .collect()
    ]
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            qarr,
            lambda x, qx: (x - qx) * (x - qx),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        df.filter(F.col(id_col).isin(short))
        .withColumn("_d2", d2)
        .orderBy(F.asc("_d2"), F.asc(id_col))
        .limit(k)
    )
