"""Similarity search over embedding columns (extension X2 made first-class).

The reference documents (but does not ship) an /images/search top-K endpoint
(README.md:319-345). Here search is an operator family designed for the
100 TB shape: a brute-force scan baseline plus two sublinear-scan paths
whose *pruning structure* lives in the data layout (bucket/cluster columns
you can partition or Z-order by), not in driver-side logic.

  topk_cosine        brute force: scan + TakeOrderedAndProject. The correct
                     baseline and the recall oracle for the ANN paths.
  random hyperplane  deterministic LSH bit-bucket per vector; queries probe
  LSH                only their own bucket (+ optional multi-probe). The
                     hyperplanes are derived from the deterministic
                     embedding generator, so plans are reproducible and the
                     bucket assignment is oracle-checkable SQL.
  IVF                k centroids (deterministic sample); vectors carry their
                     nearest-centroid id; a query scans only nprobe nearest
                     clusters. Centroids broadcast; assignment is one pass.

All scoring is the sequential-fold dot/cosine from functions/vector.py —
JVM expressions, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectorflow_spark.embed.backends import deterministic_embedding
from vectorflow_spark.functions.vector import _ident, dot, dot_sql, l2_norm


def _const_vec_sql(vals: list[float]) -> str | None:
    """SQL text of a literal double array, or None when a value is
    non-finite (the caller falls back to the F.lit path). repr() is the
    shortest round-trip decimal and Double.parseDouble returns the
    identical bits, verified against extremes incl. subnormals (r11)."""
    import math

    if not all(math.isfinite(float(v)) for v in vals):
        return None
    return "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"


def _const_vec(vals: list[float]) -> Column:
    """Literal double array built as ONE parsed SQL expression, not one
    py4j round-trip per element: the IVF/PQ queries inline hundreds of
    centroid/codebook vectors as literals, and at ~0.3 ms per py4j call
    the F.array([F.lit(v), ...]) form charged 1-2 s of pure DRIVER time
    to every PQ gate's construction (r11 optimization: 43 ms -> 0.6 ms
    per 64-dim vector, q_ivfpq_search construct 1.9 -> 0.3 s)."""
    text = _const_vec_sql(vals)
    if text is None:
        return F.array([F.lit(float(v)) for v in vals])
    return F.expr(text)


def _dlit_sql(v: float) -> str | None:
    """SQL text of one exact double literal (None when non-finite) —
    Double.parseDouble(repr(v)) returns the identical bits (r11)."""
    import math

    v = float(v)
    return f"CAST('{v!r}' AS DOUBLE)" if math.isfinite(v) else None


def _py_norm(vals: list[float]) -> float:
    """Left-to-right sequential fold, matching the SQL aggregate() order so
    the precomputed literal is bit-identical to what the expression would
    have produced."""
    acc = 0.0
    for v in vals:
        acc += float(v) * float(v)
    return acc**0.5


def topk_cosine(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-K: one scan, partial top-K per partition
    (TakeOrderedAndProject), no full sort. Deterministic tiebreak on id.

    The query-side norm is folded to a literal driver-side — higher-order-
    function expressions are not constant-foldable, so leaving it as an
    expression would re-fold the 64-literal array once per row."""
    qn = _py_norm(query)
    base = vectors.select(id_col, F.col(vec_col).alias("_v"), l2_norm(vec_col).alias("_vn"))
    denom = F.col("_vn") * F.lit(qn)
    qtext = _const_vec_sql(query)
    qdot = (
        F.expr(dot_sql("`_v`", qtext)) if qtext is not None else dot("_v", _const_vec(query))
    )
    scored = base.select(
        id_col,
        F.round(F.when(denom != 0.0, qdot / denom), 9).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (from the E3 generator)."""
    return [deterministic_embedding(f"hyperplane-{i}", dim) for i in range(n_planes)]


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i set iff dot(v, plane_i) > 0. Pure fold
    expressions -> identical in DuckDB for the oracle.

    Built as ONE parsed SQL expression: the DSL form paid ~2 py4j-heavy
    higher-order-function builds per plane (~0.4-0.5 s of driver time per
    call at 8 planes, r12 measured); the parsed tree is the same
    CASE-over-fold chain with identical integer addition."""
    texts = [_const_vec_sql(p) for p in planes]
    if any(t is None for t in texts):  # non-finite plane: DSL fallback
        bucket = F.lit(0).cast("bigint")
        for i, p in enumerate(planes):
            bit = F.when(dot(F.col(vec_col), _const_vec(p)) > 0.0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            bucket = bucket + bit
        return bucket
    terms = " + ".join(
        f"(CASE WHEN {dot_sql(_ident(vec_col), t)} > CAST(0.0 AS DOUBLE) "
        f"THEN {1 << i} ELSE 0 END)"
        for i, t in enumerate(texts)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {terms}")


def with_lsh_buckets(
    vectors: DataFrame, dim: int, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the LSH bucket column — at scale, write partitioned by it so a
    probe prunes partitions at the scan."""
    return vectors.withColumn("bucket", lsh_bucket_expr(vec_col, hyperplanes(dim, n_planes)))


def lsh_topk_cosine(
    vectors_with_buckets: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN search: score only vectors whose bucket is within
    ``multiprobe_hamming`` bit-flips of the query's bucket. With buckets as
    a partition column this is a partition-pruned scan of ~(1+planes)/2^planes
    of the data."""
    planes = hyperplanes(len(query), n_planes)
    qbucket = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) > 0.0:
            qbucket |= 1 << i
    probes = [qbucket]
    if multiprobe_hamming >= 1:
        probes += [qbucket ^ (1 << i) for i in range(n_planes)]
    cand = vectors_with_buckets.filter(F.col("bucket").isin(probes))
    return topk_cosine(cand, query, k, id_col, vec_col)


def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lowest_id",
    seed: int = 7,
    max_iter: int = 5,
) -> list[tuple[int, list[float]]]:
    """IVF centroid seeding, two strategies behind one flag:

    ``lowest_id`` (default): the n lowest-id vectors — fully deterministic
    and oracle-checkable (the same rows are selectable in SQL), which is
    what the hash-matched q_ivf_* queries need. Quality is whatever the
    data order gives you; fine for tests and reproducible plans.

    ``kmeans``: real k-means|| initialization + Lloyd refinement via
    pyspark.ml.clustering.KMeans — the scale path for an actual index
    build (distributed, O(iter) passes, no driver-side data). Fixed seed
    keeps it reproducible run-to-run, but centers depend on partitioning
    internals, so queries built on it are rows-only, not hash-matched.
    Either way the collect is k centroid VECTORS (k*dim floats), never
    data rows."""
    if method == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = vectors.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
        ).fit(feat)
        return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    rows = vectors.orderBy(id_col).limit(n_centroids).collect()
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


def ivf_assign(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach nearest-centroid id (max cosine, tiebreak lowest id)
    as one expression: an array of C cosine scores + array_position of the
    max — every score subexpression appears exactly once (a nested
    when/otherwise fold would duplicate the tree 2^C times), no shuffle,
    centroid constants inlined as literals in the plan. The vector's own
    norm is computed once (not once per centroid) and every centroid norm
    is a driver-side literal."""
    # one transform lambda over a literal (centroid, norm) struct array
    # instead of C sibling score expressions — same no-2^C shape, but the
    # dot fold and guard exist ONCE in the plan (see pq_encode: interpreted
    # HOFs get no CSE across siblings; measured ~3x on the PQ twin).
    # The whole scores/cluster expression is built as ONE parsed SQL text
    # (r12): the DSL form paid ~40 py4j round-trips per call (~0.3 s of
    # driver time, C _const_vec parses + struct/transform/when/dot lambda
    # plumbing); the parsed tree is the same CaseWhen-over-ZipWith fold
    # with the same casts and fold order, so scores are bit-identical.
    cent_sqls = [_const_vec_sql(cvec) for _, cvec in centroids]
    norm_sqls = [_dlit_sql(_py_norm(cvec)) for _, cvec in centroids]
    if all(s is not None for s in cent_sqls) and all(s is not None for s in norm_sqls):
        lit_cents_sql = "array(" + ",".join(
            f"named_struct('v', {v}, 'n', {n})" for v, n in zip(cent_sqls, norm_sqls)
        ) + ")"
        score_body = (
            "CASE WHEN (NOT ((`_vn` * c.n) = CAST(0.0 AS DOUBLE))) THEN ("
            + dot_sql(_ident(vec_col), "c.v")
            + " / (`_vn` * c.n)) END"
        )
        scores_sql = f"transform({lit_cents_sql}, c -> {score_body})"
        cluster = F.expr(
            f"CAST((array_position({scores_sql}, array_max({scores_sql})) - 1) AS INT)"
        )
    else:  # non-finite centroid data: keep the py4j-built fallback
        vn = F.col("_vn")
        lit_cents = F.array(
            *[
                F.struct(_const_vec(cvec).alias("v"), F.lit(_py_norm(cvec)).alias("n"))
                for _, cvec in centroids
            ]
        )
        scores = F.transform(
            lit_cents,
            lambda c: F.when(
                vn * c["n"] != 0.0,
                dot(F.col(vec_col), c["v"]) / (vn * c["n"]),
            ),
        )
        cluster = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return (
        vectors.withColumn("_vn", l2_norm(vec_col))
        .withColumn("cluster", cluster)
        .drop("_vn")
    )


def ivf_topk_cosine(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search only the nprobe clusters whose centroids are nearest the
    query. With ``cluster`` as a partition column, non-probed clusters are
    pruned at the scan."""

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        # round like the scored path (9 dp) so probe selection is
        # reproducible across engines; tiebreak on centroid id
        return round(num / (na * nb), 9) if na and nb else 0.0

    probe = sorted(centroids, key=lambda c: (-cos(c[1], query), c[0]))[:nprobe]
    cand = assigned.filter(F.col("cluster").isin([c[0] for c in probe]))
    return topk_cosine(cand, query, k, id_col, vec_col)


def kmeans_update(
    assigned: DataFrame,
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """One k-means centroid-update step over assigned vectors: per
    (cluster, dimension) mean. This is the iterative building block an IVF
    index build loops (assign -> update) until convergence.

    Plan at scale: posexplode is a projection (rows x dims, no shuffle),
    then ONE map-side-combinable aggregation shuffled on (cluster, dim) —
    64 dims x k clusters of partial sums per map task, regardless of input
    size. Values are quantized to 1e-6 on the way in (floor(v*1e6 + 0.5) —
    identical half-up rounding on every engine) so the per-group sum is
    exact integer arithmetic: the mean is order-independent and
    hash-matches the oracle, where a raw float sum would drift with
    aggregation order. The mean itself is NOT re-rounded: int/int/int in
    IEEE double is correctly-rounded and therefore bit-identical on every
    engine, whereas a decimal round of a value sitting exactly on a
    rounding boundary is implementation-defined."""
    ex = assigned.select("cluster", F.posexplode(vec_col).alias("dim", "val"))
    qv = F.floor(F.col("val").cast("double") * quant + F.lit(0.5)).cast("bigint")
    return (
        ex.select("cluster", "dim", qv.alias("qv"))
        .groupBy("cluster", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.sum("qv") / F.count(F.lit(1)) / quant).alias("mean_val"),
        )
    )


def knn_join(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch k-NN: every query row gets its top-k neighbors. Broadcast the
    (small) query side; rank with a per-query window. The join is a
    broadcast nested loop — the right plan when |queries| << |vectors|.
    Both sides carry their norm as a precomputed column so each of the
    |q| x |v| pairs pays only the dot product."""
    from pyspark.sql import Window

    v = vectors.withColumn("_vn", l2_norm(vec_col))
    qs = queries.withColumn("_qn", l2_norm(q_vec))
    joined = v.crossJoin(F.broadcast(qs))
    denom = F.col("_vn") * F.col("_qn")
    scored = joined.select(
        q_id,
        id_col,
        F.round(F.when(denom != 0.0, dot(vec_col, q_vec) / denom), 9).alias("score"),
    )
    w = Window.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: split the d-dim space into ``m``
    subspaces of d/m dims; each subspace gets ``ksub`` centroid subvectors.
    PQ is the memory-side half of a 100 TB vector index — codes store in
    m bytes instead of d*4 (64-dim float32 -> 8 bytes here, 32x), and ADC
    search scans codes without touching raw vectors.

    Seeding mirrors ``ivf_centroids``'s deterministic ``lowest_id``
    strategy (slices of the ksub lowest-id vectors) so encode/search are
    oracle-checkable SQL; a production build would k-means each subspace
    independently (same ``pyspark.ml`` path as ivf_centroids
    method='kmeans'). The collect is ksub vectors — k*dim floats, never
    data-scale."""
    rows = vectors.orderBy(id_col).limit(ksub).collect()
    dim = len(rows[0][vec_col])
    dsub = dim // m
    full = [[float(x) for x in r[vec_col]] for r in rows]
    return [
        [(j, v[s * dsub : (s + 1) * dsub]) for j, v in enumerate(full)]
        for s in range(m)
    ]


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Attach PQ codes: per subspace, the index of the nearest codebook
    entry by squared L2 (first-minimum tiebreak = lowest code, matching a
    row_number ORDER BY d, code oracle; no intermediate rounding — the
    distance folds are bit-identical on both engines, and dropping the
    per-distance BigDecimal round is ~15% of the encode stage). One pure
    projection — all m*ksub distance subexpressions sit in one codegen'd
    stage as literal-folded arrays (array_position-of-array_min, the same
    no-2^C-blowup shape as ivf_assign), no shuffle, no UDF."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    # ONE lambda over a literal array of centroids, not ksub separate
    # fold expression trees: interpreted HOFs get no CSE, so the ksub
    # sibling expressions each re-evaluated `sub` and re-entered their
    # own interpreter; a single transform evaluates one closure per
    # centroid instead (r11, measured 3x on the encode stage, bit-identical
    # codes). The whole m-subspace codes array is ONE parsed SQL text
    # (r12): the DSL built 3 lambdas per subspace (~0.5-0.7 s of py4j per
    # call); the parsed tree is the same transform/aggregate/zip_with fold
    # with the same casts and fold order, so codes are bit-identical.
    cb_sqls = [[_const_vec_sql(c) for _, c in cb] for cb in codebooks]
    if all(t is not None for row in cb_sqls for t in row):
        code_sqls = []
        for s, row in enumerate(cb_sqls):
            sub_sql = f"slice({_ident(vec_col)}, {s * dsub + 1}, {dsub})"
            dists_sql = (
                "transform(array(" + ",".join(row) + "), c -> "
                f"aggregate(zip_with({sub_sql}, c, "
                "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
            )
            code_sqls.append(
                f"CAST((array_position({dists_sql}, array_min({dists_sql})) - 1) AS INT)"
            )
        codes = F.expr("array(" + ",".join(code_sqls) + ")")
    else:  # non-finite codebook data: keep the py4j-built fallback
        code_cols = []
        for s, cb in enumerate(codebooks):
            sub = F.slice(F.col(vec_col), s * dsub + 1, dsub)
            lit_cb = F.array(*[_const_vec(c) for _, c in cb])
            dists = F.transform(
                lit_cb,
                lambda c: F.aggregate(
                    F.zip_with(
                        sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            )
            code_cols.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
        codes = F.array(*code_cols)
    return vectors.select(id_col, *keep_cols, codes.alias("codes"))


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    quant: int = 10**9,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query-to-centroid
    distance table (m x ksub) is computed DRIVER-side and inlined as
    integer literals; each row's score is m array lookups + a fold — no
    raw vectors touched, no shuffle before the TakeOrderedAndProject.

    Distances are quantized to 1e-9 integers before summing so the
    per-row total is exact integer arithmetic — order-independent and
    bit-stable across engines — with a SINGLE division back to double at
    the end (a float sum of the 8 lookups would be fold-order-sensitive
    in an oracle that sums via a join+GROUP BY instead of a list fold)."""
    import math

    dsub = len(codebooks[0][0][1])
    dt: list[list[int]] = []
    for s, cb in enumerate(codebooks):
        qs = [float(v) for v in query[s * dsub : (s + 1) * dsub]]
        row = []
        for _, c in cb:
            acc = 0.0
            for x, y in zip(qs, c):
                acc += (x - y) * (x - y)
            row.append(int(math.floor(acc * quant + 0.5)))
        dt.append(row)
    # one parsed expression for the whole score — the m x ksub distance
    # table (exact int64 literals) AND the lookup/fold lambdas (r12; the
    # lambda plumbing was 2 more py4j-heavy HOF builds per call). Same
    # tree, same integer arithmetic: bit-stable.
    dt_sql = (
        "array(" + ",".join("array(" + ",".join(f"{int(v)}L" for v in row) + ")" for row in dt) + ")"
    )
    looked_sql = (
        "transform(`codes`, (c, i) -> element_at("
        f"element_at({dt_sql}, CAST((i + 1) AS INT)), CAST((c + 1) AS INT)))"
    )
    qsum_sql = f"aggregate({looked_sql}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    qsum = F.expr(qsum_sql)
    return (
        codes_df.select(id_col, (qsum.cast("double") / F.lit(quant)).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def probe_clusters(
    centroids: list[tuple[int, list[float]]],
    query: list[float],
    nprobe: int,
) -> list[int]:
    """The nprobe centroid ids nearest the query by rounded cosine with a
    lowest-id tiebreak — the same driver-side selection ``ivf_topk_cosine``
    makes, factored out so IVF+PQ can share it. Cost: C small dot products
    on the driver, never data-scale."""

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return round(num / (na * nb), 9) if na and nb else 0.0

    return [c[0] for c in sorted(centroids, key=lambda c: (-cos(c[1], query), c[0]))[:nprobe]]


def ivfpq_search(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ — the production 100 TB vector-index shape (FAISS IVFPQ,
    SPANN-style): coarse quantizer prunes the scan to nprobe clusters,
    product quantizer makes the scanned payload m bytes/vector instead of
    d*4, ADC scores candidates without touching a raw float vector.

    Plan: assignment and encode are both literal-folded projections (one
    pass, no shuffle); the probe filter is ``cluster IN (...)`` — with
    ``cluster`` as a partition/cluster key at scale this prunes at the
    source — and the top-k is a TakeOrderedAndProject over m integer
    lookups per surviving row. In a real deployment assign+encode run once
    at ingest and persist; search touches only the code table."""
    assigned = ivf_assign(vectors, centroids, id_col, vec_col)
    probes = probe_clusters(centroids, query, nprobe)
    # prune BEFORE encoding: only the probed nprobe/C of the vectors pay
    # the m*ksub distance table (in a persisted deployment encode runs once
    # at ingest; in this on-the-fly form the ordering is the difference
    # between encoding 25% and 100% of the corpus per query)
    cand = assigned.filter(F.col("cluster").isin(probes))
    codes = pq_encode(cand, codebooks, id_col, vec_col)
    return pq_adc_topk(codes, codebooks, query, k, id_col)


def projection_planes(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic Johnson-Lindenstrauss projection matrix: ``out_dim``
    rows of uniform[-1,1] entries (variance 1/3) from the E3 generator
    under a dedicated salt, scaled at apply time by sqrt(3/out_dim) so
    squared distances are preserved in expectation."""
    return [deterministic_embedding(f"randproj-{j}", in_dim) for j in range(out_dim)]


def random_projection(
    vectors: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL dimensionality reduction 64 -> 16: one literal-folded projection
    (out_dim sequential-fold dot products per row), no shuffle, no Python.
    The cheap half of embedding-table compression at 100 TB — 4x fewer
    floats per vector with distance distortion bounded by JL — and the
    standard preprocessing before brute-force/IVF at high dim.

    Output is kept as scalar (vec_id, dim_id, value) rows rounded to 9 dp:
    the scale multiplier is the identical double literal in the Spark plan
    and the oracle SQL, so values are bit-reproducible engine-to-engine."""
    scale = (3.0 / out_dim) ** 0.5
    planes = projection_planes(in_dim, out_dim)
    # single transform lambda over the literal plane matrix (see pq_encode:
    # sibling fold expressions pay the interpreter once EACH; one closure
    # evaluated out_dim times doesn't), composed as ONE parsed SQL text
    # (r12) — same tree, same fold order, bit-identical values.
    plane_sqls = [_const_vec_sql(p) for p in planes]
    scale_sql = _dlit_sql(scale)
    if all(t is not None for t in plane_sqls) and scale_sql is not None:
        vals = F.expr(
            "transform(array(" + ",".join(plane_sqls) + "), p -> "
            f"round({dot_sql(_ident(vec_col), 'p')} * {scale_sql}, 9))"
        )
    else:  # non-finite plane data: keep the py4j-built fallback
        vals = F.transform(
            F.array(*[_const_vec(p) for p in planes]),
            lambda p: F.round(dot(F.col(vec_col), p) * F.lit(scale), 9),
        )
    return vectors.select(
        id_col, F.posexplode(vals).alias("dim_id", "value")
    )


def power_iteration_step(
    vectors: DataFrame,
    weights: list[int],
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """One distributed power-iteration step w = A^T (A v) — the dominant-
    eigendirection building block (spectral embedding quality checks, PCA
    seeding) expressed as two matvecs that never materialize A^T A.

    ``weights`` is the current iterate v as SMALL INTEGERS (the caller
    re-quantizes between iterations); components are micro-quantized with
    the same half-up rule as kmeans_update, so u_i = <eq_i, v> is exact
    int64 and the per-dimension reduction runs in DECIMAL(38,0) (sums
    reach ~n*quant^2*|v|, past int64 at corpus scale). The emitted vector
    is scaled back by ``quant`` with exact integral division.

    Plan at scale: u is a zero-shuffle projection (zip_with fold against
    a literal array); the second matvec is posexplode + ONE map-side-
    combinable aggregation shuffled on dim — exactly ``dim`` groups with
    partial sums per map task, independent of row count."""
    vlit = F.expr("array(" + ",".join(f"{int(x)}L" for x in weights) + ")")
    qcast = lambda c: F.floor(c.cast("double") * quant + F.lit(0.5)).cast("bigint")  # noqa: E731
    u = F.aggregate(
        F.zip_with(F.col(vec_col), vlit, lambda x, w: qcast(x) * w),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    rows = vectors.withColumn("_u", u).select(
        "_u", F.posexplode(vec_col).alias("dim", "val")
    )
    return (
        rows.select("dim", (qcast(F.col("val")) * F.col("_u")).cast("decimal(38,0)").alias("_p"))
        .groupBy("dim")
        .agg(F.expr(f"CAST(sum(_p) div {quant} AS BIGINT)").alias("w_q"))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings — the standard way
    to combine dense (embedding) and lexical (BM25) retrieval without
    score calibration: fused(id) = Σ_lists 1/(k + rank_in_list), ids
    missing from a list contribute nothing. Each input carries
    (``id_col``, ``rank_col``) with 1-based ranks (ties already broken).

    Each term is quantized to integer micro-units BEFORE the sum, so the
    fused score is an exact integer — bit-identical on any engine or
    partitioning (a double Σ over 3+ lists would be order-dependent).
    Plan: union of the (tiny, top-k-sized) ranking frames, one groupBy on
    the id — at scale the candidate lists are already k-sized per query,
    so fusion is never a data-sized operation. Returns (id, rrf_micro,
    n_lists) sorted by fused score desc, id asc."""
    contrib = None
    for r in rankings:
        s = r.select(
            F.col(id_col),
            F.round(F.lit(1_000_000.0) / (F.lit(k) + F.col(rank_col)))
            .cast("bigint")
            .alias("_c"),
        )
        contrib = s if contrib is None else contrib.unionByName(s)
    if contrib is None:
        raise ValueError("rrf_fuse needs at least one ranking")
    return (
        contrib.groupBy(id_col)
        .agg(F.sum("_c").alias("rrf_micro"), F.count(F.lit(1)).alias("n_lists"))
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col))
    )


def maxsim_rerank(
    queries: DataFrame,
    docs: DataFrame,
    query_id: str = "query_id",
    doc_id: str = "doc_id",
    qtok_col: str = "qtoks",
    dtok_col: str = "dtoks",
    topk: int = 3,
) -> DataFrame:
    """ColBERT-style late-interaction MaxSim rerank: both sides carry a
    BAG of token vectors (``array<array<double>>``); relevance is, for
    every query token, its best cosine over the doc's tokens, summed
    over query tokens. Single-vector search cannot express this — a doc
    matching every query token weakly can outrank one matching a single
    token perfectly.

    Per-token cosines micro-quantize (floor(cos*1e6+0.5)) BEFORE the
    max/sum folds, so ranking is integer-exact and engine-portable. Plan:
    ``queries`` is the (small, bounded-by-construction) candidate batch
    and broadcasts; the whole MaxSim fold is ONE HOF expression per
    (query, doc) pair — no explode, no shuffle of the corpus — and the
    per-query top-k prunes via WindowGroupLimit. Deploy shape at 100 TB:
    an IVF/LSH first stage bounds ``docs`` to candidates, this reranks —
    exactly how late-interaction engines run. Returns (query_id, doc_id,
    maxsim_micro, rnk <= topk)."""
    from pyspark.sql import Window

    dot = "aggregate(zip_with(qt, dt, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    qn = "sqrt(aggregate(transform(qt, x -> x * x), 0D, (a, x) -> a + x))"
    dn = "sqrt(aggregate(transform(dt, x -> x * x), 0D, (a, x) -> a + x))"
    maxsim = (
        f"aggregate({qtok_col}, 0L, (acc, qt) -> acc + "
        f"array_max(transform({dtok_col}, dt -> "
        f"CAST(floor(CASE WHEN {qn} * {dn} = 0D THEN 0D "
        f"ELSE {dot} / ({qn} * {dn}) END * 1000000D + 0.5D) AS BIGINT))))"
    )
    scored = docs.join(F.broadcast(queries)).select(
        query_id, doc_id, F.expr(maxsim).alias("maxsim_micro")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("maxsim_micro"), F.asc(doc_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= topk)
        .select(query_id, doc_id, "maxsim_micro", "rnk")
    )


def mmr_diversify(
    candidates: DataFrame,
    k: int = 8,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    rel_col: str = "rel_micro",
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell/Goldstein MMR):
    greedily pick k items maximizing ``lam*rel - (1-lam)*max_sim(to
    already picked)`` — the diversity step training pipelines run when
    building eval sets, few-shot pools, or dedup-aware retrieval
    results from a candidate list.

    Exactness contract (engine-vs-engine): relevance arrives as an
    integer (``rel_col``, e.g. the rounded cosine micro-quantized) and
    the pairwise similarity is the SIGN-AGREEMENT count over dimensions
    (0..dim — an order-free integer, the binarized-embedding cosine),
    rescaled to micro-units by ``sim*1e6 DIV dim``.  The greedy
    objective ``lam_num*rel - (lam_den-lam_num)*sim_micro`` therefore
    never touches a float and a DuckDB re-implementation (unrolled
    iteration) matches it bit-for-bit; ties break on id.

    Scale contract: MMR is inherently sequential in k, so it runs WHERE
    the candidates are — one ``applyInPandas`` per ``group_col`` group
    (per query), each group a BOUNDED top-N candidate list (the same
    bound that legalizes q_knn_batch).  O(k*N) sign-compares per group,
    embarrassingly parallel across queries, no shuffle beyond the group
    exchange."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_fields = [
        StructField("sel_order", LongType()),
        StructField("sel_id", LongType()),
        StructField("mmr_micro", LongType()),
    ]
    group_out = [StructField(group_col, candidates.schema[group_col].dataType)] if group_col else []
    out_schema = StructType(group_out + out_fields)
    lam_rest = lam_den - lam_num

    def select_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy().astype(np.int64)
        vecs = np.stack(pdf[vec_col].to_numpy())
        dim = vecs.shape[1]
        signs = vecs >= 0
        order = np.lexsort((ids, -rel))  # deterministic candidate order
        ids, rel, signs = ids[order], rel[order], signs[order]
        n = len(ids)
        picked: list[int] = []
        max_sim = np.zeros(n, dtype=np.int64)  # max sign-agreement vs picked
        rows = []
        for step in range(min(k, n)):
            sim_micro = max_sim * 1_000_000 // dim if picked else np.zeros(n, dtype=np.int64)
            score = lam_num * rel - lam_rest * sim_micro
            score[picked] = np.iinfo(np.int64).min
            # argmax with id tiebreak: scores are ints, ids ascend within
            # equal rel by the lexsort, but equal scores can cross rel
            # levels — resolve explicitly
            best = np.flatnonzero(score == score.max())
            j = best[np.argmin(ids[best])]
            rows.append((step, int(ids[j]), int(score[j])))
            picked.append(j)
            agree = (signs == signs[j]).sum(axis=1).astype(np.int64)
            max_sim = np.maximum(max_sim, agree)
        out = pd.DataFrame(rows, columns=["sel_order", "sel_id", "mmr_micro"])
        if group_col:
            out.insert(0, group_col, pdf[group_col].iloc[0])
        return out

    if group_col is None:
        grouped = candidates.withColumn("_g", F.lit(0)).groupBy("_g")
        return grouped.applyInPandas(
            lambda pdf: select_group(pdf.drop(columns=["_g"])), out_schema
        )
    return candidates.groupBy(group_col).applyInPandas(select_group, out_schema)


def binary_quantize(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "code",
) -> DataFrame:
    """Sign-bit binary quantization: d float32s -> ceil(d/32) packed
    32-bit words (stored in BIGINTs so the packing is exactly expressible
    in ANSI SQL too — bit 31 of a word never touches a sign bit, which a
    64-bit packing would: shiftleft(1, 63) overflows portable SQL).

    This is the 128x memory step of a binary ANN index (64-dim float32
    256 B -> 8 B) and the cheapest distance in the repo: Hamming via
    bit_count(xor) is a handful of ALU ops per word, no multiplies. Pure
    expressions — JVM-side, whole-stage codegen, zero Python, zero
    shuffle: the quantization is a projection."""
    words = (dim + 31) // 32
    code = F.expr(
        f"""transform(sequence(0, {words - 1}), w ->
              aggregate(sequence(0, 31), 0L, (acc, b) ->
                CASE WHEN w * 32 + b < {dim}
                          AND element_at({vec_col}, w * 32 + b + 1) > CAST(0.0 AS DOUBLE)
                     THEN acc + shiftleft(1L, b) ELSE acc END))"""
    )
    return vectors.withColumn(out_col, code)


def hamming_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_code: str = "q_code",
    id_col: str = "vec_id",
    code_col: str = "code",
) -> DataFrame:
    """Batch top-k by Hamming distance over binary-quantized codes — the
    candidate-generation stage of a binary ANN pipeline (rerank the
    survivors with exact cosine via knn_join semantics when recall
    matters). Same plan contract as knn_join: the query batch broadcasts
    (bounded-k by construction, the q_knn_batch allowlist rule), the
    corpus never shuffles, distance is a per-pair fold of
    bit_count(word_a XOR word_b) — integer ALU ops only, the cheapest
    possible scan at 100 TB."""
    from pyspark.sql import Window

    joined = vectors.crossJoin(F.broadcast(queries))
    dist = F.expr(
        f"aggregate(zip_with({code_col}, {q_code}, (x, y) -> bit_count(x ^ y)), 0, (a, h) -> a + h)"
    )
    scored = joined.select(q_id, id_col, dist.cast("long").alias("hamming"))
    w = Window.partitionBy(q_id).orderBy("hamming", id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sq8_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_qv: str = "q_qv",
    q_scale: str = "q_scale",
    id_col: str = "vec_id",
    qv_col: str = "qv",
    scale_col: str = "scale",
) -> DataFrame:
    """Batch top-k dot-product over symmetric int8 scalar-quantized
    vectors — the SEARCH leg completing the quantization family
    (functions/vector.int8_scale + quantize_int8 are the encode leg;
    binary_quantize/hamming_topk are the 1-bit tier below, PQ/ADC the
    sub-byte tier). The hot inner product is an INTEGER fold over the two
    int8 code arrays (exact in both engines, no float accumulation
    order to disagree on); each pair then pays exactly ONE double
    multiply, int_dot * scale_q * scale_v, which reconstructs the
    dequantized dot product bit-for-bit identically on Spark and DuckDB.

    Plan contract = knn_join/hamming_topk: the query batch broadcasts
    (bounded-k by construction, the q_knn_batch allowlist rule), the
    corpus never shuffles, and the top-k window compiles to
    partial+final WindowGroupLimit. 4x less data touched than the float
    scan, integer ALU in the loop — the standard memory/recall midpoint
    between full-precision and binary at 100 TB."""
    from pyspark.sql import Window

    joined = vectors.crossJoin(F.broadcast(queries))
    int_dot = F.expr(
        f"aggregate(zip_with({qv_col}, {q_qv}, (x, y) -> CAST(x AS BIGINT) * y), "
        f"CAST(0 AS BIGINT), (a, p) -> a + p)"
    )
    score = (
        int_dot.cast("double") * F.col(scale_col) * F.col(q_scale)
    ).alias("score")
    scored = joined.select(q_id, id_col, int_dot.alias("int_dot"), score)
    w = Window.partitionBy(q_id).orderBy(F.col("score").desc(), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
