"""Deduplication operators — exact and near-duplicate, at 100 TB scale.

The reference only roadmaps dedup (README.md:290-299, SURVEY.md §2.11 X4);
its deterministic ids are the hook ("can be used for deduplication and
idempotency", README.md:210). Here dedup is a first-class operator family,
built so every step is a built-in expression (codegen'd, shuffle-aware):

  exact          hash-groupBy on content digest — one shuffle on a uniform key
  minhash LSH    char-shingles -> k min-hashes -> banded buckets -> candidate
                 pairs -> exact-Jaccard verify. All arithmetic is md5-derived
                 integer math expressible in both Spark and DuckDB, so the
                 whole chain is oracle-checkable.
  simhash        32-bit sign-of-weighted-sums fingerprint; hamming-adjacent
                 docs are near-dups
  ngram jaccard  exact pairwise Jaccard via shingle-inverted-index self-join
                 (the verify step of LSH, usable standalone on blocked pairs)
  embedding      cosine-threshold near-dup over an embedding column

Scale design notes:
  * every candidate-pair generator blocks/buckets first (LSH bands, shared
    shingles) — nothing does an O(n^2) crossJoin;
  * shingle/band joins shuffle on hash-uniform keys, so no salting needed;
  * `groupBy(doc).agg(min(...))` for minhash is partial-aggregated map-side;
  * pair outputs are canonicalized (a < b) to halve the join output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed minhash parameters: k = bands * rows_per_band hash functions
# h_i(x) = (a_i * x + b_i) mod p over 28-bit shingle hashes x. Every a_i is
# a large odd constant below the prime with a_i * 2^28 >= p, so every
# function wraps mod p and orders the shingles its own way; a multiplier
# too small to wrap keeps h_i monotone in x, and all such functions pick
# the same (smallest) shingle. a_i * x + b_i < 2^60: no bigint overflow in
# either engine.
MINHASH_PRIME = 2147483647
MINHASH_COEFFS = [
    (a, 7919 * (i + 1))
    for i, a in enumerate(
        (
            1216681719, 1601554129, 2085212535, 954254153,
            954051181, 1638303231, 1884091959, 1123278215,
            613125231, 1705094727, 867888699, 1300130343,
            976971717, 1138335979, 936228567, 1385845587,
        )
    )
]
DEFAULT_BANDS = 4  # 4 bands x 4 rows -> catches jaccard >~ 0.6


def shingles_expr(text_col: str, n: int = 5) -> Column:
    """Distinct char n-gram shingles of lowercased text as array<string>.
    Built-ins only: sequence + transform + substring + array_distinct.

    IMPORTANT: ``text_col`` should be a plain attribute holding the ALREADY
    LOWERCASED text (see ``with_shingles``). Higher-order-function lambdas
    are interpreted (no codegen, no common-subexpression elimination), so a
    composite expression here would be re-evaluated once per element —
    O(len^2) per document."""
    t = text_col
    return F.expr(
        f"CASE WHEN length({t}) < {n} THEN array({t}) "
        f"ELSE array_distinct(transform(sequence(1, length({t}) - {n} + 1), "
        f"i -> substring({t}, i, {n}))) END"
    )


def word_shingles_expr(tokens_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a pre-tokenized array column,
    joined with single spaces. More selective than char shingles on
    natural-language text — the right default for inverted-index joins.

    ``tokens_col`` must be a plain attribute (see ``with_shingles``): the
    per-element ``element_at`` lookups are only O(1) when they hit a
    materialized array, not a re-evaluated split/filter expression."""
    toks = tokens_col
    grams = ", ".join(f"element_at({toks}, i + {j})" for j in range(1, n + 1))
    return F.expr(
        f"CASE WHEN size({toks}) < {n} THEN array(concat_ws(' ', {toks})) "
        f"ELSE array_distinct(transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', {grams}))) END"
    )


def tokens_expr(text_col: str) -> Column:
    """Non-empty whitespace tokens of lowercased text."""
    return F.expr(f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')")


def with_shingle_array(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    kind: str = "char",
    out: str = "shingles",
) -> DataFrame:
    """(doc, shingles: array<string>) with the expensive normalization
    (lower / tokenize) materialized in its own projection. CollapseProject
    keeps the two projections separate because the normalized column is
    non-cheap and referenced multiple times, so it is computed once per row
    instead of once per array element inside the interpreted HOF lambdas."""
    if kind == "char":
        base = docs.select(doc_col, F.lower(F.col(text_col)).alias("_t"))
        return base.select(doc_col, shingles_expr("_t", n).alias(out))
    base = docs.select(doc_col, tokens_expr(text_col).alias("_ts"))
    return base.select(doc_col, word_shingles_expr("_ts", n).alias(out))


def with_shingles(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    kind: str = "char",
) -> DataFrame:
    """Exploded (doc, shingle) rows — the inverted-index input.

    explode_outer, not explode: the shingle array is never empty (the CASE
    always emits >=1 element), so the rows are identical — but plain explode
    lets InferFiltersFromGenerate add a ``size(shingles) > 0`` filter that
    predicate pushdown then inlines BELOW the projections, re-substituting
    the whole tokenize+gram expression (including per-element lambda
    references) and turning shingling O(len) into O(len^2) per document."""
    arr = with_shingle_array(docs, doc_col, text_col, n, kind)
    return arr.select(doc_col, F.explode_outer("shingles").alias("shingle"))


def shingle_hash_expr(shingle_col: str = "shingle") -> Column:
    """Shingle -> 28-bit integer via the first 7 hex chars of md5 — the same
    construction is expressible in DuckDB ('0x'||substr(md5(s),1,7))::BIGINT,
    which is what makes the minhash chain oracle-checkable."""
    return F.expr(f"CAST(conv(substring(md5({shingle_col}), 1, 7), 16, 10) AS BIGINT)")


def minhash_signatures(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-document minhash signature: columns mh_0..mh_{k-1}.

    Shuffle-free: shingle hashes are computed once per document as an array
    column, and each of the k signature slots is an ``array_min`` over an
    affine transform of that array — a pure projection, embarrassingly
    parallel, no explode/groupBy exchange. (The equivalent explode +
    groupBy(doc).agg(min...) plan shuffles |doc|x|shingles| rows; at 100 TB
    that exchange dominates, and it buys nothing — the aggregation key is
    the row it came from.)
    """
    coeffs = MINHASH_COEFFS[:num_hashes]
    arr = with_shingle_array(docs, doc_col, text_col, n, kind="char")
    hashed = arr.select(
        doc_col,
        F.expr(
            "transform(shingles, s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )
    sigs = [
        F.array_min(F.expr(f"transform(hs, h -> (h * {a} + {b}) % {MINHASH_PRIME})")).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.select(doc_col, *sigs)


def lsh_band_buckets(
    signatures: DataFrame,
    doc_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    num_hashes: int = 16,
) -> DataFrame:
    """Signature -> (doc, band, bucket): bucket is the concatenated band
    slice. Docs sharing any (band, bucket) are candidate pairs."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *parts).alias("bucket"))
        )
    # no .distinct(): the explode emits exactly one row per (doc, band) with
    # distinct band values, so rows are unique by construction — a distinct
    # here would be a full shuffle for nothing
    return signatures.select(
        doc_col, F.explode_outer(F.array(*band_cols)).alias("bb")
    ).select(doc_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidate_pairs(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = 16,
    max_bucket: int = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) from LSH band-bucket collisions.

    Pair generation is a self-join of the CAPPED (doc, band, bucket) frame
    on its uniformly-hashed (band, bucket) key, with the frame
    localCheckpointed first so the signature pipeline runs ONCE, not once
    per join side. The join and its a < b / pair-distinct stages are all
    codegen'd row-at-a-time operators — the earlier posting-list form
    (collect per-bucket doc arrays, expand cliques with a nested
    transform+slice lambda) built up to cap-sized arrays in single rows
    and expanded them through INTERPRETED higher-order functions whose
    per-element ``slice`` copies made bucket expansion O(m^2) array
    copies in one task (r11 optimization round, guide §4.1: measured
    2.38 -> 1.89 s at sf0.1 with bit-identical output, and the per-row
    memory spike of a 500k-struct array is gone).

    ``max_bucket`` bounds the blast radius of a pathological bucket (one
    viral boilerplate document duplicated m times would otherwise emit
    m^2/2 pairs): each bucket keeps only its ``max_bucket`` LOWEST doc
    ids, so per-bucket pair output is O(max_bucket^2), deterministically.
    Recall semantics, documented: docs beyond the cap lose candidacy IN
    THAT BUCKET only (they can still pair in their other bands);
    mass-duplicate clusters keep full recall *for dedup purposes* because
    the retained lowest-id members still link the cluster into one
    connected component, and exact duplicates should be removed by
    ``drop_exact_duplicates`` before LSH anyway (the cheap groupBy handles
    identical text; LSH is for the near-dup remainder).

    The cap is applied with a row_number window (hash-partitioned on
    (band, bucket), so the sort spills and streams); the checkpointed
    result carries that partitioning, and singleton buckets simply join
    to nothing. Hot buckets are bounded by the cap and AQE's skew-join
    splitting, instead of by one reducer's array buffer."""
    from pyspark.sql import Window

    if signatures is None:
        signatures = minhash_signatures(docs, doc_col, text_col, n, num_hashes)
    bb = lsh_band_buckets(signatures, doc_col, bands, num_hashes)
    w = Window.partitionBy("band", "bucket").orderBy(doc_col)
    # EAGER pin kept deliberately: the r12 lazy-checkpoint sweep A/B'd
    # eager=False here and it measured consistently slower (+0.36 s on
    # q_minhash_band_pairs, +0.30 on q_simhash_pairs) — both sides of the
    # self-join race to materialize the frame inside one action and the
    # persist-lock contention costs more than the saved job. Frames whose
    # first consumer is a single stage (signatures, distinct-name) gained
    # from the lazy pin instead.
    capped = (
        bb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
        .localCheckpoint()
    )
    lhs = capped.select("band", "bucket", F.col(doc_col).alias("a"))
    rhs = capped.select("band", "bucket", F.col(doc_col).alias("b"))
    pairs = (
        lhs.join(rhs, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # pair dedup as repartition + complete aggregate, not .distinct():
    # cross-band duplication is at most ``bands``x, so distinct's partial
    # aggregation pass barely shrinks the stream yet hashes every pair
    # twice, and AQE then coalesces the byte-tiny exchange under the task
    # count the final agg wants. The explicit hash repartition on (a, b)
    # (sized by spark.sql.shuffle.partitions — the standing scale knob,
    # not the local core count) satisfies the dedup's distribution, so
    # one complete HashAggregate runs per partition (r11: 0.86 -> 0.56 s
    # on the sf0.1 pair set, identical rows).
    n_shuf = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(n_shuf, "a", "b").dropDuplicates()


def minhash_candidate_edges(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = 16,
    max_bucket: int = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Connectivity-preserving candidate EDGES (a < b) — the input
    connected_components wants, NOT the all-pairs output.

    Per (band, bucket) posting list this emits a STAR (lowest doc id ->
    each other member): O(m) edges per bucket instead of the clique's
    O(m^2/2) pairs, with IDENTICAL connected components — every member is
    reachable through the hub, and any cross-bucket chain that merged two
    cliques also merges the two stars. At sf0.1 this is 2.46M clique edges
    vs ~20k star edges; at 100 TB it is the difference between an edge set
    quadratic in duplicate-cluster size and one linear in corpus size.

    Use ``minhash_candidate_pairs`` when the *pairs themselves* are the
    product (e.g. to feed the exact-Jaccard verifier, which must score
    every candidate pair); use this when the product is dedup GROUPS."""
    from pyspark.sql import Window

    if signatures is None:
        signatures = minhash_signatures(docs, doc_col, text_col, n, num_hashes)
    bb = lsh_band_buckets(signatures, doc_col, bands, num_hashes)
    w = Window.partitionBy("band", "bucket").orderBy(doc_col)
    capped = (
        bb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    posting = (
        capped.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(doc_col)).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    edges = posting.select(
        F.explode_outer(
            F.expr("transform(slice(ds, 2, size(ds) - 1), y -> struct(ds[0] AS a, y AS b))")
        ).alias("e")
    )
    return edges.select(F.col("e.a").alias("a"), F.col("e.b").alias("b")).distinct()


def jaccard_pairs(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    kind: str = "char",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs sharing >=1
    shingle (inverted-index self-join — never a crossJoin). Optionally
    restricted to a candidate-pair DataFrame (a, b) from LSH; ``kind``
    selects char or word shingles.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|); integer counts divided in
    double — bit-exact across engines.

    The inverted-index join keys on xxhash64(shingle), not the shingle
    string: an 8-byte fixed-width shuffle/join key instead of a ~20-40 byte
    string. A 64-bit collision would need ~2^32 distinct shingles to have
    even-odds of occurring once anywhere in the corpus; per-doc shingles are
    already distinct, so a collision could only merge two distinct shingles
    and shift one intersection count by one.

    The hashed-shingle frame feeds FOUR plan branches (both self-join
    sides + the per-doc size table used twice), so it is localCheckpointed
    once — uncut, the shingle explode re-executes per branch inside the
    single action."""
    sh = (
        with_shingles(docs, doc_col, text_col, n, kind)
        .select(doc_col, F.xxhash64("shingle").alias("k"))
        .localCheckpoint(eager=False)  # lazy pin (r12): four branches, one action
    )
    sizes = sh.groupBy(doc_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(doc_col).alias("a"), "k")
    b = sh.select(F.col(doc_col).alias("b"), "k")
    inter = (
        a.join(b, "k")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["a", "b"], "left_semi")
    out = (
        inter.join(sizes.withColumnRenamed(doc_col, "a").withColumnRenamed("n_shingles", "size_a"), "a")
        .join(sizes.withColumnRenamed(doc_col, "b").withColumnRenamed("n_shingles", "size_b"), "b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "n_common", "jaccard")


def lsh_recall_audit(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    kind: str = "word",
    sample: float = 1.0,
) -> DataFrame:
    """Recall of the MinHash band-bucket candidate generator against exact
    n-gram-Jaccard ground truth — the audit you run before trusting an
    approximate dedup config. Returns one row (n_exact, n_hit, recall).

    Scale contract: the exact side costs O(pairs sharing a shingle) —
    that's the bill for ground truth, and at corpus scale you don't pay
    it on the full corpus. ``sample`` keeps a deterministic hash-slice of
    DOCUMENTS (xxhash64(doc_id) bucket < sample x 1e6, so the slice is
    stable across runs, partitionings and engines — not Bernoulli RNG)
    and measures recall within it: both the exact pairs and the LSH
    candidates are computed over the same sub-corpus, so the ratio is an
    unbiased estimate of full-corpus recall at O(sample²) pair cost.
    ``sample=1.0`` is the exact full-corpus audit (the oracle mode): the
    filter short-circuits to nothing and the plan is identical."""
    if not (0.0 < sample <= 1.0):
        raise ValueError(f"sample must be in (0, 1], got {sample}")
    if sample < 1.0:
        docs = docs.filter(
            F.pmod(F.xxhash64(F.col(doc_col)), F.lit(1_000_000))
            < F.lit(int(sample * 1_000_000))
        )
    exact = jaccard_pairs(docs, doc_col, text_col, n=n, threshold=threshold, kind=kind).select(
        "a", "b"
    )
    cand = minhash_candidate_pairs(docs, doc_col, text_col).select(
        "a", "b", F.lit(True).alias("hit")
    )
    j = exact.join(cand, ["a", "b"], "left")
    hits = F.sum(F.when(F.col("hit"), 1).otherwise(0))
    return j.agg(
        F.count(F.lit(1)).alias("n_exact"),
        hits.cast("bigint").alias("n_hit"),
        (hits.cast("double") / F.count(F.lit(1))).alias("recall"),
    )


def simhash_expr_pipeline(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash per document, entirely with built-ins.

    tokens (whitespace split) -> md5-derived 31-bit token hash -> per-bit
    signed votes -> fingerprint = sum of (1<<bit) where votes > 0.

    Shuffle-free: token hashes live in an array column per document; the
    per-bit vote is ``2 * ones_j - n_tokens`` folded over that array, and
    the fingerprint sums the winning bits — all one projection. (The
    explode-per-token-per-bit formulation shuffles |tokens| x bits rows
    twice; this computes the same integers with zero exchanges.) Documents
    with no tokens produce no fingerprint (same as the exploded form)."""
    toks = docs.select(doc_col, tokens_expr(text_col).alias("_ts"))
    hashed = toks.select(
        doc_col,
        F.expr(
            "transform(_ts, s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT))"
        ).alias("hs"),
    ).filter(F.size("hs") > 0)
    fingerprint = F.expr(
        f"""aggregate(
            sequence(0, {bits - 1}),
            CAST(0 AS BIGINT),
            (acc, j) -> acc + CASE WHEN
                2 * aggregate(hs, CAST(0 AS BIGINT),
                              (a, h) -> a + (h div CAST(pow(2, j) AS BIGINT)) % 2)
                > size(hs)
            THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END
        )"""
    )
    return hashed.select(doc_col, fingerprint.alias("simhash"))


def exact_duplicate_groups(docs: DataFrame, doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup accounting: one row per duplicated content digest with
    group size and the keeper (min doc id) — the groupBy-on-digest plan that
    scales to 100 TB (digest is uniform; partial agg combines map-side)."""
    return (
        docs.select(doc_col, F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(doc_col).alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content (first-wins per digest)."""
    return docs.withColumn("_digest", F.md5(F.col(text_col))).dropDuplicates(["_digest"]).drop("_digest")


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive duplicate GROUPS from near-dup pairs: every vertex gets
    ``component`` = the minimum reachable id (min-label propagation to
    fixpoint). This is the stage that turns pairwise LSH hits into
    keep-one-per-group decisions — pairs alone can't dedup a chain
    A~B, B~C where (A,C) was never a candidate.

    Scale shape: each iteration is one edge join + one min-aggregation
    (both shuffled on the node key) plus a pointer-jump join on the
    LABEL frame — path halving: a node's candidate label is shortcut to
    that label's own label in the same round, so label information
    travels 2^i hops by round i and the loop converges in O(log
    diameter) rounds instead of O(diameter) (the r10->r11 drift on
    q_dedup_cluster_sizes was 8 diameter-bound rounds of fixed per-round
    scheduling cost; shortcutting cut it to 5 with bit-identical
    labels). The EDGE SET is materialized ONCE up front (localCheckpoint)
    — ``edges`` is typically the whole LSH candidate-pair pipeline
    (shingle -> signature -> bucket -> pairs), and without the cut every
    iteration's join would re-execute that entire pipeline. Labels carry
    their previous value through the aggregation so the convergence count
    is a cheap scan of the just-checkpointed result, not a second
    execution of the join+agg: exactly ONE heavy action per iteration.
    On a cluster use a reliable checkpoint dir (or GraphFrames) for fault
    tolerance across iterations."""
    # LAZY checkpoint: the first convergence-sum action below materializes
    # the edge pipeline, the initial label table AND the sum in ONE job
    # (previously three — eager und job, eager labels job, sum job). The
    # sum is a full scan, so every partition is persisted by the end of
    # that action; later iterations read the pinned copies (r12).
    und = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    # Iterate ONLY over edge-incident nodes: in a dedup graph the vast
    # majority of documents touch no candidate edge, so carrying every
    # vertex through every iteration would shuffle the full corpus per
    # round for labels that cannot change. The active set (distinct src —
    # und holds both directions, so src covers every incident node) is
    # orders of magnitude smaller; small enough that AQE broadcasts it
    # into the edge join, leaving the checkpointed edge set un-shuffled.
    # Isolated vertices rejoin once at the end with label = own id.
    if max_iter <= 0:
        labels = und.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node").cast("long")
        ).localCheckpoint(eager=False)
    else:
        # Round 1 against the IDENTITY label table (label(x) = x) needs no
        # join at all: the neighborhood min unioned with the own label is
        # min(x, min of x's neighbors), and the pointer jump through an
        # identity table is the identity — so the first iteration's
        # distinct-src materialization, edge join, union and jump join all
        # collapse into ONE aggregation over the checkpointed edge set
        # (und is symmetric, so dst covers every incident node). Same
        # round count, same labels; the r11 label_propagation find applied
        # here (paired A/B 2.73 -> 2.38 s on q_dedup_components at sf0.1).
        labels = (
            und.groupBy("dst")
            .agg(F.min("src").alias("_cand"))
            .select(
                F.col("dst").alias("node"),
                F.least("_cand", F.col("dst")).cast("long").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        max_iter = max_iter - 1
    # Convergence is detected from the LABEL SUM, not a changed-row count:
    # min-label propagation is monotone non-increasing per node (the
    # neighborhood min is unioned with the node's own label, and the
    # pointer jump can only lower it further), so the sum strictly
    # decreases iff any label changed. That removes the join back onto
    # the previous labels that existed purely to compute `changed` — one
    # fewer join per iteration (r11 optimization: 2.59 -> 2.10 s on
    # q_dedup_components at sf0.1, labels bit-identical). DECIMAL(38,0)
    # because sum(node ids) overflows int64 at 2^21+ nodes with 2^42 ids.
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iter):
        neigh = und.join(labels, und.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        # path halving: every label value is itself an incident node id,
        # so after taking the neighborhood min, follow that label's OWN
        # label one more hop (F.least skips the null a left-join miss
        # would produce; in practice every label is present in `labels`)
        lab_jump = labels.select(F.col("node").alias("_jn"), F.col("label").alias("_jl"))
        merged = (
            neigh.unionByName(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("_cand"))
            .join(lab_jump, F.col("_cand") == F.col("_jn"), "left")
            .select("node", F.least("_cand", "_jl").alias("label"))
            .localCheckpoint(eager=False)
        )
        # the sum action materializes the lazily-checkpointed round in the
        # same job (full scan -> all partitions persisted)
        new_sum = merged.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        labels = merged
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    out = vertices.select(F.col(id_col).alias("node")).join(
        labels, "node", "left"
    )
    return out.select(
        F.col("node").alias(id_col),
        F.coalesce("label", F.col("node").cast("long")).alias("component"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with an evaluation/benchmark set (the standard n-gram-overlap
    test-set-leakage check from public LM training pipelines; n=8..13
    word-grams are the conventional window).

    Plan at 100 TB: inverted-index join, never a crossJoin — both sides
    project to (doc, shingle-hash) rows, the join keys on the 8-byte
    xxhash64 of the shingle, and the benchmark side is explicitly
    broadcast (an eval set is small BY DEFINITION — thousands of docs,
    millions of 8-byte hashes at most — while post-aggregation size
    stats would otherwise default the join to a full corpus-side
    shuffle). The join itself therefore exchanges nothing; the only
    shuffle is the final per-doc overlap count, partial-aggregated
    map-side. Output is one row per contaminated corpus doc with the
    overlap count — route to drop or review."""
    c = with_shingles(corpus, doc_col, text_col, n, kind="word").select(
        F.col(doc_col).alias("_cdoc"), F.xxhash64("shingle").alias("k")
    )
    b = (
        with_shingles(benchmark, doc_col, text_col, n, kind="word")
        .select(F.xxhash64("shingle").alias("k"))
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "k")
        .groupBy("_cdoc")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .select(F.col("_cdoc").alias(doc_col), "n_shared_ngrams")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.99,
    max_rows: int | None = None,
    max_block: int = 8192,
) -> DataFrame:
    """Cosine-threshold near-dup pairs over an embedding column. With a
    block_col (e.g. an LSH bucket or cluster id) the self-join is confined
    to blocks; without one this is quadratic, so the unblocked path REQUIRES
    an explicit ``max_rows`` opt-in (enforced by a driver-side count before
    the crossJoin — a caller cannot ship the O(n^2) plan by accident).

    ``max_block`` caps a pathological block at its ``max_block`` lowest
    ids (r9 verdict item 4: blocking bounds the EXPECTED cost, but one
    skewed block still degrades quadratically — the sf1 probe measured a
    100x pair blowup from block growth alone). Same recall semantics as
    the minhash/simhash posting-list caps: rows beyond the cap in an
    oversized block are excluded from pairing within that block, the
    cutoff is deterministic (lowest ids win), and the row_number window
    sorts BEFORE the join so the cap itself streams/spills rather than
    buffering the block. Per-block candidate work is bounded at
    O(max_block^2) regardless of skew.

    Norms are computed once per ROW before the join (O(n) folds) so each of
    the O(n^2/blocks) candidate pairs only pays the dot product — the norm
    fold per pair would otherwise triple the join-side work. "Once" needs
    a lineage cut: the normed frame feeds BOTH join sides, and the caller's
    input may itself be expensive (semantic_dedup passes a
    cluster-assignment projection), so base is localCheckpointed — without
    it each side re-executes norms + upstream per branch."""
    from vectorflow_spark.functions.vector import dot, l2_norm

    if block_col is None:
        if max_rows is None:
            raise ValueError(
                "embedding_neardup_pairs without block_col is O(n^2): pass "
                "block_col (LSH bucket / cluster id) or opt in to the "
                "quadratic path with an explicit max_rows cap"
            )
        n = vectors.count()
        if n > max_rows:
            raise ValueError(
                f"unblocked embedding_neardup_pairs over {n} rows exceeds "
                f"max_rows={max_rows}; block or sample first"
            )
    # blocked path: the adaptive-cap count right below is the first action
    # and a full scan, so a LAZY checkpoint materializes base + the max
    # count in one job instead of two (r12). The unblocked path has no
    # immediate action (the join consumes both sides first), so it keeps
    # the eager pin.
    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).localCheckpoint(eager=block_col is None)
    if block_col is not None:
        # ADAPTIVE cap (r10 bench caught the unconditional form regressing
        # q_embedding_neardup/q_semantic_dedup 2.7x: a row_number window
        # costs a shuffle + sort + re-materialization on EVERY call, even
        # when no block is oversized — the overwhelmingly common case).
        # One map-side-combined count over the checkpointed frame decides;
        # only a skewed input pays the window.
        biggest = (
            base.groupBy("blk").agg(F.count(F.lit(1)).alias("_c")).agg(F.max("_c"))
        ).collect()[0][0]  # driver-side: one scalar
        if biggest is not None and biggest > max_block:
            from pyspark.sql import Window

            base = (
                base.withColumn(
                    "_rn", F.row_number().over(Window.partitionBy("blk").orderBy("_id"))
                )
                .filter(F.col("_rn") <= max_block)
                .drop("_rn")
                .localCheckpoint()
            )
    a = base.select(F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("na"), *(["blk"] if block_col else []))
    b = base.select(F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"), *(["blk"] if block_col else []))
    joined = a.join(b, "blk") if block_col else a.crossJoin(b)
    denom = F.col("na") * F.col("nb")
    return (
        joined.filter(F.col("a") < F.col("b"))
        .withColumn("cosine", F.when(denom != 0.0, dot("va", "vb") / denom))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs (a < b, hamming) from SimHash fingerprints via
    Hamming-ball banding — the pairing stage SimHash needs to be a dedup
    operator rather than just a fingerprint column (reference roadmaps
    dedup families only; pairing strategy is ours).

    EXACT by pigeonhole, not probabilistic: split the ``bits``-bit
    fingerprint into ``n_bands`` contiguous bands; two fingerprints within
    ``max_hamming < n_bands`` differing bits must agree EXACTLY on at least
    one band (at most max_hamming bands can contain a differing bit), so
    band-bucket collisions find every qualifying pair and the cheap
    ``bit_count(xor)`` computes true distance and drops false positives.

    Same plan shape as ``minhash_candidate_pairs``, for the same reasons:
    the fingerprint pipeline runs ONCE into a localCheckpointed capped
    (id, simhash, band, key) frame, and pairs are a codegen'd self-join of
    that frame on the uniform (band, key) hash slice — never a crossJoin.
    ``max_bucket`` caps a pathological bucket at its lowest doc ids
    (window-sort BEFORE the join, so the cap itself streams/spills; same
    recall semantics as the minhash cap: a doc beyond the cap keeps
    candidacy in its other bands). The hamming test rides in the join
    condition, so ~95% of raw bucket pairs die inside the codegen'd join
    loop without ever materializing a row (the earlier posting-list form
    expanded cap-sized arrays through interpreted transform/slice lambdas
    — O(m^2) array copies in one task per hot bucket; the self-join form
    measured 2.7 -> 1.9 s on q_simhash_pairs at sf0.1, bit-identical)."""
    from pyspark.sql import Window

    if max_hamming >= n_bands:
        raise ValueError("exactness needs max_hamming < n_bands (pigeonhole)")
    width = bits // n_bands
    fp = simhash_expr_pipeline(docs, doc_col, text_col, bits)
    bands = fp.select(
        F.col(doc_col).alias("id"),
        "simhash",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {n_bands - 1}), b -> named_struct(
                        'band', b,
                        'key', (simhash div CAST(pow(2, b * {width}) AS BIGINT)) % {1 << width}))"""
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    w = Window.partitionBy("band", "key").orderBy("id")
    capped = (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
        .localCheckpoint()  # eager: self-join sides race a lazy pin (r12 A/B, see minhash)
    )
    lhs = capped.select("band", "key", F.col("id").alias("a"), F.col("simhash").alias("_sa"))
    rhs = capped.select("band", "key", F.col("id").alias("b"), F.col("simhash").alias("_sb"))
    ham = F.bit_count(F.expr("_sa ^ _sb"))
    pairs = (
        lhs.join(rhs, ["band", "key"])
        .filter((F.col("a") < F.col("b")) & (ham <= max_hamming))
        .select("a", "b", ham.cast("bigint").alias("hamming"))
    )
    # same repartition-dedup shape as minhash_candidate_pairs: <= n_bands x
    # duplication makes distinct's partial pass wasted work.
    n_shuf = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(n_shuf, "a", "b").dropDuplicates()


def incremental_dedup(
    new_docs: DataFrame,
    corpus_buckets: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = 16,
) -> DataFrame:
    """Drop new-batch documents that LSH-collide with an EXISTING corpus —
    the nightly-ingest shape of a 100 TB training pipeline: the corpus's
    (band, bucket) posting table is computed ONCE and persisted; each new
    batch only shingles/hashes ITS OWN rows and joins against the stored
    index, instead of re-running minhash over the full corpus per ingest.

    ``corpus_buckets``: a (band, bucket) DataFrame, e.g. the persisted
    output of ``lsh_band_buckets(minhash_signatures(corpus))``. Store it
    bucketed/partitioned by (band, bucket) and the semi-join needs no
    corpus-side shuffle; only the (small) new batch repartitions. The
    candidate check is a LEFT SEMI against bucket keys projected to just
    (band, bucket) — doc ids of the corpus side never move.

    Returns the new rows that are NOT near-dup candidates of the corpus
    (anti-join on the collided ids). Collided rows should go to the full
    verify stage (``jaccard_pairs`` with ``candidates=...``) rather than
    being dropped blind when precision matters."""
    nb = lsh_band_buckets(
        minhash_signatures(new_docs, doc_col, text_col, n, num_hashes),
        doc_col,
        bands,
        num_hashes,
    )
    suspects = (
        nb.join(
            corpus_buckets.select("band", "bucket"), ["band", "bucket"], "left_semi"
        )
        .select(doc_col)
        .distinct()
    )
    return new_docs.join(suspects, doc_col, "left_anti")


def blocked_edit_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_dist: int = 2,
    num_salts: int = 16,
) -> DataFrame:
    """Record linkage / fuzzy entity matching: candidate pairs whose
    ``name_col`` values are within ``max_dist`` Levenshtein edits,
    generated ONLY within equal ``block`` values (first token, phonetic
    key, length band, ...) — the classic blocking design that turns the
    O(n^2) all-pairs comparison into an equi-self-join per block.

    Scale shape: cost is sum of block^2, so the blocking expression is the
    scale knob. The self-join is SALTED: with few/skewed block values a
    plain equi-join caps parallelism at the number of blocks (8 first-token
    blocks at sf0.1 = 8 tasks doing 25M comparisons). Each side hashes its
    id into ``num_salts`` groups and replicates rows across the other
    side's groups, joining on (block, salt_a, salt_b) — every pair still
    meets exactly once, but a block's m^2 work spreads over num_salts^2
    independent tasks at a replication cost of num_salts copies of the
    (tiny) record projection. Levenshtein runs JVM-side, bounded by
    ``threshold`` (banded DP, early exit) behind a necessary
    length-difference prefilter; results are identical to the unbounded
    form, so pairs stay oracle-checkable.

    Returns (a_id, b_id, a_name, b_name, dist) with a_id < b_id so each
    pair appears once.

    Execution: edit distances are computed on DISTINCT (block, name)
    pairs, then expanded back to id pairs through two equi-joins on
    (block, name). With duplicated names (the common case in entity
    linkage) this collapses the expensive comparison from sum(block_ids^2)
    to sum(block_names^2) — at sf0.1, 25M id-pair comparisons become 20k
    name-pair comparisons (54 s -> ~2 s measured) — and when names are
    unique it degenerates to the original cost. The distinct-name
    self-join is SALTED on both sides ((block, salt_a, salt_b) key) so a
    handful of giant blocks cannot cap parallelism at the block count;
    each name row is replicated num_salts times, every name pair still
    meets exactly once. The name-pair table keeps BOTH orders of each
    unequal pair (plus the equal-name diagonal) because which name becomes
    a_name depends on ID order, not name order."""
    salts = F.sequence(F.lit(0), F.lit(num_salts - 1))
    # distinct-name frame feeds both salted join sides — cut the lineage
    # so the distinct shuffle runs once, not once per side
    dn = (
        records.select(block.alias("_blk"), F.col(name_col).alias("_nm"))
        .distinct()
        .localCheckpoint(eager=False)  # lazy pin (r12): two salted sides, one action
    )
    na = dn.select(
        F.col("_blk"),
        F.col("_nm").alias("a_name"),
        F.pmod(F.xxhash64("_nm"), F.lit(num_salts)).alias("_sa"),
        F.explode(salts).alias("_sb"),
    )
    nb = dn.select(
        F.col("_blk"),
        F.col("_nm").alias("b_name"),
        F.explode(salts).alias("_sa"),
        F.pmod(F.xxhash64("_nm"), F.lit(num_salts)).alias("_sb"),
    )
    # threshold-bounded levenshtein (banded DP, -1 above the bound) behind
    # EXPLICIT repartition on the salted join key: the whole point of the
    # salt is num_salts^2 independent comparison tasks, but AQE coalesces
    # exchanges by BYTES, and a name projection is tiny — at sf0.1 the
    # entire Levenshtein join was coalesced into ONE task (2.85 s of the
    # gate's 3.2 s, measured per-job). A user repartition is exempt from
    # AQE coalescing, so the comparison stage keeps the parallelism the
    # salt bought; num_salts^2 partitions is the salting design's own
    # unit count, independent of the local core count (r11 optimization,
    # guide §2.5: 2.98 -> 1.06 s on q_fuzzy_name_pairs, bit-identical).
    n_cmp = num_salts * num_salts
    na = na.repartition(n_cmp, "_blk", "_sa", "_sb")
    nb = nb.repartition(n_cmp, "_blk", "_sa", "_sb")
    # the necessary |len diff| prefilter — both only over distinct names.
    dist = F.levenshtein("a_name", "b_name", threshold=max_dist)
    name_pairs = (
        na.join(nb, ["_blk", "_sa", "_sb"])
        .filter(F.abs(F.length("a_name") - F.length("b_name")) <= max_dist)
        .withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("_blk", "a_name", "b_name", "dist")
    )
    a = records.select(
        F.col(id_col).alias("a_id"), F.col(name_col).alias("a_name"), block.alias("_blk")
    )
    b = records.select(
        F.col(id_col).alias("b_id"), F.col(name_col).alias("b_name"), block.alias("_blk")
    )
    return (
        a.join(name_pairs, ["_blk", "a_name"])
        .join(b, ["_blk", "b_name"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_name", "b_name", "dist")
    )


def minhash_jaccard_estimate(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Estimated Jaccard similarity for every LSH candidate pair: the
    fraction of agreeing minhash signature components. Returns
    (a, b, n_agree int, jaccard_est double) — the estimate is the small
    rational n_agree/num_hashes, exact in double on any engine.

    This is the cheap verify step between candidate generation and the
    exact n-gram Jaccard join (``jaccard_pairs``): signatures are already
    materialized, so scoring a pair costs k integer compares against
    re-shingling both documents. Plan: candidate pairs (single-shuffle
    posting lists) + two broadcast-friendly joins back to the signature
    table keyed by doc id; no new shuffle shape at 100 TB — signatures
    partition by doc id, pairs by (a, b). The signature frame feeds THREE
    plan branches (bucketing + both join sides), so it is
    localCheckpointed once — uncut, the shingle+minhash projection would
    re-execute per branch inside the single action."""
    sig = minhash_signatures(docs, doc_col, text_col, n, num_hashes).localCheckpoint(
        eager=False  # lazy pin (r12): three branches, one action, computed once
    )
    pairs = minhash_candidate_pairs(
        docs, doc_col, text_col, n, bands, num_hashes, max_bucket, signatures=sig
    )
    sa = sig.select(F.col(doc_col).alias("a"), *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(num_hashes)])
    sb = sig.select(F.col(doc_col).alias("b"), *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(num_hashes)])
    agree = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            agree.cast("int").alias("n_agree"),
            (agree.cast("double") / F.lit(float(num_hashes))).alias("jaccard_est"),
        )
    )


def duplicate_substring_spans(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Cross-document duplicate SUBSTRING detection (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" signal,
    arXiv:2107.06499, window-hash formulation): hash every ``window``-word
    sliding span of every document, and report per document how many of
    its spans also occur elsewhere in the corpus (or again in itself).
    Document-level dedup misses exactly this — boilerplate licenses,
    quoted passages, templated paragraphs repeated inside otherwise-unique
    documents.

    Returns (doc_col, n_dup_windows, n_dup_hashes); the positions behind
    the counts are available one projection earlier for a removal pass
    (merge adjacent duplicated positions into spans, cut them from the
    token array, re-join).

    Plan at scale: span hashing is a zero-shuffle projection (token array
    -> transform over a position sequence -> md5 per span); the only
    data-sized exchange is ONE hash partitioning on the span hash, reused
    by the count-over window; the per-doc rollup then groups the
    surviving (duplicated) spans only. The window-count formulation
    avoids the groupBy+self-join shape, which would shuffle the span
    table twice on the same key."""
    from pyspark.sql import Window as W

    ts = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    base = docs.select(doc_col, ts.alias("_ts")).filter(F.size("_ts") >= window)
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size("_ts") - window),
        lambda i: F.md5(F.array_join(F.slice("_ts", i + F.lit(1), window), " ")),
    )
    wins = base.select(doc_col, F.posexplode(span_hashes).alias("pos", "h"))
    counted = wins.withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("h")))
    dup = counted.filter(F.col("_n") > 1)
    return dup.groupBy(doc_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.countDistinct("h").alias("n_dup_hashes"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """The removal half of substring dedup (Lee et al., arXiv:2107.06499):
    delete every LATER occurrence of a duplicated ``window``-word span,
    keeping the globally-first one (min (doc, position) per span hash).
    Returns (doc_col, clean_text, n_removed_tokens) for EVERY input
    document — untouched docs pass through with n_removed_tokens = 0.

    Overlapping removable spans union into intervals before cutting, so
    a run of duplicated text is removed once, not re-counted per window.

    Plan at scale: span hashing is the same zero-shuffle projection as
    ``duplicate_substring_spans``; the keep-first ranking is ONE window
    over the span-hash partitioning (same exchange); removable positions
    then roll up per doc (second, smaller exchange) and broadcast-join
    back to the token arrays. The cut itself is an interpreted-HOF filter
    O(tokens x removable_spans) per doc — acceptable because removable
    spans per doc are few by construction; a sorted-interval merge drops
    it to O(tokens + spans log spans) if a pathological corpus needs it.

    Matching is case-insensitive (spans hash on lowercased words, like
    ``duplicate_substring_spans``) but the cleaned text preserves the
    original token case; inter-token whitespace normalizes to single
    spaces (the tokens are rejoined)."""
    from pyspark.sql import Window as W

    ts = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = docs.select(doc_col, ts.alias("_ts"))
    eligible = base.filter(F.size("_ts") >= window)
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size("_ts") - window),
        lambda i: F.md5(F.lower(F.array_join(F.slice("_ts", i + F.lit(1), window), " "))),
    )
    wins = eligible.select(doc_col, F.posexplode(span_hashes).alias("pos", "h"))
    w_first = W.partitionBy("h").orderBy(doc_col, "pos")
    ranked = wins.withColumn("_rk", F.row_number().over(w_first))
    removable = ranked.filter(F.col("_rk") > 1)
    dups = removable.groupBy(doc_col).agg(F.array_sort(F.collect_list("pos")).alias("_dups"))

    joined = base.join(dups, doc_col, "left")
    dup_arr = F.coalesce(F.col("_dups"), F.expr("cast(array() as array<int>)"))
    # guard: sequence(0, -1) would DESCEND for an empty token array
    idx = F.when(
        F.size("_ts") > 0, F.sequence(F.lit(0), F.size("_ts") - 1)
    ).otherwise(F.expr("cast(array() as array<int>)"))
    keep_idx = F.filter(
        idx,
        lambda j: ~F.exists(dup_arr, lambda p: (p <= j) & (j < p + window)),
    )
    clean = F.array_join(F.transform(keep_idx, lambda j: F.element_at("_ts", j + 1)), " ")
    return joined.select(
        doc_col,
        clean.alias("clean_text"),
        (F.size("_ts") - F.size(keep_idx)).cast("bigint").alias("n_removed_tokens"),
    )


def hamming_candidate_pairs(
    fingerprints: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 64,
    n_bands: int = 8,
    max_hamming: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Generic Hamming-ball pairing over ANY integer fingerprint column —
    the banding engine of ``simhash_candidate_pairs`` factored out so
    other fingerprint families reuse it (image dHash from
    operators/multimodal.image_dhash is the round-3 consumer; any
    integer-coded locality hash works).

    EXACT by pigeonhole (max_hamming < n_bands): fingerprints within
    ``max_hamming`` differing bits must agree exactly on >= 1 of the
    ``n_bands`` contiguous bit bands, so band-bucket collisions find
    every qualifying pair; ``bit_count(xor)`` verifies true distance
    INSIDE the pair generator before any struct materializes (the
    filter-before-struct discipline measured 1.7x on simhash). Posting
    lists + the ``max_bucket`` lowest-id cap bound per-task memory and
    per-bucket output exactly as in the minhash/simhash family; one
    data-sized exchange on (band, key)."""
    from pyspark.sql import Window

    if max_hamming >= n_bands:
        raise ValueError("exactness needs max_hamming < n_bands (pigeonhole)")
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    width = bits // n_bands
    bands = fingerprints.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            # shiftrightunsigned = logical shift: band keys are the raw bit
            # pattern regardless of sign. (`div`/`%` truncate toward zero and
            # follow the dividend's sign, so sign-bit-set int64 fingerprints
            # would get different keys than the same bits unsigned — dropping
            # pairs and breaking the pigeonhole exactness claim.)
            F.expr(
                f"""transform(sequence(0, {n_bands - 1}), b -> named_struct(
                        'band', b,
                        'key', shiftrightunsigned({fp_col}, b * {width}) & {(1 << width) - 1}))"""
            )
        ).alias("bb"),
    ).select("id", "fp", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    w = Window.partitionBy("band", "key").orderBy("id")
    capped = bands.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket
    )
    posting = (
        capped.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.struct("id", "fp"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                f"transform(filter(slice(ds, i + 2, size(ds) - i - 1), "
                f"y -> bit_count(x.fp ^ y.fp) <= {max_hamming}), "
                "y -> struct(x.id AS a, y.id AS b, "
                "CAST(bit_count(x.fp ^ y.fp) AS BIGINT) AS hamming))))"
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.hamming")
    return pairs.distinct()
