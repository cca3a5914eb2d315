"""Dedup / similarity / text-analysis operator tests — behavioral checks
that the oracle queries can't express (recall of ANN vs brute force,
near-dup detection of planted duplicates, hamming locality of simhash)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from vectorflow_spark.operators.dedup import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    drop_exact_duplicates,
    embedding_neardup_pairs,
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_band_buckets,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash_expr_pipeline,
)
from vectorflow_spark.operators.similarity import (
    hyperplanes,
    ivf_assign,
    ivf_centroids,
    ivf_topk_cosine,
    knn_join,
    lsh_topk_cosine,
    topk_cosine,
    with_lsh_buckets,
)
from vectorflow_spark.operators.textstats import predict_language, quality_score


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away into "
    "the deep green forest while the hunters are sleeping near the old river"
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("lazy", "sleepy")),  # near duplicate of 1
        (4, "completely different content about spark dataframes and shuffle partitions all over"),
        (5, "yet another unrelated document mentioning embeddings vectors and cosine distances"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups_and_drop(self, dup_docs):
        groups = exact_duplicate_groups(dup_docs).collect()
        assert len(groups) == 1
        assert groups[0].n_docs == 2
        assert groups[0].keeper == 1
        assert drop_exact_duplicates(dup_docs).count() == 4


class TestMinhashLSH:
    def test_planted_neardups_are_candidates(self, dup_docs):
        pairs = {(r.a, r.b) for r in minhash_candidate_pairs(dup_docs).collect()}
        assert (1, 2) in pairs  # exact dup always collides
        assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides in >=1 band
        # unrelated docs should not pair with everything
        assert (4, 5) not in pairs

    def test_jaccard_verify(self, dup_docs):
        out = {(r.a, r.b): r.jaccard for r in jaccard_pairs(dup_docs, kind="word", n=3, threshold=0.5).collect()}
        assert out[(1, 2)] == 1.0
        assert (1, 3) in out and 0.5 <= out[(1, 3)] < 1.0


def _shingle_hash(shingle: str) -> int:
    """Python restatement of dedup.shingle_hash_expr (28 bits)."""
    return int(hashlib.md5(shingle.encode()).hexdigest()[:7], 16)


def _char_shingles(text: str, n: int = 5) -> set[str]:
    t = text.lower()
    return {t[i : i + n] for i in range(len(t) - n + 1)}


class TestMinhashCoefficients:
    def test_every_hash_function_wraps(self):
        for a, b in MINHASH_COEFFS:
            assert a % 2 == 1 and a < MINHASH_PRIME
            assert a * 2**28 >= MINHASH_PRIME  # wraps over 28-bit shingle hashes
            assert (2**28 - 1) * a + b < 2**63  # no bigint overflow

    def test_sharing_only_the_smallest_shingle_is_not_a_band0_pair(self, spark):
        shared = min((f"{i:05d}" for i in range(100000)), key=_shingle_hash)
        texts = {1: shared + "abcdefghijklm" * 2, 2: shared + "nopqrstuvwxyz" * 2}
        sh = {d: _char_shingles(t) for d, t in texts.items()}
        assert sh[1] & sh[2] == {shared}
        assert all(min(s, key=_shingle_hash) == shared for s in sh.values())
        # a multiplier that never wraps keeps the order of the raw hashes,
        # so such a band would be the shared shingle in both documents
        assert all(
            min(s, key=lambda x: (_shingle_hash(x) * a + 1) % MINHASH_PRIME) == shared
            for a in (1, 3, 5, 7)
            for s in sh.values()
        )
        docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        band0 = {
            r.doc_id: r.bucket
            for r in lsh_band_buckets(minhash_signatures(docs)).filter("band = 0").collect()
        }
        assert band0[1] != band0[2]


class TestLshRecallAudit:
    def test_sample_one_equals_full_audit(self, spark, sf_dir):
        """sample=1.0 must be the exact full-corpus audit — same numbers
        the q_lsh_recall oracle verifies (the sampled scale mode changes
        cost, never the sample=1.0 semantics)."""
        from vectorflow_spark.operators.dedup import lsh_recall_audit

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .limit(200)
        )
        [full] = lsh_recall_audit(docs, sample=1.0).collect()
        [again] = lsh_recall_audit(docs).collect()
        assert (full.n_exact, full.n_hit, full.recall) == (again.n_exact, again.n_hit, again.recall)
        assert full.n_exact > 0

    def test_sampled_mode_is_deterministic_and_smaller(self, spark, sf_dir):
        from vectorflow_spark.operators.dedup import lsh_recall_audit

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        [a] = lsh_recall_audit(docs, sample=0.5).collect()
        [b] = lsh_recall_audit(docs.repartition(7), sample=0.5).collect()
        # hash-slice: stable across runs AND partitionings (not RNG)
        assert (a.n_exact, a.n_hit) == (b.n_exact, b.n_hit)
        [full] = lsh_recall_audit(docs).collect()
        assert 0 < a.n_exact < full.n_exact

    def test_sampled_recall_within_tolerance_of_exact(self, spark, sf_dir):
        """The production (sampled) audit must estimate the exact-mode
        recall: within 0.15 absolute on the driver corpus — the pin that
        makes q_lsh_recall_sampled a trustworthy stand-in for the 4 s
        exact oracle mode in the bench."""
        from vectorflow_spark.operators.dedup import lsh_recall_audit

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        [exact] = lsh_recall_audit(docs, sample=1.0).collect()
        [sampled] = lsh_recall_audit(docs, sample=0.3).collect()
        assert sampled.n_exact > 0
        assert abs(sampled.recall - exact.recall) <= 0.15

    def test_sample_bounds_validated(self, spark, sf_dir):
        import pytest as _pytest

        from vectorflow_spark.operators.dedup import lsh_recall_audit

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        with _pytest.raises(ValueError):
            lsh_recall_audit(docs, sample=0.0)
        with _pytest.raises(ValueError):
            lsh_recall_audit(docs, sample=1.5)


class TestPostingListCap:
    def test_viral_duplicate_cluster_is_bounded(self, spark):
        """A 1000-copy boilerplate cluster must not explode: with
        max_bucket=20 every band keeps only the 20 lowest ids, so pair
        output is C(20,2)=190, not C(1000,2)≈500k — and the retained
        members still link the cluster into one component."""
        from vectorflow_spark.operators.dedup import connected_components

        viral = "massively duplicated boilerplate text that went viral everywhere"
        rows = [(i, viral) for i in range(1000)]
        rows.append((2000, "a genuinely unique document about something else entirely"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        pairs = minhash_candidate_pairs(docs, max_bucket=20)
        got = pairs.collect()
        assert len(got) == 190
        assert max(max(r.a, r.b) for r in got) == 19  # only the 20 lowest ids pair
        comp = connected_components(pairs, docs.select("doc_id"))
        n_components = comp.select("component").distinct().count()
        # capped members beyond 20 become singletons (documented recall
        # bound — exact dups are drop_exact_duplicates's job); the
        # retained 20 collapse into ONE component plus the unique doc
        assert comp.filter(F.col("component") == 0).count() == 20
        assert n_components == 1 + (1000 - 20) + 1

    def test_default_cap_leaves_small_buckets_untouched(self, dup_docs):
        uncapped = {(r.a, r.b) for r in minhash_candidate_pairs(dup_docs, max_bucket=1000000).collect()}
        default = {(r.a, r.b) for r in minhash_candidate_pairs(dup_docs).collect()}
        assert uncapped == default


class TestIvfKmeansSeeding:
    def test_kmeans_parallel_seeding(self, spark, sf_dir):
        """method='kmeans' runs pyspark.ml k-means|| + Lloyd: right
        centroid count/dim, assignment covers multiple clusters, and the
        downstream index structure is identical to the lowest-id seed."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
        cents = ivf_centroids(emb, n_centroids=4, method="kmeans", max_iter=3)
        assert len(cents) == 4
        assert all(len(v) == 64 for _, v in cents)
        assigned = ivf_assign(emb, cents)
        n_used = assigned.select("cluster").distinct().count()
        assert 2 <= n_used <= 4
        assert assigned.count() == 200


class TestConnectedComponents:
    def test_chain_converges_to_min_label(self, spark):
        """A 4-chain needs multiple propagation rounds (diameter 3); the
        singleton keeps its own id as component."""
        from vectorflow_spark.operators.dedup import connected_components

        edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long")
        verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long")
        comp = {r.doc_id: r.component for r in connected_components(edges, verts).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


class TestSimhash:
    def test_locality(self, dup_docs):
        h = {r.doc_id: r.simhash for r in simhash_expr_pipeline(dup_docs).collect()}
        assert h[1] == h[2]  # identical text -> identical fingerprint

        def hamming(a, b):
            return bin(a ^ b).count("1")

        assert hamming(h[1], h[3]) < hamming(h[1], h[4])


class TestSimilaritySearch:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    @pytest.fixture(scope="class")
    def query_vec(self, emb):
        return list(emb.filter(F.col("vec_id") == 7).first().embedding)

    def test_lsh_planted_neighbor(self, spark, emb, query_vec):
        # a true near-duplicate of the query must land in the same bucket
        # and be retrieved (this is the case LSH exists for; uniform random
        # vectors have no close neighbors, so raw recall there is weak by
        # construction — the multiprobe scan fraction, not a bug)
        near = [v * 0.99 + 0.001 for v in query_vec]
        extra = spark.createDataFrame([(9001, near, 0)], "vec_id long, embedding array<float>, label int")
        bucketed = with_lsh_buckets(emb.unionByName(extra), dim=64, n_planes=6)
        approx = [r.vec_id for r in lsh_topk_cosine(bucketed, query_vec, k=10, n_planes=6).collect()]
        assert 7 in approx  # the query vector itself
        assert 9001 in approx  # the planted near-duplicate
        # deterministic floor vs brute force on this fixed dataset
        exact = [r.vec_id for r in topk_cosine(emb, query_vec, k=10).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.2

    def test_ivf_recall_and_pruning(self, emb, query_vec):
        cents = ivf_centroids(emb, n_centroids=8)
        assigned = ivf_assign(emb, cents)
        assert assigned.select("cluster").distinct().count() <= 8
        exact = [r.vec_id for r in topk_cosine(emb, query_vec, k=10).collect()]
        # nprobe=8 == scan everything -> must equal brute force exactly
        full = [r.vec_id for r in ivf_topk_cosine(assigned, cents, query_vec, k=10, nprobe=8).collect()]
        assert full == exact
        approx = [r.vec_id for r in ivf_topk_cosine(assigned, cents, query_vec, k=10, nprobe=4).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.2  # deterministic on the fixed sf0.001 data

    def test_knn_join_ranks(self, emb):
        qs = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = knn_join(qs, emb, k=4).collect()
        assert len(out) == 12
        # rank 1 of each query is the query vector itself (cosine 1.0)
        best = {r.q_id: r.vec_id for r in out if r.rank == 1}
        assert best == {0: 0, 1: 1, 2: 2}


class TestEmbeddingNearDup:
    def test_blocked_pairs(self, spark):
        v = [1.0, 0.0, 0.0, 0.0]
        rows = [(1, v, 0), (2, v, 0), (3, [0.0, 1.0, 0.0, 0.0], 0), (4, v, 1)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        pairs = {(r.a, r.b) for r in embedding_neardup_pairs(df, block_col="label", threshold=0.99).collect()}
        assert pairs == {(1, 2)}  # 4 is identical but in another block

    def test_per_block_cap_bounds_skewed_blocks(self, spark):
        """r9 verdict item 4: a skewed block must not go quadratic — the
        cap keeps the max_block LOWEST ids of an oversized block (same
        deterministic recall semantics as the minhash posting-list cap)."""
        v = [1.0, 0.0]
        rows = [(i, v, 0) for i in range(1, 7)] + [(10, v, 1), (11, v, 1)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        pairs = {
            (r.a, r.b)
            for r in embedding_neardup_pairs(
                df, block_col="label", threshold=0.99, max_block=3
            ).collect()
        }
        # block 0: only ids 1..3 survive the cap -> 3 pairs; block 1 under cap
        assert pairs == {(1, 2), (1, 3), (2, 3), (10, 11)}

    def test_unblocked_requires_explicit_cap(self, spark):
        """The quadratic (no block_col) path must be an explicit opt-in."""
        import pytest

        v = [1.0, 0.0]
        df = spark.createDataFrame([(1, v), (2, v)], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="max_rows"):
            embedding_neardup_pairs(df)
        with pytest.raises(ValueError, match="exceeds"):
            embedding_neardup_pairs(df, max_rows=1)
        pairs = {(r.a, r.b) for r in embedding_neardup_pairs(df, max_rows=10).collect()}
        assert pairs == {(1, 2)}


class TestMaxSim:
    def test_late_interaction_beats_single_vector_intuition(self, spark):
        """The defining MaxSim property: a doc covering EVERY query token
        moderately outranks one matching a single token perfectly."""
        from vectorflow_spark.operators.similarity import maxsim_rerank

        q = spark.createDataFrame(
            [(0, [[1.0, 0.0], [0.0, 1.0]])],
            "query_id long, qtoks array<array<double>>",
        )
        docs = spark.createDataFrame(
            [
                (10, [[0.9, 0.1], [0.1, 0.9]]),  # covers both tokens well
                (11, [[1.0, 0.0], [1.0, 0.0]]),  # perfect on token 1 only
                (12, [[0.0, 0.0], [0.0, 0.0]]),  # zero vectors: cos -> 0
            ],
            "doc_id long, dtoks array<array<double>>",
        )
        rows = maxsim_rerank(q, docs, topk=3).collect()
        order = [r.doc_id for r in rows]
        assert order == [10, 11, 12]
        scores = {r.doc_id: r.maxsim_micro for r in rows}
        assert scores[10] > scores[11] > scores[12] == 0
        assert [r.rnk for r in rows] == [1, 2, 3]


class TestTextStats:
    def test_language_votes(self, spark):
        rows = [
            (1, "the cat and the dog is in that house with the mouse"),
            (2, "el perro y la casa de que los gatos en una calle"),
            (3, "zzz qqq xxx"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.pred_lang for r in predict_language(df).collect()}
        assert got == {1: "en", 2: "es", 3: "und"}

    def test_quality_score_ordering(self, spark):
        rows = [
            (1, "the cat and the dog is in the house with all of the mice"),
            (2, "0101!!??$$%% 1234 @@@@ ???? 9999 !!!"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.quality_score for r in quality_score(df).collect()}
        assert got[1] > got[2]


class TestRrfFuse:
    def test_known_fusion(self, spark):
        from vectorflow_spark.operators.similarity import rrf_fuse

        dense = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id long, rank int")
        lex = spark.createDataFrame([(20, 1), (10, 2), (40, 3)], "id long, rank int")
        rows = {r.id: r for r in rrf_fuse([dense, lex], k=60).collect()}
        # hand-computed micro contributions: 1e6/61=16393, 1e6/62=16129, 1e6/63=15873
        assert rows[10].rrf_micro == 16393 + 16129
        assert rows[20].rrf_micro == 16129 + 16393
        assert rows[30].rrf_micro == 15873 and rows[30].n_lists == 1
        assert rows[40].rrf_micro == 15873
        # both-list ids outrank single-list ids
        ordered = [r.id for r in rrf_fuse([dense, lex]).collect()]
        assert set(ordered[:2]) == {10, 20}

    def test_empty_rankings_rejected(self, spark):
        from vectorflow_spark.operators.similarity import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([])


class TestDuplicateSubstringSpans:
    def test_shared_span_detected(self, spark):
        from vectorflow_spark.operators.dedup import duplicate_substring_spans

        boiler = "this license text is repeated verbatim across documents here"
        docs = spark.createDataFrame(
            [
                (1, f"alpha unique opening words {boiler} tail one"),
                (2, f"totally different beginning prose {boiler} other ending"),
                (3, "no shared material at all in this third document body text"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in duplicate_substring_spans(docs, window=8).collect()}
        # docs 1 and 2 share the 9-word boilerplate -> two 8-word spans each
        assert set(out) == {1, 2}
        assert out[1].n_dup_windows == 2 and out[2].n_dup_windows == 2
        assert out[1].n_dup_hashes == 2

    def test_within_doc_repetition_counts(self, spark):
        from vectorflow_spark.operators.dedup import duplicate_substring_spans

        rep = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [(1, f"{rep} filler alpha beta gamma delta {rep}")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in duplicate_substring_spans(docs, window=8).collect()}
        # the 8-word block repeats inside the same doc: both occurrences count
        assert out[1].n_dup_windows == 2 and out[1].n_dup_hashes == 1

    def test_short_docs_excluded(self, spark):
        from vectorflow_spark.operators.dedup import duplicate_substring_spans

        docs = spark.createDataFrame(
            [(1, "too short"), (2, "also short")], "doc_id long, text string"
        )
        assert duplicate_substring_spans(docs, window=8).count() == 0


class TestRemoveDuplicateSpans:
    def test_keep_first_cut_later(self, spark):
        from vectorflow_spark.operators.dedup import remove_duplicate_spans

        boiler = "This License Text Is Repeated Verbatim Across Many Documents Here"
        docs = spark.createDataFrame(
            [
                (1, f"alpha unique opening words {boiler} tail one"),
                (2, f"totally different beginning prose {boiler.lower()} other ending"),
                (3, "untouched third document with enough words to be eligible here"),
                (4, "tiny doc"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in remove_duplicate_spans(docs, window=8).collect()}
        # first occurrence kept WITH original case; later (case-insensitive
        # match) occurrence fully cut, overlapping windows unioned
        assert boiler in out[1].clean_text and out[1].n_removed_tokens == 0
        assert out[2].clean_text == "totally different beginning prose other ending"
        assert out[2].n_removed_tokens == 10
        assert out[3].n_removed_tokens == 0 and out[4].clean_text == "tiny doc"
        assert len(out) == 4  # every input doc comes back

    def test_whole_doc_removed_yields_empty(self, spark):
        from vectorflow_spark.operators.dedup import remove_duplicate_spans

        rep = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [(1, rep), (2, rep)], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in remove_duplicate_spans(docs, window=8).collect()}
        assert out[1].clean_text == rep and out[1].n_removed_tokens == 0
        assert out[2].clean_text == "" and out[2].n_removed_tokens == 8


class TestBinaryQuantize:
    def test_pack_and_hamming(self, spark):
        from vectorflow_spark.operators.similarity import binary_quantize, hamming_topk

        rows = [
            (0, [1.0] * 64),                      # all bits set
            (1, [-1.0] * 64),                     # no bits
            (2, [1.0] * 32 + [-1.0] * 32),        # word0 full, word1 empty
            (3, [0.0] * 63 + [2.5]),              # only bit 31 of word 1 (zero is NOT positive)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        coded = {r.vec_id: r.code for r in binary_quantize(df, dim=64).collect()}
        full = (1 << 32) - 1
        assert coded[0] == [full, full]
        assert coded[1] == [0, 0]
        assert coded[2] == [full, 0]
        assert coded[3] == [0, 1 << 31]
        # hamming distances against query 0: 0, 64, 32, 63
        qs = binary_quantize(df, dim=64).filter("vec_id = 0").selectExpr(
            "vec_id as q_id", "code as q_code"
        )
        out = hamming_topk(qs, binary_quantize(df, dim=64), k=4)
        got = {r.vec_id: (r.hamming, r.rank) for r in out.collect()}
        assert got == {0: (0, 1), 2: (32, 2), 3: (63, 3), 1: (64, 4)}
