"""End-to-end pipeline tests: canonical schema, idempotency, batching,
filters, rollup — the reference's orchestration tests re-expressed without
mocks (the pipeline is pure DataFrames; only sinks do I/O)."""

import pytest
from pyspark.sql import functions as F

from vectorflow_spark.config import BatchStatus, ChunkStrategy, PipelineConfig
from vectorflow_spark.embed.backends import deterministic_embedding, embed
from vectorflow_spark.operators.batching import batch_counts, batches, split_lines
from vectorflow_spark.operators.filters import (
    dedup_filenames,
    filter_nonempty,
    filter_valid_source,
    semi_join_valid,
)
from vectorflow_spark.operators.rollup import job_rollup
from vectorflow_spark.pipeline import run_pipeline


def _cfg(**kw):
    defaults = dict(
        chunk_strategy=ChunkStrategy.EXACT_BY_CHARACTERS,
        chunk_size=100,
        chunk_overlap=50,
        embeddings_type="deterministic",
        embedding_dim=16,
    )
    defaults.update(kw)
    return PipelineConfig(**defaults)


class TestCuratedPipeline:
    def test_curation_stage_drops_junk_and_dups(self, spark):
        """curate_quality drops the too-short/symbol docs; curate_dedup
        collapses formatting-only duplicates — before chunk+embed ever run."""
        good = " ".join(["a solid sentence with plenty of normal words here"] * 8)
        rows = [
            (1, good, "a.txt"),
            (2, "tiny", "b.txt"),  # fails word-count rule
            (3, good + "  ", "c.txt"),  # formatting-only duplicate of 1
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = run_pipeline(docs, _cfg(curate_quality=True, curate_dedup=True))
        survivors = {r.source_document for r in out.collect()}
        assert survivors == {"a.txt"}

    def test_curation_off_by_default(self, spark):
        rows = [(1, "tiny", "b.txt")]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        assert run_pipeline(docs, _cfg()).count() > 0


class TestPipeline:
    def test_canonical_schema_and_rows(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        out = run_pipeline(docs, _cfg())
        assert [f.name for f in out.schema.fields] == [
            "id",
            "source_data",
            "source_document",
            "embeddings",
        ]
        rows = out.collect()
        assert len(rows) > 0
        assert all(len(r.embeddings) == 16 for r in rows)

    def test_idempotent_ids(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
        a = sorted(r.id for r in run_pipeline(docs, _cfg()).select("id").collect())
        b = sorted(r.id for r in run_pipeline(docs, _cfg()).select("id").collect())
        assert a == b  # re-run yields identical ids -> upserts are idempotent

    def test_deterministic_embedding_matches_local(self, spark):
        df = spark.createDataFrame([("hello world",)], "text string")
        r = embed(df, _cfg(embedding_dim=8)).first()
        assert list(r.vector) == pytest.approx(deterministic_embedding("hello world", 8))

    def test_embed_preserves_order_across_minibatches(self, spark):
        rows = [(i, f"text-{i}") for i in range(100)]
        df = spark.createDataFrame(rows, "i long, text string").repartition(3)
        cfg = _cfg(embedding_dim=4, embed_batch_size=7)  # force many slices
        got = embed(df, cfg).collect()
        for r in got:
            assert list(r.vector) == pytest.approx(deterministic_embedding(f"text-{r.i}", 4))


class TestObservedPipeline:
    def test_metrics_ride_the_action(self, spark, sf_dir):
        """observe() metrics arrive with the single write action — no
        second job — and the counts are mutually consistent."""
        from vectorflow_spark.pipeline import job_status_row

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        obs: dict = {}
        records = run_pipeline(docs, _cfg(), observations=obs)
        records.write.format("noop").mode("overwrite").save()
        status = job_status_row(obs, job_id="job-1")
        assert status["job_status"] == "COMPLETED"
        assert status["n_docs"] > 0
        assert status["n_records"] >= status["n_docs"]  # >=1 chunk per doc
        # every record carries embedding_dim floats
        assert obs["records_out"].get["n_floats"] == status["n_records"] * 16

    @pytest.mark.parametrize("curate_quality", [False, True])
    @pytest.mark.parametrize("curate_dedup", [False, True])
    def test_observed_matches_plain_under_curation(self, spark, sf_dir, curate_quality, curate_dedup):
        """Observing adds metrics, not behaviour: the observed plan gives
        the plain plan's records under every curate flag, and the status
        counts describe the curated documents that were actually chunked."""
        from collections import Counter

        from vectorflow_spark.operators.filters import filter_max_size
        from vectorflow_spark.pipeline import curate_documents, job_status_row

        base = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
        # formatting-only copies (sf0.001 has no fingerprint duplicates),
        # named after their original so the original is the keeper
        copies = base.limit(6).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
            "lang",
            F.concat("source", F.lit("~copy")).alias("source"),
            "n_chars",
        )
        docs = base.unionByName(copies)
        cfg = _cfg(curate_quality=curate_quality, curate_dedup=curate_dedup)

        plain = Counter(r.id for r in run_pipeline(docs, cfg).collect())
        obs: dict = {}
        observed = Counter(r.id for r in run_pipeline(docs, cfg, observations=obs).collect())
        status = job_status_row(obs, "job-c")

        filtered = filter_max_size(filter_nonempty(docs), "text", cfg.max_file_size_bytes)
        n_curated = curate_documents(filtered, cfg).count()
        assert (n_curated < filtered.count()) == (curate_quality or curate_dedup)
        assert observed == plain
        assert status["n_records"] == sum(plain.values())
        assert status["n_docs"] == n_curated
        assert status["job_status"] == "COMPLETED"

    def test_runtime_empty_input_is_not_started(self, spark, sf_dir):
        """Zero surviving documents (runtime-empty, via a filter a file
        source can't fold away) still produces a status row — the
        NOT_STARTED terminal state."""
        from vectorflow_spark.pipeline import job_status_row

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 0)
        obs: dict = {}
        records = run_pipeline(docs, _cfg(), observations=obs)
        records.write.format("noop").mode("overwrite").save()
        assert job_status_row(obs, "job-2")["job_status"] == "NOT_STARTED"


class TestBatching:
    def test_split_file_reference_counts(self, spark):
        # reference test_split_file: 2048 lines -> 3 batches of 1000/1000/48
        text = "\n".join(f"line{i}" for i in range(2048))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        b = batches(df, lines_per_batch=1000).collect()
        assert sorted((r.batch_id, r.line_count) for r in b) == [(0, 1000), (1, 1000), (2, 48)]

    def test_trailing_newline_adds_no_line(self, spark):
        df = spark.createDataFrame([(1, "a\nb\n"), (2, "a\nb"), (3, "")], "doc_id long, text string")
        got = {r.doc_id: r.line_count for r in batch_counts(df, lines_per_batch=10).collect()}
        assert got == {1: 2, 2: 2, 3: 0}

    def test_split_lines_positions(self, spark):
        df = spark.createDataFrame([(1, "x\ny\nz")], "doc_id long, text string")
        rows = sorted((r.line_pos, r.line, r.batch_id) for r in split_lines(df, lines_per_batch=2).collect())
        assert rows == [(0, "x", 0), (1, "y", 0), (2, "z", 1)]


class TestFiltersAndRollup:
    def test_filters(self, spark):
        df = spark.createDataFrame(
            [(1, "text", "a.txt"), (2, "", "b.txt"), (3, "t", "c.exe"), (4, "t", "a.txt")],
            "doc_id long, text string, source string",
        )
        assert filter_nonempty(df).count() == 3
        assert filter_valid_source(df).count() == 3
        assert dedup_filenames(df).count() == 3  # a.txt duplicated

    def test_semi_join(self, spark):
        df = spark.createDataFrame([(i, f"c{i}") for i in range(10)], "k long, chunk_id string")
        valid = spark.createDataFrame([(f"c{i}",) for i in (1, 3, 5)], "chunk_id string")
        assert semi_join_valid(df, valid).count() == 3

    def test_job_rollup_statuses(self, spark):
        rows = (
            [(1, BatchStatus.COMPLETED.value)] * 3
            + [(2, BatchStatus.COMPLETED.value), (2, BatchStatus.FAILED.value)]
            + [(3, BatchStatus.FAILED.value)]
        )
        df = spark.createDataFrame(rows, "job_id long, batch_status string")
        got = {r.job_id: r.job_status for r in job_rollup(df).collect()}
        assert got == {1: "COMPLETED", 2: "PARTIALLY_COMPLETED", 3: "FAILED"}


class TestParquetSink:
    def test_write_and_reread(self, spark, sf_dir, tmp_path):
        from vectorflow_spark.sinks.writers import write_parquet

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
        out = run_pipeline(docs, _cfg())
        path = str(tmp_path / "vectors")
        write_parquet(out, path)
        back = spark.read.parquet(path)
        assert back.count() == out.count()
        assert set(back.columns) == {"id", "source_data", "source_document", "embeddings"}
