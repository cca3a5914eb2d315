"""The end-to-end pipeline: documents -> chunks -> vectors -> sink records.

This is the reference's whole 4-stage dataflow (extract -> split -> chunk ->
embed -> upload, SURVEY.md §3) collapsed into ONE declarative Spark plan.
There are no queue hops and no control-plane rendezvous: Catalyst sees the
entire lineage, so filter pushdown and column pruning reach the parquet scan,
and chunk+embed run fused in the same stage (no shuffle between them —
order preservation is positional within rows, SURVEY.md §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from vectorflow_spark.config import PipelineConfig
from vectorflow_spark.embed.backends import embed
from vectorflow_spark.operators.chunkers import chunk
from vectorflow_spark.operators.filters import filter_max_size, filter_nonempty
from vectorflow_spark.sinks.writers import to_vector_records


def curate_documents(
    docs: DataFrame, cfg: PipelineConfig, text_col: str = "text", doc_col: str = "source"
) -> DataFrame:
    """Optional corpus-curation stage between ingest and chunking: Gopher
    rule filter (quality) and/or normalized-fingerprint dedup (keeper =
    lowest ``doc_col`` per fingerprint — DETERMINISTIC, where a plain
    dropDuplicates would keep whichever row a partitioning happened to
    deliver first and silently change the corpus between runs). Both are
    cheap relative to embed — the filter is one projection, the dedup one
    uniform-key shuffle — and both REMOVE rows, so running them before the
    expensive chunk+embed stages is strictly cheaper than after. Each is
    individually oracle-verified (q_gopher_quality, q_fingerprint_dedup);
    the composition is verified by q_curation_pipeline."""
    from vectorflow_spark.operators.textstats import fingerprint

    out = docs
    if cfg.curate_quality:
        # the rules evaluate inline as a pure predicate over the text
        # column (no id joins, no second pass) — same constants and
        # arithmetic as gopher_quality_rules
        from vectorflow_spark.operators.textstats import (
            GOPHER_MAX_MEAN_WORD_LEN,
            GOPHER_MAX_WORDS,
            GOPHER_MIN_ALPHA_RATIO,
            GOPHER_MIN_MEAN_WORD_LEN,
            GOPHER_MIN_WORDS,
        )

        toks = F.expr(f"filter(split(lower({text_col}), '\\\\s+'), x -> x != '')")
        n_words = F.size(toks).cast("bigint")
        sum_len = F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        mean_wl = F.when(n_words > 0, sum_len / n_words.cast("double"))
        alpha = F.when(
            n_words > 0,
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n_words.cast("double"),
        )
        keep = (
            (n_words >= GOPHER_MIN_WORDS)
            & (n_words <= GOPHER_MAX_WORDS)
            & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
            & (alpha >= GOPHER_MIN_ALPHA_RATIO)
        )
        out = out.filter(F.coalesce(keep, F.lit(False)))
    if cfg.curate_dedup:
        from pyspark.sql import Window

        w = Window.partitionBy("_fp").orderBy(doc_col)
        out = (
            out.withColumn("_fp", fingerprint(text_col))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_fp", "_rn")
        )
    return out


def run_pipeline(
    documents: DataFrame,
    cfg: PipelineConfig,
    text_col: str = "text",
    doc_col: str = "source",
    observations: dict | None = None,
) -> DataFrame:
    """documents(doc_id, text, source, ...) -> (id, source_data,
    source_document, embeddings) ready for any U1-U5 writer.

    One repartition sits between the (pushed-down) filters and the chunk+
    embed stages: scan partitions are sized for I/O bytes, but chunking and
    embedding are CPU-bound per document, so partition count must track
    cores, not input size — the Spark analog of the reference's 1000-line
    batch fan-out (SURVEY.md §2.2 P1/P2).

    Job accounting (SURVEY.md §2.8 A1/M6): pass a dict as ``observations``
    and the builder puts two ``Observation``s in it — ``docs_in`` (n_docs,
    n_chars) on the documents that survive the filters and curation, and
    ``records_out`` (n_records, n_floats) on the sink records. The counts
    ride the SAME action as the data — no second pass, no accumulator
    races, exact once-per-row semantics even under task retries. Read
    ``observations[name].get`` AFTER an action has materialized the frame;
    ``job_status_row`` folds them into a status record. The reference
    updates Postgres counters row-by-row per batch (job_service.py:32-51);
    here the same facts cost zero extra jobs. Without a dict the plan has
    no observe nodes."""
    docs = filter_max_size(filter_nonempty(documents, text_col), text_col, cfg.max_file_size_bytes)
    docs = curate_documents(docs, cfg, text_col, doc_col)
    if observations is not None:
        docs = _observe(
            docs,
            observations,
            "docs_in",
            F.count(F.lit(1)).alias("n_docs"),
            # coalesce: sum() over an empty frame is NULL, which breaks the
            # observed-row conversion — 0 is the correct empty-job value
            F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("n_chars"),
        )
    sc = documents.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism)
    chunks = chunk(docs, cfg, text_col=text_col)
    vectors = embed(chunks, cfg, text_col="text")
    records = to_vector_records(vectors, doc_col=doc_col)
    if observations is not None:
        records = _observe(
            records,
            observations,
            "records_out",
            F.count(F.lit(1)).alias("n_records"),
            F.coalesce(F.sum(F.size("embeddings")), F.lit(0)).alias("n_floats"),
        )
    return records


def _observe(df: DataFrame, observations: dict, name: str, *metrics) -> DataFrame:
    observations[name] = Observation(name)
    return df.observe(observations[name], *metrics)


def run_pipeline_from_warc(
    spark,
    warc_dir: str,
    cfg: PipelineConfig,
    glob: str | None = None,
    url_dedup: bool = True,
) -> DataFrame:
    """The packaged crawl-to-vectors entry: ``.warc.gz`` segments ->
    streaming ``vf_warc`` scan -> HTML strip -> canonical-URL dedup ->
    the standard pipeline (curation per cfg, chunk, embed, sink schema).
    This is the composition tests/test_web_corpus_e2e.py verifies step by
    step, exposed as one call so the Common Crawl case is a one-liner:

        records = run_pipeline_from_warc(spark, "s3a://bucket/crawl/", cfg)

    URL dedup keeps the lexically-smallest raw url per canonical url —
    deterministic, and the canonicalization is pure codegen
    (operators/urls.py). Non-UTF8 and non-response records drop out
    before chunking; error rows from corrupt segments (warc_type =
    'error') are excluded by the response filter and can be audited from
    ``read_warc`` directly."""
    from pyspark.sql import Window

    from vectorflow_spark.operators.urls import canonical_url_expr
    from vectorflow_spark.sources.readers import strip_html_expr
    from vectorflow_spark.sources.warcmini import read_warc

    rows = read_warc(spark, warc_dir, glob=glob).filter(F.col("warc_type") == "response")
    docs = rows.select(
        F.col("url").alias("source"),
        canonical_url_expr(F.col("url")).alias("_curl"),
        strip_html_expr(
            F.expr("CASE WHEN is_valid_utf8(body) THEN decode(body, 'UTF-8') END")
        ).alias("text"),
    ).filter(F.col("text").isNotNull())
    if url_dedup:
        w = Window.partitionBy("_curl").orderBy("source")
        docs = docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    docs = docs.select("source", "text")
    return run_pipeline(docs, cfg, text_col="text", doc_col="source")


def job_status_row(observations: dict, job_id: str) -> dict:
    """Fold observed metrics into one reference-shaped status record
    (JobStatus semantics from config.py): COMPLETED when every surviving
    document produced records, FAILED when none did. Appended to a status
    table by the caller — the Spark analog of update_job_with_batch.

    When the plan runs zero tasks through an observe node (a statically
    empty LocalRelation folds the node away; a fully partition-pruned scan
    launches no tasks), the observation has no row to return; that maps to
    the zero-count NOT_STARTED record instead of surfacing the raw error."""
    from vectorflow_spark.config import JobStatus

    def _get(name: str, defaults: dict) -> dict:
        try:
            row = dict(observations[name].get)
        except Exception:  # zero tasks ran through the observe node
            return defaults
        return {k: (defaults[k] if row.get(k) is None else row[k]) for k in defaults}

    docs = _get("docs_in", {"n_docs": 0, "n_chars": 0})
    recs = _get("records_out", {"n_records": 0, "n_floats": 0})
    if recs["n_records"] and docs["n_docs"]:
        status = JobStatus.COMPLETED.value
    elif docs["n_docs"]:
        status = JobStatus.FAILED.value
    else:
        status = JobStatus.NOT_STARTED.value
    return {
        "job_id": job_id,
        "n_docs": docs["n_docs"],
        "n_chars": docs["n_chars"],
        "n_records": recs["n_records"],
        "job_status": status,
    }
