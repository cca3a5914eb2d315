"""Each output check passes on the program's real output for a small seed
and rejects a corrupted copy of it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

import checks
import corpus
import perfbench_fake

SIZE, OVERLAP, DIM = 512, 256, 64


@pytest.fixture(scope="module")
def local_output(spark, work):
    from vectorflow_spark.config import ChunkStrategy, PipelineConfig
    from vectorflow_spark.pipeline import run_pipeline
    from vectorflow_spark.sinks.writers import write_vectors

    path, docs = corpus.local_corpus(work, seed=7, n_docs=40)
    out = os.path.join(work, "local-out")
    cfg = PipelineConfig(
        chunk_strategy=ChunkStrategy.EXACT_BY_CHARACTERS,
        chunk_size=SIZE,
        chunk_overlap=OVERLAP,
        embeddings_type="deterministic",
        embedding_dim=DIM,
        sink="parquet",
        sink_options={"path": out},
    )
    write_vectors(run_pipeline(spark.read.parquet(path), cfg), cfg)
    return ds.dataset(out, format="parquet").to_table().sort_by("id"), docs


def test_local_output_passes(local_output):
    table, docs = local_output
    assert checks.check_local(table, docs, SIZE, OVERLAP, DIM) == []


def test_local_rejects_dropped_record(local_output):
    table, docs = local_output
    assert checks.check_local(table.slice(1), docs, SIZE, OVERLAP, DIM)


def test_local_rejects_duplicated_record(local_output):
    table, docs = local_output
    problems = checks.check_local(pa.concat_tables([table, table.slice(0, 1)]), docs, SIZE, OVERLAP, DIM)
    assert any("duplicate ids" in p for p in problems), problems
    assert any("sum of per-document window counts" in p for p in problems), problems


def test_local_rejects_swapped_vectors(local_output):
    table, docs = local_output
    vecs = table.column("embeddings").to_pylist()
    vecs[0], vecs[1] = vecs[1], vecs[0]
    i = table.schema.get_field_index("embeddings")
    swapped = table.set_column(i, "embeddings", pa.array(vecs, pa.list_(pa.float32())))
    problems = checks.check_local(swapped, docs, SIZE, OVERLAP, DIM)
    assert any("2 records differ" in p for p in problems), problems


@pytest.fixture(scope="module")
def remote_spool(spark, work):
    from vectorflow_spark.config import ChunkStrategy, PipelineConfig
    from vectorflow_spark.pipeline import run_pipeline
    from vectorflow_spark.sinks.writers import write_vectors

    path, docs, survivors = corpus.remote_corpus(work, seed=7, originals=40)
    tag = "test-full"
    cfg = PipelineConfig(
        chunk_strategy=ChunkStrategy.PARAGRAPH_BY_CHARACTERS,
        chunk_size=SIZE,
        chunk_overlap=OVERLAP,
        embeddings_type="openai",
        model=f"perfbench:{tag}",
        embedding_dim=DIM,
        sink="qdrant",
        sink_options={"collection": tag},
        curate_quality=True,
        curate_dedup=True,
    )
    write_vectors(run_pipeline(spark.read.parquet(path), cfg), cfg)

    spool = os.environ["PERFBENCH_SPOOL"]
    return {tag: (perfbench_fake.read(spool, tag, "embed"), perfbench_fake.read(spool, tag, "sink"))}, docs, survivors


def test_remote_output_passes(remote_spool):
    spools, docs, survivors = remote_spool
    assert checks.check_remote(spools, docs, survivors, SIZE, OVERLAP) == []


def test_remote_rejects_dropped_record(remote_spool):
    spools, docs, survivors = remote_spool
    (tag, (calls, ups)), = spools.items()
    first = dict(ups[0], n=ups[0]["n"] - 1, rows=ups[0]["rows"][1:])
    first["digest"] = perfbench_fake.digest(r[0] for r in first["rows"])
    problems = checks.check_remote({tag: (calls, [first, *ups[1:]])}, docs, survivors, SIZE, OVERLAP)
    assert any("sink received" in p for p in problems), problems


def test_remote_sink_rejects_swapped_vectors(work):
    """The fake sink's executor-side check counts both rows of a swap."""
    from qdrant_client import bad_rows
    from qdrant_client.models import PointStruct

    texts = ["alpha text", "beta text", "gamma text"]
    points = [
        PointStruct(id=str(i), vector=perfbench_fake.vector(t).tolist(), payload={"source_data": t})
        for i, t in enumerate(texts)
    ]
    assert bad_rows(points) == 0
    points[0].vector, points[1].vector = points[1].vector, points[0].vector
    assert bad_rows(points) == 2
