"""Pipeline configuration.

Replaces the reference's control-plane request objects — ``VectorflowRequest``
(reference src/shared/vectorflow_request.py:4-18), ``EmbeddingsMetadata``
(src/models/embeddings_metadata.py:7-15) and ``VectorDBMetadata``
(src/models/vector_db_metadata.py:6-13) — with one plain dataclass handed to
the pipeline builder. Configuration never rides with data rows (the
reference's per-message credential injection, src/worker/worker.py:379-387,
is deliberately not replicated — SURVEY.md §2.9 Q4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class ChunkStrategy(str, Enum):
    """Mirror of reference src/shared/chunk_strategy.py:3-10."""

    EXACT = "exact"
    EXACT_BY_CHARACTERS = "exact_by_characters"
    PARAGRAPH = "paragraph"
    PARAGRAPH_BY_CHARACTERS = "paragraph_by_characters"
    SENTENCE = "sentence"
    SENTENCE_BY_CHARACTERS = "sentence_by_characters"
    CUSTOM = "custom"


class JobStatus(str, Enum):
    """Mirror of reference src/shared/job_status.py:3-9."""

    NOT_STARTED = "NOT_STARTED"
    IN_PROGRESS = "IN_PROGRESS"
    CREATING_BATCHES = "CREATING_BATCHES"
    PROCESSING_BATCHES = "PROCESSING_BATCHES"
    COMPLETED = "COMPLETED"
    PARTIALLY_COMPLETED = "PARTIALLY_COMPLETED"
    FAILED = "FAILED"


class BatchStatus(str, Enum):
    """Mirror of reference src/shared/batch_status.py:3-7."""

    NOT_STARTED = "NOT_STARTED"
    PROCESSING = "PROCESSING"
    COMPLETED = "COMPLETED"
    FAILED = "FAILED"


# Hard limits / tuning knobs carried over from the reference's implicit
# performance envelope (BASELINE.md).
MAX_OPENAI_EMBEDDING_BATCH_SIZE = 2048  # reference src/worker/config.py:2
VECTOR_UPSERT_BATCH_SIZE = 128  # reference src/worker/config.py:3
MAX_EMBED_RETRIES = 5  # reference src/worker/worker.py:79-90
MAX_FILE_SIZE_BYTES = 25 * 1024 * 1024  # reference src/api/app.py:54-59
DEFAULT_LINES_PER_BATCH = 1000  # reference src/shared/vectorflow_request.py:14
HUGGING_FACE_BATCH_SIZE = 32  # reference src/worker/config.py:6


@dataclass
class PipelineConfig:
    """Everything a pipeline run needs; defaults mirror the reference's
    server-side defaults (chunk_size 512 / overlap 256,
    reference src/models/embeddings_metadata.py:42-44)."""

    chunk_strategy: ChunkStrategy = ChunkStrategy.EXACT
    chunk_size: int = 512
    chunk_overlap: int = 256
    lines_per_batch: int = DEFAULT_LINES_PER_BATCH
    embeddings_type: str = "deterministic"  # openai | hugging_face | deterministic | md5hex
    model: str = "text-embedding-ada-002"
    embedding_dim: int = 64  # driver testdata dim; ada=1536, bge=384
    embed_batch_size: int = MAX_OPENAI_EMBEDDING_BATCH_SIZE
    embed_retries: int = MAX_EMBED_RETRIES
    sink: str = "parquet"  # parquet | qdrant | pinecone | weaviate | webhook
    sink_options: dict = field(default_factory=dict)
    upsert_batch_size: int = VECTOR_UPSERT_BATCH_SIZE
    max_file_size_bytes: int = MAX_FILE_SIZE_BYTES
    # training-corpus curation stage (off by default: the reference embeds
    # whatever it is given; a 100 TB corpus build wants both ON)
    curate_quality: bool = False  # Gopher rule filter before chunking
    curate_dedup: bool = False  # normalized-fingerprint dedup before chunking

    def __post_init__(self) -> None:
        if self.chunk_size <= 0:
            raise ValueError("chunk_size must be positive")
        if not (0 <= self.chunk_overlap < self.chunk_size):
            # the reference would loop forever on overlap >= size
            # (range step <= 0, src/worker/worker.py:196); we reject instead
            raise ValueError("chunk_overlap must satisfy 0 <= overlap < chunk_size")
