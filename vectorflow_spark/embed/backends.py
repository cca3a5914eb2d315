"""Embedding stage (operators E1-E3) — the "expensive projection".

Reference behavior (embed_openai_batch, src/worker/worker.py:92-113):
chunks are sliced into minibatches of <=2048 (MAX_OPENAI_EMBEDDING_BATCH_SIZE),
embedded by a ThreadPoolExecutor(20) of API calls with 5 attempts and 2^i
backoff per minibatch (get_openai_embedding, :77-90), and zipped back
positionally — order preservation is positional, never a sort.

Spark mapping: ONE ``mapInPandas`` stage. Arrow delivers batches of exactly
2048 rows (session factory pins ``arrow.maxRecordsPerBatch``), the UDF slices
defensively anyway, calls the backend once per slice in a plain loop, and
emits the input columns plus a ``vector`` column. Each task has one call in
flight at a time; concurrency comes from Spark's task slots, not from a pool
inside the task. No shuffle: the embed stage runs in the same task as the
chunker upstream.

Backends:
  openai         E1/E2 parity (import-gated; needs the openai package + key)
  hugging_face   X1 (import-gated; sentence-transformers, batch 32)
  deterministic  E3 — blake2b-seeded pseudo-embedding, the default for tests
                 and the DuckDB oracle (no external service, stable across
                 runs, partitions, and cluster sizes)
"""

from __future__ import annotations

import hashlib
import struct
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from vectorflow_spark.config import PipelineConfig


def deterministic_embedding(text: str, dim: int) -> list[float]:
    """E3: stable pseudo-embedding in [-1, 1]^dim from blake2b(text).

    Counter-mode hashing: block k supplies floats 8k..8k+7, so any dim is
    supported and the value of component j never depends on dim.
    """
    out: list[float] = []
    block = 0
    while len(out) < dim:
        h = hashlib.blake2b(text.encode("utf-8") + b"|" + str(block).encode(), digest_size=32).digest()
        ints = struct.unpack("<8I", h)
        out.extend((v / 2147483647.5) - 1.0 for v in ints)
        block += 1
    return out[:dim]


def _deterministic_batch(texts: list[str], dim: int) -> list[list[float]]:
    return [deterministic_embedding(t or "", dim) for t in texts]


def md5hex_embedding(text: str, dim: int) -> list[float]:
    """SQL-checkable deterministic embedding: component ``j`` is the value
    (0..15) of hex digit ``j % 32`` of ``md5(text + "|" + str(j // 32))``.

    Exists so gates that exercise the embed *plumbing* (mapInPandas batch
    slicing) can be verified content-exact against a DuckDB
    oracle: every component is an integer-valued float both engines compute
    from the same md5 hex string — no float-fold parity risk at all.
    blake2b-based ``deterministic_embedding`` stays the default (E3).
    """
    out: list[float] = []
    block = 0
    while len(out) < dim:
        h = hashlib.md5(text.encode("utf-8") + b"|" + str(block).encode()).hexdigest()
        out.extend(float(int(c, 16)) for c in h)
        block += 1
    return out[:dim]


def _md5hex_batch(texts: list[str], dim: int) -> list[list[float]]:
    return [md5hex_embedding(t or "", dim) for t in texts]


def md5_bucket_embedding(text: str, n_buckets: int = 16) -> list[float]:
    """One-hot embedding on ``md5(text)``'s first hex digit. Cosine between
    two texts is EXACTLY 1.0 (same bucket) or 0.0 — no float comparison can
    straddle a threshold — which makes semantic-boundary chunk gates
    (smart_chunk) expressible in DuckDB as ``substr(md5(sentence), 1, 1)``
    inequality between adjacent sentences."""
    b = int(hashlib.md5(text.encode("utf-8")).hexdigest()[0], 16) % n_buckets
    return [1.0 if i == b else 0.0 for i in range(n_buckets)]


def with_retries(
    fn: Callable[[list[str]], list[list[float]]],
    retries: int,
    sleep: Callable[[float], None] = time.sleep,
) -> Callable[[list[str]], list[list[float]]]:
    """E2's retry policy as a reusable wrapper: ``retries`` attempts with
    2^i-second backoff (reference src/worker/worker.py:77-90), raising after
    the final attempt so Spark task retry is the outer layer."""

    def call(texts: list[str]) -> list[list[float]]:
        last: Exception | None = None
        for i in range(retries):
            try:
                return fn(texts)
            except Exception as e:  # noqa: BLE001 — providers raise many types
                last = e
                if i < retries - 1:
                    sleep(2**i)
        raise RuntimeError(f"embedding failed after {retries} attempts: {last}")

    return call


def _openai_batch_fn(
    model: str,
    retries: int,
    client_factory: Callable[[], object] | None = None,
) -> Callable[[list[str]], list[list[float]]]:
    """E1/E2: one API call per minibatch, wrapped in the retry policy.

    ``client_factory`` makes the transport injectable (the same pattern as
    the sink writers' fake clients and the enhancer's Completion): it runs
    INSIDE the Spark python worker and must return an object exposing
    ``.embeddings.create(input=texts, model=model)`` whose result has
    order-aligned ``.data[i].embedding``. Default: the real openai module
    (import-gated; not installed in the build environment).
    """
    if client_factory is None:

        def client_factory() -> object:
            import openai  # import-gated; not installed in the build environment

            return openai

    state: dict[str, object] = {}

    def call(texts: list[str]) -> list[list[float]]:
        if "client" not in state:
            state["client"] = client_factory()
        resp = state["client"].embeddings.create(input=texts, model=model)
        # API responses are assumed order-aligned with the input
        # (same assumption as the reference, worker.py:75-76)
        return [d.embedding for d in resp.data]

    return with_retries(call, retries)


def _hugging_face_batch_fn(
    model: str,
    model_loader: Callable[[str], object] | None = None,
) -> Callable[[list[str]], list[list[float]]]:
    """X1: local sentence-transformers model, loaded once per task, batch 32
    (HUGGING_FACE_BATCH_SIZE, reference src/worker/config.py:6).

    ``model_loader(model_name)`` must return an object exposing
    ``.encode(texts, batch_size=32) -> sequence of array-likes``; default is
    the real SentenceTransformer (import-gated).
    """
    if model_loader is None:

        def model_loader(name: str) -> object:
            from sentence_transformers import SentenceTransformer  # import-gated

            return SentenceTransformer(name)

    m = model_loader(model)

    def call(texts: list[str]) -> list[list[float]]:
        return [list(map(float, v)) for v in m.encode(texts, batch_size=32)]

    return call


def embed(
    df: DataFrame,
    cfg: PipelineConfig,
    text_col: str = "text",
    client_factory: Callable[[], object] | None = None,
    model_loader: Callable[[str], object] | None = None,
) -> DataFrame:
    """Append ``vector: array<float>`` to ``df`` using cfg's backend."""
    out_fields = df.schema.fields
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
    schema += ", vector array<float>"

    backend = cfg.embeddings_type
    model = cfg.model
    dim = cfg.embedding_dim
    batch_size = cfg.embed_batch_size
    retries = cfg.embed_retries
    cols = [f.name for f in out_fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if backend == "deterministic":
            fn = lambda texts: _deterministic_batch(texts, dim)  # noqa: E731
        elif backend == "md5hex":
            fn = lambda texts: _md5hex_batch(texts, dim)  # noqa: E731
        elif backend == "openai":
            fn = _openai_batch_fn(model, retries, client_factory)
        elif backend == "hugging_face":
            fn = _hugging_face_batch_fn(model, model_loader)
        else:
            raise ValueError(f"unknown embeddings_type: {backend}")

        for pdf in batches:
            texts = pdf[text_col].tolist()
            # slices run in order, so vectors stay positional
            vectors = [v for i in range(0, len(texts), batch_size) for v in fn(texts[i : i + batch_size])]
            yield pdf[cols].assign(vector=pd.Series(vectors, index=pdf.index, dtype=object))

    return df.mapInPandas(run, schema=schema)

