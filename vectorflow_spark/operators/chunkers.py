"""Chunkers (operators C1-C7) — the reference's core transformation family.

Behavioral parity with reference src/worker/worker.py:188-320 (semantics
studied, not copied):

  C1 chunk_data_exact                 token sliding window, stride size-overlap
  C2 chunk_data_exact_by_characters   char sliding window
  C3 chunk_data_by_paragraph          greedy '\\n\\n' merge to >=0.75*size tokens,
                                      oversize falls back to C1
  C4 chunk_data_by_paragraph_by_characters  sequential char scan; cut at next
                                      '\\n\\n' inside [start+0.75*size, start+size),
                                      chunk extends +overlap past the cut
  C5 chunk_by_sentence                regex split '(?<=[.!?…]) +'; oversize
                                      sentence falls back to C1
  C6 chunk_by_sentence_by_characters  as C5 with char lengths / C2 fallback
  C7 custom chunker plugin            user function, validated output

Spark-first mapping: C2/C6 are pure built-in expressions
(sequence/transform/substring/posexplode — whole-stage codegen, no Python in
the hot path). C1/C3/C5 need a tokenizer and C4 is a sequential scan whose
cut positions depend on prior cuts, so those run as Arrow-batched pandas UDFs
— parallel across documents, sequential within one (SURVEY.md §7 risk
register). Every chunker emits the same row shape so downstream stages are
strategy-agnostic:

    <carry-through columns>, chunk_seq, chunk_offset, chunk_tag, text, chunk_id

``chunk_id`` is the reference's uuid5((text, offset, tag)) content id
(src/worker/worker.py:200,211,246,272,297,316 — see functions/ids.py).

Scale notes: a single huge document explodes into one fat partition; callers
should rely on AQE coalesce/skew handling (enabled by the session factory)
and ``repartition`` after explode when chunk counts per doc are very skewed.
Chunking itself needs no shuffle — it is a per-row flatMap.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from vectorflow_spark.config import ChunkStrategy, PipelineConfig
from vectorflow_spark.functions import tokenizer

SENTENCE_ENDINGS = r"(?<=[.!?…]) +"  # reference src/worker/worker.py:286
PARAGRAPH_BOUND = 0.75  # reference src/worker/worker.py:218 (bound=0.75)

_CHUNK_STRUCT = ArrayType(
    StructType(
        [
            StructField("text", StringType()),
            StructField("chunk_offset", IntegerType()),
            StructField("chunk_tag", StringType()),
        ]
    )
)


# ---------------------------------------------------------------------------
# pure-Python chunk generators (used inside pandas UDFs; unit-testable alone)
# ---------------------------------------------------------------------------


def py_chunk_exact_tokens(text: str, size: int, overlap: int) -> list[tuple[str, int, str]]:
    """C1: sliding token window; offset is the *token* index of the window."""
    tokens = tokenizer.encode(text)
    out = []
    for i in range(0, len(tokens), size - overlap):
        out.append((tokenizer.decode(tokens[i : i + size]), i, "exact"))
    return out


def py_chunk_exact_chars(text: str, size: int, overlap: int) -> list[tuple[str, int, str]]:
    """C2 (python form, used only for C6 fallback inside UDFs and tests)."""
    return [(text[i : i + size], i, "exact") for i in range(0, len(text), size - overlap)]


def py_chunk_paragraph_tokens(text: str, size: int, overlap: int, bound: float = PARAGRAPH_BOUND) -> list[tuple[str, int, str]]:
    """C3: greedily merge '\\n\\n' paragraphs until >= bound*size tokens; a
    merged run longer than size tokens is re-chunked with C1. Quirk kept for
    parity: the non-fallback chunk's offset is the *paragraph index after the
    merge* and the tag is 'exact' (reference src/worker/worker.py:246)."""
    check_bound = int(bound * size)
    paragraphs = re.split("\n\n", text)
    tokenized = [tokenizer.encode(p) for p in paragraphs]
    out: list[tuple[str, int, str]] = []
    start_idx = 0
    while start_idx < len(tokenized):
        current: list = []
        while len(current) < check_bound and start_idx < len(tokenized):
            current.extend(tokenized[start_idx])
            start_idx += 1
        merged = tokenizer.decode(current)
        if len(current) > size:
            out.extend(py_chunk_exact_tokens(merged, size, overlap))
        else:
            out.append((merged, start_idx, "exact"))
    return out


def py_chunk_paragraph_chars(text: str, size: int, overlap: int, bound: float = PARAGRAPH_BOUND) -> list[tuple[str, int, str]]:
    """C4: sequential scan. Cut at the next '\\n\\n' found in
    [start+bound*size, start+size) (delimiter included in the chunk), else at
    start+size; the chunk text additionally extends ``overlap`` chars past
    the cut, while the next chunk starts exactly at the cut."""
    total = len(text)
    check_bound = int(bound * size)
    out: list[tuple[str, int, str]] = []
    start = 0
    while start < total:
        end = min(start + size, total)
        nxt = text.find("\n\n", start + check_bound, end)
        if nxt != -1:
            end = nxt + 2
        out.append((text[start : end + overlap], start, "exact"))
        start = end
    return out


def py_chunk_sentence_tokens(text: str, size: int, overlap: int) -> list[tuple[str, int, str]]:
    """C5: regex sentence split; sentences over ``size`` tokens fall back to
    C1 (offsets then are token offsets within that sentence, tag 'exact')."""
    sentences = re.split(SENTENCE_ENDINGS, text)
    out: list[tuple[str, int, str]] = []
    for i, sentence in enumerate(sentences):
        if len(tokenizer.encode(sentence)) > size:
            out.extend(py_chunk_exact_tokens(sentence, size, overlap))
        else:
            out.append((sentence, i, "sentence"))
    return out


def py_chunk_sentence_chars(text: str, size: int, overlap: int) -> list[tuple[str, int, str]]:
    """C6 (python form for tests; production path is the built-in expr)."""
    sentences = re.split(SENTENCE_ENDINGS, text)
    out: list[tuple[str, int, str]] = []
    for i, sentence in enumerate(sentences):
        if len(sentence) > size:
            out.extend(py_chunk_exact_chars(sentence, size, overlap))
        else:
            out.append((sentence, i, "sentence"))
    return out


_PY_CHUNKERS: dict[ChunkStrategy, Callable[[str, int, int], list[tuple[str, int, str]]]] = {
    ChunkStrategy.EXACT: py_chunk_exact_tokens,
    ChunkStrategy.EXACT_BY_CHARACTERS: py_chunk_exact_chars,
    ChunkStrategy.PARAGRAPH: py_chunk_paragraph_tokens,
    ChunkStrategy.PARAGRAPH_BY_CHARACTERS: py_chunk_paragraph_chars,
    ChunkStrategy.SENTENCE: py_chunk_sentence_tokens,
    ChunkStrategy.SENTENCE_BY_CHARACTERS: py_chunk_sentence_chars,
}


# ---------------------------------------------------------------------------
# built-in expression chunkers (the JVM fast path)
# ---------------------------------------------------------------------------


def exact_chars_expr(text_col: str, size: int, overlap: int) -> Column:
    """C2 as a single Catalyst expression: array<struct<text,chunk_offset,
    chunk_tag>> of sliding char windows. Codegen'd; no Python."""
    stride = size - overlap
    empty = "CAST(array() AS array<struct<text:string,chunk_offset:int,chunk_tag:string>>)"
    return F.expr(
        f"CASE WHEN length({text_col}) = 0 THEN {empty} ELSE "
        f"transform(sequence(0, length({text_col}) - 1, {stride}), "
        f"i -> struct(substring({text_col}, i + 1, {size}) AS text, "
        f"CAST(i AS INT) AS chunk_offset, 'exact' AS chunk_tag)) END"
    )


def sentence_chars_expr(text_col: str, size: int, overlap: int) -> Column:
    """C6 as a single Catalyst expression: sentence split with per-sentence
    C2 fallback for oversize sentences, flattened."""
    stride = size - overlap
    return F.expr(
        f"flatten(transform("
        f"  split({text_col}, '(?<=[.!?…]) +'),"
        f"  (s, i) -> CASE WHEN length(s) <= {size} THEN "
        f"    array(struct(s AS text, CAST(i AS INT) AS chunk_offset, 'sentence' AS chunk_tag)) "
        f"  ELSE "
        f"    transform(sequence(0, length(s) - 1, {stride}), "
        f"      j -> struct(substring(s, j + 1, {size}) AS text, CAST(j AS INT) AS chunk_offset, 'exact' AS chunk_tag)) "
        f"  END))"
    )


# ---------------------------------------------------------------------------
# DataFrame stage
# ---------------------------------------------------------------------------


def _pandas_chunk_udf(strategy: ChunkStrategy, size: int, overlap: int):
    fn = _PY_CHUNKERS[strategy]

    @F.pandas_udf(_CHUNK_STRUCT)
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [] if t is None else fn(t, size, overlap))

    return _udf


def chunk(
    df: DataFrame,
    cfg: PipelineConfig,
    text_col: str = "text",
    custom_chunker: Callable[[str], list[dict]] | None = None,
    with_ids: bool = True,
) -> DataFrame:
    """Chunk ``df[text_col]`` per ``cfg.chunk_strategy``.

    Emits one row per chunk, carrying every other input column through, plus
    ``chunk_seq`` (dense per-document emission order from posexplode — never
    dependent on row order, SURVEY.md §4.3.2), ``chunk_offset``/``chunk_tag``
    (the reference's id tuple parts), ``text`` (the chunk), and ``chunk_id``.
    """
    strategy = cfg.chunk_strategy
    if strategy == ChunkStrategy.CUSTOM:
        return _chunk_custom(df, text_col, custom_chunker, with_ids)

    if strategy == ChunkStrategy.EXACT_BY_CHARACTERS:
        arr = exact_chars_expr(text_col, cfg.chunk_size, cfg.chunk_overlap)
    elif strategy == ChunkStrategy.SENTENCE_BY_CHARACTERS:
        arr = sentence_chars_expr(text_col, cfg.chunk_size, cfg.chunk_overlap)
    else:
        arr = _pandas_chunk_udf(strategy, cfg.chunk_size, cfg.chunk_overlap)(F.col(text_col))

    carry = [c for c in df.columns if c != text_col]
    # posexplode_outer + null filter instead of posexplode: plain posexplode
    # lets InferFiltersFromGenerate push a size(_chunks)>0 predicate below
    # this projection with the whole chunk-array expression (or pandas UDF)
    # inlined, evaluating it twice per row. The outer variant emits a null
    # chunk for empty documents, which the cheap attribute filter drops —
    # identical rows, single evaluation.
    out = (
        df.withColumn("_chunks", arr)
        .select(*carry, F.posexplode_outer("_chunks").alias("chunk_seq", "_chunk"))
        .filter(F.col("_chunk").isNotNull())
        .select(
            *carry,
            "chunk_seq",
            F.col("_chunk.chunk_offset").alias("chunk_offset"),
            F.col("_chunk.chunk_tag").alias("chunk_tag"),
            F.col("_chunk.text").alias("text"),
        )
    )
    if with_ids:
        from vectorflow_spark.functions.ids import uuid5_udf

        out = out.withColumn("chunk_id", uuid5_udf("text", "chunk_offset", "chunk_tag"))
    return out


class ChunkedDataValidationError(ValueError):
    """Mirror of reference src/worker/worker.py:177-186."""


def _chunk_custom(
    df: DataFrame,
    text_col: str,
    chunker: Callable[[str], list[dict]] | None,
    with_ids: bool,
) -> DataFrame:
    """C7 — the UDF/UDTF extension point. ``chunker(text) -> list[dict]``,
    each dict must carry a 'text' key (validated like the reference's
    validate_chunked_data); extra JSON-serializable keys land in a
    ``metadata`` map column (reference README.md:221-223)."""
    if chunker is None:
        raise ChunkedDataValidationError("custom strategy requires a chunker callable")

    schema = ArrayType(
        StructType(
            [
                StructField("text", StringType()),
                StructField("chunk_offset", IntegerType()),
                StructField("chunk_tag", StringType()),
                StructField("metadata", StringType()),  # JSON-encoded extras
            ]
        )
    )

    import json

    def run_one(text: str) -> list[tuple]:
        chunks = chunker(text)
        if not isinstance(chunks, list) or not all(isinstance(c, dict) for c in chunks):
            raise ChunkedDataValidationError("chunked_data must be a list of dictionaries")
        out = []
        for i, c in enumerate(chunks):
            if "text" not in c:
                raise ChunkedDataValidationError("each chunk dict must have a 'text' key")
            extras = {k: v for k, v in c.items() if k not in ("text", "chunk_id")}
            out.append((c["text"], i, "custom", json.dumps(extras) if extras else None))
        return out

    @F.pandas_udf(schema)
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [] if t is None else run_one(t))

    carry = [c for c in df.columns if c != text_col]
    # posexplode_outer + null filter: see chunk() — keeps the inferred
    # size()>0 predicate from re-evaluating the pandas UDF per row.
    out = (
        df.withColumn("_chunks", _udf(F.col(text_col)))
        .select(*carry, F.posexplode_outer("_chunks").alias("chunk_seq", "_chunk"))
        .filter(F.col("_chunk").isNotNull())
        .select(
            *carry,
            "chunk_seq",
            F.col("_chunk.chunk_offset").alias("chunk_offset"),
            F.col("_chunk.chunk_tag").alias("chunk_tag"),
            F.col("_chunk.text").alias("text"),
            F.from_json(F.col("_chunk.metadata"), "map<string,string>").alias("metadata"),
        )
    )
    if with_ids:
        from vectorflow_spark.functions.ids import uuid5_udf

        out = out.withColumn("chunk_id", uuid5_udf("text", "chunk_offset", "chunk_tag"))
    return out


def sentence_split_udtf():
    """Python UDTF (Spark 4 user-defined TABLE function): one document in,
    one numbered row per sentence out, for SQL ``LATERAL`` use. Completes
    the UDF-surface matrix next to the scalar pandas UDFs (embed), the
    array-returning chunk UDFs here, mapInPandas (extract/enhance/validate)
    and applyInPandasWithState (sessionize): a UDTF is the right shape when
    SQL users need a row-generating function they can join laterally,
    without leaving the SQL dialect for the DataFrame API.

    Same sentence regex as C5 (SENTENCE_ENDINGS, reference
    src/worker/worker.py:286), so the rows line up with the sentence
    chunkers'. Row-based evaluation (per-row Python) — fine for a lateral
    over documents; the hot chunk path stays on the Arrow-batched UDFs."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_pos int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(re.split(SENTENCE_ENDINGS, text)):
                yield i, s

    return SplitSentences


def py_chunk_smart(
    text: str,
    max_chars: int,
    embed_fn: Callable[[str], list[float]],
    threshold: float = 0.5,
) -> list[tuple[str, int, str]]:
    """Smart (semantic-boundary) chunking — the reference's roadmap item
    (reference README.md:290-299 "smart chunking", no code in the
    snapshot; SURVEY.md §2.11 X4): split into sentences, embed each, and
    cut a chunk wherever the cosine similarity between ADJACENT sentences
    drops below ``threshold`` (topic shift) or the chunk would exceed
    ``max_chars``. Chunks re-join their sentences with single spaces
    (the split consumed the delimiter runs); offset = sentence index of
    the chunk start, tag 'smart'."""
    sentences = re.split(SENTENCE_ENDINGS, text)
    if not sentences:
        return []

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    cache: dict[str, list[float]] = {}

    def emb(s: str) -> list[float]:
        if s not in cache:
            cache[s] = embed_fn(s)
        return cache[s]

    out: list[tuple[str, int, str]] = []
    start = 0
    cur = [sentences[0]]
    cur_len = len(sentences[0])
    for i in range(1, len(sentences)):
        s = sentences[i]
        boundary = cos(emb(sentences[i - 1]), emb(s)) < threshold
        if boundary or cur_len + 1 + len(s) > max_chars:
            out.append((" ".join(cur), start, "smart"))
            start, cur, cur_len = i, [s], len(s)
        else:
            cur.append(s)
            cur_len += 1 + len(s)
    out.append((" ".join(cur), start, "smart"))
    return out


def smart_chunk(
    df: DataFrame,
    text_col: str = "text",
    max_chars: int = 512,
    threshold: float = 0.5,
    embed_fn: Callable[[str], list[float]] | None = None,
    embedding_dim: int = 16,
    with_ids: bool = True,
) -> DataFrame:
    """X4 smart chunker as a Spark operator: same row shape as every other
    chunker (carry cols, chunk_seq, chunk_offset, chunk_tag, text,
    chunk_id), so downstream stages are strategy-agnostic. The embedder is
    INJECTABLE (enhancer-Completion pattern): default is the deterministic
    hash embedding — offline-testable, splits exactly at repeated-vs-new
    sentence transitions — and a real sentence-transformers callable drops
    in for true semantic boundaries. Plan: per-row flatMap (Arrow-batched
    pandas UDF), no shuffle; per-doc sentence embeddings are cached within
    the row, so cost is O(distinct sentences) embeddings per document."""
    from vectorflow_spark.embed.backends import deterministic_embedding

    fn = embed_fn or (lambda s: deterministic_embedding(s, embedding_dim))

    @F.pandas_udf(_CHUNK_STRUCT)
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [] if t is None else py_chunk_smart(t, max_chars, fn, threshold)
        )

    carry = [c for c in df.columns if c != text_col]
    out = (
        df.withColumn("_chunks", _udf(F.col(text_col)))
        .select(*carry, F.posexplode_outer("_chunks").alias("chunk_seq", "_chunk"))
        .filter(F.col("_chunk").isNotNull())
        .select(
            *carry,
            "chunk_seq",
            F.col("_chunk.chunk_offset").alias("chunk_offset"),
            F.col("_chunk.chunk_tag").alias("chunk_tag"),
            F.col("_chunk.text").alias("text"),
        )
    )
    if with_ids:
        from vectorflow_spark.functions.ids import uuid5_udf

        out = out.withColumn("chunk_id", uuid5_udf("text", "chunk_offset", "chunk_tag"))
    return out
