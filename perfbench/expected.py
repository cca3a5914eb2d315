"""Independent statements of the program's output rules, in plain Python.

Nothing here imports the program. Each function restates one published rule
from the reference VectorFlow worker, so a check built on it fails when the
program's output drifts from the rule, not when it drifts from itself.
"""

from __future__ import annotations

import hashlib
import math
import re
import struct
import uuid

import numpy as np

# RFC-4122 URL namespace; the reference's generate_uuid_from_tuple uses it
NAMESPACE = uuid.UUID("6ba7b810-9dad-11d1-80b4-00c04fd430c8")


def char_windows(text: str, size: int, overlap: int) -> list[tuple[str, int]]:
    """Exact-by-characters chunking: windows of ``size`` characters starting
    every ``size - overlap`` characters, the last one possibly short."""
    return [(text[i : i + size], i) for i in range(0, len(text), size - overlap)]


def paragraph_char_windows(text: str, size: int, overlap: int, bound: float = 0.75) -> list[tuple[str, int]]:
    """Paragraph-by-characters chunking: from ``start``, cut after the first
    blank line found in [start + bound*size, start + size), else at
    start + size; the chunk runs ``overlap`` characters past the cut and
    the next chunk starts at the cut."""
    out = []
    start = 0
    lo = int(bound * size)
    while start < len(text):
        end = min(start + size, len(text))
        m = text.find("\n\n", start + lo, end)
        if m != -1:
            end = m + 2
        out.append((text[start : end + overlap], start))
        start = end
    return out


def chunk_id(text: str, offset: int, tag: str = "exact") -> str:
    """uuid5 of the '-'-joined (text, offset, tag) tuple."""
    return str(uuid.uuid5(NAMESPACE, f"{text}-{offset}-{tag}"))


def blake2b_vector(text: str, dim: int) -> np.ndarray:
    """The deterministic embedding rule, as float32: block k is
    blake2b(utf8(text) + b'|' + str(k), 32 bytes) read as eight
    little-endian uint32 v, each mapped to v / 2147483647.5 - 1."""
    vals: list[float] = []
    k = 0
    data = text.encode("utf-8")
    while len(vals) < dim:
        h = hashlib.blake2b(data + b"|" + str(k).encode(), digest_size=32).digest()
        vals.extend(v / 2147483647.5 - 1.0 for v in struct.unpack("<8I", h))
        k += 1
    return np.asarray(vals[:dim], dtype=np.float32)


def local_records(docs: list[tuple[int, str, str]], size: int, overlap: int, dim: int) -> dict[str, tuple[str, str, bytes]]:
    """Expected ingest_local sink records: id -> (source, chunk text,
    float32 vector bytes)."""
    out: dict[str, tuple[str, str, bytes]] = {}
    for _, source, text in docs:
        for piece, off in char_windows(text, size, overlap):
            out[chunk_id(piece, off)] = (source, piece, blake2b_vector(piece, dim).tobytes())
    return out


def local_record_count(docs: list[tuple[int, str, str]], size: int, overlap: int) -> int:
    """Sum over documents of their window count, ceil(len / stride)."""
    stride = size - overlap
    return sum(math.ceil(len(t) / stride) for _, _, t in docs)


GOPHER = {"min_words": 50, "max_words": 100_000, "min_mean": 3.0, "max_mean": 10.0, "min_alpha": 0.8}


def gopher_keep(text: str) -> bool:
    """The Gopher quality rules on lower-cased whitespace tokens."""
    toks = text.lower().split()
    n = len(toks)
    if not GOPHER["min_words"] <= n <= GOPHER["max_words"]:
        return False
    mean = sum(len(t) for t in toks) / n
    alpha = sum(1 for t in toks if re.search("[a-z]", t)) / n
    return GOPHER["min_mean"] <= mean <= GOPHER["max_mean"] and alpha >= GOPHER["min_alpha"]


def curated(docs: list[tuple[int, str, str]]) -> list[tuple[int, str, str]]:
    """Quality filter, then keep the lowest source per whitespace/case
    fingerprint (lower-case, collapse whitespace runs, trim)."""
    keep: dict[str, tuple[int, str, str]] = {}
    for row in docs:
        _, source, text = row
        if not text or not gopher_keep(text):
            continue
        fp = " ".join(text.lower().split())
        if fp not in keep or source < keep[fp][1]:
            keep[fp] = row
    return sorted(keep.values(), key=lambda r: r[1])


def remote_expected(
    docs: list[tuple[int, str, str]], size: int, overlap: int
) -> tuple[list[str], list[tuple[str, str]]]:
    """(surviving sources, (chunk id, source) of every expected record) for
    ingest_remote."""
    kept = curated(docs)
    records = [(chunk_id(p, off), s) for _, s, t in kept for p, off in paragraph_char_windows(t, size, overlap)]
    return [s for _, s, _ in kept], records
