"""Shared core of the fake embedding and vector-store services.

The benchmark puts this directory first on the Python workers' path, so the
program's own ``import openai`` and ``import qdrant_client`` load the fakes
below instead of a network client. Each call holds for a fixed simulated
latency and appends one JSON line per call to a spool file under
``$PERFBENCH_SPOOL/<tag>/``; the benchmark reads the spool after the pass.
The tag rides in the model name (``perfbench:<tag>``) and in the collection
name, so every pass has its own spool directory.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import threading
import time

import numpy as np

DIM = 64
# Simulated latencies, chosen rather than measured: no real service can be
# reached offline (perfbench/README.md gives the reasoning and the share of
# a pass each one takes). 50 ms per call is the fake client latency of the
# embed thread-pool measurement in ROADMAP.md; 0.5 ms per text makes a full
# 2048-text minibatch, the reference's largest, hold about 1.07 s; 2 ms per
# upsert keeps the sink's waiting small next to its per-row client work.
EMBED_FIXED_S = 0.050  # per embed call
EMBED_PER_TEXT_S = 0.0005  # per text in the call
UPSERT_FIXED_S = 0.002  # per upsert call

_lock = threading.Lock()


def vector(text: str) -> np.ndarray:
    """The fake service's embedding: blake2b-512 of the text, byte b mapped
    to b / 127.5 - 1, as float32 in [-1, 1]."""
    h = hashlib.blake2b(text.encode("utf-8"), digest_size=DIM).digest()
    return (np.frombuffer(h, dtype=np.uint8).astype(np.float64) / 127.5 - 1.0).astype(np.float32)


def digest(ids) -> int:
    """Order-free digest of a multiset of ids: the sum of their md5
    prefixes, modulo 2^64."""
    total = 0
    for i in ids:
        total += int.from_bytes(hashlib.md5(i.encode()).digest()[:8], "little")
    return total % (1 << 64)


def record(tag: str, kind: str, entry: dict) -> None:
    d = os.path.join(os.environ["PERFBENCH_SPOOL"], tag)
    os.makedirs(d, exist_ok=True)
    line = json.dumps(entry) + "\n"
    with _lock, open(os.path.join(d, f"{kind}-{os.getpid()}.jsonl"), "a") as f:
        f.write(line)


def hold(seconds: float) -> tuple[float, float]:
    t0 = time.monotonic()
    time.sleep(seconds)
    return t0, time.monotonic()


def read(spool: str, tag: str, kind: str) -> list[dict]:
    """Every line spooled for ``tag`` by calls of ``kind`` (embed or sink),
    each with the ``pid`` of the worker that made the call."""
    out = []
    for p in sorted(glob.glob(os.path.join(spool, tag, f"{kind}-*.jsonl"))):
        pid = int(os.path.basename(p)[len(kind) + 1 : -len(".jsonl")])
        with open(p) as f:
            out.extend({**json.loads(line), "pid": pid} for line in f)
    return out
