"""Fake ``qdrant_client``: ``QdrantClient(url=, prefer_grpc=).upsert()``.

Every upsert holds for a fixed latency and spools one line: the row count,
an order-free digest of the ids, and the number of rows whose vector is not
the fake embedding service's vector of that row's own ``source_data`` (or is
not finite, not of dimension 64, or outside [-1, 1]). Collections whose name
ends in ``-full`` also spool every (id, source_document) pair.
"""

from __future__ import annotations

import numpy as np

import perfbench_fake as _fake


def bad_rows(points) -> int:
    """Rows whose vector is wrong for their own text."""
    bad = 0
    for p in points:
        v = np.asarray(p.vector, dtype=np.float32)
        if (
            v.shape != (_fake.DIM,)
            or not np.isfinite(v).all()
            or np.abs(v).max() > 1.0
            or not np.array_equal(v, _fake.vector(p.payload["source_data"]))
        ):
            bad += 1
    return bad


class QdrantClient:
    def __init__(self, url: str = "", prefer_grpc: bool = False) -> None:
        self.url = url

    def upsert(self, collection_name: str, points: list) -> None:
        t0, t1 = _fake.hold(_fake.UPSERT_FIXED_S)
        entry = {"n": len(points), "digest": _fake.digest(p.id for p in points), "t0": t0, "t1": t1}
        if collection_name.endswith("-full"):
            entry["bad"] = bad_rows(points)
            entry["rows"] = [[p.id, p.payload["source_document"]] for p in points]
        _fake.record(collection_name, "sink", entry)
