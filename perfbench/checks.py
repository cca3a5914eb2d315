"""Output checks. Each returns a list of problems; an empty list passes.

They run after the timed passes and compare the program's outputs with the
independent computations in expected.py.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

import expected
import perfbench_fake


def check_local(table, docs, size: int, overlap: int, dim: int) -> list[str]:
    """ingest_local: the parquet record set equals the restated window,
    uuid5 and blake2b rules applied to the generated documents."""
    problems: list[str] = []
    ids = table.column("id").to_pylist()
    sources = table.column("source_document").to_pylist()
    texts = table.column("source_data").to_pylist()
    emb = table.column("embeddings").combine_chunks()
    lengths = emb.value_lengths().to_numpy(zero_copy_only=False)
    flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    if not (lengths == dim).all():
        problems.append(f"{int((lengths != dim).sum())} vectors not of dimension {dim}")
    if not np.isfinite(flat).all():
        problems.append("non-finite vector components")
    elif len(flat) and np.abs(flat).max() > 1.0:
        problems.append("vector components outside [-1, 1]")
    if problems:
        return problems
    vecs = flat.reshape(-1, dim)
    want_n = expected.local_record_count(docs, size, overlap)
    if len(ids) != want_n:
        problems.append(f"{len(ids)} records, expected {want_n} (the sum of per-document window counts)")
    if len(set(ids)) != len(ids):
        problems.append(f"{len(ids) - len(set(ids))} duplicate ids")
    want = expected.local_records(docs, size, overlap, dim)
    missing = set(want) - set(ids)
    extra = set(ids) - set(want)
    if missing or extra:
        problems.append(f"id set differs: {len(missing)} missing, {len(extra)} unexpected")
    wrong = 0
    for i, rid in enumerate(ids):
        w = want.get(rid)
        if w is not None and (w[0] != sources[i] or w[1] != texts[i] or w[2] != vecs[i].tobytes()):
            wrong += 1
    if wrong:
        problems.append(f"{wrong} records differ from the restated rules (source, text or vector)")
    return problems


def check_remote(spools: dict, docs, survivors: list[str], size: int, overlap: int) -> list[str]:
    """ingest_remote, from what the fake services spooled per pass (tag ->
    (embed calls, sink upserts)). The pass tagged ``*-full`` spooled every
    (id, source) pair and a count of vectors that are not the service's
    vector of their own text; every pass spooled counts and id digests.

    Ids are compared as a multiset: two chunks with the same text at the
    same offset share their content id by the uuid5 rule (seed 110 has a
    7-character tail at offset 2493 in two documents)."""
    problems: list[str] = []
    want_sources, want_records = expected.remote_expected(docs, size, overlap)
    if want_sources != survivors:
        problems.append("restated curation disagrees with the planted survivors")
    want_n = len(want_records)
    want_digest = perfbench_fake.digest(i for i, _ in want_records)
    want = Counter(want_records)
    for tag, (calls, upserts) in sorted(spools.items()):
        sent = sum(c["n"] for c in calls)
        got_n = sum(u["n"] for u in upserts)
        digest = sum(u["digest"] for u in upserts) % (1 << 64)
        if got_n != want_n:
            problems.append(f"{tag}: sink received {got_n} rows, expected {want_n} chunks")
        if sent != got_n:
            problems.append(f"{tag}: embed service received {sent} texts for {got_n} upserted records")
        if digest != want_digest:
            problems.append(f"{tag}: upserted id digest differs from the expected ids")
        if tag.endswith("-full"):
            bad = sum(u["bad"] for u in upserts)
            if bad:
                problems.append(f"{tag}: {bad} upserted vectors are not the service's vector of their own text")
            got = Counter(tuple(r) for u in upserts for r in u["rows"])
            if got != want:
                problems.append(
                    f"{tag}: {sum((want - got).values())} expected (id, document) records missing, "
                    f"{sum((got - want).values())} unexpected"
                )
    return problems
