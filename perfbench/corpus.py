"""Seeded input generation for every workload.

The same seed always gives the same files. Sizes do not depend on the seed:
document lengths come from a fixed schedule that the seed only shuffles, and
planted duplicates and low-quality documents come in fixed numbers, so record
counts (and with them the work per pass) are equal on every seed.

Files are written under ``<work>/inputs/<workload>-<seed>/`` and reused when
they already exist.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# word list shared by every text generator; lengths 3..10 so generated prose
# passes the Gopher mean-word-length rule
WORDS = (
    "vector stream batch chunk embed index query table shard spark data model "
    "token window record source upload worker queue store cluster search "
    "filter merge value paragraph sentence corpus document system network "
    "latency storage partition replica column schema reader writer buffer "
    "signal pattern answer river mountain garden winter summer market "
    "history letter science engine station harbor village kitchen lantern "
    "silver copper marble timber canvas pillow basket ribbon anchor meadow "
    "orchard thunder feather compass journey captain painter baker farmer "
    "teacher doctor student planet rocket galaxy crystal mineral quartz "
    "velvet saddle bridge tunnel castle tower island valley desert forest"
).split()

# ingest_local: documents whose lengths cycle through this schedule. Every
# length leaves a final 512/256 window of at least 96 characters, so no two
# documents share a (window text, offset) pair and every chunk id is unique.
LOCAL_DOCS = 8000
LOCAL_LENGTHS = (180, 420, 700, 950, 1380, 1900, 2400, 3180, 4200, 6000)

# ingest_remote: originals plus planted exact duplicates (1 in 8),
# formatting duplicates (1 in 8) and low-quality documents (1 in 10, three
# kinds) that the curation stage must remove
REMOTE_ORIGINALS = 2400
REMOTE_LENGTHS = (600, 1100, 1700, 2500, 3600)


def _paragraph_text(rng: np.random.Generator, n_chars: int, capitalize: bool = True) -> str:
    """Prose of exactly ``n_chars`` characters: sentences of 4-18 words,
    paragraphs of 1-9 sentences separated by blank lines."""
    parts: list[str] = []
    total = 0
    while total < n_chars:
        n_sent = int(rng.integers(1, 10))
        sents = []
        for _ in range(n_sent):
            idx = rng.integers(0, len(WORDS), size=int(rng.integers(4, 19)))
            s = " ".join(WORDS[i] for i in idx)
            if capitalize:
                s = s[0].upper() + s[1:]
            sents.append(s + ".")
        para = " ".join(sents)
        parts.append(para)
        total += len(para) + 2
    return "\n\n".join(parts)[:n_chars]


def _write(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _fresh_dir(work: str, name: str) -> tuple[str, bool]:
    """Return (dir, ready). A directory counts as ready only once its
    ``_DONE`` marker exists, so an interrupted generation is redone."""
    d = os.path.join(work, "inputs", name)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d, True
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d, False


def _mark_done(d: str) -> None:
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write("ok\n")


def local_corpus(work: str, seed: int, n_docs: int = LOCAL_DOCS) -> tuple[str, list[tuple[int, str, str]]]:
    """ingest_local documents: (doc_id, source, text) rows, written to
    ``documents.parquet``. Returns (path, rows)."""
    d, ready = _fresh_dir(work, f"ingest_local-{seed}-{n_docs}")
    path = os.path.join(d, "documents.parquet")
    if ready:
        t = pq.read_table(path)
        return path, list(zip(t["doc_id"].to_pylist(), t["source"].to_pylist(), t["text"].to_pylist()))
    rng = np.random.default_rng([seed, 1])
    lengths = np.resize(np.array(LOCAL_LENGTHS), n_docs)
    rng.shuffle(lengths)
    rows = [(i, f"doc-{i:06d}.txt", _paragraph_text(rng, int(n))) for i, n in enumerate(lengths)]
    _write(
        path,
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[2] for r in rows],
                "source": [r[1] for r in rows],
            }
        ),
    )
    _mark_done(d)
    return path, rows


def _reformat(rng: np.random.Generator, text: str) -> str:
    """A formatting-only variant: upper-cased, one space widened to three,
    and trailing whitespace — same whitespace/case fingerprint."""
    cut = text.find(" ", int(rng.integers(0, max(1, len(text) // 2))))
    if cut >= 0:
        text = text[:cut] + "   " + text[cut + 1 :]
    return text.upper() + " \n"


def _low_quality(rng: np.random.Generator, kind: int) -> str:
    if kind == 0:  # too few words (Gopher minimum is 50)
        return _paragraph_text(rng, 120)
    if kind == 1:  # mostly numbers: alphabetic-word ratio far below 0.8
        nums = rng.integers(0, 10**6, size=400)
        return " ".join(str(v) for v in nums) + " " + _paragraph_text(rng, 200)
    # kind 2: run-together words, mean word length far above 10
    return "".join(_paragraph_text(rng, 1500, capitalize=False).split(" "))[:1500] + " end of text " * 5


def remote_corpus(
    work: str, seed: int, originals: int = REMOTE_ORIGINALS
) -> tuple[str, list[tuple[int, str, str]], list[str]]:
    """ingest_remote documents and the sources that must survive curation.

    Originals are ``orig-NNNNN``; a duplicate of original k is
    ``orig-NNNNN-dupM``, which sorts after its original, so the keeper of
    every fingerprint group is the original. Low-quality documents are
    ``lowq-NNNNN`` and never survive. Returns (path, rows, survivors)."""
    d, ready = _fresh_dir(work, f"ingest_remote-{seed}-{originals}")
    path = os.path.join(d, "documents.parquet")
    rng = np.random.default_rng([seed, 2])
    if ready:
        t = pq.read_table(path)
        rows = list(zip(t["doc_id"].to_pylist(), t["source"].to_pylist(), t["text"].to_pylist()))
    else:
        lengths = np.resize(np.array(REMOTE_LENGTHS), originals)
        rng.shuffle(lengths)
        orig = [(f"orig-{k:05d}", _paragraph_text(rng, int(n))) for k, n in enumerate(lengths)]
        docs: list[tuple[str, str]] = list(orig)
        for j, k in enumerate(rng.choice(originals, size=originals // 8, replace=False)):
            docs.append((f"{orig[k][0]}-dup{j}", orig[k][1]))
        for j, k in enumerate(rng.choice(originals, size=originals // 8, replace=False)):
            docs.append((f"{orig[k][0]}-fmt{j}", _reformat(rng, orig[k][1])))
        for j in range(originals // 10):
            docs.append((f"lowq-{j:05d}", _low_quality(rng, j % 3)))
        order = rng.permutation(len(docs))
        rows = [(i, docs[o][0], docs[o][1]) for i, o in enumerate(order)]
        _write(
            path,
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[2] for r in rows],
                    "source": [r[1] for r in rows],
                }
            ),
        )
        _mark_done(d)
    survivors = sorted(s for _, s, _ in rows if s.startswith("orig-") and "-" not in s[5:])
    return path, rows, survivors
