"""Fake ``openai`` module: ``openai.embeddings.create(input=, model=)``."""

from __future__ import annotations

from types import SimpleNamespace

import perfbench_fake as _fake


class _Embeddings:
    def create(self, input: list[str], model: str) -> SimpleNamespace:  # noqa: A002 — the API's name
        tag = model.split(":", 1)[1]
        t0, t1 = _fake.hold(_fake.EMBED_FIXED_S + _fake.EMBED_PER_TEXT_S * len(input))
        data = [SimpleNamespace(embedding=_fake.vector(t).tolist()) for t in input]
        _fake.record(tag, "embed", {"n": len(input), "t0": t0, "t1": t1})
        return SimpleNamespace(data=data)


embeddings = _Embeddings()
