"""E1/X1 embed-backend contract tests with injected fake clients — no
network, no openai / sentence-transformers packages.

Same pattern as test_sink_contracts.py: the fake transport spools every
call it receives as a JSON file (executors are separate processes, so the
spool is the observable channel), and the fakes are built inside factory
closures so cloudpickle ships them by value.

Asserted:
  * E1 minibatch slicing: every embeddings.create call receives at most
    cfg.embed_batch_size texts (MAX_OPENAI_EMBEDDING_BATCH_SIZE contract,
    reference src/worker/worker.py:92-99) and the model name is passed
    through;
  * positional zip-back: each row's vector is exactly f(its own text) —
    order preservation is positional, never a sort (worker.py:108-113);
  * E2 retry: a transport that fails its first call per client instance
    still yields a complete, correct result under the 5-attempt 2^i
    policy (worker.py:77-90);
  * X1: the sentence-transformers-shaped path loads the model once per
    task, calls .encode(texts, batch_size=32) (HUGGING_FACE_BATCH_SIZE,
    src/worker/config.py:6), and zips positionally.
"""

import json
import pathlib

import pytest

from vectorflow_spark.config import PipelineConfig
from vectorflow_spark.embed.backends import embed


def _fake_vec(text: str) -> list[float]:
    # cheap, deterministic, text-dependent: len + first-char code + constant
    return [float(len(text)), float(ord(text[0]) if text else 0), 7.0]


def _calls(spool: str) -> list[dict]:
    return [json.loads(p.read_text()) for p in sorted(pathlib.Path(spool).iterdir())]


def make_fake_openai_factory(spool: str, fail_first: bool = False):
    def factory():
        import json as j
        import pathlib as pl
        import uuid as u

        class FakeEmbeddings:
            def __init__(self):
                self.failed = False

            def create(self, input, model):  # noqa: A002 — OpenAI kwarg name
                if fail_first and not self.failed:
                    self.failed = True
                    raise RuntimeError("synthetic 429")
                (pl.Path(spool) / f"{u.uuid4().hex}.json").write_text(
                    j.dumps({"n": len(input), "model": model})
                )

                class D:
                    def __init__(self, e):
                        self.embedding = e

                class R:
                    def __init__(self, data):
                        self.data = data

                return R([D([float(len(t)), float(ord(t[0]) if t else 0), 7.0]) for t in input])

        class FakeOpenAI:
            embeddings = FakeEmbeddings()

        return FakeOpenAI()

    return factory


@pytest.fixture
def docs(spark):
    rows = [(i, f"{'abcdefghij'[i % 10]} document number {i}") for i in range(50)]
    return spark.createDataFrame(rows, "id int, text string").repartition(2)


def test_openai_contract_slicing_model_and_order(spark, docs, tmp_path):
    spool = str(tmp_path / "calls")
    pathlib.Path(spool).mkdir()
    cfg = PipelineConfig(
        embeddings_type="openai",
        model="text-embedding-ada-002",
        embedding_dim=3,
        embed_batch_size=7,
    )
    out = embed(docs, cfg, client_factory=make_fake_openai_factory(spool)).collect()
    assert len(out) == 50
    for row in out:  # positional zip-back: vector is f(this row's text)
        assert row.vector == _fake_vec(f"{'abcdefghij'[row.id % 10]} document number {row.id}")
    calls = _calls(spool)
    assert sum(c["n"] for c in calls) == 50
    assert all(c["n"] <= 7 for c in calls)  # minibatch cap honored
    assert {c["model"] for c in calls} == {"text-embedding-ada-002"}


def test_openai_retry_recovers_per_policy(spark, docs, tmp_path):
    spool = str(tmp_path / "calls")
    pathlib.Path(spool).mkdir()
    cfg = PipelineConfig(
        embeddings_type="openai",
        embedding_dim=3,
        embed_batch_size=2048,
        embed_retries=5,
    )
    one = docs.coalesce(1)  # single task -> exactly one failing first call (1 s backoff)
    out = embed(one, cfg, client_factory=make_fake_openai_factory(spool, fail_first=True)).collect()
    assert len(out) == 50
    assert all(r.vector == _fake_vec(f"{'abcdefghij'[r.id % 10]} document number {r.id}") for r in out)
    assert len(_calls(spool)) == 1  # the retry succeeded on attempt 2


def test_openai_exhausted_retries_fail_the_task(spark, tmp_path):
    cfg = PipelineConfig(embeddings_type="openai", embedding_dim=3, embed_retries=1)

    def always_failing_factory():
        class FakeEmbeddings:
            def create(self, input, model):  # noqa: A002
                raise RuntimeError("synthetic hard failure")

        class FakeOpenAI:
            embeddings = FakeEmbeddings()

        return FakeOpenAI()

    df = spark.createDataFrame([(1, "x")], "id int, text string")
    with pytest.raises(Exception, match="after 1 attempts"):
        embed(df, cfg, client_factory=always_failing_factory).collect()


def test_hugging_face_contract_batchsize_and_order(spark, docs, tmp_path):
    spool = str(tmp_path / "calls")
    pathlib.Path(spool).mkdir()
    cfg = PipelineConfig(embeddings_type="hugging_face", model="BAAI/bge-small-en", embedding_dim=3)

    def make_loader():
        def loader(name):
            import json as j
            import pathlib as pl
            import uuid as u

            class FakeST:
                def encode(self, texts, batch_size):
                    (pl.Path(spool) / f"{u.uuid4().hex}.json").write_text(
                        j.dumps({"n": len(texts), "batch_size": batch_size, "model": name})
                    )
                    return [[float(len(t)), float(ord(t[0]) if t else 0), 7.0] for t in texts]

            return FakeST()

        return loader

    out = embed(docs, cfg, model_loader=make_loader()).collect()
    assert len(out) == 50
    assert all(r.vector == _fake_vec(f"{'abcdefghij'[r.id % 10]} document number {r.id}") for r in out)
    calls = _calls(spool)
    assert all(c["batch_size"] == 32 for c in calls)  # HUGGING_FACE_BATCH_SIZE
    assert all(c["model"] == "BAAI/bge-small-en" for c in calls)
    assert sum(c["n"] for c in calls) == 50
