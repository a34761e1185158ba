"""The generators are pure functions of the seed."""

import io
import json

import pyarrow.parquet as pq

from perfbench import agent, analytics, model


def _dump(rows) -> bytes:
    return json.dumps(rows, sort_keys=True).encode()


def test_store_seed_is_byte_identical_per_seed():
    a, _ = agent.seed_store(7)
    b, _ = agent.seed_store(7)
    c, _ = agent.seed_store(8)
    assert _dump(a) == _dump(b)
    assert _dump(a) != _dump(c)


def test_session_script_is_byte_identical_per_seed():
    def script(seed):
        _, m = agent.seed_store(seed)
        s = agent.Script(seed, m)
        return [c.request(i) for c in range(3) for i, c in enumerate(s.cycle(c))]

    assert _dump(script(7)) == _dump(script(7))
    assert _dump(script(7)) != _dump(script(8))


def test_corpus_is_byte_identical_per_seed():
    def parquet_bytes(seed):
        out = {}
        for name, table in analytics.corpus(seed).items():
            buf = io.BytesIO()
            pq.write_table(table, buf)
            out[name] = buf.getvalue()
        return out

    a, b, c = parquet_bytes(3), parquet_bytes(3), parquet_bytes(4)
    assert a == b
    assert a["lineitem"] != c["lineitem"]


def test_store_seed_shape():
    rows, m = agent.seed_store(1)
    assert sum(len(m.nodes[t]) for t in agent.NODE_COUNTS) == 1000
    assert sum(not r["valid"] for r in m.nodes["mie_fact"].values()) == agent.N_INVALID
    assert all(len(r["embedding"]) == model.EMBED_DIM for r in rows["mie_fact_embedding"])


def test_independent_model_agrees_with_the_program_at_head():
    """The checks re-derive ids and mock embeddings; pin that the
    re-derivations agree with the program's own definitions."""
    from mie_spark import ids
    from mie_spark.embedding import MockEmbeddingProvider

    text = "Café résumé 日本語 🚀 g001x"
    assert model.fact_id(text, "general") == ids.fact_id(text, "general")
    assert model.entity_id("Ada Lovelace", "person") == ids.entity_id("Ada Lovelace", "person")
    ref = MockEmbeddingProvider(model.EMBED_DIM).embed([text])[0]
    assert max(abs(x - y) for x, y in zip(model.mock_embedding(text), ref)) < 1e-12
