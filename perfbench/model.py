"""Independent re-derivations the output checks compare against.

Nothing here imports the code under test: content-hash ids, the
deterministic mock embedding and cosine ranking are re-implemented from
their documented definitions (FIXTURES.md id scheme; the djb2 mock of
the reference's embedding tests) so a check can catch the program
drifting from them.
"""

from __future__ import annotations

import hashlib

import numpy as np

EMBED_DIM = 768  # the MCP server's configured default (mie_spark.config)


def content_id(prefix: str, *fields: str) -> str:
    digest = hashlib.sha256("|".join(fields).encode("utf-8")).hexdigest()
    return f"{prefix}:{digest[:16]}"


def fact_id(content: str, category: str) -> str:
    return content_id("fact", content, category)


def decision_id(title: str, rationale: str) -> str:
    return content_id("dec", title, rationale)


def entity_id(name: str, kind: str) -> str:
    return content_id("ent", name.lower(), kind)


def event_id(title: str, event_date: str) -> str:
    return content_id("evt", title, event_date)


def topic_id(name: str) -> str:
    return content_id("top", name.lower())


_STEPS = np.arange(EMBED_DIM, dtype=np.uint64) * np.uint64(7919)


def mock_embedding(text: str) -> np.ndarray:
    """djb2 over code points with uint64 wraparound, component i =
    ((h + 7919·i) mod 2^64 mod 10000) / 10000 · 2 − 1, L2-normalised."""
    h = 5381
    for ch in text:
        h = ((h << 5) + h + ord(ch)) & 0xFFFFFFFFFFFFFFFF
    with np.errstate(over="ignore"):
        raw = (np.uint64(h) + _STEPS) % np.uint64(10000)
    vec = raw.astype(np.float64) / 10000.0 * 2.0 - 1.0
    norm = np.sqrt(np.dot(vec, vec))
    return vec / norm if norm else vec


def cosine_top_k(
    query: np.ndarray, ids: list[str], matrix: np.ndarray, k: int
) -> list[tuple[str, float]]:
    """Exact cosine top-k, ties broken by id ascending (the documented
    order of semantic search)."""
    if not ids:
        return []
    sims = matrix @ query / (np.linalg.norm(matrix, axis=1) * np.linalg.norm(query))
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:k]
    return [(ids[i], float(sims[i])) for i in order]
