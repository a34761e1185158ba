"""The agent_session workload: a scripted MCP session against a
persisted ~1k-node memory store.

Everything the program sees is generated here from the seed: the seed
rows (written through ``MieStore.atomic_upsert_dfs``) and the JSON-RPC
requests (sent one at a time to ``McpStdioServer.handle``). Alongside
the requests the generator keeps an in-memory model of the store, so
every response is checked against values derived without the code
under test.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np

from perfbench import model

CATEGORIES = ("personal", "professional", "preference", "technical", "relationship", "general")
KINDS = ("person", "company", "project", "product", "technology", "place", "other")
ROLES = ("subject", "alternative", "stakeholder", "context")
WORDS = (
    "alpha bridge cache delta engine fabric garden harbor index joint kernel ledger "
    "matrix needle orbit packet quartz river signal tensor update vector window "
    "yellow zephyr amber basil cedar dune ember fjord glade hazel iris jasper "
    "kelp lotus maple nectar onyx pepper quill rowan sage thyme umber violet"
).split()

NODE_COUNTS = {"mie_fact": 420, "mie_decision": 140, "mie_entity": 160, "mie_event": 140, "mie_topic": 140}
N_TAGS = 200  # exact-search groups: ~5 seeded nodes share a tag
N_INVALID = 20
BASE_TS = 1_700_000_000
EMBED_OF = {  # node table -> (embedding table, id column, embedded text)
    "mie_fact": ("mie_fact_embedding", "fact_id", lambda r: r["content"]),
    "mie_decision": ("mie_decision_embedding", "decision_id", lambda r: f"{r['title']} {r['rationale']}"),
    "mie_entity": ("mie_entity_embedding", "entity_id", lambda r: f"{r['name']} {r['description']}"),
    "mie_event": ("mie_event_embedding", "event_id", lambda r: f"{r['title']} {r['description']}"),
}
SEARCH_COLS = {
    "mie_fact": ("content",),
    "mie_decision": ("title", "rationale"),
    "mie_entity": ("name", "description"),
    "mie_event": ("title", "description"),
    "mie_topic": ("name", "description"),
}
TRAVERSALS = (
    "entities_for_fact",
    "facts_for_entity",
    "entities_for_decision",
    "decisions_for_entity",
    "topics_for_fact",
    "invalidation_chain",
)
# one cycle of the session: 6 recall calls, 2 writes
CYCLE = (
    "store",
    "semantic",
    "exact",
    "graph",
    "status",
    "semantic_repeat",
    "update",
    "list",
)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _tag(i: int) -> str:
    return f"g{i:03d}x"


@dataclass
class StoreModel:
    """The store as the benchmark expects it to be."""

    nodes: dict[str, dict[str, dict]] = field(default_factory=dict)  # table -> id -> row
    edges: dict[str, set[tuple]] = field(default_factory=dict)  # table -> key tuples
    vectors: dict[str, tuple[str, np.ndarray]] = field(default_factory=dict)  # id -> (table, vec)
    user_bytes: int = 0  # JSON bytes of every user row written

    def add_node(self, table: str, row: dict) -> None:
        self.nodes.setdefault(table, {})[row["id"]] = row
        if table in EMBED_OF:
            self.vectors[row["id"]] = (table, model.mock_embedding(EMBED_OF[table][2](row)))

    def add_edge(self, table: str, key: tuple) -> None:
        self.edges.setdefault(table, set()).add(key)


def seed_store(seed: int) -> tuple[dict[str, list[dict]], StoreModel]:
    """Rows per table for the initial store, and the model of it."""
    rng = random.Random(seed)
    m = StoreModel()
    ts = iter(range(BASE_TS, BASE_TS + 10_000))

    def stamp(row: dict) -> dict:
        row["created_at"] = row["updated_at"] = next(ts)
        return row

    for i in range(NODE_COUNTS["mie_topic"]):
        name = f"topic {_words(rng, 2)} {_tag(rng.randrange(N_TAGS))} t{i}"
        m.add_node("mie_topic", stamp({"id": model.topic_id(name), "name": name, "description": _words(rng, 6)}))
    for i in range(NODE_COUNTS["mie_entity"]):
        name = f"{_words(rng, 2)} {_tag(rng.randrange(N_TAGS))} e{i}"
        kind = rng.choice(KINDS)
        m.add_node("mie_entity", stamp({
            "id": model.entity_id(name, kind), "name": name, "kind": kind,
            "description": _words(rng, 8), "source_agent": "seed",
        }))
    for i in range(NODE_COUNTS["mie_decision"]):
        title = f"decide {_words(rng, 3)} {_tag(rng.randrange(N_TAGS))} d{i}"
        rationale = _words(rng, 10)
        m.add_node("mie_decision", stamp({
            "id": model.decision_id(title, rationale), "title": title, "rationale": rationale,
            "alternatives": "[]", "context": _words(rng, 4), "source_agent": "seed",
            "source_conversation": "", "status": "active",
        }))
    for i in range(NODE_COUNTS["mie_event"]):
        title = f"event {_words(rng, 3)} {_tag(rng.randrange(N_TAGS))} v{i}"
        date = f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        m.add_node("mie_event", stamp({
            "id": model.event_id(title, date), "title": title, "description": _words(rng, 8),
            "event_date": date, "source_agent": "seed", "source_conversation": "",
        }))
    for i in range(NODE_COUNTS["mie_fact"]):
        content = f"{_words(rng, 9)} {_tag(rng.randrange(N_TAGS))} f{i}"
        category = rng.choice(CATEGORIES)
        m.add_node("mie_fact", stamp({
            "id": model.fact_id(content, category), "content": content, "category": category,
            "confidence": round(rng.uniform(0.3, 1.0), 2), "source_agent": "seed",
            "source_conversation": "", "valid": True,
        }))

    ids = {t: sorted(m.nodes[t]) for t in NODE_COUNTS}
    for fid in ids["mie_fact"]:
        for eid in rng.sample(ids["mie_entity"], rng.randint(1, 2)):
            m.add_edge("mie_fact_entity", (fid, eid))
        m.add_edge("mie_fact_topic", (fid, rng.choice(ids["mie_topic"])))
    roles: dict[tuple, str] = {}
    for did in ids["mie_decision"]:
        for eid in rng.sample(ids["mie_entity"], rng.randint(1, 2)):
            m.add_edge("mie_decision_entity", (did, eid))
            roles[(did, eid)] = rng.choice(ROLES)
    facts = ids["mie_fact"][:]
    rng.shuffle(facts)
    reasons: dict[tuple, str] = {}
    for new, old in zip(facts[:N_INVALID], facts[N_INVALID:2 * N_INVALID]):
        m.nodes["mie_fact"][old]["valid"] = False
        m.add_edge("mie_invalidates", (new, old))
        reasons[(new, old)] = "superseded in seed"

    rows: dict[str, list[dict]] = {}
    for table, by_id in m.nodes.items():
        rows[table] = [dict(r) for r in by_id.values()]
    for table, keys in m.edges.items():
        rows[table] = []
        for k in sorted(keys):
            if table == "mie_decision_entity":
                rows[table].append({"decision_id": k[0], "entity_id": k[1], "role": roles[k]})
            elif table == "mie_invalidates":
                rows[table].append({"new_fact_id": k[0], "old_fact_id": k[1], "reason": reasons[k]})
            else:
                cols = _EDGE_COLS[table]
                rows[table].append(dict(zip(cols, k)))
    for nid, (table, vec) in sorted(m.vectors.items()):
        emb_table, id_col, _ = EMBED_OF[table]
        rows.setdefault(emb_table, []).append(
            {id_col: nid, "embedding": vec.astype(np.float32).tolist()}
        )
    m.user_bytes = sum(len(json.dumps(r)) for rs in rows.values() for r in rs)
    return rows, m


_EDGE_COLS = {
    "mie_fact_entity": ("fact_id", "entity_id"),
    "mie_fact_topic": ("fact_id", "topic_id"),
}


@dataclass
class Call:
    kind: str  # one of CYCLE
    tool: str  # MCP tool name
    arguments: dict

    def request(self, rid: int) -> dict:
        return {
            "jsonrpc": "2.0",
            "id": rid,
            "method": "tools/call",
            "params": {"name": self.tool, "arguments": self.arguments},
        }


class Script:
    """Generates the session one cycle at a time (cycle c is a pure
    function of (seed, c) and of the model state the earlier cycles
    left), and checks each response against the model."""

    def __init__(self, seed: int, m: StoreModel):
        self.seed = seed
        self.m = m
        self.last_recall = ""

    def cycle(self, c: int) -> list[Call]:
        rng = random.Random(self.seed * 1_000_003 + c)
        m = self.m
        valid_facts = sorted(i for i, r in m.nodes["mie_fact"].items() if r["valid"])
        entities = sorted(m.nodes["mie_entity"])
        calls = []
        for kind in CYCLE:
            if kind == "store":
                content = f"note {_words(rng, 8)} cycle {c}"
                category = rng.choice(CATEGORIES)
                fid = model.fact_id(content, category)
                args = {
                    "type": "fact", "content": content, "category": category,
                    "source_agent": "bench",
                    "relationships": [
                        {"edge_table": "mie_fact_entity", "from_id": fid, "to_id": rng.choice(entities)}
                    ],
                }
                if c % 2 == 1:  # every other store supersedes a seeded fact
                    args["invalidates"] = rng.choice(valid_facts)
                    args["invalidation_reason"] = "newer note"
                calls.append(Call(kind, "mie_store", args))
            elif kind == "semantic":
                self.last_recall = m.nodes["mie_fact"][rng.choice(valid_facts)]["content"]
                calls.append(Call(kind, "mie_query", {"query": self.last_recall, "mode": "semantic", "limit": 10}))
            elif kind == "semantic_repeat":
                calls.append(Call(kind, "mie_query", {"query": self.last_recall, "mode": "semantic", "limit": 10}))
            elif kind == "exact":
                calls.append(Call(kind, "mie_query", {"query": _tag(rng.randrange(N_TAGS)), "mode": "exact", "limit": 20}))
            elif kind == "graph":
                trav = TRAVERSALS[c % len(TRAVERSALS)]
                if trav in ("facts_for_entity", "decisions_for_entity"):
                    node = rng.choice(entities)
                elif trav == "entities_for_decision":
                    node = rng.choice(sorted(m.nodes["mie_decision"]))
                elif trav == "invalidation_chain":
                    node = sorted(m.edges["mie_invalidates"])[rng.randrange(N_INVALID)][1]
                else:
                    node = rng.choice(valid_facts)
                calls.append(Call(kind, "mie_query", {
                    "query": "", "mode": "graph", "graph_traversal": trav, "node_id": node, "limit": 50,
                }))
            elif kind == "status":
                calls.append(Call(kind, "mie_status", {}))
            elif kind == "update":
                if c % 2 == 0:
                    did = rng.choice(sorted(m.nodes["mie_decision"]))
                    status = rng.choice(("superseded", "reversed", "active"))
                    calls.append(Call(kind, "mie_update", {"operation": "update_status", "node_id": did, "status": status}))
                else:
                    calls.append(Call(kind, "mie_update", {
                        "operation": "update_description", "node_id": rng.choice(entities),
                        "description": f"revised {_words(rng, 6)}",
                    }))
            elif kind == "list":
                node_type = ("decision", "entity", "event", "topic")[c % 4]
                calls.append(Call(kind, "mie_list", {"node_type": node_type, "limit": 10, "offset": rng.randrange(20)}))
        return calls

    # -- model updates and checks ------------------------------------------

    def apply_and_check(self, call: Call, out: dict) -> str | None:
        """Advance the model by a successful write, then compare the
        tool's decoded output with the model. Returns a failure reason
        or None."""
        a = call.arguments
        m = self.m
        if call.kind == "store":
            fid = model.fact_id(a["content"], a["category"])
            row = {
                "id": fid, "content": a["content"], "category": a["category"],
                "confidence": 0.8, "source_agent": a["source_agent"],
                "source_conversation": "", "valid": True,
                "created_at": None, "updated_at": None,
            }
            m.add_node("mie_fact", row)
            for rel in a["relationships"]:
                m.add_edge(rel["edge_table"], (rel["from_id"], rel["to_id"]))
            m.user_bytes += len(json.dumps(a))
            if a.get("invalidates"):
                m.nodes["mie_fact"][a["invalidates"]]["valid"] = False
                m.add_edge("mie_invalidates", (fid, a["invalidates"]))
            if out != {"id": fid, "type": "fact"}:
                return f"store returned {out}, expected id {fid}"
            return None
        if call.kind == "update":
            node = a["node_id"]
            table = "mie_decision" if node.startswith("dec:") else "mie_entity"
            if a["operation"] == "update_status":
                m.nodes[table][node]["status"] = a["status"]
            else:
                m.nodes[table][node]["description"] = a["description"]
            m.user_bytes += len(json.dumps(a))
            if out != {"operation": a["operation"], "id": node, "ok": True}:
                return f"update returned {out}"
            return None
        if call.kind in ("semantic", "semantic_repeat"):
            return self._check_semantic(a["query"], out.get("results", []), 10)
        if call.kind == "exact":
            return self._check_exact(a["query"], out.get("results", []), a["limit"])
        if call.kind == "graph":
            return self._check_graph(a["graph_traversal"], a["node_id"], out.get("results", []))
        if call.kind == "status":
            return self._check_status(out.get("stats", {}))
        if call.kind == "list":
            return self._check_list(a, out)
        return None

    def _check_semantic(self, text: str, results: list[dict], k: int) -> str | None:
        m = self.m
        ids = [
            nid for nid, (table, _) in sorted(m.vectors.items())
            if table != "mie_fact" or m.nodes["mie_fact"][nid]["valid"]
        ]
        mat = np.stack([m.vectors[i][1].astype(np.float32).astype(np.float64) for i in ids])
        expected = model.cosine_top_k(model.mock_embedding(text), ids, mat, k)
        got = [(r.get("id"), r.get("similarity")) for r in results]
        if len(got) != len(expected):
            return f"semantic returned {len(got)} rows, expected {len(expected)}"
        for (gid, gsim), (eid, esim) in zip(got, expected):
            if gsim is None or abs(gsim - esim) > 1e-6:
                return f"semantic similarity {gsim} vs expected {esim}"
            if gid != eid and abs(gsim - esim) > 1e-9:
                return f"semantic id {gid} vs expected {eid}"
        boundary = expected[-1][1] if expected else 0.0
        exp_ids = {i for i, s in expected if abs(s - boundary) > 1e-6}
        if not exp_ids <= {g for g, _ in got}:
            return "semantic top-k set differs from the exact cosine ranking"
        return None

    def _check_exact(self, q: str, results: list[dict], limit: int) -> str | None:
        expected = []
        for table in NODE_COUNTS:
            rows = [
                r for r in self.m.nodes[table].values()
                if any(q in (r.get(c) or "") for c in SEARCH_COLS[table])
                and (table != "mie_fact" or r["valid"])
            ]
            rows.sort(key=lambda r: (-(r["created_at"] or 1 << 62), r["id"]))
            expected.extend(r["id"] for r in rows[:limit])
        expected = expected[:limit]
        got = [r.get("id") for r in results]
        if got != expected:
            return f"exact {q!r}: {got} vs expected {expected}"
        return None

    def _check_graph(self, trav: str, node: str, results: list[dict]) -> str | None:
        e = self.m.edges
        if trav == "entities_for_fact":
            exp = {b for a, b in e["mie_fact_entity"] if a == node}
        elif trav == "facts_for_entity":
            exp = {a for a, b in e["mie_fact_entity"] if b == node}
        elif trav == "entities_for_decision":
            exp = {b for a, b in e["mie_decision_entity"] if a == node}
        elif trav == "decisions_for_entity":
            exp = {a for a, b in e["mie_decision_entity"] if b == node}
        elif trav == "topics_for_fact":
            exp = {b for a, b in e["mie_fact_topic"] if a == node}
        else:
            exp = {(a, b) for a, b in e["mie_invalidates"] if node in (a, b)}
            got = {(r.get("new_fact_id"), r.get("old_fact_id")) for r in results}
            return None if got == exp else f"invalidation_chain {got} vs {exp}"
        got = [r.get("id") for r in results]
        if len(got) != len(set(got)) or set(got) != exp:
            return f"{trav}({node}) {sorted(got)} vs expected {sorted(exp)}"
        return None

    def _check_status(self, stats: dict) -> str | None:
        n = self.m.nodes
        facts = n["mie_fact"].values()
        exp = {
            "facts": len(n["mie_fact"]),
            "valid_facts": sum(1 for r in facts if r["valid"]),
            "decisions": len(n["mie_decision"]),
            "active_decisions": sum(1 for r in n["mie_decision"].values() if r["status"] == "active"),
            "entities": len(n["mie_entity"]),
            "events": len(n["mie_event"]),
            "topics": len(n["mie_topic"]),
            "relationships": sum(len(v) for v in self.m.edges.values()),
        }
        exp["invalid_facts"] = exp["facts"] - exp["valid_facts"]
        if stats != exp:
            return f"status {stats} vs expected {exp}"
        return None

    def _check_list(self, a: dict, out: dict) -> str | None:
        table = "mie_" + a["node_type"]
        rows = sorted(self.m.nodes[table].values(), key=lambda r: (-r["created_at"], r["id"]))
        exp = [r["id"] for r in rows[a["offset"]:a["offset"] + a["limit"]]]
        got = [r.get("id") for r in out.get("results", [])]
        if got != exp or out.get("total") != len(rows):
            return f"list {a['node_type']}: {got} / {out.get('total')} vs {exp} / {len(rows)}"
        return None
