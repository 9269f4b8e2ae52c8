"""Correctness checks for the benchmark's outputs.

Every check runs outside the timed windows and returns a list of
failure strings (empty = pass). The checks are plain Python over small
collected results, so they can also be fed deliberately perturbed
outputs (``self_check``) to show that a wrong output counts as failed.

Two kinds of check:

- invariants that hold for any seed (row-count identities, budgets,
  reference ids, ranks summing to one, one label per node);
- exact row counts and order-independent digests, compared only for
  seeds that have an entry in ``expected.json``.
"""

from __future__ import annotations

import hashlib
import json
import math


def digest(rows) -> str:
    """Order-independent digest of an iterable of tuples: md5 over the
    sorted JSON lines, so partition order and row order do not matter."""
    lines = sorted(json.dumps(list(r), ensure_ascii=False, default=str) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# ── index ───────────────────────────────────────────────────────────────

def check_index(counts: dict, corpus_rows: int, dangling_endpoints: int) -> list[str]:
    """Row-count identities of one ``run_index`` output.

    ``counts`` maps table name -> rows counted from the written tables;
    ``dangling_endpoints`` is the number of edge endpoints with no node.
    """
    fails = []
    if counts["documents"] != corpus_rows:
        fails.append(f"documents {counts['documents']} != corpus rows {corpus_rows}")
    if counts["doc_status"] != counts["documents"]:
        fails.append(f"doc_status {counts['doc_status']} != documents {counts['documents']}")
    if counts["entity_embeddings"] != counts["nodes"]:
        fails.append(
            f"entity_embeddings {counts['entity_embeddings']} != nodes {counts['nodes']}"
        )
    if counts["relation_embeddings"] != counts["edges"]:
        fails.append(
            f"relation_embeddings {counts['relation_embeddings']} != edges {counts['edges']}"
        )
    if counts["nodes"] == 0 or counts["edges"] == 0:
        fails.append("empty graph")
    if dangling_endpoints:
        fails.append(f"{dangling_endpoints} edge endpoints are not nodes")
    return fails


def check_graph(mentions, node_names: set, edges) -> list[str]:
    """The merged graph of a mentions table (pandas): one node per
    distinct subject/object, one edge per distinct unordered pair."""
    fails = []
    want_nodes = set(mentions["subj"]) | set(mentions["obj"])
    if node_names != want_nodes:
        fails.append(f"{len(node_names ^ want_nodes)} nodes differ from the mentioned entities")
    pairs = {tuple(sorted(p)) for p in zip(mentions["subj"], mentions["obj"])}
    if len(edges) != len(pairs):
        fails.append(f"{len(edges)} edges for {len(pairs)} distinct entity pairs")
    if (set(edges["src"]) | set(edges["tgt"])) - node_names:
        fails.append("edge endpoints that are not nodes")
    return fails


# ── serving ─────────────────────────────────────────────────────────────

def _compact_json(row: dict, keys) -> str:
    # the engine counts each context row as Spark's to_json of the
    # stripped row, i.e. compact separators and no ASCII escaping
    return json.dumps({k: row[k] for k in keys}, ensure_ascii=False, separators=(",", ":"))


def check_request(result: dict, budgets: dict, count_tokens) -> list[str]:
    """Budget and reference invariants of one ``answer_query`` result.

    ``budgets`` holds the request's max_entity_tokens,
    max_relation_tokens and max_total_tokens; ``count_tokens`` is the
    engine's tokenizer, so the budgets are checked in its own units.
    """
    fails = []
    data = result["raw_data"]["data"]
    info = result["processing_info"]
    ents, rels, chunks = data["entities"], data["relationships"], data["chunks"]
    ent_tok = sum(count_tokens(_compact_json(e, ("entity", "type", "description"))) for e in ents)
    rel_tok = sum(
        count_tokens(_compact_json(r, ("entity1", "entity2", "description"))) for r in rels
    )
    chunk_tok = sum(count_tokens(c["content"] or "") for c in chunks)
    if ent_tok > budgets["max_entity_tokens"]:
        fails.append(f"entities use {ent_tok} > {budgets['max_entity_tokens']} tokens")
    if rel_tok > budgets["max_relation_tokens"]:
        fails.append(f"relations use {rel_tok} > {budgets['max_relation_tokens']} tokens")
    if chunk_tok > info.get("available_chunk_tokens", 0):
        fails.append(
            f"chunks use {chunk_tok} > {info.get('available_chunk_tokens')} available tokens"
        )
    if ent_tok + rel_tok + chunk_tok > budgets["max_total_tokens"]:
        fails.append(
            f"context uses {ent_tok + rel_tok + chunk_tok} > {budgets['max_total_tokens']} tokens"
        )
    ref_ids = {r["reference_id"] for r in result["references"]}
    bad = [c["reference_id"] for c in chunks if c["reference_id"] not in ref_ids]
    if bad:
        fails.append(f"chunk reference ids {bad[:5]} not in the reference list")
    if not result.get("answer"):
        fails.append("empty answer")
    if len(ents) != info.get("entities_after_truncation", len(ents)) or len(chunks) != info.get(
        "final_chunks_count", len(chunks)
    ):
        fails.append("processing_info counts disagree with the returned lists")
    return fails


def request_digest(result: dict) -> dict:
    """Exact, order-independent summary of one request's output."""
    data = result["raw_data"]["data"]
    return {
        "entities": len(data["entities"]),
        "relations": len(data["relationships"]),
        "chunks": len(data["chunks"]),
        "digest": digest(
            [("a", result["answer"])]
            + [("e", e["entity"]) for e in data["entities"]]
            + [("r", r["entity1"], r["entity2"]) for r in data["relationships"]]
            + [("c", c["chunk_id"], c["reference_id"]) for c in data["chunks"]]
        ),
    }


# ── graph analytics ─────────────────────────────────────────────────────

def _one_per_node(pairs, nodes: set, what: str) -> list[str]:
    seen: dict = {}
    for node, _ in pairs:
        seen[node] = seen.get(node, 0) + 1
    fails = []
    missing = nodes - seen.keys()
    extra = seen.keys() - nodes
    dup = [n for n, c in seen.items() if c > 1]
    if missing:
        fails.append(f"{what}: {len(missing)} nodes without a value")
    if extra:
        fails.append(f"{what}: {len(extra)} values for unknown nodes")
    if dup:
        fails.append(f"{what}: {len(dup)} nodes with more than one value")
    return fails


def check_analytics(out: dict, nodes: set, entities: set, k: int) -> list[str]:
    """Invariants of one analytics pass.

    ``out`` maps op -> list of (key, value) pairs; ``nodes`` is the set
    of edge endpoints and ``entities`` the set of embedded entity names.
    """
    fails = []
    fails += _one_per_node(out["components"], nodes, "components")
    fails += _one_per_node(out["communities"], nodes, "communities")
    fails += _one_per_node(out["pagerank"], nodes, "pagerank")
    total = math.fsum(v for _, v in out["pagerank"])
    if abs(total - 1.0) > 1e-6:
        fails.append(f"pagerank sums to {total!r}, not 1")
    if any(not (v >= 0.0 and math.isfinite(v)) for _, v in out["betweenness"]):
        fails.append("betweenness has a negative or non-finite value")
    if {n for n, _ in out["betweenness"]} - nodes:
        fails.append("betweenness values for unknown nodes")
    fails += _one_per_node(out["kmeans"], entities, "kmeans")
    if any(not (0 <= c < k) for _, c in out["kmeans"]):
        fails.append(f"kmeans cluster outside [0, {k})")
    return fails


def analytics_digest(out: dict) -> dict:
    """Exact digests of the discrete analytics outputs (labels,
    components, clusters) and the rank order of the float ones."""
    def top(pairs, n=10):
        return [name for name, _ in sorted(pairs, key=lambda p: (-round(p[1], 9), p[0]))[:n]]

    return {
        "components": digest(out["components"]),
        "n_components": len({c for _, c in out["components"]}),
        "communities": digest(out["communities"]),
        "kmeans": digest(out["kmeans"]),
        "pagerank_top10": top(out["pagerank"]),
        "betweenness_top10": top(out["betweenness"]),
    }


# ── expected values per seed ────────────────────────────────────────────

def compare_expected(actual: dict, expected: dict | None, prefix: str = "") -> list[str]:
    """Exact comparison of every key ``expected`` records; keys absent
    from ``expected`` are not checked (lists compare element-wise up to
    the shorter length, since the number of timed requests varies)."""
    if expected is None:
        return []
    fails = []
    for key, want in expected.items():
        got = actual.get(key)
        name = f"{prefix}{key}"
        if isinstance(want, dict) and isinstance(got, dict):
            fails += compare_expected(got, want, name + ".")
        elif isinstance(want, list) and isinstance(got, list) and want and isinstance(want[0], dict):
            for i, (g, w) in enumerate(zip(got, want)):
                fails += compare_expected(g, w, f"{name}[{i}].")
        elif got != want:
            fails.append(f"{name}: expected {want!r}, got {got!r}")
    return fails


# ── self-check ──────────────────────────────────────────────────────────

def perturbed_request(result: dict) -> dict:
    """A copy of a request result with one chunk citing a reference id
    that is not in the reference list."""
    bad = json.loads(json.dumps(result, default=str))
    chunks = bad["raw_data"]["data"]["chunks"]
    ids = [r["reference_id"] for r in bad["references"]]
    orphan = (max(ids) if ids else 0) + 1000
    chunks.append({"reference_id": orphan, "content": "x", "chunk_id": "perturbed",
                   "file_path": "perturbed"})
    bad["processing_info"] = dict(bad["processing_info"],
                                  final_chunks_count=len(chunks))
    return bad


def perturbed_analytics(out: dict) -> dict:
    """A copy of an analytics pass whose pagerank lost one node."""
    bad = dict(out)
    bad["pagerank"] = list(out["pagerank"])[1:]
    return bad
