"""The 4-stage kg_query pipeline as a parameterized DataFrame program.

Reference entry point: ``kg_query``
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:330-597),
stages labelled at :612-614 — 1. Search → 2. Truncate → 3. Merge chunks
→ 4. Build LLM context.

Which path runs: ``kg_query`` follows the engine's one size policy
(``session.collect_if_small``). It probes the raw projection of every
table the mode reads — nodes, edges and chunk (id, path) rows; entity
embeddings for local/hybrid/mix, relation embeddings for
global/hybrid/mix, chunk embeddings for mix or ``chunk_pick="vector"``
— with an embedding row weighing ceil(d / EMBEDDING_DIM) rows. When
every probe fits and holds nothing the twin cannot mirror
(``_probe``), the four stages run in Python and numpy on the driver
(``_kg_query_driver``), as the reference serves from its in-process
nano-vectordb matrices and JSON KV stores: one collect per table, plus
one for the text and path properties of the merged chunks, and no plan
building. Otherwise ``kg_query_distributed``, the Spark program below,
runs; both return the same ``QueryContext``. The cap is the engine's
shared row cap; measured crossovers are in CHANGES.md.

Spark lifecycle (SURVEY.md §3.1): the query embedding is computed once
(reference :959-974) and broadcast by value; local/global branches are
independent sub-plans Spark schedules in parallel; every order-sensitive
reference loop (round-robin dedup, prefix truncation, weighted polling)
is an explicit window over an explicit rank; the final context rows
(≤ ~1k) are collected to the driver for assembly — the LLM boundary.

Modes (reference :984-1034, normalization all→hybrid at
model/rag_parameters.py:116): local = entity search; global = relation
search; hybrid = both; mix = both + direct chunk vector search.
"""

from __future__ import annotations

import json
import math
import re
from collections import Counter
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import GRAPH_FIELD_SEP
from ..functions.embedding import embed_text
from ..functions.vectors import as_matrix, cosine_with_query_np
from ..session import DRIVER_MAX_ROWS, collect_if_small
from ..tokenizer import count_tokens
from ..operators.merge import rank_branch, round_robin_merge
from ..operators.polling import gradient_quotas, weighted_polling_pick
from ..operators.truncation import truncate_by_token_budget
from ..operators.vector_topk import cosine_topk, tiebreak_col

_STOPWORDS = {
    "the", "a", "an", "of", "in", "on", "to", "and", "or", "is", "are",
    "what", "which", "who", "how", "does", "do", "with", "for", "about",
    "tell", "me", "between", "relationship",
}


def extract_keywords(query: str, user_keywords: list[str] | None = None) -> list[str]:
    """Q1 — the LLM keyword slot's deterministic stand-in: tf-ranked
    non-stopword terms plus capitalized spans, unioned with user-supplied
    keywords (set union, reference lightrag_search.py:83-84, :385-390)."""
    spans = re.findall(r"(?:[A-Z][A-Za-z0-9'&-]*)(?:\s+[A-Z][A-Za-z0-9'&-]*)*", query)
    words = [w for w in re.findall(r"[a-z]+", query.lower()) if w not in _STOPWORDS]
    ranked = [w for w, _ in Counter(words).most_common(8)]
    out: list[str] = []
    for kw in spans + ranked + (user_keywords or []):
        if kw and kw not in out:
            out.append(kw)
    return out


def extract_keywords_hl_ll(
    query: str, user_keywords: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """The reference splits keywords into high-level (thematic) and
    low-level (specific entities) lists (lightrag_search.py:689-699).
    Deterministic stand-in: capitalized entity spans → low-level,
    tf-ranked terms + user keywords → high-level."""
    spans = re.findall(r"(?:[A-Z][A-Za-z0-9'&-]*)(?:\s+[A-Z][A-Za-z0-9'&-]*)*", query)
    words = [w for w in re.findall(r"[a-z]+", query.lower()) if w not in _STOPWORDS]
    ranked = [w for w, _ in Counter(words).most_common(8)]
    ll = list(dict.fromkeys(s for s in spans if s))
    hl = [w for w in dict.fromkeys(ranked + (user_keywords or [])) if w not in ll]
    return hl, ll


@dataclass
class QueryParams:
    """Mirror of the reference QueryParameters defaults
    (model/rag_parameters.py:27,121-122; top_k default 60 in LightRAG)."""
    mode: str = "hybrid"  # local | global | hybrid | mix (all→hybrid)
    top_k: int = 60
    max_entity_tokens: int = 100
    max_relation_tokens: int = 800
    max_total_tokens: int = 5000
    related_chunk_number: int = 5
    # Q11 vs Q12 (lightrag_search.py:1472-1521): 'weighted_polling' or
    # 'vector' (vector falls back to polling on failure)
    chunk_pick: str = "weighted_polling"
    # Q19 (lightrag_search.py:454-487)
    only_need_context: bool = False
    only_need_prompt: bool = False
    # Q17 prompt slots (reference defaults at lightrag_search.py:771-777)
    response_type: str = "Multiple Paragraphs"
    user_prompt: str = ""


@dataclass
class GraphTables:
    nodes: DataFrame
    edges: DataFrame
    chunks: DataFrame
    entity_embeddings: DataFrame
    relation_embeddings: DataFrame
    chunk_embeddings: DataFrame
    # (file_path, last_modified) — P12: for webtext the authoritative
    # last-modified is warc_ts (operators.personalization.last_modified);
    # joined into the query reference list (lightrag_search.py:826-861)
    path_properties: DataFrame | None = None


# The four-slot context template (reference: PROMPTS["kg_query_context"]
# formatted at lightrag_search.py:895-900 with entities_str/relations_str/
# text_chunks_str/reference_list_str; section payloads are JSON-lines,
# lightrag_search.py:780-785, :822-824; reference rows are
# "[id] path (last_modified: iso)", :846-853).
KG_QUERY_CONTEXT_TEMPLATE = """-----Entities(KG)-----

```json
{entities_str}
```

-----Relationships(KG)-----

```json
{relations_str}
```

-----Document Chunks(DC)-----

```json
{text_chunks_str}
```

-----Reference Document List-----

{reference_list_str}
"""


def _json_lines(rows, keys) -> str:
    """JSON-lines section payload, exactly as the reference serializes
    context rows (json.dumps with default separators, ensure_ascii=False
    — lightrag_search.py:780-785)."""
    return "\n".join(
        json.dumps({k: r[k] for k in keys}, ensure_ascii=False) for r in rows
    )


@dataclass
class QueryContext:
    # post-truncation row shapes match the reference exactly
    # (lightrag_search.py:1166-1173, :1193-1200 minus the file_path/
    # created_at keys the reference strips during truncation, :1208-1240):
    # entities: {entity, type, description}; relations: {entity1,
    # entity2, description}; chunks: {reference_id, content} (+ chunk_id/
    # file_path kept for provenance, not serialized into the context).
    entities: list[dict] = field(default_factory=list)
    relations: list[dict] = field(default_factory=list)
    chunks: list[dict] = field(default_factory=list)
    keywords: list[str] = field(default_factory=list)
    keywords_hl: list[str] = field(default_factory=list)
    keywords_ll: list[str] = field(default_factory=list)
    references: list[dict] = field(default_factory=list)
    mode: str = "hybrid"
    processing_info: dict = field(default_factory=dict)

    def reference_list_str(self) -> str:
        def fmt(r: dict) -> str:
            lm = r.get("last_modified")
            ts = f" (last_modified: {lm.isoformat()})" if lm else ""
            return f"[{r['reference_id']}] {r['file_path']}{ts}"

        return "\n".join(fmt(r) for r in self.references if r["reference_id"])

    def context_str(self) -> str:
        """Q16 — the templated context assembly (reference :728-924)."""
        return KG_QUERY_CONTEXT_TEMPLATE.format(
            entities_str=_json_lines(self.entities, ("entity", "type", "description")),
            relations_str=_json_lines(
                self.relations, ("entity1", "entity2", "description")
            ),
            text_chunks_str=_json_lines(self.chunks, ("reference_id", "content")),
            reference_list_str=self.reference_list_str(),
        )

    def raw_data(self) -> dict:
        """The structured payload next to the context string
        (convert_to_user_format shape + the metadata/processing_info
        counts at lightrag_search.py:693-712)."""
        return {
            "data": {
                "entities": self.entities,
                "relationships": self.relations,
                "chunks": self.chunks,
            },
            "metadata": {
                "query_mode": self.mode,
                "keywords": {
                    "high_level": self.keywords_hl,
                    "low_level": self.keywords_ll,
                },
                "processing_info": self.processing_info,
            },
            "status": "success",
        }


def _entity_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q2 — entity vector top-k + node attrs + degree ("local")."""
    top = cosine_topk(g.entity_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.nodes, "name").select(
        "name", "type", "description", "degree", "source_chunk_ids", "vscore"
    )


def _relation_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q3 — relation vector top-k + edge attrs ("global")."""
    top = cosine_topk(g.relation_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.edges, ["src", "tgt"]).select(
        "src", "tgt", "keywords", "description", "weight", "combined_degree",
        "source_chunk_ids", "vscore",
    )


def _chunk_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q4 — direct chunk vector top-k ("naive"/"mix" contribution)."""
    top = cosine_topk(g.chunk_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.chunks.select("chunk_id", "content", "file_path"), "chunk_id")


def gather_chunks_from_members(
    selected: DataFrame, member_col: str, chunk_ids_col: str = "source_chunk_ids"
) -> DataFrame:
    """Q9/Q10 — explode member→chunk provenance; occurrence = how many
    selected members reference the chunk; first-member-wins dedup; rank
    chunks per member by occurrence desc (reference :1389-1464)."""
    exploded = selected.select(
        F.col(member_col).alias("member"),
        F.col("merge_ix"),
        F.explode(chunk_ids_col).alias("chunk_id"),
    )
    occ = Window.partitionBy("chunk_id")
    first_w = Window.partitionBy("chunk_id").orderBy("merge_ix")
    return (
        exploded.withColumn("occurrence", F.count(F.lit(1)).over(occ))
        .withColumn("_rk", F.row_number().over(first_w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def _start(
    query: str, params: QueryParams, user_keywords: list[str] | None
) -> tuple[QueryContext, np.ndarray]:
    """Both paths' prologue: the mode check, the keywords and the query
    embedding, in an otherwise empty context."""
    mode = "hybrid" if params.mode == "all" else params.mode
    if mode not in ("local", "global", "hybrid", "mix"):
        # an unknown/misspelled mode would otherwise run zero branches
        # and return an EMPTY context with status success — callers
        # could not tell a bad mode from a genuinely empty result
        raise ValueError(
            f"kg_query: unsupported mode {params.mode!r} "
            "(expected local | global | hybrid | mix | all)"
        )
    keywords = extract_keywords(query, user_keywords)
    hl, ll = extract_keywords_hl_ll(query, user_keywords)
    # Q1: embed once, reuse across all vector ops (reference :959-974)
    qvec = embed_text(query if not keywords else " ".join(keywords))
    ctx = QueryContext(keywords=keywords, keywords_hl=hl, keywords_ll=ll, mode=mode)
    return ctx, qvec


def _branches(mode: str) -> tuple[bool, bool, bool]:
    """A mode's (entity, relation, chunk-vector) search branches."""
    return (
        mode in ("local", "hybrid", "mix"),
        mode in ("global", "hybrid", "mix"),
        mode == "mix",
    )


def _chunk_budget(ctx: QueryContext, query: str, params: QueryParams) -> int:
    """Q14: the dynamic chunk token budget (lightrag_search.py:761-823):
    max_total − tokens(system-prompt scaffold) − tokens(kg context
    ACTUALLY kept) − tokens(query) − 200 buffer, all through the shared
    tokenizer — the reference formula, not the configured-maxima
    estimate."""
    from ..operators.context_ops import build_rag_prompt

    pre_kg_context = KG_QUERY_CONTEXT_TEMPLATE.format(
        entities_str=_json_lines(ctx.entities, ("entity", "type", "description")),
        relations_str=_json_lines(
            ctx.relations, ("entity1", "entity2", "description")
        ),
        text_chunks_str="",
        reference_list_str="",
    )
    pre_sys_prompt = build_rag_prompt("", params.response_type, params.user_prompt)
    return max(
        params.max_total_tokens
        - count_tokens(pre_sys_prompt)
        - count_tokens(pre_kg_context)
        - count_tokens(query)
        - 200,  # reference: reserved for reference list + safety
        0,
    )


def _finish(
    ctx: QueryContext, refs: list[tuple], chunks: list[tuple],
    counts: tuple[int, int, int], available_chunk_tokens: int,
) -> QueryContext:
    """Stage 4's context from the ordered (ref_ix, file_path,
    last_modified) reference rows and (chunk_id, content, file_path)
    chunk rows, plus the processing_info counts (entities, relations,
    merged chunks found before truncation)."""
    ctx.references = [
        {"reference_id": ix, "file_path": fp, "last_modified": lm}
        for ix, fp, lm in refs
    ]
    ref_by_path = {fp: ix for ix, fp, _ in refs}

    def _ref_for(raw_path: str) -> int:
        # a chunk's file_path may be a <SEP>-joined multi-file string;
        # refs are keyed on the EXPANDED single paths (Q21), so cite the
        # first (min ref_ix) matching expanded path — the reference's
        # generate_reference_list_from_chunks behavior
        # (lightrag_search.py:826-861)
        hits = [
            ref_by_path[p]
            for p in (raw_path or "").split(GRAPH_FIELD_SEP)
            if p in ref_by_path
        ]
        return min(hits) if hits else 0

    ctx.chunks = [
        {"reference_id": _ref_for(fp), "content": content, "chunk_id": cid,
         "file_path": fp}
        for cid, content, fp in chunks
    ]
    n_entities, n_relations, n_merged = counts
    ctx.processing_info = {
        "total_entities_found": n_entities,
        "total_relations_found": n_relations,
        "entities_after_truncation": len(ctx.entities),
        "relations_after_truncation": len(ctx.relations),
        "merged_chunks_count": n_merged,
        "final_chunks_count": len(ctx.chunks),
        "available_chunk_tokens": available_chunk_tokens,
    }
    return ctx


def kg_query(
    spark: SparkSession,
    g: GraphTables,
    query: str,
    params: QueryParams | None = None,
    user_keywords: list[str] | None = None,
) -> QueryContext:
    """The 4-stage query (module docstring): in-process when every
    table it reads passes the probe, else ``kg_query_distributed``."""
    params = params or QueryParams()
    ctx, qvec = _start(query, params, user_keywords)
    tables = _probe(g, ctx.mode, params, len(qvec))
    if tables is not None:
        out = _kg_query_driver(g, tables, replace(ctx), qvec, query, params)
        if out is not None:
            return out
    return _kg_query_distributed(g, ctx, qvec, query, params)


def _probe(g: GraphTables, mode: str, params: QueryParams, dim: int) -> dict | None:
    """One ``collect_if_small`` per table the mode reads, projected to
    the columns the twin uses; an embedding row weighs its width. Chunk
    text is not probed: ``_fetch`` reads it for the merged chunks only.

    None — run the Spark program — when a table is over the cap or
    holds what the twin does not mirror: a null or duplicate key, a
    null or NaN edge weight, a null chunk id in a provenance list, a
    null, ragged or non-finite vector or one whose width is not the
    query's (Spark null-pads it and the score turns null), or a
    ``last_modified`` that is not a timestamp."""
    want_local, want_global, want_vector = _branches(mode)
    pp = g.path_properties
    if pp is not None and not isinstance(
        pp.schema["last_modified"].dataType, T.TimestampType
    ):
        return None

    def emb(df: DataFrame, keys: list[str]) -> tuple:
        tb = tiebreak_col(df)
        tb = F.col(tb) if tb else F.lit(0)
        return df, keys, [tb.alias("_tb"), "embedding"], "embedding"

    # name → (frame, key columns, other columns, vector column). The
    # tables that grow with the corpus come first, the narrowest first:
    # a KB over the cap usually stops at the chunk probe, which costs
    # least per row
    specs = {
        "chunks": (g.chunks, ["chunk_id"], ["file_path"], None),
        "edges": (g.edges, ["src", "tgt"],
                  ["description", "weight", "source_chunk_ids"], None),
    }
    if want_global:
        specs["relation_embeddings"] = emb(g.relation_embeddings, ["src", "tgt"])
    if want_vector or params.chunk_pick == "vector":
        specs["chunk_embeddings"] = emb(g.chunk_embeddings, ["chunk_id"])
    specs["nodes"] = (g.nodes, ["name"],
                      ["type", "description", "source_chunk_ids"], None)
    if want_local:
        specs["entity_embeddings"] = emb(g.entity_embeddings, ["name"])

    out = {}
    for name, (df, keys, cols, vec) in specs.items():
        pdf = collect_if_small(df.select(*keys, *cols), DRIVER_MAX_ROWS, vec_col=vec)
        if (pdf is None or pdf[keys].isna().any(axis=None)
                or pdf.duplicated(keys).any()):
            return None
        if vec is not None:
            x = as_matrix(pdf.pop(vec)) if len(pdf) else np.zeros((0, dim))
            if x is None or x.shape[1] != dim or pdf["_tb"].isna().any():
                return None
            pdf = (pdf, x)
        out[name] = pdf
    if out["edges"]["weight"].isna().any():
        return None
    for name in ("nodes", "edges"):
        ids = [a for a in out[name]["source_chunk_ids"] if a is not None and len(a)]
        if ids and pd.isna(np.concatenate(ids)).any():
            return None
    return out


def _fetch(g: GraphTables, chunk_ids: list[str], paths: set) -> tuple | None:
    """The merged chunks' text (chunk_id → content) and their paths'
    ``last_modified`` (path → value, as a ``Row`` collect returns it),
    in one collect of a tagged union; None when a path has more than
    one property row (the Spark program's join would repeat it)."""
    part = g.chunks.where(F.col("chunk_id").isin(chunk_ids)).select(
        F.lit("c").alias("_sec"), F.col("chunk_id").alias("_key"), "content",
        F.lit(None).cast("timestamp").alias("last_modified"),
    )
    if g.path_properties is not None and paths:
        part = part.unionByName(
            g.path_properties.where(F.col("file_path").isin(sorted(paths))).select(
                F.lit("p").alias("_sec"), F.col("file_path").alias("_key"),
                F.lit(None).cast("string").alias("content"), "last_modified",
            )
        )
    content, lm = {}, {}
    for r in part.collect():
        if r["_sec"] == "c":
            content[r["_key"]] = r["content"]
        elif r["_key"] in lm:
            return None
        else:
            lm[r["_key"]] = r["last_modified"]
    return content, lm


# ── The in-process twin of kg_query_distributed. Each step keeps a
#    Spark value semantic: cosine folds per dimension in order; top-k
#    orders by (score desc, tie-break column) and limits before its
#    inner join; every rank sorts by the same keys; F.to_json is
#    compact and drops null fields. ─────────────────────────────────

_JSON_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\f": "\\f",
                 "\n": "\\n", "\r": "\\r", "\t": "\\t"}
_JSON_SPECIAL = re.compile(r'["\\\x00-\x1f]')


def _to_json(fields: tuple) -> str:
    """``F.to_json(F.struct(...))`` of (name, string) fields: compact,
    null fields dropped, Jackson's escapes (``\\u00XX`` upper-case)."""
    def esc(m: re.Match) -> str:
        c = m.group()
        return _JSON_ESCAPES.get(c) or f"\\u{ord(c):04X}"

    return "{" + ",".join(
        f'"{k}":"{_JSON_SPECIAL.sub(esc, v)}"' for k, v in fields if v is not None
    ) + "}"


def _topk(probed: tuple, qvec, k: int) -> list[tuple[int, float]]:
    """``cosine_topk`` as (row, score): score desc, then the tie-break
    column, limit k."""
    pdf, x = probed
    s = cosine_with_query_np(x, qvec)
    if k <= 0:
        return []
    cand = range(len(s))
    if len(s) > k:  # every row tied with the k-th score stays a candidate
        cand = np.flatnonzero(s >= np.partition(s, len(s) - k)[len(s) - k])
    tb = pdf["_tb"].tolist()
    return [(int(i), float(s[i]))
            for i in sorted(cand, key=lambda i: (-s[i], tb[i]))[:k]]


def _round_robin(branches: list[list], key) -> list:
    """``round_robin_merge``: interleave at pos × n + branch; the first
    occurrence of a key wins; list position is merge_ix."""
    n = len(branches)
    order = sorted(
        (pos * n + b, b, pos)
        for b, rows in enumerate(branches) for pos in range(len(rows))
    )
    seen, out = set(), []
    for _, b, pos in order:
        row = branches[b][pos]
        if key(row) not in seen:
            seen.add(key(row))
            out.append(row)
    return out


def _prefix(rows: list, tokens, budget: int) -> list:
    """``truncate_by_token_budget``: the rows whose running token count
    stays within the budget."""
    out, cum = [], 0
    for r in rows:
        cum += tokens(r)
        if cum > budget:
            break
        out.append(r)
    return out


def _gather(members: list) -> dict:
    """``gather_chunks_from_members`` over the members' chunk id lists
    in merge_ix order: chunk_id → [first member's merge_ix, occurrence]."""
    out: dict = {}
    for ix, ids in enumerate(members):
        for cid in ids if ids is not None else ():
            if cid in out:
                out[cid][1] += 1
            else:
                out[cid] = [ix, 1]
    return out


def _poll(gathered: dict, n_entities: int, per_entity: int) -> list[str]:
    """``gradient_quotas`` + ``weighted_polling_pick``: the entity at
    merge_ix r keeps its max(1, floor(B(R − r) / (R(R + 1)/2) + 0.5))
    first-owned chunks by (occurrence desc, chunk_id), B = per_entity
    × R."""
    budget = per_entity * n_entities
    tri = n_entities * (n_entities + 1) / 2.0
    owned: dict = {}
    for cid, (ix, occ) in gathered.items():
        owned.setdefault(ix, []).append((-occ, cid))
    picked = []
    for ix, rows in owned.items():
        quota = max(1, math.floor(budget * (n_entities - ix) / tri + 0.5))
        picked += [cid for _, cid in sorted(rows)[:quota]]
    return picked


def _kg_query_driver(
    g: GraphTables, t: dict, ctx: QueryContext, qvec, query: str,
    params: QueryParams,
) -> QueryContext | None:
    """The four stages of ``kg_query_distributed`` over the probed
    tables, in Python and numpy (see the notes above); None when
    ``_fetch`` finds what the twin does not mirror."""
    want_local, want_global, want_vector = _branches(ctx.mode)
    nodes, edges, chunks = t["nodes"], t["edges"], t["chunks"]
    n_name, n_type, n_desc, n_ids = (
        nodes[c].tolist() for c in ("name", "type", "description", "source_chunk_ids")
    )
    e_src, e_tgt, e_desc, e_w, e_ids = (
        edges[c].tolist()
        for c in ("src", "tgt", "description", "weight", "source_chunk_ids")
    )
    node_ix = {name: i for i, name in enumerate(n_name)}
    edge_ix = {key: j for j, key in enumerate(zip(e_src, e_tgt))}
    chunk_path = dict(zip(chunks["chunk_id"], chunks["file_path"]))

    def node(i: int, vscore: float) -> dict:
        return {"name": n_name[i], "type": n_type[i], "description": n_desc[i],
                "ids": n_ids[i], "vscore": vscore}

    def edge(j: int, vscore: float) -> dict:
        return {"src": e_src[j], "tgt": e_tgt[j], "description": e_desc[j],
                "weight": e_w[j], "ids": e_ids[j], "vscore": vscore}

    # ── Stage 1: search + cross-derivation ───────────────────────────
    loc = glob = None
    if want_local:
        pdf, _ = t["entity_embeddings"]
        names = pdf["name"].tolist()
        loc = [node(node_ix[names[i]], s)
               for i, s in _topk(t["entity_embeddings"], qvec, params.top_k)
               if names[i] in node_ix]
        loc.sort(key=lambda r: (-r["vscore"], r["name"]))
    if want_global:
        pdf, _ = t["relation_embeddings"]
        keys = list(zip(pdf["src"], pdf["tgt"]))
        glob = [edge(edge_ix[keys[i]], s)
                for i, s in _topk(t["relation_embeddings"], qvec, params.top_k)
                if keys[i] in edge_ix]
        glob.sort(key=lambda r: (-r["vscore"], r["src"], r["tgt"]))

    ent_branches = [] if loc is None else [loc]
    if glob is not None:
        ep: dict = {}  # endpoint → max score of its top relations
        for r in glob:
            for name in (r["src"], r["tgt"]):
                ep[name] = max(ep.get(name, r["vscore"]), r["vscore"])
        ep_rows = [node(node_ix[n], s) for n, s in ep.items() if n in node_ix]
        ep_rows.sort(key=lambda r: (-r["vscore"], r["name"]))
        ent_branches.append(ep_rows)
    entities = _round_robin(ent_branches, lambda r: r["name"]) if ent_branches else None

    rel_branches = [] if glob is None else [glob]
    if loc is not None:
        # a (src, tgt) pair takes the max score over both its endpoints
        score = {r["name"]: r["vscore"] for r in loc}
        hit = np.flatnonzero(
            edges["src"].isin(list(score)).to_numpy()
            | edges["tgt"].isin(list(score)).to_numpy()
        )
        inc = [edge(j, max(score[e] for e in (e_src[j], e_tgt[j]) if e in score))
               for j in hit]
        inc.sort(key=lambda r: (-r["vscore"], -r["weight"], r["src"], r["tgt"]))
        rel_branches.append(inc)
    relations = (
        _round_robin(rel_branches, lambda r: (r["src"], r["tgt"]))
        if rel_branches else None
    )

    # ── Stage 2: token truncation of the serialized rows ─────────────
    n_entities = n_relations = 0
    if entities is not None:
        n_entities = len(entities)
        entities = _prefix(entities, lambda r: count_tokens(_to_json((
            ("entity", r["name"]), ("type", r["type"]),
            ("description", r["description"]),
        ))), params.max_entity_tokens)
        ctx.entities = [{"entity": r["name"], "type": r["type"],
                         "description": r["description"]} for r in entities]
    if relations is not None:
        n_relations = len(relations)
        relations = _prefix(relations, lambda r: count_tokens(_to_json((
            ("entity1", r["src"]), ("entity2", r["tgt"]),
            ("description", r["description"]),
        ))), params.max_relation_tokens)
        ctx.relations = [{"entity1": r["src"], "entity2": r["tgt"],
                          "description": r["description"]} for r in relations]

    # ── Stage 3: chunk gathering, picking and merge ──────────────────
    branches: list[list[str]] = []
    if want_vector:
        pdf, _ = t["chunk_embeddings"]
        ids = pdf["chunk_id"].tolist()
        top = _topk(t["chunk_embeddings"], qvec, params.related_chunk_number * 2)
        vec = [(ids[i], s) for i, s in top if ids[i] in chunk_path]
        branches.append([cid for cid, _ in sorted(vec, key=lambda v: (-v[1], v[0]))])
    ent_ids: set = set()
    if entities is not None:
        got = _gather([r["ids"] for r in entities])
        if params.chunk_pick == "vector":
            pdf, x = t["chunk_embeddings"]
            mask = pdf["chunk_id"].isin(list(got)).to_numpy()
            ids = pdf["chunk_id"][mask].tolist()
            s = cosine_with_query_np(x[mask], embed_text(query))
            num = max(int(params.related_chunk_number * max(len(entities), 1) / 2), 1)
            top = sorted(range(len(ids)), key=lambda i: (-s[i], ids[i]))[:num]
            picked = [ids[i] for i in top]
        else:
            picked = _poll(got, len(entities), params.related_chunk_number)
        ent_ids = set(picked)
        branches.append(sorted(picked, key=lambda c: (-got[c][1], c)))
    if relations is not None:
        got = _gather([r["ids"] for r in relations])
        rel = [c for c in got if c not in ent_ids]
        branches.append(sorted(rel, key=lambda c: (-got[c][1], c)))

    merged = [c for c in _round_robin(branches, lambda c: c) if c in chunk_path]
    available = _chunk_budget(ctx, query, params)
    fetched = ({}, {})
    if merged:
        fetched = _fetch(g, merged, {
            p for c in merged if chunk_path[c] is not None
            for p in chunk_path[c].split(GRAPH_FIELD_SEP)
        })
        if fetched is None:
            return None
    content, lm = fetched
    kept = _prefix(merged, lambda c: count_tokens(content[c] or ""), available)

    # ── Stage 4: numbered, <SEP>-expanded references ─────────────────
    first: dict = {}  # raw file_path → ref_ix, in merge_ix order
    for c in kept:
        first.setdefault(chunk_path[c], len(first) + 1)
    expanded: dict = {}
    for raw, ix in first.items():
        for p in raw.split(GRAPH_FIELD_SEP) if raw is not None else ():
            expanded.setdefault(p, ix)
    refs = sorted((ix, p, lm.get(p)) for p, ix in expanded.items())
    return _finish(
        ctx, refs, [(c, content[c], chunk_path[c]) for c in kept],
        (n_entities, n_relations, len(merged)), available,
    )


def kg_query_distributed(
    spark: SparkSession,
    g: GraphTables,
    query: str,
    params: QueryParams | None = None,
    user_keywords: list[str] | None = None,
) -> QueryContext:
    """The Spark program of ``kg_query``, same contract: the four stages
    as one DataFrame plan per stage, for KBs over the driver cap."""
    params = params or QueryParams()
    ctx, qvec = _start(query, params, user_keywords)
    return _kg_query_distributed(g, ctx, qvec, query, params)


def _kg_query_distributed(
    g: GraphTables, ctx: QueryContext, qvec, query: str, params: QueryParams
) -> QueryContext:
    mode = ctx.mode

    # ── Stage 1: search (independent branches; Spark runs them when
    #    actions fire — the asyncio.gather analogue) ──────────────────
    want_local, want_global, want_vector = _branches(mode)

    # Reference hybrid semantics (lightrag_search.py:984-1066): the
    # local (entity) search ALSO yields the edges incident to its top
    # entities, and the global (relation) search ALSO yields its edges'
    # endpoint entities; each final list is the round-robin interleave
    # of its two branches with first-occurrence dedup.
    # Each search result feeds two later branches (entities + incident
    # relations / relations + endpoint entities). They are NOT
    # checkpointed: both branches live inside the ONE stage-2b job, the
    # duplicated top-k sub-plan is bounded (k rows over a TakeOrdered
    # scan), and the lazy localCheckpoints used previously cost ~0.2s
    # of plan→RDD compilation per query — more than the duplicated
    # compute they saved (measured A/B, OPTIMIZATION_r06.md).
    loc = _entity_search(g, qvec, params.top_k) if want_local else None
    glob = _relation_search(g, qvec, params.top_k) if want_global else None

    ent_branches: list[DataFrame] = []
    if loc is not None:
        ent_branches.append(rank_branch(loc, [F.desc("vscore"), "name"], 0))
    if glob is not None:
        # endpoint entities of the top relations, in relation-score order
        endpoints = glob.select(
            F.explode(F.array("src", "tgt")).alias("name"), "vscore"
        ).groupBy("name").agg(F.max("vscore").alias("vscore"))
        ep = endpoints.join(g.nodes, "name").select(
            "name", "type", "description", "degree", "source_chunk_ids", "vscore"
        )
        ent_branches.append(
            rank_branch(ep, [F.desc("vscore"), "name"], len(ent_branches))
        )
    entities = (
        round_robin_merge(ent_branches, ["name"]) if ent_branches else None
    )

    rel_branches: list[DataFrame] = []
    if glob is not None:
        rel_branches.append(rank_branch(glob, [F.desc("vscore"), "src", "tgt"], 0))
    if loc is not None:
        # edges incident to the top local entities, ranked by the
        # entity's score then edge weight (one-hop graph expansion)
        inc = (
            loc.select("name", "vscore")
            .join(
                g.edges,
                (F.col("name") == F.col("src")) | (F.col("name") == F.col("tgt")),
            )
            .groupBy("src", "tgt")
            .agg(
                F.max("vscore").alias("vscore"),
                F.first("keywords").alias("keywords"),
                F.first("description").alias("description"),
                F.first("weight").alias("weight"),
                F.first("combined_degree").alias("combined_degree"),
                F.first("source_chunk_ids").alias("source_chunk_ids"),
            )
        )
        rel_branches.append(
            rank_branch(
                inc.select(
                    "src", "tgt", "keywords", "description", "weight",
                    "combined_degree", "source_chunk_ids", "vscore",
                ),
                [F.desc("vscore"), F.desc("weight"), "src", "tgt"],
                len(rel_branches),
            )
        )
    relations = (
        round_robin_merge(rel_branches, ["src", "tgt"]) if rel_branches else None
    )

    # ── Stage 2: token truncation (Q8) ───────────────────────────────
    # token accounting serializes the same stripped row shape the
    # reference does (file_path/created_at removed before counting,
    # lightrag_search.py:1208-1240): entities as {entity, type,
    # description}, relations as {entity1, entity2, description}.
    # Known deviation: F.to_json emits compact separators ("," ":")
    # while the reference counts json.dumps' spaced form (", " ": ") —
    # the spaced punctuation can tokenize to slightly more tokens, so
    # rows within a few tokens of max_entity/relation_tokens may be
    # kept here that the reference would cut. The kept-set rule and
    # ordering are identical; only the boundary token arithmetic
    # differs (Catalyst's to_json has no separator option; the q8
    # oracle pins THIS accounting).
    # Truncation flags the kept prefix (_kept) instead of dropping the
    # rest, so the checkpoints below still hold every row and the
    # pre-truncation counts (the reference's processing_info counts,
    # lightrag_search.py:693-712) come from the collects the stages run
    # anyway — zero extra Spark jobs.
    if entities is not None:
        entities = entities.withColumn(
            "_ser",
            F.to_json(
                F.struct(
                    F.col("name").alias("entity"), "type", "description"
                )
            ),
        )
        entities = truncate_by_token_budget(
            entities, "_ser", "merge_ix", params.max_entity_tokens,
            flag_col="_kept",
        ).drop("_ser")
    if relations is not None:
        relations = relations.withColumn(
            "_ser",
            F.to_json(
                F.struct(
                    F.col("src").alias("entity1"),
                    F.col("tgt").alias("entity2"),
                    "description",
                )
            ),
        )
        relations = truncate_by_token_budget(
            relations, "_ser", "merge_ix", params.max_relation_tokens,
            flag_col="_kept",
        ).drop("_ser")

    # ── Stage 2b: materialize + collect the token-budgeted entity /
    #    relation context. Q14's budget needs the tokens ACTUALLY kept
    #    (lightrag_search.py:780-812); the eager checkpoint lets stage 3
    #    reuse the truncated lists without recomputing the
    #    merge/truncate windows per downstream branch. ─────────────────
    n_entities_found = n_relations_found = 0
    # Both truncated branches materialize in ONE tagged-union
    # checkpoint (their independent sub-plans run as parallel stages of
    # a single job — the asyncio.gather analogue made literal) and the
    # driver reads the result back in ONE collect; the per-branch
    # views below are trivial filters over the checkpointed RDD.
    ent_cols = ["name", "type", "description", "degree",
                "source_chunk_ids", "merge_ix"]
    rel_cols = ["src", "tgt", "keywords", "description", "weight",
                "combined_degree", "source_chunk_ids", "merge_ix"]
    parts = []
    if entities is not None:
        parts.append(
            entities.select(*ent_cols, "_kept").withColumn("_sec", F.lit("ent"))
        )
    if relations is not None:
        parts.append(
            relations.select(*rel_cols, "_kept").withColumn("_sec", F.lit("rel"))
        )
    if parts:
        both = parts[0]
        for p in parts[1:]:
            both = both.unionByName(p, allowMissingColumns=True)
        both = both.localCheckpoint(eager=True)
        rows = both.select(
            "_sec", "_kept", "merge_ix", *[
                c for c in ("name", "type", "description", "src", "tgt")
                if c in both.columns
            ]
        ).orderBy("_sec", "merge_ix").collect()
        # (A local-relation rebuild of entities/relations from the
        # collected rows was A/B-tested here and measured SLOWER than
        # the filter-over-checkpoint views — the local relations lose
        # the checkpoint's stats and Arrow-free construction costs more
        # than the trivial filters; see OPTIMIZATION_r06.md.)
        if entities is not None:
            entities = both.where(
                (F.col("_sec") == "ent") & F.col("_kept")
            ).select(*ent_cols)
            found = [r for r in rows if r["_sec"] == "ent"]
            n_entities_found = len(found)
            ctx.entities = [
                {"entity": r["name"], "type": r["type"],
                 "description": r["description"]}
                for r in found if r["_kept"]
            ]
        if relations is not None:
            relations = both.where(
                (F.col("_sec") == "rel") & F.col("_kept")
            ).select(*rel_cols)
            found = [r for r in rows if r["_sec"] == "rel"]
            n_relations_found = len(found)
            ctx.relations = [
                {"entity1": r["src"], "entity2": r["tgt"],
                 "description": r["description"]}
                for r in found if r["_kept"]
            ]

    # ── Stage 3: chunk gathering + merge (Q9/Q10/Q11/Q13) ────────────
    chunk_branches: list[DataFrame] = []
    branch_ix = 0
    if want_vector:
        vec_chunks = _chunk_search(g, qvec, params.related_chunk_number * 2)
        chunk_branches.append(
            rank_branch(
                vec_chunks.select("chunk_id", "vscore"),
                [F.desc("vscore"), "chunk_id"],
                branch_ix,
            ).select("chunk_id", "_pos", "_branch")
        )
        branch_ix += 1
    ent_chunk_ids = None
    if entities is not None:
        ent_chunks = gather_chunks_from_members(entities, "name")
        if params.chunk_pick == "vector":
            # Q12: rank candidates by cosine to the query embedding;
            # on failure the reference falls back to weighted polling
            from ..operators.context_ops import vector_similarity_chunk_pick

            try:
                n_ent = len(ctx.entities)
                picked = vector_similarity_chunk_pick(
                    ent_chunks.select("chunk_id").distinct(),
                    g.chunk_embeddings,
                    query,
                    n_entities=max(n_ent, 1),
                    related_chunk_number=params.related_chunk_number,
                ).join(ent_chunks, "chunk_id").withColumnRenamed("member", "name")
            except Exception:
                picked = None
        else:
            picked = None
        if picked is None:
            quotas = gradient_quotas(
                entities.select("name", "merge_ix").withColumnRenamed("merge_ix", "rank"),
                "rank",
                params.related_chunk_number,
                n_total=len(ctx.entities),  # known — no count() job
            )
            picked = weighted_polling_pick(
                ent_chunks.withColumnRenamed("member", "name"), quotas, "name"
            )
        ent_chunk_ids = picked.select("chunk_id")
        chunk_branches.append(
            rank_branch(
                picked.select("chunk_id", "occurrence"),
                [F.desc("occurrence"), "chunk_id"],
                branch_ix,
            ).select("chunk_id", "_pos", "_branch")
        )
        branch_ix += 1
    if relations is not None:
        rel_sel = relations.withColumn("name", F.concat_ws("|", "src", "tgt"))
        rel_chunks = gather_chunks_from_members(rel_sel, "name")
        if ent_chunk_ids is not None:  # Q10 anti-dedup vs entity chunks
            rel_chunks = rel_chunks.join(ent_chunk_ids, "chunk_id", "left_anti")
        chunk_branches.append(
            rank_branch(
                rel_chunks.select("chunk_id", "occurrence"),
                [F.desc("occurrence"), "chunk_id"],
                branch_ix,
            ).select("chunk_id", "_pos", "_branch")
        )
        branch_ix += 1

    merged_chunks = None
    available_chunk_tokens = 0
    if chunk_branches:
        merged_ids = round_robin_merge(chunk_branches, ["chunk_id"])
        merged_chunks = merged_ids.join(
            g.chunks.select("chunk_id", "content", "file_path"), "chunk_id"
        )
        available_chunk_tokens = _chunk_budget(ctx, query, params)
        merged_chunks = truncate_by_token_budget(
            merged_chunks, "content", "merge_ix", available_chunk_tokens,
            flag_col="_kept",
        )
        # ONE materialization of the gather/merge/truncate plan: both
        # stage-4 reads (references, chunk rows) become trivial scans of
        # the checkpointed result instead of re-executing the plan each.
        merged_chunks = merged_chunks.localCheckpoint(eager=True)

    # ── Stage 4: context assembly (collect the small result) ─────────
    if merged_chunks is not None:
        # Q15/Q21: numbered reference list (+ last_modified from the
        # path-properties table, lightrag_search.py:826-861) with <SEP>
        # expansion; each surviving chunk carries its reference_id.
        # Both stage-4 reads (reference rows AND chunk rows) are folded
        # into ONE action: a tagged union over the checkpointed
        # merged_chunks, so the online path runs one driver job here
        # instead of two (both sides are trivial scans of the same
        # checkpoint; the refs side adds only the small
        # path_properties broadcast join).
        from ..operators.context_ops import expand_file_references, reference_list

        kept = merged_chunks.where(F.col("_kept"))
        refs = expand_file_references(reference_list(kept))
        if g.path_properties is not None:
            refs = refs.drop("last_modified").join(
                g.path_properties.select("file_path", "last_modified"),
                "file_path",
                "left",
            )
        ref_part = refs.select(
            F.lit("ref").alias("_sec"), F.col("ref_ix").alias("_ix"),
            "file_path", "last_modified",
            F.lit(None).cast("string").alias("chunk_id"),
            F.lit(None).cast("string").alias("content"), F.lit(True).alias("_kept"),
        )
        # every merged chunk comes back (its count is processing_info's
        # merged_chunks_count), the text only of the kept ones
        chunk_part = merged_chunks.select(
            F.lit("chunk").alias("_sec"), F.col("merge_ix").alias("_ix"),
            "file_path", F.lit(None).cast("timestamp").alias("last_modified"),
            "chunk_id", F.when(F.col("_kept"), F.col("content")).alias("content"),
            "_kept",
        )
        # equal ref_ix (the paths of one <SEP>-joined file_path) order
        # by path
        all_rows = (
            ref_part.unionByName(chunk_part)
            .orderBy("_sec", "_ix", "file_path").collect()
        )
        refs = [(r["_ix"], r["file_path"], r["last_modified"])
                for r in all_rows if r["_sec"] == "ref"]
        merged = [r for r in all_rows if r["_sec"] == "chunk"]
        chunk_rows = [(r["chunk_id"], r["content"], r["file_path"])
                      for r in merged if r["_kept"]]
    else:
        refs = merged = chunk_rows = []
    return _finish(
        ctx, refs, chunk_rows, (n_entities_found, n_relations_found, len(merged)),
        available_chunk_tokens,
    )


def answer_query(
    spark: SparkSession,
    g: GraphTables,
    query: str,
    params: QueryParams | None = None,
    cache_path: str | None = None,
    llm_fn=None,
    max_retries: int = 5,
) -> dict:
    """Q17/Q18/Q19 — the full chat surface: kg_query → context/prompt
    modes → cached LLM answer, with the reference's retry-with-shrunken-
    params policy (≤5 retries at max_entity/relation size 10,
    lightrag_search.py:202-240)."""
    from ..operators.context_ops import LlmCache, answer_with_cache

    params = params or QueryParams()
    attempt_params = params
    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            ctx = kg_query(spark, g, query, attempt_params)
            break
        except Exception as e:  # Q18: shrink and retry
            last_err = e
            attempt_params = QueryParams(
                mode=params.mode, top_k=10, max_entity_tokens=100,
                max_relation_tokens=100, max_total_tokens=2000,
                related_chunk_number=2, chunk_pick="weighted_polling",
            )
    else:
        raise last_err  # exhausted retries
    context_str = ctx.context_str()
    if params.only_need_context:
        return {"context": context_str, "references": ctx.references,
                "raw_data": ctx.raw_data(),
                "processing_info": ctx.processing_info}
    from ..operators.context_ops import build_rag_prompt

    # the reference's rag_response system prompt wraps the context
    # (lightrag_search.py:87-117); the query is the user message
    sys_prompt = build_rag_prompt(
        context_str, params.response_type, params.user_prompt
    )
    prompt = f"{sys_prompt}\n\n---Question---\n{query}\n"
    if params.only_need_prompt:
        return {"prompt": prompt, "references": ctx.references,
                "raw_data": ctx.raw_data(),
                "processing_info": ctx.processing_info}
    cache = LlmCache.for_path(spark, cache_path or "/tmp/kgspark_llm_cache")
    # cache key mirrors the reference's composition (lightrag_search.py
    # :499-513: mode, query, response_type, top_k, token budgets,
    # user_prompt, project_dir) — the kb scope here is the cache path
    # itself, included so KBs sharing the default path cannot serve
    # each other's answers
    answer = answer_with_cache(
        cache, params.mode, query,
        {
            "top_k": attempt_params.top_k,
            "response_type": params.response_type,
            "max_entity_tokens": attempt_params.max_entity_tokens,
            "max_relation_tokens": attempt_params.max_relation_tokens,
            "max_total_tokens": attempt_params.max_total_tokens,
            "related_chunk_number": attempt_params.related_chunk_number,
            "chunk_pick": attempt_params.chunk_pick,
            "user_prompt": params.user_prompt or "",
            "kb": cache_path or "/tmp/kgspark_llm_cache",
        },
        context_str, llm_fn=llm_fn,
        prompt=prompt,
    )
    return {"answer": answer, "references": ctx.references,
            "raw_data": ctx.raw_data(),
            "processing_info": ctx.processing_info}
