"""kg_query's in-process twin vs its Spark program.

``kg_query`` answers a KB whose tables pass ``collect_if_small`` in
Python and numpy; ``kg_query_distributed`` is the Spark program. Both
must return the same ``QueryContext`` — every field, the context string
and the raw payload, down to the Python types of ``reference_id`` and
``last_modified`` — on an indexed corpus in every mode and budget, and
on a hand-built KB holding the cases where a plain Python version
drifts (null fields in the token-counted JSON, escapes, zero vectors,
top-k rows without a node row, <SEP>-joined paths, empty budgets).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark import GRAPH_FIELD_SEP
from graphrag_kb_server_spark.functions.embedding import embed_text
from graphrag_kb_server_spark.plans import query_pipeline as qp
from graphrag_kb_server_spark.plans.query_pipeline import (
    GraphTables,
    QueryParams,
    kg_query,
    kg_query_distributed,
)

LARGE = dict(max_entity_tokens=4000, max_relation_tokens=4000,
             max_total_tokens=12000)
VECTOR_PICK = dict(chunk_pick="vector", related_chunk_number=1)
NOTHING = dict(max_entity_tokens=0, max_relation_tokens=0, max_total_tokens=0)
BUDGETS = {"default": {}, "large": LARGE, "vecpick": VECTOR_PICK,
           "nothing": NOTHING}
MODES = ["local", "global", "hybrid", "mix"]


def _emb(text: str) -> list[float]:
    return [float(x) for x in embed_text(text)]


def _assert_same(spark, g, query, params):
    drv = kg_query(spark, g, query, params)
    dist = kg_query_distributed(spark, g, query, params)
    assert drv == dist
    assert drv.context_str() == dist.context_str()
    assert drv.raw_data() == dist.raw_data()
    for a, b in zip(drv.references, dist.references):
        assert type(a["reference_id"]) is int
        assert type(a["last_modified"]) is type(b["last_modified"])
    assert all(type(c["reference_id"]) is int for c in drv.chunks)
    return drv


@pytest.fixture(scope="module")
def indexed_kb(spark, tmp_out):
    from graphrag_kb_server_spark.corpus import generate
    from graphrag_kb_server_spark.plans.index_pipeline import run_index

    out = f"{tmp_out}/index_query_parity"
    run_index(spark, generate(spark, 40, seed=3), out)
    rd = lambda n: spark.read.parquet(f"{out}/{n}")  # noqa: E731
    g = GraphTables(
        nodes=rd("nodes"), edges=rd("edges"), chunks=rd("chunks"),
        entity_embeddings=rd("entity_embeddings"),
        relation_embeddings=rd("relation_embeddings"),
        chunk_embeddings=rd("chunk_embeddings"),
        path_properties=rd("documents").select(
            F.col("url").alias("file_path"),
            F.col("warc_ts").alias("last_modified"),
        ).dropDuplicates(["file_path"]),
    )
    hubs = [r["name"] for r in
            g.nodes.orderBy(F.desc("mention_count"), "name").limit(2).collect()]
    return g, hubs


@pytest.mark.parametrize("budget", [{}, LARGE, VECTOR_PICK],
                         ids=["default", "large", "vecpick"])
@pytest.mark.parametrize("mode", MODES)
def test_indexed_kb_driver_matches_distributed(spark, indexed_kb, mode, budget):
    g, hubs = indexed_kb
    for hub in hubs:
        ctx = _assert_same(
            spark, g, f"How does {hub} work with its partners?",
            QueryParams(mode=mode, **budget),
        )
        assert ctx.references and all(
            type(r["last_modified"]) is datetime.datetime for r in ctx.references
        )


def _with(g: GraphTables, **tables) -> GraphTables:
    return GraphTables(**{**vars(g), **tables})


@pytest.fixture(scope="module")
def edge_kb(spark):
    """Five entities, four edges and five chunks holding every drift
    case: a null type, quotes / control characters / non-ASCII in
    descriptions, a zero embedding (cosine 0.0), entity, relation and
    chunk embeddings without a row to join (fewer than k after the
    join), a <SEP>-joined file_path, a chunk id with no chunk row and a
    path without properties."""
    odd = 'He said "hi"\tback\\slash \x01\x1f — ünïcødé 😀 line\nbreak'
    nodes = spark.createDataFrame(
        [("Alpha", "org", odd, 3, ["c1", "c2"]),
         ("Beta", None, "beta org", 2, ["c1", "c3"]),
         ("Gamma", "person", "gamma\r\nperson", 3, ["c3", "c4", "c1"]),
         ("Delta", "org", None, 1, []),
         ("Zero", "thing", "zero vector", 0, ["c5"])],
        "name string, type string, description string, degree int, "
        "source_chunk_ids array<string>",
    )
    edges = spark.createDataFrame(
        [("Alpha", "Beta", "works", 'alpha "beta"', 2.0, 5, ["c1"]),
         ("Beta", "Gamma", "knows", "beta\x02gamma", 1.0, 5, ["c3", "c2"]),
         ("Alpha", "Gamma", "funds", "alpha gamma ü", 1.0, 6, ["c2", "c4"]),
         ("Delta", "Gamma", "owns", None, 3.0, 4, None)],
        "src string, tgt string, keywords string, description string, "
        "weight double, combined_degree bigint, source_chunk_ids array<string>",
    )
    chunks = spark.createDataFrame(
        [("c1", "alpha and beta work together", f"a.txt{GRAPH_FIELD_SEP}b.txt"),
         ("c2", "alpha funds gamma — ü", "b.txt"),
         ("c3", "beta knows gamma", "c.txt"),
         ("c5", "zero chunk", f"d.txt{GRAPH_FIELD_SEP}a.txt"),
         ("c6", "alpha alone", "e.txt")],
        "chunk_id string, content string, file_path string",
    )
    ent = [(n, _emb(f"{n}\n{n.lower()} org")) for n in
           ("Alpha", "Beta", "Gamma", "Delta", "Ghost")] + [("Zero", [0.0] * 64)]
    rel = [(s, t, _emb(f"{s}\t{t}")) for s, t in
           (("Alpha", "Beta"), ("Beta", "Gamma"), ("Alpha", "Gamma"),
            ("Delta", "Gamma"), ("Alpha", "Ghost"))]
    chk = [(c, _emb(c + " alpha")) for c in ("c1", "c2", "c3", "c5", "c6", "c9")]
    ts = datetime.datetime(2024, 5, 17, 8, 30, 15, 123456)
    g = GraphTables(
        nodes=nodes, edges=edges, chunks=chunks,
        entity_embeddings=spark.createDataFrame(
            ent, "name string, embedding array<float>"),
        relation_embeddings=spark.createDataFrame(
            rel, "src string, tgt string, embedding array<float>"),
        chunk_embeddings=spark.createDataFrame(
            chk, "chunk_id string, embedding array<float>"),
        path_properties=spark.createDataFrame(
            [("a.txt", ts), ("b.txt", ts + datetime.timedelta(days=1)),
             ("c.txt", None), ("e.txt", ts)],
            "file_path string, last_modified timestamp"),
    )
    # checkpointed: scans of Python-list frames would start Python workers
    return GraphTables(**{k: df.localCheckpoint(eager=True) for k, df in vars(g).items()})


@pytest.mark.parametrize("budget, props, top_k", [
    ("default", True, 2), ("large", True, 2), ("vecpick", True, 2),
    ("nothing", True, 2), ("large", True, 60), ("default", False, 2),
], ids=["default", "large", "vecpick", "nothing", "large_top60", "no_props"])
@pytest.mark.parametrize("mode", MODES)
def test_edge_kb_driver_matches_distributed(spark, edge_kb, mode, budget, props, top_k):
    g = edge_kb if props else _with(edge_kb, path_properties=None)
    ctx = _assert_same(spark, g, "Alpha and Beta, Gamma?",
                       QueryParams(mode=mode, top_k=top_k, **BUDGETS[budget]))
    if budget == "nothing":
        assert not (ctx.entities or ctx.relations or ctx.chunks)
        assert ctx.processing_info["available_chunk_tokens"] == 0


def test_edge_kb_keeps_the_drift_cases(spark, edge_kb):
    """The cases the parity test exists for really occur."""
    ctx = kg_query(spark, edge_kb, "Alpha and Beta, Gamma?",
                   QueryParams(mode="hybrid", **LARGE))
    assert {"entity": "Beta", "type": None, "description": "beta org"} in ctx.entities
    assert "Zero" in {e["entity"] for e in ctx.entities}
    assert "Ghost" not in {e["entity"] for e in ctx.entities}
    assert any(e["description"].startswith('He said "hi"')
               for e in ctx.entities if e["description"])
    assert {"entity1": "Delta", "entity2": "Gamma", "description": None} in ctx.relations
    refs = {r["file_path"]: r for r in ctx.references}
    assert refs["a.txt"]["reference_id"] == refs["b.txt"]["reference_id"]
    assert refs["c.txt"]["last_modified"] is None  # null property
    assert refs["d.txt"]["last_modified"] is None  # no property row
    assert "c4" not in {c["chunk_id"] for c in ctx.chunks}  # no chunk row


def test_twin_cosine_is_bit_identical(spark):
    """The twin folds per dimension in order, as Spark's aggregate does
    (``np.dot``/``np.sum`` sum pairwise and move the last ULP)."""
    import numpy as np

    from graphrag_kb_server_spark.functions import vectors as V

    rng = np.random.default_rng(5)
    x = rng.standard_normal((400, 64)).astype(np.float32)
    x[0] = 0.0
    q = embed_text("alpha beta gamma")
    df = spark.createDataFrame([(i, x[i].tolist()) for i in range(len(x))],
                               "i int, embedding array<float>")
    want = [r["s"] for r in df.select(
        "i", V.cosine_with_query(V.to_double(F.col("embedding")), q).alias("s")
    ).orderBy("i").collect()]
    assert V.cosine_with_query_np(x.astype(np.float64), q).tolist() == want


def test_twin_json_matches_to_json(spark):
    """Token budgets count F.to_json's form: compact, null fields
    dropped, Jackson's escapes."""
    texts = ['q"uo\\te', "\x00\x01\x1f\x7f\b\f\n\r\t", "ünï 😀 \u2028 /", "", None]
    rows = [(a, b, c) for a in ("Alpha", "Ω") for b in texts for c in texts]
    df = spark.createDataFrame(rows, "a string, b string, c string")
    got = df.select("a", "b", "c", F.to_json(F.struct(
        F.col("a").alias("entity"), F.col("b").alias("type"),
        F.col("c").alias("description"))).alias("j")).collect()
    assert len(got) == len(rows)
    for r in got:
        assert qp._to_json((("entity", r["a"]), ("type", r["b"]),
                            ("description", r["c"]))) == r["j"]


def _spy_distributed(monkeypatch) -> list:
    calls = []
    real = qp._kg_query_distributed

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qp, "_kg_query_distributed", spy)
    return calls


@pytest.mark.parametrize("over", [0, 1], ids=["at_cap", "cap_plus_one"])
def test_kg_query_route_cuts_at_cap(spark, edge_kb, monkeypatch, over):
    """The largest table the query reads holds `cap + over` rows."""
    n = max(edge_kb.entity_embeddings.count(), edge_kb.relation_embeddings.count(),
            edge_kb.chunk_embeddings.count(), edge_kb.nodes.count(),
            edge_kb.edges.count(), edge_kb.chunks.count())
    monkeypatch.setattr(qp, "DRIVER_MAX_ROWS", n - over)
    calls = _spy_distributed(monkeypatch)
    qp.kg_query(spark, edge_kb, "Alpha", QueryParams(mode="mix"))
    assert calls == [1] * over


@pytest.mark.parametrize("rows, d, cap, fits", [
    (2, 64, 2, True), (3, 64, 2, False), (1, 128, 2, True), (1, 128, 1, False),
    (2, 65, 3, False), (1, 0, 1, True),
])
def test_collect_if_small_weighs_vectors(spark, rows, d, cap, fits):
    """A vector row weighs ceil(d / 64) probe rows (at least one)."""
    from graphrag_kb_server_spark.session import collect_if_small

    df = spark.createDataFrame(
        [(f"k{i}", [float(i)] * d) for i in range(rows)],
        "key string, embedding array<float>",
    ).repartition(3)
    pdf = collect_if_small(df, cap, vec_col="embedding")
    assert (pdf is not None) == fits
    if fits:
        assert sorted(pdf["key"]) == [f"k{i}" for i in range(rows)]
        assert all(len(v) == d for v in pdf["embedding"])


@pytest.mark.parametrize("case", [
    "null_key", "duplicate_key", "narrow_vector", "nan_vector", "null_vector",
    "null_weight", "null_chunk_ref", "duplicate_path_property",
])
def test_untwinnable_inputs_run_the_spark_program(spark, edge_kb, monkeypatch, case):
    g = edge_kb
    if case == "null_key":
        g = _with(g, nodes=g.nodes.withColumn(
            "name", F.when(F.col("name") == "Delta", None).otherwise(F.col("name"))))
    elif case == "duplicate_key":
        g = _with(g, chunks=g.chunks.unionByName(g.chunks.limit(1)))
    elif case in ("narrow_vector", "nan_vector", "null_vector"):
        vec = {"narrow_vector": F.slice("embedding", 1, 32),
               "nan_vector": F.concat(F.slice("embedding", 1, 63),
                                      F.array(F.lit(float("nan")).cast("float"))),
               "null_vector": F.lit(None)}[case]
        g = _with(g, entity_embeddings=g.entity_embeddings.withColumn(
            "embedding", F.when(F.col("name") == "Beta", vec.cast("array<float>"))
            .otherwise(F.col("embedding"))))
    elif case == "duplicate_path_property":
        g = _with(g, path_properties=g.path_properties.unionByName(
            g.path_properties.where(F.col("file_path") == "b.txt")))
    elif case == "null_weight":
        g = _with(g, edges=g.edges.withColumn(
            "weight", F.when(F.col("src") == "Delta", None).otherwise(F.col("weight"))))
    else:
        g = _with(g, nodes=g.nodes.withColumn(
            "source_chunk_ids", F.concat("source_chunk_ids",
                                         F.array(F.lit(None).cast("string")))))
    calls = _spy_distributed(monkeypatch)
    qp.kg_query(spark, g, "Alpha and Beta", QueryParams(mode="hybrid"))
    assert calls == [1]
