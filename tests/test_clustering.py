"""Lloyd's k-means + SemDeDup pairs (operators/clustering.py):
numpy-twin parity of the rounding protocol on both execution paths,
driver/distributed parity at the rounding and shape edge cases, the
probe's cap in doubles, partitioning determinism, cluster quality on
the labeled embeddings table, and brute-force pair equivalence."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark.functions.rounding import round6
from graphrag_kb_server_spark.operators import clustering
from graphrag_kb_server_spark.operators.clustering import (
    kmeans,
    kmeans_distributed,
    semantic_dedup_pairs,
)

both_paths = pytest.mark.parametrize(
    "fn", [kmeans, kmeans_distributed], ids=["kmeans", "kmeans_distributed"]
)


def _points(spark, n=200, d=8, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, d)) * 4
    rows = []
    for i in range(n):
        c = i % 4
        v = centers[c] + rng.normal(size=d)
        rows.append((i, [float(np.float32(x)) for x in v]))
    return spark.createDataFrame(rows, "pid long, vec array<float>"), rows


def _h(pid, seed):
    payload = f"{pid}\x1fkmeans\x1f{seed}".encode()
    return int(hashlib.md5(payload).hexdigest()[:8], 16)


def _numpy_kmeans(rows, k, iters, seed="42"):
    """Independent sequential twin of the exact protocol: hash init,
    6-dp rounded centroids and distances, cluster-id tie-break."""
    ids = [r[0] for r in rows]
    X = np.array([np.asarray(r[1], dtype=np.float32).astype(np.float64)
                  for r in rows])
    order = sorted(range(len(ids)), key=lambda i: (_h(ids[i], seed), ids[i]))
    C = [np.round(X[i], 6) for i in order[:k]]
    assign = None
    for _ in range(iters):
        assign = {}
        for i, pid in enumerate(ids):
            best = min(
                (round(float(((X[i] - C[j]) ** 2).sum()), 6), j)
                for j in range(k)
            )
            assign[pid] = best[1]
        newC = list(C)
        for j in range(k):
            members = [i for i, pid in enumerate(ids) if assign[pid] == j]
            if members:
                newC[j] = np.round(X[members].mean(axis=0), 6)
        C = newC
    return assign


@both_paths
def test_kmeans_matches_numpy_twin(spark, fn):
    df, rows = _points(spark)
    out, _ = fn(df, "pid", "vec", k=4, iters=3, seed="9")
    got = {r.pid: r.cluster for r in out.collect()}
    want = _numpy_kmeans(rows, k=4, iters=3, seed="9")
    assert got == want


@both_paths
def test_kmeans_rejects_k_or_iters_below_one(spark, fn):
    df, _ = _points(spark, n=10)
    for kw in ({"k": 0}, {"iters": 0}):
        with pytest.raises(ValueError, match=">= 1"):
            fn(df, "pid", "vec", **kw)


def test_kmeans_deterministic_across_partitionings(spark):
    df, _ = _points(spark, n=120)
    a, ca = kmeans(df.repartition(1), "pid", "vec", k=4, iters=2)
    b, cb = kmeans(df.repartition(11), "pid", "vec", k=4, iters=2)
    assert {(r.pid, r.cluster) for r in a.collect()} == \
        {(r.pid, r.cluster) for r in b.collect()}
    assert ca == cb


def test_kmeans_improves_objective_on_testdata(spark):
    """On the driver testdata embeddings (labels are nearly isotropic —
    within-label cosine ≈ 0.02 — so purity is not a meaningful target):
    Lloyd's must strictly reduce the within-cluster SSE vs the
    1-iteration assignment, and keep every cluster populated."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one, _ = kmeans(emb, "vec_id", "embedding", k=10, iters=1)
    four, cents = kmeans(emb, "vec_id", "embedding", k=10, iters=4)
    sse1 = one.agg(F.sum("dist")).collect()[0][0]
    sse4 = four.agg(F.sum("dist")).collect()[0][0]
    assert sse4 < sse1
    assert four.select("cluster").distinct().count() == 10
    assert len(cents) == 10


@both_paths
def test_semantic_dedup_pairs_brute_force(spark, fn, monkeypatch):
    monkeypatch.setattr(clustering, "kmeans", fn)
    df, rows = _points(spark, n=80)
    out = semantic_dedup_pairs(df, "pid", "vec", k=4, iters=2,
                               threshold=0.9, seed="5")
    got = {(r.a, r.b): r.cos for r in out.collect()}

    assign = _numpy_kmeans(rows, k=4, iters=2, seed="5")
    X = {r[0]: np.asarray(r[1], dtype=np.float32).astype(np.float64)
         for r in rows}
    want = {}
    for a in X:
        for b in X:
            if a < b and assign[a] == assign[b]:
                # same sequential-fold order as the Spark side
                dot = 0.0
                for x, y in zip(X[a], X[b]):
                    dot += x * y
                na = 0.0
                for x in X[a]:
                    na += x * x
                nb = 0.0
                for x in X[b]:
                    nb += x * x
                c = round(dot / (na ** 0.5 * nb ** 0.5), 6)
                if c >= 0.9:
                    want[(a, b)] = c
    assert got == want


#: of ids 0..4, the one the default seed draws first
FIRST = min(range(5), key=lambda i: (_h(i, "42"), i))


def _parity_case(spark, case):
    if case == "half_up":
        # the first-drawn point holds 0.1234565: Python's round gives
        # 0.123456, Spark's HALF_UP 0.123457, and the far points'
        # distances to that centroid show the difference at 6 dp
        rows = [(i, [0.1234565 if i == FIRST else 1000.0 + i, float(i)])
                for i in range(5)]
        df = spark.createDataFrame(rows, "pid int, vec array<double>")
        return df, {"k": 1, "iters": 1}
    if case == "fewer_than_k":
        df, _ = _points(spark, n=3)
        return df, {"k": 5, "iters": 2}
    if case == "keep_vec":
        df, _ = _points(spark, n=60)
        return df, {"k": 4, "iters": 2, "keep_vec": True}
    rows = [((1 << 40) + i, v) for i, v in _points(spark, n=40)[1]]
    df = spark.createDataFrame(rows, "pid bigint, vec array<float>")
    return df, {"k": 3, "iters": 2}


@pytest.mark.parametrize(
    "case", ["half_up", "fewer_than_k", "keep_vec", "bigint_id"]
)
def test_kmeans_driver_matches_distributed(spark, case):
    df, kw = _parity_case(spark, case)
    drv, c_drv = kmeans(df, "pid", "vec", **kw)
    dist, c_dist = kmeans_distributed(df, "pid", "vec", **kw)
    # the driver path returns a local frame; the sibling does not
    assert "LocalRelation" in drv._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in dist._jdf.queryExecution().analyzed().toString()
    assert drv.schema == dist.schema
    rows_drv = sorted(tuple(r) for r in drv.collect())
    assert rows_drv == sorted(tuple(r) for r in dist.collect())
    assert c_drv == c_dist
    if case == "half_up":
        # every point is assigned against the HALF_UP init centroid
        other = (FIRST + 1) % 5
        want = (1000.0 + other - 0.123457) ** 2 + (other - FIRST) ** 2
        assert dict((r[0], r[2]) for r in rows_drv)[other] == round6(want)


def _spy_sibling(monkeypatch) -> list:
    """One entry per call kmeans makes to kmeans_distributed."""
    calls = []
    sibling = clustering.kmeans_distributed

    def spy(*a, **kw):
        calls.append(1)
        return sibling(*a, **kw)

    monkeypatch.setattr(clustering, "kmeans_distributed", spy)
    return calls


@pytest.mark.parametrize(
    "n, d, on_driver",
    [(2, 64, True), (1, 128, True), (3, 43, False), (1, 129, False)],
)
def test_kmeans_probe_caps_doubles(spark, monkeypatch, n, d, on_driver):
    """With DRIVER_MAX_ROWS = 2 the probe holds at most 2 × 64 = 128
    doubles: n·d = 128 runs on the driver, n·d = 129 runs the Spark
    rounds."""
    assert clustering.EMBEDDING_DIM == 64
    monkeypatch.setattr(clustering, "DRIVER_MAX_ROWS", 2)
    calls = _spy_sibling(monkeypatch)
    df = spark.createDataFrame(
        [(f"p{i}", [float(i + j) for j in range(d)]) for i in range(n)],
        "pid string, vec array<double>",
    )
    out, _ = clustering.kmeans(df, "pid", "vec", k=2, iters=1)
    assert out.count() == n
    assert calls == ([] if on_driver else [1])


def test_kmeans_driver_path_needs_reproducible_ids(spark, monkeypatch):
    """Null ids and ids Python cannot cast like Spark (here double)
    take the Spark rounds."""
    calls = _spy_sibling(monkeypatch)
    rows = [(None, [1.0, 2.0]), ("a", [2.0, 2.0]), ("b", [5.0, 1.0])]
    clustering.kmeans(spark.createDataFrame(rows, "pid string, vec array<double>"),
                      "pid", "vec", k=2, iters=1)
    rows = [(0.5, [1.0, 2.0]), (1.5, [2.0, 2.0])]
    clustering.kmeans(spark.createDataFrame(rows, "pid double, vec array<double>"),
                      "pid", "vec", k=2, iters=1)
    assert calls == [1, 1]


def test_round6_matches_spark_round(spark):
    vals = [0.1234565, -0.1234565, 2.5e-7, -2.5e-7, 1e-9, -1e-9, 0.0, -0.0,
            1.0000005, 123456.0000005, 4503599627.370496, 1e17 + 0.5, 1e300,
            float("nan"), float("inf"), float("-inf")]
    vals += [k / 1e7 for k in range(-50, 50)]
    vals += (np.random.default_rng(5).normal(size=200) * 10).tolist()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    got = round6(np.array(vals))
    for r in df.select("i", F.round("v", 6).alias("r")).collect():
        a, b = r.r, got[r.i]
        assert (a != a and b != b) or (a == b and np.signbit(a) == np.signbit(b)), (vals[r.i], a, b)
