"""Vector math over ``ARRAY<FLOAT>`` embedding columns — pure Catalyst
expressions (higher-order functions), no UDFs, so cosine top-k stays
inside whole-stage codegen and scales linearly with executors.

Reference analogues: cosine top-k over nano-vectordb matrices
(/root/reference/graphrag_kb_server/service/similar_topics.py:94-167,
lightrag_search.py:985-1034) and the embedding-cosine dedup
(/root/reference/graphrag_kb_server/service/search/matching.py:100-128).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    """Cast ARRAY<FLOAT> → ARRAY<DOUBLE> so accumulation happens in
    float64 (bit-stable vs the DuckDB oracle which also sums doubles
    left-to-right)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays; 0.0 for zero vectors."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the norms supplied as precomputed columns —
    per-row/per-pair cost drops to ONE dot aggregate (interpreted HOFs
    re-evaluate the norm aggregates per reference otherwise).
    Bit-identical to ``cosine`` when ``na``/``nb`` were produced by
    ``norm`` on the same arrays (same fold, same multiply order)."""
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _query_norm(query_vec) -> float:
    """The query norm, folded left to right in float64 like ``norm``."""
    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    return math.sqrt(qn)


def cosine_with_query(a: Column, query_vec) -> Column:
    """Cosine of ``a`` vs a CONSTANT query vector: the query norm is
    folded at plan-build time with the same left-to-right float64
    accumulation as ``norm``'s F.aggregate — bit-identical values —
    and the whole denominator is bound once as a lambda variable, so
    each row pays one norm + one dot instead of five aggregates
    (cosine's when-condition and branch each re-evaluate both norms
    under interpreted-HOF evaluation)."""
    qn = _query_norm(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return F.transform(
        F.array(norm(a) * F.lit(qn)),
        lambda d: F.when(d == 0.0, F.lit(0.0)).otherwise(dot(a, q) / d),
    )[0]


def cosine_with_query_np(x: np.ndarray, query_vec) -> np.ndarray:
    """``cosine_with_query`` over the rows of an n×d float64 matrix, in
    numpy with the same per-dimension fold order — bit-identical scores
    (``np.dot``/``np.sum`` sum pairwise and move the last ULP)."""
    q = [float(v) for v in query_vec]
    n2 = np.zeros(len(x))
    dt = np.zeros(len(x))
    for j, qj in enumerate(q):
        col = x[:, j]
        n2 += col * col
        dt += col * qj
    d = np.sqrt(n2) * _query_norm(q)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(d == 0.0, 0.0, dt / d)


def as_matrix(vecs) -> np.ndarray | None:
    """Collected vectors as one n×d float64 matrix; None when there are
    none, one is null, the widths differ or a value is not finite (the
    Spark plans' null and NaN semantics have no numpy twin)."""
    vecs = list(vecs)
    if any(v is None for v in vecs) or len({len(v) for v in vecs}) != 1:
        return None
    x = np.stack(vecs).astype(np.float64)
    return x if np.isfinite(x).all() else None


def l2_normalize(a: Column) -> Column:
    # the norm is bound ONCE as a lambda variable: referenced directly
    # inside the transform it would be re-aggregated per element
    # (interpreted HOFs get no subexpression elimination → O(d²)/row)
    return F.transform(
        F.array(norm(a)),
        lambda n: F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n)),
    )[0]
