"""Vector math as JVM-side Column expressions (zip_with / aggregate).

The reference delegates all similarity math to Milvus with metric IP over
L2-normalized vectors ⇒ cosine similarity (milvus.py:104-111,
embeddings.py:142-143,190-193).  Here the same math is expressed with
built-in higher-order functions so it runs inside whole-stage codegen —
no Python in the hot path.

Determinism note: all accumulation is left-to-right over the array (Spark's
``aggregate`` is a sequential fold), and elements are cast to double first,
so results are bitwise-reproducible and match a sequential DuckDB oracle.

Each builder is memoized per JVM (``functions/memo``): called with column
names, it returns one shared tree instead of rebuilding it over py4j.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vector_graph_rag_spark.functions.memo import gateway_memo


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


@gateway_memo
def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, computed in double."""
    prods = F.zip_with(
        _c(a).cast("array<double>"),
        _c(b).cast("array<double>"),
        lambda x, y: x * y,
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


@gateway_memo
def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


@gateway_memo
def l2_normalize(a: Column | str) -> Column:
    """x / ||x||, zero vectors passed through unchanged (matches the
    reference's empty-text zero-vector guard, embeddings.py:180-203).

    The input array expression is bound ONCE as a lambda variable
    (``transform(array(x), v -> ...)[0]`` is Spark's "let v = x"): naive
    composition would inline it into the norm's zip_with (twice), the
    zero-guard, and every element's divisor — ~20 evaluations of the full
    array expression per row, a measured 8x slowdown when the input is
    mock_embedding's md5-derived array (SCALE.md §round-8 honest-tail
    profiling).  The arithmetic (left-to-right fold of self-products,
    sqrt, per-element divide) is unchanged, so results stay bitwise
    identical."""
    arr = _c(a).cast("array<double>")

    def _one(v: Column) -> Column:
        n = F.sqrt(
            F.aggregate(
                F.zip_with(v, v, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))

    return F.transform(F.array(arr), _one)[0]


@gateway_memo
def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 if either side has zero norm."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )
