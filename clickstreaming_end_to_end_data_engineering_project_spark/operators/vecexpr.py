"""The engine's vector folds, each defined once, as Spark SQL text.

Every fold is a left-to-right double fold: ``aggregate`` over the
array, or over its ``zip_with`` with a second array, from ``0.0``, each
element cast to double first, so a sum is 0.0 + t_0 + t_1 + ... in
index order.  A cosine is dot / (sqrt(a·a) * sqrt(b·b)) in that
association, and a squared difference is d * d (no ``pow``).  That
fixed order is what makes a fold reproducible bit for bit.  The DuckDB
oracle (``plans/llmdata.py``) writes its ``list_reduce`` twins by hand
on purpose: a fold defined once for both sides would hide its own bug
from the oracle gate.

Operands are SQL text: a column from ``ref`` or a constant from
``segstore.doubles_sql``.  Callers take a fold through ``F.expr``; one
parsed expression costs a few py4j calls where the same tree built
from Column lambdas costs hundreds.  A NULL array or element folds to
NULL, and so do arrays of unequal length (``zip_with`` pads the
shorter with NULL).

``py_dot`` and ``py_sq_dist`` are the driver-side twins that build the
query-side ADC tables and rank centroids; their bits equal the SQL
folds' (pinned by test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ref(col: "str | Column") -> str:
    """A column, by name or as a plain ``F.col`` reference, as SQL text
    that resolves as ``F.col`` does."""
    name = col if isinstance(col, str) else col._jc.toString()
    return name if "`" in name else ".".join(f"`{part}`" for part in name.split("."))


def _fold(terms: str) -> str:
    return f"aggregate({terms}, 0D, (acc, t) -> acc + t)"


def dot(a: str, b: str) -> str:
    return _fold(f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")


def sum_sq(a: str) -> str:
    return f"aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"


def norm(a: str) -> str:
    return f"sqrt({sum_sq(a)})"


def cosine(a: str, b: str) -> str:
    return f"{dot(a, b)} / ({norm(a)} * {norm(b)})"


def residual(a: str, b: str) -> str:
    """Element-wise a - b in double."""
    return f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"


def sq_dist(a: str, b: str) -> str:
    """Squared euclidean distance."""
    return sum_sq(residual(a, b))


def scale(a: str, by: str) -> str:
    """Element-wise a / by in double."""
    return f"transform({a}, x -> CAST(x AS DOUBLE) / {by})"


def plane_coef(plane: int, i: str) -> str:
    """h_plane[i] = ±1 from xxhash64(plane, i) parity: a deterministic
    pseudo-random hyperplane."""
    return f"CASE WHEN (xxhash64({plane}, {i}) & 1) = 1 THEN 1D ELSE -1D END"


def hyperplane_proj(a: str, plane: int, dims: int) -> str:
    """<a, h_plane> over indices 0..dims-1; an element past ``dims``
    meets a NULL index, whose coefficient the JVM hashes too."""
    return _fold(
        f"zip_with({a}, sequence(0, {dims - 1}), (x, i) -> CAST(x AS DOUBLE) * {plane_coef(plane, 'i')})"
    )


def adc(table: str, codes: str, m: int) -> str:
    """The ADC distance: sum over subspaces s < m, in order, of
    table[s][codes[s]]."""
    return (
        f"aggregate(sequence(0, {m - 1}), 0D, (acc, s) -> acc + "
        f"element_at(element_at({table}, s + 1), CAST(element_at({codes}, s + 1) + 1 AS INT)))"
    )


def py_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def py_sq_dist(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return acc


def adc_table(codebooks: "list[tuple[int, int, list[float]]]", q) -> "list[list[float]]":
    """The m×k ADC table of ``q``: per subspace s and code c, the
    squared distance from q's s-th subvector to codebook entry (s, c)."""
    m = max(s for s, _, _ in codebooks) + 1
    d = len(codebooks[0][2])
    table = [[0.0] * (max(c for _, c, _ in codebooks) + 1) for _ in range(m)]
    for s, c, cv in codebooks:
        table[s][c] = py_sq_dist(q[s * d : (s + 1) * d], cv)
    return table


def mean_vectors(df: DataFrame, keys: "list[str]", vec_col: str, out: str) -> DataFrame:
    """Element-wise double mean of ``vec_col`` per ``keys`` group:
    posexplode, one avg per (group, dim), the means re-assembled in dim
    order as ``out``."""
    return (
        df.select(*keys, F.posexplode(vec_col).alias("_dim", "_x"))
        .groupBy(*keys, "_dim")
        .agg(F.avg(F.col("_x").cast("double")).alias("_mean"))
        .groupBy(*keys)
        .agg(F.expr("transform(array_sort(collect_list(struct(_dim, _mean))), s -> s._mean)").alias(out))
    )
