"""The vector-fold contract: every SQL fold in ``operators/vecexpr.py``
is a left-to-right double fold, bit-equal (``struct.pack("d")``) to its
driver-side twin or to a plain Python loop in index order.  Inputs are
adversarial: signed zeros, subnormals, 1e308 (products and sums that
overflow to inf), float32 arrays read as double, NULL arrays, NULL
elements and arrays of unequal length (``zip_with`` pads the shorter
with NULL, so the fold is NULL)."""

from __future__ import annotations

import math
import random
import struct

from pyspark.sql import functions as F

from clickstreaming_end_to_end_data_engineering_project_spark.operators import segstore, vecexpr

_EDGE = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-310, 1e308, -1e308,
         1.0, -1.0, 0.1, 1.0000000000000002, 3.0, 1e-160, 1e154]


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def _bits(x):
    if x is None:
        return None
    if isinstance(x, list):
        return [_bits(v) for v in x]
    return "nan" if math.isnan(x) else struct.pack("d", x)


def _vec(rng: random.Random, n: int) -> "list[float]":
    return [rng.choice(_EDGE) if rng.random() < 0.4
            else rng.uniform(-1, 1) * 2.0 ** rng.randint(-60, 60) for _ in range(n)]


def _pairs(seed: int = 7):
    """(id, a, b, a as float32 values): equal-length random pairs, then
    the NULL and unequal-length cases."""
    rng = random.Random(seed)
    rows = []
    for i in range(60):
        n = rng.randint(1, 9)
        a, b = _vec(rng, n), _vec(rng, n)
        rows.append((i, a, b, [_f32(max(-1e38, min(1e38, x))) for x in a]))
    rows += [(100, None, [1.0, 2.0], None), (101, [1.0, None, 3.0], [1.0, 2.0, 3.0], [1.0, None, 3.0]),
             (102, [1.0, 2.0, 3.0], [1.0, 2.0], [1.0, 2.0, 3.0]), (103, [], [], [])]
    return rows


def _py(fold, a, b):
    """``fold`` over (a, b) as the contract states it, NULLs included."""
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    xs, ys = a + [None] * (n - len(a)), b + [None] * (n - len(b))
    if fold == "residual":
        return [None if x is None or y is None else x - y for x, y in zip(xs, ys)]
    if None in xs or None in ys:
        return None
    return {"dot": vecexpr.py_dot, "sq_dist": vecexpr.py_sq_dist}[fold](xs, ys)


def _frame(spark):
    return spark.createDataFrame(
        _pairs(), "id int, a array<double>, b array<double>, af array<float>"
    ).orderBy("id")


def test_pair_folds_equal_their_driver_twins(spark):
    folds = {
        "dot": vecexpr.dot("a", "b"), "sq_dist": vecexpr.sq_dist("a", "b"),
        "residual": vecexpr.residual("a", "b"), "dot_f": vecexpr.dot("af", "b"),
        "sq_dist_f": vecexpr.sq_dist("b", "af"),
    }
    got = _frame(spark).select("id", "a", "b", "af", *[F.expr(e).alias(k) for k, e in folds.items()])
    rows = got.collect()
    assert len(rows) == len(_pairs())
    for r in rows:
        for name in folds:
            fold, a, b = name.removesuffix("_f"), r["a"], r["b"]
            if name == "dot_f":
                a = r["af"]
            elif name == "sq_dist_f":
                a, b = r["b"], r["af"]
            assert _bits(r[name]) == _bits(_py(fold, a, b)), (name, r["id"], a, b)


def test_single_array_folds_are_left_to_right_loops(spark):
    rows = _frame(spark).select(
        "id", "a", "af",
        F.expr(vecexpr.sum_sq("a")).alias("ss"), F.expr(vecexpr.norm("af")).alias("nf"),
        F.expr(vecexpr.scale("a", "3D")).alias("sc"), F.expr(vecexpr.scale("af", "0.1D")).alias("scf"),
    ).collect()
    for r in rows:
        a, af = r["a"], r["af"]
        if a is None or None in a:
            assert r["ss"] is None and (a is None or r["sc"][a.index(None)] is None)
            continue
        assert _bits(r["ss"]) == _bits(vecexpr.py_dot(a, a)), r["id"]
        assert _bits(r["nf"]) == _bits(math.sqrt(vecexpr.py_dot(af, af))), r["id"]
        assert _bits(r["sc"]) == _bits([x / 3.0 for x in a]), r["id"]
        assert _bits(r["scf"]) == _bits([x / 0.1 for x in af]), r["id"]


def test_cosine_is_dot_over_sqrt_times_sqrt(spark):
    q = [1.0, -0.5, 2.0]

    def guarded(cos: str, *arrays: str) -> str:  # a zero norm would raise under ANSI
        zero = " OR ".join(f"{vecexpr.sum_sq(x)} = 0D" for x in arrays)
        return f"CASE WHEN {zero} THEN NULL ELSE {cos} END"

    rows = _frame(spark).filter("id < 100").select(
        "a", "b", F.expr(guarded(vecexpr.cosine("a", segstore.doubles_sql(q)), "a")).alias("lit"),
        F.expr(guarded(vecexpr.cosine("a", "b"), "a", "b")).alias("cos"),
    ).collect()
    for r in rows:
        a, b = r["a"], r["b"]
        na, nb = math.sqrt(vecexpr.py_dot(a, a)), math.sqrt(vecexpr.py_dot(b, b))
        want = None if na == 0.0 or nb == 0.0 else vecexpr.py_dot(a, b) / (na * nb)
        assert _bits(r["cos"]) == _bits(want), (a, b)
        want = None if len(a) != 3 or na == 0.0 else vecexpr.py_dot(a, q) / (na * math.sqrt(vecexpr.py_dot(q, q)))
        assert _bits(r["lit"]) == _bits(want), a


def test_hyperplane_projection_equals_the_driver_fold(spark):
    """The LSH projection folds like ``py_dot`` against the plane's ±1
    coefficients; an element past ``dims`` meets the JVM's hash of a
    NULL index, which ``lsh_probe_buckets`` folds driver-side too."""
    dims = 5
    coefs = spark.range(1).selectExpr(
        *[f"transform(sequence(0, {dims - 1}), i -> {vecexpr.plane_coef(p, 'i')})" for p in range(3)],
        *[vecexpr.plane_coef(p, "CAST(NULL AS INT)") for p in range(3)],
    ).head()
    rows = _frame(spark).filter("id < 100").select(
        "a", *[F.expr(vecexpr.hyperplane_proj("a", p, dims)).alias(f"p{p}") for p in range(3)]
    ).collect()
    for r in rows:
        a = r["a"]
        for p in range(3):
            h = list(coefs[p]) + [coefs[3 + p]] * max(0, len(a) - dims)
            want = vecexpr.py_dot(a, h) if len(a) >= dims else None
            assert _bits(r[f"p{p}"]) == _bits(want), (p, a)


def test_adc_sum_equals_table_lookups_in_subspace_order(spark):
    rng = random.Random(3)
    books = [(s, c, _vec(rng, 2)) for s in range(4) for c in range(3)]
    q = _vec(rng, 8)
    table = vecexpr.adc_table(books, q)
    codes = [[rng.randrange(3) for _ in range(4)] for _ in range(20)]
    rows = spark.createDataFrame([(c,) for c in codes], "codes array<bigint>").select(
        "codes", F.expr(vecexpr.adc(segstore.doubles_sql(table), "codes", 4)).alias("d")
    ).collect()
    for r in rows:
        acc = 0.0
        for s, c in enumerate(r["codes"]):
            acc = acc + table[s][c]
        assert _bits(r["d"]) == _bits(acc), r["codes"]
