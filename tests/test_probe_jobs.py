"""Indexed-probe pins: each of the six written-index probes launches a
fixed number of Spark jobs on a tiny two-segment fixture, once with an
empty metadata cache and once warm, and its warm frame build sends a
fixed number of py4j calls; and no write can leave the cache
serving something stale — after an append, ``forget_ids``, a
``maintain_index`` compaction and a rebuild with different geometry, a
warm probe equals a cold probe and a probe of a fresh rebuild over the
same rows, and every entry the cache would serve equals a fresh read;
after ``forget_ids`` of every id, a warm probe fails as a cold one does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
    retrieval as R,
    segstore,
    similarity as S,
)
from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
    forget_ids,
    maintain_index,
)

from .conftest import count_jobs, count_py4j

# (cold, warm) jobs per probe.  When every probe read its sidecars and
# inferred its store schema itself, the same fixture launched bm25 7,
# lsh 4, ivf 4, ivf_filtered 4, pq 5 and ivfpq 7 on every call.
PINS = {
    "bm25": (5, 2),
    "lsh": (4, 1),
    "ivf": (4, 1),
    "ivf_filtered": (4, 1),
    "pq": (5, 2),
    "ivfpq": (7, 3),
}
# py4j gateway calls of one warm probe's frame build (the least of
# three builds): a count no box speed moves.  With the vector folds
# built as Column lambdas the same builds made bm25 961, lsh 518, ivf
# 519, ivf_filtered 523, pq 518 and ivfpq 712 calls.
PY4J_PINS = {
    "bm25": 961,
    "lsh": 186,
    "ivf": 187,
    "ivf_filtered": 191,
    "pq": 247,
    "ivfpq": 400,
}
Q = [1.0, 2.0, 1.0, 0.5]


def _vecs(spark, kind: str):
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i) / 7.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    return S.unit_normalize(vecs) if kind == "ivfpq" else vecs


def _build(spark, kind: str, rows, path: str, alt: bool = False) -> None:
    """Write the ``kind`` layout over ``rows``; ``alt`` picks a second
    geometry."""
    if kind == "bm25":
        R.write_bm25_index(rows, path, n_buckets=8 if alt else 4)
    elif kind == "lsh":
        S.write_lsh_index(rows, path, planes=3 if alt else 2, dims=4)
    elif kind == "ivf":
        S.write_ivf_index(rows, path, n_clusters=2 if alt else 3, iterations=1)
    elif kind == "pq":
        S.write_pq_index(rows, path, codebooks=_books(spark, alt))
    else:
        S.write_ivfpq_index(rows, path, n_clusters=3 if alt else 2, m=2, codes_k=4,
                            coarse_iterations=1, pq_iterations=1)


def _books(spark, alt: bool):
    return S.anchor_pq_codebooks(_vecs(spark, "pq"), m=4 if alt else 2, k=3 if alt else 4)


def _probe(spark, kind: str, path: str, vecs=None, exhaustive: bool = False):
    """The probe of ``kind``; ``exhaustive`` ranks every stored row, so
    the result does not depend on trained state."""
    if kind == "bm25":
        return R.bm25_topk_indexed(spark, path, ["spark", "doc1", "tok3"], k=5)
    if kind == "lsh":
        return S.lsh_topk_indexed(spark, path, query_vec=Q, k=5, nprobe=8 if exhaustive else 2)
    if kind in ("ivf", "ivf_filtered"):
        nprobe = 3 if exhaustive else 2
        if kind == "ivf":
            return S.ivf_topk_indexed(spark, path, Q, k=5, nprobe=nprobe)
        return S.ivf_topk_indexed_filtered(spark, path, Q, "vec_id % 2 = 0", k=5, nprobe=nprobe)
    if kind == "pq":
        return S.pq_topk_indexed(spark, path, vecs, Q, k=5, shortlist=10)
    nq = [x / sum(v * v for v in Q) ** 0.5 for x in Q]
    return S.ivfpq_topk_indexed(spark, path, vecs, nq, k=5, nprobe=3 if exhaustive else 2,
                                shortlist=40 if exhaustive else 10)


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"spark stream doc{i % 4} hash tok{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )


def _frames(spark, kind: str):
    """(all rows, id column)."""
    if kind == "bm25":
        return _docs(spark), "doc_id"
    return _vecs(spark, kind), "vec_id"


@pytest.mark.parametrize("probe", sorted(PINS))
def test_probe_job_counts_cold_and_warm(spark, tmp_path, probe):
    kind = "ivf" if probe == "ivf_filtered" else probe
    rows, id_col = _frames(spark, kind)
    path = str(tmp_path / kind)
    _build(spark, kind, rows.filter(F.col(id_col) < 30), path)
    append = R.append_bm25_index if kind == "bm25" else getattr(S, f"append_{kind}_index")
    append(rows.filter(F.col(id_col) >= 30), path)
    segstore._CACHE.clear()
    S._plane_signs.cache_clear()
    cold = count_jobs(spark, lambda: _probe(spark, probe, path, rows).collect())
    warm = count_jobs(spark, lambda: _probe(spark, probe, path, rows).collect())
    assert (cold, warm) == PINS[probe]


@pytest.mark.parametrize("probe", sorted(PY4J_PINS))
def test_warm_probe_build_py4j_calls(spark, tmp_path, probe):
    kind = "ivf" if probe == "ivf_filtered" else probe
    rows, id_col = _frames(spark, kind)
    path = str(tmp_path / kind)
    _build(spark, kind, rows.filter(F.col(id_col) < 30), path)
    append = R.append_bm25_index if kind == "bm25" else getattr(S, f"append_{kind}_index")
    append(rows.filter(F.col(id_col) >= 30), path)
    _probe(spark, probe, path, rows).collect()
    assert count_py4j(spark, lambda: _probe(spark, probe, path, rows)) == PY4J_PINS[probe]


def _served_equals_fresh(spark, kind: str, path: str) -> None:
    """Every sidecar entry and the store schema the cache would serve
    for ``path`` equals a fresh read of the files."""
    lay = segstore.LAYOUTS[kind]
    idx = segstore.Index(kind, spark, path)
    schemas = {lay.params: lay.params_schema, **dict(lay.stats), **dict(lay.trained)}
    for name, schema in schemas.items():
        # segmented slices also read back their batch column: keep the schema's
        fresh = spark.read.schema(schema).parquet(f"{path}/{name}")
        fresh = fresh.select(*[c.split()[0] for c in schema.split(",")])
        hit = segstore._CACHE.get(idx.key(name), idx.listing(name))
        if hit is not None:
            assert sorted(map(tuple, hit)) == sorted(map(tuple, fresh.collect())), name
        terms = segstore._CACHE.get(idx.key(name) + "/#lookup", idx.listing(name))
        for term, got in (terms or {}).items():
            want = fresh.filter(F.col("_t") == term).collect()
            assert sorted(map(tuple, got)) == sorted(map(tuple, want)), (name, term)
    held = idx.cached_store_schema()
    assert held is not None, "the probe left no store schema"
    store = f"{path}/{lay.store}" if lay.store else path
    assert held == spark.read.parquet(store).schema


def _outcome(run):
    """``run()``'s rows, or the class and first line of what it raised."""
    try:
        return run()
    except Exception as e:  # noqa: BLE001 - the outcome is what is compared
        return type(e).__name__, str(e).splitlines()[0]


@pytest.mark.parametrize("kind", sorted(segstore.LAYOUTS))
def test_no_write_leaves_a_stale_cache(spark, tmp_path, kind):
    rows, id_col = _frames(spark, kind)
    path = str(tmp_path / kind)
    live = rows.filter(F.col(id_col) < 30)
    _build(spark, kind, live, path)
    append = R.append_bm25_index if kind == "bm25" else getattr(S, f"append_{kind}_index")

    def collect(p):
        return [tuple(r) for r in _probe(spark, kind, p, live, exhaustive=True).collect()]

    # (step, write, rows left or None if unchanged, new geometry)
    writes = [
        ("append", lambda: append(rows.filter(F.col(id_col) >= 30), path), rows, False),
        ("forget", lambda: forget_ids(spark, [3, 33], index_roots=[path]),
         rows.filter(~F.col(id_col).isin(3, 33)), False),
        ("compact", lambda: maintain_index(spark, path, max_segments=1), None, False),
        ("rebuild", lambda: _build(spark, kind, live, path, alt=True), None, True),
    ]
    alt, want = False, None
    collect(path)  # warm every entry the probe reads; each step's cold probe re-warms it
    for step, (name, write, now, geometry) in enumerate(writes):
        write()
        live = live if now is None else now
        warm = collect(path)
        _served_equals_fresh(spark, kind, path)
        segstore._CACHE.clear()
        cold = collect(path)
        if now is not None or geometry:  # a compaction keeps the rows and the geometry
            alt = alt or geometry
            fresh = str(tmp_path / f"fresh{step}")
            _build(spark, kind, live, fresh, alt=alt)
            want = collect(fresh)
        assert warm == cold == want, name

    # forgetting every id leaves no segment to infer a store schema from:
    # a warm probe must fail exactly as a cold one does
    forget_ids(spark, list(range(40)), index_roots=[path])
    assert segstore.Index(kind, spark, path).cached_store_schema() is None
    warm = _outcome(lambda: collect(path))
    segstore._CACHE.clear()
    assert isinstance(warm, tuple) and warm == _outcome(lambda: collect(path)), warm
