"""Job-count pins for the written-index maintenance verbs: append,
``maintain_index`` compaction and delete launch a fixed number of Spark
jobs per layout on a tiny fixture (session defaults, adaptive execution
on), so a verb that starts launching more fails here without a bench
run.  Pooled segment writes run in threads that inherit the caller's
job group, so they are counted too."""

from __future__ import annotations

import pytest

from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
    retrieval as R,
    similarity as S,
)
from clickstreaming_end_to_end_data_engineering_project_spark.operators.maintenance import (
    maintain_index,
)

from .conftest import count_jobs

# (append, maintain_index(max_segments=1), delete) jobs per layout; the
# build records the params it was given in segstore's metadata cache,
# and PQ/IVFPQ verbs share the store schema their first read infers
PINS = {
    "bm25": (18, 8, 17),
    "lsh": (9, 5, 10),
    "ivf": (11, 6, 10),
    "pq": (13, 3, 7),
    "ivfpq": (15, 4, 7),
}
# the same fixture when each layout kept its own copy of every verb:
# no pin may rise above these
PER_LAYOUT_VERBS = {
    "bm25": (19, 8, 17),
    "lsh": (10, 6, 10),
    "ivf": (14, 7, 10),
    "pq": (15, 4, 8),
    "ivfpq": (20, 5, 8),
}

def _layout(spark, kind: str, path: str):
    """(build, append, delete) callables over the layout at ``path``."""
    if kind == "bm25":
        docs = spark.createDataFrame(
            [(i, f"spark stream doc{i % 4} hash tok{i % 7}") for i in range(40)],
            "doc_id long, text string",
        )
        return (
            lambda: R.write_bm25_index(docs.filter("doc_id < 30"), path, n_buckets=4),
            lambda: R.append_bm25_index(docs.filter("doc_id >= 30"), path),
            lambda: R.delete_from_bm25_index(spark, path, [3, 33]),
        )
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, float(i) / 7.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    if kind == "ivfpq":
        vecs = S.unit_normalize(vecs)
    base, inc = vecs.filter("vec_id < 30"), vecs.filter("vec_id >= 30")
    build = {
        "lsh": lambda: S.write_lsh_index(base, path, planes=2, dims=4),
        "ivf": lambda: S.write_ivf_index(base, path, n_clusters=3, iterations=1),
        "pq": lambda: S.write_pq_index(
            base, path, codebooks=S.anchor_pq_codebooks(vecs, m=2, k=4)
        ),
        "ivfpq": lambda: S.write_ivfpq_index(
            base, path, n_clusters=2, m=2, codes_k=4,
            coarse_iterations=1, pq_iterations=1,
        ),
    }[kind]
    append = getattr(S, f"append_{kind}_index")
    delete = getattr(S, f"delete_from_{kind}_index")
    return build, lambda: append(inc, path), lambda: delete(spark, path, [3, 33])


@pytest.mark.parametrize("kind", sorted(PINS))
def test_index_verb_job_counts(spark, tmp_path, kind):
    build, append, delete = _layout(spark, kind, str(tmp_path / kind))
    build()
    got = (
        count_jobs(spark, append),
        count_jobs(spark, lambda: maintain_index(spark, str(tmp_path / kind), max_segments=1)),
        count_jobs(spark, delete),
    )
    assert got == PINS[kind]
    assert all(p <= q for p, q in zip(PINS[kind], PER_LAYOUT_VERBS[kind]))
