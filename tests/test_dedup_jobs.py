"""Job-count pins for the prefix-filter dedup joins: each of the six
public joins launches a fixed number of Spark jobs on a small fixture,
and so does each cosine join with the dense paths off
(``dense_verify_cells_cap=0``) and with a cap the fixture fails (prefix
path after the gate aggregate).  A join that starts launching more
fails here without a bench run.

Adaptive execution stays on, so every shuffle stage is a job; broadcast
joins are off, because adaptive execution turns a shuffle join into a
broadcast join as soon as one side's stage finishes small, and whether
the other side's stage was already submitted by then is a matter of
timing."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from clickstreaming_end_to_end_data_engineering_project_spark.operators import dedup as D

from .conftest import count_jobs

# jobs per call now, and the same fixture when each of the six joins
# had its own body (the cosine joins then ran the dense-gate aggregate
# a second time inside verification): no pin may rise above the latter
PINS = {
    "prefix_jaccard_pairs": (15, 15),
    "prefix_jaccard_new_pairs": (17, 22),
    "prefix_containment_pairs": (15, 15),
    "prefix_containment_new_pairs": (21, 25),
    "cosine_prefix_pairs": (26, 26),
    "cosine_prefix_pairs/cap0": (41, 41),
    "cosine_prefix_pairs/cap40": (41, 44),
    "cosine_prefix_new_pairs": (36, 36),
    "cosine_prefix_new_pairs/cap0": (51, 51),
    "cosine_prefix_new_pairs/cap40": (53, 56),
}

def _frames(spark):
    """(all docs, corpus, batch): 120 Zipf-vocabulary docs plus 20
    one-token edits, 10 half-length excerpts and 10 exact clones of
    them; the batch is doc_id % 5 = 0."""
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(60)]
    weights = [1.0 / (k + 1) for k in range(60)]
    toks = [rng.choices(vocab, weights=weights, k=rng.choice([4, 8, 16])) for _ in range(120)]
    texts = [" ".join(t) for t in toks]
    texts += [" ".join(["edit"] + t[1:]) for t in toks[:20]]
    texts += [" ".join(t[: len(t) // 2]) for t in toks[20:30]]
    texts += texts[30:40]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return docs, docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0)


def _case(name: str, docs, corpus, batch):
    fn, _, regime = name.partition("/")
    kw = {"cap0": {"dense_verify_cells_cap": 0}, "cap40": {"dense_verify_cells_cap": 40}}.get(
        regime, {}
    )
    if fn.endswith("_new_pairs"):
        return lambda: getattr(D, fn)(corpus, batch, **kw)
    return lambda: getattr(D, fn)(docs, **kw)


@pytest.fixture
def no_broadcast_joins(spark):
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


@pytest.mark.parametrize("name", list(PINS))
def test_dedup_join_job_counts(spark, no_broadcast_joins, name):
    action = _case(name, *_frames(spark))
    got = count_jobs(spark, action)
    assert got == PINS[name][0]
    assert PINS[name][0] <= PINS[name][1]
