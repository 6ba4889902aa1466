"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the query vector
against a single scan of the corpus; at 100 TB this is
embarrassingly parallel (no shuffle except the final top-k, which is a
per-partition top-k + tiny driver merge via ``orderBy().limit()`` —
Spark plans that as TakeOrderedAndProject, never a full sort).

Scale path: random-hyperplane LSH — bucket vectors by the sign pattern
of D deterministic pseudo-random hyperplanes, probe only the query's
bucket, exact-rerank inside.  Hyperplane components are derived from
xxhash64(plane, dim) so the whole thing is reproducible with no stored
model (swap in trained centroids for a real IVF index; plan shape is
identical: bucket-id equi-join then rerank).

Every dot product, cosine and distance is a fold from ``vecexpr``:
double math folded left-to-right over the array, rendered once as SQL
text, so the DuckDB oracle can reproduce values bit-for-bit.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ..sources.formats import local_rows_df
from . import segstore, vecexpr


def brute_force_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one corpus vector.
    Output: (vec_id, cos_sim) ordered desc, id tiebreak."""
    q = df.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qvec"))
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    return (
        df.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def brute_force_topk_filtered(
    df: DataFrame,
    query_vec_id,
    predicate,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k among the rows matching ``predicate`` (a
    Column or SQL string) — METADATA-FILTERED ANN, the most common
    real retrieval request shape ("nearest English docs", "nearest
    within this tenant").  The predicate is applied BEFORE ranking:
    filtering a top-k result AFTER ranking silently returns fewer than
    k rows whenever any unfiltered neighbor out-ranks a matching one.
    Declarative filter + TakeOrderedAndProject, so Catalyst pushes the
    predicate into the scan (row-group pruning on the metadata column
    at scale).  The query row itself is looked up UNFILTERED — the
    query need not satisfy its own predicate.

    Output: (id, cos_sim) desc, id tiebreak — ``brute_force_topk``'s
    contract over the filtered corpus."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    q = df.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qvec"))
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    return (
        df.filter(F.col(id_col) != query_vec_id)
        .filter(pred)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def brute_force_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for EVERY query in a (query_id, embedding)
    frame in ONE corpus pass — the batch-serving shape: Q queries
    amortize a single scan instead of issuing Q scans.  The query set
    is broadcast (serving batches are driver-sized); per-query top-k
    is row_number ≤ k over a (query) window, which Spark plans as
    WindowGroupLimit — each task keeps only its local top-k per query
    BEFORE the shuffle, so shuffle volume is ≤ Q·k rows per task, not
    the corpus×Q cross product.  A query id also present in the corpus
    is excluded from its own neighbor list.

    Output: (query_id, vec_id, cos_sim, rnk) — rnk 1-based."""
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("_qid"))
        .select(F.col("_qid").alias(query_id_col), F.col(id_col), sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def ivf_topk_indexed_batch(
    spark,
    path: str,
    queries: "list[tuple[int, list[float]]]",
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
) -> DataFrame:
    """Batched probe of a ``write_ivf_index`` layout: rank the stored
    centroids per query DRIVER-side (Q × n_clusters dot products over
    driver-sized artifacts), then scan the UNION of all probed
    ``cluster=`` dirs ONCE — the isin over that union is a partition
    filter, so I/O is bounded by the distinct probed clusters, shared
    across the whole batch.  Membership (which query probes which
    cluster) is a broadcast (query, cluster) pair join, and per-query
    top-k is WindowGroupLimit, exactly ``brute_force_topk_batch``'s
    shuffle bound.  Per query, results are IDENTICAL to the
    single-query ``ivf_topk_indexed`` at the same nprobe (pinned in
    tests).

    ``queries``: [(query_id, vector)] — the serving batch, driver-sized
    by definition.  Output: (query_id, vec_id, cos_sim, rnk).

    ``predicate`` (r15): a Column, SQL string, or one-column id frame
    shared by the whole batch (the per-tenant batch-serving shape) —
    evaluated on the unioned pruned scan BEFORE per-query ranking,
    exactly ``ivf_topk_indexed_filtered``'s rule; per query, results
    equal the single-query filtered probe at the same nprobe."""
    idx = segstore.Index("ivf", spark, path, id_col)
    cents = _centroids(idx, "_ivf_centroids")
    dims = idx.params["dims"]
    pairs = []
    qrows = []
    for qid, qv in queries:
        if len(qv) != dims:
            raise ValueError(
                f"ivf_topk_indexed_batch: query {qid} has {len(qv)} dims, "
                f"index expects {dims}"
            )
        qrows.append((int(qid), [float(x) for x in qv]))
        pairs.extend((int(qid), c) for c in _nearest_clusters(cents, qv, nprobe))
    rows = idx.scan(sorted({c for _, c in pairs}), predicate)
    pair_df = local_rows_df(spark, pairs, "_qid bigint, cluster int")
    q_df = local_rows_df(spark, qrows, "_qid bigint, _qvec array<double>")
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        rows.join(F.broadcast(pair_df), "cluster")
        .join(F.broadcast(q_df), "_qid")
        .filter(F.col(id_col) != F.col("_qid"))
        .select(F.col("_qid").alias("query_id"), F.col(id_col), sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def _nearest_clusters(cents: "list[tuple[int, list[float]]]", query_vec, nprobe: int) -> "list[int]":
    """The ``nprobe`` centroids nearest ``query_vec`` by cosine, ranked
    driver-side, ties to the lower cluster id; a zero vector scores 0.
    The single-query and batched IVF probes both rank through here, so
    their probe sets are bit-identical."""
    import math

    qn = math.sqrt(vecexpr.py_dot(query_vec, query_vec))
    ranked = []
    for cid, c in cents:
        cn = math.sqrt(vecexpr.py_dot(c, c))
        cos = 0.0 if qn == 0.0 or cn == 0.0 else vecexpr.py_dot(query_vec, c) / (qn * cn)
        ranked.append((-cos, cid))
    return [cid for _, cid in sorted(ranked)[:nprobe]]


def _centroids(idx: "segstore.Index", name: str) -> "list[tuple[int, list[float]]]":
    """A centroid sidecar's rows as sorted (cluster, centroid) pairs."""
    return sorted((int(r["cluster"]), [float(x) for x in r["centroid"]]) for r in idx.rows(name))


def _rank_cos(rows: DataFrame, query_vec, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine rerank of ``rows`` against ``query_vec``: (id,
    cos_sim) desc, id tiebreak, top ``k``."""
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), segstore.doubles_sql(query_vec)))
    return (
        rows.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


@functools.lru_cache(maxsize=64)
def _plane_signs(spark, planes: int, dims: int) -> "tuple[tuple[tuple[float, ...], float], ...]":
    """Per plane: its ±1 coefficients over indices 0..dims-1, and its
    coefficient past ``dims`` (``vecexpr.hyperplane_proj``).  One 1-row
    job per (session, planes, dims)."""
    r = spark.range(1).selectExpr(
        *[f"transform(sequence(0, {dims - 1}), i -> {vecexpr.plane_coef(p, 'i')})" for p in range(planes)],
        *[vecexpr.plane_coef(p, "CAST(NULL AS INT)") for p in range(planes)],
    ).head()
    return tuple((tuple(r[p]), r[planes + p]) for p in range(planes))


def lsh_probe_buckets(
    spark, query_vec: "list[float]", planes: int, dims: int, nprobe: int
) -> "list[int]":
    """Query-directed multi-probe sequence (Lv et al. 2007): the
    ``nprobe`` buckets most likely to hold the query's neighbors, in
    probe order.  A neighbor lands in a different bucket when it falls
    on the other side of some hyperplanes; the probability of that is
    governed by how CLOSE the query sits to each plane, so probe
    buckets are ranked by perturbation cost = Σ |proj_p| over the
    flipped planes (flip the planes the query barely cleared first).
    The first bucket is always the query's own (cost 0), so
    ``nprobe=1`` is exactly the single-bucket probe.

    Driver-sized: the hyperplanes are xxhash64-derived JVM-side, so
    ONE 1-row Spark job per (planes, dims) evaluates their ±1 signs
    (``_plane_signs``, kept for the process).  The per-plane raw
    projections are then folded driver-side in the JVM's order
    (``vecexpr.py_dot``; a product with ±1 is exact), so they are
    bit-equal to ``vecexpr.hyperplane_proj``, whose MAGNITUDE is how far
    the query sits from each plane.  The 2^planes candidate
    perturbations are enumerated and sorted driver-side — fine for the
    signature widths hyperplane-LSH uses (≤ 16 bits; wider signatures
    want a heap-based generator and are rejected here — but ONLY when
    actually multi-probing: nprobe=1 is the plain bucket computation
    and works at any width).  A query shorter than ``dims`` is
    rejected."""
    if len(query_vec) < dims:
        raise ValueError(f"lsh_probe_buckets: query has {len(query_vec)} dims, planes span {dims}")
    pad = len(query_vec) - dims
    projs = [vecexpr.py_dot(query_vec, h + (past,) * pad) for h, past in _plane_signs(spark, planes, dims)]
    base = sum((1 << p) for p in range(planes) if projs[p] >= 0)
    if nprobe <= 1:
        return [base]
    if planes > 16:
        raise ValueError(f"multi-probe enumeration supports 1..16 planes, got {planes}")
    ranked = sorted(
        (sum(abs(projs[p]) for p in range(planes) if mask & (1 << p)), mask)
        for mask in range(1 << planes)
    )
    return [base ^ mask for _, mask in ranked[:nprobe]]


def lsh_bucket(vec: "Column | str", planes: int, dims: int) -> Column:
    """Random-hyperplane LSH bucket id: `planes`-bit sign signature of
    the vector column ``vec`` (a name or a plain column reference)."""
    a = vecexpr.ref(vec)
    return F.expr(" + ".join(
        f"CASE WHEN {vecexpr.hyperplane_proj(a, p, dims)} >= 0 THEN 1 ELSE 0 END * {2**p}"
        for p in range(planes)
    ))


def lsh_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only vectors whose LSH bucket matches
    the query's, exact cosine rerank inside the bucket.  At scale the
    corpus is pre-bucketed (written partitioned by bucket) so the probe
    is a partition-pruned scan."""
    bucketed = df.withColumn("_bucket", lsh_bucket(vec_col, planes, dims))
    q = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec"), F.col("_bucket").alias("_qbucket")
    )
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    return (
        bucketed.crossJoin(F.broadcast(q))
        .filter((F.col("_bucket") == F.col("_qbucket")) & (F.col(id_col) != query_vec_id))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_topk_multiprobe(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    planes: int = 4,
    dims: int = 64,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """In-memory twin of ``lsh_topk_indexed(..., nprobe=N)``: probe the
    query's bucket PLUS the nprobe−1 next-likeliest buckets (ranked by
    ``lsh_probe_buckets``'s perturbation cost), exact cosine rerank
    across the probed union.  ``nprobe=1`` degenerates to ``lsh_topk``;
    ``nprobe=2^planes`` is brute-force cosine.  Against a written
    index the same bucket set prunes partitions; here it prunes rows."""
    qvals = [
        float(x)
        for x in df.filter(F.col(id_col) == query_vec_id).head()[vec_col]
    ]
    buckets = lsh_probe_buckets(df.sparkSession, qvals, planes, dims, nprobe)
    return _rank_cos(
        df.withColumn("_bucket", lsh_bucket(vec_col, planes, dims))
        .filter(F.col("_bucket").isin(buckets) & (F.col(id_col) != query_vec_id)),
        qvals, k, id_col, vec_col,
    )


def write_lsh_index(
    df: DataFrame,
    path: str,
    planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus partitioned by LSH bucket — the storage
    layout ``lsh_topk``'s docstring assumes at scale: vectors under
    ``batch=<id>/lsh_bucket=<b>/`` (this build is segment 0), so a probe
    reads only the query's bucket directories via static partition
    pruning (``lsh_topk_indexed``).  Two sidecars, written through
    Spark so the layout works on any cluster filesystem:
    ``_id_map/batch=<id>/`` (id, lsh_bucket), the id→bucket lookup an
    id probe and appends read instead of vector data, and
    ``_lsh_params/`` (planes, dims), read back by the probe and by
    appends.  Hyperplanes are content-deterministic (xxhash64 seeds,
    nothing trained), so an appended index equals a rebuild over the
    union bucket for bucket.  Verbs and crash orders:
    ``operators/segstore.py``."""
    segstore.bootstrap("lsh", df, path, {"planes": planes, "dims": dims}, id_col, vec_col)


def append_lsh_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
) -> "dict[str, int]":
    """Append vectors to a ``write_lsh_index`` layout as one new
    segment, bucketed with the index's own stored (planes, dims): the
    appended index equals a full rebuild over the union.  ``batch_id``
    semantics, overlap check and write order: ``segstore.append``."""
    return segstore.append("lsh", path, [new_vecs], id_col, vec_col, batch_id)[0]


def lsh_topk_indexed(
    spark,
    path: str,
    query_vec_id: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec: "list[float] | None" = None,
    nprobe: int = 1,
    predicate=None,
) -> DataFrame:
    """Probe a pre-bucketed LSH index (``write_lsh_index`` layout) —
    total I/O is bounded by ONE bucket directory plus (for id probes)
    the thin ``_id_map`` sidecar; the bucket predicate is a literal, so
    it lands in the parquet scan's PartitionFilters and the other
    2^planes − 1 directories are never opened.

    Query forms:
    - ``query_vec`` (an out-of-corpus vector, the common ANN-serving
      case): its bucket is computed driver-side with the index's own
      stored (planes, dims) (``lsh_probe_buckets``), no corpus I/O at
      all; a query of the wrong dimensionality is rejected;
    - ``query_vec_id`` (corpus vector): bucket from the ``_id_map``
      sidecar (columnar id-pushdown point read), query vector fetched
      from inside the already-pruned bucket.

    (planes, dims) come from the index's ``_lsh_params`` sidecar —
    probing an index written with different parameters than a
    comparison ``lsh_topk`` run is therefore detectable by the caller,
    and impossible to get wrong here.  Results are identical to the
    on-the-fly ``lsh_topk`` for the same parameters; exact cosine
    rerank inside the bucket, same (cos_sim desc, id) ordering.

    ``nprobe`` > 1 turns on query-directed MULTI-PROBE (Lv et al.
    2007, see ``lsh_probe_buckets``): the probe also opens the
    ``nprobe − 1`` next-likeliest bucket directories, ranked by how
    close the query sits to each hyperplane.  The bucket predicate
    becomes an ``isin`` over literals — still a PartitionFilter, so
    I/O stays bounded by nprobe/2^planes of the index; recall rises
    steeply because a near-neighbor differing in one weak bit is the
    dominant miss mode of single-bucket hyperplane LSH (measured on
    the sf0.1 fixture: recall@10 0.2 single-bucket → 0.8 at nprobe 4,
    scripts/ann_probe_bench.py).  ``nprobe=1`` probes the query's own
    bucket exactly as before; probing ALL 2^planes buckets is
    brute-force cosine (the exhaustive-parity test pin).

    ``predicate`` (r15, the filtered-ANN family's LSH member): a
    Column, SQL string, or one-column id frame restricting which rows
    may be RANKED — evaluated INSIDE the bucket-pruned scan (the
    layout stores full rows, so metadata rides beside the vectors),
    before the top-k; at nprobe = 2^planes the result is exact over
    the matching rows (brute-force-filtered parity)."""
    import os

    idx = segstore.Index("lsh", spark, path, id_col, verb="lsh_topk_indexed", query=query_vec)
    planes, dims = int(idx.params["planes"]), int(idx.params["dims"])
    if query_vec is not None:
        qvals = [float(x) for x in query_vec]
        exclude = F.lit(True) if query_vec_id is None else F.col(id_col) != query_vec_id
    else:
        if query_vec_id is None:
            raise ValueError("provide query_vec_id or query_vec")
        id_map = spark.read.parquet(os.path.join(path, "_id_map"))
        brow = id_map.filter(F.col(id_col) == query_vec_id).head()
        if brow is None:
            raise ValueError(f"query vector {query_vec_id} not found in index {path}")
        qrow = (
            idx.scan([brow["lsh_bucket"]]).filter(F.col(id_col) == query_vec_id)
            .select(vec_col)
            .head()
        )
        qvals = [float(x) for x in qrow[0]]
        exclude = F.col(id_col) != query_vec_id
    buckets = lsh_probe_buckets(spark, qvals, planes, dims, nprobe)
    return _rank_cos(idx.scan(buckets, predicate).filter(exclude), qvals, k, id_col, vec_col)


def brute_force_topk_pandas(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched exact cosine top-k: each partition computes a
    numpy matrix-vector product over its Arrow batch and yields only
    its local top-k; the global TakeOrdered merges ~k rows/partition.

    This is the documented 'vectorized pandas UDF beats per-row
    expressions' path: one BLAS gemv per batch instead of an expression
    tree per element.  Results match brute_force_topk up to float
    summation order (np.dot pairwise vs sequential fold); ties are
    broken by id INSIDE each partition (lexsort) so the global
    (cos_sim desc, id) merge is deterministic even with duplicate
    vectors.  The query vector rides in as a broadcast column — the
    plan stays fully lazy (no driver-side collect at build time)."""
    import numpy as np
    import pandas as pd

    q_df = df.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qvec"))

    def _topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.asarray(pdf["_qvec"].iloc[0], dtype=np.float64)
            qn = float(np.sqrt(q @ q))
            m = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            sims = (m @ q) / (np.linalg.norm(m, axis=1) * qn)
            take = min(k, len(sims))
            # lexsort: primary -sims, secondary id — deterministic ties
            order = np.lexsort((pdf[id_col].to_numpy(), -sims))[:take]
            yield pd.DataFrame({id_col: pdf[id_col].iloc[order], "cos_sim": sims[order]})

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("cos_sim", DoubleType(), True),
        ]
    )
    return (
        df.filter(F.col(id_col) != query_vec_id)
        .select(id_col, vec_col)
        .crossJoin(F.broadcast(q_df))
        .mapInPandas(_topk, out_schema)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def build_ivf_centroids(
    df: DataFrame, cluster_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """IVF coarse index: element-wise mean vector per cluster.
    posexplode → per-(cluster, dim) mean → re-assembled array; pure
    built-ins, two narrow shuffles on small keys.  With a learned
    k-means assignment the plan is identical — the cluster column is
    the only input."""
    return vecexpr.mean_vectors(df, [cluster_col], vec_col, "centroid")


def ivf_topk(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: rank centroids by cosine to the query, scan only the
    ``nprobe`` nearest clusters, exact-rerank inside.  At scale the
    corpus is stored partitioned by cluster id → the probe is a
    partition-pruned scan of nprobe/N of the data."""
    centroids = build_ivf_centroids(df, cluster_col, vec_col)
    q = df.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("_qvec"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(cluster_col, F.expr(vecexpr.cosine("centroid", "_qvec")).alias("_csim"))
        # cluster id tiebreak: an exact cosine tie between centroids must
        # not make the probe set nondeterministic (ivf_topk_indexed uses
        # the same tiebreak, and the two probes are pinned BIT-equal)
        .orderBy(F.col("_csim").desc(), F.col(cluster_col))
        .limit(nprobe)
        .select(cluster_col)
    )
    sim = F.expr(vecexpr.cosine(vecexpr.ref(vec_col), "_qvec"))
    return (
        df.join(F.broadcast(probe), cluster_col)
        .filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk_learned(
    df: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_topk`` over LEARNED k-means clusters — the composition
    ``ivf_topk``'s docstring prescribes, packaged: assign clusters
    with ``kmeans_assign`` (deterministic init, fixed iterations),
    attach them, probe the ``nprobe`` nearest.  Use this instead of a
    pre-existing label column whenever that column is not a GEOMETRIC
    clustering — the r10 ANN head-to-head measured recall 0 probing
    the synthetic ``label`` column vs 1.0 with learned clusters
    (scripts/ann_probe_bench.py; labels group semantics, not space).
    At scale, persist the assignment and write the corpus partitioned
    by cluster so probes become partition-pruned scans."""
    from .kmeans import kmeans_assign

    clusters = kmeans_assign(
        df, k=n_clusters, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    # drop any pre-existing 'cluster' column (re-clustering input) so
    # the join can't produce an ambiguous reference; materialize the
    # joined frame — ivf_topk scans its input several times (centroid
    # build, query fetch, probe) and an unmaterialized join would
    # re-execute per scan (both r10 review findings)
    if "cluster" in df.columns:
        df = df.drop("cluster")
    clustered = df.join(clusters, id_col).localCheckpoint(eager=True)
    return ivf_topk(
        clustered,
        query_vec_id,
        k=k,
        nprobe=nprobe,
        cluster_col="cluster",
        id_col=id_col,
        vec_col=vec_col,
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_clusters: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the learned-IVF layout ``ivf_topk``'s docstring
    prescribes at scale: the FULL-PRECISION corpus partitioned by its
    learned k-means cluster (``vectors/batch=<id>/cluster=<c>/``, this
    build = segment 0), so an nprobe-cluster probe is a
    PartitionFilters-pruned scan of nprobe/n_clusters of the data with
    exact in-cluster rerank — the no-compression member of the
    written-ANN family.  Sidecars: ``_ivf_centroids/`` (cluster,
    centroid), ``_ivf_params/`` (n_clusters, dims) and
    ``_id_map/batch=<id>/`` (id, cluster), the thin membership table
    appends validate against.

    Appends assign new vectors to the STORED centroids (Faiss's
    add-after-train model): probe results over the probed clusters stay
    exact, and recall degrades only as far as the data drifts from the
    training sample — retraining IS the rebuild.  Verbs and crash
    orders: ``operators/segstore.py``."""
    from .kmeans import kmeans_assign

    clusters = kmeans_assign(
        df, k=n_clusters, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    if "cluster" in df.columns:
        df = df.drop("cluster")
    clustered = df.join(clusters, id_col).localCheckpoint(eager=True)
    cents = build_ivf_centroids(clustered, "cluster", vec_col).select(
        F.col("cluster").cast("int"), F.col("centroid").cast("array<double>")
    )
    dims = len(df.select(vec_col).first()[0])
    segstore.build(
        "ivf", path, clustered, id_col, {"n_clusters": n_clusters, "dims": dims},
        trained=[("_ivf_centroids", cents)],
    )


def delete_from_lsh_index(
    spark, path: str, vec_ids: "list", id_col: str = "vec_id"
) -> "dict[str, int]":
    """Delete vectors from a ``write_lsh_index`` layout (``segstore.delete``);
    a probe afterwards equals a rebuild over the survivors."""
    return segstore.delete("lsh", spark, path, vec_ids, id_col)


def delete_from_ivf_index(
    spark, path: str, vec_ids: "list", id_col: str = "vec_id"
) -> "dict[str, int]":
    """Delete vectors from a ``write_ivf_index`` layout (``segstore.delete``).
    Centroids are not retrained, so an exhaustive probe afterwards
    equals brute force over the survivors."""
    return segstore.delete("ivf", spark, path, vec_ids, id_col)


def delete_from_pq_index(
    spark, path: str, vec_ids: "list", id_col: str = "vec_id"
) -> "dict[str, int]":
    """Delete vectors from a ``write_pq_index`` layout (``segstore.delete``);
    a probe afterwards equals a same-codebook rebuild over the survivors."""
    return segstore.delete("pq", spark, path, vec_ids, id_col)


def delete_from_ivfpq_index(
    spark, path: str, vec_ids: "list", id_col: str = "vec_id"
) -> "dict[str, int]":
    """Delete vectors (all ``assign_n`` entries of each) from a
    ``write_ivfpq_index`` layout (``segstore.delete``); an exhaustive
    probe afterwards equals brute force over the survivors."""
    return segstore.delete("ivfpq", spark, path, vec_ids, id_col)


def append_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
) -> "dict[str, int]":
    """Append vectors to a ``write_ivf_index`` layout as one new
    segment: each vector goes to its nearest STORED centroid by squared
    euclidean distance, ties to the lower cluster id — the build's own
    ``kmeans_assign`` rule, so it lands where a rebuild given these
    centroids would place it.  O(increment), no retraining: an
    exhaustive probe afterwards equals brute-force cosine over the
    union.  ``batch_id`` semantics, overlap check (``_id_map``, or the
    store for a layout without it) and write order:
    ``segstore.append``."""
    return segstore.append("ivf", path, [new_vecs], id_col, vec_col, batch_id)[0]


def append_ivf_index_many(
    new_batches: "list[DataFrame]",
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[dict[str, int]]":
    """Append several increments to a ``write_ivf_index`` layout in one
    pass, with the layout and reports of ``append_ivf_index`` called on
    each in order with default batch ids.  One encode, one validation
    aggregate and one overlap check (which also rejects ids repeated
    across increments) cover every increment, and every check runs
    before the first write; the segment writes overlap in a small pool
    (``segstore.append``).  All increments must share one schema."""
    if not new_batches:
        return []
    return segstore.append(
        "ivf", path, new_batches, id_col, vec_col, verb="append_ivf_index_many"
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: "list[float]",
    k: int = 10,
    nprobe: int = 4,
    exclude_vec_id: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a ``write_ivf_index`` layout: rank the stored centroids
    by cosine to the query DRIVER-side (n_clusters rows), scan ONLY
    the ``nprobe`` nearest ``cluster=`` dirs (the isin predicate is a
    partition filter), exact-cosine-rerank inside.  Same (cos_sim
    desc, id) output contract as ``ivf_topk``/``ivf_topk_learned``;
    centroid ties break on cluster id (deterministic).  Wrong-dims
    queries are rejected via the params sidecar."""
    return _ivf_probe("ivf_topk_indexed", spark, path, query_vec, None, k, nprobe,
                      exclude_vec_id, id_col, vec_col)


def ivf_topk_indexed_filtered(
    spark,
    path: str,
    query_vec: "list[float]",
    predicate,
    k: int = 10,
    nprobe: int = 4,
    exclude_vec_id: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-filtered probe of a ``write_ivf_index`` layout (r14
    verdict, missing #2): the single most common real ANN request —
    top-k among rows matching ``predicate`` (Column or SQL string).
    ``write_ivf_index`` stores the FULL input row (metadata columns
    ride beside the vector), so the predicate is evaluated INSIDE the
    nprobe probed ``cluster=`` dirs, BEFORE ranking — a filter after
    top-k returns <k rows whenever any non-matching neighbor out-ranks
    a matching one.  The scan stays partition-pruned to nprobe dirs
    and the metadata predicate additionally prunes row groups via
    parquet column stats (both visible in .explain).

    Recall: at nprobe = n_clusters the result is EXACT over the
    filtered corpus (pinned by test vs ``brute_force_topk_filtered``).
    At serving nprobe, a selective predicate thins each probed cluster
    rather than concentrating in one, so OVERSAMPLE nprobe relative to
    the unfiltered setting (rule of thumb: nprobe / selectivity — the
    bench leg records measured recall at the serving setting).

    Same (cos_sim desc, id) output contract as ``ivf_topk_indexed``.

    ``predicate`` accepts a Column, a SQL string, or a one-column
    DataFrame of eligible ids (named ``id_col``) — the id-set form for
    predicates living OUTSIDE the index (e.g. a documents-table
    filter); it lands as a semi-join on the pruned cluster scan,
    before ranking, exactly like the column form."""
    return _ivf_probe("ivf_topk_indexed_filtered", spark, path, query_vec, predicate, k,
                      nprobe, exclude_vec_id, id_col, vec_col)


def _ivf_probe(verb, spark, path, query_vec, predicate, k, nprobe, exclude_vec_id, id_col, vec_col):
    """The IVF probe both public names wrap: the ``nprobe`` nearest
    centroids from the cached sidecar, a partition-pruned store scan
    restricted by ``predicate`` (``segstore.restrict``), exact cosine
    rerank."""
    idx = segstore.Index("ivf", spark, path, id_col, verb=verb, query=query_vec)
    probed = _nearest_clusters(_centroids(idx, "_ivf_centroids"), query_vec, nprobe)
    out = idx.scan(probed, predicate)
    if exclude_vec_id is not None:
        out = out.filter(F.col(id_col) != exclude_vec_id)
    return _rank_cos(out, query_vec, k, id_col, vec_col)


def pairwise_above_threshold(
    df: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold, blocked on ``block_col`` to
    avoid the full quadratic join (blocking key = LSH bucket or cluster
    label at scale)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col(block_col).alias("blk"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col(block_col).alias("blk"))
    sim = F.expr(vecexpr.cosine("va", "vb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def int8_quant_error(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization round-trip error — the
    sizing study for storing an ANN index at 1/4 the float32 footprint
    (scale = max|x|/127, q = halfup-round(x/scale) clamped to ±127,
    reconstruction x̂ = q·scale).  Emits per-vector stats only, so every
    number is a deterministic left-to-right fold — no cross-row double
    sums, hence bit-exact against the SQL oracle with no rounding
    fudge.

    Rounding is floor(x+0.5) SPELLED OUT (not the engine's round()):
    Spark rounds half-up, DuckDB half-even — the explicit form makes
    both engines compute the identical integer.  Zero vectors quantize
    to all-zero with scale 0 (guarded, no division).

    Scale shape: pure per-row array expressions (transform/aggregate),
    one scan, zero shuffles — embarrassingly parallel at any corpus
    size.

    Intermediates are materialized as COLUMNS via chained withColumn
    (r18 optimization round): Spark performs no common-subexpression
    elimination inside lambda bodies, so the former inline form
    re-evaluated ``scale`` — and its embedded whole-vector array_max —
    PER ELEMENT inside the q/err lambdas, O(d²) work per row, three
    times over (once per output).  CollapseProject keeps multi-use
    non-cheap aliases as real columns, so each statistic now evaluates
    once per row; measured 3.3 s → 0.54 s warm at sf0.1, bit-exact."""
    reserved = {"_v", "_mx", "_scale", "_sdiv", "_q", "_err"}
    if id_col in reserved:
        # an id named like one of the internal temp columns would be
        # silently clobbered by the withColumn chain (r18 advisory)
        raise ValueError(
            f"int8_quant_error: id_col {id_col!r} collides with an "
            f"internal temp column ({sorted(reserved)}); rename the id"
        )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = (
        df.select(F.col(id_col), v.alias("_v"))
        .withColumn("_mx", F.array_max(F.transform("_v", F.abs)))
        .withColumn("_scale", F.col("_mx") / F.lit(127.0))
        # divisor guarded for the zero-vector rows (ANSI mode raises on
        # x/0 even though the zero-masked outputs never read them; a
        # zero vector quantizes to all-zero either way)
        .withColumn(
            "_sdiv",
            F.when(F.col("_mx") == F.lit(0.0), F.lit(1.0)).otherwise(F.col("_scale")),
        )
        .withColumn(
            "_q",
            F.transform(
                "_v",
                lambda x: F.greatest(
                    F.lit(-127.0),
                    F.least(F.lit(127.0), F.floor(x / F.col("_sdiv") + F.lit(0.5))),
                ),
            ),
        )
        .withColumn("_err", F.expr(vecexpr.residual("_v", "transform(_q, q -> q * _sdiv)")))
    )
    zero = F.col("_mx") == F.lit(0.0)
    max_abs = F.expr("array_max(transform(_err, e -> abs(e)))")
    return base.select(
        F.col(id_col),
        F.when(zero, F.lit(0.0)).otherwise(F.col("_scale")).alias("qscale"),
        F.when(zero, F.lit(0.0)).otherwise(max_abs).alias("max_abs_err"),
        F.when(zero, F.lit(0.0)).otherwise(F.expr(vecexpr.sum_sq("_err"))).alias("sse"),
    )


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_sample_mod: int = 1,
) -> "list[tuple[int, int, list[float]]]":
    """Product-quantization codebooks (Jegou et al. 2011): split each
    vector into ``m`` subvectors and run Lloyd's k-means with ``k``
    centroids in EVERY subspace — all ``m`` trainings ride ONE
    DataFrame pass per iteration (subspaces are exploded into rows, so
    an iteration costs the same number of Spark jobs as a single
    k-means; see operators/kmeans.py for the per-iteration shape).
    Deterministic: initial centroids per subspace are the k subvectors
    with the smallest xxhash64(id) — a pseudo-random spread sample
    with no RNG (lowest-ID init measured 4× worse recall: consecutive
    ids clump, collapsing most mass onto code 0); fixed iteration
    count.  The init selection is a rank-filtered window (row_number
    ≤ k on (hash, id)), which Spark rewrites to WindowGroupLimit —
    map-side top-k per subspace, O(k) memory at ANY corpus size (the
    r9 advisory flagged the earlier collect_list+slice form, whose
    init memory was bounded only by the ``init_sample_mod`` knob).
    ``init_sample_mod`` remains as a cost knob: pre-filtering init
    candidates to ids with xxhash64(id) % mod == 0 shrinks the
    window's sort input at corpus scale.

    Returns driver-side rows (subspace, code, centroid) — the codebook
    is m*k*dims floats (a few KB), the ONE intentionally driver-sized
    artifact of the PQ family; encode/probe broadcast it back as
    literals."""
    dims = len(df.select(vec_col).first()[0])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    d = dims // m
    subs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("_s"),
                        F.slice(F.col(vec_col), s * d + 1, d).alias("_v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sv"),
    ).select("_id", "_sv._s", "_sv._v").persist()
    try:
        w = Window.partitionBy("_s").orderBy("_h", "_id")
        init = (
            subs.withColumn("_h", F.xxhash64("_id"))
            .filter(F.pmod(F.col("_h"), F.lit(init_sample_mod)) == 0)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)  # WindowGroupLimit: map-side top-k
            .select("_s", (F.col("_rn") - 1).alias("_c"), "_v")
            .collect()
        )
        rows = [(r["_s"], r["_c"], [float(x) for x in r["_v"]]) for r in init]
        for _ in range(iterations):
            cdf = local_rows_df(subs.sparkSession, rows, "_s bigint, _c bigint, _cv array<double>")
            best = (
                subs.join(F.broadcast(cdf), "_s")
                .select("_id", "_s", "_v", "_c", F.expr(vecexpr.sq_dist("_v", "_cv")).alias("_d"))
                .groupBy("_id", "_s")
                .agg(
                    F.min_by(F.col("_c"), F.struct(F.col("_d"), F.col("_c"))).alias("_c"),
                    F.first("_v").alias("_v"),
                )
            )
            new = vecexpr.mean_vectors(best, ["_s", "_c"], "_v", "_cv").collect()
            # empty clusters keep their previous centroid (classic Lloyd fix)
            prev = {(s, c): cv for s, c, cv in rows}
            got = {(r["_s"], r["_c"]): [float(x) for x in r["_cv"]] for r in new}
            rows = [(s, c, got.get((s, c), cv)) for (s, c), cv in prev.items()]
            rows.sort()
        return rows
    finally:
        subs.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks: "list[tuple[int, int, list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — per subspace, the nearest codebook centroid's
    code, assembled into an m-int array (the 8-16x-compressed index a
    100 TB ANN deployment actually stores).  The codebook enters as a
    broadcast literal; one narrow pass + one id-keyed shuffle."""
    m = max(s for s, _, _ in codebooks) + 1
    d = len(codebooks[0][2])
    cdf = local_rows_df(df.sparkSession, codebooks, "_s bigint, _c bigint, _cv array<double>")
    subs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("_s"),
                        F.slice(F.col(vec_col), s * d + 1, d).alias("_v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sv"),
    ).select("_id", "_sv._s", "_sv._v")
    best = (
        subs.join(F.broadcast(cdf), "_s")
        .select("_id", "_s", "_c", F.expr(vecexpr.sq_dist("_v", "_cv")).alias("_d"))
        .groupBy("_id", "_s")
        .agg(F.min_by(F.col("_c"), F.struct(F.col("_d"), F.col("_c"))).alias("_c"))
    )
    return (
        best.groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_s", "_c"))), lambda st: st["_c"]
            ).alias("codes")
        )
        .select(F.col("_id").alias(id_col), "codes")
    )


def pq_topk_adc(
    codes_df: DataFrame,
    codebooks: "list[tuple[int, int, list[float]]]",
    query_vec: "list[float]",
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation: the query
    stays FLOAT, the corpus is its PQ codes, and distance is a sum of
    m table lookups.  The m x k distance table is computed driver-side
    (m*k subvector distances — microseconds) and enters the plan as a
    LITERAL nested array, so the scan reads only the codes column and
    the whole probe is a narrow pass + TakeOrdered: the shape that
    serves ANN from an index 8-16x smaller than the vectors.

    Output: (id, approx_dist) ascending, id tiebreak."""
    table = vecexpr.adc_table(codebooks, query_vec)
    dist = F.expr(vecexpr.adc(segstore.doubles_sql(table), "codes", len(table)))
    return (
        codes_df.select(F.col(id_col), dist.alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col))
        .limit(k)
    )


def pq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    codebooks: "list[tuple[int, int, list[float]]]",
    query_vec: "list[float]",
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ shape: ADC over the compressed codes builds a
    ``shortlist`` of candidates (cheap — codes only), then ONLY those
    rows' real vectors are fetched for an exact L2 rerank.  Recall is
    set by the shortlist size (measured on the synthetic fixture:
    recall@10 ≈ 0.7-0.8 at shortlist 50-100 with m=8 — noise-like
    vectors are PQ's worst case; clustered real embeddings do better),
    while the full-precision scan cost drops from the corpus to
    ``shortlist`` rows: at 10 B vectors the ADC pass reads m bytes per
    vector and the rerank reads ~50 full vectors.

    Output: (id, l2_dist) ascending, id tiebreak."""
    cand = pq_topk_adc(codes_df, codebooks, query_vec, shortlist, id_col).select(id_col)
    return _l2_rerank(df, cand, query_vec, k, id_col, vec_col)


def _l2_rerank(df: DataFrame, cand: DataFrame, query_vec, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact squared-L2 rerank of the rows of ``df`` whose id is in
    ``cand``: (id, l2_dist) ascending, id tiebreak, top ``k``."""
    dist = vecexpr.sq_dist(vecexpr.ref(vec_col), segstore.doubles_sql(query_vec))
    return (
        df.join(F.broadcast(cand), id_col, "left_semi")
        .select(F.col(id_col), F.expr(dist).alias("l2_dist"))
        .orderBy(F.col("l2_dist").asc(), F.col(id_col))
        .limit(k)
    )


def unit_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: "str | None" = None
) -> DataFrame:
    """Unit-norm the vector column (double precision; zero vectors pass
    through unchanged).  The standard preprocessing for serving COSINE
    search from an L2 index: on the unit sphere ||a−b||² = 2−2·cos, so
    L2 ranking IS cosine ranking — which is how the IVFPQ probe below
    reaches cosine-recall targets while quantizing in L2."""
    out_col = out_col or vec_col
    # norm as a real column first (r18): referenced inside the
    # per-element lambda it would re-evaluate the whole-vector fold
    # PER ELEMENT (no CSE inside lambda bodies — the int8_quant_error
    # lesson), turning the pass O(d²) per row
    tmp = "_unit_norm_tmp"
    while tmp in df.columns:
        tmp += "_"
    a, n = vecexpr.ref(vec_col), vecexpr.ref(tmp)
    return (
        df.withColumn(tmp, F.expr(vecexpr.norm(a)))
        # x / 1.0 is x exactly: a zero vector passes through as doubles
        .withColumn(out_col, F.expr(vecexpr.scale(a, f"CASE WHEN {n} = 0D THEN 1D ELSE {n} END")))
        .drop(tmp)
    )


def ivfpq_build(
    df: DataFrame,
    n_clusters: int = 16,
    m: int = 8,
    codes_k: int = 16,
    coarse_iterations: int = 2,
    pq_iterations: int = 3,
    assign_n: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool = True,
):
    """IVFADC index build (Jegou, Douze, Schmid 2011 §IV): a coarse
    k-means quantizer routes each vector to a cluster, then product
    quantization encodes the RESIDUAL (vector − coarse centroid).
    Residual encoding is what lifts plain PQ's recall floor: residuals
    concentrate near the origin with far less variance than raw
    vectors, so the same m×k codebook budget spends its precision on a
    much smaller ball (the r10 head-to-head pinned raw-vector PQ at
    recall@10 ≈ 0.2 on this fixture; see scripts/ann_probe_bench.py
    for the measured lift).

    ``assign_n`` > 1 turns on MULTIPLE ASSIGNMENT: each vector is
    indexed under its ``assign_n`` nearest coarse centroids (index
    size ×assign_n — codes are m bytes, so even ×3 stays far below
    the float vectors).  On near-uniform high-dim data the coarse
    quantizer scatters a query's true neighbors across cluster
    boundaries (measured here: single-assign coverage@nprobe4 = 6/10
    on the bench fixture vs 9-10/10 at assign_n 3-4), so boundary
    duplication is what makes a small nprobe reach high recall — the
    same tradeoff SPANN (Chen et al. 2021) makes with boundary
    replication.

    Returns ``(codes_df, centroid_rows, codebooks)``:
    ``codes_df`` = (id, codes, cluster) — the m-byte-per-vector index
    a deployment stores partitioned by cluster (``assign_n`` rows per
    id, each encoding the residual vs ITS centroid); ``centroid_rows``
    = driver-side [(cluster, centroid)] (n_clusters×dims floats);
    ``codebooks`` = driver-side PQ rows as in ``train_pq_codebooks``.
    Both driver artifacts are a few KB — the intentionally
    driver-sized part of the family.  All stages are deterministic
    (fixed-iteration k-means with hash-spread init), so the probe is
    reproducible run to run."""
    from .kmeans import kmeans_fit

    # kmeans_fit hands back the final-assignment means directly — the
    # r11 build paid an extra join + eager localCheckpoint +
    # posexplode-mean pass (~2 s of the 22.9 s sf0.1 build) just to
    # recompute them via build_ivf_centroids (r11 verdict #7 trim)
    clusters, cent_rows = kmeans_fit(
        df, k=n_clusters, iterations=coarse_iterations, id_col=id_col, vec_col=vec_col
    )
    if "cluster" in df.columns:
        df = df.drop("cluster")
    cent_df = local_rows_df(df.sparkSession, cent_rows, "cluster bigint, _cent array<double>")
    if assign_n > 1:
        # re-assign each vector to its assign_n nearest centroids:
        # broadcast the tiny centroid frame, rank per id, keep top-n
        # (WindowGroupLimit — map-side top-k per vector)
        w = Window.partitionBy("_aid").orderBy("_ad", "cluster")
        assigned = (
            df.select(F.col(id_col).alias("_aid"), F.col(vec_col).alias("_av"))
            .crossJoin(F.broadcast(cent_df))
            .select(
                "_aid",
                "_av",
                "cluster",
                "_cent",
                F.expr(vecexpr.sq_dist("_av", "_cent")).alias("_ad"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= assign_n)
            .select(F.col("_aid").alias(id_col), F.col("_av").alias(vec_col), "cluster", "_cent")
        )
    else:
        # single scan into the (checkpointed) residual frame below, so
        # the join needs no materialization of its own
        assigned = (
            df.join(clusters, id_col)
            .join(F.broadcast(cent_df), "cluster")
            .select(id_col, vec_col, "cluster", "_cent")
        )
    resid = (
        assigned.select(
            id_col,
            "cluster",
            F.expr(vecexpr.residual(vecexpr.ref(vec_col), "_cent")).alias("_resid"),
        )
        .localCheckpoint(eager=True)
    )
    # codebooks train on the PRIMARY assignment's residuals only (the
    # nearest-centroid ones — rows duplicated under 2nd/3rd-nearest
    # centroids have systematically larger residuals and would bias
    # the centroids); with assign_n=1 this is just `resid`.  The
    # training frame needs one (id, subspace) key per row, so for
    # multi-assign the per-id minimum-norm residual IS the primary.
    if assign_n > 1:
        train_src = (
            resid.withColumn("_rnorm", F.expr(vecexpr.sum_sq("_resid")))
            .withColumn(
                "_trn",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy("_rnorm", "cluster")
                ),
            )
            .filter(F.col("_trn") == 1)
            .select(id_col, "_resid")
        )
    else:
        train_src = resid
    codebooks = train_pq_codebooks(
        train_src, m=m, k=codes_k, iterations=pq_iterations, id_col=id_col, vec_col="_resid"
    )
    # encode EVERY (id, cluster) entry's residual.  pq_encode keys by
    # id alone, so encode per-entry via a composite STRUCT key (typed,
    # collision-free by construction — no delimiter to collide with),
    # then restore.
    entry = resid.select(
        F.struct(F.col(id_col).alias("_id"), F.col("cluster").alias("_cl")).alias("_ek"),
        id_col,
        "cluster",
        "_resid",
    )
    codes = (
        pq_encode(entry, codebooks, id_col="_ek", vec_col="_resid")
        .join(entry.select("_ek", id_col, "cluster"), "_ek")
        .drop("_ek")
    )
    # materialize for in-memory probing (ivfpq_topk scans codes once
    # per query); a caller that consumes codes EXACTLY ONCE —
    # write_ivfpq_index streams them straight into the partitioned
    # write — passes materialize=False and skips a full extra
    # materialization of the encode stage
    if materialize:
        codes = codes.localCheckpoint(eager=True)
    return codes, cent_rows, codebooks


def ivfpq_topk(
    df: DataFrame,
    codes_df: DataFrame,
    centroid_rows: "list[tuple[int, list[float]]]",
    codebooks: "list[tuple[int, int, list[float]]]",
    query_vec: "list[float]",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC probe: rank the coarse centroids by L2 distance to the
    query DRIVER-side (n_clusters rows — microseconds), then for each
    of the ``nprobe`` nearest clusters build the ADC table from the
    query's PER-CLUSTER residual (q − centroid_c; the table depends on
    the probed cluster, which is the part plain-PQ ADC doesn't have).
    The probe scans ONLY the probed clusters' codes (at scale the
    codes are stored partitioned by cluster → partition-pruned scan of
    nprobe/n_clusters of the index), shortlists by table lookups, and
    exact-L2-reranks just the shortlist against the real vectors.

    Everything enters the plan as literals (nprobe m×k tables + the
    query), so the scan side reads codes+cluster only and the whole
    probe is narrow-pass → TakeOrdered → broadcast-semi-join rerank.

    Output: (id, l2_dist) ascending, id tiebreak.  For cosine serving,
    build over ``unit_normalize``-d vectors — L2 order on the unit
    sphere is cosine order."""
    probed = sorted(centroid_rows, key=lambda cc: (vecexpr.py_sq_dist(query_vec, cc[1]), cc[0]))[:nprobe]
    tables = [
        vecexpr.adc_table(codebooks, [float(q) - float(c) for q, c in zip(query_vec, cent)])
        for _, cent in probed
    ]
    # ONE folded constant (segstore.doubles_sql) for the nprobe*m*k
    # tables: py4j F.lit builds cost one gateway round-trip each, and a
    # SQL-parsed array(...) saves those calls but still hands the
    # analyzer one CreateArray child per value — analysing 4,096 of them
    # costs most of a second
    tlit = segstore.doubles_sql(tables)
    # cluster id → probe position (literal when-chain; nprobe is tiny)
    pos = F.when(F.col("cluster") == probed[0][0], F.lit(0))
    for i, (cid, _) in enumerate(probed[1:], start=1):
        pos = pos.when(F.col("cluster") == cid, F.lit(i))
    probe_ids = [cid for cid, _ in probed]
    dist = F.expr(vecexpr.adc(f"element_at({tlit}, _p + 1)", "codes", len(tables[0])))
    cand = (
        codes_df.filter(F.col("cluster").isin(probe_ids))
        .withColumn("_p", pos)
        .select(F.col(id_col), dist.alias("approx_dist"))
        # multiple assignment can surface the same id from several
        # probed clusters — keep its best ADC estimate so duplicate
        # entries don't burn shortlist slots (one small shuffle over
        # the probed subset only)
        .groupBy(id_col)
        .agg(F.min("approx_dist").alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    return _l2_rerank(df, cand, query_vec, k, id_col, vec_col)


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    n_clusters: int = 16,
    m: int = 8,
    codes_k: int = 16,
    coarse_iterations: int = 2,
    pq_iterations: int = 2,
    assign_n: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVFADC index the way a 100 TB deployment stores
    it: ``codes/batch=<id>/cluster=<c>/`` (this build = segment 0), so
    an ``nprobe``-cluster probe is a PartitionFilters-pruned scan of
    nprobe/n_clusters of the index, and each entry is m bytes of
    residual codes instead of the float vector.  Build over a
    ``unit_normalize``-d corpus to serve cosine (see ``ivfpq_topk``).
    Sidecars: ``_ivfpq_centroids/`` (the coarse quantizer),
    ``_pq_codebooks/`` (the residual codebook grid) and
    ``_ivfpq_params/`` (n_clusters, m, k, dims, assign_n), read back by
    the probe so an index is never probed with mismatched geometry.
    Appends encode against the stored centroids and codebooks (Faiss
    add-after-train); retraining IS the rebuild.  Verbs and crash
    orders: ``operators/segstore.py``."""
    spark = df.sparkSession
    codes, cent_rows, codebooks = ivfpq_build(
        df,
        n_clusters=n_clusters,
        m=m,
        codes_k=codes_k,
        coarse_iterations=coarse_iterations,
        pq_iterations=pq_iterations,
        assign_n=assign_n,
        id_col=id_col,
        vec_col=vec_col,
        # the segment write is the single consumer of codes
        materialize=False,
    )
    params = {"n_clusters": n_clusters, "m": m, "k": codes_k,
              "dims": len(cent_rows[0][1]), "assign_n": assign_n}
    segstore.build("ivfpq", path, codes, id_col, params, trained=[
        ("_ivfpq_centroids", local_rows_df(spark, cent_rows, "cluster int, centroid array<double>")),
        ("_pq_codebooks", local_rows_df(spark, codebooks, "s int, c int, cv array<double>")),
    ])


def ivfpq_topk_indexed(
    spark,
    path: str,
    df: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a ``write_ivfpq_index`` layout: geometry and the coarse
    centroids come from the sidecars (driver-sized reads), the probed
    clusters' codes come from the Hive-partitioned ``codes/`` table —
    ``cluster.isin(probed)`` is a partition predicate, so only
    nprobe/n_clusters of the directories are listed and scanned —
    and the exact rerank runs against ``df``, the full-precision
    vector table.  Results are identical to ``ivfpq_topk`` over the
    same build (same ADC tables, same (l2_dist, id) ordering).  A
    query of the wrong dimensionality is rejected up front."""
    return _adc_probe("ivfpq", spark, path, df, query_vec, k, shortlist, id_col, vec_col, nprobe)


def _adc_probe(kind, spark, path, df, query_vec, k, shortlist, id_col, vec_col, nprobe=None):
    """The PQ and IVFPQ probe both public names wrap: codebooks (and
    IVFPQ's coarse centroids) from the cached sidecars, the codes store
    read with its known schema, and the exact rerank over ``df``."""
    idx = segstore.Index(kind, spark, path, id_col, verb=f"{kind}_topk_indexed", query=query_vec)
    books = _books(idx)
    codes = idx.scan()
    if kind == "pq":
        return pq_topk_rerank(df, codes, books, query_vec, k=k, shortlist=shortlist,
                              id_col=id_col, vec_col=vec_col)
    return ivfpq_topk(df, codes, _centroids(idx, "_ivfpq_centroids"), books, query_vec, k=k,
                      nprobe=nprobe, shortlist=shortlist, id_col=id_col, vec_col=vec_col)


def append_ivfpq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
) -> "dict[str, int]":
    """Append vectors to a ``write_ivfpq_index`` layout as one new
    segment (Faiss add-after-train for IVFADC): each vector goes to its
    ``assign_n`` nearest STORED coarse centroids by the build's rule,
    and each residual is encoded against the STORED codebooks.  An
    exhaustive probe (nprobe = n_clusters, shortlist ≥ corpus)
    afterwards equals brute-force L2 over the union.  ``batch_id``
    semantics, overlap check (the codes table) and write order:
    ``segstore.append``."""
    return segstore.append("ivfpq", path, [new_vecs], id_col, vec_col, batch_id)[0]


def write_pq_index(
    df: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: "list[tuple[int, int, list[float]]] | None" = None,
) -> None:
    """Materialize the PQ index the ``pq_topk_*`` probes assume at
    scale: ``codes/batch=<id>/`` (id, m-int codes; this build = segment
    0) — the 8–16×-compressed representation that replaces the vectors
    for the ADC pass — plus ``_pq_codebooks/`` (subspace, code,
    centroid) and ``_pq_params/`` (m, k, dims), read back by the probe
    so an index is never probed with mismatched geometry.

    ``codebooks`` defaults to ``train_pq_codebooks`` (Lloyd-trained);
    pass ``anchor_pq_codebooks(...)`` for the deterministic
    training-free variant.  Appends encode against the STORED codebooks
    (Faiss add-after-train); retraining IS the rebuild.  Verbs and
    crash orders: ``operators/segstore.py``."""
    spark = df.sparkSession
    if codebooks is None:
        codebooks = train_pq_codebooks(df, m, k, iterations, id_col, vec_col)
    m = max(s for s, _, _ in codebooks) + 1
    k = max(c for _, c, _ in codebooks) + 1
    # An explicit codebook list must be a COMPLETE uniform m×k grid:
    # the sidecars derived here are what pq_topk_indexed trusts, so a
    # ragged or sparse grid would write misleading _pq_params and turn
    # the probe's dims guard into false assurance.
    if len(codebooks) != m * k or len({(s, c) for s, c, _ in codebooks}) != m * k:
        raise ValueError(
            f"write_pq_index: codebooks must cover every (subspace, code) cell "
            f"exactly once — got {len(codebooks)} rows for an {m}x{k} grid"
        )
    sub_d = len(codebooks[0][2])
    if any(len(cv) != sub_d for _, _, cv in codebooks):
        raise ValueError(
            "write_pq_index: centroids have mixed dimensionality; every "
            f"centroid must be {sub_d}-dim"
        )
    segstore.build(
        "pq", path, pq_encode(df, codebooks, id_col, vec_col), id_col,
        {"m": m, "k": k, "dims": m * sub_d},
        trained=[("_pq_codebooks", local_rows_df(spark, codebooks, "s int, c int, cv array<double>"))],
    )


def read_pq_codebooks(spark, path: str) -> "list[tuple[int, int, list[float]]]":
    """The codebooks of the PQ or IVFPQ index at ``path``, driver-side
    (m·k·dims floats — a few KB), in canonical (subspace, code) order.
    They come through segstore's metadata cache, keyed by the sidecar's
    file listing: a warm call runs no Spark job, and any rewrite of the
    sidecar is a miss."""
    return _books(segstore.Index("pq", spark, path))


def _books(idx: "segstore.Index") -> "list[tuple[int, int, list[float]]]":
    return sorted((r["s"], r["c"], [float(x) for x in r["cv"]]) for r in idx.rows("_pq_codebooks"))


def pq_topk_indexed(
    spark,
    path: str,
    df: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a ``write_pq_index`` layout: ADC over the stored codes
    (the scan touches ONLY the thin codes table — column-pruned to
    (id, codes); the query's distance table enters as a literal),
    then exact rerank of the ``shortlist`` against ``df``, the
    full-precision vector table.  Geometry comes from the index's
    ``_pq_params`` sidecar, and a query vector of the wrong
    dimensionality is rejected rather than silently mis-sliced.
    Results are identical to ``pq_topk_rerank`` with the same
    codebooks (same ADC table, same (l2_dist, id) ordering)."""
    return _adc_probe("pq", spark, path, df, query_vec, k, shortlist, id_col, vec_col)


def append_pq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: "int | None" = None,
) -> "dict[str, int]":
    """Append vectors to a ``write_pq_index`` layout as one new segment,
    encoded against the STORED codebooks: appended vectors carry exactly
    the codes a same-codebook rebuild gives them.  ``batch_id``
    semantics, overlap check (the codes table) and write order:
    ``segstore.append``."""
    return segstore.append("pq", path, [new_vecs], id_col, vec_col, batch_id)[0]


def anchor_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "list[tuple[int, int, list[float]]]":
    """Deterministic PQ codebooks WITHOUT training: the codebook for
    every subspace is the subvectors of the same ``k`` anchor rows —
    the rows with the smallest Knuth multiplicative hash of their id
    (``knuth_key``: ``id * 2654435761 mod 2^32``, overflow-free; the
    odd multiplier is bijective mod 2^32, so keys tie only for ids
    2^32 apart and the id tiebreak resolves those; a pseudo-random
    spread with no RNG and no float arithmetic).  Centroids are thus
    VERBATIM data values —
    the one codebook an independent SQL engine can reconstruct
    exactly, which is what lets ``pq_adc_report`` be value-hash
    oracle-checked while the trained path (``train_pq_codebooks``,
    whose Lloyd iterations average floats) stays rows-only.  Same
    return shape as train_pq_codebooks, so pq_encode/pq_topk_* accept
    either."""
    anchors = _anchor_rows(df, k, id_col, vec_col)
    dims = len(anchors[0][vec_col])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    d = dims // m
    return [
        (s, c, [float(x) for x in row[vec_col][s * d : (s + 1) * d]])
        for s in range(m)
        for c, row in enumerate(anchors)
    ]


def knuth_key(id_col: Column) -> Column:
    """``(id * 2654435761) mod 2^32`` computed via 16-bit split
    multiplication so no intermediate exceeds int64 — the naive
    product overflows (ANSI: throws) for ids above ~3.46e9, i.e.
    exactly the 10B-vector corpora the PQ docstrings size for (r10
    review finding).  Identical values to the naive form wherever
    that form is defined.  Well-defined for NEGATIVE ids too (pmod
    keeps every remainder non-negative; the DuckDB oracle CTE wraps
    its two innermost C-style mods to match — cross-engine-pinned
    over the full int64 range, negatives included).  Keys collide for
    ids ≥ 2^32 (the map is bijective only mod 2^32); callers tiebreak
    on the id."""
    i = id_col.cast("long")
    m, b32, b16 = F.lit(2654435761), F.lit(4294967296), F.lit(65536)
    lo = F.pmod(i, b16)
    # shiftright, NOT floor(i/65536): the double division loses the
    # low bits above 2^53 — exactly the id range this guards
    hi = F.pmod(F.shiftright(i, 16), b16)
    return F.pmod(F.pmod(lo * m, b32) + F.pmod(hi * m, b32) * b16, b32)


def _anchor_rows(df: DataFrame, k: int, id_col: str, vec_col: str):
    """The k anchor rows in Knuth-key order — ONE TakeOrdered job
    (dims are read off the collected rows, and pq_adc_report digs its
    query vector out of them when possible, so the whole PQ report
    costs a single driver-side job before the scan)."""
    key = knuth_key(F.col(id_col))
    anchors = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(key, F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(anchors) < k:
        raise ValueError(f"anchor_pq_codebooks: need >= {k} rows, got {len(anchors)}")
    return anchors


def pq_adc_report(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    query_vec_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ fidelity report: assign every corpus vector its
    anchor-codebook PQ codes, then compare the ADC approximate
    distance to ``query_vec_id``'s vector against the exact L2 — the
    quantization-error audit (``embedding_quant_error``'s int8
    pattern, lifted to PQ) that sizes a code-only ANN deployment.

    Columns: ``code_key`` (sum of code_s·k^s — pins every subspace
    assignment integer-exactly), ``approx_dist`` (ADC: per-subspace
    distance from the query subvector to the ASSIGNED centroid,
    summed in subspace order), ``l2_dist`` (exact, one fold over all
    dims).

    Scale shape: the codebook and query enter as literals, so the
    whole report is ONE narrow projection over the corpus — no join,
    no shuffle, embarrassingly parallel at any size (contrast the
    trained-PQ encode path, which shuffles on id to assemble codes).
    Every float is a ``vecexpr`` left-to-right double fold built from
    subtract/multiply only (no pow), so the SQL oracle replays it
    bit-for-bit."""
    rows = _anchor_rows(df, k, id_col, vec_col)
    dims = len(rows[0][vec_col])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m={m}")
    d = dims // m
    sub_of = {
        (s, c): [float(x) for x in row[vec_col][s * d : (s + 1) * d]]
        for s in range(m)
        for c, row in enumerate(rows)
    }
    # the usual query id 0 has Knuth key 0 — the global minimum — so
    # its row is already in the anchor collect; only other ids pay a
    # dedicated lookup job
    qhit = [r for r in rows if r[id_col] == query_vec_id]
    if qhit:
        qvec = [float(x) for x in qhit[0][vec_col]]
    else:
        qrow = df.filter(F.col(id_col) == query_vec_id).select(vec_col).head()
        if qrow is None:
            raise ValueError(f"pq_adc_report: query id {query_vec_id} not found")
        qvec = [float(x) for x in qrow[0]]
    a = vecexpr.ref(vec_col)
    adcs = vecexpr.adc_table([(s, c, cv) for (s, c), cv in sub_of.items()], qvec)
    best = []
    for s in range(m):
        # ONE literal per subspace for the k centroids and ONE for their
        # query distances (``adc``, folded driver-side), and the
        # row-to-centroid distances in one transform lambda: the plan
        # holds m transform+aggregate trees instead of m*k separate
        # aggregates.  The struct min is (distance, code) lexicographic.
        cents = segstore.doubles_sql([sub_of[(s, c)] for c in range(k)])
        best.append(F.expr(
            f"array_min(transform({cents}, (cv, c) -> named_struct("
            f"'d', {vecexpr.sq_dist(f'slice({a}, {s * d + 1}, {d})', 'cv')}, "
            f"'c', c, 'adc', element_at({segstore.doubles_sql(adcs[s])}, c + 1))))"
        ))
    code_key = F.lit(0).cast("long")
    approx = F.lit(0.0)
    for s, b in enumerate(best):
        code_key = code_key + b["c"].cast("long") * F.lit(k**s).cast("long")
        approx = approx + b["adc"]
    return df.filter(F.col(id_col) != query_vec_id).select(
        F.col(id_col),
        code_key.alias("code_key"),
        approx.alias("approx_dist"),
        F.expr(vecexpr.sq_dist(a, segstore.doubles_sql(qvec))).alias("l2_dist"),
    )
