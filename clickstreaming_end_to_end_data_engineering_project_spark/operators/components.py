"""Connected components over candidate-duplicate pairs — the step
that turns pairwise near-dup hits (Jaccard / MinHash / SimHash) into
dedup CLUSTERS with one canonical representative each.

Algorithm: iterative min-label propagation with pointer jumping (the
standard large-graph approach when a full GraphX/pregel dependency
isn't warranted): every vertex starts labeled with its own id; each
round, a vertex adopts the smallest label among itself and its
neighbors, THEN adopts its label's label (path compression — every
label value is itself a vertex id, so the lookup is a self-join).
Converged when no label changes in a full round.  Plain propagation
needs O(diameter) rounds — a 30-vertex chain took ~30; with the jump
step labels race down chains in O(log diameter) rounds, which is what
keeps long thin near-dup chains (common under a low similarity
threshold) inside the iteration budget.

Two hard-won implementation rules (a 14-vertex chain OOMed the driver
without them):
- every round's labels are ``localCheckpoint``ed — persist() caches
  DATA but not LINEAGE, so the nested join plan doubles per round
  (~2^k growth) and the driver dies planning round ~10.  Checkpointing
  truncates the plan to the materialized result.
- non-convergence RAISES.  Returning silently-split components would
  make a dedup pipeline keep multiple copies of one true cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component id =
    min vertex id in the component.  Raises RuntimeError if labels have
    not converged within ``max_iter`` rounds (graph diameter too large
    — raise the budget or pre-contract the graph)."""
    sym = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .union(edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("_u").alias("_vtx"))
        .distinct()
        .withColumn("_lbl", F.col("_vtx"))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym._v == labels._vtx)
            .groupBy(F.col("_u").alias("_vtx2"))
            .agg(F.min("_lbl").alias("_nlbl"))
        )
        # localCheckpoint (not persist): truncates lineage so the plan
        # stays O(1) per round instead of doubling.  _old is carried so
        # the convergence flag falls out of the final select — the
        # changed-check is a narrow scan of the checkpointed round, not
        # an extra labels-vs-labels shuffle join.
        stepped = (
            labels.join(neighbor_min, labels._vtx == neighbor_min._vtx2, "left")
            .select(
                "_vtx",
                F.col("_lbl").alias("_old"),
                F.least(F.col("_lbl"), F.coalesce(F.col("_nlbl"), F.col("_lbl"))).alias("_lbl"),
            )
            .localCheckpoint()
        )
        # pointer jump: adopt the label's own label.  Every label value
        # is a vertex id (ids and mins of ids), so the left lookup
        # always resolves; labels only ever decrease.
        ptr = stepped.select(F.col("_vtx").alias("_p"), F.col("_lbl").alias("_plbl"))
        jumped = F.least(F.col("_lbl"), F.coalesce(F.col("_plbl"), F.col("_lbl")))
        new_labels = (
            stepped.join(ptr, stepped._lbl == ptr._p, "left")
            .select(
                "_vtx",
                jumped.alias("_new_lbl"),
                (jumped != F.col("_old")).alias("_chg"),
            )
            .withColumnRenamed("_new_lbl", "_lbl")
            .localCheckpoint()
        )
        changed = new_labels.filter("_chg").limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds the iteration budget"
        )
    return labels.select(F.col("_vtx").alias("vertex"), F.col("_lbl").alias("component"))


def dup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Cluster near-dup pairs; output (doc_id, cluster_id, is_canonical)
    where the canonical doc is the cluster minimum — the row a dedup
    pipeline KEEPS."""
    comp = connected_components(pairs, id_a, id_b)
    return comp.select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("vertex") == F.col("component")).alias("is_canonical"),
    )


def extend_dup_clusters(
    new_pairs: DataFrame,
    existing: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Incremental cluster maintenance (r13 verdict #8): extend an
    existing ``dup_clusters`` labeling with NEW candidate pairs (an
    ingested increment's near-dup hits — new↔corpus and new↔new edges
    from the ``*_new_pairs`` joins) WITHOUT
    re-clustering the corpus.  Output is the full (doc_id, cluster_id,
    is_canonical) labeling over old ∪ new vertices, EQUAL to
    ``dup_clusters(old_pairs ∪ new_pairs)`` recomputed from scratch
    (pinned by differential test).

    The union-find contraction argument: every existing cluster is
    contracted to a single super-vertex named by its label (which
    ``dup_clusters`` guarantees is the cluster's MIN member id).  New
    edges are mapped through the labels — an endpoint with an existing
    label becomes its cluster's super-vertex; an unlabeled endpoint (a
    brand-new doc, or an old doc that never appeared in a pair) stays
    itself.  Connected components over this CONTRACTED graph — sized
    by the increment's pairs, not the corpus — then yields, for every
    merged group, min(old labels, new ids) = the true min member id of
    the merged component, i.e. exactly the label a full recompute
    assigns.  Old labels are finally remapped through that result in
    ONE narrow broadcast-join pass over the labels table (no corpus
    re-cluster, no old-edge rescan; at 100 TB the labels table is the
    only corpus-sized touch, and it is a column-pruned two-column
    frame).

    ``existing`` must be a min-id labeling (``dup_clusters`` output or
    a previous ``extend_dup_clusters`` output — the operation
    composes).  Empty ``new_pairs`` returns ``existing`` unchanged."""
    lab_a = existing.select(
        F.col("doc_id").alias("_ma"), F.col("cluster_id").alias("_la")
    )
    lab_b = existing.select(
        F.col("doc_id").alias("_mb"), F.col("cluster_id").alias("_lb")
    )
    contracted = (
        new_pairs.select(F.col(id_a).alias("_ea"), F.col(id_b).alias("_eb"))
        .join(lab_a, F.col("_ea") == F.col("_ma"), "left")
        .join(lab_b, F.col("_eb") == F.col("_mb"), "left")
        .select(
            F.coalesce(F.col("_la"), F.col("_ea")).alias("_ca"),
            F.coalesce(F.col("_lb"), F.col("_eb")).alias("_cb"),
        )
    )
    comp = connected_components(contracted, "_ca", "_cb", max_iter=max_iter)
    remap = comp.select(
        F.col("vertex").alias("_rv"), F.col("component").alias("_rc")
    )
    # 1 narrow pass over the labels table: clusters touched by the
    # increment adopt the merged label, untouched clusters keep theirs
    updated_old = (
        existing.join(remap, existing["cluster_id"] == F.col("_rv"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_rc"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    # vertices of the contracted graph that are NOT old docs are the
    # increment's new members (old cluster labels ARE old doc ids, so
    # the anti-join removes every contraction artifact)
    new_members = remap.join(
        existing.select(F.col("doc_id").alias("_od")),
        F.col("_rv") == F.col("_od"),
        "left_anti",
    ).select(F.col("_rv").alias("doc_id"), F.col("_rc").alias("cluster_id"))
    return (
        updated_old.unionByName(new_members)
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 5,
    damping: float = 0.85,
    round_dp: int = 12,
    broadcast_threshold: int = 4_000_000,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count — (vertex, rank)
    after ``iterations`` power steps on the edge-weighted transition
    matrix, with uniform teleport and dangling-mass redistribution
    (Page et al. 1999; the textbook formulation, not a variant).

    Designed to run on an AGGREGATED graph: callers collapse raw
    events into (src, dst, weight) first, so the frame iterated here
    is vocabulary-sized (pages², user-pairs, …), orders of magnitude
    below the corpus — the same shape discipline as
    ``source_unigram_kl``'s (source, token) frame.  Each round is one
    equi-join (ranks ⋈ edges on src) + one aggregate on dst; lineage
    is truncated per round with ``localCheckpoint`` exactly as
    ``connected_components`` does (persist() keeps data but the
    nested-join PLAN doubles per round and kills the driver ~round
    10).

    Cross-engine determinism: every round's rank is fixed-point
    rounded to ``round_dp`` decimals (``dround``), so the ±1-ulp
    sum-order differences between engines cannot compound across
    iterations — both engines carry the IDENTICAL double into the
    next power step (the ``doc_unigram_logprob`` round-before-exp
    discipline, applied per iteration).  A fixed iteration count
    (rather than a convergence test) keeps the operator replayable as
    plain chained SQL CTEs — the oracle in plans/funnel.py generates
    one CTE per round from the same constants.

    Dangling vertices (no out-edges) donate their whole rank to the
    uniform distribution each round, keeping total mass at 1 — drop
    that term and ranks leak mass and diverge from the oracle.
    """
    from ..functions import dround

    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("double").alias("_w"),
    )
    # transition probabilities via a window sum (a self-join on the
    # same lineage trips Spark's ambiguous-reference resolver):
    # exact-integer-valued doubles divided exactly — bit-identical in
    # any engine
    from pyspark.sql import Window

    # the division is guarded on a positive source sum: with ANSI mode
    # on (the session default) an all-zero source would raise
    # DIVIDE_BY_ZERO inside the checkpoint, BEFORE the validation below
    # could produce its actionable error; for every valid input the
    # guard is always-true and the quotient is the identical division
    _wsum = F.sum("_w").over(Window.partitionBy("_src"))
    epw = e.select(
        "_src",
        "_dst",
        "_w",
        F.when(_wsum > 0, F.col("_w") / _wsum).alias("_p"),
    ).localCheckpoint()
    # Weight validation (r12 advisory) runs on the MATERIALIZED frame,
    # not the lazy edge input — an eager count on `e` would re-execute
    # the caller's corpus pass a second time (caught by the r13 bench:
    # page_rank_pages +52% from exactly that; validating a checkpointed
    # copy of `e` still cost one extra vocab-frame materialization).
    # The raw weight rides through the one checkpoint the operator pays
    # anyway (+8 bytes/edge, dropped right after), so the check is a
    # scan of materialized vocabulary-sized rows.  A NULL or ≤0 weight
    # makes the source's probabilities NULL/NaN/denormalized — its rank
    # would neither propagate nor count as dangling mass, silently
    # leaking total mass.  Raising beats guessing a semantic for
    # non-probability weights.
    if epw.filter(F.col("_w").isNull() | (F.col("_w") <= 0)).limit(1).count():
        raise ValueError(
            "pagerank: edge weights must be positive and non-null "
            "(a NULL/zero/negative weight breaks transition-probability "
            "normalization and leaks rank mass)"
        )
    ep = epw.select("_src", "_dst", "_p")
    # vertex set + out-degree flag in ONE pass over the checkpointed
    # edge frame (vertex count, dangling set, and the dangling
    # existence probe all read this; computing them separately cost
    # three extra eager jobs)
    verts = (
        ep.select(
            F.explode(
                F.array(
                    F.struct(F.col("_src").alias("_v"), F.lit(1).alias("_o")),
                    F.struct(F.col("_dst").alias("_v"), F.lit(0).alias("_o")),
                )
            ).alias("_s")
        )
        .select("_s._v", "_s._o")
        .groupBy("_v")
        .agg(F.max("_o").alias("_has_out"))
        .localCheckpoint()
    )
    n, n_dangling = verts.agg(
        F.count(F.lit(1)), F.sum(1 - F.col("_has_out"))
    ).first()
    if n == 0:
        return verts.select(
            F.col("_v").alias("vertex"), F.lit(0.0).alias("rank")
        )
    dangling = verts.filter(F.col("_has_out") == 0).select("_v")
    verts = verts.select("_v")
    # no dangling vertices (every vertex has an out-edge — the common
    # case for transition graphs): the mass term is provably 0.0 every
    # round, so skip its join + aggregate + broadcast entirely.
    # x + 0.0 == x in IEEE for the non-negative ranks here, so the
    # result (and the SQL oracle, whose mass CTE evaluates to 0) is
    # bit-identical.
    has_dangling = bool(n_dangling)
    base = (1.0 - damping) / n
    # small-graph fast path: a rank frame is (vertex, double) — under
    # ~4M vertices it is comfortably inside broadcast range, and
    # broadcasting it (plus the vocab-sized contrib frame) turns every
    # per-round join into a broadcast join, leaving ONE real shuffle
    # per power step (the contribution aggregate).  Measured: 5
    # iterations on a 100-vertex graph dropped 3.6 s → ~1 s of
    # scheduling.  Bigger graphs take the generic shuffle-join path —
    # identical math, AQE plans the exchanges.
    bcast = (
        (lambda df: F.broadcast(df))
        if n <= broadcast_threshold
        else (lambda df: df)
    )
    ranks = verts.select("_v", F.lit(1.0 / n).alias("_r")).localCheckpoint()
    for i in range(iterations):
        r_in = bcast(ranks)
        contrib = (
            ep.join(r_in, ep._src == r_in._v)
            .groupBy(F.col("_dst").alias("_cv"))
            .agg(F.sum(F.col("_r") * F.col("_p")).alias("_c"))
        )
        new_ranks = verts.join(bcast(contrib), verts._v == contrib._cv, "left")
        inflow = F.coalesce(F.col("_c"), F.lit(0.0))
        if has_dangling:
            # dangling mass: a one-row aggregate, broadcast back —
            # never a driver round-trip inside the loop
            mass = dangling.join(ranks, "_v").agg(
                F.coalesce(F.sum("_r"), F.lit(0.0)).alias("_m")
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(mass))
            inflow = inflow + F.col("_m") / F.lit(float(n))
        ranks = new_ranks.select(
            "_v",
            dround(F.lit(base) + F.lit(damping) * inflow, round_dp).alias("_r"),
        )
        # checkpoint every SECOND round, never the last: each lazy
        # round only doubles-ish the (tiny, broadcast-heavy) plan, so
        # one materialization job amortizes two power steps — measured
        # ~0.4 s of scheduling per round saved; connected_components'
        # per-round checkpoints stay because ITS plan doubles via a
        # self-join (2^k), this one is linear between checkpoints.
        if (i + 1) % 2 == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select(F.col("_v").alias("vertex"), F.col("_r").alias("rank"))


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count, wedge count, and global clustering
    coefficient of the UNDIRECTED simple graph underlying ``edges``
    (direction/self-loops/multiplicity are normalized away) — the
    cohesion metric family the graph suite lacked next to
    pagerank/BFS/connected-components.

    Published design: the degree-ordered "forward"/compact-forward
    algorithm (Schank & Wagner, WEA 2005; Latapy 2008), in the join
    layout of Suri & Vassilvitskii, "Counting triangles and the curse
    of the last reducer" (WWW 2011).  Each edge is oriented from the
    endpoint with the LOWER (degree, node) rank to the higher, so
    every out-neighborhood is O(√m) regardless of hub degree — the
    wedge self-join on the oriented source never explodes on a hub
    vertex, which is exactly the "last reducer" skew that kills the
    naive two-path join.  Each triangle {a,b,c} is generated exactly
    once, as the wedge at its lowest-ranked vertex closed by the
    oriented (mid, high) edge.

    Outputs one row: n_triangles, n_wedges (Σ d(d−1)/2 — the
    denominator's path count), global_clustering = 3·T/W (0.0 on a
    wedgeless graph).  All-integer counts; the final ratio is one
    int/int double division — oracle-exact."""
    # the canonical edge frame feeds the degree agg AND (via oriented)
    # three join aliases; without materialization Catalyst re-derives
    # the whole upstream lineage — including the caller's corpus
    # window pass — once per alias (first digest showed 43 exchanges /
    # 17 windows; persisted: the corpus pass runs once)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("_dv"))
    ru = F.struct(F.col("_du").alias("d"), F.col("u").alias("n"))
    rv = F.struct(F.col("_dv").alias("d"), F.col("v").alias("n"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(ru < rv, ru).otherwise(rv).alias("lo"),
            F.when(ru < rv, rv).otherwise(ru).alias("hi"),
        )
        .persist()
    )
    try:
        a, b, c = oriented.alias("a"), oriented.alias("b"), oriented.alias("c")
        tri = (
            a.join(
                b,
                (F.col("a.lo") == F.col("b.lo")) & (F.col("a.hi") < F.col("b.hi")),
            )
            .join(
                c,
                (F.col("c.lo.n") == F.col("a.hi.n"))
                & (F.col("c.hi.n") == F.col("b.hi.n")),
                "left_semi",
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        # Σ d(d−1) is even; sum longs then halve by shift — never a
        # double in the path, so exact past 2^53 (a hub with 10^8
        # neighbors overflows double-division long before int64)
        wedges = deg.agg(
            F.coalesce(
                F.sum((F.col("d") * (F.col("d") - 1)).cast("long")), F.lit(0)
            ).alias("_s2")
        ).select(F.shiftright(F.col("_s2"), 1).alias("n_wedges"))
        return (
            tri.crossJoin(F.broadcast(wedges))
            .select(
                "n_triangles",
                "n_wedges",
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
                )
                .otherwise(F.lit(0.0))
                .alias("global_clustering"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        oriented.unpersist()
        e.unpersist()


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int | None = None,
) -> DataFrame:
    """The k-CORE of the undirected simple graph underlying ``edges``
    (direction/self-loops/multiplicity normalized away): the maximal
    subgraph in which every node has degree ≥ k — the graph family's
    iterative-peeling member next to pagerank / BFS / components /
    triangles (community cores, spam-farm detection, the "dense part"
    every graph-mining pipeline isolates first).

    Published design: iterative peeling (Matula & Beck, "Smallest-last
    ordering and clustering and graph coloring algorithms", JACM 1983)
    in the synchronous distributed form (Montresor, De Pellegrini,
    Miorandi, "Distributed k-core decomposition", IEEE TPDS 2013):
    each round drops EVERY node whose current degree is below ``k`` at
    once — batch removal reaches the same unique maximal fixpoint as
    sequential peeling, in at most |V| rounds (typically a handful:
    each round must remove ≥ 1 node or the loop has converged).

    Spark shape: a driver loop of degree-aggregate → anti-join, with
    an EAGER localCheckpoint per round — iterative algorithms
    otherwise stack one plan per round into a lineage Catalyst
    re-derives from scratch each iteration (the pagerank discipline).
    The per-round work is edge-count-bounded; the loop's driver-side
    state is one isEmpty() flag per round, never data.

    Output: (node, core_degree) — each surviving node with its degree
    INSIDE the k-core (≥ k by construction); empty when the graph has
    no k-core.  ``max_iter`` defaults to |V| + 1 (one cheap distinct
    count over the normalized edges), the documented worst case —
    peeling removes only the current boundary each round, so e.g. k=2
    on a path graph legitimately needs ~|V|/2 rounds and a small fixed
    default would raise on a valid input (r16 ADVICE).  An explicit
    ``max_iter`` still bounds the loop for callers that want a tighter
    leash; exceeding it raises with the resume guidance.  Pinned
    against a brute-force python peeler on random graphs, cliques,
    stars, ring lattices, and a long path in tests."""
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(frame: DataFrame) -> DataFrame:
        return (
            frame.select(F.col("u").alias("node"))
            .unionAll(frame.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )

    if max_iter is None:
        # |V| rounds is the guaranteed convergence bound (each
        # non-final round removes >= 1 node); +1 covers the final
        # no-removal round that detects the fixpoint
        max_iter = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .distinct()
            .count()
            + 1
        )
    for _ in range(int(max_iter)):
        deg = degrees(e)
        bad = deg.filter(F.col("core_degree") < k).select("node")
        if bad.isEmpty():
            return deg
        e = (
            e.join(bad.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(bad.withColumnRenamed("node", "v"), "v", "left_anti")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"kcore: no convergence within max_iter={max_iter} rounds — "
        "peeling needs at most |V| rounds, so pass a larger max_iter "
        "(or leave it None to derive |V| + 1 automatically)"
    )
