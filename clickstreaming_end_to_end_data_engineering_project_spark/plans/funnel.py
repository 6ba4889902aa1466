"""Funnel / journey / non-equi-join queries — the analyses the
reference's README promises for its dashboard (README.md:119-146:
"conversion funnels", "user journey flows") but never implements, and
the join surface SURVEY.md §2.3 notes is absent from the reference.

Scale notes:
- conversion_funnel: three narrow aggregates over one scan each,
  joined on user_id (AQE will broadcast the shrinking sides); final
  counts are single rows cross-joined — no wide shuffle.
- price_band_counts: theta join against a tiny literal band table →
  broadcast nested-loop join, the correct plan for non-equi small-dim.
- purchase_last_view_asof: the as-of join expressed as
  last_value(IGNORE NULLS) over an event-time window — one shuffle on
  user_id, no self-join blowup (the classic scalable as-of shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dround, sql_snippets, sum_money
from ..operators.components import kcore, pagerank, triangle_stats
from ..operators.rangejoin import interval_point_join
from ..operators.scd import scd2_from_changelog
from ..sources.tables import load
from .registry import QuerySpec


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel: users who viewed; then clicked after first
    view; then purchased after first qualifying click. One summary row."""
    ev = load(spark, sf_dir, "events")
    viewed = (
        ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("_vt"))
    )
    clicked = (
        ev.filter(F.col("event_type") == "click")
        .join(viewed, "user_id")
        .filter(F.col("ts") > F.col("_vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_ct"))
    )
    purchased = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicked, "user_id")
        .filter(F.col("ts") > F.col("_ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("_pt"))
    )
    return (
        viewed.agg(F.count(F.lit(1)).alias("viewed_users"))
        .crossJoin(clicked.agg(F.count(F.lit(1)).alias("clicked_users")))
        .crossJoin(purchased.agg(F.count(F.lit(1)).alias("purchased_users")))
    )


def price_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (range) join: parts bucketed into literal price bands via
    a non-equi condition — plans as broadcast nested loop."""
    from ..sources.formats import local_rows_df

    bands = local_rows_df(
        spark,
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 1e9)],
        "band string, lo double, hi double",
    )
    part = load(spark, sf_dir, "part")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("part_cnt"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


def purchase_last_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior view by the
    same user — last_value(IGNORE NULLS) over event-time order instead
    of a self-join (bounded state, one shuffle)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_view = F.last(
        F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_view_ts", prior_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_view_ts",
        )
    )


def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (r13 queue): per user, the latency
    from FIRST view to FIRST subsequent purchase, then exact integer-rank
    quantiles (p25/50/75/90/99) of that latency across converting users
    — the number a growth team reads next to the funnel counts.

    Latency is in MICROSECONDS via unix_micros (exact integers on both
    engines; a seconds cast would truncate differently than DuckDB's
    fractional epoch).  Quantile ranks follow the length_quantiles
    discipline: 1-based rank (p·n+99) div 100 over (latency, user_id)
    order — no float index, no interpolation.  The converting-user
    frame is one agg over one scan; the final quantile window sorts
    only converting users (≪ events; at true scale the serving twin is
    percentile_approx, the length_quantiles_approx precedent)."""
    ev = load(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("_v"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("_p"),
        )
    )
    conv = firsts.filter(
        F.col("_v").isNotNull() & F.col("_p").isNotNull() & (F.col("_p") > F.col("_v"))
    ).select(
        "user_id",
        (F.unix_micros("_p") - F.unix_micros("_v")).alias("_lat"),
    )
    w = Window.orderBy("_lat", "user_id")
    ranked = conv.select(
        "_lat",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    aggs = [F.max("_n").alias("n_users")]
    for p in (25, 50, 75, 90, 99):
        aggs.append(
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"(cast({p} as bigint) * _n + 99) div 100"),
                    F.col("_lat"),
                )
            ).alias(f"p{p}_us")
        )
    return ranked.agg(*aggs)


def user_inter_event_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user inter-event gaps (r14 queue) — THE
    input to choosing a sessionization timeout: the session gap
    (operators/sessions.py uses 30 min) should sit in the long tail of
    this distribution, and this query shows where the tail starts.

    Shape: one lag window per user (parallel across users — partitions
    bounded by per-user history), gaps in exact microseconds, then the
    integer-rank quantile fold over all gaps (the length_quantiles
    discipline; serving twin percentile_approx).  Tie-break on
    (user_id, event_id) so simultaneous events order identically in
    both engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_id",
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("_gap"),
        )
        .filter(F.col("_gap").isNotNull())
    )
    wq = Window.orderBy("_gap", "user_id", "event_id")
    ranked = gaps.select(
        "_gap",
        F.row_number().over(wq).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    aggs = [F.max("_n").alias("n_gaps")]
    for p in (50, 75, 90, 99):
        aggs.append(
            F.max(
                F.when(
                    F.col("_rn") == F.expr(f"(cast({p} as bigint) * _n + 99) div 100"),
                    F.col("_gap"),
                )
            ).alias(f"p{p}_us")
        )
    return ranked.agg(*aggs)


def _page_events(ev: DataFrame) -> DataFrame:
    """(user_id, ts, event_id, page) — pages live in the ``props.k``
    JSON slot (the reference's page-id convention).  The ONE copy of
    this derivation: page_rank_pages, page_hops_bfs,
    page_triangle_stats, and user_page_scd2 all consume it, so the
    page-id slot or the null rule can never silently diverge between
    the graph/dimension queries (r15 review)."""
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    ).filter(F.col("page").isNotNull())


def page_rank_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the page-transition graph (r15 queue) — 'which
    pages does traffic structurally concentrate on', the
    importance-ranking upgrade over raw view counts the reference's
    README promises with its 'user journey flows' dashboard
    (reference README.md:128-137 names journeys; ranking their graph
    is the standard next step).

    Pages are ``props.k`` (the reference's page-id slot); edges are
    per-user CONSECUTIVE page pairs with count weights — the same lag
    window as ``user_journey_transitions``, keyed on page not
    event_type.  The expensive pass (events → aggregated edge frame)
    happens once; the 5 power iterations run on the pages²-bounded
    graph via operators/components.pagerank (localCheckpoint per
    round, dangling-mass redistribution, per-round dround so the
    chained-CTE oracle matches bit-for-bit)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pg = _page_events(ev)
    edges = (
        pg.withColumn("prev_page", F.lag("page").over(w))
        .filter(F.col("prev_page").isNotNull())
        .groupBy(F.col("prev_page").alias("src"), F.col("page").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    pr = pagerank(edges, iterations=5, damping=0.85)
    return pr.select(
        F.col("vertex").alias("page"), dround(F.col("rank"), 6).alias("pagerank")
    )


def page_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesion metrics of the page-transition graph (r18 queue, graph
    family extension): exact triangle count, wedge count, and global
    clustering coefficient — "how clique-like is the navigation
    graph", the standard next number after pagerank's importance and
    BFS's reachability.  Same edge derivation as page_rank_pages /
    page_hops_bfs (per-user consecutive ``props.k`` pages), normalized
    to the undirected simple graph.  The impl runs the degree-ordered
    oriented wedge join (skew-safe — see
    operators/components.triangle_stats); the oracle states the
    node-ordered quadratic form.  All-integer counts, one final
    int/int double division — oracle-exact."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pg = _page_events(ev)
    edges = (
        pg.withColumn("prev_page", F.lag("page").over(w))
        .filter(F.col("prev_page").isNotNull())
        .select(F.col("prev_page").alias("src"), F.col("page").alias("dst"))
    )
    return triangle_stats(edges)


def user_page_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (r18 queue, new family: dimensional
    history): each user's page-location history as versioned
    [valid_from, valid_to) intervals — one row per RUN of consecutive
    visits to the same page, open interval (NULL valid_to) for the
    current version.  The warehouse shape that answers "what was X at
    time t" with a plain key+interval join.  Two per-user windows, no
    global sort — see operators/scd.scd2_from_changelog."""
    ev = load(spark, sf_dir, "events")
    pg = _page_events(ev)
    return scd2_from_changelog(
        pg, "user_id", "ts", ["page"], tiebreak_cols=["event_id"]
    )


def _pagerank_oracle(iterations: int = 5) -> str:
    """Chained-CTE DuckDB twin of page_rank_pages: one CTE per power
    iteration, each rounding to 12 dp exactly as the operator does.
    Double literals are CAST so both engines compute (1.0-0.85)/n and
    1.0/n with identical IEEE ops."""
    rd12 = lambda e: sql_snippets.dround(e, 12)  # noqa: E731
    its = []
    for k in range(1, iterations + 1):
        its.append(
            f"""
        r{k} AS (
            SELECT v.page,
                   {rd12(f"b.b + CAST(0.85 AS DOUBLE) * (coalesce(c._c, 0) + m._m / n.n)")} AS rank
            FROM verts v
            LEFT JOIN (SELECT e._dst AS page, sum(r.rank * e._p) AS _c
                       FROM edges e JOIN r{k - 1} r ON r.page = e._src
                       GROUP BY 1) c ON c.page = v.page
            CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS _m
                        FROM r{k - 1} r LEFT JOIN outs o ON o._src = r.page
                        WHERE o._src IS NULL) m
            CROSS JOIN n CROSS JOIN b
        )"""
        )
    return f"""
        WITH pg AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS page
            FROM events
        ),
        seq AS (
            SELECT page,
                   lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_page
            FROM pg WHERE page IS NOT NULL
        ),
        edges0 AS (
            SELECT prev_page AS _src, page AS _dst, count(*) AS _w
            FROM seq WHERE prev_page IS NOT NULL GROUP BY 1, 2
        ),
        outs AS (SELECT _src, CAST(sum(_w) AS DOUBLE) AS _W FROM edges0 GROUP BY 1),
        edges AS (SELECT e._src, e._dst, CAST(e._w AS DOUBLE) / o._W AS _p
                  FROM edges0 e JOIN outs o USING (_src)),
        verts AS (SELECT DISTINCT _src AS page FROM edges0
                  UNION SELECT DISTINCT _dst AS page FROM edges0),
        n AS (SELECT count(*) AS n FROM verts),
        b AS (SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n AS b FROM n),
        r0 AS (SELECT page, CAST(1.0 AS DOUBLE) / n.n AS rank
               FROM verts CROSS JOIN n),{",".join(its)}
        SELECT page, {sql_snippets.dround("rank", 6)} AS pagerank FROM r{iterations}
        """


# shared body of the recursive-BFS SQL: Spark 4 executes WITH
# RECURSIVE natively (the UnionLoop operator), DuckDB replays the
# IDENTICAL text — only the table name and the JSON accessor differ.
# DISTINCT in the recursive step bounds each frontier at the page
# vocabulary (without it the row count is PATH-count — combinatorial);
# the hops < 4 guard terminates cycles (the page graph's diameter is
# ~2-3; bumping the bound changes nothing on a connected graph).
_BFS_SQL_BODY = """
WITH RECURSIVE {edge_ctes}
r(page, hops) AS (
    SELECT CAST(0 AS INT), 0
    UNION ALL
    SELECT DISTINCT e.dst, r.hops + 1
    FROM r JOIN {edges} e ON e.src = r.page
    WHERE r.hops < 4
)
SELECT page, CAST(min(hops) AS INT) AS min_hops FROM r GROUP BY page
"""

_BFS_EDGE_CTES = """pg AS (
    SELECT user_id, ts, event_id,
           CAST({json_k} AS INT) AS page
    FROM {events}
),
seq AS (
    SELECT page,
           lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_page
    FROM pg WHERE page IS NOT NULL
),
edges AS (
    SELECT DISTINCT prev_page AS src, page AS dst
    FROM seq WHERE prev_page IS NOT NULL
),
"""


def page_hops_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-hops from page 0 over the click-transition graph
    via a RECURSIVE CTE executed by Spark itself (r18 queue) — the
    iterative-SQL surface (Spark 4's WITH RECURSIVE) that complements
    the DataFrame-loop formulations (pagerank's power steps,
    connected_components' label propagation).

    The edge frame is MATERIALIZED (localCheckpoint) before the
    recursion and only the pages²-bounded loop runs in SQL: Spark's
    UnionLoop re-executes non-recursive CTE subtrees once per
    iteration, so an inline edges CTE re-ran the full corpus window
    pass per hop level — 6.07 s at sf0.1, vs ~1 s materialized (the
    source_unigram_kl lesson, surfacing INSIDE the engine's recursive
    execution).  DISTINCT per step keeps every frontier at most
    vocabulary-sized; the DuckDB oracle keeps the single inline text
    (it materializes CTEs by default)."""
    ev = load(spark, sf_dir, "events")
    pg = _page_events(ev)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        pg.withColumn("prev_page", F.lag("page").over(w))
        .filter(F.col("prev_page").isNotNull())
        .select(F.col("prev_page").alias("src"), F.col("page").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("_bfs_edges")
    return spark.sql(_BFS_SQL_BODY.format(edge_ctes="", edges="_bfs_edges"))


def user_journey_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered journey timestamps (r18 queue, NEW family:
    sequence-pattern matching): the earliest view → click → purchase
    completion inside a 2-hour horizon from the first view — the
    per-entity generalization of ``conversion_funnel``'s one-row
    summary (that query keeps the reference-parity shape; this one
    returns WHO matched and WHEN, the MATCH_RECOGNIZE-subset verb).
    NULL from the first unmatched step onward; greedy-earliest
    semantics (see operators/sequence.match_sequence).  The oracle
    states the identical nested-min CTE cascade.  Pure timestamp
    min/comparisons — engine-exact."""
    from ..operators.sequence import match_sequence

    ev = load(spark, sf_dir, "events")
    return match_sequence(
        ev,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        within="2 hours",
    )


def user_journey_match_gapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-bounded, error-free journey match (r19 queue; r17 verdict
    #7 — the max-gap + absence members of the sequence-pattern
    family): the earliest view → click → purchase completion where the
    click lands within 2 DAYS of the view (per-step max-gap, the
    engagement bound the whole-pattern horizon can't express), every
    step stays inside the 6-day horizon, and NO ``error`` event
    intervenes strictly between consecutive matched steps (the
    absence constraint — an error between view and click, or between
    click and purchase, kills the tail: the clean-session funnel).
    The bounds sit where the fixture discriminates: at sf0.01 the 150
    users split 54 gap-blocked / 16 error-blocked at click / 32
    error-blocked at purchase / 38 completed, so every mechanism is
    exercised (the 30-minute web-scale gap NULLs everything on this
    month-long synthetic trace).  Strict-absence semantics per
    operators/sequence.match_sequence; the oracle states the identical
    nested-min cascade with per-step blocker mins.  Pure timestamp
    min/comparisons — engine-exact."""
    from ..operators.sequence import match_sequence

    ev = load(spark, sf_dir, "events")
    err = F.col("event_type") == "error"
    return match_sequence(
        ev,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        within="6 days",
        max_gaps=["2 days", None],
        absences=[err, err],
    )


def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution (r18 queue, NEW family):
    per-page purchase credit — each purchase attributes to the most
    recent page VIEW by the same user strictly before it and within a
    30-minute lookback, then pages aggregate attributed purchase
    counts and revenue; purchases with no qualifying view land in the
    NULL "unattributed" bucket (dropping them would under-count).
    The step past ``purchase_last_view_asof`` (which finds the
    timestamp): this credits the touched PAGE and aggregates the
    money.  Runs through operators/attribution.last_touch_attribution
    (one per-user window over the merged stream, no conversions×
    touches self-join); the oracle states the twin last_value IGNORE
    NULLS windows.  Decimal-exact revenue (the purchase_stats money
    convention), cast to double only at output."""
    from ..operators.attribution import last_touch_attribution

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    conv = last_touch_attribution(
        ev,
        "user_id",
        "ts",
        touch_filter=(F.col("event_type") == "view") & F.col("page").isNotNull(),
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="30 minutes",
        tiebreak_cols=["event_id"],
    )
    return conv.groupBy("attributed_page").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("attributed_revenue"),
    )


def purchase_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch revenue attribution (r19
    queue; r17 verdict #4): every page VIEW in the 3 days before a
    purchase shares the credit — 40% to the first touch, 40% to the
    last, the middle 20% split evenly across interior touches (1.0 /
    0.5–0.5 for one- and two-touch paths); purchases with no
    in-lookback view credit the NULL unattributed bucket at weight
    1.0, so credited revenue totals reconcile with purchase_stats.
    The 3-day lookback sits where the fixture discriminates: at
    sf0.01 the 1981 purchases split 593 unattributed / 699 single /
    440 double / 249 three-plus, exercising every weight branch.

    Exactness discipline (the family's float contract): the weight is
    a deterministic double both engines state identically (the middle
    share stays the EXPRESSION (1.0 − 2·0.4)/(n−2) — pre-folding it
    changes the bits); each credit is snapped to integer MICRO-units
    via floor(value · w · 1e6 + 0.5) and summed as exact integers, so
    the per-page totals are order-independent and engine-exact — the
    ``dround``-family lesson applied to a weighted sum.  Runs through
    operators/attribution.multi_touch_attribution (one per-user
    window collecting prior touches, no conversions × touches
    self-join); the oracle states the equivalent join + row_number
    formulation."""
    from ..operators.attribution import multi_touch_attribution

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    credits = multi_touch_attribution(
        ev,
        "user_id",
        "ts",
        touch_filter=(F.col("event_type") == "view") & F.col("page").isNotNull(),
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        model="position",
        lookback="3 days",
        tiebreak_cols=["event_id"],
    )
    vdouble = F.col("value").cast("decimal(12,2)").cast("double")
    micro = F.floor(vdouble * F.col("weight") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return credits.groupBy("attributed_page").agg(
        F.count(F.lit(1)).alias("n_credits"),
        (F.sum(micro).cast("double") / F.lit(1000000.0)).alias("credited_revenue"),
    )


def page_backbone_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MUTUAL-TOP-3 transition backbone (r18 queue; r16
    verdict directive #4 — the k-core operator's first battery query).
    The raw page-transition graph saturates to a near-complete K100 at
    every SF (COVERAGE.md records the probed degree distributions), so
    no k discriminates on it; the backbone graph fixes that
    structurally: keep edge (u, v) only when v is among u's top-3
    strongest transition partners AND u is among v's — degrees are
    then ≤ 3 by construction, and the 2-core (pages inside cyclic
    navigation structure, the 'loops' of the journey graph) is
    non-degenerate at all three fixture scales (42/56/49 of ~80-90
    backbone nodes; 4-6 peel rounds).  Tie-break on (weight desc,
    partner asc) keeps the backbone deterministic.  k-core itself is
    an iterative fixpoint no single SQL statement states, so this is
    a rows-only battery row; the pytest differential rebuilds the
    backbone independently in DuckDB and peels it in pure python,
    pinning the full query end-to-end at two scales."""
    ev = load(spark, sf_dir, "events")
    pg = _page_events(ev)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    und = (
        pg.withColumn("prev_page", F.lag("page").over(w))
        .filter(F.col("prev_page").isNotNull() & (F.col("prev_page") != F.col("page")))
        .groupBy(
            F.least("prev_page", "page").alias("u"),
            F.greatest("prev_page", "page").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b"), "weight").unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"), "weight")
    )
    rw = Window.partitionBy("a").orderBy(F.col("weight").desc(), F.col("b"))
    # materialized: the mutuality check self-joins top as t1/t2, and
    # without it the corpus window pass re-derives once per alias
    top = (
        sym.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= 3)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    t1, t2 = top.alias("t1"), top.alias("t2")
    mutual = (
        t1.join(
            t2,
            (F.col("t1.a") == F.col("t2.b")) & (F.col("t1.b") == F.col("t2.a")),
        )
        .filter(F.col("t1.a") < F.col("t1.b"))
        .select(F.col("t1.a").alias("src"), F.col("t1.b").alias("dst"))
    )
    return kcore(mutual, 2).withColumnRenamed("node", "page")


def purchase_hot_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases inside hot traffic windows (r15 queue) — the
    point-in-interval join: windows are [minute, minute+5min) for
    every minute whose total event count exceeds the corpus p90
    (exact integer rank, the length_quantiles discipline), points are
    purchase events.

    The join runs through operators/rangejoin.interval_point_join —
    bin equi-join + residual predicate, O(P + I·k) instead of the
    O(P·I) theta join the oracle states — so this query IS the
    range-join scale test: same semantics, different physical
    strategy, hash-compared."""
    ev = load(spark, sf_dir, "events")
    pm = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # global window over the MINUTES frame (minutes-in-range sized,
    # not events) — the single-partition sort is bounded by time span
    wq = Window.orderBy("cnt", "minute")
    ranked = pm.select(
        "minute",
        "cnt",
        F.row_number().over(wq).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    thr = ranked.filter(
        F.col("_rn") == F.expr("(cast(90 as bigint) * _n + 99) div 100")
    ).select(F.col("cnt").alias("_t"))
    hot = (
        pm.crossJoin(F.broadcast(thr))
        .filter(F.col("cnt") > F.col("_t"))
        .select(
            F.col("minute").alias("window_start"),
            (F.col("minute") + F.expr("INTERVAL 5 MINUTES")).alias("window_end"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_point_join(
        purchases, hot, "ts", "window_start", "window_end", bin_seconds=300
    )
    return joined.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("purchase_cnt"),
        sum_money("value").alias("purchase_value"),
        F.count_distinct("user_id").alias("unique_buyers"),
    )


SPECS = [
    QuerySpec(
        "page_rank_pages",
        page_rank_pages,
        _pagerank_oracle(5),
        "weighted PageRank over the page-transition graph, 5 fixed power "
        "iterations, chained-CTE oracle (r15 queue)",
    ),
    QuerySpec(
        "page_hops_bfs",
        page_hops_bfs,
        _BFS_SQL_BODY.format(
            edge_ctes=_BFS_EDGE_CTES.format(
                json_k="json_extract_string(props, '$.k')", events="events"
            ),
            edges="edges",
        ),
        "BFS shortest hops from page 0 via a native recursive CTE — the "
        "same recursive text both engines execute (r18 queue; Spark "
        "materializes the edge frame first, see the docstring)",
    ),
    QuerySpec(
        "purchase_hot_window_join",
        purchase_hot_window_join,
        f"""
        WITH pm AS (
            SELECT date_trunc('minute', ts) AS minute, count(*) AS cnt
            FROM events GROUP BY 1
        ),
        r AS (
            SELECT minute, cnt,
                   row_number() OVER (ORDER BY cnt, minute) AS _rn,
                   count(*) OVER () AS _n
            FROM pm
        ),
        thr AS (SELECT cnt AS _t FROM r WHERE _rn = (90 * _n + 99) // 100),
        hot AS (
            SELECT minute AS window_start, minute + INTERVAL 5 MINUTE AS window_end
            FROM pm, thr WHERE cnt > _t
        )
        SELECT h.window_start,
               CAST(count(*) AS BIGINT) AS purchase_cnt,
               {sql_snippets.sum_money("e.value")} AS purchase_value,
               count(DISTINCT e.user_id) AS unique_buyers
        FROM hot h JOIN events e
          ON e.event_type = 'purchase'
         AND e.ts >= h.window_start AND e.ts < h.window_end
        GROUP BY 1
        """,
        "binned interval-point range join: purchases in hot traffic windows "
        "(oracle states the theta join; impl uses the bin equi-join)",
    ),
    QuerySpec(
        "conversion_funnel",
        conversion_funnel,
        """
        WITH v AS (
            SELECT user_id, min(ts) AS vt FROM events WHERE event_type = 'view' GROUP BY 1
        ), c AS (
            SELECT e.user_id, min(e.ts) AS ct
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.vt
            WHERE e.event_type = 'click' GROUP BY 1
        ), p AS (
            SELECT e.user_id, min(e.ts) AS pt
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.ct
            WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT (SELECT count(*) FROM v) AS viewed_users,
               (SELECT count(*) FROM c) AS clicked_users,
               (SELECT count(*) FROM p) AS purchased_users
        """,
    ),
    QuerySpec(
        "price_band_counts",
        price_band_counts,
        """
        SELECT band, count(*) AS part_cnt, max(p_retailprice) AS max_price
        FROM part
        JOIN (VALUES ('budget', 0.0, 500.0),
                     ('mid', 500.0, 1200.0),
                     ('premium', 1200.0, 1e9)) bands(band, lo, hi)
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
        """,
    ),
    QuerySpec(
        "conversion_latency_quantiles",
        conversion_latency_quantiles,
        """
        WITH f AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS _v,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS _p
            FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
        ), conv AS (
            SELECT user_id, epoch_us(_p) - epoch_us(_v) AS _lat
            FROM f WHERE _v IS NOT NULL AND _p IS NOT NULL AND _p > _v
        ), r AS (
            SELECT _lat,
                   row_number() OVER (ORDER BY _lat, user_id) AS _rn,
                   count(*) OVER () AS _n
            FROM conv
        )
        SELECT CAST(max(_n) AS BIGINT) AS n_users,
               CAST(max(CASE WHEN _rn = (25 * _n + 99) // 100 THEN _lat END) AS BIGINT) AS p25_us,
               CAST(max(CASE WHEN _rn = (50 * _n + 99) // 100 THEN _lat END) AS BIGINT) AS p50_us,
               CAST(max(CASE WHEN _rn = (75 * _n + 99) // 100 THEN _lat END) AS BIGINT) AS p75_us,
               CAST(max(CASE WHEN _rn = (90 * _n + 99) // 100 THEN _lat END) AS BIGINT) AS p90_us,
               CAST(max(CASE WHEN _rn = (99 * _n + 99) // 100 THEN _lat END) AS BIGINT) AS p99_us
        FROM r
        """,
        "first-view→first-purchase latency quantiles (r13 queue)",
    ),
    QuerySpec(
        "user_inter_event_gap_quantiles",
        user_inter_event_gap_quantiles,
        """
        WITH g AS (
            SELECT user_id, event_id,
                   epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) AS _gap
            FROM events
        ), r AS (
            SELECT _gap,
                   row_number() OVER (ORDER BY _gap, user_id, event_id) AS _rn,
                   count(*) OVER () AS _n
            FROM g WHERE _gap IS NOT NULL
        )
        SELECT CAST(max(_n) AS BIGINT) AS n_gaps,
               CAST(max(CASE WHEN _rn = (50 * _n + 99) // 100 THEN _gap END) AS BIGINT) AS p50_us,
               CAST(max(CASE WHEN _rn = (75 * _n + 99) // 100 THEN _gap END) AS BIGINT) AS p75_us,
               CAST(max(CASE WHEN _rn = (90 * _n + 99) // 100 THEN _gap END) AS BIGINT) AS p90_us,
               CAST(max(CASE WHEN _rn = (99 * _n + 99) // 100 THEN _gap END) AS BIGINT) AS p99_us
        FROM r
        """,
        "per-user inter-event gap quantiles — the sessionization-timeout input (r14 queue)",
    ),
    QuerySpec(
        "page_triangle_stats",
        page_triangle_stats,
        """
        WITH pg AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS page
            FROM events
        ),
        seq AS (
            SELECT page,
                   lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_page
            FROM pg WHERE page IS NOT NULL
        ),
        ue AS (
            SELECT DISTINCT least(prev_page, page) AS u,
                            greatest(prev_page, page) AS v
            FROM seq WHERE prev_page IS NOT NULL AND prev_page <> page
        ),
        deg AS (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM ue UNION ALL SELECT v FROM ue)
            GROUP BY node
        ),
        tri AS (
            SELECT count(*) AS t
            FROM ue e1
            JOIN ue e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN ue e3 ON e3.u = e1.v AND e3.v = e2.v
        ),
        wd AS (SELECT CAST(coalesce(sum(d * (d - 1)), 0) AS BIGINT) // 2 AS w
               FROM deg)
        SELECT CAST(t AS BIGINT) AS n_triangles,
               CAST(w AS BIGINT) AS n_wedges,
               CASE WHEN w > 0 THEN 3.0 * t / w ELSE 0.0 END
                   AS global_clustering
        FROM tri, wd
        """,
        "exact triangles / wedges / clustering coefficient of the "
        "page-transition graph via the degree-ordered oriented join "
        "(oracle states the node-ordered quadratic form)",
    ),
    QuerySpec(
        "user_page_scd2",
        user_page_scd2,
        """
        WITH pg AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS page
            FROM events
        ),
        lagd AS (
            SELECT user_id, ts, event_id, page,
                   lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_page
            FROM pg WHERE page IS NOT NULL
        ),
        runs AS (
            SELECT user_id, page, ts, event_id
            FROM lagd WHERE page IS DISTINCT FROM prev_page
        )
        SELECT user_id, page, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM runs
        """,
        "SCD Type-2 dimension build: per-user page history as "
        "[valid_from, valid_to) version intervals",
    ),
    QuerySpec(
        "purchase_last_view_asof",
        purchase_last_view_asof,
        """
        WITH vp AS (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_ts
            FROM events WHERE event_type IN ('view', 'purchase')
        )
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts, last_view_ts
        FROM vp WHERE event_type = 'purchase'
        """,
    ),
    QuerySpec(
        "user_journey_match",
        user_journey_match,
        # the identical nested-min cascade: each step is the earliest
        # qualifying event strictly after the previous step and inside
        # the 2-hour horizon from t_view; LEFT joins preserve partial
        # matches with NULL tails
        """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY 1
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click'
              AND e.ts > s1.t_view
              AND e.ts <= s1.t_view + INTERVAL 2 HOUR
            GROUP BY 1
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e
            JOIN s2 USING (user_id)
            JOIN s1 USING (user_id)
            WHERE e.event_type = 'purchase'
              AND e.ts > s2.t_click
              AND e.ts <= s1.t_view + INTERVAL 2 HOUR
            GROUP BY 1
        )
        SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase
        FROM s1
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
        """,
        "per-user ordered view->click->purchase match (2h horizon)",
    ),
    QuerySpec(
        "user_journey_match_gapped",
        user_journey_match_gapped,
        # the identical nested-min cascade with per-step max-gap bounds
        # and strict-absence blocker mins: step k survives only when it
        # lands at-or-before the earliest error strictly after step k-1
        # (an error at exactly t_k is not strictly between); a blocked
        # or missing step NULLs the tail
        """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY 1
        ), b2 AS (
            SELECT e.user_id, min(e.ts) AS blk
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'error' AND e.ts > s1.t_view
            GROUP BY 1
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click'
              AND e.ts > s1.t_view
              AND e.ts <= s1.t_view + INTERVAL 6 DAY
              AND e.ts <= s1.t_view + INTERVAL 2 DAY
            GROUP BY 1
        ), s2v AS (
            SELECT s2.user_id,
                   CASE WHEN b2.blk IS NULL OR s2.t_click <= b2.blk
                        THEN s2.t_click END AS t_click
            FROM s2 LEFT JOIN b2 USING (user_id)
        ), b3 AS (
            SELECT e.user_id, min(e.ts) AS blk
            FROM events e JOIN s2v USING (user_id)
            WHERE e.event_type = 'error' AND e.ts > s2v.t_click
            GROUP BY 1
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e
            JOIN s2v USING (user_id)
            JOIN s1 USING (user_id)
            WHERE e.event_type = 'purchase'
              AND e.ts > s2v.t_click
              AND e.ts <= s1.t_view + INTERVAL 6 DAY
            GROUP BY 1
        ), s3v AS (
            SELECT s3.user_id,
                   CASE WHEN b3.blk IS NULL OR s3.t_purchase <= b3.blk
                        THEN s3.t_purchase END AS t_purchase
            FROM s3 LEFT JOIN b3 USING (user_id)
        )
        SELECT s1.user_id, s1.t_view, s2v.t_click, s3v.t_purchase
        FROM s1
        LEFT JOIN s2v USING (user_id)
        LEFT JOIN s3v USING (user_id)
        """,
        "gap-bounded error-free view->click->purchase match",
    ),
    QuerySpec(
        "purchase_attribution_last_touch",
        purchase_attribution_last_touch,
        # twin last_value IGNORE NULLS windows (ts and page null out on
        # exactly the same rows, so both come from the same last view);
        # strictly-before via the 1-PRECEDING frame, (ts, event_id)
        # order; 30-minute lookback nulls stale credit
        """
        WITH pg AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CAST(json_extract_string(props, '$.k') AS INT) AS page
            FROM events
        ), ann AS (
            SELECT *,
                last_value(CASE WHEN event_type = 'view' AND page IS NOT NULL
                                THEN ts END IGNORE NULLS) OVER w AS t_ts,
                last_value(CASE WHEN event_type = 'view' AND page IS NOT NULL
                                THEN page END IGNORE NULLS) OVER w AS t_page
            FROM pg
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), conv AS (
            SELECT CASE WHEN t_ts >= ts - INTERVAL 30 MINUTE
                        THEN t_page END AS attributed_page,
                   value
            FROM ann WHERE event_type = 'purchase'
        )
        SELECT attributed_page,
               count(*) AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   AS attributed_revenue
        FROM conv GROUP BY 1
        """,
        "last-touch page attribution of purchase revenue (30-min lookback)",
    ),
    QuerySpec(
        "purchase_attribution_position",
        purchase_attribution_position,
        # the join + row_number twin of the window-collect plan:
        # in-lookback strictly-before touches ranked per conversion;
        # the U-shape weight CASE states the identical double
        # expressions (middle share stays (1.0 - 2*0.4)/(n-2), every
        # literal CAST AS DOUBLE — DuckDB parses bare 0.4 as DECIMAL);
        # credits snap to integer micro-units before the sum, so the
        # per-page totals are order-independent and engine-exact
        """
        WITH pg AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CAST(json_extract_string(props, '$.k') AS INT) AS page
            FROM events
        ), conv AS (
            SELECT user_id, ts AS cts, event_id AS ceid, value
            FROM pg WHERE event_type = 'purchase'
        ), touch AS (
            SELECT user_id, ts AS tts, event_id AS teid, page
            FROM pg WHERE event_type = 'view' AND page IS NOT NULL
        ), pairs AS (
            SELECT c.user_id, c.cts, c.ceid, c.value, t.page,
                   row_number() OVER (
                       PARTITION BY c.user_id, c.cts, c.ceid
                       ORDER BY t.tts, t.teid) AS pos,
                   count(*) OVER (
                       PARTITION BY c.user_id, c.cts, c.ceid) AS n
            FROM conv c JOIN touch t ON t.user_id = c.user_id
             AND (t.tts < c.cts OR (t.tts = c.cts AND t.teid < c.ceid))
             AND t.tts >= c.cts - INTERVAL 3 DAY
        ), credits AS (
            SELECT page,
                   CAST(floor(
                       CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE)
                       * CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                              WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
                              ELSE (CAST(1.0 AS DOUBLE)
                                    - 2 * CAST(0.4 AS DOUBLE)) / (n - 2)
                         END * 1000000.0 + 0.5) AS BIGINT) AS cm
            FROM pairs
            UNION ALL
            SELECT NULL AS page,
                   CAST(floor(
                       CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE)
                       * CAST(1.0 AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS cm
            FROM conv c
            WHERE NOT EXISTS (
                SELECT 1 FROM touch t WHERE t.user_id = c.user_id
                 AND (t.tts < c.cts OR (t.tts = c.cts AND t.teid < c.ceid))
                 AND t.tts >= c.cts - INTERVAL 3 DAY
            )
        )
        SELECT page AS attributed_page,
               count(*) AS n_credits,
               CAST(sum(cm) AS DOUBLE) / 1000000.0 AS credited_revenue
        FROM credits GROUP BY 1
        """,
        "position-based multi-touch page attribution (3-day lookback)",
    ),
    QuerySpec(
        "page_backbone_kcore",
        page_backbone_kcore,
        # k-core is an iterative fixpoint no single SQL statement
        # states — rows-only here; the pytest differential rebuilds the
        # backbone in DuckDB and peels it in pure python at two scales
        None,
        "2-core of the mutual-top-3 transition backbone (k-core battery row)",
    ),
]
