"""Mergeable-sketch rollups (Apache DataSketches via Spark 4 built-ins)
— the 100 TB summary pattern: aggregate each fine-grained period ONCE
into a sketch, then answer every coarser rollup by MERGING sketches,
never rescanning raw data.

Why this matters at scale: "distinct users per week/month" computed
exactly needs a full shuffle of (period, user) pairs per granularity —
at 100 TB, each rollup re-reads the corpus.  With sketches the corpus
is read once (per-day HLL/theta/KLL state, kilobytes per period);
weekly, monthly, all-time and any ad-hoc span are sketch merges over a
days-sized frame.  This is also the lakehouse/streaming idiom: persist
the daily sketch column, merge at query time.

All three sketch families here are MERGEABLE summaries with published
error bounds (Apache DataSketches library semantics, exposed as Spark
4 SQL functions):
- HLL (hll_sketch_agg / hll_union_agg): distinct counts, rel. stderr
  ~1.04/sqrt(2^lgConfigK) (~1.6% at the default lgConfigK=12).
- theta (theta_sketch_agg / theta_intersection): distinct counts under
  SET OPERATIONS — intersections give retention/overlap estimates HLL
  cannot express.
- KLL (kll_sketch_agg_* / kll_merge_agg_*): rank/quantile queries with
  a uniform rank-error guarantee (~1.65% at the default k=200).

Every operator here is rows-only at the driver gate BY NATURE: the
estimates are DataSketches-implementation-defined and no ANSI-SQL
engine replays them.  The correctness evidence is therefore the
exact-twin error-bound tests in tests/test_operators.py (the
approx_count_distinct / percentile_approx precedent, SURVEY A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_rollup_hll(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    fine: str = "day",
    coarse: str = "week",
) -> DataFrame:
    """Two-level distinct-count rollup: per-``fine`` HLL sketches, then
    per-``coarse`` estimates by sketch UNION.  Output one row per
    coarse period: (period, approx_distinct, n_fine_periods).

    The raw table is scanned exactly once (the fine aggregate); the
    coarse level aggregates the days-sized sketch frame.
    """
    fine_sk = df.groupBy(F.date_trunc(fine, F.col(ts_col)).alias("_fp")).agg(
        F.hll_sketch_agg(key_col).alias("_sk")
    )
    return (
        fine_sk.groupBy(F.date_trunc(coarse, "_fp").alias("period"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("approx_distinct"),
            F.count(F.lit(1)).alias("n_fine_periods"),
        )
    )


def retention_overlap_theta(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    period: str = "week",
) -> DataFrame:
    """Consecutive-period retention via theta-sketch INTERSECTION:
    for each period, the estimated number of keys active in BOTH the
    previous period and this one — the set operation HLL cannot
    answer.  Output (period, approx_active, approx_retained).

    One scan builds per-period sketches; the lag + intersection run on
    the periods-sized frame (a global window over per-week rows — the
    frame is bounded by the time span, not the corpus).
    """
    per = df.groupBy(F.date_trunc(period, F.col(ts_col)).alias("period")).agg(
        F.theta_sketch_agg(key_col).alias("_sk")
    )
    w = Window.orderBy("period")
    lagged = per.select(
        "period",
        F.theta_sketch_estimate("_sk").alias("approx_active"),
        F.lag("_sk").over(w).alias("_prev"),
        F.col("_sk").alias("_cur"),
    )
    has_prev = F.col("_prev").isNotNull()
    return lagged.select(
        "period",
        "approx_active",
        F.when(
            has_prev,
            F.theta_sketch_estimate(
                F.expr("theta_intersection(_prev, _cur)")
            ),
        ).alias("approx_retained"),
        # churn: keys active LAST period but not this one — the other
        # set operation (a_not_b) HLL cannot express
        F.when(
            has_prev,
            F.theta_sketch_estimate(F.expr("theta_difference(_prev, _cur)")),
        ).alias("approx_churned"),
    )


def quantile_rollup_kll(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    fine: str = "day",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Global quantiles assembled from per-``fine``-period KLL sketches
    (kll_sketch_agg_double per period, kll_merge_agg_double across
    periods) — the mergeable alternative to percentile_approx when the
    per-period state must be PERSISTABLE and re-aggregable (incremental
    ingest: sketch today's partition, merge with yesterday's stored
    sketches).  Output one row: n_periods, total_n, p<50/90/99>.
    """
    fine_sk = df.groupBy(F.date_trunc(fine, F.col(ts_col)).alias("_fp")).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double")).alias("_sk")
    )
    merged = fine_sk.agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.expr("kll_merge_agg_double(_sk)").alias("_m"),
    )
    # guard the extractors: on an EMPTY corpus the merge aggregate
    # yields a null/invalid buffer and kll_sketch_get_* raises
    # KLL_INVALID_INPUT_SKETCH_BUFFER instead of returning NULL
    nonempty = F.col("n_periods") > 0
    cols = [
        F.col("n_periods"),
        F.when(nonempty, F.kll_sketch_get_n_double("_m")).alias("total_n"),
    ]
    for p in percentiles:
        cols.append(
            F.when(
                nonempty, F.kll_sketch_get_quantile_double("_m", F.lit(p))
            ).alias(f"p{int(p * 100)}")
        )
    return merged.select(*cols)


def heavy_hitters(
    items: DataFrame, item_col: str = "item", k: int = 100
) -> DataFrame:
    """EXACT deterministic heavy hitters: every item occurring in
    strictly more than N/k of the N non-null rows, with its exact
    count — via a two-pass Misra–Gries candidate screen, the fourth
    member of the mergeable-summary family (and unlike HLL/theta/KLL,
    oracle-exact: the summaries only PRUNE, the answer is recounted).

    Published design: the Misra–Gries "frequent" algorithm (Misra &
    Gries 1982) with per-partition summaries merged as in Agarwal et
    al., "Mergeable Summaries" (PODS 2012).  Pass 1 keeps at most
    ``k`` weighted counters per task — when capacity is exceeded, the
    (k+1)-th largest count is subtracted from every counter and
    non-positive ones are dropped (the batched decrement; each event
    removes ≥ k+1 units, so an item's undercount is < N_p/(k+1)).
    Guarantee: freq(x) > N/k globally ⇒ in some partition
    freq_p(x) > N_p/k > N_p/(k+1) (averaging), so x survives that
    partition's summary.  Pass 2 recounts ONLY the candidate items
    exactly (broadcast semi-join + map-side-combined groupBy) and
    applies the threshold with pure integer arithmetic
    (freq · k > N — no division, engine-exact).

    Why not a plain groupBy at 100 TB: the full key-space aggregation
    materializes hash state for EVERY distinct item per task (n-gram
    vocabularies run to billions — spill territory); the MG pass is
    O(k) state per task regardless of vocabulary, and the exact pass
    aggregates only rows matching ≤ k·tasks surviving candidates.

    NULL items are excluded from both N and candidacy (the oracle
    convention: WHERE item IS NOT NULL).  Output: (<item_col>, freq),
    independent of partitioning — pinned in tests under adversarial
    repartitioning.

    DETERMINISM CONTRACT: ``items`` is evaluated TWICE (the MG screen +
    N in pass 1, the exact recount in pass 2 — the checkpoint freezes
    only the pass-1 summary, not the input).  A nondeterministic source
    (``sample()`` without a seed, ``rand()``-derived columns, a file
    listing mutating mid-job) can make the recount disagree with N and
    silently void the exactness guarantee.  Persist or checkpoint such
    inputs before calling."""
    import pandas as pd

    m = int(k)
    if m < 1:
        raise ValueError("k must be >= 1")
    strs = items.select(F.col(item_col).cast("string").alias("item"))

    def mg(batches):
        counters: dict = {}
        n = 0
        for pdf in batches:
            s = pdf["item"].dropna()
            n += len(s)
            for item, cnt in s.value_counts().items():
                counters[item] = counters.get(item, 0) + int(cnt)
            if len(counters) > m:
                vals = sorted(counters.values(), reverse=True)
                delta = vals[m]
                counters = {i: c - delta for i, c in counters.items() if c > delta}
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "n_rows": [0] * len(counters) + [n],
            }
        )

    # the summary is tiny (≤ k+1 rows per task); eager-materialize so
    # the candidate list and the row total don't re-run pass 1
    summ = strs.mapInPandas(mg, "item string, n_rows long").localCheckpoint(eager=True)
    cand = (
        summ.filter(F.col("item").isNotNull())
        .select(F.col("item").alias("_hh_item"))
        .distinct()
    )
    total = summ.groupBy().agg(F.sum("n_rows").alias("_n_total"))
    exact = (
        items.filter(F.col(item_col).isNotNull())
        .join(
            F.broadcast(cand),
            F.col(item_col).cast("string") == F.col("_hh_item"),
            "left_semi",
        )
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("freq") * F.lit(m).cast("long") > F.col("_n_total"))
        .select(item_col, "freq")
    )


def windowed_heavy_hitters(
    items: DataFrame,
    ts_col: str,
    item_col: str = "item",
    k: int = 100,
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """EXACT heavy hitters PER TUMBLING EVENT-TIME WINDOW (r15 verdict
    directive #7): for each window, every item occurring in strictly
    more than N_w/k of that window's N_w non-null rows, with its exact
    count — "top items per hour", the shape dashboards ask of a
    frequency summary.  Same two-pass design as ``heavy_hitters`` with
    the Misra–Gries screen keyed by (window, item): pass-1 state is
    O(k · windows-per-task) regardless of vocabulary (the per-window
    guarantee is the per-window instance of the global proof — each
    decrement event inside window w removes ≥ k+1 units of w's mass,
    so freq_w(x) > N_w/k survives some task's summary for w); pass 2
    recounts ONLY the surviving (window, item) candidates exactly and
    applies freq·k > N_w in pure integer arithmetic.

    Window assignment is Spark's own ``F.window`` start
    (epoch-aligned), computed JVM-side before the Arrow pass.
    ``slide`` turns the tumbling windows into SLIDING ones (e.g.
    window="1 hour", slide="15 minutes" — "top items of the last hour,
    refreshed every quarter"): Spark's window generator then emits one
    row per overlapping window (window/slide of them), and since the
    MG screen and the recount both key on (window, item), every
    per-window guarantee carries over verbatim — the only change is
    the row multiplication, so state is O(k · windows · overlap) per
    task and N_w counts each event once per window containing it
    (exactly the per-window groupBy semantics, pinned in tests).
    NULL items are excluded from both N_w and candidacy; rows with
    NULL timestamps carry no window and are excluded with them.
    Output: (window_start, <item_col>, freq) —
    partitioning-independent, pinned in tests.  Shares the determinism
    contract of ``heavy_hitters``: the input lineage is evaluated twice."""
    import pandas as pd

    m = int(k)
    if m < 1:
        raise ValueError("k must be >= 1")
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    assigned = items.filter(
        F.col(ts_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        win.start.alias("window_start"),
        F.col(item_col).cast("string").alias("item"),
    )

    def mg(batches):
        counters: dict = {}  # window -> {item: weight}
        totals: dict = {}  # window -> n rows
        for pdf in batches:
            for win, cnts in (
                pdf.groupby(["window_start", "item"], sort=False)
                .size()
                .groupby(level=0, sort=False)
            ):
                wc = counters.setdefault(win, {})
                totals[win] = totals.get(win, 0) + int(cnts.sum())
                for (_, item), cnt in cnts.items():
                    wc[item] = wc.get(item, 0) + int(cnt)
                if len(wc) > m:
                    vals = sorted(wc.values(), reverse=True)
                    delta = vals[m]
                    counters[win] = {
                        i: c - delta for i, c in wc.items() if c > delta
                    }
        wins, its, ns = [], [], []
        for win, wc in counters.items():
            for item in wc:
                wins.append(win)
                its.append(item)
                ns.append(0)
        for win, n in totals.items():
            wins.append(win)
            its.append(None)
            ns.append(n)
        # explicit dtypes: an empty task would otherwise yield object
        # columns Arrow can't cast to timestamp/long
        yield pd.DataFrame(
            {
                "window_start": pd.Series(wins, dtype="datetime64[us]"),
                "item": pd.Series(its, dtype="object"),
                "n_rows": pd.Series(ns, dtype="int64"),
            }
        )

    summ = assigned.mapInPandas(
        mg, "window_start timestamp, item string, n_rows long"
    ).localCheckpoint(eager=True)
    cand = (
        summ.filter(F.col("item").isNotNull())
        .select(
            F.col("window_start").alias("_hh_win"),
            F.col("item").alias("_hh_item"),
        )
        .distinct()
    )
    totals = summ.filter(F.col("item").isNull()).groupBy("window_start").agg(
        F.sum("n_rows").alias("_n_total")
    )
    exact = (
        assigned.join(
            F.broadcast(cand),
            (F.col("window_start") == F.col("_hh_win"))
            & (F.col("item") == F.col("_hh_item")),
            "left_semi",
        )
        .groupBy("window_start", "item")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.join(F.broadcast(totals), "window_start")
        .filter(F.col("freq") * F.lit(m).cast("long") > F.col("_n_total"))
        .select("window_start", F.col("item").alias(item_col), "freq")
    )
