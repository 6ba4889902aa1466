"""Text analysis over the ``documents`` table.

Capability extension per SURVEY.md §2.11 (the reference's README
promises text/journey analytics it never implements).  Operators are
built-in column expressions running inside whole-stage codegen — with
one deliberate exception: winnowing fingerprints use an Arrow-batched
vectorized-numpy pandas UDF, because the per-char expression form ran
on Catalyst's interpreted evaluator (higher-order functions are
codegen-excluded) and proved JVM-JIT-fragile (see
winnow_fingerprints).  No row-at-a-time Python anywhere.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Small function-word list used for quality scoring. Deliberately tiny
# and hard-coded so the DuckDB oracle can embed the identical set.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Token pattern for BPE-ish counting: runs of word chars OR single
# non-space punctuation — approximates subword tokenizer pre-splitting.
TOKEN_REGEX = r"\w+|[^\w\s]"


def tokens(text: str | Column = "text") -> Column:
    """Whitespace tokens, empty strings removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda x: x != F.lit(""))


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token statistics: count, average token length,
    stopword ratio, punctuation ratio — the quality-scoring features.

    The token array is materialized in a prior projection: the five
    textual uses below would otherwise each re-split the doc
    (tokens() is codegen-excluded — see quality_score_col's note)."""
    df = df.select(F.col(id_col), F.col(text_col), tokens(text_col).alias("_toks"))
    toks = F.col("_toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[\w\s]", ""))
    # raw int/int double divisions: inputs are exact integers, so the
    # result is bit-identical across engines — no rounding needed (and
    # native round() would reintroduce engine-specific .5 behavior).
    # try_divide: a zero-token/empty doc yields NULL ratios instead of
    # an ANSI DIVIDE_BY_ZERO crash (Spark 4 defaults to ANSI mode).
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.try_divide(total_len, n_tokens).alias("avg_token_len"),
        F.try_divide(n_stop.cast("double"), n_tokens).alias("stopword_ratio"),
        F.try_divide(n_punct.cast("double"), F.length(text_col)).alias("punct_ratio"),
    )


def numeric_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-group numeric profile of a corpus — the dataset-statistics
    pass a curation pipeline runs before training: numeric-token
    detection (digit-only tokens, digit-containing tokens, their
    corpus ratio) plus exact-integer-derived moments of the numeric
    document feature (min/max/mean/variance of ``chars_col``).

    Every aggregate is an EXACT integer sum; the double columns are
    single fixed divisions/products of those exact integers, so the
    result is bit-identical across engines (the repo's oracle
    doctrine — no float accumulation order anywhere).  Map-side
    partial aggregation applies (plain sums/min/max), so at 100 TB
    this is one narrow shuffle of one row per (partition, group).

    The synthetic corpus contains zero digit characters, so the
    numeric-token columns are genuinely 0 there (pinned by the gate);
    detection itself is pinned non-trivially on constructed digit
    docs in tests/test_operators.py."""
    per_doc = df.select(
        F.col(group_col),
        F.col(chars_col).cast("long").alias("_nc"),
        tokens(text_col).alias("_toks"),
    ).select(
        group_col,
        "_nc",
        F.size("_toks").cast("long").alias("_nt"),
        F.size(F.filter(F.col("_toks"), lambda x: x.rlike("^[0-9]+$")))
        .cast("long")
        .alias("_num"),
        F.size(F.filter(F.col("_toks"), lambda x: x.rlike("[0-9]")))
        .cast("long")
        .alias("_dig"),
    )
    g = per_doc.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_num").alias("numeric_tokens"),
        F.sum("_dig").alias("digit_tokens"),
        F.min("_nc").alias("min_n_chars"),
        F.max("_nc").alias("max_n_chars"),
        F.sum("_nc").alias("_sc"),
        F.sum(F.col("_nc") * F.col("_nc")).alias("_scsq"),
    )
    mean_chars = F.col("_sc").cast("double") / F.col("n_docs")
    return g.select(
        group_col,
        "n_docs",
        "total_tokens",
        "numeric_tokens",
        "digit_tokens",
        F.try_divide(
            F.col("numeric_tokens").cast("double"),
            F.col("total_tokens").cast("double"),
        ).alias("numeric_ratio"),
        "min_n_chars",
        "max_n_chars",
        mean_chars.alias("avg_n_chars"),
        (F.col("_scsq").cast("double") / F.col("n_docs") - mean_chars * mean_chars)
        .alias("var_n_chars"),
    )


def length_quantiles(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    percentiles: "tuple[int, ...]" = (25, 50, 75, 90, 99),
) -> DataFrame:
    """EXACT per-group quantiles of a numeric document feature — the
    length-distribution profile a curation pipeline reads before
    setting min/max-length filters.  Discrete (type-1) quantiles with
    INTEGER index arithmetic: the p-th percentile is the value at
    1-based rank ceil(p·n/100) = (p·n + 99) // 100 of the
    (value, id)-sorted group, so both engines pick the identical row —
    no floating q·n product whose ulp could flip an index, no
    interpolation.

    Shape: one rank window + one count window per group, then a
    conditional agg — a single exchange on the group key.  Exact
    per-group quantiles inherently order each group; groups here are
    bounded-cardinality sources, and at true corpus scale the serving
    twin is percentile_approx over the same column (t-digest, no
    global sort) — this operator is the audited-exact reference."""
    w = Window.partitionBy(group_col).orderBy(F.col("_v"), F.col(id_col))
    wg = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col).cast("long").alias("_v"),
        F.col(id_col),
    ).select(
        group_col,
        "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    aggs = [F.max("_n").alias("n_docs")]
    for p in percentiles:
        # `div`, not floor(/): pure integer arithmetic end to end, so
        # the rank matches the (p*n + 99) // 100 contract at ANY group
        # size (double division is exact only below ~2^46 docs/group)
        idx = F.expr(f"(cast({int(p)} as bigint) * _n + 99) div 100")
        aggs.append(
            F.max(F.when(F.col("_rn") == idx, F.col("_v"))).alias(f"p{p}")
        )
    return ranked.groupBy(group_col).agg(*aggs)


def length_quantiles_approx(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    percentiles: "tuple[int, ...]" = (25, 50, 75, 90, 99),
    accuracy: int = 10000,
) -> DataFrame:
    """Serving-scale twin of ``length_quantiles`` (the pattern A4 set
    with approx_count_distinct: exact twin gated, approx rows-only):
    ``percentile_approx`` is a Greenwald-Khanna sketch — ONE
    partial-aggregable pass with no per-group sort or window, so at
    corpus scale it map-side combines instead of ordering every group.
    Sketch outputs are engine-specific (not SQL-replayable), so the
    registry entry is rows-only; the differential test bounds its rank
    error vs the exact operator at ≤ n/accuracy + 1 per percentile
    (the GK guarantee).  Column names match the exact twin so the two
    frames diff directly."""
    aggs: "list[Column]" = [F.count(F.lit(1)).alias("n_docs")]
    for p in percentiles:
        aggs.append(
            F.percentile_approx(
                F.col(value_col).cast("long"), F.lit(p / 100.0), F.lit(accuracy)
            ).alias(f"p{p}")
        )
    return df.groupBy(group_col).agg(*aggs)


def quality_score_col(text_col: str = "text", toks: Column | None = None) -> Column:
    """quality_score as a pure COLUMN over the text — composable into a
    projection with zero joins (attaching per-doc features must never
    shuffle the corpus).

    ``toks``: pass an ALREADY-MATERIALIZED token-array column (an
    attribute from a prior projection, not a fresh ``tokens()``
    expression) when combining this with other token-consuming
    expressions in one pass.  ``tokens()`` is split + a higher-order
    filter — codegen-excluded, so Spark evaluates every textual
    occurrence separately (no interpreted-eval CSE); the funnel
    report's quality+lang pass re-tokenized each doc ~8× before r9
    (measured 1.55× end-to-end from sharing one materialized array —
    CollapseProject will not inline a non-cheap multi-referenced
    alias, so a prior-projection attribute is evaluated once)."""
    if toks is None:
        toks = tokens(text_col)
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # try_divide: empty/zero-token docs get NULL ratios (→ both ratio
    # bonuses fall to the otherwise-0 branch, score 0.0) instead of an
    # ANSI DIVIDE_BY_ZERO crash under Spark 4's default mode
    stopword_ratio = F.try_divide(
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double"),
        n_tokens,
    )
    punct_ratio = F.try_divide(
        F.length(F.regexp_replace(F.col(text_col), r"[\w\s]", "")).cast("double"),
        F.length(text_col),
    )
    length_ok = (n_tokens >= 10) & (n_tokens <= 100000)
    return (
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(stopword_ratio >= 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic heuristic quality score in [0,1]: rewards moderate
    length and the presence of function words; penalizes punctuation
    soup.  (Gopher-rules-style filtering, SQL-expressible.)"""
    return df.select(
        F.col(id_col), F.col(text_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        quality_score_col(text_col, toks=F.col("_toks")).alias("quality_score"),
    )


def bpe_ish_token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token count under a subword-style regex (word runs + punctuation
    marks counted separately) — the cheap proxy for tokenizer cost."""
    arr = F.filter(
        F.split(F.regexp_replace(F.col(text_col), TOKEN_REGEX, "$0"), ""),
        lambda x: F.trim(x) != F.lit(""),
    )
    return df.select(F.col(id_col), F.size(arr).alias("bpe_token_count"))


def predicted_lang_col(text_col: str = "text", toks: Column | None = None) -> Column:
    """Language-ID as a pure COLUMN (see quality_score_col — the
    ``toks`` sharing note applies doubly here: five marker filters
    means five re-tokenizations when composed from raw text)."""
    markers = {
        "en": ("the", "and", "of", "is"),
        "es": ("el", "la", "los", "es"),
        "fr": ("le", "la", "les", "est"),
        "de": ("der", "die", "das", "und"),
        "zh": ("的", "是", "了", "我"),
    }
    if toks is None:
        toks = tokens(text_col)
    scores = []
    for lang, ms in markers.items():
        arr = F.array(*[F.lit(m) for m in ms])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id_heuristic(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/marker language-ID heuristic.  Scores each candidate
    language by marker-token hits and picks the argmax (ties → 'und').
    Deterministic and fully columnar; real corpora would swap in a
    trained n-gram table, same plan shape."""
    return df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        predicted_lang_col(toks=F.col("_toks")).alias("predicted_lang"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    context-window sharding step of a training pipeline.  Output
    (doc_id, chunk_idx, chunk_text, chunk_token_cnt); chunk i covers
    tokens [i*stride, i*stride + chunk_tokens).  Pure array
    expressions: sequence → transform(slice) → explode; no UDF, no
    shuffle (the explode is a narrow row multiplier)."""
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("long") + 1, F.lit(1).cast("long")
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.slice(toks, (i * stride + 1).cast("int"), chunk_tokens).alias("_ctoks"),
            ),
        )
    )
    return (
        df.select(F.col(id_col), chunk.alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx"),
            F.concat_ws(" ", F.col("c._ctoks")).alias("chunk_text"),
            F.size("c._ctoks").alias("chunk_token_cnt"),
        )
    )


def fingerprint_md5(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact content fingerprint (md5 hex) — the exact-dedup key."""
    return df.select(F.col(id_col), F.md5(F.col(text_col).cast("binary")).alias("fingerprint"))


def fingerprint_rolling(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Polynomial rolling hash over characters (base 31, Mersenne-prime
    modulus) — order-sensitive document fingerprint computed entirely
    with array expressions (no UDF)."""
    chars = F.split(F.col(text_col), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(2147483647),
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020): per-doc mean
    token log-probability under the corpus's OWN unigram distribution,
    plus perplexity — the filter stage CommonCrawl pipelines run with a
    reference LM, self-trained here so it needs no external model.

    Shape: explode (narrow) → vocab count shuffle → token⋈vocab join
    (AQE broadcast; the vocabulary is the only globally-shared state
    and is bounded by |vocab|, not corpus size) → single-row total via
    the broadcast scalar pattern → per-doc agg.  mean_logprob is
    dround-ed to 6 dp BEFORE exp() so any two engines exponentiate the
    identical double (see plans/llmdata.doc_unigram_logprob's oracle).
    """
    from ..functions import dround

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_count"))
    # total from the vocab-sized counts frame, NOT another toks.agg():
    # toks is uncached, so aggregating it directly would re-tokenize
    # the whole corpus a third time
    total = counts.agg(F.sum("tok_count").alias("_total"))
    logp = F.log(F.col("tok_count").cast("double")) - F.log(F.col("_total").cast("double"))
    per_doc = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dround(F.avg(logp), 6).alias("mean_logprob"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "mean_logprob",
        dround(F.exp(-F.col("mean_logprob")), 6).alias("perplexity"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the doc's own token
    distribution (nats) plus type-token ratio — the lexical-diversity
    quality signal (low entropy ≈ repetitive/boilerplate text, the
    Gopher repetition rules' information-theoretic cousin).

    One identity keeps it a single pass over per-(doc, token) counts:
    H = ln N − (Σ tf·ln tf)/N, so the per-doc agg needs only Σtf and
    Σ tf·ln tf — no join back for N, no second tokenize.  Shape:
    explode (narrow) → (doc, token) count shuffle → per-doc agg; the
    shuffle key is (doc, token), so skew is bounded by a single doc's
    vocabulary at any corpus size.  entropy is dround-ed to 6 dp
    (engines sum the tf·ln tf terms in different orders; the identical
    double then survives the value-hash — the unigram_logprob
    discipline)."""
    from ..functions import dround

    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = F.sum("tf")
    return (
        tf.groupBy(id_col)
        .agg(
            n.alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("tf").cast("double") * F.log(F.col("tf").cast("double"))).alias(
                "_stlt"
            ),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            dround(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("_stlt") / F.col("n_tokens"),
                6,
            ).alias("entropy_nats"),
            # int/int double division of exact integers: bit-identical
            # cross-engine without rounding
            F.try_divide(
                F.col("n_distinct").cast("double"), F.col("n_tokens").cast("double")
            ).alias("type_token_ratio"),
        )
    )


def source_unigram_kl(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source KL divergence (nats) of the source's unigram
    distribution from the whole corpus's — the distribution-drift /
    mixture-health audit a pretraining pipeline runs before weighting
    sources (a source with high KL is lexically unlike the rest; a
    near-zero KL source adds no diversity).

    Everything derives from the ONE (source, token) count frame,
    MATERIALIZED (eager localCheckpoint) because four derivations
    branch off it (corpus counts, corpus total, per-source totals,
    the join spine) — unmaterialized, each branch would re-tokenize
    the whole corpus (measured: 12 exchanges → 3, four corpus passes
    → one).  The frame is (sources × vocab)-sized, orders of
    magnitude below the corpus; per-token corpus counts are a re-agg
    of it, totals are tiny aggs broadcast back.
    KL_s = Σ_t (c_st/T_s)·ln((c_st/T_s)/(c_t/T)); each term is
    assembled from ln() of exact integer counts, summed per source,
    then dround-ed to 6 dp (cross-engine sum-order discipline)."""
    from ..functions import dround

    st = (
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .localCheckpoint(eager=True)
    )
    corpus = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    total = corpus.agg(F.sum("c_t").alias("_t"))
    term = (
        F.col("c_st").cast("double")
        / F.col("_ts")
        * (
            F.log(F.col("c_st").cast("double"))
            - F.log(F.col("_ts").cast("double"))
            - F.log(F.col("c_t").cast("double"))
            + F.log(F.col("_t").cast("double"))
        )
    )
    per_source_totals = st.groupBy(group_col).agg(
        F.sum("c_st").alias("_ts"), F.count(F.lit(1)).alias("n_distinct_tokens")
    )
    return (
        st.join(corpus, "token")
        .join(F.broadcast(per_source_totals), group_col)
        .crossJoin(F.broadcast(total))
        .groupBy(group_col, "_ts", "n_distinct_tokens")
        .agg(F.sum(term).alias("_kl"))
        .select(
            group_col,
            F.col("_ts").alias("n_tokens"),
            "n_distinct_tokens",
            dround(F.col("_kl"), 6).alias("kl_nats"),
        )
    )


def _word_grams(toks: Column, n: int) -> Column:
    """Space-joined word ``n``-grams of a token array, one per start
    position — the ONE copy of the gram expression shared by
    ``repeated_ngrams`` and ``dup_span_stats`` (and mirrored by their
    DuckDB oracles), so the tokenization/join-delimiter contract can't
    silently fork."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def _dup_spans(base: DataFrame, min_docs: int, n: int) -> DataFrame:
    """(_id, _ntok, _pos, _end) rows — one per position of a word
    ``n``-gram appearing in ≥ ``min_docs`` distinct documents; the span
    covers tokens [_pos, _end], 0-based.  ``base`` is the persisted
    gram index (``_id``, ``_ntok``, ``_pos``, ``gram``) built by
    ``dup_islands``: it feeds BOTH the doc-frequency aggregate and the
    join probe here, which is exactly why the caller persists it (the
    ngram_jaccard/winnow doc-level-persist discipline — without it the
    whole gram pipeline evaluates three times, measured ~2×
    end-to-end)."""
    hot = (
        base.select("_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gram")
    )
    return base.join(hot, "gram").select(
        "_id", "_ntok", "_pos", (F.col("_pos") + F.lit(n - 1)).alias("_end")
    )


def dup_islands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Disjoint merged intervals of the cross-document duplicated
    spans — gaps-and-islands over a per-document window.
    (_id, _ntok, _start, _end), one row per maximal covered run of
    tokens.  This is the shared substrate of ``dup_span_stats`` (the
    signal: sums coverage) and ``trim_dup_spans`` (the action:
    anti-joins token positions).  Merged intervals keep the trim join
    O(tokens × islands) per doc instead of O(tokens × gram positions)
    on boilerplate-heavy docs.

    The returned frame is EAGERLY MATERIALIZED via localCheckpoint —
    the gram index persist below must not outlive this call, and the
    compact interval list is far smaller than the raw span set.  Two
    caveats of that mechanism, deliberate trade-offs here:
    - the checkpoint blocks are non-reliable: if an executor holding
      them dies, downstream actions fail WITHOUT lineage to recompute
      — rerun the job (acceptable for a batch curation step; a
      multi-hour consumer should write the islands to parquet
      instead);
    - the blocks are freed when the returned DataFrame is
      garbage-collected, so a caller sharing it across several
      actions should drop the reference promptly when done."""
    # tokens materialized as a COLUMN before _word_grams (r18
    # optimization round): passed as an inline expression, the
    # per-position slice lambda re-evaluated the full tokenize once
    # PER GRAM POSITION (no CSE inside lambda bodies — the same class
    # as the int8_quant_error fix)
    toked = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).filter(F.size("_toks") >= n)
    base = (
        toked.select(
            "_id",
            F.size("_toks").alias("_ntok"),
            F.posexplode(_word_grams(F.col("_toks"), n)).alias("_pos", "gram"),  # 0-based
        )
        .persist()
    )
    try:
        spans = _dup_spans(base, min_docs, n)
        w = Window.partitionBy("_id").orderBy("_pos")
        prev_max_end = F.max("_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
        numbered = spans.withColumn(
            "_new",
            F.when(F.col("_pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
        ).withColumn(
            "_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        return (
            numbered.groupBy("_id", "_ntok", "_island")
            .agg(F.min("_pos").alias("_start"), F.max("_end").alias("_end"))
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def trim_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The ACTION paired with ``dup_span_stats``'s signal: rewrite each
    document with every cross-document duplicated ``n``-gram span
    removed (C4-style boilerplate excision), keeping the tokens no
    duplicated span covers.  Documents shorter than ``n`` tokens or
    with no duplicated span pass through intact.  Output text is
    whitespace-NORMALIZED (kept tokens re-joined with single spaces) —
    the shape a tokenizer-bound training pipeline consumes anyway.

    Output: (id, n_tokens, kept_tokens, text_clean); kept_tokens == 0
    yields an empty string (callers typically drop those rows).

    Scale shape: token positions anti-join the span intervals per
    document (equi on doc id + range predicate — never a cross-doc
    pair join), then one ordered re-assembly per doc via
    sort-by-position array fold; all shuffles key on the doc id."""
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(toks).alias("_tpos", "_tok"),
    )
    islands = dup_islands(df, id_col, text_col, n, min_docs).select(
        F.col("_id").alias("_sid"), "_start", "_end"
    )
    kept = base.join(
        islands,
        (F.col("_id") == F.col("_sid"))
        & (F.col("_tpos") >= F.col("_start"))
        & (F.col("_tpos") <= F.col("_end")),
        "left_anti",
    )
    kept_agg = kept.groupBy("_id").agg(
        F.collect_list(F.struct("_tpos", "_tok")).alias("_kept")
    )
    # right-join the doc universe so fully-trimmed / empty / null-text
    # docs still emit a row (kept_tokens 0, empty text_clean)
    universe = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("_ntok"),
    )
    return kept_agg.join(universe, "_id", "right").select(
        F.col("_id").alias(id_col),
        F.col("_ntok").alias("n_tokens"),
        F.coalesce(F.size("_kept"), F.lit(0)).cast("long").alias("kept_tokens"),
        F.coalesce(
            F.array_join(F.transform(F.array_sort("_kept"), lambda s: s["_tok"]), " "),
            F.lit(""),
        ).alias("text_clean"),
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage — the word-level
    approximation of exact-substring train-set dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of its tokens covered by at least one
    word ``n``-gram that also appears in ≥ ``min_docs`` distinct
    documents.  High fractions mark boilerplate-dominated docs a
    curation pipeline drops or trims; only docs with ≥1 duplicated
    span are returned (the actionable list).

    Output: (id, n_tokens, dup_tokens, dup_span_fraction) — the
    fraction double-rounded to 6 places so the DuckDB oracle is
    bit-exact.

    Scale shape: positions ride the SAME inverted index as
    ``repeated_ngrams`` (posexplode ≈ tokens-per-doc rows); the hot
    list (doc-freq ≥ min_docs over a per-doc-distinct map-side
    pre-agg) is a gram-keyed semi-joinable frame, NOT a collect; the
    interval union is gaps-and-islands over a per-document window —
    partitions bounded by document length, embarrassingly parallel
    across docs, no global sort.  No pair joins anywhere."""
    from ..functions import dround

    per_island = dup_islands(df, id_col, text_col, n, min_docs).select(
        "_id", "_ntok", (F.col("_end") - F.col("_start") + 1).alias("_cov")
    )
    return (
        per_island.groupBy("_id", "_ntok")
        .agg(F.sum("_cov").alias("dup_tokens"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_ntok").cast("long").alias("n_tokens"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            dround(
                F.col("dup_tokens").cast("double") / F.col("_ntok").cast("double"), 6
            ).alias("dup_span_fraction"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty — the inverse of the dup-span
    signal: the fraction of a doc's DISTINCT word ``n``-grams that
    appear in no other document.  High novelty marks content worth
    keeping through aggressive dedup; low novelty without high
    dup-span coverage marks diffuse paraphrase-style overlap the
    span operators can't see.  Docs shorter than ``n`` tokens are
    absent (no grams to score).

    Output: (id, n_grams, novel_grams, novelty) with novelty
    double-rounded to 6 places for oracle bit-exactness.

    Scale shape: the same inverted-index discipline as the other gram
    operators — per-doc-distinct gram explode, one doc-freq hash agg
    (map-side combined), a gram-keyed join back, one per-doc agg.  No
    pair joins, no collect; every shuffle keys on gram or doc id.
    The gram index feeds both the doc-freq aggregate and the join
    probe, so the tokenize+explode subtree evaluates twice —
    DELIBERATELY left unpersisted: a persist + eager-checkpoint
    variant measured 1.67 s vs 1.34 s at sf0.1 (the index cache write
    costs more than recomputing the cheap narrow map work — the same
    measured trade-off as ``minhash_lsh_candidates``'s not-persisted
    note; contrast ``dup_islands``, whose 8-gram pipeline is heavy
    enough that persisting wins)."""
    from ..functions import dround

    # tokens as a column first — see dup_islands (the per-position
    # retokenize trap); measured 1.35 → 1.05 s warm at sf0.1
    grams = (
        df.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            "_id",
            F.explode(F.array_distinct(_word_grams(F.col("_toks"), n))).alias("gram"),
        )
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    return (
        grams.join(dfreq, "gram")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("_df") == 1).cast("bigint")).cast("long").alias("novel_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "novel_grams",
            dround(
                F.col("novel_grams").cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("novelty"),
        )
    )


def repeated_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    k: int = 20,
) -> DataFrame:
    """Cross-document repeated n-gram spans — boilerplate mining (the
    'remove any span seen in many documents' pre-step of C4-style
    cleaning).  Returns the top-k word n-grams by distinct-document
    count.

    Scale shape: the explode IS the inverted index (≈ tokens-per-doc
    rows), but per-doc DISTINCT runs map-side before the global gram
    aggregate, the ``min_docs`` HAVING prunes the long unique tail
    during the partial agg, and top-k is TakeOrderedAndProject — no
    global sort, no pair join.  All columnar (split/transform/slice),
    no UDFs."""
    # (_id, gram) is already unique here — array_distinct dedups grams
    # within the one row each doc contributes — so no .distinct(): it
    # would re-shuffle the largest intermediate for nothing.  Callers
    # must pass a unique id_col (a duplicated id would double-count).
    # tokens as a column first — see dup_islands (the per-position
    # retokenize trap).
    per_doc = (
        df.select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            "_id",
            F.explode(F.array_distinct(_word_grams(F.col("_toks"), n))).alias("gram"),
        )
    )
    return (
        per_doc.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_cnt"))
        .filter(F.col("doc_cnt") >= min_docs)
        .orderBy(F.col("doc_cnt").desc(), F.col("gram"))
        .limit(k)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every ``k``-char gram with the repo's
    portable polynomial rolling hash (base 31 mod 2^31−1 — the same
    hash ``fingerprint_rolling`` uses, so the DuckDB oracle reproduces
    it bit-for-bit, unlike xxhash-based fingerprints), then keep the
    MINIMUM hash of every ``w``-window of consecutive gram hashes.
    The distinct minima are the fingerprint set: any shared substring
    of length ≥ k+w−1 between two documents is guaranteed to share at
    least one fingerprint — the local-fingerprint dedup/plagiarism
    primitive.

    Docs shorter than k+w−1 chars produce no fingerprints and are
    omitted.  Output: (id, ``fingerprints`` array<long>) — explode for
    an inverted index, or summarize scalar-wise.  The fingerprint array
    is sorted-distinct (set semantics; every consumer here summarizes
    or explodes, and the property test compares sets).

    Scale shape: an Arrow-batched pandas UDF running a fully vectorized
    numpy kernel per document — O(len·(k+w)) int64 work with NO
    per-element interpretation.  This replaced the r4-r7 pure-expression
    form (shifted slices folded with zip_with): higher-order array
    functions (transform/zip_with/slice-fold) are excluded from
    whole-stage codegen, so that form ran on Catalyst's INTERPRETED
    expression evaluator — ~13M boxed lambda evaluations for the sf0.1
    corpus — and its wall-time proved JVM-JIT-fragile: 2.4s on the r7
    JDK, 8–10s on JDK 17.0.20 (r8), identical code and data.  The
    vectorized kernel is ~0.3s and JIT-independent; per-char work at
    corpus scale belongs in Arrow/numpy, not an interpreted expression
    tree.  (The r4 lesson still documented in dedup._shingle_array —
    never nested transform(sequence(...)) lambdas, O(len²·k) — applies
    to any expression-side fallback.)

    Hash parity: numpy int64 is exact here — codes < 2^21 (max Unicode
    codepoint), so acc*31+c < 2^31·31 + 2^21 < 2^36 never overflows,
    and utf-32-le decoding yields exactly Python's ord() per character
    = Spark's ascii() = DuckDB's ord(), keeping the oracle bit-exact."""
    import numpy as np

    mod = 2147483647

    def _fp_of(text: str) -> "np.ndarray":
        # "<u4" pins little-endian to match the utf-32-le encoding on
        # any host byte order (np.uint32 would misread on big-endian)
        codes = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.int64)
        m = codes.size - (k - 1)
        kh = codes[:m] % mod
        for j in range(1, k):
            kh = (kh * 31 + codes[j : j + m]) % mod
        mw = m - (w - 1)
        wm = kh[:mw].copy()
        for j in range(1, w):
            np.minimum(wm, kh[j : j + mw], out=wm)
        return np.unique(wm)

    @F.pandas_udf("array<long>")
    def _winnow_udf(texts: pd.Series) -> pd.Series:
        return texts.map(_fp_of)

    return df.filter(F.length(F.col(text_col)) >= k + w - 1).select(
        F.col(id_col), _winnow_udf(F.col(text_col)).alias("fingerprints")
    )


def winnow_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_overlap: float = 0.5,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint overlap — the
    oracle-checkable alternative to MinHash (portable hash, exact
    overlap counts; MinHash trades exactness for fixed-size
    signatures).  Pair score = |shared fingerprints| / min(|A|, |B|);
    pairs at or above ``min_overlap`` are returned as
    (doc_a < doc_b, shared, overlap).

    Scale shape: the DOC-LEVEL-persist discipline of
    ``dedup.ngram_jaccard_pairs`` (its round-4 rework — see that
    docstring for the measurements): the per-doc fingerprint arrays
    (the expensive O(len·(k+w)) char-hash work) are computed ONCE into
    a persisted one-row-per-doc frame; the hot-fingerprint cap is
    collected from it and applied as an ``array_except`` projection
    (distributed anti-join fallback for a pathological list); per-doc
    sizes are ``size(array)`` projections riding THROUGH the self-join
    and out of the pair aggregation (min) — no groupBy-on-id shuffle,
    no post-join size joins.  Never an all-pairs join; the pair list
    is materialized eagerly so no cache entry outlives the call."""
    from .dedup import _HOT_LIST_EXPR_CAP

    doc_cached = winnow_fingerprints(df, id_col, text_col, k, w).select(
        F.col(id_col).alias("_id"), F.col("fingerprints").alias("_fp")
    ).persist()
    doc = doc_cached
    try:
        if max_doc_freq is not None:
            hot_rows = (
                doc.select(F.explode("_fp").alias("fp"))
                .groupBy("fp")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_doc_freq)
                .select("fp")
                .limit(_HOT_LIST_EXPR_CAP + 1)
                .collect()
            )
            if len(hot_rows) > _HOT_LIST_EXPR_CAP:
                raw = doc.select("_id", F.explode("_fp").alias("fp"))
                hot = (
                    raw.groupBy("fp")
                    .agg(F.count(F.lit(1)).alias("_df"))
                    .filter(F.col("_df") > max_doc_freq)
                    .select("fp")
                )
                capped = raw.join(F.broadcast(hot), "fp", "left_anti")
                sizes = capped.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
                ds = capped.join(sizes, "_id").select("_id", "_n", "fp")
            else:
                if hot_rows:
                    hot_lit = F.array(*[F.lit(int(r[0])) for r in hot_rows])
                    doc = doc.withColumn("_fp", F.array_except("_fp", hot_lit))
                ds = doc.select(
                    "_id", F.size("_fp").alias("_n"), F.explode("_fp").alias("fp")
                )
        else:
            ds = doc.select(
                "_id", F.size("_fp").alias("_n"), F.explode("_fp").alias("fp")
            )
        a, b = ds.alias("a"), ds.alias("b")
        pairs = (
            a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
            .agg(
                F.count(F.lit(1)).alias("shared"),
                F.min("a._n").alias("_na"),
                F.min("b._n").alias("_nb"),
            )
            .withColumn(
                "overlap",
                F.col("shared").cast("double") / F.least("_na", "_nb").cast("double"),
            )
            .filter(F.col("overlap") >= min_overlap)
            .select("doc_a", "doc_b", "shared", "overlap")
        )
        return pairs.localCheckpoint(eager=True)
    finally:
        doc_cached.unpersist()
