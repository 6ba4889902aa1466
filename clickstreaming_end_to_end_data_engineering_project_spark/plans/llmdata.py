"""Training-data pipeline queries over ``documents`` / ``embeddings``:
deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity
search (brute-force + LSH), and text analysis (token stats, quality,
language-ID, fingerprints).

Hash-dependent operators (MinHash/SimHash/LSH use Spark's xxhash64)
have no DuckDB twin → rows-only specs; everything else is
oracle-checked, including the double-precision cosine (both sides fold
the dot product left-to-right in doubles → bit-identical)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, sql_snippets
from ..operators import (
    components,
    dedup,
    kmeans,
    retrieval,
    sampling,
    similarity,
    sketches,
    text,
    vecexpr,
)
from ..sources.tables import load
from .registry import QuerySpec

STOP_SQL = ", ".join(f"'{s}'" for s in text.STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned to the session's parallelism ONLY when
    the parquet scan yields fewer splits than cores.  For the
    char-level heavyweights (winnowing fingerprints, gram mining) the
    map work is 10-100× the cost of one pass over the text bytes, so
    when the fixture is a single small file (one input split) the
    repartition trades one narrow shuffle for full-core map
    parallelism.  At corpus scale the scan arrives in thousands of
    splits, the condition is false, and this is exactly ``_docs`` —
    no shuffle is ever added to a well-split input."""
    df = _docs(spark, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "embeddings")


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir))


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


def doc_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source numeric profile (r12 queue): digit-token detection
    plus exact-integer moments of n_chars.  See
    operators/text.py:numeric_profile for the bit-exactness doctrine
    and the zero-digit-corpus calibration note."""
    return text.numeric_profile(_docs(spark, sf_dir))


def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EXACT n_chars quantiles (p25/p50/p75/p90/p99) — the
    length-distribution profile before min/max-length filtering; see
    operators/text.py:length_quantiles for the integer-exact index
    discipline (rank (p·n+99)//100, no float q·n, no interpolation)."""
    return text.length_quantiles(_docs(spark, sf_dir))


def source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication health (r13 queue): how much of
    each source is byte-identical boilerplate — the first number a
    mixture owner reads before weighting sources, and the rollup of
    the doc-level `exact_dup_docs` signal.  A doc counts as duplicated
    when its md5 fingerprint appears ≥2 times CORPUS-WIDE (cross-source
    dups count for both sources — that is the point of the audit).

    Shape: one md5 projection, one count per fingerprint (map-side
    combinable), one broadcast-sized join back on the fingerprint, one
    per-source agg — two narrow shuffles, no text comparison, no pair
    join.  dup_rate is dround(6) for cross-engine bit-exactness."""
    from ..functions import dround

    docs = _docs(spark, sf_dir)
    fp = docs.select(
        "source", F.md5(F.col("text").cast("binary")).alias("_fp")
    )
    # group sizes over NON-NULL fingerprints only, and LEFT join back:
    # an inner join would silently drop NULL-text docs from n_docs
    # (equi-join semantics), and a NULL fingerprint must never count
    # as duplicated (the exact_dup_docs convention)
    sizes = (
        fp.filter(F.col("_fp").isNotNull())
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_gsz"))
    )
    return (
        fp.join(sizes, "_fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_gsz") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "dup_docs",
            dround(
                F.col("dup_docs").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
        )
    )


def doc_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-scale twin of doc_length_quantiles (rows-only): a
    percentile_approx Greenwald-Khanna sketch — one partial-aggregable
    pass, no per-group ordering, the shape that survives a 100 TB
    corpus where the exact operator's per-group sort would not.  Same
    column names as the exact twin; the differential test bounds its
    rank error per percentile (operators/text.py:length_quantiles_approx)."""
    return text.length_quantiles_approx(_docs(spark, sf_dir))


def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc lexical entropy + type-token ratio (r13 queue) — see
    operators/text.py:token_entropy for the single-pass identity and
    the dround discipline; the oracle mirrors it term-for-term."""
    return text.token_entropy(_docs(spark, sf_dir))


def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution
    (r13 queue) — the mixture-health / distribution-drift audit; see
    operators/text.py:source_unigram_kl."""
    return text.source_unigram_kl(_docs(spark, sf_dir))


def lang_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5-per-language weighted sample, long docs favored
    (r17 queue) — Efraimidis–Spirakis A-Res over the content-
    deterministic Knuth uniform (operators/sampling.weighted_reservoir):
    the fixed-size stratified eval-set draw the Bernoulli sampler
    (doc_quality_weighted_sample) cannot guarantee.  Oracle replays
    the identical key construction; pow is dround(12)-ed with id
    tiebreak, the ln()/idf discipline."""
    return sampling.weighted_reservoir(
        _docs(spark, sf_dir), ["lang"], k=5, weight_col="n_chars"
    )


# similarity.knuth_key's DuckDB twin over doc_id (the _PQ_ANCHOR_CTES
# expression verbatim, retargeted from vec_id)
_KNUTH_DOC_SQL = (
    "((((doc_id % 65536) + 65536) % 65536 * 2654435761) % 4294967296"
    " + ((((doc_id >> 16) % 65536) + 65536) % 65536 * 2654435761"
    " % 4294967296) * 65536) % 4294967296"
)


# fixed bag-of-terms query for the retrieval queries (mid-frequency
# corpus vocabulary — every term exists at every sf)
_BM25_TERMS = ["spark", "stream", "hash", "dup"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for a fixed bag-of-terms query (r17
    queue) — the lexical-retrieval half of the search stack
    (operators/retrieval.py; the vector half is the ANN family).
    Oracle-exact: idf dround(12) after ln, every SQL literal CAST AS
    DOUBLE, per-doc sum dround(6), id tiebreak."""
    return retrieval.bm25_topk(
        _docs(spark, sf_dir), _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_sql(terms: list[str], k1: float, b: float) -> str:
    """DuckDB CTE chain ending in scores(doc_id, n_matched_terms,
    bm25_score) — the literal-for-literal twin of retrieval.bm25_topk
    (constants computed in Python once, CAST AS DOUBLE in SQL).
    Bag-of-terms semantics match the operator (r12 advisory): the qtf
    CTE carries each distinct term's query frequency and scales its
    contribution — the parenthesization ``_qtf * ({part})`` mirrors
    Spark's ``F.col("_qtf") * part`` exactly so the product associates
    identically in both engines."""
    from collections import Counter

    counts = Counter(terms)
    termlist = ", ".join(f"'{t}'" for t in counts)
    qtf_rows = ", ".join(
        f"('{t}', CAST({float(n)!r} AS DOUBLE))" for t, n in counts.items()
    )
    idf = sql_snippets.dround(
        "ln(CAST(1.0 AS DOUBLE) + (_N - _df + CAST(0.5 AS DOUBLE))"
        " / (_df + CAST(0.5 AS DOUBLE)))",
        12,
    )
    part = (
        f"_qtf * ({idf} * (_tf * CAST({k1 + 1.0!r} AS DOUBLE))"
        f" / (_tf + CAST({k1!r} AS DOUBLE) * (CAST({1.0 - b!r} AS DOUBLE)"
        f" + CAST({b!r} AS DOUBLE) * _dl / _avgdl)))"
    )
    return f"""
        dl AS (
            SELECT doc_id, len({_TOKENS_SQL}) AS _dl FROM documents
        ),
        dlp AS (SELECT * FROM dl WHERE _dl > 0),
        corpus AS (
            SELECT count(*) AS _N,
                   CAST(sum(_dl) AS DOUBLE) / count(*) AS _avgdl
            FROM dlp
        ),
        qtf AS (SELECT * FROM (VALUES {qtf_rows}) AS q(_t, _qtf)),
        matched AS (
            SELECT doc_id, _t, count(*) AS _tf
            FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS _t FROM documents)
            WHERE _t IN ({termlist})
            GROUP BY 1, 2
        ),
        dft AS (SELECT _t, count(*) AS _df FROM matched GROUP BY 1),
        scores AS (
            SELECT m.doc_id,
                   CAST(count(*) AS BIGINT) AS n_matched_terms,
                   {sql_snippets.dround(f"sum({part})", 6)} AS bm25_score
            FROM matched m
            JOIN dft USING (_t)
            JOIN qtf USING (_t)
            JOIN dlp USING (doc_id)
            CROSS JOIN corpus
            GROUP BY 1
        )"""


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (r17 queue): BM25 top-20 and embedding-cosine
    top-20 (query = vec_id 0, the embedding_topk_cosine convention)
    fused by reciprocal-rank fusion into a final top-10 — keyword
    recall + semantic recall with no score calibration (Cormack 2009).
    RRF arithmetic is single divisions of exact integers, so the fused
    scores are oracle-bit-exact with no rounding."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    lex = retrieval.bm25_topk(docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)
    lex_r = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    sem = similarity.brute_force_topk(embs, query_vec_id=0, k=20)
    sem_r = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .alias("rank"),
    )
    return retrieval.rrf_fuse([lex_r, sem_r], k=10)


def hybrid_search_rrf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered hybrid retrieval (r16 queue — the r15 filtered-ANN
    theme composed with the retrieval stack): BM25 top-20 among
    ENGLISH documents + embedding-cosine top-20 among English-doc
    vectors, RRF-fused into a top-10.  The BM25 leg uses Lucene's
    filtered-query semantics (collection-wide N/avgdl/df — an eligible
    doc scores identically with and without the filter; only the
    ranking pool shrinks, via a semi-join BEFORE the top-k), and the
    semantic leg reuses the embedding_topk_doc_filtered shape."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    lex = retrieval.bm25_topk(
        docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B,
        eligible=F.col("lang") == "en",
    )
    lex_r = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    en_ids = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id")
    )
    q = embs.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    sem = (
        embs.filter(F.col("vec_id") != 0)
        .join(F.broadcast(en_ids), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(vecexpr.cosine("embedding", "_qvec")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(20)
    )
    sem_r = sem.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .alias("rank"),
    )
    return retrieval.rrf_fuse([lex_r, sem_r], k=10)


def doc_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination ACTION (r16 queue — the removal paired
    with the doc_split_contamination signal, in the direction real
    pipelines apply it): the benchmark (test split) is immutable, so
    TRAIN docs sharing too many 8-gram shingles with the test
    vocabulary are dropped before training (Brown et al. 2020 App. C
    uses 13-grams; Gopher/Lee et al. filter train-side the same way).
    8-grams, not the trigrams the doc_split_contamination SIGNAL uses:
    short-shingle vocabularies SATURATE as the eval set grows (at
    sf0.1 the trigram overlap floor across all train docs is 0.53 —
    every doc would be dropped at any sane threshold), while 8-gram
    overlap stays near zero except for genuine near-dups at every
    scale (median 0.0 / max 1.0 at sf0.001-0.1).  Output: the
    SURVIVING train corpus — every doc at or under the 0.5 threshold,
    with its exact contamination fraction (0.0 when it shares
    nothing); the dropped docs are exactly the train rows absent from
    the result.  Returning the survivors (not an all-rows keep-flag
    report) is what the name promises AND what keeps the benchmark
    honest: a keep-flag left join under a count() action let Catalyst
    ELIMINATE the join entirely (the contamination side is unique per
    doc id, so count(left join) = count(train)) and the recorded
    timing never ran the shingle pipeline — the surviving-corpus
    filter references the joined column, so every action pays for the
    real work.  The test shingle VOCABULARY (distinct shingles, far
    smaller than the (doc, shingle) index) is built once and joined
    against the train index — at corpus scale the vocabulary persists
    and is reused across training runs."""
    split = sampling.train_test_split(_docs(spark, sf_dir), "doc_id")
    train = split.filter(F.col("split") == "train")
    evals = split.filter(F.col("split") == "test")
    cont = dedup.ngram_contamination(evals, train, n=8).select(
        "doc_id", "contamination"
    )
    return (
        train.join(cont, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contamination", F.lit(0.0)).alias("contamination"),
        )
        .filter(F.col("contamination") <= F.lit(0.5))
    )


def source_len_token_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson correlation of n_chars vs whitespace token
    count (r16 queue) — the tokenization-density consistency check: a
    source whose char/token relationship decorrelates from the rest
    has different scripts, markup, or tokenizer behavior and needs its
    own token-budget accounting.  One grouped aggregate of six exact
    integer sums (operators/stats.group_corr); sqrt is IEEE
    correctly-rounded so the oracle matches bit-for-bit."""
    from ..operators.stats import group_corr

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    d = docs.select(
        "source", "n_chars", F.size(text.tokens("text")).alias("_n_tokens")
    )
    out = group_corr(d, ["source"], "n_chars", "_n_tokens")
    return out.select(
        "source",
        F.col("n_points").alias("n_docs"),
        F.col("corr").alias("corr_len_tokens"),
    )


def doc_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score via applyInPandas grouped-map (rows-only:
    pandas float accumulation differs from SQL engines; differential
    vs the expression twin is pinned in test_operators)."""
    from ..operators.groupedmap import normalize_per_group

    return normalize_per_group(_docs(spark, sf_dir))


def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-offset sharding for training data: docs in deterministic
    id order are assigned the 2048-token-granularity bin their START
    offset falls in (a doc straddling a boundary stays whole in its
    starting bin, so bin totals can exceed 2048 by up to one doc —
    callers needing hard capacity limits split docs first).  One
    analytic window ordered by id; at corpus scale, partition the
    window by a shard key (hash(doc_id) % n_shards)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    n_tok = F.size(text.tokens("text"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    with_cum = docs.select(F.col("doc_id"), n_tok.alias("n_tokens")).withColumn(
        "_cum", F.sum("n_tokens").over(w)
    )
    return with_cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / 2048).cast("long").alias("pack_bin"),
    )


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_ish_token_count(_docs(spark, sf_dir))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id_heuristic(_docs(spark, sf_dir))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_md5(_docs(spark, sf_dir))


def doc_fingerprints_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_rolling(_docs(spark, sf_dir))


def lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def word_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + count + deterministic top-k over the corpus vocab."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(text.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_count"))
        .orderBy(F.col("word_count").desc(), F.col("word"))
        .limit(20)
    )


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020; the
    perplexity-filter stage every CommonCrawl pipeline runs) — see
    operators/text.unigram_logprob for the plan-shape and determinism
    notes; the oracle below mirrors it term-for-term."""
    return text.unigram_logprob(_docs(spark, sf_dir))


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (ln(N/df) idf) — keyword
    extraction for corpus browsing/labeling.  Shape: per-(doc,token)
    count shuffle, vocab-sized doc-frequency agg joined back (AQE
    broadcast), single-row N broadcast, then a row_number window
    partitioned by doc_id — partition cardinality is per-doc vocab,
    so no skew at corpus scale.

    Determinism: tfidf is dround-ed to 6 dp BEFORE ranking so both
    engines rank identical doubles (mathematically-tied scores — e.g.
    tf=1,df=N/4 vs tf=2,df=N/2 — would otherwise flip on sub-ulp libm
    differences); remaining ties break on the token string."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            dround(
                F.col("tf").cast("double")
                * (F.log(F.col("_n").cast("double")) - F.log(F.col("df").cast("double"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


def exact_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_docs(spark, sf_dir))


# Shingles appearing in more than this many documents are dropped
# before the inverted-index self-join: the join is quadratic in the
# hottest shingle's doc-frequency, so boilerplate shingles (licence
# headers, templates) are the scale-killer at corpus size.  50 is far
# above the fixture corpora's maxima (9 / 7 / 25 at sf0.001/0.01/0.1 —
# pinned by test_jaccard_cap_is_invisible_at_fixture_scale), so test
# results are unchanged; the oracle SQL applies the identical cap so
# the queries stay hash-exact at ANY scale.
MAX_SHINGLE_DOC_FREQ = 50


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher/C4-style quality rule): the
    fraction of trigram slots occupied by repeats of an earlier
    trigram.  0 = no repetition.  Pure array expressions; docs shorter
    than 3 tokens score 0."""
    docs = _docs(spark, sf_dir)
    toks = text.tokens("text")
    m = F.size(toks) - 2
    parts = [F.slice(toks, j + 1, m) for j in range(3)]
    tri = F.zip_with(
        F.zip_with(parts[0], parts[1], lambda a, b: F.concat_ws(" ", a, b)),
        parts[2],
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    rep = F.when(
        F.size(toks) >= 3,
        (F.size(tri) - F.size(F.array_distinct(tri))).cast("double") / F.size(tri),
    ).otherwise(F.lit(0.0))
    return docs.select("doc_id", rep.alias("repetition_ratio"))


def doc_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-5-token prefix dedup: catches shared boilerplate openings
    (the fixture corpus has none of the byte-identical duplicates
    exact_dup_docs screens for below sf0.1, but template openings occur
    at every scale)."""
    return dedup.prefix_dup_groups(_docs(spark, sf_dir), k=5)


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs_parallel(spark, sf_dir), threshold=0.2, max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )


def ngram_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair Jaccard distribution (10 integer bins) — the
    calibration table behind ngram_jaccard_dups' 0.2 threshold: run
    this FIRST on a new corpus to see whether near-dup mass separates
    from incidental overlap before committing to a cut."""
    return dedup.ngram_jaccard_histogram(
        _docs_parallel(spark, sf_dir), max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical-per-cluster
    (iterative label propagation)."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs_parallel(spark, sf_dir), threshold=0.2, max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )
    return components.dup_clusters(pairs)


def doc_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: dup-cluster members inherit the
    cluster representative's split so near-duplicates never straddle
    the boundary (the train→test leakage mode a plain id-hash split
    permits).  split_key is the non-null effective key (cluster min id,
    or the doc's own id outside any cluster)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )
    out = sampling.cluster_aware_split(docs, pairs)
    return out.select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("split_key"), "split"
    )


def bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigrams above 0.1% of total bigram mass, exact counts
    (r18 queue, new family: deterministic frequency summaries).  The
    boilerplate-phrase detector at 100 TB: a plain groupBy over an
    n-gram vocabulary materializes billions of hash-agg keys per task;
    ``sketches.heavy_hitters`` runs a Misra–Gries candidate screen
    with O(k) state per task, then recounts only survivors exactly —
    so the output is oracle-exact (freq·k > N in pure integer
    arithmetic), unlike the HLL/theta/KLL members of the sketch
    family.  Partitioning-independence pinned in tests."""
    docs = _docs(spark, sf_dir)
    toks = text.tokens("text")
    with_toks = docs.select(toks.alias("_t")).filter(F.size("_t") >= 2)
    m = F.size("_t") - 1
    grams = with_toks.select(
        F.explode(
            F.zip_with(
                F.slice("_t", 1, m),
                F.slice("_t", 2, m),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bigram")
    )
    return sketches.heavy_hitters(grams, "bigram", k=1000)


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt/quote detection (r18 queue): pairs whose shingle-set
    CONTAINMENT |A∩B|/min(|A|,|B|) ≥ 0.9 — the asymmetric dedup metric
    for a small doc embedded in a big one, which the Jaccard queries
    structurally miss (containment 1.0 can coexist with Jaccard 0.01).
    Same capped inverted-index machinery as ngram_jaccard_dups; the
    excerpt-finds-what-Jaccard-misses property is pinned on a seeded
    corpus in tests (the fixture's near-dups happen to be full-doc
    mutations, so here the pair SET coincides with Jaccard's while the
    values differ)."""
    return dedup.ngram_containment_pairs(
        _docs_parallel(spark, sf_dir), threshold=0.9, max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )


def prefix_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs at Jaccard ≥ 0.5 with NO hot-shingle cap
    (r18 queue, new family: prefix-filtered set-similarity join).
    ``ngram_jaccard_dups`` buys skew-safety by dropping shingles with
    doc-frequency > MAX_SHINGLE_DOC_FREQ — a semantic compromise that
    changes results on boilerplate-heavy corpora.  This query gets the
    same skew-safety from prefix filtering instead (candidates come
    only from each doc's globally-RAREST shingles), so the output is
    the uncapped ground truth: exactly the all-pairs Jaccard join.
    Threshold 0.5 sits in the fixture corpus's separation gap (near-dup
    mass ≥ 0.7, incidental overlap < 0.3 at every SF — see
    ngram_jaccard_histogram), where prefix filtering is effective
    (prefix ≈ half the set).  Differential-pinned equal to
    ``ngram_jaccard_pairs(max_doc_freq=None)`` and a brute-force
    reference in tests; see operators/dedup.prefix_jaccard_pairs for
    the filter-soundness derivation."""
    return dedup.prefix_jaccard_pairs(_docs_parallel(spark, sf_dir), threshold=0.5)


def doc_prefix_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-prefix dedup (r18 queue, NEW family: edit-distance join):
    document pairs whose 24-char openings are within Levenshtein
    distance 2 — the typo/OCR-tolerant twin of ``doc_prefix_dups``,
    which needs byte-exact prefixes.  The oracle states the quadratic
    levenshtein join (with the ed ≤ d ⇒ |Δlen| ≤ d lemma stated
    inline so DuckDB's IEJoin can use it); the impl runs the q-gram
    count-filtered plan of Gravano et al. VLDB 2001 — length filter +
    exact multiset-intersection bound + short-string bucket, then
    exact levenshtein verification on survivors (see
    operators/dedup.edit_distance_pairs for the soundness argument).
    Integer distances — engine-exact."""
    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 24).alias("prefix")
    )
    return dedup.edit_distance_pairs(docs, "doc_id", "prefix", max_dist=2)


def doc_tf_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted near-dup pairs (r18 queue, NEW family:
    weighted similarity join): tf-vector cosine ≥ 0.9 over the
    non-boilerplate vocabulary (terms in ≤ 50 docs, the family's
    standing cap — corpus-wide stopwords otherwise dominate tf mass
    and saturate every pairwise similarity toward the vocabulary
    overlap, see SCALING.md).  Unlike the set-based Jaccard queries
    this weighs REPETITION: a doc and its doubled/reordered rewrite
    score exactly 1.0, same-vocabulary-different-frequency pairs score
    below it.  Oracle-bit-exact with float output because every
    accumulation is integer and the only float ops are two
    correctly-rounded sqrts, one multiply, one divide (see
    operators/dedup.tf_cosine_pairs)."""
    return dedup.tf_cosine_pairs(
        _docs_parallel(spark, sf_dir), threshold=0.9, max_doc_freq=MAX_SHINGLE_DOC_FREQ
    )


def prefix_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT excerpt/quote pairs at containment ≥ 0.9 with NO
    hot-shingle cap (r17 queue; r15 verdict directive #2).
    ``doc_containment_pairs`` pays the cap's semantic compromise — an
    excerpt made of boilerplate shingles is invisible once the cap
    drops them.  This query extends the prefix-filter machinery to the
    asymmetric overlap threshold (overlap ≥ ceil(t·min(sa,sb)) — the
    smaller set's prefix is indexed, the larger set probes with full
    df-ranked postings), so the output is the uncapped ground truth:
    exactly the all-pairs containment join.  Differential-pinned equal
    to ``ngram_containment_pairs(max_doc_freq=None)``, to brute force
    across a threshold sweep, and shown to differ from the capped path
    on a boilerplate corpus in tests; see
    operators/dedup.prefix_containment_pairs for the soundness
    derivation."""
    return dedup.prefix_containment_pairs(_docs_parallel(spark, sf_dir), threshold=0.9)


def doc_new_vs_corpus_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion EXACT near-dup pairs (r18 queue; r16
    verdict directive #8): treating every fifth document
    (doc_id % 5 = 0) as the arriving batch and the rest as the
    standing corpus, all Jaccard ≥ 0.5 pairs that INVOLVE a batch doc
    — computed by probing the corpus-side prefix index with the batch
    (operators/dedup.prefix_jaccard_new_pairs), never by a corpus
    self-join.  The oracle recomputes the full uncapped all-pairs join
    and keeps batch-involving pairs; the impl's corpus-df shingle
    order is a different global order than the oracle's implicit one,
    and bit-equality holds anyway because the prefix lemma is
    order-invariant (the differential tests pin the same claim against
    prefix_jaccard_pairs over the union)."""
    docs = _docs_parallel(spark, sf_dir)
    return dedup.prefix_jaccard_new_pairs(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        threshold=0.5,
    )


def prefix_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequency-weighted near-dup pairs at cosine ≥ 0.9 with NO
    vocabulary cap (r18 queue; r16 verdict directive #2).
    ``doc_tf_cosine_dups`` pays the cap's semantic compromise — its
    metric is "cosine over non-boilerplate terms", which diverges from
    true tf-cosine wherever stopword mass matters.  This query is the
    uncapped ground truth: the full all-pairs tf-cosine join, made
    skew-safe by the Bayardo WWW 2007 prefix filter (candidates come
    only from each vector's minimal prefix under the suffix-norm and
    maxweight bounds) instead of by dropping vocabulary.
    Differential-pinned equal to ``tf_cosine_pairs(max_doc_freq=None)``
    and a brute-force reference across a threshold sweep, and shown to
    DIFFER from the capped path on a stopword-heavy corpus, in tests;
    see operators/dedup.cosine_prefix_pairs for the bound derivations.
    Oracle-bit-exact with float output for the family's standing
    reason: integer dot/norm accumulation, fixed IEEE epilogue."""
    return dedup.cosine_prefix_pairs(_docs_parallel(spark, sf_dir), threshold=0.9)


def doc_new_vs_corpus_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion EXACT tf-cosine pairs (r19 queue; r17
    verdict #3): every fifth document (doc_id % 5 = 0) as the arriving
    batch, the rest the standing corpus; all cosine ≥ 0.9 pairs that
    involve a batch doc, computed by probing the corpus-side prefix
    index with the batch (operators/dedup.cosine_prefix_new_pairs) —
    never by a corpus self-join.  The corpus index persists under the
    partner-free Cauchy–Schwarz prefix bound; the batch side tightens
    with the maxweight bound over max(frozen corpus, batch) weights —
    see the operator for why the weighted metric forces that split.
    The oracle recomputes the full uncapped all-pairs cosine join and
    keeps batch-involving pairs; bit-equality holds because both
    engines accumulate integer dots/norms and share the one IEEE
    epilogue (the family's standing float contract)."""
    docs = _docs_parallel(spark, sf_dir)
    return dedup.cosine_prefix_new_pairs(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        threshold=0.9,
    )


def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(_docs_parallel(spark, sf_dir))


def simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_dup_groups(_docs_parallel(spark, sf_dir))


def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(_embs(spark, sf_dir), query_vec_id=0, k=10)


def embedding_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact ANN (r14 queue): top-10 neighbors for FIVE query
    vectors in one corpus pass — the serving shape that amortizes the
    scan across the batch (WindowGroupLimit keeps per-task state at
    Q·k rows; see operators/similarity.py:brute_force_topk_batch)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk_batch(embs, queries, k=10)


def embedding_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact ANN (r15 queue, the r14 verdict's #1
    directive): top-10 cosine neighbors of vec 0 AMONG ``label = 3``
    rows — the filter applies BEFORE ranking (a post-top-k filter
    silently returns <k rows).  The written-index serving twin is
    ``similarity.ivf_topk_indexed_filtered`` (predicate pushed inside
    the nprobe-pruned cluster scan), pinned exact at exhaustive nprobe
    in tests and recall-recorded in bench."""
    return similarity.brute_force_topk_filtered(
        _embs(spark, sf_dir), query_vec_id=0, predicate=F.col("label") == 3, k=10
    )


def embedding_topk_doc_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN where the predicate lives in ANOTHER table (r15
    queue): top-10 cosine neighbors of vec 0 among vectors whose
    document (doc_id = vec_id) is English — the payload-join shape
    every real retrieval stack hits (vectors in one store, metadata in
    another).  The matching-id frame enters as a broadcast semi-join
    BEFORE ranking, so the corpus pass stays one scan and the top-k
    heap only ever sees eligible rows.  The query vector is looked up
    UNFILTERED — the query need not satisfy its own predicate (at
    sf0.001 doc 0 is not English; the filtered-ANN contract still
    returns its k English neighbors)."""
    embs = _embs(spark, sf_dir)
    en_ids = (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    q = embs.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    return (
        embs.filter(F.col("vec_id") != 0)
        .join(F.broadcast(en_ids), "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(vecexpr.cosine("embedding", "_qvec")).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


def embedding_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise ANN (r15 queue): the top-3 nearest neighbors of vec 0
    WITHIN EVERY label — category-diversified retrieval in ONE corpus
    pass.  Per-label top-k is row_number over a (label) window, which
    Spark plans as WindowGroupLimit: each task keeps 3 rows per label
    before the shuffle, so shuffle volume is labels·k rows, not the
    corpus."""
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    q = embs.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    w = Window.partitionBy("label").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        embs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "label",
            "vec_id",
            F.expr(vecexpr.cosine("embedding", "_qvec")).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(_embs(spark, sf_dir), query_vec_id=0, k=10)


def embedding_lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-directed multi-probe LSH (Lv et al. 2007): the serving
    configuration — probe the 4 likeliest of 16 buckets instead of 1
    (recall@10 0.1 → 0.5 at sf0.01, same latency; BENCH indexed-probe
    legs carry the at-scale numbers)."""
    return similarity.lsh_topk_multiprobe(
        _embs(spark, sf_dir), query_vec_id=0, k=10, nprobe=4
    )


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_embs(spark, sf_dir), query_vec_id=0, k=10, nprobe=3)


def embedding_ivf_topk_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over LEARNED k-means clusters (the geometric coarse
    quantizer) — the variant that actually recalls: probing the
    synthetic label column measured recall 0 vs 1.0 with learned
    clusters (scripts/ann_probe_bench.py)."""
    return similarity.ivf_topk_learned(
        _embs(spark, sf_dir), query_vec_id=0, k=10, n_clusters=8, nprobe=3
    )


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): train m=8/k=16
    codebooks (iterative k-means per subspace — driver loop, hence
    rows-only), encode the corpus to 8-byte codes, ADC-shortlist 50
    candidates over the codes alone, exact-rerank those.  The member
    of the ANN family that serves from an index 8-16x smaller than
    the vectors."""
    embs = _embs(spark, sf_dir)
    corpus = embs.filter(F.col("vec_id") != 0)
    books = similarity.train_pq_codebooks(embs, m=8, k=16, iterations=2)
    codes = similarity.pq_encode(corpus, books)
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    return similarity.pq_topk_rerank(corpus, codes, books, qvec, k=10, shortlist=50)


def ivfpq_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ residual ANN (IVFADC, Jegou et al. 2011 §IV — the r10
    verdict's recall-floor fix): unit-normalize so L2 ranking equals
    cosine ranking, route vectors to coarse k-means clusters, PQ-encode
    the residual vs the assigned centroid, index each vector under its
    2 nearest centroids (boundary replication), then probe the 3
    nearest clusters with per-cluster ADC tables and exact-rerank the
    shortlist.  Rows-only: k-means float averaging is not
    SQL-replayable; the exhaustive setting is pinned equal to
    brute-force L2 in tests/test_operators.py, and the measured lift
    (recall@10 0.2 raw-PQ -> 0.8 IVFPQ at nprobe 4 / shortlist 200)
    lives in scripts/ann_probe_bench.py."""
    embs = similarity.unit_normalize(_embs(spark, sf_dir))
    q = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    body = embs.filter(F.col("vec_id") != 0)
    codes, cents, books = similarity.ivfpq_build(
        body,
        n_clusters=8,
        m=8,
        codes_k=16,
        coarse_iterations=2,
        pq_iterations=2,
        assign_n=2,
    )
    return similarity.ivfpq_topk(
        body, codes, cents, books, q, k=10, nprobe=3, shortlist=50
    )


def embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numpy/Arrow vectorized top-k (rows-only: float summation order
    differs from the expression path by design)."""
    return similarity.brute_force_topk_pandas(_embs(spark, sf_dir), query_vec_id=0, k=10)


def embedding_label_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked pairwise cosine ≥ 0.35.  Calibrated to the
    synthetic corpus (max within-label cosine ~0.47, 26 pairs at
    sf0.01) so the driver gate exercises real rows — the conventional
    0.9 near-dup bar returns 0 at every fixture scale and proved
    nothing (round-5 verdict).  embedding_dup_clusters keeps its own
    0.3 cut, so the two gates pin different boundary sets."""
    return similarity.pairwise_above_threshold(_embs(spark, sf_dir), threshold=0.35)


def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup — the semantic third of the
    dedup family (next to lexical n-gram Jaccard and MinHash): blocked
    pairwise cosine above a threshold -> connected components ->
    canonical vector per cluster.  Oracle-exact: the pair set matches DuckDB bit-for-bit
    (same double pipeline as embedding_label_pairs) and the clustering
    is a deterministic transitive closure.  Threshold 0.3 is calibrated
    to the synthetic corpus (max pairwise cosine ~0.47) so the graph is
    non-trivial at every test scale; a real embedding model would sit
    at the conventional 0.9."""
    pairs = similarity.pairwise_above_threshold(_embs(spark, sf_dir), threshold=0.3)
    return components.dup_clusters(pairs, "id_a", "id_b").withColumnRenamed("doc_id", "vec_id")


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sharding: 64-token chunks, stride 48."""
    return text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, stride=48)


def doc_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check across the content-hash train/test split:
    test docs sharing ≥1 trigram shingle with the train corpus, with
    the shared fraction.  (On this near-dup-seeded corpus most test
    docs share boilerplate trigrams — exactly what the check is for.)"""
    split = sampling.train_test_split(_docs(spark, sf_dir), "doc_id")
    train = split.filter(F.col("split") == "train")
    evals = split.filter(F.col("split") == "test")
    return dedup.ngram_contamination(train, evals)


def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash 80/20 split (engine- and partitioning-stable)."""
    return sampling.train_test_split(_docs(spark, sf_dir), "doc_id").select("doc_id", "split")


def doc_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.deterministic_sample(_docs(spark, sf_dir), "doc_id", 0.1).select(
        "doc_id", "lang"
    )


def lang_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per language, hash-ordered (deterministic)."""
    return sampling.stratified_sample_exact(_docs(spark, sf_dir), "lang", "doc_id", 5).select(
        "doc_id", "lang"
    )


def lang_balanced_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced corpus: every language downsampled to the
    smallest language's count, deterministic hash order."""
    return sampling.balance_labels(_docs(spark, sf_dir), "lang", "doc_id").select(
        "doc_id", "lang"
    )


def doc_nchars_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 5/95-percentile winsorization of document length —
    clip, don't drop."""
    return sampling.winsorize(_docs(spark, sf_dir), "n_chars", "lang").select(
        "doc_id", "lang", "n_chars", "n_chars_w"
    )


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.length_histogram(_docs(spark, sf_dir), "n_chars", 100)


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means (driver loop — the registry's
    non-SQL-expressible iterative algorithm; rows-only check)."""
    return kmeans.kmeans_assign(_embs(spark, sf_dir), k=4, iterations=3)


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean vector per label — the IVF-centroid build step;
    posexplode + re-assemble keeps it a plain groupBy (no UDF)."""
    e = _embs(spark, sf_dir)
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
        .groupBy("label")
        .agg(
            dround(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "mean_v"))),
                        lambda s: s["mean_v"],
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("centroid_sum"),
            F.count(F.lit(1)).alias("n_dims"),
        )
    )


# DuckDB twins ---------------------------------------------------------------

_TOKENS_SQL = "list_filter(str_split_regex(text, '\\s+'), x -> x <> '')"

# Shared language-ID CTE chain — the ONE SQL copy of the marker-token
# argmax heuristic (Spark twin: operators/text.predicted_lang_col).
# Exposes `pl(doc_id, predicted_lang)`; oracles append their own CTEs.
_LANGID_CTES = f"""t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
        sc AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ('the', 'and', 'of', 'is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'es'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('le', 'la', 'les', 'est'))) AS s_fr,
                   len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('的', '是', '了', '我'))) AS s_zh,
                   greatest(len(list_filter(toks, x -> x IN ('the','and','of','is'))),
                            len(list_filter(toks, x -> x IN ('el','la','los','es'))),
                            len(list_filter(toks, x -> x IN ('le','la','les','est'))),
                            len(list_filter(toks, x -> x IN ('der','die','das','und'))),
                            len(list_filter(toks, x -> x IN ('的','是','了','我')))) AS m
            FROM t
        ),
        pl AS (
            SELECT doc_id,
                   CASE WHEN m <= 0 THEN 'und'
                        WHEN s_zh = m THEN 'zh'
                        WHEN s_fr = m THEN 'fr'
                        WHEN s_es = m THEN 'es'
                        WHEN s_en = m THEN 'en'
                        ELSE 'de' END AS predicted_lang
            FROM sc
        )"""

# Shared quality-score CTE chain — the ONE SQL copy of the quality
# formula (Spark twin: operators/text.quality_score_col).  Exposes
# `t(doc_id, text, toks)` and `qs(doc_id, text, quality_score)`;
# oracles append their own CTEs after it.  Keeping a single copy means
# a threshold tweak cannot silently diverge between the three oracles
# that gate on quality.
_QUALITY_CTES_SQL = f"""
        t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents),
        s_q AS (
            SELECT doc_id, text,
                   len(toks) AS n_tokens,
                   len(list_filter(toks, x -> x IN ({STOP_SQL}))) * 1.0
                       / len(toks) AS stopword_ratio,
                   len(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0
                       / len(text) AS punct_ratio
            FROM t
        ),
        qs AS (
            SELECT doc_id, text,
                   CAST(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.5 ELSE 0.0 END
                       + CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END
                       + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END AS DOUBLE)
                       AS quality_score
            FROM s_q
        )"""

_JACCARD_CTES = f"""toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), sh_all AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(len(t) - 2),
                                 i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
             ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
    FROM toks
), sh AS (
    -- same hot-shingle doc-frequency cap as the Spark side
    -- (plans/llmdata.py MAX_SHINGLE_DOC_FREQ)
    SELECT doc_id, shingle FROM sh_all
    WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 50)
), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""

_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b,
       i * 1.0 / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
"""

# Uncapped ground truth for prefix_jaccard_dups: the all-pairs Jaccard
# join with NO doc-frequency cap (the Spark side replaces the cap with
# prefix filtering, which is exact).  jaccard is int/int double
# division in both engines — bit-exact.
_JACCARD_UNCAPPED_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), sh_all AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(len(t) - 2),
                                 i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
             ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
    FROM toks
), sizes AS (
    SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh_all a JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       i * 1.0 / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
"""

# Connected components over the (deterministic, oracle-exact) Jaccard
# pairs: transitive closure by recursive CTE, component id = min
# reachable doc id — exactly the min-label-propagation fixpoint the
# Spark operator converges to.
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES}, pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
), edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, label) AS (
    SELECT u, u FROM edges
    UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS doc_id,
       min(label) AS cluster_id,
       (node = min(label)) AS is_canonical
FROM reach GROUP BY node
"""

def _cosine_sql(a: str, b: str) -> str:
    """Bit-exact DuckDB twin of ``vecexpr.cosine`` for two table aliases —
    left-to-right double fold, dot/(sqrt(aa)*sqrt(bb)) association.
    ONE definition so every oracle that compares cosines stays in
    lockstep with the Spark-side fold; written by hand, not rendered
    from ``vecexpr``, so a fold bug cannot show on both sides of the
    oracle gate at once."""

    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(range(len({x}.embedding)), "
            f"i2 -> CAST({x}.embedding[i2+1] AS DOUBLE) * CAST({y}.embedding[i2+1] AS DOUBLE)), "
            f"(xx, yy) -> xx + yy)"
        )

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


_COSINE_EXPR = _cosine_sql("e", "q")


def doc_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10k-token training sample: docs in content-hash
    order fill the budget greedily (the crossing doc is kept whole).
    The bucketed two-phase cumsum in ``sampling.sample_to_token_budget``
    keeps the window parallel at corpus scale."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens("text")).cast("bigint").alias("n_tokens")
    )
    out = sampling.sample_to_token_budget(docs, "doc_id", "n_tokens", 10_000)
    return out.select("doc_id", "n_tokens", F.col("cum_weight").alias("cum_tokens"))


def doc_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing report (r18 queue, NEW family: greedy
    sequential sharding): cut the corpus — in deterministic
    content-hash order — into ~5k-token shards (the crossing doc stays
    in the shard it started, so every shard except the last totals
    within one max doc weight of the budget on either side), then
    report each shard's doc count and exact token total.  The packing verb behind 'split this corpus into
    training chunks'; runs through operators/sampling.pack_to_shards
    (the shared bucketed digest-order cumsum + one integer division —
    no global sort).  All-integer — engine-exact."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens("text")).cast("bigint").alias("n_tokens")
    )
    packed = sampling.pack_to_shards(docs, "doc_id", "n_tokens", 5_000)
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling mixture for training: exact token totals,
    natural share, and T=2 (count^0.5) smoothed relative weight — the
    up-weight-the-tail schedule multilingual/多-domain pretraining uses."""
    docs = _docs(spark, sf_dir).select(
        "source", F.size(text.tokens("text")).cast("bigint").alias("n_tok")
    )
    return sampling.mixture_weights(docs, "source", "n_tok")


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 8-gram spans shared across documents — the boilerplate
    span miner (what you would subtract before training)."""
    return text.repeated_ngrams(_docs_parallel(spark, sf_dir), n=8, min_docs=2, k=20)


def doc_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span coverage (word-level exact-substring
    dedup signal, Lee et al. 2021): fraction of each doc's tokens
    covered by 8-grams shared with ≥2 documents.  The trim/drop list a
    C4-style cleaning stage acts on."""
    return text.dup_span_stats(_docs_parallel(spark, sf_dir), n=8, min_docs=2)


def doc_trimmed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus with cross-document duplicated 8-gram spans excised
    (trim_dup_spans) — the action `doc_dup_span_fraction` signals.
    Every doc emits a row; fully-boilerplate docs come back empty."""
    return text.trim_dup_spans(_docs_parallel(spark, sf_dir), n=8, min_docs=2)


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (fraction of distinct 3-grams unique to
    the doc) — the inverse of `doc_dup_span_fraction`: low novelty
    WITHOUT high span coverage flags diffuse paraphrase overlap the
    contiguous-span operators can't see; high novelty is what
    aggressive dedup must not destroy."""
    return text.ngram_novelty(_docs_parallel(spark, sf_dir), n=3)


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled vs predicted language confusion matrix — the QA table
    behind any lang-gated curation decision (how often does the
    heuristic disagree with the corpus label, and toward which
    language does it err).

    Single pass: the prediction is a pure projection column beside the
    label (token array materialized once — quality_score_col's sharing
    note), then the tiny (lang, predicted_lang) agg.  The r9 version
    joined lang_id_heuristic back on doc_id — two corpus-wide
    exchanges for a per-row feature."""
    return (
        _docs(spark, sf_dir)
        .select("lang", text.tokens("text").alias("_toks"))
        .select(
            "lang", text.predicted_lang_col(toks=F.col("_toks")).alias("predicted_lang")
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def cross_source_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source pairs share boilerplate-opening documents — the
    leakage report a mixture-weighting stage consults before treating
    sources as independent (shared 5-token openings = same template or
    scraped copies).  Key = the `doc_prefix_dups` prefix, so the two
    reports describe the same groups.  Docs shorter than 5 tokens are
    excluded: a truncated or empty prefix is not boilerplate evidence
    (two sources each holding one empty doc would otherwise report a
    spurious shared opening)."""
    docs = _docs(spark, sf_dir)
    toks = text.tokens("text")
    pref = (
        docs.where(F.size(toks) >= 5)
        .select(
            "source",
            F.array_join(F.slice(toks, 1, 5), " ").alias("prefix"),
        )
        .distinct()
    )
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.prefix") == F.col("b.prefix"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count_distinct(F.col("a.prefix")).cast("long").alias("shared_prefixes"))
    )


def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts per curation stage (input → quality ≥ 0.75 →
    predicted-lang en → exact dedup) in ONE pass: conditional sums plus
    a distinct-fingerprint count, unpivoted with stack(): at 100 TB you
    run THIS to size each curation stage before paying for the run.

    The token array is materialized ONCE and shared by the quality and
    lang expressions (r9: 1.55× — tokens() is codegen-excluded, so its
    ~8 textual occurrences across the two features each re-split the
    doc otherwise; see quality_score_col's ``toks`` note)."""
    docs = _docs(spark, sf_dir).select("text", text.tokens("text").alias("_toks"))
    passes_q = text.quality_score_col("text", toks=F.col("_toks")) >= 0.75
    passes_l = passes_q & (
        text.predicted_lang_col(toks=F.col("_toks")) == "en"
    )
    agg = docs.agg(
        F.count(F.lit(1)).alias("_input"),
        F.sum(passes_q.cast("bigint")).alias("_q"),
        F.sum(passes_l.cast("bigint")).alias("_l"),
        F.countDistinct(F.when(passes_l, F.col("text"))).alias("_d"),
    )
    return agg.select(
        F.expr(
            "stack(4, 0, 'input', _input, 1, 'quality', _q, "
            "2, 'lang', _l, 3, 'exact_dedup', _d) AS (stage_idx, stage, docs)"
        )
    )



def embedding_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization round-trip error over the corpus —
    what you measure before shrinking the ANN index to a quarter of the
    float32 footprint."""
    return similarity.int8_quant_error(_embs(spark, sf_dir))


def embedding_pq_adc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ code assignment + ADC-vs-exact distance audit
    under the deterministic anchor codebook — the oracle-checkable
    member of the PQ family (train_pq_codebooks/​pq_topk_rerank share
    the assignment and ADC machinery but average floats in Lloyd
    iterations, hence rows-only).  code_key pins all m=8 subspace
    assignments integer-exactly; approx_dist/l2_dist pin the ADC
    table math bit-for-bit."""
    return similarity.pq_adc_report(_embs(spark, sf_dir), m=8, k=16, query_vec_id=0)


def pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ code-usage counts under the anchor codebook —
    the codebook-health audit a PQ deployment runs before trusting an
    index (a subspace whose mass collapses onto few codes quantizes
    poorly; balanced usage ≈ log2(k) bits of real signal per
    subspace).  Derived by decoding the report's integer code_key, so
    the counts are engine-exact by construction."""
    rep = similarity.pq_adc_report(_embs(spark, sf_dir), m=8, k=16, query_vec_id=0)
    codes = F.array(
        *[
            F.shiftright(F.col("code_key"), 4 * s).bitwiseAND(F.lit(15)).cast("int")
            for s in range(8)
        ]
    )
    return (
        rep.select(F.posexplode(codes).alias("s", "c"))
        .groupBy("s", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


# Shared CTE block for the two PQ oracles: anchors (Knuth-key order),
# per-(vector, subspace) distances to every centroid, and the argmin
# assignment `best` (vec_id, s, c, dq).
_PQ_ANCHOR_CTES = """v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
           FROM embeddings),
        a AS (SELECT xs AS axs,
                     -- similarity.knuth_key: (id * 2654435761) mod 2^32
                     -- via 16-bit split so no intermediate overflows
                     -- int64 (same values as the naive product).  The
                     -- two innermost mods are pmod-wrapped (+65536
                     -- then re-mod) because DuckDB's % is C-style
                     -- (negative remainders) while Spark's pmod is
                     -- not — every later mod operates on non-negative
                     -- intermediates, so only these two need the wrap
                     -- for the engines to agree across ALL int64 ids
                     row_number() OVER (
                         ORDER BY ((((vec_id % 65536) + 65536) % 65536
                                    * 2654435761) % 4294967296
                                   + ((((vec_id >> 16) % 65536) + 65536) % 65536
                                      * 2654435761
                                      % 4294967296) * 65536) % 4294967296,
                                  vec_id
                     ) - 1 AS c
              FROM v
              QUALIFY c < 16),
        q AS (SELECT xs AS qxs FROM v WHERE vec_id = 0),
        sub AS (SELECT vec_id, xs, unnest(range(8)) AS s
                FROM v WHERE vec_id <> 0),
        d AS (
            SELECT sub.vec_id, sub.s, a.c,
                   list_reduce(list_prepend(0.0, list_transform(range(8), i ->
                       (sub.xs[sub.s*8 + i + 1] - a.axs[sub.s*8 + i + 1])
                     * (sub.xs[sub.s*8 + i + 1] - a.axs[sub.s*8 + i + 1]))),
                       (acc, t) -> acc + t) AS dvec,
                   list_reduce(list_prepend(0.0, list_transform(range(8), i ->
                       (q.qxs[sub.s*8 + i + 1] - a.axs[sub.s*8 + i + 1])
                     * (q.qxs[sub.s*8 + i + 1] - a.axs[sub.s*8 + i + 1]))),
                       (acc, t) -> acc + t) AS dq
            FROM sub, a, q
        ),
        best AS (
            SELECT vec_id, s, c, dq
            FROM d
            QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY dvec, c) = 1
        )"""



def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint summary per doc — count, minimum,
    and exact integer checksum of the distinct window-min k-gram
    hashes (scalar projection of the fingerprint set so the driver
    gate can hash it; explode the operator's array output to build the
    inverted index instead).  Portable polynomial hash, so unlike the
    MinHash/SimHash family this fingerprint IS oracle-checkable."""
    fps = text.winnow_fingerprints(_docs_parallel(spark, sf_dir), k=5, w=4)
    return fps.select(
        "doc_id",
        F.size("fingerprints").alias("n_fp"),
        F.array_min("fingerprints").alias("fp_min"),
        F.aggregate(
            F.col("fingerprints"), F.lit(0).cast("long"), lambda a, b: a + b
        ).alias("fp_sum"),
    )



def doc_winnow_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap — the
    oracle-checkable (portable-hash) member of the near-dup family,
    complementing the exact-Jaccard and hash-dependent MinHash paths."""
    return text.winnow_dups(_docs_parallel(spark, sf_dir))



def doc_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling by quality: each doc survives with
    probability equal to its quality score (content-deterministic
    Bernoulli — the soft alternative to a hard quality threshold that
    keeps SOME low-quality data, the mix most pretraining recipes
    actually want)."""
    docs = (
        _docs(spark, sf_dir)
        .withColumn("_toks", text.tokens("text"))
        .withColumn("quality_score", text.quality_score_col("text", toks=F.col("_toks")))
        .drop("_toks")
    )
    return sampling.weighted_sample(docs, "doc_id", "quality_score").select(
        "doc_id", "quality_score"
    )



def doc_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus intake validation report (curation.validation_report) —
    per-check violation counts plus total/distinct-id rows, one pass.
    The fixture corpus is clean, so the violation rows are 0 by
    construction (the totals prove the scan ran); planted-violation
    behavior is pinned by tests/test_curation.py."""
    from .. import curation

    return curation.validation_report(_docs(spark, sf_dir))



def text_embedding_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency QA: every lexical near-dup pair (exact
    capped Jaccard ≥ 0.2) scored against its embeddings' cosine — rows
    where the embedding space DISAGREES with the lexical signal (low
    cosine on near-identical text) indicate a broken embedding or
    chunk-alignment pipeline, caught before training on it.  Returned
    ascending by cosine so the worst disagreements lead.

    Plan: the pair list is tiny relative to the embeddings table and
    BROADCAST-HINTED into both embedding joins (its localCheckpointed
    lineage carries no size stats, so without the hint the static plan
    would sort-merge-shuffle the embeddings table twice and only AQE
    could rescue it); the cosine is the same left-to-right double fold
    as embedding_topk_cosine (bit-exact vs the oracle)."""
    pairs = F.broadcast(
        dedup.ngram_jaccard_pairs(
            _docs(spark, sf_dir), threshold=0.2, max_doc_freq=MAX_SHINGLE_DOC_FREQ
        )
    )
    embs = _embs(spark, sf_dir)
    e1 = embs.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("_ea"))
    e2 = embs.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("_eb"))
    cos = F.expr(vecexpr.cosine("_ea", "_eb"))
    return (
        pairs.join(e1, "doc_a")
        .join(e2, "doc_b")
        .select("doc_a", "doc_b", "jaccard", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").asc(), "doc_a", "doc_b")
    )


SPECS = [
    QuerySpec(
        "doc_token_stats",
        doc_token_stats,
        f"""
        WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               list_reduce(list_transform(toks, x -> len(x) * 1.0), (a, b) -> a + b)
                     / len(toks) AS avg_token_len,
               len(list_filter(toks, x -> x IN ({STOP_SQL}))) * 1.0 / len(toks)
                     AS stopword_ratio,
               len(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / len(text)
                     AS punct_ratio
        FROM t
        """,
    ),
    QuerySpec(
        "doc_quality_scores",
        doc_quality_scores,
        f"""
        WITH {_QUALITY_CTES_SQL}
        SELECT doc_id, quality_score FROM qs
        """,
    ),
    QuerySpec(
        "doc_pack_bins",
        doc_pack_bins,
        f"""
        WITH t AS (
            SELECT doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT) AS pack_bin
        FROM t
        """,
    ),
    QuerySpec(
        "doc_bpe_token_counts",
        doc_bpe_token_counts,
        """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS bpe_token_count
        FROM documents
        """,
    ),
    QuerySpec(
        "doc_lang_id",
        doc_lang_id,
        f"""
        WITH {_LANGID_CTES}
        SELECT doc_id, predicted_lang FROM pl
        """,
    ),
    QuerySpec(
        "doc_fingerprints",
        doc_fingerprints,
        "SELECT doc_id, md5(text) AS fingerprint FROM documents",
    ),
    QuerySpec(
        "doc_fingerprints_rolling",
        doc_fingerprints_rolling,
        """
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(str_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
        FROM documents
        """,
    ),
    QuerySpec(
        "lang_source_stats",
        lang_source_stats,
        """
        SELECT lang, source,
               count(*)                                  AS doc_cnt,
               CAST(sum(n_chars) AS DOUBLE) / count(*)   AS avg_chars,
               max(n_chars)                              AS max_chars
        FROM documents GROUP BY lang, source
        """,
    ),
    QuerySpec(
        "word_freq_top20",
        word_freq_top20,
        f"""
        SELECT w AS word, count(*) AS word_count
        FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
        GROUP BY w
        ORDER BY word_count DESC, word
        LIMIT 20
        """,
    ),
    QuerySpec(
        "doc_unigram_logprob",
        doc_unigram_logprob,
        f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
        ), counts AS (
            SELECT token, count(*) AS tok_count FROM toks GROUP BY token
        ), total AS (
            SELECT count(*) AS _total FROM toks
        ), per_doc AS (
            SELECT doc_id, count(*) AS n_tokens,
                   {sql_snippets.dround('avg(ln(tok_count) - ln(_total))', 6)} AS mean_logprob
            FROM toks JOIN counts USING (token) CROSS JOIN total
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, mean_logprob,
               {sql_snippets.dround('exp(-mean_logprob)', 6)} AS perplexity
        FROM per_doc
        """,
        "CCNet-style unigram-LM quality signal (mean log-prob + perplexity)",
    ),
    QuerySpec(
        "doc_tfidf_top_terms",
        doc_tfidf_top_terms,
        f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
        ), docfreq AS (
            SELECT token, count(*) AS df FROM tf GROUP BY 1
        ), n AS (
            SELECT count(*) AS _n FROM documents
        ), scored AS (
            SELECT doc_id, token, tf, df,
                   {sql_snippets.dround('tf * (ln(_n) - ln(df))', 6)} AS tfidf
            FROM tf JOIN docfreq USING (token) CROSS JOIN n
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token
            ) AS term_rank FROM scored
        )
        SELECT doc_id, token, tf, df, tfidf, term_rank
        FROM ranked WHERE term_rank <= 3
        """,
        "per-doc top-3 TF-IDF terms (keyword extraction)",
    ),
    QuerySpec(
        "exact_dup_docs",
        exact_dup_docs,
        """
        SELECT md5(text) AS fingerprint, count(*) AS dup_count, min(doc_id) AS first_doc
        FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
    ),
    QuerySpec(
        "doc_repetition_scores",
        doc_repetition_scores,
        f"""
        WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
        tri AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(range(len(toks) - 2),
                             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                        ELSE NULL END AS g
            FROM t
        )
        SELECT doc_id,
               CASE WHEN g IS NULL THEN 0.0
                    ELSE CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g)
               END AS repetition_ratio
        FROM tri
        """,
    ),
    QuerySpec(
        "doc_prefix_dups",
        doc_prefix_dups,
        f"""
        SELECT p AS prefix, count(*) AS dup_count, min(doc_id) AS first_doc
        FROM (SELECT doc_id,
                     coalesce(list_aggregate({_TOKENS_SQL}[1:5], 'string_agg', ' '), '') AS p
              FROM documents)
        GROUP BY p HAVING count(*) > 1
        """,
    ),
    QuerySpec("ngram_jaccard_dups", ngram_jaccard_dups, _JACCARD_ORACLE),
    QuerySpec(
        "ngram_jaccard_histogram",
        ngram_jaccard_histogram,
        # bin arithmetic is engine-exact: the double quotient's
        # operands are exact integers and the true rational quotient
        # can't sit within an ulp of an integer at these magnitudes
        # (operators/dedup.ngram_jaccard_histogram docstring)
        f"""
        WITH {_JACCARD_CTES}
        SELECT CAST(least(floor(10 * i * 1.0 / (sa.n + sb.n - i)), 9) AS BIGINT)
                   AS bin,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        GROUP BY 1
        """,
        "candidate-pair Jaccard distribution (threshold calibration)",
    ),
    QuerySpec(
        "prefix_jaccard_dups",
        prefix_jaccard_dups,
        _JACCARD_UNCAPPED_ORACLE,
        "exact uncapped Jaccard pairs via prefix-filtered similarity join",
    ),
    QuerySpec(
        "bigram_heavy_hitters",
        bigram_heavy_hitters,
        # pure integer threshold (freq*k > N) — engine-exact, no division
        f"""
        WITH t AS (SELECT {_TOKENS_SQL} AS tk FROM documents),
        g AS (
            SELECT unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS p
            FROM t WHERE len(tk) >= 2
        ), bg AS (
            SELECT p[1] || ' ' || p[2] AS bigram FROM g
        ), n AS (SELECT count(*) AS n_total FROM bg)
        SELECT bigram, count(*) AS freq
        FROM bg CROSS JOIN n
        GROUP BY bigram, n_total
        HAVING count(*) * 1000 > n_total
        """,
        "exact heavy hitters via Misra-Gries candidate screen + recount",
    ),
    QuerySpec(
        "doc_containment_pairs",
        doc_containment_pairs,
        f"""
        WITH {_JACCARD_CTES}
        SELECT doc_a, doc_b,
               i * 1.0 / least(sa.n, sb.n) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / least(sa.n, sb.n) >= 0.9
        """,
        "asymmetric containment near-dup pairs (excerpt/quote detection)",
    ),
    QuerySpec(
        "doc_prefix_edit_pairs",
        doc_prefix_edit_pairs,
        """
        WITH s AS (
            SELECT doc_id, substring(text, 1, 24) AS p
            FROM documents WHERE text IS NOT NULL
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.p, b.p) AS edit_distance
        FROM s a JOIN s b
          ON a.doc_id < b.doc_id
         AND abs(length(a.p) - length(b.p)) <= 2
        WHERE levenshtein(a.p, b.p) <= 2
        """,
        "fuzzy-prefix dedup via q-gram-filtered edit-distance join",
    ),
    QuerySpec(
        "doc_tf_cosine_dups",
        doc_tf_cosine_dups,
        # integer dot/norm sums + IEEE sqrt/mul/div — bit-exact, no
        # rounding; the df-cap mirrors _JACCARD_CTES' HAVING clause
        f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ), tf_all AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ), tf AS (
            SELECT doc_id, term, tf FROM tf_all
            WHERE term IN (
                SELECT term FROM tf_all GROUP BY term HAVING count(*) <= 50
            )
        ), norms AS (
            SELECT doc_id, sum(tf * tf) AS nsq FROM tf GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   sum(a.tf * b.tf) AS dot
            FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE dot / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.9
        """,
        "frequency-weighted near-dup pairs (tf-vector cosine join)",
    ),
    QuerySpec(
        "prefix_containment_dups",
        prefix_containment_dups,
        # the UNCAPPED all-pairs containment join — same shingle CTEs
        # as _JACCARD_UNCAPPED_ORACLE, min-denominator metric
        f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ), sh_all AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(range(len(t) - 2),
                                         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                     ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh_all a JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               i * 1.0 / least(sa.n, sb.n) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / least(sa.n, sb.n) >= 0.9
        """,
        "exact uncapped containment pairs via prefix-filtered similarity join",
    ),
    QuerySpec(
        "doc_new_vs_corpus_jaccard",
        doc_new_vs_corpus_jaccard,
        # the uncapped all-pairs Jaccard join restricted to pairs
        # involving a batch (doc_id % 5 = 0) doc — int/int double
        # division, bit-exact
        f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ), sh_all AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(range(len(t) - 2),
                                         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                     ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
            FROM toks
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh_all a JOIN sh_all b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               i * 1.0 / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
          AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        """,
        "incremental exact Jaccard pairs (batch probes the corpus prefix index)",
    ),
    QuerySpec(
        "prefix_cosine_dups",
        prefix_cosine_dups,
        # the UNCAPPED all-pairs tf-cosine join — the doc_tf_cosine_dups
        # oracle without its HAVING df-cap; integer dot/norm sums +
        # IEEE sqrt/mul/div, bit-exact with no rounding
        f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ), norms AS (
            SELECT doc_id, sum(tf * tf) AS nsq FROM tf GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   sum(a.tf * b.tf) AS dot
            FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE dot / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.9
        """,
        "exact uncapped tf-cosine pairs via Bayardo prefix-filtered join",
    ),
    QuerySpec(
        "doc_new_vs_corpus_cosine",
        doc_new_vs_corpus_cosine,
        # the uncapped all-pairs tf-cosine join restricted to pairs
        # involving a batch (doc_id % 5 = 0) doc — integer dot/norm
        # sums + the one IEEE sqrt/mul/div epilogue, bit-exact
        f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term
        ), norms AS (
            SELECT doc_id, sum(tf * tf) AS nsq FROM tf GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   sum(a.tf * b.tf) AS dot
            FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE dot / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.9
          AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        """,
        "incremental exact tf-cosine pairs (batch probes the corpus prefix index)",
    ),
    QuerySpec("minhash_lsh_dups", minhash_lsh_dups, None, "MinHash+LSH candidates (rows-only)"),
    QuerySpec(
        "doc_dup_clusters",
        doc_dup_clusters,
        _CLUSTERS_ORACLE,
        "dedup clustering via connected components (recursive-CTE oracle)",
    ),
    QuerySpec(
        "doc_cluster_aware_split",
        doc_cluster_aware_split,
        f"""
        WITH RECURSIVE {_JACCARD_CTES}, pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
        ), edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ), reach(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
        ), clusters AS (
            SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
        )
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS split_key,
               CASE WHEN md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)) < 'cc'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        """,
        "near-dup-aware split (cluster members inherit the representative's split)",
    ),
    QuerySpec("simhash_dups", simhash_dups, None, "SimHash dup groups (rows-only)"),
    QuerySpec(
        "embedding_topk_cosine",
        embedding_topk_cosine,
        f"""
        SELECT e.vec_id, {_COSINE_EXPR} AS cos_sim
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
        """,
    ),
    QuerySpec(
        "embedding_topk_batch",
        embedding_topk_batch,
        f"""
        WITH pairs AS (
            SELECT q.vec_id AS query_id, e.vec_id, {_COSINE_EXPR} AS cos_sim
            FROM embeddings e,
                 (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
            WHERE e.vec_id <> q.vec_id
        ), r AS (
            SELECT query_id, vec_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM pairs
        )
        SELECT query_id, vec_id, cos_sim, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 10
        """,
        "batched exact cosine top-k, one corpus pass for 5 queries (r14 queue)",
    ),
    QuerySpec(
        "embedding_topk_filtered",
        embedding_topk_filtered,
        f"""
        SELECT e.vec_id, {_COSINE_EXPR} AS cos_sim
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0 AND e.label = 3
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
        """,
        "metadata-filtered exact ANN: filter BEFORE top-k (r15 queue)",
    ),
    QuerySpec(
        "embedding_topk_doc_filtered",
        embedding_topk_doc_filtered,
        f"""
        SELECT e.vec_id, {_COSINE_EXPR} AS cos_sim
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
          AND EXISTS (SELECT 1 FROM documents d
                      WHERE d.doc_id = e.vec_id AND d.lang = 'en')
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
        """,
        "filtered ANN with the predicate in another table (r15 queue)",
    ),
    QuerySpec(
        "embedding_topk_per_label",
        embedding_topk_per_label,
        f"""
        WITH scored AS (
            SELECT e.label, e.vec_id, {_COSINE_EXPR} AS cos_sim
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
        ), r AS (
            SELECT label, vec_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY label ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT label, vec_id, cos_sim, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 3
        """,
        "group-wise ANN: per-label top-3 in one corpus pass (r15 queue)",
    ),
    QuerySpec("embedding_lsh_topk", embedding_lsh_topk, None, "LSH-bucketed ANN (rows-only)"),
    QuerySpec(
        "embedding_lsh_topk_multiprobe",
        embedding_lsh_topk_multiprobe,
        None,  # hash-derived buckets — not SQL-replayable
        "query-directed multi-probe LSH ANN (rows-only)",
    ),
    QuerySpec("embedding_kmeans", embedding_kmeans, None, "iterative k-means (rows-only)"),
    QuerySpec(
        "embedding_ivf_topk_learned",
        embedding_ivf_topk_learned,
        None,
        "IVF over learned k-means clusters (rows-only)",
    ),
    QuerySpec("embedding_pq_topk", embedding_pq_topk, None, "product-quantization ADC + rerank ANN (rows-only)"),
    QuerySpec(
        "ivfpq_topk_probe",
        ivfpq_topk_probe,
        None,
        "IVF+PQ residual ANN probe (rows-only; r12 queue)",
    ),
    QuerySpec("embedding_topk_pandas", embedding_topk_pandas, None, "numpy mapInPandas top-k (rows-only)"),
    QuerySpec("doc_zscore_by_lang", doc_zscore_by_lang, None, "applyInPandas grouped-map normalization (rows-only)"),
    QuerySpec(
        "doc_chunks",
        doc_chunks,
        f"""
        WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
        c AS (
            SELECT doc_id, toks,
                   unnest(range(greatest(
                       CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1, 1))) AS chunk_idx
            FROM t
        )
        SELECT doc_id, chunk_idx,
               coalesce(list_aggregate(toks[chunk_idx*48+1 : chunk_idx*48+64],
                                       'string_agg', ' '), '') AS chunk_text,
               len(toks[chunk_idx*48+1 : chunk_idx*48+64]) AS chunk_token_cnt
        FROM c
        """,
    ),
    QuerySpec(
        "doc_split_contamination",
        doc_split_contamination,
        f"""
        WITH sp AS (
            SELECT doc_id, {_TOKENS_SQL} AS t,
                   CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc'
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        ), sh AS (
            SELECT doc_id, split, unnest(list_distinct(
                CASE WHEN len(t) >= 3
                     THEN list_transform(range(len(t) - 2),
                                         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                     ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
            FROM sp
        ), trv AS (
            SELECT DISTINCT shingle FROM sh WHERE split = 'train'
        ), ev AS (
            SELECT doc_id, shingle FROM sh WHERE split = 'test'
        ), sizes AS (
            SELECT doc_id, count(*) AS total FROM ev GROUP BY 1
        ), shared AS (
            SELECT doc_id, count(*) AS shared FROM ev JOIN trv USING (shingle) GROUP BY 1
        )
        SELECT s.doc_id,
               shared AS shared_shingles,
               total AS total_shingles,
               shared * 1.0 / total AS contamination
        FROM shared s JOIN sizes USING (doc_id)
        """,
    ),
    QuerySpec(
        "doc_decontaminated_corpus",
        doc_decontaminated_corpus,
        f"""
        WITH sp AS (
            SELECT doc_id, {_TOKENS_SQL} AS t,
                   CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc'
                        THEN 'train' ELSE 'test' END AS split
            FROM documents
        ), sh AS (
            SELECT doc_id, split, unnest(list_distinct(
                CASE WHEN len(t) >= 8
                     THEN list_transform(range(len(t) - 7),
                                         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                                           || ' ' || t[i+4] || ' ' || t[i+5]
                                           || ' ' || t[i+6] || ' ' || t[i+7]
                                           || ' ' || t[i+8])
                     ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END)) AS shingle
            FROM sp
        ), tev AS (
            SELECT DISTINCT shingle FROM sh WHERE split = 'test'
        ), tr AS (
            SELECT doc_id, shingle FROM sh WHERE split = 'train'
        ), sizes AS (
            SELECT doc_id, count(*) AS total FROM tr GROUP BY 1
        ), shared AS (
            SELECT doc_id, count(*) AS shared
            FROM tr JOIN tev USING (shingle) GROUP BY 1
        )
        SELECT doc_id, contamination FROM (
            SELECT t.doc_id,
                   coalesce(shared * 1.0 / total, CAST(0.0 AS DOUBLE))
                       AS contamination
            FROM (SELECT doc_id FROM sp WHERE split = 'train') t
            LEFT JOIN shared USING (doc_id)
            LEFT JOIN sizes USING (doc_id)
        ) WHERE contamination <= 0.5
        """,
        "eval-set decontamination action: the surviving train corpus after "
        "dropping docs whose test-vocab 8-gram overlap exceeds 0.5 (r16 queue)",
    ),
    QuerySpec(
        "doc_train_test_split",
        doc_train_test_split,
        """
        SELECT doc_id,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 'train' ELSE 'test' END AS split
        FROM documents
        """,
    ),
    QuerySpec(
        "doc_sample_10pct",
        doc_sample_10pct,
        """
        SELECT doc_id, lang FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) < '1999'
        """,
    ),
    QuerySpec(
        "lang_stratified_sample",
        lang_stratified_sample,
        """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        ) WHERE rn <= 5
        """,
    ),
    QuerySpec(
        "lang_balanced_docs",
        lang_balanced_docs,
        """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        WHERE rn <= (SELECT min(c) FROM
                     (SELECT count(*) AS c FROM documents GROUP BY lang))
        """,
    ),
    QuerySpec(
        "doc_nchars_winsorized",
        doc_nchars_winsorized,
        """
        WITH f AS (
            SELECT lang,
                   floor(quantile_cont(n_chars, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS lo,
                   floor(quantile_cont(n_chars, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS hi
            FROM documents GROUP BY lang
        )
        SELECT doc_id, d.lang, n_chars,
               least(greatest(CAST(n_chars AS DOUBLE), lo), hi) AS n_chars_w
        FROM documents d JOIN f ON d.lang = f.lang
        """,
    ),
    QuerySpec(
        "doc_length_histogram",
        doc_length_histogram,
        """
        SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo, count(*) AS cnt
        FROM documents GROUP BY 1
        """,
    ),
    QuerySpec("embedding_ivf_topk", embedding_ivf_topk, None, "IVF centroid-probe ANN (rows-only)"),
    QuerySpec(
        "embedding_label_pairs",
        embedding_label_pairs,
        f"""
        SELECT e.vec_id AS id_a, q.vec_id AS id_b, {_COSINE_EXPR} AS cos_sim
        FROM embeddings e JOIN embeddings q
          ON e.label = q.label AND e.vec_id < q.vec_id
        WHERE {_COSINE_EXPR} >= 0.35
        """,
    ),
    QuerySpec(
        "embedding_dup_clusters",
        embedding_dup_clusters,
        f"""
        WITH RECURSIVE pairs AS (
            SELECT e.vec_id AS id_a, q.vec_id AS id_b
            FROM embeddings e JOIN embeddings q
              ON e.label = q.label AND e.vec_id < q.vec_id
            WHERE {_COSINE_EXPR} >= 0.3
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ), reach(node, lbl) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
        )
        SELECT node AS vec_id,
               min(lbl) AS cluster_id,
               (node = min(lbl)) AS is_canonical
        FROM reach GROUP BY node
        """,
        "embedding-cosine near-dup clustering (recursive-CTE oracle)",
    ),
    QuerySpec(
        "embedding_label_centroids",
        embedding_label_centroids,
        """
        WITH exploded AS (
            SELECT label,
                   unnest(range(len(embedding)))                 AS dim,
                   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
            FROM embeddings
        ), flat AS (
            SELECT label, dim, avg(v) AS mean_v
            FROM exploded GROUP BY label, dim
        )
        SELECT label, floor(sum(mean_v) * 1000000.0 + 0.5) / 1000000.0 AS centroid_sum, count(*) AS n_dims
        FROM flat GROUP BY label
        """,
    ),
    QuerySpec(
        "doc_token_budget_sample",
        doc_token_budget_sample,
        f"""
        WITH t AS (SELECT doc_id,
                          CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM t)
        SELECT doc_id, n_tokens, cum_tokens
        FROM c WHERE cum_tokens - n_tokens < 10000
        """,
        "greedy deterministic token-budget sample (10k tokens)",
    ),
    QuerySpec(
        "doc_training_shards",
        doc_training_shards,
        # same digest-order cumsum as the budget sampler, then integer
        # shard assignment: shard = (cum - w) // 5000 — all-integer
        f"""
        WITH t AS (SELECT doc_id,
                          CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM t)
        SELECT (cum_tokens - n_tokens) // 5000 AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        FROM c GROUP BY 1
        """,
        "greedy sequential training-shard packing (5k-token shards)",
    ),
    QuerySpec(
        "source_mixture_weights",
        source_mixture_weights,
        f"""
        WITH per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS t,
                   CAST(max(n_tokens) AS BIGINT) AS mx
            FROM per
        )
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS natural_share,
               sqrt(CAST(n_tokens AS DOUBLE) / CAST(mx AS DOUBLE))
                   AS smoothed_rel_weight
        FROM per, tot
        """,
        "T=2 smoothed source-mixture sampling weights",
    ),
    QuerySpec(
        "boilerplate_ngrams",
        boilerplate_ngrams,
        f"""
        WITH w AS (SELECT doc_id, {_TOKENS_SQL} AS ws FROM documents),
        i AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
              FROM w WHERE len(ws) >= 8),
        g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
              FROM i)
        SELECT gram, CAST(count(*) AS BIGINT) AS doc_cnt
        FROM g GROUP BY gram HAVING count(*) >= 2
        ORDER BY doc_cnt DESC, gram
        LIMIT 20
        """,
        "cross-document repeated 8-gram boilerplate spans",
    ),
    QuerySpec(
        "doc_dup_span_fraction",
        doc_dup_span_fraction,
        f"""
        WITH w AS (SELECT doc_id, {_TOKENS_SQL} AS ws FROM documents),
        i AS (SELECT doc_id, len(ws) AS ntok, ws,
                     unnest(range(1, greatest(len(ws) - 6, 1))) AS i
              FROM w WHERE len(ws) >= 8),
        g AS (SELECT doc_id, ntok, i AS pos,
                     array_to_string(ws[i:i+7], ' ') AS gram
              FROM i),
        hot AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
                GROUP BY gram HAVING count(*) >= 2),
        s AS (SELECT doc_id, ntok, pos, pos + 7 AS pend
              FROM g JOIN hot USING (gram)),
        m AS (SELECT doc_id, ntok, pos, pend,
                     CASE WHEN pos > coalesce(max(pend) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              -1)
                          THEN 1 ELSE 0 END AS newi
              FROM s),
        isl AS (SELECT doc_id, ntok, pos, pend,
                       sum(newi) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS island
                FROM m),
        cov AS (SELECT doc_id, ntok, island,
                       max(pend) - min(pos) + 1 AS covd
                FROM isl GROUP BY doc_id, ntok, island)
        SELECT doc_id,
               CAST(ntok AS BIGINT) AS n_tokens,
               CAST(sum(covd) AS BIGINT) AS dup_tokens,
               {sql_snippets.dround('sum(covd) * 1.0 / ntok', 6)}
                   AS dup_span_fraction
        FROM cov GROUP BY doc_id, ntok
        """,
        "per-doc duplicated-8-gram span coverage (interval union)",
    ),
    QuerySpec(
        "doc_trimmed_corpus",
        doc_trimmed_corpus,
        f"""
        WITH w AS (SELECT doc_id, {_TOKENS_SQL} AS ws FROM documents),
        i AS (SELECT doc_id, ws,
                     unnest(range(1, greatest(len(ws) - 6, 1))) AS i
              FROM w WHERE len(ws) >= 8),
        g AS (SELECT doc_id, i AS pos,
                     array_to_string(ws[i:i+7], ' ') AS gram
              FROM i),
        hot AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
                GROUP BY gram HAVING count(*) >= 2),
        s AS (SELECT doc_id, pos, pos + 7 AS pend
              FROM g JOIN hot USING (gram)),
        tokpos AS (SELECT doc_id, ws,
                          unnest(range(1, len(ws) + 1)) AS tpos
                   FROM w),
        t AS (SELECT doc_id, tpos, ws[tpos] AS tok FROM tokpos),
        k AS (SELECT t.doc_id, t.tpos, t.tok FROM t
              WHERE NOT EXISTS (SELECT 1 FROM s
                                WHERE s.doc_id = t.doc_id
                                  AND t.tpos BETWEEN s.pos AND s.pend)),
        agg AS (SELECT doc_id,
                       count(*) AS kept_tokens,
                       string_agg(tok, ' ' ORDER BY tpos) AS text_clean
                FROM k GROUP BY doc_id)
        SELECT w.doc_id,
               CAST(coalesce(len(w.ws), 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(agg.kept_tokens, 0) AS BIGINT) AS kept_tokens,
               coalesce(agg.text_clean, '') AS text_clean
        FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
        """,
        "corpus with duplicated-8-gram spans excised (trim action)",
    ),
    QuerySpec(
        "lang_confusion_matrix",
        lang_confusion_matrix,
        f"""
        WITH {_LANGID_CTES}
        SELECT d.lang, pl.predicted_lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pl JOIN documents d USING (doc_id)
        GROUP BY d.lang, pl.predicted_lang
        """,
        "labeled vs heuristic-predicted language confusion matrix",
    ),
    QuerySpec(
        "cross_source_dup_leakage",
        cross_source_dup_leakage,
        f"""
        WITH p AS (
            SELECT DISTINCT source,
                   list_aggregate({_TOKENS_SQL}[1:5], 'string_agg', ' ') AS prefix
            FROM documents
            WHERE len({_TOKENS_SQL}) >= 5
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(DISTINCT a.prefix) AS BIGINT) AS shared_prefixes
        FROM p a JOIN p b ON a.prefix = b.prefix AND a.source < b.source
        GROUP BY a.source, b.source
        """,
        "source pairs sharing boilerplate-opening documents",
    ),
    QuerySpec(
        "curation_funnel_report",
        curation_funnel_report,
        f"""
        WITH {_QUALITY_CTES_SQL},
        ls AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ('the', 'and', 'of', 'is'))) AS s_en,
                   len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'es'))) AS s_es,
                   len(list_filter(toks, x -> x IN ('le', 'la', 'les', 'est'))) AS s_fr,
                   len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und'))) AS s_de,
                   len(list_filter(toks, x -> x IN ('的', '是', '了', '我'))) AS s_zh,
                   greatest(len(list_filter(toks, x -> x IN ('the','and','of','is'))),
                            len(list_filter(toks, x -> x IN ('el','la','los','es'))),
                            len(list_filter(toks, x -> x IN ('le','la','les','est'))),
                            len(list_filter(toks, x -> x IN ('der','die','das','und'))),
                            len(list_filter(toks, x -> x IN ('的','是','了','我')))) AS m
            FROM t
        ), f AS (
            SELECT qs.text,
                   qs.quality_score >= 0.75 AS pq,
                   (CASE WHEN m <= 0 THEN 'und'
                        WHEN s_zh = m THEN 'zh'
                        WHEN s_fr = m THEN 'fr'
                        WHEN s_es = m THEN 'es'
                        WHEN s_en = m THEN 'en'
                        ELSE 'de' END) = 'en' AS pl_en
            FROM qs JOIN ls USING (doc_id)
        )
        SELECT * FROM (
            SELECT 0 AS stage_idx, 'input' AS stage,
                   CAST(count(*) AS BIGINT) AS docs FROM f
            UNION ALL
            SELECT 1, 'quality',
                   CAST(coalesce(sum(CASE WHEN pq THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f
            UNION ALL
            SELECT 2, 'lang',
                   CAST(coalesce(sum(CASE WHEN pq AND pl_en THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f
            UNION ALL
            SELECT 3, 'exact_dedup',
                   CAST(count(DISTINCT CASE WHEN pq AND pl_en THEN text END) AS BIGINT) FROM f
        )
        """,
        "per-stage curation survivor counts in one pass",
    ),
    QuerySpec(
        "embedding_quant_error",
        embedding_quant_error,
        """
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
                   FROM embeddings),
        m AS (SELECT vec_id, xs,
                     list_max(list_transform(xs, x -> abs(x))) AS mx
              FROM v),
        s AS (SELECT vec_id, xs, mx, mx / 127.0 AS scale FROM m),
        e AS (SELECT vec_id, mx, scale,
                     list_transform(xs, x ->
                         abs(x - greatest(-127.0,
                                 least(127.0, floor(x / scale + 0.5))) * scale))
                         AS errs
              FROM s)
        SELECT vec_id,
               CASE WHEN mx = 0 THEN 0.0 ELSE scale END AS qscale,
               CASE WHEN mx = 0 THEN 0.0 ELSE list_max(errs) END AS max_abs_err,
               CASE WHEN mx = 0 THEN 0.0
                    ELSE list_reduce(list_prepend(0.0,
                             list_transform(errs, e -> e * e)), (a, b) -> a + b)
               END AS sse
        FROM e
        """,
        "symmetric int8 quantization round-trip error per vector",
    ),
    QuerySpec(
        "embedding_pq_adc_report",
        embedding_pq_adc_report,
        # Bit-exact twin of similarity.pq_adc_report (m=8, k=16, 64-dim
        # fixture → d=8): anchors = the 16 rows with smallest Knuth key
        # (integer-exact), per-subspace argmin by (dist, code), ADC =
        # query-to-assigned-centroid distances summed in subspace
        # order.  Every float fold is left-to-right subtract/multiply,
        # mirroring the Spark aggregate/zip_with shape.
        f"""
        WITH {_PQ_ANCHOR_CTES},
        l2 AS (
            SELECT v.vec_id,
                   list_reduce(list_prepend(0.0,
                       list_transform(range(len(v.xs)), i ->
                           (v.xs[i + 1] - q.qxs[i + 1])
                         * (v.xs[i + 1] - q.qxs[i + 1]))),
                       (acc, t) -> acc + t) AS l2_dist
            FROM v, q WHERE v.vec_id <> 0
        )
        SELECT b.vec_id,
               CAST(SUM(CAST(b.c AS BIGINT)
                        * (CAST(1 AS BIGINT) << CAST(4 * b.s AS INTEGER))) AS BIGINT)
                   AS code_key,
               list_reduce(list_prepend(0.0, list(b.dq ORDER BY b.s)),
                           (acc, t) -> acc + t) AS approx_dist,
               l2.l2_dist AS l2_dist
        FROM best b JOIN l2 USING (vec_id)
        GROUP BY b.vec_id, l2.l2_dist
        """,
        "PQ anchor-codebook assignment + ADC-vs-exact distance audit per vector",
    ),
    QuerySpec(
        "pq_code_balance",
        pq_code_balance,
        # Integer-exact by construction: counts of the same argmin
        # assignments the adc-report oracle pins.
        f"""
        WITH {_PQ_ANCHOR_CTES}
        SELECT CAST(b.s AS INTEGER) AS s,
               CAST(b.c AS INTEGER) AS c,
               CAST(count(*) AS BIGINT) AS n_vecs
        FROM best b
        GROUP BY b.s, b.c
        """,
        "per-subspace PQ code-usage counts (codebook-health audit)",
    ),
    QuerySpec(
        "doc_winnow_fingerprints",
        doc_winnow_fingerprints,
        """
        WITH c AS (
            SELECT doc_id,
                   list_transform(str_split(text, ''), ch -> ord(ch)) AS codes
            FROM documents
        ),
        k AS (
            SELECT doc_id,
                   list_transform(range(1, len(codes) - 5 + 2), i ->
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT), codes[i:i+4]),
                           (a, b) -> (a * 31 + b) % 2147483647)) AS kh
            FROM c WHERE len(codes) >= 8
        ),
        wm AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(kh) - 4 + 2), j ->
                       list_min(kh[j:j+3]))) AS fps
            FROM k
        )
        SELECT doc_id,
               CAST(len(fps) AS BIGINT) AS n_fp,
               CAST(list_min(fps) AS BIGINT) AS fp_min,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
                    (a, b) -> a + b) AS BIGINT) AS fp_sum
        FROM wm
        """,
        "winnowing (MOSS) fingerprint summary, portable rolling hash",
    ),
    QuerySpec(
        "doc_winnow_dups",
        doc_winnow_dups,
        """
        WITH c AS (
            SELECT doc_id,
                   list_transform(str_split(text, ''), ch -> ord(ch)) AS codes
            FROM documents
        ),
        k AS (
            SELECT doc_id,
                   list_transform(range(1, len(codes) - 5 + 2), i ->
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT), codes[i:i+4]),
                           (a, b) -> (a * 31 + b) % 2147483647)) AS kh
            FROM c WHERE len(codes) >= 8
        ),
        wm AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(kh) - 4 + 2), j ->
                       list_min(kh[j:j+3]))) AS fps
            FROM k
        ),
        idx0 AS (SELECT doc_id, unnest(fps) AS fp FROM wm),
        idx AS (SELECT * FROM idx0
                WHERE fp NOT IN (SELECT fp FROM idx0
                                 GROUP BY fp HAVING count(*) > 50)),
        sz AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS shared
              FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
               CAST(shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE)
                   AS overlap
        FROM p
        JOIN sz na ON p.doc_a = na.doc_id
        JOIN sz nb ON p.doc_b = nb.doc_id
        WHERE CAST(shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) >= 0.5
        """,
        "winnowing-overlap near-dup pairs (portable hash, doc-freq cap)",
    ),
    QuerySpec(
        "doc_quality_weighted_sample",
        doc_quality_weighted_sample,
        f"""
        WITH {_QUALITY_CTES_SQL},
        q AS (
            SELECT doc_id, quality_score,
                   list_reduce(list_transform(
                       str_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, b) -> a * 16 + b) AS u_int
            FROM qs
        )
        SELECT doc_id, quality_score
        FROM q
        WHERE CAST(u_int AS DOUBLE) / 4294967296.0 < quality_score
        """,
        "deterministic quality-weighted Bernoulli resampling",
    ),
    QuerySpec(
        "doc_validation_report",
        doc_validation_report,
        """
        SELECT * FROM (
            SELECT 0 AS check_idx, 'null_text' AS check_name,
                   CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n
            FROM documents
            UNION ALL
            SELECT 1, 'empty_text',
                   CAST(coalesce(sum(CASE WHEN len(text) = 0 THEN 1 ELSE 0 END), 0)
                        AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 2, 'nchars_mismatch',
                   CAST(coalesce(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END), 0)
                        AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 3, 'unknown_lang',
                   CAST(coalesce(sum(CASE WHEN lang IS NULL
                                          OR lang NOT IN ('en','es','fr','de','zh')
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 4, 'null_nchars',
                   CAST(coalesce(sum(CASE WHEN text IS NOT NULL AND n_chars IS NULL
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 5, 'null_id',
                   CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END), 0)
                        AS BIGINT)
            FROM documents
            UNION ALL
            SELECT 6, 'total_rows', CAST(count(*) AS BIGINT) FROM documents
            UNION ALL
            SELECT 7, 'distinct_ids', CAST(count(DISTINCT doc_id) AS BIGINT)
            FROM documents
        )
        """,
        "one-pass corpus intake validation report",
    ),
    QuerySpec(
        "text_embedding_disagreement",
        text_embedding_disagreement,
        f"""
        WITH {_JACCARD_CTES}, p AS (
            SELECT doc_a, doc_b,
                   i * 1.0 / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
        )
        SELECT p.doc_a, p.doc_b, p.jaccard,
               {_cosine_sql("ea", "eb")} AS cos_sim
        FROM p
        JOIN embeddings ea ON ea.vec_id = p.doc_a
        JOIN embeddings eb ON eb.vec_id = p.doc_b
        """,
        "cross-modal QA: lexical near-dups vs their embedding cosine",
    ),
    QuerySpec(
        "doc_ngram_novelty",
        doc_ngram_novelty,
        f"""
        WITH w AS (SELECT doc_id, {_TOKENS_SQL} AS ws FROM documents),
        i AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i
              FROM w WHERE len(ws) >= 3),
        g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
              FROM i),
        f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS novel_grams,
               {sql_snippets.dround(
                   'sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)', 6)}
                   AS novelty
        FROM g JOIN f USING (gram)
        GROUP BY g.doc_id
        """,
        "per-doc distinct-trigram novelty (inverse of the dup-span signal)",
    ),
    QuerySpec(
        "doc_numeric_profile",
        doc_numeric_profile,
        f"""
        WITH t AS (
            SELECT source, n_chars, {_TOKENS_SQL} AS toks FROM documents
        ), p AS (
            SELECT source, n_chars,
                   len(toks) AS nt,
                   len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
                       AS num,
                   len(list_filter(toks, x -> regexp_matches(x, '[0-9]')))
                       AS dig
            FROM t
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens,
               CAST(sum(num) AS BIGINT) AS numeric_tokens,
               CAST(sum(dig) AS BIGINT) AS digit_tokens,
               CASE WHEN CAST(sum(nt) AS BIGINT) = 0 THEN NULL
                    ELSE CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
                         / CAST(CAST(sum(nt) AS BIGINT) AS DOUBLE)
               END AS numeric_ratio,
               CAST(min(n_chars) AS BIGINT) AS min_n_chars,
               CAST(max(n_chars) AS BIGINT) AS max_n_chars,
               CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*)
                   AS avg_n_chars,
               CAST(CAST(sum(n_chars * n_chars) AS BIGINT) AS DOUBLE) / count(*)
                 - (CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*))
                   * (CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*))
                   AS var_n_chars
        FROM p GROUP BY source
        """,
        "per-source numeric-token + n_chars-moment profile (r12 queue)",
    ),
    QuerySpec(
        "doc_token_entropy",
        doc_token_entropy,
        f"""
        WITH tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents)
            GROUP BY doc_id, token
        )
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               {sql_snippets.dround(
                   'ln(CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE))'
                   ' - sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE)))'
                   ' / CAST(sum(tf) AS BIGINT)', 6)} AS entropy_nats,
               CAST(count(*) AS DOUBLE) / CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE)
                   AS type_token_ratio
        FROM tf GROUP BY doc_id
        """,
        "per-doc Shannon entropy + type-token ratio (r13 queue)",
    ),
    QuerySpec(
        "lang_weighted_reservoir",
        lang_weighted_reservoir,
        f"""
        WITH kk AS (
            SELECT lang, doc_id, n_chars, {_KNUTH_DOC_SQL} AS _kk
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        ),
        kx AS (
            SELECT lang, doc_id, n_chars,
                   {sql_snippets.dround(
                       "pow((CAST(_kk AS DOUBLE) + CAST(1.0 AS DOUBLE))"
                       " / CAST(4294967296.0 AS DOUBLE),"
                       " CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE))", 12)}
                       AS sample_key
            FROM kk
        )
        SELECT lang, doc_id, n_chars, sample_key
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY lang ORDER BY sample_key DESC, doc_id) AS _rn
              FROM kx)
        WHERE _rn <= 5
        """,
        "exactly-5-per-lang weighted reservoir (Efraimidis-Spirakis over "
        "the Knuth uniform; r17 queue)",
    ),
    QuerySpec(
        "bm25_topk_docs",
        bm25_topk_docs,
        f"""
        WITH {_bm25_sql(_BM25_TERMS, _BM25_K1, _BM25_B)}
        SELECT doc_id, n_matched_terms, bm25_score
        FROM scores ORDER BY bm25_score DESC, doc_id LIMIT 10
        """,
        "BM25 lexical retrieval top-10 for a fixed bag-of-terms query "
        "(r17 queue)",
    ),
    QuerySpec(
        "hybrid_search_rrf",
        hybrid_search_rrf,
        f"""
        WITH {_bm25_sql(_BM25_TERMS, _BM25_K1, _BM25_B)},
        lext AS (SELECT doc_id, bm25_score FROM scores
                 ORDER BY bm25_score DESC, doc_id LIMIT 20),
        lexr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY bm25_score DESC, doc_id)
                            AS rank
                 FROM lext),
        semt AS (SELECT e.vec_id AS doc_id, {_COSINE_EXPR} AS cos_sim
                 FROM embeddings e,
                      (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                 WHERE e.vec_id <> 0
                 ORDER BY cos_sim DESC, e.vec_id LIMIT 20),
        semr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                            AS rank
                 FROM semt),
        u AS (SELECT doc_id, rank FROM lexr
              UNION ALL
              SELECT doc_id, rank FROM semr)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
               sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS rrf_score
        FROM u GROUP BY 1
        ORDER BY rrf_score DESC, doc_id LIMIT 10
        """,
        "hybrid BM25 + embedding-cosine retrieval fused by RRF "
        "(r17 queue; exact-integer-rank arithmetic)",
    ),
    QuerySpec(
        "hybrid_search_rrf_filtered",
        hybrid_search_rrf_filtered,
        f"""
        WITH {_bm25_sql(_BM25_TERMS, _BM25_K1, _BM25_B)},
        en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        lext AS (SELECT doc_id, bm25_score FROM scores JOIN en USING (doc_id)
                 ORDER BY bm25_score DESC, doc_id LIMIT 20),
        lexr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY bm25_score DESC, doc_id)
                            AS rank
                 FROM lext),
        semt AS (SELECT e.vec_id AS doc_id, {_COSINE_EXPR} AS cos_sim
                 FROM embeddings e,
                      (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                 WHERE e.vec_id <> 0
                   AND EXISTS (SELECT 1 FROM en WHERE en.doc_id = e.vec_id)
                 ORDER BY cos_sim DESC, e.vec_id LIMIT 20),
        semr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                            AS rank
                 FROM semt),
        u AS (SELECT doc_id, rank FROM lexr
              UNION ALL
              SELECT doc_id, rank FROM semr)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
               sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS rrf_score
        FROM u GROUP BY 1
        ORDER BY rrf_score DESC, doc_id LIMIT 10
        """,
        "filtered hybrid retrieval: both legs restricted to English docs "
        "before ranking, BM25 stats collection-wide (r16 queue)",
    ),
    QuerySpec(
        "source_len_token_corr",
        source_len_token_corr,
        f"""
        WITH t AS (
            SELECT source, n_chars, len({_TOKENS_SQL}) AS n_tokens
            FROM documents
            WHERE text IS NOT NULL AND n_chars IS NOT NULL
        ),
        s AS (
            SELECT source,
                   count(*) AS n_docs,
                   CAST(count(*) AS DOUBLE) AS _n,
                   CAST(sum(n_chars) AS DOUBLE) AS _sx,
                   CAST(sum(n_tokens) AS DOUBLE) AS _sy,
                   CAST(sum(n_chars * n_chars) AS DOUBLE) AS _sxx,
                   CAST(sum(n_tokens * n_tokens) AS DOUBLE) AS _syy,
                   CAST(sum(n_chars * n_tokens) AS DOUBLE) AS _sxy
            FROM t GROUP BY 1
        )
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               {sql_snippets.dround(
                   "CASE WHEN (_n * _sxx - _sx * _sx) > 0"
                   " AND (_n * _syy - _sy * _sy) > 0"
                   " THEN (_n * _sxy - _sx * _sy)"
                   " / (sqrt(_n * _sxx - _sx * _sx) * sqrt(_n * _syy - _sy * _sy))"
                   " END", 6)} AS corr_len_tokens
        FROM s
        """,
        "per-source Pearson corr of n_chars vs token count — "
        "tokenization-density consistency (r16 queue)",
    ),
    QuerySpec(
        "source_unigram_kl",
        source_unigram_kl,
        f"""
        WITH st AS (
            SELECT source, token, count(*) AS c_st
            FROM (SELECT source, unnest({_TOKENS_SQL}) AS token FROM documents)
            GROUP BY source, token
        ), corpus AS (
            SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY token
        ), tot AS (
            SELECT CAST(sum(c_t) AS BIGINT) AS t FROM corpus
        ), pst AS (
            SELECT source, CAST(sum(c_st) AS BIGINT) AS ts,
                   CAST(count(*) AS BIGINT) AS n_distinct_tokens
            FROM st GROUP BY source
        )
        SELECT st.source,
               pst.ts AS n_tokens,
               pst.n_distinct_tokens,
               {sql_snippets.dround(
                   'sum(CAST(c_st AS DOUBLE) / ts'
                   ' * (ln(CAST(c_st AS DOUBLE)) - ln(CAST(ts AS DOUBLE))'
                   '    - ln(CAST(c_t AS DOUBLE)) + ln(CAST(t AS DOUBLE))))', 6)}
                   AS kl_nats
        FROM st
        JOIN corpus USING (token)
        JOIN pst USING (source), tot
        GROUP BY st.source, pst.ts, pst.n_distinct_tokens
        """,
        "per-source KL vs corpus unigram distribution (r13 queue)",
    ),
    QuerySpec(
        "doc_length_quantiles",
        doc_length_quantiles,
        """
        WITH r AS (
            SELECT source, n_chars AS v, doc_id,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents
        )
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               CAST(max(CASE WHEN rn = (25 * n + 99) // 100 THEN v END)
                    AS BIGINT) AS p25,
               CAST(max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END)
                    AS BIGINT) AS p50,
               CAST(max(CASE WHEN rn = (75 * n + 99) // 100 THEN v END)
                    AS BIGINT) AS p75,
               CAST(max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END)
                    AS BIGINT) AS p90,
               CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END)
                    AS BIGINT) AS p99
        FROM r GROUP BY source
        """,
        "per-source exact n_chars quantiles (integer-rank discrete)",
    ),
    QuerySpec(
        "source_dup_rate",
        source_dup_rate,
        f"""
        WITH fp AS (
            SELECT source, md5(text) AS _fp FROM documents
        ), sizes AS (
            SELECT _fp, count(*) AS _gsz FROM fp
            WHERE _fp IS NOT NULL GROUP BY 1
        )
        SELECT fp.source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN sizes._gsz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_docs,
               {sql_snippets.dround(
                   'CAST(sum(CASE WHEN sizes._gsz >= 2 THEN 1 ELSE 0 END) AS DOUBLE)'
                   ' / CAST(count(*) AS DOUBLE)', 6)} AS dup_rate
        FROM fp LEFT JOIN sizes USING (_fp)
        GROUP BY fp.source
        """,
        "per-source exact-dup fraction (corpus-wide md5 groups, r13 queue)",
    ),
    QuerySpec(
        "doc_length_quantiles_approx",
        doc_length_quantiles_approx,
        None,  # GK sketch output is engine-specific, not SQL-replayable;
        # the differential test bounds rank error vs the exact twin
        "per-source approx n_chars quantiles (percentile_approx serving twin)",
    ),
]
