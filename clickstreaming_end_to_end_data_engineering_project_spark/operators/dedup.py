"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB corpus):
- exact: one shuffle on the content hash; group sizes are tiny
  (duplicate cliques), no skew concern.
- n-gram Jaccard: exact pairwise similarity *restricted to candidate
  pairs that share a shingle*.  The explode→self-join is the textbook
  inverted-index join; hot shingles are the skew risk, so very frequent
  shingles (doc-frequency above a cap) are dropped before the join —
  standard practice and what AQE skew-split can't fix alone.
- MinHash+LSH: the sub-quadratic path.  K independent min-hashes from
  seeded xxhash64 (no UDF), banded into B buckets; candidate pairs only
  within a bucket → shuffle on (band, bucket-hash) instead of shingle.
- SimHash: 64-bit signature per doc via bit-voting over token hashes;
  near-dups = identical signature (or banded Hamming pieces).

MinHash/SimHash use Spark's xxhash64/hash and are checked rows-only
(DuckDB's hash() is a different function); Jaccard is oracle-checkable.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

# Max hot-shingle drop-list size applied as a literal-array
# array_except in the doc projection (8-byte longs, one expression
# node per entry).  Above this the cap falls back to a distributed
# broadcast anti-join instead.
_HOT_LIST_EXPR_CAP = 1_000

# Dense-verification gate for the cosine prefix joins (r18 optimization
# round): when the collapsed representatives' tf matrix fits a
# broadcastable dense block (n_reps · n_terms cells, 8 bytes each —
# 2^23 cells = 64 MB), candidate verification computes the exact-long
# dot as a vectorized numpy gather+einsum inside an Arrow-batched
# pandas UDF instead of the per-pair interpreted map_zip_with HOF.
# The cap also bounds the driver collect that builds the matrix
# (posting rows <= cells).  Above the cap — the Zipf/large-vocabulary
# regime, where the prefix filter leaves FEW candidates — verification
# falls back to the self-balancing forward-index map join unchanged.
_DENSE_VERIFY_CELLS_CAP = 1 << 23

# Dense ALL-PAIRS gate (r19 optimization round, the r18 verdict-#3
# completion): when the rep matrix passes the dense-verify gate AND
# the full Gram product is cheap (n_reps² · n_terms multiply-adds
# under this cap ≈ one-to-two seconds of BLAS across the executor
# cores), the prefix/candidate machinery is SKIPPED OUTRIGHT — every
# qualifying rep pair comes straight out of block-wise exact Gram
# products against the broadcast matrix.  This is the regime where
# the r18 profile showed the bounds were nearly vacuous anyway (flat
# vocabulary → candidates ≈ all pairs: 38.7 M prefix⋈prefix rows into
# an 11.9 M-group aggregate at sf0.1, a 10.2 % prune), so enumerating
# match rows per shared term only to re-derive the same pair set is
# pure overhead.  Above either cap the published prefix-join path
# runs unchanged — exactly the regime (Zipf/large vocabulary, big
# corpora) where its bounds actually prune.
_DENSE_GRAM_FLOPS_CAP = 1 << 33


def _tf_matrix(tf: DataFrame):
    """(ids, dense int64 rep × term matrix) collected from a
    (_id, term, _tf) frame — the one matrix build of both dense arms."""
    import numpy as np

    pdf = tf.select("_id", "term", "_tf").toPandas()
    ids = pd.Index(pdf["_id"].unique())
    term_codes, term_uniques = pd.factorize(pdf["term"])
    mat = np.zeros((len(ids), len(term_uniques)), dtype=np.int64)
    mat[ids.get_indexer(pdf["_id"]), term_codes] = pdf["_tf"].to_numpy(np.int64)
    return ids, mat


def _dense_all_pairs_gram(
    tf: DataFrame,
    threshold: float,
    a_col: str,
    b_col: str,
    bc_sink: "list | None" = None,
    rep_meta: "DataFrame | None" = None,
) -> "DataFrame | None":
    """Every qualifying rep pair straight from the dense tf matrix:
    block-wise Gram products distributed over the executors via
    ``mapInPandas`` against one broadcast of (ids, float64 matrix,
    sqrt-norms) — no prefix build, no candidate join, no per-pair
    aggregate.  Returns None when max ‖tf‖² ≥ 2⁵³, where float64
    accumulation could round (exactness: ``_cosine_prefix_join``).

    ``rep_meta`` (incremental form): (id → side, fingerprint) rows for
    every rep; only pairs involving a side-1 rep and with unequal
    fingerprints are emitted — the side-aware candidate join's pair
    set — each with the batch rep in ``a_col``.  Without it, pairs are
    emitted once per unordered pair in matrix order.  ``bc_sink``
    collects the broadcast for the caller to destroy."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = tf.sparkSession
    id_t = tf.schema["_id"].dataType
    schema = StructType(
        [
            StructField(a_col, id_t),
            StructField(b_col, id_t),
            StructField("cosine", DoubleType()),
        ]
    )
    ids, mat = _tf_matrix(tf)
    n = len(ids)
    if n < 2:
        # zero or one rep: no pairs by construction
        return spark.createDataFrame([], schema)
    nsq = np.einsum("ij,ij->i", mat, mat)
    if int(nsq.max()) >= (1 << 53):
        return None
    side = fpc = None
    if rep_meta is not None:
        meta = rep_meta.toPandas().set_index("_id").reindex(ids)
        if meta["_side"].isna().any():
            raise RuntimeError(
                "dense gram pairs: rep metadata must cover every tf id"
            )
        side = meta["_side"].to_numpy(np.int64)
        fpc = pd.factorize(meta["_fp"])[0]
    # float64 once on the driver (exact under the < 2^53 gate), so no
    # task copies the matrix
    bc = spark.sparkContext.broadcast(
        (ids, mat.astype(np.float64), np.sqrt(nsq.astype(np.float64)), side, fpc)
    )
    del mat
    if bc_sink is not None:
        bc_sink.append(bc)
    t = float(threshold)
    block = max(64, (1 << 23) // n)  # bounds each block's Gram slab
    n_blocks = (n + block - 1) // block

    def _gram(batches):
        b_ids, matf, sq, b_side, b_fpc = bc.value
        nn = len(b_ids)
        for pdf_blk in batches:
            for blk in pdf_blk["id"].to_numpy():
                lo = int(blk) * block
                hi = min(nn, lo + block)
                if lo >= hi:
                    continue
                dots = matf[lo:hi] @ matf.T  # exact ints (gated < 2^53)
                cos = dots / (sq[lo:hi, None] * sq[None, :])
                keep = cos >= t
                # strict upper triangle in matrix order: each
                # unordered pair once, no self pairs
                keep &= np.arange(nn)[None, :] > np.arange(lo, hi)[:, None]
                if b_side is not None:
                    keep &= (b_side[lo:hi, None] == 1) | (b_side[None, :] == 1)
                    keep &= b_fpc[lo:hi, None] != b_fpc[None, :]
                ii, jj = np.nonzero(keep)
                if not len(ii):
                    continue
                ga = ids_a = b_ids.take(ii + lo)
                gb = b_ids.take(jj)
                if b_side is not None:
                    # batch rep first (the expansion join's contract)
                    swap = b_side[ii + lo] != 1
                    ga = np.where(swap, gb, ids_a)
                    gb = np.where(swap, ids_a, gb)
                yield pd.DataFrame({a_col: ga, b_col: gb, "cosine": cos[ii, jj]})

    width = max(1, spark.sparkContext.defaultParallelism)
    blocks = spark.range(0, n_blocks, 1, min(n_blocks, width))
    return blocks.mapInPandas(_gram, schema)


def _verify_cosine_candidates(
    need: DataFrame,
    tf: DataFrame,
    threshold: float,
    a_col: str,
    b_col: str,
    dense: bool,
    bc_sink: "list | None" = None,
) -> DataFrame:
    """Exact verification of cosine prefix-join candidates.

    ``need``: (a_col, b_col, _nsqa, _nsqb) candidate pairs still
    requiring the full dot.  ``tf``: (_id, term, _tf) covering every
    id in ``need``.  Output: (a_col, b_col, cosine ≥ threshold).  Two
    arms with bit-identical results (pinned by test); the caller's
    dense gate picks one:

    - DENSE (``_verify_cosine_dense``): the rep matrix is broadcast
      and each Arrow batch of candidate pairs is two numpy row gathers
      and an int64 einsum — the same exact long, no join, no shuffle.
    - MAP: per-doc term maps semi-joined to candidate docs and a
      ``map_zip_with`` union dot (L2AP's forward index) —
      self-balancing for the Zipf/large-vocabulary regime where
      candidates are few and reps are many.

    ``bc_sink`` collects the dense arm's broadcast for the caller to
    destroy once its result is materialized."""
    t = float(threshold)
    if dense:
        return _verify_cosine_dense(need, tf, t, a_col, b_col, bc_sink)
    tmap = tf.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "_tf"))).alias("_m")
    )
    ma_ = tmap.select(F.col("_id").alias(a_col), F.col("_m").alias("_ma")).join(
        need.select(a_col), a_col, "left_semi"
    )
    mb_ = tmap.select(F.col("_id").alias(b_col), F.col("_m").alias("_mb")).join(
        need.select(b_col), b_col, "left_semi"
    )
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "_ma",
                "_mb",
                lambda k, x, y: F.when(x.isNotNull() & y.isNotNull(), x * y),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.coalesce(v, F.lit(0)),
    )
    return (
        need.select(a_col, b_col, "_nsqa", "_nsqb")
        .join(ma_, a_col)
        .join(mb_, b_col)
        .withColumn("cosine", dot / (F.sqrt("_nsqa") * F.sqrt("_nsqb")))
        .filter(F.col("cosine") >= t)
        .select(a_col, b_col, "cosine")
    )


def _verify_cosine_dense(
    need: DataFrame,
    tf: DataFrame,
    t: float,
    a_col: str,
    b_col: str,
    bc_sink: "list | None" = None,
) -> DataFrame:
    """Dense-matrix arm of ``_verify_cosine_candidates``.  The int64
    einsum stays integer: unlike the Gram kernel, no < 2⁵³ gate
    guards this path."""
    import numpy as np

    ids, mat = _tf_matrix(tf)
    bc = tf.sparkSession.sparkContext.broadcast((ids, mat))
    if bc_sink is not None:
        bc_sink.append(bc)

    @F.pandas_udf("double")
    def _dense_cos(
        it: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        b_ids, b_mat = bc.value  # once per task; batches share the lookup
        for a, b, nsqa, nsqb in it:
            ia = b_ids.get_indexer(a)
            ib = b_ids.get_indexer(b)
            if (ia < 0).any() or (ib < 0).any():
                raise RuntimeError(
                    "dense cosine verify: candidate id missing from the "
                    "tf matrix — the tf frame must cover every need id"
                )
            # exact int64 dot, then the same IEEE epilogue as the JVM
            dots = np.einsum("ij,ij->i", b_mat[ia], b_mat[ib])
            cos = dots.astype(np.float64) / (
                np.sqrt(nsqa.to_numpy(np.float64))
                * np.sqrt(nsqb.to_numpy(np.float64))
            )
            yield pd.Series(cos)

    return (
        need.select(a_col, b_col, "_nsqa", "_nsqb")
        .withColumn("cosine", _dense_cos(a_col, b_col, "_nsqa", "_nsqb"))
        .filter(F.col("cosine") >= t)
        .select(a_col, b_col, "cosine")
    )


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: fingerprint, dup_count, first id."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("first_doc"))
        .filter(F.col("dup_count") > 1)
    )


def prefix_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Docs sharing their first ``k`` tokens — boilerplate-opening
    dedup (prefix fingerprint), the cheap screen for template/header
    duplicates that whole-document hashing misses when tails differ.
    One shuffle on the prefix; group sizes bounded by template reuse."""
    prefix = F.concat_ws(" ", F.slice(tokens(text_col), 1, k))
    return (
        df.select(prefix.alias("prefix"), F.col(id_col))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("first_doc"))
        .filter(F.col("dup_count") > 1)
    )


def _shingle_array(text_col: str, n: int):
    """Distinct word-``n``-gram shingle hashes of a document as an
    ``array<bigint>`` column expression.

    Shingle identity is a chained xxhash64 over the n TOKEN hashes:
    each token string is hashed once, then shingle keys combine those
    longs pairwise — no per-shingle string concatenation (measured
    ~20% faster index build than hash-of-joined-string at sf0.1) and
    the shuffle moves fixed-width longs instead of ~20-byte strings.
    Set semantics are preserved (64-bit collisions are negligible).

    Built from n shifted slices zipped together, NOT per-position
    element_at inside a transform lambda: Spark does no common-
    subexpression elimination inside lambda bodies, so the element_at
    form re-derives the token array for every shingle position
    (measured ~6x slower at 5k docs).  The slice form evaluates the
    token array O(n) times per document, independent of length."""
    toks = tokens(text_col)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.size(th) - (n - 1)  # shingle count when size >= n
    parts = [F.slice(th, j + 1, m) for j in range(n)]
    acc = parts[0]
    for part in parts[1:]:
        acc = F.zip_with(acc, part, lambda a, b: F.xxhash64(a, b))
    sh = F.when(F.size(toks) >= n, acc).otherwise(
        F.array(F.xxhash64(F.concat_ws(" ", toks)))
    )
    return F.array_distinct(sh)


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle-hash) pairs, distinct within a doc (see
    ``_shingle_array`` for the shingle construction)."""
    return df.select(
        F.col(id_col).alias("_id"), F.explode(_shingle_array(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets for all candidate
    pairs sharing ≥1 shingle.  Output: (doc_a, doc_b, jaccard) with
    doc_a < doc_b and jaccard ≥ threshold.

    Shape (round-4 rework, ~35% faster than the exploded-index
    persist + post-join size-joins shape at sf0.1):
    - persist the DOC-LEVEL frame (id, distinct-shingle array) — one
      row per doc, so the cache is set-size-bounded and every later
      step re-derives what it needs from it without re-tokenizing;
    - per-doc set size is ``size(array)`` — a projection, replacing
      the groupBy-on-id shuffle over the full index;
    - sizes ride THROUGH the self-join and come out of the pair
      aggregation (min(a._n)), replacing two post-join size joins;
    - the doc-freq cap list is aggregated once from the cached docs
      and collected: empty → no-op, small → ``array_except`` with a
      literal array in the same projection, giant (pathological
      boilerplate corpus) → distributed broadcast anti-join fallback.
    Remaining shuffles: hot-list agg, self-join on shingle (one
    exchange, reused for both sides), pair agg on (doc_a, doc_b) —
    the minimum for an inverted-index join.

    The pair list (output) is tiny relative to the index, so it is
    materialized eagerly (localCheckpoint truncates lineage off the
    cache) and the doc frame unpersisted before returning — no
    SQL-cache-manager entries outlive the call.  Note localCheckpoint's
    own caveats: (a) this builder eagerly runs Spark jobs at
    construction time, and (b) the checkpoint's RDD blocks live in
    executor storage until the result is GC'd and are non-recomputable
    on executor loss — fine at fixture scale; at corpus scale write
    the pair list to parquet instead (same pattern as the signature
    table note in ``minhash_lsh_candidates``)."""
    doc_cached = df.select(
        F.col(id_col).alias("_id"), _shingle_array(text_col, n).alias("_sh")
    ).persist()
    # NB: later steps derive new frames from doc_cached; unpersist must
    # target the ORIGINAL persisted frame (unpersisting a withColumn
    # derivative silently leaves the cache entry behind — the leak
    # test_dedup_operators_leave_no_cached_dataframes pins with a
    # capped corpus)
    try:
        ds = _capped_index(doc_cached, max_doc_freq)
        return _pairs_from_index(ds, threshold).localCheckpoint(eager=True)
    finally:
        doc_cached.unpersist()


def _capped_index(doc: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Exploded (_id, _n, shingle) candidate index from a (persisted)
    doc-level (_id, _sh) frame, with the hot-shingle doc-frequency cap
    applied — the ONE copy of this machinery, shared by
    ``ngram_jaccard_pairs`` and ``ngram_jaccard_histogram`` so the
    cap/fallback behavior cannot drift between them (r10 review).
    Small hot list → ``array_except`` with a literal array in the same
    projection; giant list (pathological boilerplate corpus) →
    distributed broadcast anti-join with sizes re-aggregated
    post-filter."""
    if max_doc_freq is not None:
        hot_rows = (
            doc.select(F.explode("_sh").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
            .limit(_HOT_LIST_EXPR_CAP + 1)
            .collect()
        )
        if len(hot_rows) > _HOT_LIST_EXPR_CAP:
            raw = doc.select("_id", F.explode("_sh").alias("shingle"))
            hot = (
                raw.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_doc_freq)
                .select("shingle")
            )
            capped = raw.join(F.broadcast(hot), "shingle", "left_anti")
            sizes = capped.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
            return capped.join(sizes, "_id").select("_id", "_n", "shingle")
        if hot_rows:
            hot_lit = F.array(*[F.lit(int(r[0])) for r in hot_rows])
            doc = doc.withColumn("_sh", F.array_except("_sh", hot_lit))
    return doc.select(
        "_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("shingle")
    )


def _pair_counts_from_index(ds: DataFrame) -> DataFrame:
    """(doc_a, doc_b, _inter, _na, _nb) from an exploded
    (_id, _n, shingle) index: inverted-index self-join, sizes carried
    through the pair aggregation (min is exact — every row of a pair
    sees the same per-doc sizes)."""
    a = ds.alias("a")
    b = ds.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.min("a._n").alias("_na"),
            F.min("b._n").alias("_nb"),
        )
    )


def _pairs_from_index(ds: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs at or above ``threshold``."""
    return (
        _pair_counts_from_index(ds)
        .withColumn("jaccard", F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_histogram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
    bins: int = 10,
) -> DataFrame:
    """Jaccard distribution over ALL candidate pairs (≥1 shared
    shingle) — the calibration table consulted BEFORE choosing
    ``ngram_jaccard_pairs``' threshold: a bimodal histogram separates
    near-dups from incidental overlap; a fat middle says the
    threshold will be lossy either way.  Output: (bin, n_pairs) with
    ``bin = least(floor(bins·inter/union), bins−1)`` — the division's
    operands are exact integers, and a correctly-rounded double
    quotient with denominator ≤ set size cannot straddle an integer,
    so the bin (and hence the whole table) is engine-exact, unlike
    the raw jaccard doubles.  Shares ``_capped_index`` +
    ``_pair_counts_from_index`` with ``ngram_jaccard_pairs`` — same
    machinery, cost shape, AND giant-hot-list anti-join fallback."""
    doc_cached = df.select(
        F.col(id_col).alias("_id"), _shingle_array(text_col, n).alias("_sh")
    ).persist()
    try:
        pair = _pair_counts_from_index(_capped_index(doc_cached, max_doc_freq))
        union = F.col("_na") + F.col("_nb") - F.col("_inter")
        bin_col = F.least(
            F.floor(F.lit(bins) * F.col("_inter") / union), F.lit(bins - 1)
        ).cast("long")
        return (
            pair.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .localCheckpoint(eager=True)
        )
    finally:
        doc_cached.unpersist()


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact CONTAINMENT near-dup pairs: containment = |A∩B| /
    min(|A|,|B|) — the asymmetric metric that catches a small document
    embedded inside a large one (quotes, excerpts, chunk-of-page),
    which Jaccard structurally misses: a 100-shingle doc fully
    contained in a 10000-shingle doc has containment 1.0 but Jaccard
    ≈ 0.01 (Broder 1997 distinguishes resemblance from containment;
    this is the containment side).  Same inverted-index machinery,
    doc-frequency cap, and cost shape as ``ngram_jaccard_pairs``
    (shared ``_capped_index`` / ``_pair_counts_from_index``); output
    (doc_a, doc_b, containment) with doc_a < doc_b — int/int double
    division, oracle-exact."""
    doc_cached = df.select(
        F.col(id_col).alias("_id"), _shingle_array(text_col, n).alias("_sh")
    ).persist()
    try:
        pair = _pair_counts_from_index(_capped_index(doc_cached, max_doc_freq))
        out = (
            pair.withColumn(
                "containment", F.col("_inter") / F.least("_na", "_nb")
            )
            .filter(F.col("containment") >= threshold)
            .select("doc_a", "doc_b", "containment")
        )
        return out.localCheckpoint(eager=True)
    finally:
        doc_cached.unpersist()


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact WEIGHTED cosine-threshold all-pairs similarity join over
    term-frequency vectors — the frequency-aware member of the
    near-dup family (Bayardo, Ma, Srikant, "Scaling Up All Pairs
    Similarity Search", WWW 2007 is the published all-pairs shape;
    this is its inverted-index candidate layout on Spark).  Set-based
    Jaccard treats a term used once and fifty times identically;
    cosine over tf vectors catches rewrites that keep the WORD
    DISTRIBUTION (template fills, reorderings, paraphrase with shared
    vocabulary) and distinguishes docs that merely share vocabulary.

    Oracle-exactness with FLOAT output — why this is bit-exact when
    naive float similarity joins are not: every accumulation is
    INTEGER (dot = Σ tf_a·tf_b and the squared norms Σ tf² are exact
    longs in any summation order on both engines); the only float ops
    are two correctly-rounded sqrt's, one multiply, one divide — a
    fixed IEEE expression tree evaluated identically by Spark and
    DuckDB.  No dround anywhere.

    ``max_doc_freq`` is the same semantic cap as
    ``ngram_jaccard_pairs``: terms in more than the cap's docs are
    dropped from the VOCABULARY (norms and dots consistently — the
    metric becomes "cosine over non-boilerplate terms", which is also
    what you want: corpus-wide stopwords otherwise dominate tf mass
    and saturate similarities), and hot-term join skew never reaches
    the candidate join.  Output (doc_a, doc_b, cosine) with
    doc_a < doc_b and cosine ≥ threshold.

    ``threshold`` must be > 0: candidates are generated only from
    pairs SHARING a surviving term, so zero-cosine pairs (no common
    vocabulary, or docs emptied by the ``max_doc_freq`` cap) are
    structurally unreachable — a threshold ≤ 0 would silently drop
    qualifying pairs instead of returning them (r16 ADVICE), so it
    raises, mirroring the k ≥ 1 / max_dist ≥ 0 guards elsewhere in
    this module."""
    if not float(threshold) > 0.0:
        raise ValueError(
            "tf_cosine_pairs: threshold must be > 0 — zero-cosine pairs "
            "share no term and can never be generated by the term join"
        )
    tf_all = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .persist()
    )
    try:
        if max_doc_freq is not None:
            hot = (
                tf_all.groupBy("term")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_doc_freq)
                .select("term")
            )
            tf = tf_all.join(F.broadcast(hot), "term", "left_anti")
        else:
            tf = tf_all
        norms = tf.groupBy("_id").agg(
            F.sum(F.col("_tf") * F.col("_tf")).alias("_nsq")
        )
        withn = tf.join(norms, "_id")
        a, b = withn.alias("a"), withn.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.term") == F.col("b.term"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(
                F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")
            )
            .agg(
                F.sum(F.col("a._tf") * F.col("b._tf")).alias("_dot"),
                F.min("a._nsq").alias("_nsqa"),
                F.min("b._nsq").alias("_nsqb"),
            )
        )
        cos = F.col("_dot") / (F.sqrt("_nsqa") * F.sqrt("_nsqb"))
        out = (
            dots.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b", "cosine")
        )
        return out.localCheckpoint(eager=True)
    finally:
        tf_all.unpersist()


def _tag_sides(
    name: str,
    corpus: "DataFrame | None",
    batch: DataFrame,
    id_col: str,
    cols: list,
    threshold: float,
    at_most: "float | None" = None,
) -> "tuple[float, DataFrame]":
    """Entry of every prefix-filter join: the threshold guard, the
    disjoint-id guard (only when a ``corpus`` is given) and the
    side-tagged union of ``cols`` — ``_side`` 0 for corpus rows, 1 for
    batch rows; a self-join is a batch with no corpus.  Returns
    (float threshold, tagged frame).

    The threshold must be > 0 (and ≤ ``at_most`` when given):
    candidates come only from pairs sharing a term, so zero-overlap
    pairs are structurally unreachable and a threshold ≤ 0 would
    silently drop them instead of returning them."""
    t = float(threshold)
    if at_most is not None and not 0.0 < t <= at_most:
        raise ValueError(
            f"{name}: threshold must be in (0, {at_most:g}] — the prefix "
            f"bound is vacuous at t <= 0 and the metric never exceeds {at_most:g}"
        )
    if not t > 0.0:
        raise ValueError(
            f"{name}: threshold must be > 0 — zero-overlap pairs share no "
            "term and can never be generated by the prefix join"
        )
    tagged = batch.select(*cols, F.lit(1).alias("_side"))
    if corpus is None:
        return t, tagged
    ids = F.col(id_col)
    if corpus.select(ids).join(batch.select(ids), id_col, "left_semi").limit(1).count():
        raise ValueError(
            f"{name}: corpus and new_docs share ids — pair identity would "
            "be ambiguous; re-id the batch"
        )
    return t, corpus.select(*cols, F.lit(0).alias("_side")).unionByName(tagged)


def _doc_freq(has_corpus: bool):
    """The document-frequency aggregate that fixes a prefix join's
    global term order (ascending df, ties by term: rarest first, so hot
    terms stay out of prefixes — the skew-proofing).  With a corpus it
    counts corpus rows only: the order a persisted corpus index keeps
    for every future batch, batch-only terms ranking rarest at df 0.
    A self-join counts every row."""
    one = F.when(F.col("_side") == 0, F.lit(1)) if has_corpus else F.lit(1)
    return F.count(one).alias("_df")


def _partner(corpus_cond=None):
    """Join condition of the symmetric arm between a probe row ``a``
    (always batch) and an index row ``b``: a corpus partner (under
    ``corpus_cond`` when given), or a batch partner later in id order —
    every batch-involving unordered pair once, corpus × corpus never."""
    corpus = F.col("b._side") == 0
    if corpus_cond is not None:
        corpus = corpus & corpus_cond
    return corpus | ((F.col("b._side") == 1) & (F.col("a._id") < F.col("b._id")))


def _set_prefix_join(
    name: str,
    corpus: "DataFrame | None",
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    out_col: str,
    verify,
    cand_filter,
    role=None,
) -> DataFrame:
    """Exact set-similarity join by prefix filtering: the one body of
    ``prefix_jaccard_pairs``, ``prefix_containment_pairs`` and their
    ``_new_pairs`` twins.  Prefix filtering per Chaudhuri, Ganti,
    Kaushik (ICDE 2006) with the PPJoin length + positional filters
    (Xiao, Wang, Lin, Yu, WWW 2008), in the side-tagged single-pass
    MapReduce layout of Vernica, Carey, Li (SIGMOD 2010).

    Output (doc_a, doc_b, ``out_col``) with doc_a < doc_b, every pair
    involving a batch doc (all pairs for a self-join) whose exact
    ``verify(|A∩B|, |A|, |B|)`` ≥ threshold.  Per-metric pieces:
    ``verify``; ``cand_filter`` over the matching rows ``a``/``b``
    (columns _id, _side, _s = set size, _p = 1-based df rank);
    ``role``: None for a symmetric metric, else the (a, b) condition
    that puts a pair's prefix-indexed doc on ``a``.

    Prefix lemma: shingles rank by one global order (``_doc_freq``);
    if |A∩B| ≥ o then the globally first shared shingle lies within
    each doc's first s − o + 1 positions.  Both metrics need o ≥
    ceil(t·s) of the doc whose prefix is indexed (Jaccard: of either
    doc, as |A∪B| ≥ both sizes; containment: of the smaller doc), so every
    qualifying pair collides in prefix ⋈ prefix (Jaccard) or small-side
    prefix ⋈ large-side full postings (containment: a tiny doc inside a
    huge one can match on ANY of the huge doc's shingles).  Any one
    consistent order is sound, which is why the corpus-df order of an
    incremental join gives the same pairs as the union-df order of the
    self-join over corpus ∪ batch.

    Lossless-ward rounding: every float bound is relaxed in the safe
    direction (floor where the exact bound is a ceiling): the prefix is
    s − floor(t·s) + 1 ≥ s − ceil(t·s) + 1, and filters compare against
    floors — at worst a few extra candidates, all removed by the exact
    ``array_intersect`` verification, never a dropped pair at a 1-ulp
    boundary.  Jaccard's length filter is floor(t·max) ≤ min (J ≤
    min/max); the positional filter: a match at positions (pa, pb)
    leaves at most 1 + min(sa − pa, sb − pb) overlap, which must reach
    floor(t/(1+t)·(sa+sb)) (Jaccard) or floor(t·s_small)
    (containment).

    Candidates: the probe side is always batch prefix rows.  A
    symmetric metric needs one arm, prefix ⋈ prefix under
    ``_partner``; containment joins batch prefix × full postings and
    corpus prefix × batch full postings, both under ``role``.
    Corpus × corpus matches are never enumerated.  Caches (the doc
    frame and the ranked lists, each read by several subtrees) are
    released once the result is eagerly checkpointed."""
    t, doc = _tag_sides(
        name, corpus, batch, id_col,
        [F.col(id_col).alias("_id"), _shingle_array(text_col, n).alias("_sh")],
        threshold,
    )
    caches = [doc.persist()]
    try:
        exploded = doc.select("_id", "_side", F.explode("_sh").alias("shingle"))
        dfreq = exploded.groupBy("shingle").agg(_doc_freq(corpus is not None))
        ranked = (
            exploded.join(dfreq, "shingle")
            .groupBy("_id")
            .agg(
                F.min("_side").alias("_side"),
                F.count(F.lit(1)).alias("_s"),
                F.sort_array(
                    F.collect_list(F.struct(F.col("_df"), F.col("shingle")))
                ).alias("_ord"),
            )
            .persist()
        )
        caches.append(ranked)
        shingles = F.transform("_ord", lambda x: x["shingle"])
        plen = F.greatest(
            F.lit(1), F.col("_s") - F.floor(F.lit(t) * F.col("_s")).cast("int") + 1
        )

        def postings(side, prefix: bool, alias: str) -> DataFrame:
            rows = ranked if side is None else ranked.filter(F.col("_side") == side)
            arr = F.slice(shingles, 1, plen) if prefix else shingles
            return rows.select(
                "_id", "_side", "_s", F.posexplode(arr).alias("_pos0", "shingle")
            ).select(
                "_id", "_side", "_s", (F.col("_pos0") + 1).alias("_p"), "shingle"
            ).alias(alias)

        if role is None:
            arms = [(postings(1, True, "a"), postings(None, True, "b"), _partner())]
        else:
            arms = [(postings(1, True, "a"), postings(None, False, "b"), role)]
            if corpus is not None:
                arms.append((postings(0, True, "a"), postings(1, False, "b"), role))
        cand = None
        for a, b, cond in arms:
            arm = (
                a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & cond)
                .filter(cand_filter)
                .select(F.col("a._id").alias("_ida"), F.col("b._id").alias("_idb"))
            )
            cand = arm if cand is None else cand.unionByName(arm)
        sa = doc.select(F.col("_id").alias("_ida"), F.col("_sh").alias("_sha"))
        sb = doc.select(F.col("_id").alias("_idb"), F.col("_sh").alias("_shb"))
        inter = F.size(F.array_intersect("_sha", "_shb"))
        out = (
            cand.distinct()
            .join(sa, "_ida")
            .join(sb, "_idb")
            .select(
                F.least("_ida", "_idb").alias("doc_a"),
                F.greatest("_ida", "_idb").alias("doc_b"),
                verify(inter, F.size("_sha"), F.size("_shb")).alias(out_col),
            )
            .filter(F.col(out_col) >= t)
        )
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


# overlap still reachable after a match at 1-based positions (a._p, b._p)
def _overlap_left():
    return 1 + F.least(
        F.col("a._s") - F.col("a._p"), F.col("b._s") - F.col("b._p")
    )


def _jaccard_join(name, corpus, batch, id_col, text_col, n, threshold):
    t = float(threshold)
    alpha = F.lit(t / (1.0 + t)) * (F.col("a._s") + F.col("b._s"))
    return _set_prefix_join(
        name, corpus, batch, id_col, text_col, n, threshold, "jaccard",
        verify=lambda inter, sa, sb: inter / (sa + sb - inter),
        # length filter: J ≤ min/max; positional: overlap ≥ t/(1+t)·(sa+sb)
        cand_filter=(
            F.floor(F.lit(t) * F.greatest("a._s", "b._s")) <= F.least("a._s", "b._s")
        )
        & (_overlap_left() >= F.floor(alpha)),
    )


def _containment_join(name, corpus, batch, id_col, text_col, n, threshold):
    t = float(threshold)
    return _set_prefix_join(
        name, corpus, batch, id_col, text_col, n, threshold, "containment",
        verify=lambda inter, sa, sb: inter / F.least(sa, sb),
        # the required overlap comes from the small (prefix) side alone
        cand_filter=_overlap_left() >= F.floor(F.lit(t) * F.col("a._s")),
        # (size, id) order: each pair once, the smaller set on the prefix side
        role=(F.col("a._s") < F.col("b._s"))
        | ((F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id"))),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join over word-``n``-gram shingle
    sets: (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard ≥
    ``threshold`` (> 0, else ValueError).  Same contract as
    ``ngram_jaccard_pairs(max_doc_freq=None)`` with no doc-frequency
    cap, at a sub-quadratic cost: candidates come only from each doc's
    rarest shingles.  See ``_set_prefix_join`` for the algorithm and
    its soundness."""
    return _jaccard_join(
        "prefix_jaccard_pairs", None, df, id_col, text_col, n, threshold
    )


def prefix_jaccard_new_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental ``prefix_jaccard_pairs``: every pair at Jaccard ≥
    ``threshold`` that involves a ``new_docs`` doc — (new × corpus) ∪
    (new × new) — without the corpus self-join.  Bit-equal to the
    self-join over corpus ∪ batch restricted to batch-involving pairs.
    Shingles rank by CORPUS document frequency, so a corpus prefix
    index stays valid for every future batch.  Ids must be disjoint
    across the frames and ``threshold`` > 0 (ValueError otherwise).
    See ``_set_prefix_join``."""
    return _jaccard_join(
        "prefix_jaccard_new_pairs", corpus, new_docs, id_col, text_col, n, threshold
    )


def prefix_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT containment-threshold self-join, containment =
    |A∩B| / min(|A|, |B|) — the asymmetric metric that catches an
    excerpt inside a larger page, which Jaccard misses (Broder 1997):
    (doc_a, doc_b, containment) with doc_a < doc_b and containment ≥
    ``threshold`` (> 0, else ValueError).  Same contract as
    ``ngram_containment_pairs(max_doc_freq=None)`` with no cap: a
    template shingle above a cap can be the excerpt's evidence.  See
    ``_set_prefix_join``."""
    return _containment_join(
        "prefix_containment_pairs", None, df, id_col, text_col, n, threshold
    )


def prefix_containment_new_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Incremental ``prefix_containment_pairs``: every pair at
    containment ≥ ``threshold`` that involves a ``new_docs`` doc, in
    either role — a new excerpt inside an old page and an old excerpt
    inside a new page are both found.  Bit-equal to the self-join over
    corpus ∪ batch restricted to batch-involving pairs; corpus-df term
    order; ids must be disjoint and ``threshold`` > 0 (ValueError
    otherwise).  See ``_set_prefix_join``."""
    return _containment_join(
        "prefix_containment_new_pairs", corpus, new_docs, id_col, text_col, n, threshold
    )


def _cosine_prefix_join(
    name: str,
    corpus: "DataFrame | None",
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    dense_verify_cells_cap: "int | None",
) -> DataFrame:
    """Exact weighted-cosine all-pairs join over term-frequency
    vectors: the one body of ``cosine_prefix_pairs`` (a batch with no
    corpus) and ``cosine_prefix_new_pairs``.  All-pairs prefix bounds
    per Bayardo, Ma, Srikant (WWW 2007), candidate-time bounds per
    L2AP (Anastasiu & Karypis, ICDE 2014), in the side-tagged layout
    of ``_set_prefix_join``.  Output (doc_a, doc_b, cosine), doc_a <
    doc_b, every batch-involving pair with cosine ≥ threshold.

    Exact values: dot = Σ tf_a·tf_b and the squared norms are exact
    longs; the only float ops are two correctly-rounded sqrts, one
    multiply and one divide, dot / (√nsq_a·√nsq_b) — the same IEEE
    expression tree on every path here and in the oracle.

    Identity collapse: docs with identical tf vectors (md5 of the
    sorted (term, tf) JSON) collapse to one representative per
    (side, fingerprint) — reps stay side-pure, so a corpus index is
    corpus rows only.  Equal vectors share every dot and norm, so a
    cross pair reuses its rep pair's cosine verbatim, and a
    same-fingerprint pair gets nsq/(√nsq·√nsq) under the threshold
    filter — not a literal 1.0, which at t = 1.0 can differ from the
    oracle's identical expression.  A g-clone group costs g²
    expansion rows instead of inflating every posting list by g.

    Prefix rule, per side: terms rank by ``_doc_freq``; x̂ = tf/‖tf‖.
    A suffix S may be skipped when a bound on its contribution to any
    cos(x, y) is < t.  Cauchy–Schwarz, Σ_S x̂·ŷ ≤ sqrt(tail_sq/nsq),
    is partner-free: corpus prefixes use it alone, so they stay valid
    against any future batch.  Batch prefixes also use Bayardo's
    Σ_S x̂_i·maxw(i), maxw(i) = max over corpus ∪ batch of ŷ_i.  Both
    bounds fall along the order, so each kept set is a true prefix,
    and a qualifying pair's first shared term lies in both prefixes
    (else every shared term sits in a suffix under a failing bound).
    Float bounds are relaxed multiplicatively — dropped only below
    t·(1 − 1e-9) — because long·long products can pass 2⁵³ where the
    set join's floor() trick loses precision.

    Candidates (one ``_partner`` arm over prefix ⋈ prefix, corpus
    partners only at an unequal fingerprint) group per pair into the
    exact partial dot over shared prefix terms, the first match's tail
    product (positional filter: tail_a·tail_b ≥ t²·nsq_a·nsq_b) and
    the tails strictly after the last match (L2AP: pdot +
    sqrt(ta·tb) ≥ t·‖a‖·‖b‖).  Tails fall on both sides, so these are
    separable min/max/sum aggregates.  Both tails-after zero means
    pdot is the dot (no verification); other survivors verify in
    ``_verify_cosine_candidates``.

    Dense regimes, decided by one gate aggregate over the rep tf
    (n_reps·n_terms ≤ cap and the collected bytes ≤ 8·cap): the dense
    verify arm, and — when n_reps²·n_terms ≤ _DENSE_GRAM_FLOPS_CAP —
    no prefix machinery at all: ``_dense_all_pairs_gram`` takes every
    qualifying rep pair from block Gram products in float64 BLAS.
    Every accumulated value is an integer ≤ max ‖tf‖², and the kernel
    declines (the prefix path runs) unless that is < 2⁵³, so each
    partial sum is exact and the product equals the long dot.
    ``dense_verify_cells_cap=0`` forces the prefix path with map
    verification."""
    from pyspark.sql import Window

    has_c = corpus is not None
    t, tagged = _tag_sides(
        name, corpus, batch, id_col,
        [F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("term")],
        threshold, at_most=1.0,
    )
    t_relaxed = t * (1.0 - 1e-9)
    tsq_relaxed = t * t * (1.0 - 1e-9)
    tf_all = (
        tagged.groupBy("_id", "_side", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .persist()
    )
    caches = [tf_all]
    bc_sink: list = []
    try:
        vecfp = tf_all.groupBy("_id").agg(
            F.min("_side").alias("_side"),
            F.md5(
                F.to_json(F.sort_array(F.collect_list(F.struct("term", "_tf"))))
            ).alias("_fp"),
            F.sum(F.col("_tf") * F.col("_tf")).alias("_vnsq"),
        )
        groups = vecfp.groupBy("_side", "_fp").agg(
            F.min("_id").alias("_rep"),
            F.count(F.lit(1)).alias("_g"),
            F.min("_vnsq").alias("_gnsq"),
        )
        members = (
            vecfp.join(groups.select("_side", "_fp", "_rep"), ["_side", "_fp"])
            .select("_side", "_fp", "_id", "_rep")
            .persist()
        )
        tf = tf_all.join(
            members.filter(F.col("_id") == F.col("_rep")).select("_id"),
            "_id",
            "left_semi",
        ).persist()
        caches += [members, tf]
        tf3 = tf.select("_id", "term", "_tf")

        def _expand(rep_pairs: DataFrame) -> DataFrame:
            # (_ida batch rep, _idb any rep, cosine) → member pairs
            mem_n = members.filter(F.col("_side") == 1)
            cross = (
                rep_pairs.join(
                    mem_n.select(F.col("_rep").alias("_ida"), F.col("_id").alias("_xa")),
                    "_ida",
                )
                .join(
                    members.select(F.col("_rep").alias("_idb"), F.col("_id").alias("_xb")),
                    "_idb",
                )
                .select(
                    F.least("_xa", "_xb").alias("doc_a"),
                    F.greatest("_xa", "_xb").alias("doc_b"),
                    "cosine",
                )
            )
            # same-fingerprint pairs involving a batch member
            bm = mem_n.select("_fp", F.col("_id").alias("_xa")).join(
                groups.filter(F.col("_side") == 1).select("_fp", "_gnsq"), "_fp"
            )
            intra = bm.join(
                mem_n.select("_fp", F.col("_id").alias("_xb")), "_fp"
            ).filter(F.col("_xa") < F.col("_xb"))
            if has_c:
                intra = intra.unionByName(
                    bm.join(
                        members.filter(F.col("_side") == 0).select(
                            "_fp", F.col("_id").alias("_xb")
                        ),
                        "_fp",
                    )
                )
            intra = (
                intra.withColumn(
                    "cosine", F.col("_gnsq") / (F.sqrt("_gnsq") * F.sqrt("_gnsq"))
                )
                .filter(F.col("cosine") >= t)
                .select(
                    F.least("_xa", "_xb").alias("doc_a"),
                    F.greatest("_xa", "_xb").alias("doc_b"),
                    "cosine",
                )
            )
            return cross.unionByName(intra).localCheckpoint(eager=True)

        cap = dense_verify_cells_cap
        cap = _DENSE_VERIFY_CELLS_CAP if cap is None else int(cap)
        dense = gram = False
        if cap > 0:
            dims = tf.agg(
                F.countDistinct("_id").alias("_nd"),
                F.countDistinct("term").alias("_nt"),
                F.count(F.lit(1)).alias("_np"),
                F.sum(F.length("term")).alias("_tl"),
            ).first()
            n_docs, n_terms = int(dims["_nd"] or 0), int(dims["_nt"] or 0)
            est_bytes = int(dims["_tl"] or 0) + 16 * int(dims["_np"] or 0)
            dense = n_docs * n_terms <= cap and est_bytes <= 8 * cap
            gram = dense and n_docs * n_docs * n_terms <= _DENSE_GRAM_FLOPS_CAP
        reps = groups.select(F.col("_rep").alias("_id"), "_side", "_fp")
        if gram:
            pairs = _dense_all_pairs_gram(
                tf3, t, "_ida", "_idb", bc_sink, rep_meta=reps if has_c else None
            )
            if pairs is not None:
                return _expand(pairs)
        norms = tf.groupBy("_id").agg(F.sum(F.col("_tf") * F.col("_tf")).alias("_nsq"))
        withn = tf.join(norms, "_id")
        stats = withn.groupBy("term").agg(
            _doc_freq(has_c), F.max(F.col("_tf") / F.sqrt("_nsq")).alias("_maxw")
        )
        ranked = (
            withn.join(stats, "term")
            .groupBy("_id")
            .agg(
                F.min("_side").alias("_side"),
                F.min("_nsq").alias("_nsq"),
                F.sort_array(
                    F.collect_list(F.struct("_df", "term", "_tf", "_maxw"))
                ).alias("_ord"),
            )
        )
        pos = ranked.select(
            "_id", "_side", "_nsq", F.posexplode("_ord").alias("_pos0", "_e")
        )
        # suffix-inclusive running sums; the groupBy above already
        # hash-distributed on _id, so the window adds no exchange
        w = (
            Window.partitionBy("_id")
            .orderBy("_pos0")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        scanned = pos.select(
            "_id",
            "_side",
            "_nsq",
            F.col("_e.term").alias("term"),
            F.col("_e._tf").alias("_tf"),
            F.sum(F.col("_e._tf") * F.col("_e._tf")).over(w).alias("_tail"),
            F.sum(
                (F.col("_e._tf") / F.sqrt("_nsq")) * F.col("_e._maxw")
            ).over(w).alias("_bsum"),
        )
        pref = scanned.filter(
            (F.col("_tail") >= F.lit(tsq_relaxed) * F.col("_nsq"))
            & ((F.col("_side") == 0) | (F.col("_bsum") >= F.lit(t_relaxed)))
        )
        partner = _partner()
        if has_c:
            # same-vector rep pairs across the sides belong to the
            # intra path of the expansion
            pref = pref.join(reps.select("_id", "_fp"), "_id")
            partner = _partner(F.col("a._fp") != F.col("b._fp"))
        pref = pref.persist()
        caches.append(pref)
        a = pref.filter(F.col("_side") == 1).alias("a")
        b = pref.alias("b")
        matched = a.join(b, (F.col("a.term") == F.col("b.term")) & partner).select(
            F.col("a._id").alias("_ida"),
            F.col("b._id").alias("_idb"),
            F.col("a._nsq").alias("_nsqa"),
            F.col("b._nsq").alias("_nsqb"),
            (F.col("a._tf") * F.col("b._tf")).alias("_pp"),
            # double on both sides: long*long wraps past 2^63
            (F.col("a._tail").cast("double") * F.col("b._tail")).alias("_fprod"),
            (F.col("a._tail") - F.col("a._tf") * F.col("a._tf")).alias("_taa"),
            (F.col("b._tail") - F.col("b._tf") * F.col("b._tf")).alias("_tab"),
        )
        cand = (
            matched.groupBy("_ida", "_idb")
            .agg(
                F.min("_nsqa").alias("_nsqa"),
                F.min("_nsqb").alias("_nsqb"),
                F.sum("_pp").alias("_pdot"),
                F.max("_fprod").alias("_fprod"),
                F.min("_taa").alias("_lta"),
                F.min("_tab").alias("_ltb"),
            )
            .filter(
                (F.col("_fprod") >= F.lit(tsq_relaxed) * F.col("_nsqa") * F.col("_nsqb"))
                & (
                    F.col("_pdot").cast("double")
                    + F.sqrt(F.col("_lta").cast("double") * F.col("_ltb"))
                    >= F.lit(t_relaxed)
                    * F.sqrt(F.col("_nsqa").cast("double") * F.col("_nsqb"))
                )
            )
            .persist()
        )
        caches.append(cand)
        done = (F.col("_lta") == 0) & (F.col("_ltb") == 0)
        exact_done = (
            cand.filter(done)
            .withColumn("cosine", F.col("_pdot") / (F.sqrt("_nsqa") * F.sqrt("_nsqb")))
            .filter(F.col("cosine") >= t)
            .select("_ida", "_idb", "cosine")
        )
        verified = _verify_cosine_candidates(
            cand.filter(~done), tf3, t, "_ida", "_idb", dense, bc_sink
        )
        return _expand(exact_done.unionByName(verified))
    finally:
        # the eager checkpoint has materialized every row that needed
        # a cache or the dense broadcast
        for c in caches:
            c.unpersist()
        for bc in bc_sink:
            bc.destroy()


def cosine_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    dense_verify_cells_cap: "int | None" = None,
) -> DataFrame:
    """EXACT weighted-cosine self-join over term-frequency vectors with
    no vocabulary cap: (doc_a, doc_b, cosine) with doc_a < doc_b and
    cosine ≥ ``threshold`` (in (0, 1], else ValueError).  Same contract
    as ``tf_cosine_pairs(max_doc_freq=None)``, bit-exact, at a
    candidate-bounded cost.  ``dense_verify_cells_cap`` (default
    ``_DENSE_VERIFY_CELLS_CAP``; 0 disables) gates the dense paths.
    See ``_cosine_prefix_join``."""
    return _cosine_prefix_join(
        "cosine_prefix_pairs", None, df, id_col, text_col, threshold,
        dense_verify_cells_cap,
    )


def cosine_prefix_new_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    dense_verify_cells_cap: "int | None" = None,
) -> DataFrame:
    """Incremental ``cosine_prefix_pairs``: every pair at cosine ≥
    ``threshold`` that involves a ``new_docs`` doc, without the corpus
    self-join; bit-equal to the self-join over corpus ∪ batch
    restricted to batch-involving pairs.  Corpus prefixes use only the
    partner-free bound, so a corpus index stays valid for every future
    batch.  Ids must be disjoint and ``threshold`` in (0, 1]
    (ValueError otherwise).  See ``_cosine_prefix_join``."""
    return _cosine_prefix_join(
        "cosine_prefix_new_pairs", corpus, new_docs, id_col, text_col, threshold,
        dense_verify_cells_cap,
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "text",
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """EXACT approximate-string self-join: pairs whose ``str_col``
    values are within Levenshtein distance ``max_dist`` — the fuzzy
    twin of exact-prefix dedup (catches the typo'd header / OCR slip /
    near-identical title that byte equality misses).  NEW family:
    edit-distance join; no reference-repo counterpart.

    Published design: q-gram filtering per Gravano et al., "Approximate
    String Joins in a Database (Almost) for Free" (VLDB 2001), with
    candidate generation upgraded to the Ed-Join PREFIX index (Xiao,
    Wang, Lin, "Ed-Join: an efficient algorithm for similarity joins
    with edit distance constraints", VLDB 2008):
      - LENGTH filter: ed(a,b) ≤ d ⇒ |len(a) − len(b)| ≤ d (applied
        inside the candidate join);
      - PREFIX index: d edits destroy at most q·d q-gram OCCURRENCES,
        so |multiset ∩| ≥ max(|Ga|,|Gb|) − q·d — the overlap-threshold
        prefix lemma then says each string need index only its
        q·d + 1 RAREST gram occurrences (ranked by global occurrence
        frequency, ties by gram value): the rarest common occurrence of
        any qualifying pair lies in BOTH prefixes.  Hot q-grams (the
        skew that makes a full posting join quadratic — the r16 10×
        sweep OOM'd on exactly that shape at 500k strings) sort to the
        df-ranked tail and never reach the candidate join at all.
      - SHORT-STRING bucket: when max(len) < q·(d+1) the mismatch
        bound is vacuous and a qualifying pair can share NO q-gram at
        all (a string shorter than q has no q-grams) — every such pair
        has BOTH members short (ed ≤ d bounds the partner's length),
        so strings below that bound are compared all-pairs among
        themselves, a domain-bounded bucket.
    Survivors of either path are verified with the exact built-in
    ``levenshtein`` — integer output, engine-exact vs the NOT-EXISTS-
    free quadratic oracle.

    Cost shape: the candidate join touches only (q·d + 1) occurrences
    per string, all drawn from the globally RAREST grams, so postings
    lists stay short by construction; the short bucket is |shorts|²,
    bounded by the domain of sub-q·(d+1)-char strings.  Output
    (id_a, id_b, edit_distance) with id_a < id_b, distance ≤ d; NULL
    strings excluded."""
    d = int(max_dist)
    if d < 0:
        raise ValueError("max_dist must be >= 0")
    qq = int(q)
    if qq < 1:
        raise ValueError("q must be >= 1")
    # the base frame feeds five subtrees (shorts x2, grams, va, vb) and
    # the gram index self-joins — persist both so the scan + substring
    # explode run once each, not once per alias (file convention; the
    # SCALING.md join-alias re-derivation lesson)
    s = (
        df.filter(F.col(str_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
        .withColumn("_len", F.length("_s"))
        .persist()
    )
    try:
        short_bound = qq * (d + 1)
        shorts = s.filter(F.col("_len") < short_bound)
        grams = s.filter(F.col("_len") >= qq).select(
            "_id",
            "_len",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("_len") - qq + 1),
                    lambda i: F.col("_s").substr(i, F.lit(qq)),
                )
            ).alias("_g"),
        )
        # Ed-Join prefix: rank every gram OCCURRENCE by (global
        # occurrence count, gram), keep the q*d + 1 rarest per string —
        # persisted because the prefix index self-joins as a/b
        dfreq = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
        pidx = (
            grams.join(dfreq, "_g")
            .groupBy("_id", "_len")
            .agg(
                F.slice(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_df"), F.col("_g")))
                    ),
                    1,
                    qq * d + 1,
                ).alias("_pref")
            )
            .select(
                "_id",
                "_len",
                F.explode(F.transform("_pref", lambda x: x["_g"])).alias("_g"),
            )
            .persist()
        )
        try:
            a, b = pidx.alias("a"), pidx.alias("b")
            cand = (
                a.join(
                    b,
                    (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._id") < F.col("b._id"))
                    & (
                        F.abs(F.col("a._len") - F.col("b._len")) <= d
                    ),
                )
                .select(
                    F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                )
            )
            sa = shorts.select(F.col("_id").alias("id_a"), F.col("_len").alias("_la"))
            sb = shorts.select(F.col("_id").alias("id_b"), F.col("_len").alias("_lb"))
            short_pairs = sa.join(
                sb,
                (F.col("id_a") < F.col("id_b"))
                & (F.abs(F.col("_la") - F.col("_lb")) <= d),
            ).select("id_a", "id_b")
            allcand = cand.unionByName(short_pairs).distinct()
            va = s.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
            vb = s.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
            out = (
                allcand.join(va, "id_a")
                .join(vb, "id_b")
                .withColumn("edit_distance", F.levenshtein("_sa", "_sb"))
                .filter(F.col("edit_distance") <= d)
                .select("id_a", "id_b", "edit_distance")
            )
            return out.localCheckpoint(eager=True)
        finally:
            pidx.unpersist()
    finally:
        s.unpersist()


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Test-set decontamination signal: for each eval document, how many
    of its distinct word n-grams also appear anywhere in the training
    corpus.  Output (doc_id, shared_shingles, total_shingles,
    contamination) for eval docs with ≥1 shared shingle.

    Shape: the train shingle VOCABULARY (distinct shingles — far
    smaller than the (doc, shingle) index) joins the eval index on the
    hashed shingle; one shuffle each side, partial-agg friendly.  At
    corpus scale, persist the train vocabulary once and reuse it across
    eval sets."""
    tr_vocab = _doc_shingles(train, id_col, text_col, n).select("shingle").distinct()
    ev = _doc_shingles(eval_df, id_col, text_col, n)
    sizes = ev.groupBy("_id").agg(F.count(F.lit(1)).alias("total_shingles"))
    shared = ev.join(tr_vocab, "shingle").groupBy("_id").agg(
        F.count(F.lit(1)).alias("shared_shingles")
    )
    return (
        shared.join(sizes, "_id")
        .select(
            F.col("_id").alias(id_col),
            "shared_shingles",
            "total_shingles",
            (F.col("shared_shingles") / F.col("total_shingles")).alias("contamination"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, k: int = 32
) -> DataFrame:
    """K min-hashes per doc: explode shingles once, hash each (shingle,
    seed) pair exactly once, min-aggregate per doc.

    Deliberately NOT k array_min(transform(...)) expressions over the
    shingle array — projection collapse would inline (and recompute)
    the shingle derivation k times, which measured ~20x slower.  The
    explode shape costs one shuffle on the doc id but hashes each
    shingle k times total and keeps every operator in codegen."""
    ds = _doc_shingles(df, id_col, text_col, n)
    hashed = ds.select(
        "_id", *[F.xxhash64(F.lit(seed), F.col("shingle")).alias(f"_h{seed}") for seed in range(k)]
    )
    agg = hashed.groupBy("_id").agg(*[F.min(f"_h{seed}").alias(f"_m{seed}") for seed in range(k)])
    return agg.select("_id", F.array(*[F.col(f"_m{seed}") for seed in range(k)]).alias("signature"))


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH band keys per doc — (_id, signature, band, bucket), one row
    per (doc, band), bucket = hash of the band's signature rows (the
    banding of ``minhash_lsh_candidates``)."""
    rows = k // bands
    sigs = minhash_signatures(df, id_col, text_col, n, k)
    return sigs.select(
        "_id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(F.concat_ws(",", *[F.col("signature")[bi * rows + r] for r in range(rows)])).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "signature", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH-banded candidate pairs: docs agreeing on all rows of ≥1 band.
    Output (doc_a, doc_b, est_jaccard) where est_jaccard = fraction of
    the K min-hashes that agree (unbiased Jaccard estimate)."""
    banded = minhash_bands(df, id_col, text_col, n, k, bands)
    # deliberately NOT persisted: the banded signatures are wide rows
    # (k-long arrays) whose cache write costs more than recomputing the
    # codegen hash pipeline for the join's second side (measured ~25%
    # slower persisted at sf0.1); at corpus scale, materialize the
    # signature table to parquet once and join from that instead.
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a.signature").alias("sa"),
            F.col("b.signature").alias("sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.round(
        F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m))
        / F.lit(float(k)),
        4,
    )
    return pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: each token votes ±1 on every bit of
    its xxhash64; signature bit i is 1 iff the vote sum is positive.
    Entirely array expressions — one projection, no shuffle.  (The
    per-bit shift counts are Python ints because Spark's shiftleft/
    shiftright wrappers take literal bit counts.)"""
    from functools import reduce

    toks = tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") for i in range(64)]),
            lambda a, bit: a + F.when(bit == F.lit(1), F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    with_votes = df.select(F.col(id_col), votes.alias("_votes"))
    bit_terms = [
        F.when(F.element_at(F.col("_votes"), i + 1) > 0, F.shiftleft(F.lit(1).cast("long"), i))
        .otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    sig = reduce(lambda a, b: a.bitwiseOR(b), bit_terms)
    return with_votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs sharing an identical SimHash (near-dup at Hamming 0)."""
    return (
        simhash_signatures(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("first_doc"))
        .filter(F.col("dup_count") > 1)
    )
