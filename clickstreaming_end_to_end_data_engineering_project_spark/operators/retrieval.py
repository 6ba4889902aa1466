"""Lexical retrieval: BM25 scoring and reciprocal-rank fusion — the
keyword half of a retrieval stack whose vector half is
operators/similarity.py.  Together they give hybrid search: BM25 for
exact-term recall, ANN for semantic recall, RRF to fuse without score
calibration (Robertson et al. TREC-3 BM25; Cormack et al. 2009 RRF).

Scale shape: one corpus tokenize computes document lengths; the term
match is a FILTERED explode (only query terms survive the flatMap, so
the shuffled frame is |matching (doc, term)| rows, never the full
token stream); df/idf live on a |query|-sized frame broadcast back.
Top-k is TakeOrderedAndProject.  Nothing here depends on a corpus-wide
index — but the (doc, term, tf) frame IS the posting-list fragment a
persisted inverted index would serve, so the operator drops onto one
directly.

Cross-engine determinism (BM25 is float-heavy; the discipline is the
repo's standard): idf is dround(12) right after ln() (ln is NOT
correctly rounded across libms — the bigram_collocations lesson);
every literal enters SQL as CAST(... AS DOUBLE) (DuckDB parses bare
numerics as exact DECIMALs — the daily_revenue_ewma lesson); the
per-doc sum over matched terms is dround(6); ranking ties break on
doc_id so equal scores order identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import segstore
from .text import tokens


def _qtf_col(query_terms: list[str]):
    """Query-term-frequency as a LITERAL ``CASE _t`` expression — a
    |distinct query terms|-branch conditional, not a broadcast join
    (the joined 4-row frame measured a steady +0.25 s per execution:
    one extra stage + driver round-trip for driver-sized data that
    belongs in the plan as literals).  Counts are exact-integer-valued
    doubles (multiplication by them is deterministic, and by
    exactly-1.0 is bit-neutral).  No ``otherwise``: callers filter to
    the query terms first, so a non-matching row is a bug and surfaces
    as a NULL score rather than a silently wrong one."""
    from collections import Counter

    return _per_term({t: float(n) for t, n in Counter(query_terms).items()}, "_qtf")


def _per_term(values: dict, alias: str):
    """``values[_t]`` as a literal ``CASE _t`` column (no ``otherwise``)."""
    col = None
    for t, v in values.items():
        cond = F.col("_t") == t
        col = F.when(cond, v) if col is None else col.when(cond, v)
    return col.alias(alias)


def _empty_bm25_result(ids: DataFrame, id_col: str) -> DataFrame:
    """Zero-row frame with the (id, n_matched_terms, bm25_score) result
    schema — what an empty query scores (the pre-r12 contract, restored
    per the r13 advisory: ``_qtf_col([])`` cannot build a CASE)."""
    return ids.select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_matched_terms"),
        F.lit(0.0).alias("bm25_score"),
    ).limit(0)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    eligible=None,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query by BM25
    (Lucene-style non-negative idf: ln(1 + (N − df + 0.5)/(df + 0.5))).
    Bag semantics are real (r12 advisory): a term repeated in
    ``query_terms`` multiplies its per-term contribution by its query
    frequency, the standard BM25 query weighting — not collapsed to set
    semantics.  ``n_matched_terms`` counts DISTINCT matched terms
    (Lucene's coordination count).  Output: (doc_id, n_matched_terms,
    bm25_score), ordered by (score desc, doc_id).  An EMPTY query
    returns an empty frame with the same schema (nothing can match
    nothing) — short-circuited up front because ``_qtf_col`` has no
    CASE branches to build for zero terms (r13 advisory).

    ``eligible`` (r15, the r16 queue): an optional predicate (Column or
    SQL string) restricting which docs may be RANKED — Lucene's
    filtered-query semantics: corpus statistics (N, avgdl, df) stay
    COLLECTION-WIDE, so an eligible doc's score is identical with and
    without the filter (pinned by test), and only the ranking pool
    shrinks.  Filtering before the rank (not after the top-k) keeps
    the k-rows contract; filtering the stats too would silently change
    every score and make filtered results incomparable across
    filters."""
    if not query_terms:
        return _empty_bm25_result(docs.select(F.col(id_col)), id_col)
    # (doc_id, doc_len) and (doc_id, term, tf) are each consumed by TWO
    # derivations (corpus stats + the score join; df + the score join),
    # so both are MATERIALIZED — unmaterialized, the digest showed the
    # corpus tokenization executing once per reference (the
    # source_unigram_kl lesson).  dl is (id, int) per doc — orders of
    # magnitude under the token stream it replaces; matched is the
    # posting-list fragment for |query| terms.
    dl = (
        docs.select(F.col(id_col), F.size(tokens(text_col)).alias("_dl"))
        .filter(F.col("_dl") > 0)
        .localCheckpoint()
    )
    # N and avgdl: one tiny agg broadcast back (exact-int division)
    corpus = dl.agg(
        F.count(F.lit(1)).alias("_N"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    terms = list(dict.fromkeys(query_terms))
    matched = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
        .filter(F.col("_t").isin(terms))
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .localCheckpoint()
    )
    # df is computed from the UNFILTERED posting fragment — the
    # collection-wide statistic the eligibility filter must not touch
    df_ = matched.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    if eligible is not None:
        pred = F.expr(eligible) if isinstance(eligible, str) else eligible
        matched = matched.join(
            docs.filter(pred).select(F.col(id_col)), id_col, "left_semi"
        )
    scored = (
        matched.join(F.broadcast(df_), "_t")
        .withColumn("_qtf", _qtf_col(query_terms))
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    return _score_and_rank(scored, id_col, k, k1, b)


def _score_and_rank(scored: DataFrame, id_col: str, k: int, k1: float, b: float) -> DataFrame:
    """Shared scoring tail over (_tf, _df, _qtf, _N, _avgdl, _dl) — ONE
    copy of the BM25 expression tree, so the in-memory operator and the
    written-index probe are bit-equal by construction.  ``_qtf`` scales
    each term's contribution by its query-term frequency (1.0 for
    every term of a duplicate-free query — multiplication by exactly
    1.0 is an IEEE no-op, so set-style queries are bit-unchanged)."""
    from ..functions import dround

    idf = dround(
        F.log(
            F.lit(1.0)
            + (F.col("_N") - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        ),
        12,
    )
    part = F.col("_qtf") * (
        idf
        * (F.col("_tf") * F.lit(k1 + 1.0))
        / (
            F.col("_tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            dround(F.sum(part), 6).alias("bm25_score"),
        )
        .orderBy(F.col("bm25_score").desc(), F.col(id_col))
        .limit(k)
    )


def _term_bucket(term: str, n_buckets: int) -> int:
    """crc32(term) % n_buckets — computable identically driver-side
    (zlib.crc32) and engine-side (F.crc32), so a probe can name its
    partitions without touching the cluster."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def write_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Materialize the inverted index ``bm25_topk`` builds on the fly —
    the written-retrieval member of the written-index family.  The
    layout is SEGMENTED (Lucene's increment model): every build/append
    is one ``batch=<id>`` increment, and corpus statistics are stored
    as mergeable per-segment sums, so appending a day's documents
    writes one new segment instead of rebuilding the corpus index:

    - ``batch=<id>/bucket=<b>/``: posting rows (doc_id, term, tf, dl)
      with ``bucket = crc32(term) % n_buckets`` — a probe statically
      prunes to the query terms' buckets (the second-level partition
      column prunes regardless of how many batches exist) and reads
      |query|/n_buckets of the postings, never the corpus.  The
      document length rides IN every posting row (Lucene's
      norms-in-postings), so the probe scores from the pruned
      partitions alone.
    - ``_termstats/batch=<id>/``: (_t, _df) per segment.  Document
      frequencies over disjoint doc sets ADD, so the probe sums the
      query terms' rows across segments.
    - ``_doclens/batch=<id>/``: (doc_id, _dl) — the membership table
      appends and deletes read.
    - ``_bm25_params/batch=<id>/``: 1 row (n_docs, sum_dl, n_buckets)
      per segment; the probe derives N = Σ n_docs and avgdl =
      Σ sum_dl / Σ n_docs — integer sums, so the double division is
      bit-identical to a single-build index.

    This build is segment 0.  Verbs and crash orders:
    ``operators/segstore.py``."""
    segstore.bootstrap("bm25", docs, path, {"n_buckets": n_buckets}, id_col, text_col)


def append_bm25_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: "int | None" = None,
) -> "dict[str, int]":
    """Append ``new_docs`` to a ``write_bm25_index`` layout as one new
    segment: cost is proportional to the appended documents, and a
    probe afterwards is bit-equal to a full rebuild over the union
    (df/N/avgdl merge as exact integer sums).  New doc ids must not
    exist in other segments (stats would double-count: update =
    delete + append).  ``batch_id`` semantics and write order:
    ``segstore.append``."""
    return segstore.append("bm25", path, [new_docs], id_col, text_col, batch_id)[0]


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    eligible_ids: "DataFrame | None" = None,
) -> DataFrame:
    """Probe a ``write_bm25_index`` layout: read ONLY the query terms'
    bucket directories (static partition pruning via the driver-side
    crc32 twin — ``bucket`` is the second-level partition column, so
    the pruning holds across every ``batch=<id>`` segment), merge the
    |query|-sized per-segment _termstats rows (df over disjoint doc
    sets ADDS — exact integers), derive N/avgdl from the per-segment
    sums, and run the IDENTICAL scoring tail as ``bm25_topk`` —
    row-for-row equality is pinned by test, not hoped for (including
    bag-of-terms queries and appended indexes: a probe after
    ``append_bm25_index`` is bit-equal to a full rebuild's probe).
    The probe never tokenizes anything: the corpus pass was paid at
    write/append time.  An empty query returns an empty result frame
    (same schema), mirroring ``bm25_topk``.

    ``eligible_ids`` (r15, the r16 queue): an optional one-column id
    frame restricting which docs may be ranked — the written-layout
    twin of ``bm25_topk``'s ``eligible`` predicate (postings carry no
    metadata, so eligibility arrives as an id set, Lucene's filter
    bitset re-expressed as a semi-join).  Statistics stay
    collection-wide (the sidecars are untouched); the semi-join lands
    on the already-pruned posting fragment, BEFORE ranking.  Pinned
    equal to the in-memory operator under the same filter."""
    import os

    if not query_terms:
        # infer the id column from the thin two-column _doclens sidecar
        # — the postings root would cost a full file listing per empty
        # query and mis-parse stranded batch=<id>.erase_* debris (r15
        # advisory); _doclens is segment-count-sized and healed first
        from ..fsutil import heal_segment_debris

        doclens_root = os.path.join(path, "_doclens")
        heal_segment_debris(spark, doclens_root)
        dl = spark.read.parquet(doclens_root)
        id_col = [c for c in dl.columns if c not in ("_dl", "batch")][0]
        return _empty_bm25_result(dl.select(F.col(id_col)), id_col)

    idx = segstore.Index("bm25", spark, path)
    stats = idx.rows("_bm25_params")
    n_buckets = max(r["n_buckets"] for r in stats)
    if n_buckets != min(r["n_buckets"] for r in stats):
        raise ValueError(
            f"bm25 index at {path} has segments with differing n_buckets"
        )
    n_docs = sum(r["n_docs"] for r in stats)
    # avgdl from the merged integer sums — the same CAST-then-divide as
    # the in-memory operator, so the double is bit-identical no matter
    # how many segments the corpus arrived in
    avgdl = float(sum(r["sum_dl"] for r in stats)) / float(n_docs)
    terms = list(dict.fromkeys(query_terms))
    buckets = sorted({_term_bucket(t, n_buckets) for t in terms})
    id_col = [
        c for c in idx.store_schema.names if c not in ("_t", "_tf", "_dl", "bucket", "batch")
    ][0]
    # df over disjoint doc sets ADDS: each query term's slices summed on
    # the driver (exact integers); a term with no slice has no postings
    dfs = {
        t: sum(r["_df"] for r in rows)
        for t, rows in idx.lookup("_termstats", "_t", terms).items()
        if rows
    }
    postings = idx.scan(buckets).filter(F.col("_t").isin(list(dfs)))
    postings = segstore.restrict(postings, eligible_ids, id_col)
    # _dl rides in the posting rows — no sidecar join, the probe's
    # only scan is the pruned posting partitions
    df_col = (
        _per_term({t: F.lit(v).cast("long") for t, v in dfs.items()}, "_df")
        if dfs
        else F.lit(None).cast("long")
    )
    scored = (
        postings.withColumn("_df", df_col)
        .withColumn("_N", F.lit(n_docs))
        .withColumn("_avgdl", F.lit(avgdl))
        .withColumn("_qtf", _qtf_col(query_terms))
    )
    return _score_and_rank(scored, id_col, k, k1, b)


def delete_from_bm25_index(
    spark, path: str, doc_ids: "list", id_col: str = "doc_id"
) -> "dict[str, int]":
    """Delete documents from a ``write_bm25_index`` layout: only the
    touched segments are rewritten, with df/n_docs/sum_dl recomputed
    exactly from the survivors, so a probe afterwards is BIT-EQUAL to a
    rebuild over the surviving corpus (no stale-stats tombstone window).
    Returns {"segments_rewritten", "segments_removed", "docs_deleted"};
    unknown ids are a no-op.  Crash order: ``segstore.delete``."""
    return segstore.delete("bm25", spark, path, doc_ids, id_col)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion over already-ranked lists: each input
    must carry (id_col, rank) with rank starting at 1; fused score =
    Σ 1/(c + rank) over the lists that ranked the doc.  All arithmetic
    is single divisions of exact integers summed over ≤ len(rankings)
    terms — deterministic without rounding games.  Ties break on id.
    """
    from functools import reduce

    tagged = [r.select(F.col(id_col), F.col("rank")) for r in rankings]
    allr = reduce(lambda a, b: a.unionByName(b), tagged)
    return (
        allr.select(
            id_col, (F.lit(1.0) / (F.lit(c) + F.col("rank")).cast("double")).alias("_s")
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_lists"), F.sum("_s").alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(k)
    )
