"""Streaming corpus ingestion — the Structured-Streaming twin of
``curation.py``: as crawl increments land in a directory, each
micro-batch is quality/language-scored, exact-deduped against ALL
previously ingested content (stateful), split train/test, and written
partitioned by split.

Why this exists: the batch curation pipeline reprocesses the whole
corpus per run; at crawl scale you want the incremental path — new
files in, curated parquet out, duplicates across *increments* dropped
by streaming state rather than a full-corpus join
(``dedup.dedup_new_against_corpus`` is the batch-side equivalent when
increments arrive as DataFrames instead of files).

Scale notes:
- Scoring and splitting are pure projections (codegen, no shuffle) —
  identical expressions to the batch pipeline, so batch and stream
  agree doc-for-doc on the gate verdicts.
- Exact dedup is ``dropDuplicates`` on the md5 fingerprint: one
  stateful shuffle keyed by fingerprint.  Without a watermark the
  state holds one entry per distinct document ever seen — exact
  forever, sized by corpus cardinality.  That sizing argument assumes
  the RocksDB state store provider (spills to local disk); Spark's
  DEFAULT provider is heap-backed and would OOM on a large corpus —
  pass ``rocksdb=True`` to ``start_corpus_ingest`` (applies
  ``rocksdb_session_conf`` to the session) or set
  ``spark.sql.streaming.stateStore.providerClass`` yourself.
  Pass ``dedup_horizon`` to bound state instead: an ingest-time
  watermark lets the store evict fingerprints older than the horizon,
  trading exactness for bounded state (a dup of a doc ingested more
  than the horizon ago slips through — the standard incremental-dedup
  trade; run a periodic batch ``dedup_new_against_corpus`` sweep to
  catch stragglers).
- The parquet sink partitions by split, so training readers scan only
  their slice — same layout the batch pipeline writes.

Kept-row semantics: streaming ``dropDuplicates`` keeps the FIRST row
seen per fingerprint (arrival order), while the batch pipeline keeps
the MINIMUM doc_id.  The survivor *fingerprint set* and count are
identical; which clone represents it may differ — pinned by
``test_streaming_corpus_ingest_matches_batch_curation``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators import text
from ..operators.sampling import train_test_split

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_session_conf() -> dict[str, str]:
    """Session confs for the RocksDB state store provider (spills state
    to local disk; recommended for any large-state deployment)."""
    return {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream over a directory of document parquet increments
    (a crawl drop-zone).  ``max_files_per_trigger`` is the ingest
    throttle — the file-source analog of maxOffsetsPerTrigger."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def curate_stream(
    docs: DataFrame,
    min_quality: float = 0.75,
    langs: tuple[str, ...] | None = None,
    train_frac: float = 0.8,
    dedup_horizon: str | None = None,
) -> DataFrame:
    """score → filter → exact-dedup → split, streaming-safe.

    Identical gate expressions to ``curation.score_and_filter`` (pure
    projections, so the batch/stream verdicts match doc-for-doc);
    dedup state is exact-forever by default, horizon-bounded when
    ``dedup_horizon`` (e.g. ``"24 hours"``) is given."""
    kept = (
        docs.withColumn("_toks", text.tokens("text"))
        .withColumn("quality_score", text.quality_score_col("text", toks=F.col("_toks")))
        .withColumn("predicted_lang", text.predicted_lang_col(toks=F.col("_toks")))
        .drop("_toks")
        .filter(F.col("quality_score") >= min_quality)
    )
    if langs:
        kept = kept.filter(F.col("predicted_lang").isin(list(langs)))
    kept = kept.withColumn("fingerprint", F.md5(F.col("text").cast("binary")))
    # NULL texts are never duplicates of anything (the batch rule —
    # dedup.keep_first_per_fingerprint): md5(NULL) is NULL and
    # dropDuplicates would collapse ALL null-text docs into one state
    # key, so each gets a synthetic per-doc dedup key instead
    dedup_key = F.coalesce(
        F.col("fingerprint"), F.concat(F.lit("null:"), F.col("doc_id").cast("string"))
    )
    kept = kept.withColumn("_dedup_key", dedup_key)
    if dedup_horizon is not None:
        kept = (
            kept.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", dedup_horizon)
            .dropDuplicatesWithinWatermark(["_dedup_key"])
            .drop("ingest_ts")
        )
    else:
        kept = kept.dropDuplicates(["_dedup_key"])
    return train_test_split(kept.drop("_dedup_key"), "doc_id", train_frac)


def start_corpus_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    rocksdb: bool = False,
    **curate_kwargs,
) -> StreamingQuery:
    """Wire the stream end-to-end: drop-zone → curate → parquet
    partitioned by split, exactly-once via the checkpoint (the file
    sink's log makes replayed batches idempotent).

    ``max_files_per_trigger`` is the ingest throttle (one increment
    per micro-batch with 1).  ``rocksdb=True`` applies the RocksDB
    state-store provider to the SESSION (a session-wide conf — see
    the module docstring for why exact-forever dedup state needs it
    at corpus scale)."""
    if rocksdb:
        for key, value in rocksdb_session_conf().items():
            spark.conf.set(key, value)
    curated = curate_stream(
        read_document_stream(spark, source_dir, max_files_per_trigger),
        **curate_kwargs,
    )
    writer = (
        curated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("split")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
