"""Streaming BM25 index ingestion — the live half of
operators/retrieval.py's segmented written index, completing the
pattern the repo's other incremental families established
(streaming/near_dedup.py for MinHash-LSH, streaming/sketch_ingest.py
for HLL rollups): batch operators own the math, a foreachBatch sink
owns exactly-once delivery.

Each micro-batch of documents becomes ONE index segment
(``batch=<micro-batch id>``) through ``operators/segstore.IngestSink``
— a replayed micro-batch OVERWRITES its own segment's four directories
instead of appending a duplicate, so the index is
exactly-once at the file level no matter how the stream crashes
(the survivor discipline).  Because every corpus statistic in the
layout is a mergeable per-segment sum (df, n_docs, sum_dl), a probe
of the streamed index is BIT-EQUAL to a probe of a single batch
build over the same documents — pinned by test, not approximately
asserted.

At 100 TB this is the serving story for a living corpus: the
ingest stream pays tokenization once per NEW document, probes stay
|query-bucket|-bounded, and ``bm25_topk_indexed`` needs no knowledge
of how many segments the corpus arrived in.

No reference counterpart: the reference
(stream_processor.py) has no retrieval surface; this module exists
for the LLM-data-pipeline extension mandate.
"""

from __future__ import annotations

from ..operators.segstore import IngestSink


class Bm25IngestSink(IngestSink):
    """foreachBatch callable: micro-batch of documents → one BM25
    index segment under ``index_dir`` (replay-idempotent: a
    re-delivered batch id rewrites its own segment)."""

    kind = "bm25"

    def __init__(self, index_dir: str, id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 64) -> None:
        super().__init__(index_dir, id_col, text_col, n_buckets=n_buckets)
