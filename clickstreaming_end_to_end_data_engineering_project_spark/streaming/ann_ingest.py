"""Streaming ANN index ingestion — the live half of the segmented
written-vector layouts in operators/similarity.py, completing the
ingest-twin pattern (near_dedup → MinHash-LSH bands, sketch_ingest →
HLL rollups, bm25_ingest → inverted index, this module → the vector
indexes):

- ``LshIngestSink``: each micro-batch of vectors becomes one
  ``batch=<id>`` segment of a ``write_lsh_index`` layout.  Hyperplanes
  are content-deterministic (xxhash64 seeds, nothing trained), so the
  sink can BOOTSTRAP the index from its first micro-batch and the
  streamed index is bit-identical to a batch build over the same
  vectors — pinned by test.
- ``IvfIngestSink``: requires a PRE-TRAINED ``write_ivf_index`` layout
  (centroids are learned — a stream cannot train them before seeing
  data); each micro-batch is assigned to the stored centroids and
  appended as one segment (Faiss's add-after-train model).  Probe
  exactness over probed clusters is unconditional; recall at serving
  nprobe drifts only as far as the streamed data drifts from the
  training sample — retraining is a rebuild, exactly as in batch.
- ``PqIngestSink`` / ``IvfpqIngestSink`` (r14, with the batch appends
  they wrap): pre-trained layouts required for the same reason
  (codebooks — and for IVFPQ the coarse centroids — are trained
  state); each micro-batch is encoded against the STORED codebooks
  into one ``codes/batch=<id>`` segment.  A streamed PQ index equals
  a same-codebook batch build bit-for-bit (encoding is deterministic
  given the codebooks); IVFPQ additionally inherits the IVF recall
  caveat under distribution drift.

Every sink is ``operators/segstore.IngestSink`` with its layout's
geometry: a micro-batch becomes one segment under its own micro-batch
id, so a re-delivered batch rewrites its own segment's directories and
crashed or replayed batches can never double-insert a vector.
Compaction must NOT run from inside a live stream's cadence — see
operators/maintenance.py for the replay-wedge analysis.
"""

from __future__ import annotations

from ..operators.segstore import IngestSink


class LshIngestSink(IngestSink):
    """foreachBatch callable: micro-batch of (id, vector) rows → one
    LSH index segment (bootstraps the layout on the first batch)."""

    kind = "lsh"

    def __init__(self, index_dir: str, planes: int = 4, dims: int = 64,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        super().__init__(index_dir, id_col, vec_col, planes=planes, dims=dims)


class IvfIngestSink(IngestSink):
    """foreachBatch callable: micro-batch of (id, vector) rows → one
    segment of a PRE-TRAINED IVF layout (raises if the index does not
    exist — train first with ``write_ivf_index``)."""

    kind = "ivf"

    def __init__(self, index_dir: str, id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        super().__init__(index_dir, id_col, vec_col)


class PqIngestSink(IngestSink):
    """foreachBatch callable: micro-batch of (id, vector) rows → one
    ``codes/batch=<id>`` segment of a PRE-TRAINED PQ layout (raises if
    the index does not exist — train first with ``write_pq_index``)."""

    kind = "pq"

    def __init__(self, index_dir: str, id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        super().__init__(index_dir, id_col, vec_col)


class IvfpqIngestSink(IngestSink):
    """foreachBatch callable: micro-batch of (id, vector) rows → one
    ``codes/batch=<id>/cluster=<c>/`` segment of a PRE-TRAINED IVFPQ
    layout (raises if the index does not exist — train first with
    ``write_ivfpq_index``)."""

    kind = "ivfpq"

    def __init__(self, index_dir: str, id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        super().__init__(index_dir, id_col, vec_col)
