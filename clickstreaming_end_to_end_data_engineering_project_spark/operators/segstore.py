"""The segmented-store core of the five written-index layouts (BM25,
LSH, IVF, PQ, IVFPQ): one build, append, delete and compaction path,
the debris heal and the segment-count policy.

Every layout is a root directory holding

- a **store** of ``batch=<id>`` segments, optionally partitioned by a
  second-level column (``bucket``, ``lsh_bucket``, ``cluster``).
  Listing the store is how segments are *discovered*
  (``fsutil.existing_batch_ids``);
- a **membership** table sliced the same way (``_doclens``,
  ``_id_map``), which the id-overlap check and deletes read instead of
  the store.  PQ and IVFPQ have none: their thin codes store serves;
- per-segment **stat slices** (BM25's ``_termstats`` and
  ``_bm25_params``), which the probe sums across segments;
- flat **sidecars**: the params row that identifies the layout, and the
  trained state (centroids, codebooks), which no verb here retrains.

``LAYOUTS`` records that contract once per layout.  Each layout brings
two hooks, ``encode`` (increment rows -> store rows, against the
stored geometry and trained state) and ``derive`` (one segment's store
rows -> its membership and stat slices), plus, where slices are sums,
``fold`` (many segments' slices -> one).

Probes read a layout through ``Index``: its sidecar rows and store
schema come from a driver-side metadata cache, and ``Index.scan`` reads
the store with that schema (no inference job), partition-pruned and
restricted by an optional predicate.  Each cache entry is keyed by the
qualified path of what it holds plus a Hadoop ``listStatus`` of the
files behind it (name, length, modification time; segmented slices are
listed one level down, and the store schema is keyed by the store
root's segment listing together with the params listing).  A listing
runs no Spark job, every write leaves new part-file names behind, and
a lookup hits only when the listing is unchanged, so a stale entry is
never served.  Writers keep the cache warm by one rule: after a build,
append, delete or compaction, a value the writer already holds and
knows to be unchanged (params it was given or read, trained sidecars
a compaction copies, a store schema its rows still carry) is recorded
under the listing the write left behind (a store schema only while a
segment is left to infer it from); every other entry under the root is
dropped, never guessed.  The cache is bounded by a fixed entry
count and safe to use from pooled threads.

Crash orders (stated once; each verb heals by being re-run):

- **append** writes the stat and membership slices of every new
  segment first and, after a barrier, the store segments.  A crash
  before a store segment lands leaves it undiscoverable: a default-id
  retry replays the same batch id and ``mode("overwrite")`` replaces
  every slice.  A crash after it leaves a discoverable, validated
  segment: a default-id retry raises the duplicate-id error, and an
  explicit same-id replay heals.
- **delete** rewrites each touched store segment first, then its stat
  slices, and its membership slice last.  Membership is where the
  delete discovers touched segments, so until the last swap the deleted
  ids stay listed and a re-run finds the segment again.
- **compact** reads only the segments discoverable in the store: their
  rows move unchanged, and each slice table folds only those segments'
  slices (``Layout.fold``), so an orphaned slice — a crashed append's —
  is dropped for every layout.

Every rewrite of live data goes through ``fsutil.swap_with_staging``;
a build over an existing root swaps the whole root, so a failed rebuild
leaves the old index live.  Swap-based verbs are terminal-runs-only:
never run them while another writer appends to the same index (see
``operators/maintenance.py``).
"""

from __future__ import annotations

import json
import numbers
import os
import threading
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from .. import fsutil
from ..sources.formats import local_rows_df
from . import vecexpr

_CACHE_ENTRIES = 256
_LOOKUP_KEYS = 65536


class _MetaCache:
    """One slot per key (a qualified path): ``(listing, value)``.  A
    lookup hits only when the caller's listing equals the slot's; values
    are immutable, so a hit is shared without copying."""

    def __init__(self, entries: int) -> None:
        self._slots: "OrderedDict[str, tuple]" = OrderedDict()
        self._entries = entries
        self._lock = threading.Lock()

    def get(self, key: str, listing):
        with self._lock:
            slot = self._slots.get(key)
            if slot is None or slot[0] != listing:
                return None
            self._slots.move_to_end(key)
            return slot[1]

    def put(self, key: str, listing, value) -> None:
        with self._lock:
            self._slots[key] = (listing, value)
            self._slots.move_to_end(key)
            while len(self._slots) > self._entries:
                self._slots.popitem(last=False)

    def drop(self, root: str) -> None:
        """Drop every entry at or under ``root``."""
        with self._lock:
            for key in [k for k in self._slots if k == root or k.startswith(root + "/")]:
                del self._slots[key]

    def clear(self) -> None:
        with self._lock:
            self._slots.clear()


_CACHE = _MetaCache(_CACHE_ENTRIES)


def doubles_sql(values: list) -> str:
    """A list of floats, or nested lists of them, as SQL text for ONE
    typed constant: one JSON string literal parsed by ``from_json``,
    which constant folding turns into a single array literal.  Python's
    shortest round-trip repr is parsed back bit-exactly (pinned by
    test), and the plan carries one node instead of one ``F.lit`` (one
    py4j call) or one ``CreateArray`` child per element."""
    def plain(v):
        return float(v) if isinstance(v, numbers.Real) else [plain(x) for x in v]

    values = plain(values)
    depth, probe = 0, values
    while isinstance(probe, list):
        depth, probe = depth + 1, probe[0] if probe else 0.0
    return f"from_json('{json.dumps(values)}', '{'array<' * depth}double{'>' * depth}')"


def restrict(df: DataFrame, predicate, id_col: str) -> DataFrame:
    """``df`` restricted by ``predicate``: a Column, a SQL string, or a
    one-column frame of eligible ids (named ``id_col``), which lands as
    a semi-join."""
    if predicate is None:
        return df
    if isinstance(predicate, DataFrame):
        return df.join(predicate.select(F.col(id_col)), id_col, "left_semi")
    return df.filter(F.expr(predicate) if isinstance(predicate, str) else predicate)


class Index:
    """One verb's view of the index at ``root``: its geometry (from the
    params sidecar on first use unless given), its sidecar rows and store
    schema through the metadata cache, its store scan, and the caller's
    columns (what the encode/derive hooks see as ``ctx``).  Given a
    ``query``, the query's dims are checked against the params sidecar
    (error prefixed with ``verb``)."""

    def __init__(self, kind, spark, root, id_col=None, col=None, params=None,
                 verb=None, query=None):
        self.layout, self.spark, self.root = LAYOUTS[kind], spark, root
        self.id_col, self.col = id_col, col
        self._listings: dict = {}
        if params is not None:
            self.params = params
        dims = self.params.get("dims") if query is not None else None
        if dims is not None and len(query) != dims:
            raise ValueError(f"{verb}: query has {len(query)} dims, index expects {dims}")

    @cached_property
    def _fs(self):
        _, fs, hpath = fsutil.fs_for(self.spark, self.root)
        qpath = fs.makeQualified(hpath)
        return fs, qpath, str(qpath.toString()).rstrip("/")

    def key(self, name: str) -> str:
        """The qualified path of ``name`` under the root ("" = the root)."""
        root = self._fs[2]
        return f"{root}/{name}" if name else root

    def listing(self, name: str):
        """(name, length, mtime) of every entry of ``name``, one level down
        for segmented slices; None when it does not exist."""
        if name not in self._listings:
            fs, qpath, _ = self._fs
            depth = 1 if name in dict(self.layout.stats) else 0

            def ls(hpath, depth):
                if not fs.exists(hpath):
                    return None
                out = []
                for st in fs.listStatus(hpath):
                    child = st.getPath().getName()
                    if depth and st.isDirectory():
                        out.append((child, ls(hpath.suffix("/" + child), depth - 1)))
                    else:
                        out.append((child, st.getLen(), st.getModificationTime()))
                return tuple(sorted(out))

            self._listings[name] = ls(qpath.suffix("/" + name) if name else qpath, depth)
        return self._listings[name]

    def _store_key(self):
        lay = self.layout
        return self.key(lay.store) + "/#schema", (self.listing(lay.store), self.listing(lay.params))

    @cached_property
    def params(self) -> dict:
        return self.rows(self.layout.params)[0].asDict()

    def _read(self, name: str, listing) -> "DataFrame | None":
        """Sidecar ``name`` read with the layout's schema for it: the
        listed leaf files, None when the listing holds none.  A missing
        sidecar raises the reader's own missing-path error here."""
        lay = self.layout
        reader = self.spark.read.schema(
            {lay.params: lay.params_schema, **dict(lay.stats), **dict(lay.trained)}[name]
        )
        if listing is None:
            return reader.parquet(os.path.join(self.root, name))
        files = [f"{self.key(name)}/{leaf}" for leaf in _leaves(listing)]
        return reader.parquet(*files) if files else None

    def rows(self, name: str) -> tuple:
        """The rows of sidecar ``name``.  A hit runs no Spark job; a miss
        reads the listed leaf files."""
        listing = self.listing(name)
        hit = _CACHE.get(self.key(name), listing)
        if hit is None:
            df = self._read(name, listing)
            hit = () if df is None else tuple(df.collect())
            _CACHE.put(self.key(name), listing, hit)
        return hit

    def lookup(self, name: str, col: str, keys: "list") -> dict:
        """{key: rows of sidecar ``name`` whose ``col`` equals it} for
        ``keys``.  Keys cached under the current listing cost nothing;
        the rest are read in one job (an ``isin`` pushed into the scan of
        the listed leaf files) and added, up to a fixed count per
        listing."""
        listing, key = self.listing(name), self.key(name) + "/#lookup"
        known = _CACHE.get(key, listing) or {}
        missing = [k for k in keys if k not in known]
        if missing:
            got: dict = {k: [] for k in missing}
            df = self._read(name, listing)
            for r in [] if df is None else df.filter(F.col(col).isin(missing)).collect():
                got[r[col]].append(r)
            keep = known if len(known) + len(missing) <= _LOOKUP_KEYS else {}
            known = {**keep, **{k: tuple(v) for k, v in got.items()}}
            _CACHE.put(key, listing, known)
        return {k: known[k] for k in keys}

    def sidecar(self, name: str) -> DataFrame:
        schema = dict(self.layout.trained)[name]
        return self.spark.read.schema(schema).parquet(os.path.join(self.root, name))

    def cached_store_schema(self) -> "StructType | None":
        return _CACHE.get(*self._store_key())

    @cached_property
    def store_schema(self) -> StructType:
        """The store's read schema, inferred by Spark on a miss."""
        hit = self.cached_store_schema()
        if hit is None:
            hit = self.spark.read.parquet(_store_root(self.layout, self.root)).schema
            _CACHE.put(*self._store_key(), hit)
        return hit

    def scan(self, partitions=None, predicate=None) -> DataFrame:
        """The store read with its known schema, pruned to ``partitions``
        of the layout's partition column (a PartitionFilter) and
        restricted by ``predicate`` (see ``restrict``) before any rank."""
        df = self.spark.read.schema(self.store_schema).parquet(_store_root(self.layout, self.root))
        if partitions is not None:
            df = df.filter(F.col(self.layout.partition).isin(list(partitions)))
        return restrict(df, predicate, self.id_col)

    def record(self, held: dict) -> None:
        """After a write: drop every entry under the root, then record
        ``held`` (sidecar name -> rows, or ``"#schema"`` -> the store
        schema) under the listings the write left behind.  A store left
        with no segment keeps no schema: a cold read has no file to infer
        one from and raises, so a warm read must too."""
        _CACHE.drop(self.key(""))
        fresh = Index(self.layout.kind, self.spark, self.root)
        if not fsutil.existing_batch_ids(self.spark, _store_root(self.layout, self.root)):
            held = {**held, "#schema": None}
        for name, value in held.items():
            if value is None:
                continue
            if name == "#schema":
                _CACHE.put(*fresh._store_key(), value)
            elif fresh.listing(name) is not None:
                _CACHE.put(fresh.key(name), fresh.listing(name), value)

    def held(self, schema: bool = True) -> dict:
        """The cached values a write of the store leaves unchanged: the
        flat params and trained sidecar rows and, if ``schema``, the store
        schema (None where nothing is cached)."""
        lay = self.layout
        names = [n for n in (lay.params, *dict(lay.trained)) if n not in dict(lay.stats)]
        out = {n: _CACHE.get(self.key(n), self.listing(n)) for n in names}
        out["#schema"] = self.cached_store_schema() if schema else None
        return out

    def carries(self, rows: DataFrame) -> bool:
        """Whether store ``rows`` carry the cached store schema's data
        columns (names and types), so the store schema survives writing
        them as a segment."""
        held, part = self.cached_store_schema(), self.layout.partition

        def cols(fields, skip):
            return [(f.name, f.dataType.simpleString()) for f in fields if f.name not in skip]

        return held is not None and cols(rows.schema.fields, ("_ab", "_dims", part)) == cols(
            held.fields, ("batch", part)
        )


def _leaves(listing) -> "list[str]":
    """Data-file paths (relative to the listed directory) of a listing."""
    out = []
    for entry in listing:
        if len(entry) == 2:  # a segment directory and its own listing
            out += [f"{entry[0]}/{leaf[0]}" for leaf in entry[1] or () if not leaf[0].startswith(("_", "."))]
        elif not entry[0].startswith(("_", ".")):
            out.append(entry[0])
    return out


def _bm25_encode(ctx):
    from .text import tokens

    def enc(docs):
        tf = (
            docs.select(F.col(ctx.id_col), F.explode(tokens(ctx.col)).alias("_t"))
            .groupBy(ctx.id_col, "_t")
            .agg(F.count(F.lit(1)).alias("_tf"))
        )
        # the document length rides in every posting row (Σ tf ==
        # size(tokens)), INT like every segment already on disk
        dl = F.sum("_tf").over(Window.partitionBy(ctx.id_col)).cast("int")
        bucket = F.pmod(F.crc32(F.col("_t").cast("binary")), F.lit(ctx.params["n_buckets"]))
        return tf.withColumn("_dl", dl).withColumn("bucket", bucket)

    return enc


def _bm25_derive(post, ctx):
    dl = post.select(ctx.id_col, "_dl").distinct()
    params = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_dl").alias("sum_dl"),
        F.lit(ctx.params["n_buckets"]).cast("int").alias("n_buckets"),
    )
    return {
        "_termstats": post.groupBy("_t").agg(F.count(F.lit(1)).alias("_df")),
        "_bm25_params": params.coalesce(1),
        "_doclens": dl,
    }


def _bm25_fold(name, rows):
    if name == "_termstats":
        return rows.groupBy("_t").agg(F.sum("_df").alias("_df"))
    if name == "_bm25_params":
        return rows.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").alias("sum_dl"),
            F.max("n_buckets").alias("n_buckets"),
        ).coalesce(1)
    return rows


def _lsh_encode(ctx):
    from .similarity import lsh_bucket

    planes, dims = ctx.params["planes"], ctx.params["dims"]
    return lambda vecs: vecs.withColumn("lsh_bucket", lsh_bucket(ctx.col, planes, dims))


def _nearest(vecs, cents, id_col, vec_col, n):
    """``vecs`` crossed with their ``n`` nearest ``cents`` rows by
    squared euclidean distance, ties to the lower cluster id — the
    build's own k-means rule."""
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cluster"))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("_d", F.expr(vecexpr.sq_dist(vecexpr.ref(vec_col), "_cent")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_d", "_rn")
    )


def _ivf_encode(ctx):
    cents = ctx.sidecar("_ivf_centroids").withColumnRenamed("centroid", "_cent")

    def enc(vecs):
        if "cluster" in vecs.columns:
            vecs = vecs.drop("cluster")
        return _nearest(vecs, cents, ctx.id_col, ctx.col, 1).drop("_cent")

    return enc


def _pq_encode(ctx):
    from .similarity import pq_encode, read_pq_codebooks

    books = read_pq_codebooks(ctx.spark, ctx.root)

    def enc(vecs):
        key = F.struct(F.col(ctx.id_col).alias("_id"), "_dims").alias("_ek")
        return pq_encode(vecs.select(key, ctx.col), books, "_ek", ctx.col).select(
            F.col("_ek._id").alias(ctx.id_col), "codes", "_ek._dims"
        )

    return enc


def _ivfpq_encode(ctx):
    from .similarity import pq_encode, read_pq_codebooks

    cents = ctx.sidecar("_ivfpq_centroids").withColumnRenamed("centroid", "_cent")
    books = read_pq_codebooks(ctx.spark, ctx.root)

    def enc(vecs):
        # residuals against the assign_n nearest stored centroids, keyed
        # by a typed (id, cluster) struct: no delimiter to collide on
        vecs = vecs.select(F.col(ctx.id_col).alias("_id"), F.col(ctx.col).alias("_v"), "_dims")
        resid = _nearest(vecs, cents, "_id", "_v", ctx.params["assign_n"]).select(
            F.struct("_id", "cluster", "_dims").alias("_ek"),
            F.expr(vecexpr.residual("_v", "_cent")).alias("_r"),
        )
        return pq_encode(resid, books, "_ek", "_r").select(
            "codes", F.col("_ek._id").alias(ctx.id_col), "_ek.cluster", "_ek._dims"
        )

    return enc


def _id_map(partition):
    return lambda store, ctx: {"_id_map": store.select(ctx.id_col, partition)}


@dataclass(frozen=True)
class Layout:
    kind: str
    params: str  # the params sidecar, which identifies the layout
    params_schema: str
    store: str  # store root under the index root ("" = the root itself)
    partition: "str | None"
    membership: "str | None"  # None: the store is its own membership table
    stats: "tuple[tuple[str, str], ...]"  # per-segment stat slices (name, schema)
    trained: "tuple[tuple[str, str], ...]"  # flat trained sidecars (name, schema)
    id_col: str
    noun: str  # report keys: n_<noun>, <noun>_deleted
    encode: Callable
    derive: Callable = lambda store, ctx: {}
    # (slice name, rows of many segments) -> the one-segment rows
    fold: Callable = lambda name, rows: rows
    dims: bool = True  # validate increment vector sizes against params["dims"]


_BM25_PARAMS = "n_docs long, sum_dl long, n_buckets int"
_CENTS = "cluster int, centroid array<double>"
_BOOKS = ("_pq_codebooks", "s int, c int, cv array<double>")

# detection order matters only for IVFPQ vs PQ (both carry _pq_codebooks)
LAYOUTS = {
    lay.kind: lay
    for lay in (
        Layout("bm25", "_bm25_params", _BM25_PARAMS, "", "bucket", "_doclens",
               (("_termstats", "_t string, _df long"), ("_bm25_params", _BM25_PARAMS)), (),
               "doc_id", "docs", _bm25_encode, _bm25_derive, _bm25_fold, dims=False),
        Layout("lsh", "_lsh_params", "planes int, dims int", "", "lsh_bucket", "_id_map", (),
               (), "vec_id", "vectors", _lsh_encode, _id_map("lsh_bucket"), dims=False),
        Layout("ivf", "_ivf_params", "n_clusters int, dims int", "vectors", "cluster",
               "_id_map", (), (("_ivf_centroids", _CENTS),), "vec_id", "vectors",
               _ivf_encode, _id_map("cluster")),
        Layout("ivfpq", "_ivfpq_params", "n_clusters int, m int, k int, dims int, assign_n int",
               "codes", "cluster", None, (), (("_ivfpq_centroids", _CENTS), _BOOKS), "vec_id",
               "vectors", _ivfpq_encode),
        Layout("pq", "_pq_params", "m int, k int, dims int", "codes", None, None, (),
               (_BOOKS,), "vec_id", "vectors", _pq_encode),
    )
}


def _exists(spark, path: str) -> bool:
    _, fs, hpath = fsutil.fs_for(spark, path)
    return fs.exists(hpath)


def _store_root(lay: Layout, root: str) -> str:
    return os.path.join(root, lay.store) if lay.store else root


def _slices(lay: Layout, spark, root: str, fresh: bool = False) -> "list[str]":
    """Slice tables in write order (stats first, membership last); a
    pre-sidecar layout without its membership table stays without."""
    members = lay.membership and (fresh or _exists(spark, os.path.join(root, lay.membership)))
    return [n for n, _ in lay.stats] + ([lay.membership] if members else [])


def _thin(lay: Layout, root: str, slices: "list[str]") -> str:
    """The membership table ids are looked up in: the sidecar, else the store."""
    if lay.membership in slices:
        return os.path.join(root, lay.membership)
    return _store_root(lay, root)


def _writer(df: DataFrame, partition: "str | None" = None):
    def write(dest: str) -> None:
        w = df.write.mode("overwrite")
        (w.partitionBy(partition) if partition else w).parquet(dest)

    return write


def _run(spark, jobs: "list[Callable[[], object]]") -> list:
    """Run independent jobs, overlapped in a small pool whose threads
    keep the caller's job group; await all, then raise the first error
    in input order, or return the results in input order."""
    if len(jobs) <= 1:
        return [j() for j in jobs]
    with ThreadPoolExecutor(max_workers=min(3, len(jobs))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(j)) for j in jobs]
    return [fut.result() for fut in futures]


def _segment(ctx: Index, root: str, batch_id: int, store: DataFrame, slices: "list[str]"):
    """(slice writes, store write) of segment ``batch_id`` under ``root``."""
    lay, seg = ctx.layout, f"batch={batch_id}"
    frames = lay.derive(store, ctx)
    return (
        [lambda n=n: _writer(frames[n])(os.path.join(root, n, seg)) for n in slices],
        lambda: _writer(store, lay.partition)(os.path.join(_store_root(lay, root), seg)),
    )


def _encode(ctx: Index, increments: "list[DataFrame]") -> DataFrame:
    """Every increment encoded into store rows, tagged ``_ab`` with its
    position (and ``_dims`` with its vector size), materialized once —
    the input is fully read before any write, so a replay may lawfully
    derive from the index's own files."""
    enc, tagged = ctx.layout.encode(ctx), None
    for i, inc in enumerate(increments):
        if ctx.layout.dims:
            inc = inc.withColumn("_dims", F.size(ctx.col))
        part = enc(inc).withColumn("_ab", F.lit(i))
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged.localCheckpoint(eager=True)


def _untag(df: DataFrame, i: int) -> DataFrame:
    return df.filter(F.col("_ab") == i).drop("_ab", "_dims")


def build(kind, path, store, id_col, params, trained=()) -> None:
    """Write ``store`` rows as segment 0 of a fresh index at
    ``path``, with the params row and ``trained`` (name, frame)
    sidecars.  An existing root is replaced through one staged swap."""
    lay, spark = LAYOUTS[kind], store.sparkSession
    ctx = Index(kind, spark, path, id_col, params=params)
    flat = list(trained)
    if lay.params not in dict(lay.stats):
        flat.insert(0, (lay.params, local_rows_df(spark, [tuple(params.values())], lay.params_schema)))

    def write(root: str) -> None:
        for name, frame in flat:
            _writer(frame.coalesce(1))(os.path.join(root, name))
        slices, store_write = _segment(ctx, root, 0, store, _slices(lay, spark, root, True))
        _run(spark, slices)
        store_write()

    fsutil.heal_swap_crash(spark, path)
    if _exists(spark, path):
        fsutil.swap_with_staging(spark, path, write, job="compact")
    else:
        write(path)
    held = {}
    if lay.params not in dict(lay.stats):
        names = [c.split()[0] for c in lay.params_schema.split(",")]
        held[lay.params] = (Row(**dict(zip(names, params.values()))),)
    ctx.record(held)


def bootstrap(kind, df, path, params, id_col, col) -> None:
    """``build`` for the untrained layouts (BM25, LSH): encode ``df``
    with the given geometry.  An input that encodes to nothing leaves
    no index (the empty-segment rule: a data-less segment breaks schema
    inference for every later read)."""
    spark = df.sparkSession
    store = _encode(Index(kind, spark, path, id_col, col, params), [df])
    if store.isEmpty():
        fsutil.heal_swap_crash(spark, path)
        _, fs, hpath = fsutil.fs_for(spark, path)
        fs.delete(hpath, True)
        return
    build(kind, path, _untag(store, 0), id_col, params)


def append(kind, path, increments, id_col, col, batch_id=None, verb=None) -> "list[dict]":
    """Append each increment as one new segment (see the module
    docstring for the write order).  Default batch ids are consecutive
    from max+1 and an increment that encodes to nothing consumes no id
    and writes nothing; an explicit ``batch_id`` (one increment only)
    overwrites that segment, which makes the append replayable.  New ids
    must not exist in other segments nor in two increments.  Every check
    runs before the first write, so a rejected call writes nothing."""
    lay, spark = LAYOUTS[kind], increments[0].sparkSession
    verb = verb or f"append_{kind}_index"
    existing = fsutil.existing_batch_ids(spark, _store_root(lay, path))
    if not existing:
        raise ValueError(f"{verb}: no index at {path} — build one with write_{kind}_index first")
    ctx = Index(kind, spark, path, id_col, col)
    enc = _encode(ctx, increments)
    aggs = [F.countDistinct(id_col).alias("n")]
    if lay.dims:
        aggs += [F.min("_dims").alias("lo"), F.max("_dims").alias("hi")]
    meta = {r["_ab"]: r for r in enc.groupBy("_ab").agg(*aggs).collect()}
    live = sorted(meta)
    for i in live if lay.dims else ():
        if {meta[i]["lo"], meta[i]["hi"]} != {ctx.params["dims"]}:
            raise ValueError(
                f"{verb}: increment {i} has vectors of {meta[i]['lo']}..{meta[i]['hi']} "
                f"dims, index expects {ctx.params['dims']}"
            )
    batch_ids, nxt = [], existing[-1] + 1
    for i in range(len(increments)):
        batch_ids.append(nxt if batch_id is None else batch_id)
        if i in meta:
            nxt += 1
    if len(live) > 1:
        dup = (
            enc.select(id_col, "_ab").distinct().groupBy(id_col).count()
            .filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(f"{verb}: an id appears in more than one increment")
    slices = _slices(lay, spark, path)
    other = [b for b in existing if b not in batch_ids]
    if live and other:
        thin = _thin(lay, path, slices)
        prior = ctx.scan() if thin == _store_root(lay, path) else spark.read.parquet(thin)
        prior = prior.filter(F.col("batch").isin(other)).select(id_col)
        if enc.select(id_col).join(prior, id_col, "left_semi").limit(1).count():
            raise ValueError(
                f"{verb}: some new ids already exist in the index — duplicate rows "
                "would surface in probes; delete them first or rebuild"
            )
    held = ctx.held(schema=all(ctx.carries(_untag(enc, i)) for i in live))
    writes = [_segment(ctx, path, batch_ids[i], _untag(enc, i), slices) for i in live]
    _run(spark, [w for ws, _ in writes for w in ws])
    _run(spark, [store_write for _, store_write in writes])
    ctx.record(held)
    n = f"n_{lay.noun}"
    return [
        {"batch_id": batch_ids[i], n: meta[i]["n"] if i in meta else 0}
        for i in range(len(increments))
    ]


def heal(kind, spark, path) -> None:
    """Restore or clear ``batch=<id>.<job>_{old,staging}`` debris a
    crashed per-segment swap left inside any segmented table (it would
    poison partition discovery)."""
    lay = LAYOUTS[kind]
    for d in [lay.store, *dict(lay.stats), lay.membership]:
        if d is not None:
            fsutil.heal_segment_debris(spark, os.path.join(path, d) if d else path)


def delete(kind, spark, path, ids, id_col) -> "dict[str, int]":
    """Remove ``ids``: rewrite only the touched segments (found through
    the membership table) with their slices re-derived from the
    survivors, and drop a segment whose every id goes.  Idempotent;
    unknown ids are a no-op; trained sidecars are never touched."""
    lay = LAYOUTS[kind]
    out = {"segments_rewritten": 0, "segments_removed": 0, f"{lay.noun}_deleted": 0}
    if not ids:
        return out
    heal(kind, spark, path)
    store_root = _store_root(lay, path)
    if not fsutil.existing_batch_ids(spark, store_root):
        raise ValueError(f"delete_from_{kind}_index: no index at {path}")
    slices = _slices(lay, spark, path)
    ctx = Index(kind, spark, path, id_col)
    thin = _thin(lay, path, slices)
    hit = (
        (ctx.scan() if thin == store_root else spark.read.parquet(thin))
        .filter(F.col(id_col).isin(ids))
        .groupBy("batch").agg(F.countDistinct(id_col).alias("n")).collect()
    )
    out[f"{lay.noun}_deleted"] = sum(int(r["n"]) for r in hit)
    held = ctx.held()
    for b in sorted(int(r["batch"]) for r in hit):
        seg = f"batch={b}"
        seg_path = os.path.join(store_root, seg)
        if _exists(spark, seg_path):
            survivors = spark.read.parquet(seg_path).filter(~F.col(id_col).isin(ids))
            if survivors.limit(1).count():
                fsutil.swap_with_staging(
                    spark, seg_path, _writer(survivors, lay.partition), job="erase"
                )
                # stat slices are re-derived from the survivors; the
                # membership slice loses the same ids the store lost
                stats = [n for n in slices if n != lay.membership]
                frames = lay.derive(spark.read.parquet(seg_path), ctx) if stats else {}
                for n in slices:
                    dest = os.path.join(path, n, seg)
                    if n in stats:
                        rows = frames[n]
                    else:
                        rows = spark.read.parquet(dest).filter(~F.col(id_col).isin(ids))
                    fsutil.swap_with_staging(spark, dest, _writer(rows), job="erase")
                out["segments_rewritten"] += 1
                continue
        # every id of the segment goes (or a crashed removal left only
        # its slices): the store segment first, membership last
        for d in [seg_path] + [os.path.join(path, n, seg) for n in slices]:
            _, fs, hpath = fsutil.fs_for(spark, d)
            fs.delete(hpath, True)
        out["segments_removed"] += 1
    ctx.record(held)
    return out


def compact(kind, spark, path) -> None:
    """Collapse the index to one ``batch=0`` segment in one staged swap
    of the root: store rows move unchanged, each slice table folds the
    slices of the discoverable segments only (``Layout.fold``), and flat
    sidecars are copied, so probes are unchanged."""
    lay = LAYOUTS[kind]
    heal(kind, spark, path)
    store_root = _store_root(lay, path)
    live = fsutil.existing_batch_ids(spark, store_root)
    schemas = dict(lay.stats)
    flat = list(lay.trained)
    if lay.params not in schemas:
        flat.insert(0, (lay.params, lay.params_schema))

    def read(name: str, schema: "str | None") -> DataFrame:
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(os.path.join(path, name))

    ctx = Index(kind, spark, path)
    held = {**ctx.held(schema=False), "#schema": ctx.store_schema}

    def write(staging: str) -> None:
        rows = ctx.scan().drop("batch")
        _writer(rows, lay.partition)(os.path.join(_store_root(lay, staging), "batch=0"))
        for n in _slices(lay, spark, path):
            rows = read(n, schemas.get(n)).filter(F.col("batch").isin(live)).drop("batch")
            _writer(lay.fold(n, rows))(os.path.join(staging, n, "batch=0"))
        for name, schema in flat:
            _writer(read(name, schema).coalesce(1))(os.path.join(staging, name))

    fsutil.swap_with_staging(spark, path, write, job="compact")
    ctx.record(held)


def detect(spark, root: str) -> "Layout | None":
    """The layout at ``root``, identified by its params sidecar."""
    for lay in LAYOUTS.values():
        if _exists(spark, os.path.join(root, lay.params)):
            return lay
    return None


def maintain(spark, root: str, max_segments: int) -> "dict[str, object]":
    """The segment-count policy: compact iff the index at ``root`` holds
    more than ``max_segments`` segments."""
    if max_segments < 1:
        raise ValueError(f"max_segments must be >= 1, got {max_segments}")
    lay = detect(spark, root)
    if lay is None:
        raise ValueError(
            f"maintain_index: no recognized written-index layout at {root} "
            "(expected a _bm25/_lsh/_ivf/_ivfpq/_pq params sidecar)"
        )
    heal(lay.kind, spark, root)
    count = lambda: len(fsutil.existing_batch_ids(spark, _store_root(lay, root)))  # noqa: E731
    before = count()
    if before > max_segments:
        compact(lay.kind, spark, root)
    return {
        "kind": lay.kind,
        "segments_before": before,
        "segments_after": count(),
        "compacted": before > max_segments,
    }
