"""Batch table loaders over the driver-provided parquet testdata.

Column pruning and predicate pushdown reach the parquet scan because
loaders return the raw ``spark.read.parquet`` DataFrame — no collects,
no caching, no schema merging.  At 100 TB the same call pattern works
against a partitioned table root; partition pruning is Catalyst's job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TABLE_NAMES
from ..session import ensure_session_defaults

# Catalog-style schema cache: (abspath(sf_dir), table) → raw read
# schema.  ``spark.read.parquet`` pays ~85 ms of JVM file-listing +
# footer schema inference PER CALL even for a 5-row dim table (measured
# r11; a query like TPC-H Q2 makes five load() calls, so inference was
# ~half its wall-clock).  Real deployments never infer per query — the
# schema comes from the table catalog — so after the first successful
# read the schema is cached and later loads supply it explicitly,
# skipping inference.  StructType is plain Python: the cache survives
# session restarts and is safe to share.  Staleness contract (same as a
# metastore): each entry carries a cheap filesystem signature
# (stat mtime_ns/size/inode of the table path — one syscall, vs ~85 ms
# of footer inference) and a mismatch re-infers, so a table REWRITTEN
# at the same local path is picked up automatically; rewrite jobs that
# go through ``fsutil.swap_with_staging`` additionally invalidate
# explicitly (covers remote filesystems where stat is unavailable and
# the signature is None).  Nanos-layout tables (the guarded fallback below) are
# never cached — their load path rewrites columns and must re-inspect
# the footer each time.
_SCHEMA_CACHE: dict = {}


def invalidate_schema_cache(path: str) -> None:
    """Drop cache entries for the table at ``path`` (a
    ``<sf_dir>/<name>.parquet`` file or directory) or, when ``path`` is
    an sf_dir, for every table under it.  Rewrite jobs call this after
    swapping a dataset so a long-lived process never serves a stale
    schema on a filesystem where the stat signature can't catch it."""
    target = os.path.abspath(path)
    stale = [
        key
        for key in _SCHEMA_CACHE
        if os.path.join(key[0], f"{key[1]}.parquet") == target or key[0] == target
    ]
    for key in stale:
        del _SCHEMA_CACHE[key]


def _path_signature(path: str):
    """(mtime_ns, size, inode) of ``path``, or None when it can't be
    stat'ed (remote URI) — None disables the automatic staleness check
    and leaves the explicit-invalidation contract in force.  A swap
    renames a fresh directory into place (new inode + mtime) and an
    overwrite rewrites the directory's children (new mtime), so both
    rewrite modes move the signature."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (session tz; UTC
    here, so values are oracle-identical to DuckDB's tz-naive reads).
    No-op when nothing is NTZ.  Needed for DataFrames that were read
    with ``spark.sql.parquet.inferTimestampNTZ.enabled=true`` — e.g.
    handed in by an externally built session — because event-time ops
    (withWatermark, window) reject NTZ columns."""
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _nanos_parquet_columns(path: str) -> list[str]:
    """Names of columns physically stored as ``timestamp[ns]`` in the
    parquet footer at ``path`` (file or directory).  Drives the nanos
    fallback in ``load`` so ONLY genuinely-nanos columns get the
    long→timestamp rebuild — a table with a legitimate bigint column
    that happens to be named ``ts`` is left alone."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = ds.dataset(path, format="parquet").schema
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    Timestamp-layout resilience — the driver has shipped BOTH of these
    layouts across rounds, so the loader handles both:

    - tz-less ``timestamp[us]`` (current): ``ensure_session_defaults``
      disables NTZ inference before the read, and ``normalize_ntz`` is
      belt-and-suspenders for any engine change that re-introduces NTZ
      (exercised in tests/test_sources.py on an inference-on read).
    - ``TIMESTAMP(NANOS)`` (rounds 1-4): Spark's parquet reader rejects
      it outright; on that specific error the fallback enables
      ``nanosAsLong`` FOR THE DURATION OF THE RE-READ ONLY (restored in
      a finally, so one nanos table can't silently change how every
      later table in the session loads), re-reads, and rebuilds exactly
      the columns the parquet footer says were nanos — truncated to
      microseconds (DuckDB's TIMESTAMP precision, so oracle comparisons
      agree).  Exercised against a pyarrow-written nanos fixture in
      tests/test_sources.py, including a collect AFTER the conf restore
      to pin that the captured relation still executes.
    """
    ensure_session_defaults(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = (os.path.abspath(sf_dir), name)
    cached = _SCHEMA_CACHE.get(cache_key)
    if cached is not None:
        schema, sig = cached
        if sig == _path_signature(path):
            # schema from the catalog cache: no footer inference; NTZ
            # normalization still applies (the cached schema is the raw
            # read schema, which may be NTZ under an external session)
            return normalize_ntz(spark.read.schema(schema).parquet(path))
        # the table was rewritten since caching — fall through and
        # re-infer (the fresh read below repopulates the entry)
        del _SCHEMA_CACHE[cache_key]
    # signature BEFORE the read: a rewrite racing the read then at
    # worst pairs the new schema with the old signature, which
    # mismatches and re-infers on the next load — the reverse order
    # could pair a stale schema with the new signature and serve it
    # forever
    sig = _path_signature(path)
    nanos_read = False
    try:
        df = spark.read.parquet(path)
        # an externally built session may already run nanosAsLong=true
        # (so the read succeeds with raw bigint nanos and the fallback
        # below never fires) — treat that exactly like the fallback
        nanos_read = (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
            and any(t == "bigint" for _, t in df.dtypes)
        )
    except Exception as exc:
        if "TIMESTAMP(NANOS" not in str(exc):
            raise
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        nanos_read = True
    if nanos_read:
        dtypes = dict(df.dtypes)
        for col in _nanos_parquet_columns(path):
            if dtypes.get(col) == "bigint":
                # integer div, not `/`: ns epochs (~1.7e18) overflow a
                # double's 53-bit mantissa
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    else:
        _SCHEMA_CACHE[cache_key] = (df.schema, sig)
    return normalize_ntz(df)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works —
    the engine's raw-SQL read surface (reference: arbitrary SELECT via
    storage/postgres_connector.py:44-55)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
