"""Generic batch/stream source-format readers and writers.

The reference's only wire format is JSON-over-Kafka; a drop-in engine
needs the standard lake formats too.  Schema is always explicit
(schema inference is a full extra pass over 100 TB and makes types
drift between runs — the reference got this right with its declared
StructType, SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def local_rows_df(spark: SparkSession, rows: "list", schema: str) -> DataFrame:
    """Driver-local rows → DataFrame through the Arrow path (r18
    optimization round).  ``createDataFrame(list)`` routes through a
    pickled-RDD job — ~0.5 s warm for even a 1-row frame, plus the
    session's Python-worker-pool FORK (~5 s) when it is the first such
    job — where the pandas/Arrow conversion is driver-side and JVM-
    local (~0.04 s measured, no Python-worker job at all).  Used by
    the written-index param/centroid/codebook sidecar writers and the
    k-means per-iteration centroid frames, which together made these
    tiny frames a measurable slice of every index build/append."""
    import pandas as _pd

    names = [f.name for f in StructType.fromDDL(schema).fields]
    return spark.createDataFrame(_pd.DataFrame(rows, columns=names), schema)


def read_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True, sep: str = ","
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_json_lines(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """NDJSON; malformed rows yield nulls (PERMISSIVE), matching the
    from_json behavior tested for the Kafka path."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Date/key-partitioned layout — the scan-side partition-pruning
    contract (SCALING.md storage section)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def zorder_value(cols: "list", bits: int = 16):
    """Morton (Z-order) key: bit-interleave ``bits``-bit normalized
    versions of each column expression.  ``cols`` is a list of
    (column, min, max) triples — min/max are the GLOBAL bounds used to
    scale each value into [0, 2^bits); pass exact aggregates or known
    domain bounds.  NULLs map to bucket 0 (they cluster together at
    the front, which is what a skipping scan wants).

    Pure codegen expression — no UDF, no shuffle; the cost of z-order
    lives entirely in the range-partitioned write that consumes it."""
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_value: {len(cols)} cols x {bits} bits exceeds a signed "
            "long; lower bits (resolution beyond ~file count is wasted anyway)"
        )
    top = (1 << bits) - 1
    norm = []
    for col, lo, hi in cols:
        span = float(hi - lo) if hi > lo else 1.0
        scaled = F.floor(
            (col.cast("double") - float(lo)) / span * float(top)
        ).cast("long")
        # coalesce FIRST: Spark's least/greatest SKIP null operands
        # (least(NULL, top) = top), so clamping before the null-default
        # would silently send NULLs to the TOP bucket instead of 0
        norm.append(
            F.least(F.greatest(F.coalesce(scaled, F.lit(0)), F.lit(0)), F.lit(top))
        )
    n = len(norm)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(norm):
            z = z.bitwiseOR(
                c.bitwiseAND(F.lit(1 << i)).cast("long") * F.lit(1 << (i * (n - 1) + j))
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: "list[str]",
    target_files: int,
    bits: int = 16,
    mode: str = "overwrite",
    partition_by: "list[str] | None" = None,
) -> None:
    """Z-order clustered write (the Delta ``OPTIMIZE ZORDER BY``
    pattern, public knowledge): rows are range-partitioned and sorted
    by the Morton interleave of ``cols``, so parquet row-group/file
    min-max stats become narrow in EVERY listed column at once and a
    predicate on ANY of them skips most files.  Hive-style
    ``partitionBy`` gives that for one low-cardinality column;
    z-order gives it for several high-cardinality ones — the
    standard layout for events(user_id, ts)-style point-lookup plus
    time-slice workloads at 100 TB.

    One pass: global min/max agg per column (tiny row), then ONE
    range-exchange on the z-value (repartitionByRange samples it),
    sortWithinPartitions, write.  The z column itself is dropped.

    Numeric, timestamp, and date columns are supported (temporal
    columns are normalized through an epoch-seconds double — the
    (user_id, ts) case the docstring advertises); other types raise
    (string z-ordering needs an order-preserving numeric projection
    the caller must choose)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, NumericType, TimestampType

    def numeric(c: str):
        dt = df.schema[c].dataType
        if isinstance(dt, (TimestampType, DateType)):
            return F.col(c).cast("timestamp").cast("double")
        if isinstance(dt, NumericType):
            return F.col(c).cast("double")
        raise ValueError(
            f"write_zordered: column {c!r} has unsupported type {dt}; "
            "z-order needs numeric/timestamp/date"
        )

    nums = {c: numeric(c) for c in cols}
    bounds = df.agg(
        *[
            f
            for c in cols
            for f in (F.min(nums[c]).alias(f"_lo_{c}"), F.max(nums[c]).alias(f"_hi_{c}"))
        ]
    ).collect()[0]
    # an all-NULL (or empty-input) column has None bounds; default them
    # to (0, 1) so the documented NULL→bucket-0 path executes instead
    # of zorder_value crashing on None arithmetic (r9 verdict)
    z = zorder_value(
        [
            (
                nums[c],
                bounds[f"_lo_{c}"] if bounds[f"_lo_{c}"] is not None else 0,
                bounds[f"_hi_{c}"] if bounds[f"_hi_{c}"] is not None else 1,
            )
            for c in cols
        ],
        bits,
    )
    # With partition_by, rows are range-exchanged on (partition cols,
    # z) and sorted the same way, so each write task holds a contiguous
    # z-range WITHIN mostly one Hive partition — z-clustered files
    # inside each partition dir (the bronze events(event_date) layout
    # composed with z-order; the two prune on different axes: dirs by
    # the partition predicate, then footer stats by the z columns).
    # target_files is the TOTAL task count across all partitions.
    part_cols = list(partition_by or [])
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(target_files, *part_cols, "_z")
        .sortWithinPartitions(*part_cols, "_z")
        .drop("_z")
    )
    writer = clustered.write.mode(mode)
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(path)
