"""Loader dtype normalization — regression for the round-5 breakage.

The driver testdata stores tz-less parquet timestamps (``timestamp[us]``
with isAdjustedToUTC=false).  PySpark 4.x infers those as TIMESTAMP_NTZ
by default, which ``withWatermark``/event-time ops reject and which the
DuckDB oracle never sees.  ``load()`` must always hand back plain
TIMESTAMP (session tz = UTC) no matter how the session was built.
"""

from __future__ import annotations

import pytest

from clickstreaming_end_to_end_data_engineering_project_spark.schema import TABLE_NAMES
from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_never_yields_timestamp_ntz(spark, sf_dir, name):
    dtypes = dict(load(spark, sf_dir, name).dtypes)
    ntz = {c: t for c, t in dtypes.items() if "ntz" in t}
    assert not ntz, f"{name}: NTZ columns leaked through load(): {ntz}"


def test_events_ts_is_timestamp(spark, sf_dir):
    assert dict(load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"


def test_normalize_ntz_casts_inference_on_read(spark, sf_dir):
    """normalize_ntz must actually convert an NTZ column: read events
    with inference forced ON (bypassing load()'s conf reset), confirm
    the raw scan yields TIMESTAMP_NTZ on this testdata, then confirm
    the helper rewrites it to TIMESTAMP."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import (
        normalize_ntz,
    )

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        assert dict(raw.dtypes)["ts"] == "timestamp_ntz", (
            "precondition: this testdata must infer NTZ when inference is on"
        )
        fixed = normalize_ntz(raw)
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert dict(fixed.dtypes)["ts"] == "timestamp"
    assert fixed.withWatermark("ts", "1 minute").count() > 0


def test_load_is_watermarkable(spark, sf_dir):
    """The exact op that crashed BENCH_r05: withWatermark on events.ts."""
    df = load(spark, sf_dir, "events").withWatermark("ts", "1 minute")
    assert df.count() > 0


def test_load_handles_nanos_layout(spark, tmp_path):
    """Rounds 1-4 testdata stored events.ts as TIMESTAMP(NANOS), which
    Spark's reader rejects outright; the loader's guarded fallback
    (nanosAsLong + µs truncation) must still produce a watermarkable
    TIMESTAMP column if that layout ever returns."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime([base, base + dt.timedelta(minutes=1), base + dt.timedelta(minutes=2)]),
            "user_id": [1, 1, 2],
        }
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
        1, "ts", pa.Array.from_pandas(pdf["ts"]).cast(pa.timestamp("ns"))
    )
    sf_dir = str(tmp_path)
    pq.write_table(table, f"{sf_dir}/events.parquet", coerce_timestamps=None)

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        df = load(spark, sf_dir, "events")
        # the fallback must restore the session conf (one nanos table
        # must not change how every later table loads) ...
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) == prev
        assert dict(df.dtypes)["ts"] == "timestamp"
        # ... and the captured relation must still execute post-restore
        rows = sorted(r["ts"] for r in df.collect())
        assert rows[0] == base and rows[-1] == base + dt.timedelta(minutes=2)
        assert df.withWatermark("ts", "1 minute").count() == 3
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_load_leaves_genuine_bigint_ts_alone(spark, tmp_path):
    """A table with a legitimate bigint column named ``ts`` (no nanos
    layout anywhere) must NOT be reinterpreted as timestamps — the
    conversion is gated on the parquet footer saying the column was
    TIMESTAMP(NANOS), not on the column's name."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame({"event_id": [1, 2], "ts": [1000, 2000]})
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f"{tmp_path}/events.parquet")
    df = load(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert sorted(r["ts"] for r in df.collect()) == [1000, 2000]


def test_load_nanos_fallback_converts_all_nanos_columns(spark, tmp_path):
    """The nanos fallback rebuilds EVERY column the footer marks as
    timestamp[ns] — not just one named ``ts`` — while leaving genuine
    bigint columns as-is."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime([base, base + dt.timedelta(minutes=1)]),
            "updated_at": pd.to_datetime([base, base + dt.timedelta(hours=1)]),
            "seq": [10, 20],
        }
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for name in ("ts", "updated_at"):
        i = table.schema.get_field_index(name)
        table = table.set_column(
            i, name, pa.Array.from_pandas(pdf[name]).cast(pa.timestamp("ns"))
        )
    pq.write_table(table, f"{tmp_path}/events.parquet", coerce_timestamps=None)

    df = load(spark, str(tmp_path), "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"] == "timestamp"
    assert dtypes["updated_at"] == "timestamp"
    assert dtypes["seq"] == "bigint"
    row = df.orderBy("event_id").collect()[-1]
    assert row["updated_at"] == base + dt.timedelta(hours=1)
    assert row["seq"] == 20


def test_load_converts_nanos_when_conf_preset_true(spark, tmp_path):
    """An externally built session may already run nanosAsLong=true, so
    the first read SUCCEEDS with raw bigint nanos and the exception
    fallback never fires — load() must still rebuild the footer-nanos
    columns into timestamps (regression: the conversion used to live
    only in the except branch)."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    pdf = pd.DataFrame(
        {"event_id": [1, 2], "ts": pd.to_datetime([base, base + dt.timedelta(minutes=1)])}
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
        1, "ts", pa.Array.from_pandas(pdf["ts"]).cast(pa.timestamp("ns"))
    )
    pq.write_table(table, f"{tmp_path}/events.parquet", coerce_timestamps=None)

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert sorted(r["ts"] for r in df.collect())[0] == base
        # genuine bigints (event_id) untouched
        assert dict(df.dtypes)["event_id"] == "bigint"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_entry_surface_under_foreign_os_timezone(sf_dir):
    """The driver process may run under ANY OS timezone (TZ env → JVM
    default zone).  A fresh subprocess with TZ=Pacific/Kiritimati
    (UTC+14, the most extreme offset) must still produce oracle-exact
    results for an event-time query through the __spark_entry__
    surface — the loader's per-access UTC forcing must cover the JVM
    default-zone axis, not just the session conf."""
    import os
    import subprocess
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import sys
sys.path.insert(0, %(root)r)
sys.path.insert(0, %(root)r + "/tests")
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
import __spark_entry__ as mod
from oracle_harness import compare, duck_connection

sf = %(sf)r
con = duck_connection(sf)
qs, os_ = mod.queries(), mod.oracle_sql()
for name in ["page_view_counts", "revenue_by_month", "dau_wau_stickiness",
             "hourly_event_stats", "q1_pricing_summary"]:
    ok, msg = compare(qs[name](spark, sf), con, os_[name], driver_strict=True)
    assert ok, f"{name}: {msg}"
print("TZ-OK")
""" % {"sf": sf_dir, "root": repo_root}
    env = dict(os.environ, TZ="Pacific/Kiritimati")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0 and "TZ-OK" in out.stdout, out.stderr[-2000:]


def test_write_zordered_narrows_stats_in_every_column(spark, sf_dir, tmp_path):
    """Z-order clustered write: parquet file-level min-max must be
    narrow in BOTH z-order columns at once, unlike a single-column
    sort layout (narrow in the sort column, full-range in the other).
    That narrowness IS the data-skipping contract: a predicate on
    either column prunes most files via footer stats."""
    import pyarrow.parquet as pq

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        write_zordered,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    n_files = 16

    zpath = str(tmp_path / "zordered")
    write_zordered(events, zpath, ["user_id", "event_id"], n_files)

    spath = str(tmp_path / "sorted1d")
    (events.repartitionByRange(n_files, "user_id")
     .sortWithinPartitions("user_id").write.parquet(spath))

    def mean_spread(path, col):
        import glob

        lo_g, hi_g, spreads = None, None, []
        files = sorted(glob.glob(path + "/*.parquet"))
        assert len(files) >= n_files // 2, "expected a multi-file layout"
        per_file = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            assert los, f"no stats for {col} in {f}"
            per_file.append((min(los), max(his)))
        lo_g = min(lo for lo, _ in per_file)
        hi_g = max(hi for _, hi in per_file)
        span = max(hi_g - lo_g, 1)
        return sum((hi - lo) / span for lo, hi in per_file) / len(per_file)

    # row preservation
    assert spark.read.parquet(zpath).count() == events.count()

    z_user = mean_spread(zpath, "user_id")
    z_event = mean_spread(zpath, "event_id")
    s_user = mean_spread(spath, "user_id")
    s_event = mean_spread(spath, "event_id")

    # the 1-D sort control behaves as expected: tight on the sort
    # column, useless on the other
    assert s_user < 0.3, s_user
    assert s_event > 0.7, s_event
    # z-order is materially narrow on BOTH columns simultaneously
    assert z_user < 0.6 and z_event < 0.6, (z_user, z_event)
    # and beats the 1-D layout decisively on the second column
    assert z_event < s_event / 2, (z_event, s_event)


def test_zorder_value_matches_python_morton(spark):
    """The Morton interleave must equal the reference bit-interleave of
    the min-max-normalized values (property-checked on a deterministic
    grid incl. bounds, NULLs, and 3-column interleave)."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        zorder_value,
    )

    def norm(v, lo, hi, bits):
        top = (1 << bits) - 1
        if v is None:
            return 0
        return max(0, min(top, int((v - lo) / float(hi - lo or 1) * top)))

    def morton(vals, bits):
        z = 0
        n = len(vals)
        for i in range(bits):
            for j, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * n + j)
        return z

    rows = [
        (i, a, b, c)
        for i, (a, b, c) in enumerate(
            (a, b, c)
            for a in (0, 1, 7, 63, 100)
            for b in (0, 13, 50, 100)
            for c in (None, 0, 100)
        )
    ]
    df = spark.createDataFrame(rows, ["i", "a", "b", "c"])
    for bits, cols in [(8, ["a", "b"]), (6, ["a", "b", "c"])]:
        z = zorder_value([(F.col(c), 0, 100) for c in cols], bits=bits)
        got = {r["i"]: r["z"] for r in df.withColumn("z", z).collect()}
        for row in rows:
            vals = [norm(row[1 + ["a", "b", "c"].index(c)], 0, 100, bits) for c in cols]
            assert got[row[0]] == morton(vals, bits), (bits, cols, row)


def test_write_zordered_supports_timestamp_columns(spark, sf_dir, tmp_path):
    """The advertised (user_id, ts) workload: temporal columns are
    normalized through epoch doubles; file-level ts stats must be
    narrow too, and unsupported types must raise."""
    import glob

    import pyarrow.parquet as pq
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        write_zordered,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    path = str(tmp_path / "zts")
    write_zordered(events, path, ["user_id", "ts"], 16)
    assert spark.read.parquet(path).count() == events.count()

    per_file = []
    for f in sorted(glob.glob(path + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        st = [
            md.row_group(g).column(i).statistics
            for g in range(md.num_row_groups)
            for i in range(md.num_columns)
            if md.row_group(g).column(i).path_in_schema == "ts"
            and md.row_group(g).column(i).statistics is not None
            and md.row_group(g).column(i).statistics.has_min_max
        ]
        if not st:
            continue
        per_file.append((min(s.min for s in st), max(s.max for s in st)))
    assert len(per_file) >= 8, "expected ts stats in most files"
    lo = min(a for a, _ in per_file)
    hi = max(b for _, b in per_file)
    spread = sum((b - a) / (hi - lo) for a, b in per_file) / len(per_file)
    assert spread < 0.6, spread

    with pytest.raises(ValueError, match="unsupported type"):
        write_zordered(
            load(spark, sf_dir, "events").select("event_id", "event_type"),
            str(tmp_path / "zbad"),
            ["event_type", "event_id"],
            4,
        )


def test_write_zordered_all_null_column(spark, tmp_path):
    """Degenerate bounds: an all-NULL z-column has None min/max; the
    write must still succeed with NULLs in bucket 0 (the r9 verdict
    caught a TypeError on None arithmetic here) — and the same guard
    covers a single-row/constant column (lo == hi)."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        write_zordered,
    )

    df = spark.range(100).select(
        F.col("id"),
        F.lit(None).cast("double").alias("all_null"),
        F.lit(7.0).alias("constant"),
    )
    path = str(tmp_path / "znull")
    write_zordered(df, path, ["id", "all_null", "constant"], 4)
    got = spark.read.parquet(path)
    assert got.count() == 100
    assert got.filter(F.col("all_null").isNull()).count() == 100


def test_schema_cache_hits_after_first_load(spark, sf_dir):
    """The catalog-style schema cache: the first successful load of a
    table infers from the parquet footer and caches the raw schema;
    later loads supply it explicitly (skipping the ~85 ms/call JVM
    footer inference — half of TPC-H Q2's wall-clock, measured r11)
    and must return an identical schema and identical rows."""
    from clickstreaming_end_to_end_data_engineering_project_spark.sources import tables

    import os

    key = (os.path.abspath(sf_dir), "nation")
    tables._SCHEMA_CACHE.pop(key, None)
    first = load(spark, sf_dir, "nation")
    assert key in tables._SCHEMA_CACHE, "successful load must populate the cache"
    second = load(spark, sf_dir, "nation")  # cache-hit path
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))
    # a dropped entry → the next load re-infers and still works
    tables._SCHEMA_CACHE.pop(key)
    third = load(spark, sf_dir, "nation")
    assert third.schema == first.schema


def test_schema_cache_skips_nanos_layout(spark, tmp_path):
    """Nanos-layout tables are never cached: their load path rewrites
    columns (bigint → timestamp) so the raw read schema is not a valid
    catalog entry, and the fallback must re-inspect the footer each
    time."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickstreaming_end_to_end_data_engineering_project_spark.sources import tables

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    pdf = pd.DataFrame(
        {"event_id": [1, 2], "ts": pd.to_datetime([base, base + dt.timedelta(minutes=1)])}
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).set_column(
        1, "ts", pa.Array.from_pandas(pdf["ts"]).cast(pa.timestamp("ns"))
    )
    pq.write_table(table, f"{tmp_path}/events.parquet", coerce_timestamps=None)

    import os

    key = (os.path.abspath(str(tmp_path)), "events")
    df = load(spark, str(tmp_path), "events")
    assert key not in tables._SCHEMA_CACHE
    assert dict(df.dtypes)["ts"] == "timestamp"
    # a second load takes the fallback again and still converts
    df2 = load(spark, str(tmp_path), "events")
    assert key not in tables._SCHEMA_CACHE
    assert dict(df2.dtypes)["ts"] == "timestamp"


def test_schema_cache_detects_local_rewrite(spark, tmp_path):
    """Staleness hardening (r11 advice): a table rewritten at the same
    path with a DIFFERENT schema must be re-inferred, not silently read
    with the cached schema (which would yield nulls/mis-typed columns).
    The stat signature (mtime_ns/size/inode) catches the rewrite."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.sources import tables

    path = f"{tmp_path}/dim.parquet"
    spark.range(5).select(F.col("id").alias("a")).write.parquet(path)
    first = load(spark, str(tmp_path), "dim")
    assert first.columns == ["a"]
    # rewrite in place with a different schema (overwrite recreates the
    # directory: new inode + mtime move the signature)
    spark.range(5).select(
        F.col("id").alias("a"), F.lit("x").alias("b")
    ).write.mode("overwrite").parquet(path)
    fresh = load(spark, str(tmp_path), "dim")
    assert sorted(fresh.columns) == ["a", "b"]
    assert fresh.filter(F.col("b").isNull()).count() == 0


def test_swap_invalidates_schema_cache(spark, tmp_path, monkeypatch):
    """On a filesystem where the stat signature is unavailable (remote
    URI → None), ``fsutil.swap_with_staging`` itself must invalidate
    the rewritten path's cache entry — simulate by forcing the
    signature to None and compacting to a changed schema."""
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark import fsutil
    from clickstreaming_end_to_end_data_engineering_project_spark.sources import tables

    monkeypatch.setattr(tables, "_path_signature", lambda p: None)
    path = f"{tmp_path}/dim.parquet"
    spark.range(5).select(F.col("id").alias("a")).write.parquet(path)
    first = load(spark, str(tmp_path), "dim")
    assert first.columns == ["a"]

    def rewrite(staging: str) -> None:
        spark.range(5).select(
            F.col("id").alias("a"), F.lit(1).alias("b")
        ).write.parquet(staging)

    fsutil.swap_with_staging(spark, path, rewrite, job="compact")
    import os

    assert (os.path.abspath(str(tmp_path)), "dim") not in tables._SCHEMA_CACHE
    fresh = load(spark, str(tmp_path), "dim")
    assert sorted(fresh.columns) == ["a", "b"]


def test_write_zordered_within_hive_partitions(spark, sf_dir, tmp_path):
    """partition_by composes Hive partition pruning with z-order
    stats pruning: the layout has one dir per event_date, rows are
    preserved, and WITHIN a single date dir the per-file user_id
    min-max spans are narrow (z-clustered) instead of full-range —
    the bronze-layout composition the 100 TB scan path relies on."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        write_zordered,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load

    events = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .withColumn("event_date", F.to_date("ts"))
    )
    path = str(tmp_path / "zpart")
    write_zordered(
        events, path, ["user_id", "ts"], 64, partition_by=["event_date"]
    )
    dirs = sorted(glob.glob(path + "/event_date=*"))
    n_dates = events.select("event_date").distinct().count()
    assert len(dirs) == n_dates, (len(dirs), n_dates)
    back = spark.read.parquet(path)
    assert back.count() == events.count()

    # pick the dir with the most files; its user_id spans must be
    # narrow per file relative to the dir's own span
    per_dir = {d: sorted(glob.glob(d + "/*.parquet")) for d in dirs}
    d = max(per_dir, key=lambda x: len(per_dir[x]))
    files = per_dir[d]
    if len(files) < 2:
        import pytest

        pytest.skip("fixture too small for multi-file partitions")
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == "user_id" and c.statistics is not None:
                    los.append(c.statistics.min)
                    his.append(c.statistics.max)
        assert los, f"no user_id stats in {f}"
        spans.append((min(los), max(his)))
    glo = min(lo for lo, _ in spans)
    ghi = max(hi for _, hi in spans)
    mean_rel = sum((hi - lo) / max(ghi - glo, 1) for lo, hi in spans) / len(spans)
    assert mean_rel < 0.7, (mean_rel, spans)
