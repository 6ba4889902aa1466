"""Batch rewrites of a parquet dataset, each through ``fsutil``'s
crash-safe staged swap: right-to-be-forgotten deletion and MERGE INTO
(the reference's Postgres upserts over immutable parquet)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def delete_user_data(
    spark: SparkSession, path: str, user_ids: "list[int]", user_col: str = "user_id"
) -> int:
    """Right-to-be-forgotten rewrite: remove every row belonging to
    ``user_ids`` from a parquet dataset, via the shared staging+rename
    discipline (``fsutil.swap_with_staging`` with the ``erase`` suffix
    pair).  Rows with a NULL ``user_col`` are PRESERVED — three-valued
    logic would otherwise silently delete every anonymous row.  Returns
    the number of rows removed.

    Scale notes: the anti-filter is a pushed-down IN over the id list
    (broadcast join it instead past ~thousands of ids); with the
    dataset partitioned/bucketed on ``user_col`` only the touched
    partitions need rewriting — this whole-dataset rewrite is the
    unpartitioned fallback.  Erasure must also cover derived sinks
    (rollups, metrics stores) — compose per-layer calls."""
    from . import fsutil

    counts: dict[str, int] = {}

    def _write(staging: str) -> None:
        df = spark.read.parquet(path)
        counts["before"] = df.count()
        kept = df.filter(
            ~F.col(user_col).isin([int(u) for u in user_ids])
            | F.col(user_col).isNull()
        )
        kept.write.mode("overwrite").parquet(staging)

    fsutil.swap_with_staging(spark, path, _write, job="erase")
    return counts["before"] - spark.read.parquet(path).count()


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: "list[str]",
    delete_col: "str | None" = None,
    partition_col: "str | None" = None,
) -> "dict[str, int]":
    """MERGE INTO for a parquet dataset (copy-on-write): every row in
    ``changes`` replaces the target row with the same key; rows whose
    ``delete_col`` is true remove their key instead — the CDC-apply /
    dimension-maintenance verb the reference performs with Postgres
    upserts (storage/postgres_connector.py's ON CONFLICT path),
    re-expressed over immutable parquet.  Returns
    {"inserted", "updated", "deleted"} audit counts.

    Scale shape — the two rewrite scopes:
    - unpartitioned: whole-dataset rewrite through the shared
      crash-safe swap (``fsutil.swap_with_staging``), the
      copy-on-write baseline (what Delta/Hudi CoW does per file, done
      here per dataset).
    - ``partition_col`` given (target written with partitionBy): ONLY
      the partitions present in ``changes`` are rewritten, each
      through its own crash-safe swap; untouched partition
      directories are never opened, let alone rewritten (pinned by
      test via file-mtime equality).  At 100 TB this is the
      difference between rewriting a day and rewriting a decade.
      ``partition_col`` must itself be one of ``key_cols`` (raises
      otherwise): only then does a key name exactly one partition,
      making the per-partition rewrite equivalent to the whole-dataset
      merge.  Partition values are Hive-path-escaped to address
      exactly the directories Spark's writer created; NULL partition
      values raise (route those through ``partition_col=None``).

    ``changes`` must be key-unique (asserted — a multi-row key would
    make the merge order-dependent); deletes for absent keys are
    no-ops counted as 0.
    """
    import os

    from pyspark.errors import AnalysisException

    from . import fsutil

    n_changes = changes.count()
    n_keys = changes.select(*key_cols).distinct().count()
    if n_keys != n_changes:
        raise ValueError(
            f"merge_upsert: changes must be key-unique on {key_cols} "
            f"({n_changes} rows, {n_keys} distinct keys)"
        )
    if delete_col is not None:
        dels = changes.filter(F.coalesce(F.col(delete_col), F.lit(False)))
        ups = changes.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
        del_keys = dels.select(*key_cols).distinct()
    else:
        ups = changes
        del_keys = None

    def _read_target():
        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    # heal BEFORE the existence probe: a dataset stranded mid-swap by a
    # crashed prior job reads as "missing" and this merge would
    # silently re-create it from the change set alone (the r10 heal
    # rule — restore first, then look)
    fsutil.heal_swap_crash(spark, path)
    target = _read_target()
    n_ups = ups.count()
    if target is None:
        writer = ups.write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return {"inserted": n_ups, "updated": 0, "deleted": 0}

    tkeys = target.select(*key_cols).distinct().localCheckpoint()
    updated = ups.select(*key_cols).distinct().join(tkeys, key_cols, "left_semi").count()
    inserted = n_ups - updated
    deleted = (
        del_keys.join(tkeys, key_cols, "left_semi").count()
        if del_keys is not None
        else 0
    )
    all_change_keys = changes.select(*key_cols).distinct()

    if partition_col is None:
        def _write(staging: str) -> None:
            survivors = spark.read.parquet(path).join(
                all_change_keys, key_cols, "left_anti"
            )
            survivors.unionByName(ups).write.parquet(staging)

        fsutil.swap_with_staging(spark, path, _write, job="compact")
        return {"inserted": inserted, "updated": updated, "deleted": deleted}

    # the partition column must be PART of the key for the
    # partition-scoped path: otherwise a change row whose key already
    # lives in a DIFFERENT partition would rewrite only its own
    # partition, leaving the stale row behind — duplicate keys and
    # audit counts that lie (r12 advisory).  With partition_col in the
    # key, a key names exactly one partition and per-partition rewrites
    # are equivalent to the whole-dataset merge.
    if partition_col not in key_cols:
        raise ValueError(
            "merge_upsert: partition_col must be one of key_cols for the "
            "partition-scoped path (a key that can move between partitions "
            "would leave its old row behind); pass partition_col=None for "
            "a whole-dataset merge"
        )
    sub_keys = [k for k in key_cols if k != partition_col]
    if not sub_keys:
        raise ValueError("merge_upsert: key_cols must extend beyond partition_col")
    touched = sorted(
        r[0] for r in changes.select(partition_col).distinct().collect()
    )
    for v in touched:
        # escape exactly as Spark's partitionBy writer does (and reject
        # NULL): an unescaped ':' or '/' in a hand-built path would
        # address a DIFFERENT directory than the one Spark wrote,
        # silently duplicating the partition on read (r12 advisory)
        subdir = os.path.join(
            path, f"{partition_col}={fsutil.escape_partition_value(v)}"
        )
        sub_ups = ups.filter(F.col(partition_col) == v).drop(partition_col)
        sub_change_keys = (
            changes.filter(F.col(partition_col) == v).select(*sub_keys).distinct()
        )
        # same heal-first rule per partition dir: a subdir stranded by
        # a crashed prior partition swap must be restored, not treated
        # as a brand-new partition (which would drop its other rows)
        fsutil.heal_swap_crash(spark, subdir)
        try:
            spark.read.parquet(subdir)
            exists = True
        except AnalysisException:
            exists = False
        if not exists:
            # brand-new partition: a plain first write (the crash
            # window equals any dataset's initial write)
            sub_ups.write.mode("overwrite").parquet(subdir)
            continue

        def _write_part(staging: str, _subdir=subdir, _ups=sub_ups, _keys=sub_change_keys) -> None:
            survivors = spark.read.parquet(_subdir).join(
                _keys, sub_keys, "left_anti"
            )
            survivors.unionByName(_ups).write.parquet(staging)

        fsutil.swap_with_staging(spark, subdir, _write_part, job="compact")
    return {"inserted": inserted, "updated": updated, "deleted": deleted}
