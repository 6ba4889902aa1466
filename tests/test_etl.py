"""Batch dataset rewrites: right-to-be-forgotten deletion and MERGE upsert."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_delete_user_data_removes_only_target_rows(spark, tmp_path):
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import delete_user_data

    path = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [(i, i % 5, f"e{i}") for i in range(100)], "event_id long, user_id long, t string"
    )
    df = df.union(
        spark.createDataFrame([(1000, None, "anon")], "event_id long, user_id long, t string")
    )
    df.write.parquet(path)
    removed = delete_user_data(spark, path, [1, 3])
    assert removed == 40
    left = spark.read.parquet(path)
    assert left.count() == 61
    assert left.filter(F.col("user_id").isNull()).count() == 1, (
        "NULL-user (anonymous) rows must be PRESERVED by erasure"
    )
    assert left.filter(F.col("user_id").isin(1, 3)).count() == 0
    assert left.filter(F.col("user_id") == 2).count() == 20, "other users untouched"
    assert not os.path.exists(path + ".erase_staging")
    assert not os.path.exists(path + ".erase_old")

    # crash recovery, rename window: an erasure that died between its
    # two renames strands the dataset in .erase_old; the next erasure
    # call must restore it first (r10 review)
    os.rename(path, path + ".erase_old")
    assert delete_user_data(spark, path, [2]) == 20
    assert spark.read.parquet(path).count() == 41

    # cross-job heal: a crashed "compact"-suffix rewrite must not block
    # a subsequent erasure on the same path (each job heals every known
    # backup suffix), and vice versa
    os.rename(path, path + ".compact_old")
    assert delete_user_data(spark, path, [4]) == 20
    assert spark.read.parquet(path).count() == 21
    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    os.rename(path, path + ".erase_old")
    anon = spark.createDataFrame([(1000, None, "anon2")], "event_id long, user_id long, t string")
    assert merge_upsert(spark, path, anon, ["event_id"]) == {"inserted": 0, "updated": 1, "deleted": 0}
    assert spark.read.parquet(path).count() == 21


def test_merge_upsert_semantics_unpartitioned(spark, tmp_path):
    """Insert/update/delete in one change set against an unpartitioned
    dataset; audit counts match; key-duplicate changes are rejected."""
    import pytest as _pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "name", "v"]
    ).write.parquet(path)
    changes = spark.createDataFrame(
        [(2, "B", 22, False), (4, "d", 40, False), (3, None, 0, True)],
        ["id", "name", "v", "is_delete"],
    )
    stats = merge_upsert(spark, path, changes, ["id"], delete_col="is_delete")
    assert stats == {"inserted": 1, "updated": 1, "deleted": 1}
    got = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 22), 4: ("d", 40)}

    # delete of an absent key is a counted no-op; re-applying the same
    # upsert is idempotent in content
    stats2 = merge_upsert(spark, path, changes, ["id"], delete_col="is_delete")
    assert stats2 == {"inserted": 0, "updated": 2, "deleted": 0}
    got2 = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got2 == got

    dup = spark.createDataFrame([(5, "x", 1, False), (5, "y", 2, False)],
                                ["id", "name", "v", "is_delete"])
    with _pytest.raises(ValueError, match="key-unique"):
        merge_upsert(spark, path, dup, ["id"], delete_col="is_delete")


def test_merge_upsert_partition_scoped_rewrite(spark, tmp_path):
    """Partition-scoped merge rewrites ONLY the partitions named in
    the change set: untouched partition directories keep their exact
    files (path + mtime), the touched one is swapped, and a brand-new
    partition appears."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    path = str(tmp_path / "facts")
    spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0), ("2024-01-02", 3, 30.0)],
        ["day", "id", "v"],
    ).write.partitionBy("day").parquet(path)

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if not f.startswith(".")
        }

    before_untouched = files_of("2024-01-02")
    changes = spark.createDataFrame(
        [
            ("2024-01-01", 2, 22.0, False),   # update in an existing partition
            ("2024-01-01", 9, 90.0, False),   # insert into it
            ("2024-01-03", 7, 70.0, False),   # brand-new partition
        ],
        ["day", "id", "v", "is_delete"],
    )
    stats = merge_upsert(
        spark, path, changes, ["day", "id"],
        delete_col="is_delete", partition_col="day",
    )
    assert stats == {"inserted": 2, "updated": 1, "deleted": 0}
    got = {
        (str(r["day"]), r["id"]): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1): 10.0,
        ("2024-01-01", 2): 22.0,
        ("2024-01-01", 9): 90.0,
        ("2024-01-02", 3): 30.0,
        ("2024-01-03", 7): 70.0,
    }
    # the untouched partition's files were not rewritten
    assert files_of("2024-01-02") == before_untouched


def test_merge_upsert_heals_crash_debris_and_creates_target(spark, tmp_path):
    """A merge onto a dataset stranded mid-swap (live dir renamed to
    the staging suffix — the crash window) heals on entry; a merge
    onto a missing target creates it."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    path = str(tmp_path / "dim2")
    spark.createDataFrame([(1, 10)], ["id", "v"]).write.parquet(path)
    os.rename(path, path + ".compact_old")  # simulate crash between renames
    changes = spark.createDataFrame([(1, 11)], ["id", "v"])
    stats = merge_upsert(spark, path, changes, ["id"])
    assert stats == {"inserted": 0, "updated": 1, "deleted": 0}
    assert {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()} == {(1, 11)}

    fresh = str(tmp_path / "brandnew")
    stats = merge_upsert(spark, fresh, changes, ["id"])
    assert stats == {"inserted": 1, "updated": 0, "deleted": 0}

def test_merge_upsert_partition_col_must_be_a_key(spark, tmp_path):
    """partition_col outside key_cols would let a key move between
    partitions while its old row survives (duplicate keys, r12
    advisory) — the partition-scoped path refuses it up front."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    path = str(tmp_path / "facts_badkey")
    spark.createDataFrame(
        [("2024-01-01", 1, 10.0)], ["day", "id", "v"]
    ).write.partitionBy("day").parquet(path)
    changes = spark.createDataFrame([("2024-01-02", 1, 11.0)], ["day", "id", "v"])
    with pytest.raises(ValueError, match="partition_col must be one of key_cols"):
        merge_upsert(spark, path, changes, ["id"], partition_col="day")


def test_merge_upsert_escapes_partition_path_values(spark, tmp_path):
    """Partition values containing Hive-reserved characters (':', '/')
    are escaped exactly as Spark's partitionBy writer escapes them, so
    the hand-built rewrite path addresses the directory Spark wrote —
    not a second directory for the same logical partition (r12
    advisory).  NULL partition values raise."""
    import os

    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    path = str(tmp_path / "facts_escaped")
    spark.createDataFrame(
        [("12:30", 1, 10.0), ("a/b", 2, 20.0)], ["slot", "id", "v"]
    ).write.partitionBy("slot").parquet(path)
    spark_dirs = {d for d in os.listdir(path) if d.startswith("slot=")}
    assert spark_dirs == {"slot=12%3A30", "slot=a%2Fb"}  # what Spark wrote

    changes = spark.createDataFrame(
        [("12:30", 1, 11.0), ("12:30", 3, 30.0)], ["slot", "id", "v"]
    )
    stats = merge_upsert(spark, path, changes, ["slot", "id"], partition_col="slot")
    assert stats == {"inserted": 1, "updated": 1, "deleted": 0}
    # no new directory appeared — the rewrite hit Spark's escaped dir
    assert {d for d in os.listdir(path) if d.startswith("slot=")} == spark_dirs
    got = {(r["slot"], r["id"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("12:30", 1): 11.0, ("12:30", 3): 30.0, ("a/b", 2): 20.0}

    null_changes = spark.createDataFrame(
        [(None, 9, 90.0)], "slot string, id long, v double"
    )
    with pytest.raises(ValueError, match="NULL partition values"):
        merge_upsert(spark, path, null_changes, ["slot", "id"], partition_col="slot")
