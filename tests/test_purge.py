"""Targeted deletion (sink.purge_keys): right-to-erasure on the gold
table, rewriting only the partitions that contain a purged key."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.sources import sink
from tests.test_sources import sink_schema


def _posts(spark, day, n=3):
    return spark.createDataFrame(
        [
            (
                f"t3_{day}_{i}", "title", None, None, "a", "r",
                dt.datetime(2024, 1, day, 12), 1, 0, None, 100.0, None,
                None, None, None, [], dt.datetime(2024, 2, 1),
            )
            for i in range(n)
        ],
        sink_schema(),
    )


def test_purge_removes_keys_and_leaves_other_partitions_untouched(spark, tmp_path):
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1).unionByName(_posts(spark, 2)), path)
    mtime_day2 = os.path.getmtime(os.path.join(path, "created_date=2024-01-02"))

    keys = spark.createDataFrame([("t3_1_0",), ("t3_1_2",)], "post_id string")
    removed = sink.purge_keys(spark, path, keys)
    assert removed == 2

    out = spark.read.parquet(path)
    assert out.count() == 4
    left = {r.post_id for r in out.select("post_id").collect()}
    assert left == {"t3_1_1", "t3_2_0", "t3_2_1", "t3_2_2"}
    # day-2 partition files untouched on disk
    assert os.path.getmtime(os.path.join(path, "created_date=2024-01-02")) == mtime_day2


def test_purge_missing_keys_is_noop(spark, tmp_path):
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1), path)
    mtime = os.path.getmtime(os.path.join(path, "created_date=2024-01-01"))
    keys = spark.createDataFrame([("nope",)], "post_id string")
    assert sink.purge_keys(spark, path, keys) == 0
    assert spark.read.parquet(path).count() == 3
    assert os.path.getmtime(os.path.join(path, "created_date=2024-01-01")) == mtime


def test_purge_entire_partition_deletes_its_directory(spark, tmp_path):
    # ALL of day-1's rows purged plus one day-2 row: swapping in the
    # staged partitions alone would leave the emptied day-1 partition behind —
    # purge_keys must delete its directory explicitly
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1).unionByName(_posts(spark, 2)), path)
    keys = spark.createDataFrame(
        [("t3_1_0",), ("t3_1_1",), ("t3_1_2",), ("t3_2_1",)], "post_id string"
    )
    removed = sink.purge_keys(spark, path, keys)
    assert removed == 4
    out = spark.read.parquet(path)
    assert {r.post_id for r in out.select("post_id").collect()} == {"t3_2_0", "t3_2_2"}
    assert not os.path.exists(os.path.join(path, "created_date=2024-01-01"))
    assert not os.path.exists(path + "__staging")


def test_purge_every_partition_empties_table(spark, tmp_path):
    # every touched partition empties → no staged partitions at all; the
    # swap is skipped and only directory deletes run
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1).unionByName(_posts(spark, 2)), path)
    keys = spark.createDataFrame(
        [(f"t3_{d}_{i}",) for d in (1, 2) for i in range(3)], "post_id string"
    )
    removed = sink.purge_keys(spark, path, keys)
    assert removed == 6
    assert not os.path.exists(os.path.join(path, "created_date=2024-01-01"))
    assert not os.path.exists(os.path.join(path, "created_date=2024-01-02"))
    full_schema = sink_schema() + ", created_date date"
    assert spark.read.schema(full_schema).parquet(path).count() == 0


def test_purge_restores_partition_overwrite_mode(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1), path)
    sink.purge_keys(spark, path, spark.createDataFrame([("t3_1_0",)], "post_id string"))
    assert spark.conf.get(key) == prev


def test_purge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "gold")
    sink.write_gold(_posts(spark, 1), path)
    keys = spark.createDataFrame([("t3_1_1",)], "post_id string")
    assert sink.purge_keys(spark, path, keys) == 1
    assert sink.purge_keys(spark, path, keys) == 0
    assert spark.read.parquet(path).count() == 2


def _null_day_posts(spark, n=3, tag="n"):
    # created_datetime NULL → created_date NULL → on-disk partition dir
    # __HIVE_DEFAULT_PARTITION__
    return spark.createDataFrame(
        [
            (
                f"t3_{tag}_{i}", "title", None, None, "a", "r",
                None, 1, 0, None, 100.0, None,
                None, None, None, [], dt.datetime(2024, 2, 1),
            )
            for i in range(n)
        ],
        sink_schema(),
    )


def test_purge_partial_null_partition_keeps_survivors(spark, tmp_path):
    """isin() never matches NULL: without the explicit isNull arm the
    null partition's rows are invisible to the affected-filter, the
    partition is misclassified as emptied, and its directory — survivors
    included — is deleted wholesale."""
    path = str(tmp_path / "gold_null")
    sink.write_gold(_posts(spark, 1).unionByName(_null_day_posts(spark)), path)
    assert os.path.exists(os.path.join(path, "created_date=__HIVE_DEFAULT_PARTITION__"))

    keys = spark.createDataFrame([("t3_n_0",), ("t3_1_0",)], "post_id string")
    assert sink.purge_keys(spark, path, keys) == 2
    out = spark.read.parquet(path)
    assert {r.post_id for r in out.select("post_id").collect()} == {
        "t3_1_1", "t3_1_2", "t3_n_1", "t3_n_2"
    }
    assert os.path.exists(os.path.join(path, "created_date=__HIVE_DEFAULT_PARTITION__"))


def test_purge_emptied_null_partition_deletes_hive_default_dir(spark, tmp_path):
    """A fully-emptied null partition must be diffed and deleted under
    its real on-disk name __HIVE_DEFAULT_PARTITION__, not str(None)."""
    path = str(tmp_path / "gold_null2")
    sink.write_gold(_posts(spark, 1).unionByName(_null_day_posts(spark)), path)
    keys = spark.createDataFrame(
        [("t3_n_0",), ("t3_n_1",), ("t3_n_2",)], "post_id string"
    )
    assert sink.purge_keys(spark, path, keys) == 3
    assert not os.path.exists(
        os.path.join(path, "created_date=__HIVE_DEFAULT_PARTITION__")
    )
    out = spark.read.parquet(path)
    assert {r.post_id for r in out.select("post_id").collect()} == {
        "t3_1_0", "t3_1_1", "t3_1_2"
    }


def test_upsert_null_partition_preserves_old_rows(spark, tmp_path):
    """upsert_gold's touched-partition read has the same NULL blind spot:
    a batch carrying a null created_date must MERGE with the existing
    null-partition rows, not overwrite them away."""
    path = str(tmp_path / "gold_null3")
    sink.write_gold(_posts(spark, 1).unionByName(_null_day_posts(spark)), path)
    batch = _null_day_posts(spark, n=1, tag="x")  # new key, null partition
    sink.upsert_gold(spark, path, batch)
    out = spark.read.parquet(path)
    assert {r.post_id for r in out.select("post_id").collect()} == {
        "t3_1_0", "t3_1_1", "t3_1_2", "t3_n_0", "t3_n_1", "t3_n_2", "t3_x_0"
    }


def test_purge_emptied_partition_with_escaping_value(spark, tmp_path, monkeypatch):
    """Partition values that Spark percent-escapes on disk (space, ':')
    must still be detected as emptied and deleted by their REAL
    (escaped) directory name — raw str(v) comparison would miss both."""
    monkeypatch.setattr(sink, "PARTITION_COL", "cat")
    path = str(tmp_path / "gold_esc")
    spark.createDataFrame(
        [("k1", "a b:c"), ("k2", "a b:c"), ("k3", "plain")],
        "post_id string, cat string",
    ).write.partitionBy("cat").parquet(path)
    on_disk = {d for d in os.listdir(path) if d.startswith("cat=")}
    assert "cat=a b:c" not in on_disk  # precondition: value IS escaped

    keys = spark.createDataFrame([("k1",), ("k2",)], "post_id string")
    assert sink.purge_keys(spark, path, keys) == 2
    dirs = {d for d in os.listdir(path) if d.startswith("cat=")}
    assert dirs == {"cat=plain"}  # emptied escaped dir really deleted
    assert {r.post_id for r in spark.read.parquet(path).collect()} == {"k3"}
