"""Gold-table sink: declared schema, DDL bootstrap, date-partitioned
parquet layout, and partition-by-partition commits.

Replaces the reference's Postgres DDL + btree index (S7, dags/dag.py:490-514):
the ``created_date`` partition column + parquet column statistics serve the
same access pattern the ``idx_posts_created_datetime`` index served —
watermark probes (max over recent partitions) and recency filters prune to
a handful of partitions instead of scanning the table.

At 100 TB: daily partitions keep rewrite units bounded (``upsert_gold``
rewrites only the partitions a batch touches); a second-level bucket-by
on the merge key (post_id) would additionally make upsert joins
shuffle-free — noted here because vanilla parquet tables only support
bucketing through the catalog (``bucketBy`` + saveAsTable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark.operators.merge import merge_upsert

PARTITION_COL = "created_date"

# The one definition of the gold table. Reads go through it (no footer
# inference job per read) and so does the catalog DDL; a column the
# writers add must be added here too, or declared-schema reads drop it.
GOLD_SCHEMA = (
    "post_id STRING, title STRING, url STRING, text STRING, author STRING, "
    "subreddit STRING, created_datetime TIMESTAMP, upvotes INT, comments_count INT, "
    "salary_currency STRING, lower_salary DOUBLE, upper_salary DOUBLE, "
    "job_position STRING, location STRING, field STRING, technologies ARRAY<STRING>, "
    f"ingest_ts TIMESTAMP, {PARTITION_COL} DATE"
)


def _touched_pred(touched: list) -> F.Column:
    """Membership predicate over partition values that is NULL-correct:
    ``isin()`` never matches NULL (SQL three-valued logic), so a null
    partition value — possible because ``created_date`` derives from a
    nullable timestamp and lands on disk as ``__HIVE_DEFAULT_PARTITION__``
    — needs an explicit ``isNull`` arm. Without it, null-partition rows
    are invisible to the touched-partition filters and a rewrite would
    silently drop (upsert) or wrongly delete (purge) them."""
    pred = F.col(PARTITION_COL).isin([v for v in touched if v is not None])
    if any(v is None for v in touched):
        pred = pred | F.col(PARTITION_COL).isNull()
    return pred


def ensure_gold_table(spark: SparkSession, path: str, name: str = "posts_gold") -> None:
    """CREATE TABLE IF NOT EXISTS analog (S7): external parquet table
    partitioned by date, registered in the session catalog."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({GOLD_SCHEMA}) USING parquet "
        f"PARTITIONED BY ({PARTITION_COL}) LOCATION '{path}'"
    )


def with_partition_col(df: DataFrame, ts_col: str = "created_datetime") -> DataFrame:
    return df.withColumn(PARTITION_COL, F.to_date(F.col(ts_col)))


def read_gold(spark: SparkSession, path: str) -> DataFrame:
    """The gold table, read by ``GOLD_SCHEMA``: no schema-inference job.

    A missing ``path`` still raises ``AnalysisException`` (PATH_NOT_FOUND);
    the daily job's bootstrap detection relies on it. A partition swap
    that a crash interrupted is finished or discarded first, so the read
    sees a whole table."""
    _recover(spark, path)
    return spark.read.schema(GOLD_SCHEMA).parquet(path)


def write_gold(df: DataFrame, path: str) -> None:
    """Initial/full write of the partitioned layout.

    Rows are clustered by post_id within each date partition
    (sortWithinPartitions): parquet row-group min/max stats on post_id
    then prune point lookups and merge-key probes inside a partition —
    the poor man's secondary index, free at write time."""
    (
        with_partition_col(df)
        .sortWithinPartitions(PARTITION_COL, "post_id")
        .write.mode("overwrite")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )


def upsert_gold(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    version_col: str = "ingest_ts",
    touched: list | None = None,
) -> None:
    """S8/D2 — keyed last-writer-wins upsert touching ONLY the partitions
    present in the incoming batch: ``touched`` (``None`` for a null date)
    if the caller knows them, else one ``distinct().collect()`` job.

    The merge result is staged to a scratch path, then each staged
    partition directory replaces its twin by rename (``_swap_in``).
    Staging is required: overwriting a path that the same plan lazily
    reads races file deletion against the read (FAILED_READ_FILE). The
    extra write is bounded by batch size, not table size. (A
    transactional table format would make this a single-commit MERGE; on
    vanilla parquet staging is the safe primitive.)

    INVARIANT: the partition column derives from ``created_datetime``,
    which is immutable per post_id (a post's creation time never changes;
    the reference's ON CONFLICT upsert relies on the same fact). Updates
    therefore always land in the partition that already holds their key.
    A merge key whose partition attribute can change would need a
    key→partition index or a full-key semi-join — different operator.
    """
    old = read_gold(spark, path)
    new = with_partition_col(new)
    if touched is None:
        touched = [r[0] for r in new.select(PARTITION_COL).distinct().collect()]
    merged = merge_upsert(old.filter(_touched_pred(touched)), new, ["post_id"], version_col)
    staging = _staging_path(path)
    merged.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(staging)
    _swap_in(spark, staging, path)
    # drop the cached file listing for the path — stale entries would point
    # readers at the replaced part files
    spark.catalog.refreshByPath(path)


def purge_keys(spark: SparkSession, path: str, keys: DataFrame, key_col: str = "post_id") -> int:
    """Targeted row deletion (the right-to-erasure / bad-record purge
    corner of the sink's CRUD surface): remove every row whose key
    appears in ``keys``, rewriting ONLY the partitions that contain one.

    Two phases, both pruned: (1) a semi-join over the table finds the
    affected partition values — at 100 TB this is a broadcast semi-join
    of the (tiny) key list against the partition column projection;
    (2) those partitions are re-written via left_anti and committed by
    the same stage-then-swap as upsert_gold. Untouched partitions keep
    their files byte-identical (tests/test_purge.py proves it). Returns
    the number of rows removed.

    Partitions whose rows are ALL purged need special care: the swap
    only replaces partitions PRESENT in the staged data, so an emptied
    partition would silently survive it. After staging we diff the staged
    partition values against ``touched`` and explicitly delete every
    emptied partition directory (Hadoop FS API, so it works on any store).
    """
    _recover(spark, path)
    keys = keys.select(F.col(key_col)).distinct()
    table = spark.read.parquet(path)
    touched = [
        r[0]
        for r in table.join(F.broadcast(keys), key_col, "left_semi")
        .select(PARTITION_COL)
        .distinct()
        .collect()
    ]
    if not touched:
        return 0
    touched_pred = _touched_pred(touched)
    affected = table.filter(touched_pred)
    n_before = affected.count()
    kept = affected.join(F.broadcast(keys), key_col, "left_anti")
    staging = _staging_path(path)
    kept.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(staging)
    staged_vals = _partition_values(spark, staging)
    # compare ESCAPED dir names on both sides: Spark percent-escapes
    # special characters (space, ':', '/') in partition directory values,
    # so a raw str(v) comparison would misclassify any escaping-needing
    # value as emptied and then delete the wrong (unescaped) path
    for v in touched:
        e = _escape_partition_value(spark, v)
        if e not in staged_vals:
            _fs_delete(spark, f"{path.rstrip('/')}/{PARTITION_COL}={e}")
    _swap_in(spark, staging, path)
    spark.catalog.refreshByPath(path)
    # explicit schema: a fully-emptied table has no files to infer from
    n_after = (
        spark.read.schema(table.schema)
        .parquet(path)
        .filter(touched_pred)
        .count()
    )
    return n_before - n_after


def _staging_path(path: str) -> str:
    return path.rstrip("/") + "__staging"


def _swap_in(spark: SparkSession, staging: str, path: str) -> None:
    """Commit a staged partitioned write into ``path``: every
    ``col=value`` directory of ``staging`` replaces its twin under
    ``path`` (delete, then rename — the per-partition step of Spark's
    dynamic-overwrite commit, without reading or writing the staged rows
    again), then ``staging`` is deleted.

    Only for a ``staging`` holding its ``_SUCCESS`` marker. Replayable
    from the top after a crash: a moved partition is gone from
    ``staging``; one deleted but not yet moved is still there."""
    for v in _partition_values(spark, staging):
        name = f"{PARTITION_COL}={v}"
        dst = f"{path.rstrip('/')}/{name}"
        _fs_delete(spark, dst)
        fs, src = _fs(spark, f"{staging}/{name}")
        if not fs.rename(src, _fs(spark, dst)[1]):
            raise OSError(f"could not move staged partition {name} into {path}")
    _fs_delete(spark, staging)


def _recover(spark: SparkSession, path: str) -> None:
    """Finish a swap into ``path`` that a crash interrupted, or discard a
    staged write that never committed (no ``_SUCCESS`` marker): either
    way every partition is whole again, old or new."""
    staging = _staging_path(path)
    fs, marker = _fs(spark, f"{staging}/_SUCCESS")
    if fs.exists(marker):
        _swap_in(spark, staging, path)
    else:
        _fs_delete(spark, staging)


def _fs(spark: SparkSession, path: str):
    """``path`` as a Hadoop Path, with the FileSystem that holds it."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _partition_values(spark: SparkSession, path: str) -> set[str]:
    """Partition values present as ``col=value`` directories under
    ``path`` (as escaped on disk, matching Spark's partition-dir encoding)."""
    fs, p = _fs(spark, path)
    vals: set[str] = set()
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if status.isDirectory() and "=" in name:
            vals.add(name.split("=", 1)[1])
    return vals


def _escape_partition_value(spark: SparkSession, v) -> str:
    """Spark's own partition-directory encoding for a value — the same
    `ExternalCatalogUtils.escapePathName` the writer uses, so names built
    here always match what `partitionBy` put on disk. A null partition
    value is written by Spark as the `__HIVE_DEFAULT_PARTITION__`
    directory (never the string 'None'), so it maps there explicitly —
    possible in practice because the partition column derives from a
    nullable timestamp."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
        str(v)
    )


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)
