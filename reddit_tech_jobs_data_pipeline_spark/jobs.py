"""The full EP1 pipeline as one idempotent incremental job.

Reference trace (SURVEY.md §3 EP1): watermark probe → scrape from
watermark → transform → upsert — four Airflow tasks crossing
JSON-over-Postgres between each. Here it is one Spark lineage evaluated
at three points: the scalar watermark probe, the silver batch (computed
once, with its row count and touched partitions observed on the same
job), and the gold write or partition-pruned merge.

Idempotence contract (reference achieves it via ON CONFLICT): running the
same batch twice leaves the gold table unchanged — property-tested in
tests/test_jobs.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import pipeline
from reddit_tech_jobs_data_pipeline_spark.operators.merge import watermark_lower_bound
from reddit_tech_jobs_data_pipeline_spark.sources import sink


def run_with_retries(fn, retries: int = 3, delay_s: float = 300.0, on_failure=None):
    """O3 — job-level retry policy (reference: Airflow ``retries=3`` /
    5-min delay / failure callback, dags/dag.py:423-441). Spark handles
    task-level retries itself; this wraps whole-job attempts."""
    import time

    last = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last = e
            if on_failure is not None:
                on_failure(attempt, e)
            if attempt < retries:
                time.sleep(delay_s)
    raise last


def run_incremental(
    spark: SparkSession,
    raw: DataFrame,
    gold_path: str,
    now: dt.datetime,
    lookback_days: int = 30,
    fallback_days: int = 7,
) -> int:
    """One scheduled run: watermark → filter raw forward → transform →
    upsert. Returns the number of rows merged (0 ⇒ the O4 short-circuit:
    nothing written, schema untouched)."""
    try:
        gold = sink.read_gold(spark, gold_path)
    except AnalysisException:  # first run: no gold yet
        wm = now - dt.timedelta(days=fallback_days)
        bootstrap = True
    else:
        wm = watermark_lower_bound(
            gold, "created_datetime", now=now,
            lookback_days=lookback_days, fallback_days=fallback_days,
        )
        bootstrap = False

    fresh = raw.filter(F.col("created_datetime") >= F.lit(wm))
    silver = pipeline.transform(fresh).withColumn("ingest_ts", F.lit(now))
    silver = silver.select(
        "post_id", "title", F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("text"), F.lit(None).cast("string").alias("author"),
        F.lit(None).cast("string").alias("subreddit"), "created_datetime",
        F.lit(None).cast("int").alias("upvotes"), F.lit(None).cast("int").alias("comments_count"),
        "salary_currency", "lower_salary", "upper_salary", "job_position",
        "location", "field", "technologies", "ingest_ts",
    )
    # the batch (dedup shuffle + enrichment) is evaluated once; its row
    # count and touched partitions ride that job
    obs = Observation()
    day = F.col(sink.PARTITION_COL)
    silver = sink.with_partition_col(silver).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.collect_set(day).alias("days"),
        F.count_if(day.isNull()).alias("nulls"),
    ).localCheckpoint()
    stats = obs.get
    if stats["n"] == 0:
        return 0
    if bootstrap:
        sink.write_gold(silver, gold_path)
    else:
        touched = stats["days"] + ([None] if stats["nulls"] else [])
        sink.upsert_gold(spark, gold_path, silver, touched=touched)
    return stats["n"]
