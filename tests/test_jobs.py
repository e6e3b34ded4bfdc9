"""EP1 end-to-end incremental job: bootstrap, incremental merge,
idempotent re-run, watermark-driven skipping, the gold schema it writes,
recovery from an interrupted partition swap, and its Spark job count."""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import time

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from reddit_tech_jobs_data_pipeline_spark import jobs
from reddit_tech_jobs_data_pipeline_spark.sources import sink


def _raw(spark, rows):
    return spark.createDataFrame(
        [
            (pid, title, dt.datetime(2024, 1, day, 12), seq)
            for pid, title, day, seq in rows
        ],
        "post_id string, title string, created_datetime timestamp, scrape_seq long",
    )


def test_incremental_job_lifecycle(spark, tmp_path):
    gold = str(tmp_path / "gold")
    now = dt.datetime(2024, 1, 20)

    # run 1 — bootstrap
    r1 = _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $100k - 120k Remote", 15, 1),
            ("b", "Question about pay", 14, 2),          # filtered out
            ("c", "Backend Engineer position Berlin", 15, 3),
        ],
    )
    n1 = jobs.run_incremental(spark, r1, gold, now)
    assert n1 == 2
    # materialize now: the DataFrame handle would go stale after run 2
    # overwrites the partitions underneath it
    g1_rows = spark.read.parquet(gold).collect()
    assert {r.post_id for r in g1_rows} == {"a", "c"}

    # run 2 — same batch again: the watermark (max created = Jan 15 12:00)
    # admits only the boundary rows, which re-merge to identical values —
    # idempotence at the sink
    n2 = jobs.run_incremental(spark, r1, gold, now)
    assert n2 == 2
    g2_rows = spark.read.parquet(gold).collect()
    assert sorted((r.post_id, r.lower_salary) for r in g2_rows) == sorted(
        (r.post_id, r.lower_salary) for r in g1_rows
    )

    # run 3 — new post + update to an old one (rescraped: created_datetime
    # is immutable — creation time — so it stays Jan 15, inside the window)
    r3 = _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $150k - 180k Remote", 15, 4),  # update
            ("d", "We are hiring a QA Engineer", 17, 5),               # new
        ],
    )
    n3 = jobs.run_incremental(spark, r3, gold, dt.datetime(2024, 1, 21))
    assert n3 == 2
    g3 = {r.post_id: r for r in spark.read.parquet(gold).collect()}
    assert set(g3) == {"a", "c", "d"}
    assert g3["a"].lower_salary == 150000.0  # last writer won

    # run 4 — stale data below the watermark: O4 short-circuit, no write
    stale = _raw(spark, [("e", "Hiring ancient role", 1, 6)])
    wm_now = dt.datetime(2024, 1, 21)
    n4 = jobs.run_incremental(spark, stale, gold, wm_now)
    assert n4 == 0
    assert set(r.post_id for r in spark.read.parquet(gold).collect()) == {"a", "c", "d"}


def test_run_with_retries():
    calls = []
    failures = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    out = jobs.run_with_retries(
        flaky, retries=3, delay_s=0, on_failure=lambda a, e: failures.append(a)
    )
    assert out == "ok" and len(calls) == 3 and failures == [0, 1]

    def always_fails():
        raise RuntimeError("permanent")

    import pytest

    with pytest.raises(RuntimeError, match="permanent"):
        jobs.run_with_retries(always_fails, retries=1, delay_s=0)


# bootstrap day, then an upsert day: an update to "a" (Jan 15) and a new
# post "d" (Jan 17)
BOOT_NOW = dt.datetime(2024, 1, 20)
UPSERT_NOW = dt.datetime(2024, 1, 21)


def _boot_batch(spark):
    return _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $100k - 120k Remote", 15, 1),
            ("c", "Backend Engineer position Berlin", 15, 3),
        ],
    )


def _upsert_batch(spark):
    return _raw(
        spark,
        [
            ("a", "Hiring Data Engineer $150k - 180k Remote", 15, 4),
            ("d", "We are hiring a QA Engineer", 17, 5),
        ],
    )


def _gold_rows(spark, path):
    return sorted(spark.read.parquet(path).collect(), key=lambda r: r.post_id)


def test_written_frame_has_exactly_the_declared_gold_schema(spark, tmp_path, monkeypatch):
    """Gold is read by sink.GOLD_SCHEMA, so a column the job writes but
    the schema lacks would be silently dropped on the next read."""
    written = []
    for name, df_arg in (("write_gold", 0), ("upsert_gold", 2)):
        orig = getattr(sink, name)

        def capture(*args, _orig=orig, _i=df_arg, **kwargs):
            written.append(args[_i])
            return _orig(*args, **kwargs)

        monkeypatch.setattr(sink, name, capture)
    gold = str(tmp_path / "gold")
    jobs.run_incremental(spark, _boot_batch(spark), gold, BOOT_NOW)
    jobs.run_incremental(spark, _upsert_batch(spark), gold, UPSERT_NOW)
    assert len(written) == 2
    declared = [(f.name, f.dataType) for f in spark.createDataFrame([], sink.GOLD_SCHEMA).schema]
    for df in written:
        assert [(f.name, f.dataType) for f in sink.with_partition_col(df).schema] == declared


@pytest.mark.parametrize("committed", [True, False], ids=["committed_staging", "uncommitted_staging"])
def test_interrupted_swap_recovers_to_clean_run(spark, tmp_path, monkeypatch, committed):
    """A crash mid-upsert leaves <gold>__staging behind. Committed (it
    holds _SUCCESS), the swap may already have deleted a gold partition,
    and the next run must finish the swap; uncommitted, the staged files
    are partial and must be discarded. Either way the next run ends with
    the rows of a run that never crashed."""
    clean = str(tmp_path / "clean")
    jobs.run_incremental(spark, _boot_batch(spark), clean, BOOT_NOW)
    jobs.run_incremental(spark, _upsert_batch(spark), clean, UPSERT_NOW)
    expected = _gold_rows(spark, clean)

    gold = str(tmp_path / "gold")
    staging = gold + "__staging"
    jobs.run_incremental(spark, _boot_batch(spark), gold, BOOT_NOW)
    if committed:
        def crash(_spark, _staging, path):
            shutil.rmtree(os.path.join(path, "created_date=2024-01-15"))
            raise RuntimeError("crash between delete and rename")

        monkeypatch.setattr(sink, "_swap_in", crash)
        with pytest.raises(RuntimeError, match="crash"):
            jobs.run_incremental(spark, _upsert_batch(spark), gold, UPSERT_NOW)
        monkeypatch.undo()
        assert os.path.exists(os.path.join(staging, "_SUCCESS"))
        assert not os.path.exists(os.path.join(gold, "created_date=2024-01-15"))
    else:
        (
            spark.read.parquet(gold)
            .limit(1)
            .withColumn("title", F.lit("half-written"))
            .write.partitionBy("created_date")
            .parquet(staging)
        )
        os.remove(os.path.join(staging, "_SUCCESS"))

    jobs.run_incremental(spark, _upsert_batch(spark), gold, UPSERT_NOW)
    assert _gold_rows(spark, gold) == expected
    assert not os.path.exists(staging)


@contextlib.contextmanager
def _job_group(sc, group):
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _group_jobs(sc, group, expect_some=False):
    # the status store is fed asynchronously by the listener bus
    deadline = time.monotonic() + 10
    while True:
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids or not expect_some or time.monotonic() > deadline:
            return ids
        time.sleep(0.1)


# Spark jobs of one upsert day through run_incremental, 2 each: the
# watermark probe's aggregate, the silver batch (its dedup shuffle and
# the checkpoint), the staged merge write (its shuffle and the write)
UPSERT_RUN_MAX_JOBS = 6


def test_upsert_run_job_count(spark, tmp_path, monkeypatch):
    """Job-count regression guard for the daily upsert. Every parquet
    read is put in its own job group: a read by a declared schema is
    lazy, so any job there is parquet schema inference."""
    sc = spark.sparkContext
    gold = str(tmp_path / "gold")
    jobs.run_incremental(spark, _boot_batch(spark), gold, BOOT_NOW)
    upsert = _upsert_batch(spark)

    with _job_group(sc, "test_jobs.inferred_read"):
        spark.read.parquet(gold)
    # the probe sees an inference job when there is one
    assert _group_jobs(sc, "test_jobs.inferred_read", expect_some=True)

    orig = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        with _job_group(sc, "test_jobs.gold_read"):
            return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    with _job_group(sc, "test_jobs.upsert_run"):
        assert jobs.run_incremental(spark, upsert, gold, UPSERT_NOW) == 2
    assert _group_jobs(sc, "test_jobs.gold_read") == []
    assert len(_group_jobs(sc, "test_jobs.upsert_run", expect_some=True)) <= UPSERT_RUN_MAX_JOBS
