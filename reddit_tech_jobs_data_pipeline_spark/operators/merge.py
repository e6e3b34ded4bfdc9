"""Keyed merge / upsert and watermark operators.

The reference's sink is a row-at-a-time ``INSERT ... ON CONFLICT (post_id)
DO UPDATE`` loop (dags/dag.py:380-421) — cross-run idempotence via the
primary key, last writer wins. Vanilla parquet has no MERGE, so the engine
implements upsert as a deterministic last-writer-wins rewrite:

    union(old, new) → row_number over (partition by key order by version
    desc, tiebreakers) → keep rn = 1

Scale notes (100 TB): the window is a single hash shuffle on the merge
key — the same shuffle a MERGE join would need. For a date-partitioned
gold table, merge only the partitions the batch touches and swap just
those in (see ``sources.sink.upsert_gold``); never rewrite 100 TB to merge
a daily batch.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    version_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Last-writer-wins keyed merge (reference D2/S8, dag.py:389-403).

    ``new`` rows overwrite ``old`` rows with equal ``keys``. Survivor choice
    is deterministic: highest ``version_col`` wins; ``is_new`` breaks exact
    version ties in favor of the incoming batch (matching ON CONFLICT DO
    UPDATE, where the incoming row always replaces); remaining ties broken
    by ``tiebreakers`` descending. Idempotent: merging the same batch twice
    ≡ once (property-tested).
    """
    old_tagged = old.withColumn("__is_new", F.lit(0))
    new_tagged = new.withColumn("__is_new", F.lit(1))
    unioned = old_tagged.unionByName(new_tagged)
    order: list[Column] = [F.col(version_col).desc_nulls_last(), F.col("__is_new").desc()]
    order += [F.col(t).desc_nulls_last() for t in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )


def watermark_lower_bound(
    sink: DataFrame,
    ts_col: str,
    now: dt.datetime,
    lookback_days: int = 30,
    fallback_days: int = 7,
) -> dt.datetime:
    """Incremental-scan low watermark (reference A1/F4, dag.py:144-170).

    max(ts) over the last ``lookback_days``; empty sink -> ``now - fallback``.
    The only intentional ``collect`` in the engine — a scalar. On parquet
    the max can be answered from footer stats without a full scan.
    """
    row = (
        sink.filter(F.col(ts_col) >= F.lit(now - dt.timedelta(days=lookback_days)))
        .agg(F.max(ts_col).alias("wm"))
        .first()
    )
    wm = row["wm"] if row else None
    return wm if wm is not None else now - dt.timedelta(days=fallback_days)
