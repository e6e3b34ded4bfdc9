"""DuckDB references the benchmark checks the program's outputs against.

Every reference is built from the registry's own oracle SQL, so a check
fails only when the Spark operators and their audited DuckDB twins
disagree on the benchmark's generated inputs:

* posts: ``catalog_posts``' enrichment oracle run day by day into a
  DuckDB table keyed on ``post_id`` with ``INSERT ... ON CONFLICT DO
  UPDATE`` (the reference pipeline's last-writer-wins sink), behind the
  same watermark rule as ``jobs.run_incremental``;
* corpus: ``catalog_scale``'s shingle / MinHash-LSH / Jaccard-verify
  CTEs over the generated corpus, and a union-find for the components;
* index: ``catalog_scale._ivfpq_sql`` for the probe of the stream-built
  IVF-PQ index;
* registry: a registered query on Spark against its registered oracle,
  compared like ``tools/check_oracle.py`` (sorted, stringified rows).
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pandas as pd

from reddit_tech_jobs_data_pipeline_spark.plans import catalog_posts, catalog_scale
from reddit_tech_jobs_data_pipeline_spark.plans.catalog import get_registry

# jobs.run_incremental's defaults
LOOKBACK_US = 30 * 86400 * 10**6
FALLBACK_US = 7 * 86400 * 10**6

GOLD_COLS = [
    "post_id", "title", "created_us", "salary_currency", "lower_salary", "upper_salary",
    "job_position", "location", "field", "technologies", "ingest_us", "created_date",
]

_DEDUPED_SQL = """
  deduped AS (
    SELECT post_id, title, scrape_seq FROM (
      SELECT *, row_number() OVER (PARTITION BY post_id, title ORDER BY scrape_seq) AS rn
      FROM fresh
    ) WHERE rn = 1
  )
"""

# corpus_index's quantizer: the registry's streaming_ivfpq_index_ingest
# shape (8 cells, m=8, ks=16) scaled down to 4 cells, m=4, ks=8
IVFPQ = dict(num_cells=4, nprobe=2, m=4, ks=8, iters=1, dim=64, topk=5, rerank_n=200)


def _replace_once(sql: str, old: str, new: str) -> str:
    if sql.count(old) != 1:
        raise RuntimeError(f"oracle SQL no longer has exactly one {old.strip()[:40]!r}")
    return sql.replace(old, new)


def epoch_us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + t.microsecond


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def posts_reference(inp: str, days: list[dict]) -> tuple[pd.DataFrame, list[dict]]:
    """Gold rows after every day batch in order, and per-day counts
    (raw, admitted past the watermark, silver)."""
    enrich = _replace_once(catalog_posts._ORACLE, catalog_posts._CORPUS_SQL, _DEDUPED_SQL)
    con = _con()
    con.execute(
        """CREATE TABLE gold (post_id VARCHAR PRIMARY KEY, title VARCHAR, created_us BIGINT,
           salary_currency VARCHAR, lower_salary DOUBLE, upper_salary DOUBLE,
           job_position VARCHAR, location VARCHAR, field VARCHAR, technologies VARCHAR,
           ingest_us BIGINT)"""
    )
    stats = []
    for day in days:
        now = epoch_us(dt.datetime.fromisoformat(day["now"]))
        wm = con.execute(
            "SELECT max(created_us) FROM gold WHERE created_us >= ?", [now - LOOKBACK_US]
        ).fetchone()[0]
        wm = now - FALLBACK_US if wm is None else wm
        path = os.path.join(inp, "posts", day["file"])
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE fresh AS
                SELECT post_id, title, scrape_seq, epoch_us(created_datetime) AS created_us
                FROM read_parquet('{path}') WHERE epoch_us(created_datetime) >= {wm}"""
        )
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE silver AS
                SELECT e.*, c.created_us FROM ({enrich}) e
                JOIN (SELECT DISTINCT post_id, created_us FROM fresh) c USING (post_id)"""
        )
        con.execute(
            f"""INSERT INTO gold
                SELECT post_id, title, created_us, salary_currency, lower_salary,
                       upper_salary, job_position, location, field, technologies, {now}
                FROM silver
                ON CONFLICT (post_id) DO UPDATE SET
                  title = excluded.title, created_us = excluded.created_us,
                  salary_currency = excluded.salary_currency,
                  lower_salary = excluded.lower_salary, upper_salary = excluded.upper_salary,
                  job_position = excluded.job_position, location = excluded.location,
                  field = excluded.field, technologies = excluded.technologies,
                  ingest_us = excluded.ingest_us"""
        )
        stats.append({
            "raw": day["rows"],
            "admitted": con.execute("SELECT count(*) FROM fresh").fetchone()[0],
            "silver": con.execute("SELECT count(*) FROM silver").fetchone()[0],
        })
    gold = con.execute(
        """SELECT *, CAST(CAST(make_timestamp(created_us) AS DATE) AS VARCHAR) AS created_date
           FROM gold ORDER BY post_id"""
    ).df()
    con.close()
    return gold[GOLD_COLS], stats


def read_gold(path: str) -> pd.DataFrame:
    """The program's gold table, read straight from its parquet files and
    projected to the reference's columns."""
    con = _con()
    df = con.execute(
        f"""SELECT post_id, title, epoch_us(created_datetime) AS created_us,
                   salary_currency, lower_salary, upper_salary, job_position, location,
                   field, coalesce(array_to_string(technologies, ','), '') AS technologies,
                   epoch_us(ingest_ts) AS ingest_us, CAST(created_date AS VARCHAR) AS created_date
            FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)
            ORDER BY post_id"""
    ).df()
    con.close()
    return df[GOLD_COLS]


def _stringified(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(repr(v) for v in row) for row in df[cols].itertuples(index=False))


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive equality of stringified rows (the
    ``tools/check_oracle.py`` comparison, without its float tolerance)."""
    return sorted(a.columns) == sorted(b.columns) and _stringified(a) == _stringified(b)


def dedup_reference(inp: str) -> dict:
    """Verified near-dup pairs, components and survivor count of the
    generated corpus."""
    path = os.path.join(inp, "corpus", "documents.parquet")
    verify = catalog_scale._JACCARD_VERIFY_SQL.format(
        candidate_filter="JOIN cand ON cand.id_a = a.id AND cand.id_b = b.id"
    )
    con = _con()
    pairs = con.execute(
        f"""WITH corpus AS (SELECT id, text FROM read_parquet('{path}')),
            {catalog_scale._SHINGLE_SQL}, {catalog_scale._minhash_sql(16, 4)}, {verify}
            SELECT id_a, id_b, jaccard FROM scored WHERE jaccard_raw >= 0.7"""
    ).df()
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    con.close()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.id_a.tolist(), pairs.id_b.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = pd.DataFrame(
        [(x, find(x)) for x in list(parent)], columns=["id", "cluster_id"]
    )
    survivors = n_docs - int((clusters.id != clusters.cluster_id).sum())
    return {"pairs": pairs, "clusters": clusters, "survivors": survivors}


def ivfpq_probe(inp: str, n_tags: int) -> pd.DataFrame:
    """Expected result of the stream-built index's own probe: the
    registry's IVF-PQ oracle with the benchmark's quantizer, its books
    trained on the first micro-batch's rows as the ingest trains them."""
    con = _con()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{inp}/corpus/embeddings.parquet')")
    res = con.execute(catalog_scale._ivfpq_sql(**IVFPQ, train_where=f"vec_id % {n_tags} = 0")).df()
    con.close()
    return res


def registry_check(spark, name: str, sf_dir: str) -> str | None:
    """Run registered query ``name`` on Spark and its oracle on DuckDB
    over ``sf_dir``; returns a failure message or None."""
    spec = get_registry()[name]
    got = spec.spark(spark, sf_dir).toPandas()
    con = _con()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    want = con.execute(spec.oracle).df()
    con.close()
    if not same_rows(got, want):
        return f"{name}: spark {len(got)} rows differ from the oracle's {len(want)}"
    return None
