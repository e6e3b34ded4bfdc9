"""The benchmark's workloads, driven through the package's public entry
points.

Each workload has an untimed ``prepare``, a ``run_pass`` that is timed as
a whole, returns as soon as the program's last call of the pass returns
and reports its steps, a ``collect`` that gathers the pass's outputs
outside the timed and CPU-counted window, a ``check_pass`` that compares
them with the DuckDB references, and ``final_checks`` run once after
the timed passes. ``trace_hooks`` installs the span wrappers of a traced
run and ``trace_counts`` reports its counts.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import duckdb

import reference
from reddit_tech_jobs_data_pipeline_spark import jobs
from reddit_tech_jobs_data_pipeline_spark.operators import dedup, maintenance, merge, similarity
from reddit_tech_jobs_data_pipeline_spark.operators.parallelism import fan_out
from reddit_tech_jobs_data_pipeline_spark.sources import sink, testdata
from reddit_tech_jobs_data_pipeline_spark.streaming import pq_ingest
from reddit_tech_jobs_data_pipeline_spark.workdirs import stable_work_key

from pyspark.sql import functions as F

from tracing import MB, BatchListener


@dataclass
class PassResult:
    seconds: float
    rows: int
    steps: list[float]
    stored_bytes: int = 0
    input_bytes: int = 0
    outputs: dict = field(default_factory=dict)
    cpu_s: float = 0.0


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _data_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "part-*"), recursive=True)


class PostsDaily:
    """One pass = every generated day through ``jobs.run_incremental``
    into a fresh date-partitioned gold table; a step is one daily run."""

    name = "posts_daily"
    inputs = "posts"  # the gen.py family it reads

    def __init__(self, inp: str, work: str, manifest: dict) -> None:
        self.inp, self.work, self.days = inp, work, manifest["days"]
        self.posts = os.path.join(inp, "posts")
        self.input_bytes = sum(os.path.getsize(os.path.join(self.posts, d["file"])) for d in self.days)
        self.ref = None
        self._counts = {"admitted": 0, "raw": 0, "silver": 0, "touched": 0}
        self._wm: list[dt.datetime] = []
        self._files: dict[str, float] = {}

    def prepare(self, spark) -> None:
        pass

    def _day(self, spark, day: dict):
        raw = testdata.load_table(spark, self.posts, day["file"].removesuffix(".parquet"))
        return raw, dt.datetime.fromisoformat(day["now"])

    def run_pass(self, spark, i: int, tracer=None) -> PassResult:
        gold = os.path.join(self.work, f"gold_{i}")
        shutil.rmtree(gold, ignore_errors=True)
        steps = []
        t0 = time.perf_counter()
        for day in self.days:
            raw, now = self._day(spark, day)
            s = time.perf_counter()
            jobs.run_incremental(spark, raw, gold, now)
            steps.append(time.perf_counter() - s)
        total = time.perf_counter() - t0
        return PassResult(
            total, sum(d["rows"] for d in self.days), steps, input_bytes=self.input_bytes, outputs={"gold": gold},
        )

    def collect(self, spark, res: PassResult, tracer=None) -> PassResult:
        res.stored_bytes = _du(res.outputs["gold"])
        return res

    def check_pass(self, spark, res: PassResult) -> list[str]:
        if self.ref is None:
            self.ref = reference.posts_reference(self.inp, self.days)
        got = reference.read_gold(res.outputs["gold"])
        if not reference.same_rows(got, self.ref[0]):
            return [f"gold table of {res.outputs['gold']} differs from the DuckDB last-writer-wins reference"]
        return []

    def final_checks(self, spark, last: PassResult) -> list[str | None]:
        """Replaying the last day must leave the gold rows unchanged."""
        gold = last.outputs["gold"]
        before = reference.read_gold(gold)
        raw, now = self._day(spark, self.days[-1])
        jobs.run_incremental(spark, raw, gold, now)
        after = reference.read_gold(gold)
        return [None if reference.same_rows(before, after) else "replaying the last day changed the gold rows"]

    @staticmethod
    def corrupt(res: PassResult) -> None:
        os.remove(sorted(_data_files(res.outputs["gold"]))[0])

    # -- traced run -------------------------------------------------------
    def trace_hooks(self, tracer) -> None:
        tracer.wrap(jobs, "run_incremental", "jobs.run_incremental", self._on_run)
        tracer.wrap(merge, "watermark_lower_bound", "merge.watermark_lower_bound",
                    lambda wm, args, kwargs: self._wm.append(wm))
        tracer.wrap(sink, "write_gold", "sink.write_gold")
        tracer.wrap(sink, "upsert_gold", "sink.upsert_gold")

    def _on_run(self, n, args, kwargs) -> None:
        """Counts of one daily run: raw rows, rows past its watermark
        (``run_incremental`` falls back to ``now`` - 7 days on a new
        table), silver rows, and gold partitions whose files changed."""
        gold, now = args[2], args[3]
        wm = self._wm.pop() if self._wm else now - dt.timedelta(days=7)
        day = next(d for d in self.days if dt.datetime.fromisoformat(d["now"]) == now)
        con = duckdb.connect()
        admitted = con.execute(
            f"SELECT count(*) FROM read_parquet('{os.path.join(self.posts, day['file'])}') "
            f"WHERE created_datetime >= ?::TIMESTAMPTZ", [wm.isoformat() + "+00:00"]
        ).fetchone()[0]
        con.close()
        self._counts["raw"] += day["rows"]
        self._counts["admitted"] += admitted
        self._counts["silver"] += n
        files = {p: os.path.getmtime(p) for p in _data_files(gold)}
        changed = {os.path.dirname(p) for p, m in files.items() if self._files.get(p) != m}
        self._counts["touched"] += len(changed)
        self._files = files

    def trace_counts(self, passes: list[PassResult], spans: dict) -> dict[str, float]:
        c = self._counts
        n = len(passes)
        last = passes[-1]
        gold_rows = reference.read_gold(last.outputs["gold"]).shape[0]
        bytes_per_row = last.stored_bytes / max(1, gold_rows)
        sink_out = sum(spans.get(s, {}).get("output_mb", 0.0) for s in ("sink.write_gold", "sink.upsert_gold"))
        return {
            "jobs.admit_ratio": c["admitted"] / max(1, c["raw"]),
            "pipeline.keep_ratio": c["silver"] / max(1, c["admitted"]),
            "sink.partitions_touched": c["touched"] / n,
            # bytes the sink spans wrote per byte of new silver rows, a
            # silver row costing the final table's mean bytes per row
            "sink.write_amp": sink_out * MB / max(1.0, c["silver"] * bytes_per_row),
        }


class CorpusIndex:
    """One pass over a generated corpus: (1) near-dup pairs by
    ``dedup.minhash_lsh_dedup_pairs``, materialized; (2) components by
    ``dedup.cluster_near_dups_star``; (3) the survivor count; (4) the
    documents' embeddings streamed into an IVF-PQ index in micro-batches
    by ``pq_ingest.run_ivfpq_ingest_batchlike``, which ends by probing the
    finished index with 20 of the corpus vectors through
    ``similarity.ivfpq_index_topk``. A step is one micro-batch's
    ``triggerExecution``. The quantizer is smaller than the registry's
    (``reference.IVFPQ``) to keep a cold pass near 40 s."""

    name = "corpus_index"
    inputs = "corpus"

    def __init__(self, inp: str, work: str, manifest: dict) -> None:
        self.inp = inp
        self.corpus = os.path.join(inp, "corpus")
        self.n_docs = manifest["documents"]
        self.n_tags = manifest["sizes"]["micro_batches"]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.corpus, f)) for f in ("documents.parquet", "embeddings.parquet")
        )
        q = reference.IVFPQ
        # where run_ivfpq_ingest_batchlike keeps its index (it returns only
        # the probe)
        self.index = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ivfpqstream_{stable_work_key(self.corpus, self.n_tags, q['m'], q['ks'])}",
            "index",
        )
        self.ref = None
        self.listener = None
        self._cand: list = []

    def prepare(self, spark) -> None:
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)

    def run_pass(self, spark, i: int, tracer=None) -> PassResult:
        q = reference.IVFPQ
        span = tracer.span if tracer else _nullspan
        t0 = time.perf_counter()
        docs = fan_out(testdata.load_table(spark, self.corpus, "documents"))
        pairs = dedup.minhash_lsh_dedup_pairs(docs, "text", "id", num_hashes=16, bands=4, n=3, threshold=0.7)
        with span("dedup.minhash_lsh_dedup_pairs", call=False):
            pairs = pairs.localCheckpoint()
        clusters = dedup.cluster_near_dups_star(pairs.select("id_a", "id_b"))
        with span("dedup.cluster_near_dups_star", call=False):
            clusters = clusters.localCheckpoint()
        survivors = docs.join(clusters.filter(F.col("id") != F.col("cluster_id")), "id", "left_anti").count()
        # the probe comes back materialized (localCheckpoint)
        probe = pq_ingest.run_ivfpq_ingest_batchlike(
            spark, self.corpus, n_tags=self.n_tags, num_cells=q["num_cells"], m=q["m"], ks=q["ks"],
            k=q["topk"], nprobe=q["nprobe"], rerank_n=q["rerank_n"], maintenance_every=self.n_tags,
        )
        total = time.perf_counter() - t0
        out = {"pairs": pairs, "clusters": clusters, "survivors": survivors, "probe": probe}
        return PassResult(total, self.n_docs, [], input_bytes=self.input_bytes, outputs=out)

    def collect(self, spark, res: PassResult, tracer=None) -> PassResult:
        """Steps are the micro-batches' ``triggerExecution`` times, which
        the listener receives asynchronously."""
        out = res.outputs
        out["batches"] = self.listener.wait_for(self.n_tags)
        res.steps = [b["triggerExecution"] / 1000.0 for b in out["batches"]]
        out["probe"] = out["probe"].toPandas()
        out["files"] = len(_data_files(os.path.join(self.index, "codes")))
        out["codes"] = _codes_ids(self.index)
        res.stored_bytes = _du(self.index)
        if tracer is not None:
            # counted after the timed pass, outside every span
            out["candidates"] = sum(df.count() for df in self._cand)
            out["verified"] = out["pairs"].count()
            self._cand = []
        return res

    def check_pass(self, spark, res: PassResult) -> list[str]:
        if self.ref is None:
            self.ref = {**reference.dedup_reference(self.inp), "probe": reference.ivfpq_probe(self.inp, self.n_tags)}
        o, out = res.outputs, []
        if not reference.same_rows(o["pairs"].toPandas(), self.ref["pairs"]):
            out.append("near-dup pairs differ from the DuckDB MinHash-LSH oracle")
        if not reference.same_rows(o["clusters"].toPandas(), self.ref["clusters"]):
            out.append("components differ from the union-find reference")
        if o["survivors"] != self.ref["survivors"]:
            out.append(f"survivors {o['survivors']} != {self.ref['survivors']}")
        n, distinct = o["codes"]
        if n != self.n_docs or distinct != self.n_docs:
            out.append(f"index holds {n} codes for {distinct} ids, expected {self.n_docs} each")
        if len(o["batches"]) != self.n_tags:
            out.append(f"{len(o['batches'])} micro-batches reported, expected {self.n_tags}")
        if not reference.same_rows(o["probe"], self.ref["probe"]):
            out.append("the probe of the streamed index differs from the DuckDB IVF-PQ oracle")
        return out

    def final_checks(self, spark, last: PassResult) -> list[str | None]:
        return []

    @staticmethod
    def corrupt(res: PassResult) -> None:
        res.outputs["survivors"] += 1
        res.outputs["probe"] = res.outputs["probe"].iloc[1:]

    # -- traced run -------------------------------------------------------
    def trace_hooks(self, tracer) -> None:
        tracer.wrap(dedup, "minhash_lsh_dedup_pairs", "dedup.minhash_lsh_dedup_pairs")
        tracer.wrap(dedup, "cluster_near_dups_star", "dedup.cluster_near_dups_star")
        # the lazy candidate frame, counted after the pass
        tracer.wrap(dedup, "lsh_candidate_pairs", "dedup.lsh_candidate_pairs",
                    lambda df, args, kwargs: self._cand.append(df))
        tracer.wrap(pq_ingest, "run_ivfpq_ingest_batchlike", "pq_ingest.run_ivfpq_ingest_batchlike")
        tracer.wrap(similarity, "write_ivfpq_index", "similarity.write_ivfpq_index")
        tracer.wrap(pq_ingest, "ingest_batch_ivfpq", "pq_ingest.ingest_batch_ivfpq")
        tracer.wrap(maintenance, "compact", "maintenance.compact")
        tracer.wrap(similarity, "ivfpq_index_topk", "similarity.ivfpq_index_topk")

    def trace_counts(self, passes: list[PassResult], spans: dict) -> dict[str, float]:
        n = len(passes)
        cand = sum(p.outputs["candidates"] for p in passes)
        batches = [b for p in passes for b in p.outputs["batches"]]

        def med(key: str) -> float:
            return _median([b.get(key, 0) / 1000.0 for b in batches])

        return {
            "dedup.candidate_pairs": cand / n,
            "dedup.verify_ratio": sum(p.outputs["verified"] for p in passes) / max(1, cand),
            "index.files": sum(p.outputs["files"] for p in passes) / n,
            "streaming.add_batch_s": med("addBatch"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "streaming.query_planning_s": med("queryPlanning"),
        }


def _codes_ids(index: str) -> tuple[int, int]:
    con = duckdb.connect()
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT vec_id) FROM read_parquet('{index}/codes/*/*.parquet')"
    ).fetchone()
    con.close()
    return n, distinct


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def _nullspan(*_args, **_kwargs):
    return contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (PostsDaily, CorpusIndex)}
