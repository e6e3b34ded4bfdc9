"""Workload benchmark for the job-posts engine.

    python3 perfbench/run.py --workload posts_daily --seed 1 --seconds 1 --trace 0

Runs one workload (``posts_daily`` or ``corpus_index``, see
``workloads.py``) on inputs generated from ``--seed`` (``gen.py``),
through the package's public functions on ``local[<cpus>]`` in this one
process. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it print
every metric with its unit and sample count.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: the same passes with Spark's event log on and
the named public functions wrapped in spans (``tracing.py``), task
metrics folded per span. End-to-end numbers never come from a traced run.

Durations are wall-clock time. Everything a run writes stays under
``.perfbench_work/`` in the directory it is started from (the root of a
checkout).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("posts_daily", "corpus_index")
DRIVER_MEM = "2g"

# spans and counts of the traced run, by the workload that exercises them
SPANS = {
    "posts_daily": ["jobs.run_incremental", "merge.watermark_lower_bound", "sink.write_gold", "sink.upsert_gold"],
    "corpus_index": [
        "dedup.minhash_lsh_dedup_pairs", "dedup.cluster_near_dups_star",
        "pq_ingest.run_ivfpq_ingest_batchlike", "similarity.write_ivfpq_index",
        "pq_ingest.ingest_batch_ivfpq", "maintenance.compact", "similarity.ivfpq_index_topk",
    ],
    "all": ["session.get_spark"],
}
COUNTS = {
    "posts_daily": ["jobs.admit_ratio", "pipeline.keep_ratio", "sink.partitions_touched", "sink.write_amp"],
    "corpus_index": [
        "dedup.candidate_pairs", "dedup.verify_ratio", "index.files", "streaming.add_batch_s",
        "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.query_planning_s",
    ],
    "all": ["trace_overhead_s"],
}


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return quantile(xs, 0.5)


def configure_env(work: str, event_log: str | None) -> None:
    """Pin the host setup before the JVM starts: every core, a fixed
    driver heap below host RAM (peak RSS then tracks the pages a run
    touched, not when the collector chose to grow the heap), scratch and
    temp dirs inside the run's work dir, UTC; and Spark's event log for a
    traced run."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"), "spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}" '
            + "".join(f"--conf {k}={v} " for k, v in confs.items())
            + "pyspark-shell"
        ),
    })
    time.tzset()
    tempfile.tempdir = tmp


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM and this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when the gateway's stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"perfbench: {msg} (at {time.perf_counter() - PROCESS_START:.1f}s)", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Workload benchmark for the job-posts engine.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size preset of gen.py")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the first pass's output before its check (self-test)")
    return ap.parse_args(argv)


class Run:
    """Operation counts of one run: passes, checks and failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, op: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            self.failures.append(f"{op}: {err}")
            print(f"FAILED {op}: {err}", file=sys.stderr)

    def guarded(self, op: str, fn):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — benchmark boundary: count and go on
            self.record(op, traceback.format_exc(limit=3).strip().splitlines()[-1])
            traceback.print_exc(file=sys.stderr)
            return None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    run = Run()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, event_log)
    sys.path[:0] = [HERE, ROOT]
    try:
        import gen
        import workloads
        from reddit_tech_jobs_data_pipeline_spark import session
        from tracing import Tracer, fold_event_log
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the root of a checkout", file=sys.stderr)
        remove_work(work)
        return 2
    spark = None
    try:
        g0 = time.perf_counter()
        inp = os.path.join(work, "input")
        manifest = gen.generate(inp, args.seed, args.size, (workloads.WORKLOADS[args.workload].inputs,))
        gen_s = time.perf_counter() - g0
        wl = workloads.WORKLOADS[args.workload](inp, work, manifest)
        tracer = Tracer()
        if args.trace:
            tracer.wrap(session, "get_spark", "session.get_spark")
            wl.trace_hooks(tracer)
            tracer.active = True

        # set-up: process start to a live session, input generation excluded
        spark = session.get_spark("perfbench")
        wl.prepare(spark)
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        log(f"set-up {setup_s:.1f}s")
        passes = timed_passes(run, wl, spark, args.seconds, tracer if args.trace else None)
        tracer.active = False
        rss = peak_rss_mb(spark)
        if args.corrupt and passes:
            wl.corrupt(passes[0])
        for i, p in enumerate(passes):
            errs = run.guarded(f"check of pass {i}", lambda p=p: wl.check_pass(spark, p))
            for e in errs if errs is not None else []:
                run.record(f"check of pass {i}", e)
            if errs == []:
                run.record(f"check of pass {i}", None)
        if passes:
            for e in run.guarded("final checks", lambda: wl.final_checks(spark, passes[-1])) or []:
                run.record("final check", e)
        app = spark.sparkContext.applicationId
        stop_jvm(spark)
        spark = None
        log("checks done")
        if not passes:  # nothing to measure: the failures alone are the result
            return report(run, {}, {})
        if not args.trace:
            return report(run, *end_to_end(passes, setup_s, rss))
        return report(run, per_layer(wl, tracer, fold_event_log(os.path.join(event_log, app), tracer), passes), {})
    finally:
        if spark is not None:  # an error escaped the run's counters
            stop_jvm(spark)
        remove_work(work)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):  # still holds another run's dir
        os.rmdir(os.path.dirname(work))


def timed_passes(run: Run, wl, spark, seconds: float, tracer=None) -> list:
    """Run passes until their summed time reaches ``seconds``; the CPU
    counted is the program's, from the pass's start until its last call
    returned. A pass that raises is a failed operation and ends the
    series: a later pass runs warm and cannot stand in for it."""
    passes, spent = [], 0.0
    while spent < seconds:
        i = len(passes)
        c0 = cpu_s(spark)
        res = run.guarded(f"pass {i}", lambda: wl.run_pass(spark, i, tracer))
        if res is None:
            break
        res.cpu_s = cpu_s(spark) - c0
        run.record(f"pass {i}", None)
        log(f"pass {i}: {res.seconds:.1f}s, {res.cpu_s:.1f} CPU s")
        res = run.guarded(f"output collection of pass {i}", lambda: wl.collect(spark, res, tracer))
        if res is None:
            break
        passes.append(res)
        spent += res.seconds
    return passes


def end_to_end(passes: list, setup_s: float, rss: float) -> tuple[dict, dict]:
    """The JSON result's metrics, and the ones that are only printed:
    wall-clock pass timings, which move with the host's load by more than
    a bound may allow (see README.md). Each value is
    ``(value, unit, samples)``."""
    steps = [s for p in passes for s in p.steps]
    rows = sum(p.rows for p in passes)
    m = {
        "setup_s": (setup_s, "s", 1),
        "cpu_s_per_krow": (1000 * sum(p.cpu_s for p in passes) / rows, "s", len(passes)),
        "peak_rss_mb": (rss, "MB", 1),
        "stored_bytes_per_input_byte": (
            median([p.stored_bytes / p.input_bytes for p in passes]), "ratio", len(passes)),
    }
    extra = {
        "rows_per_s": (rows / sum(p.seconds for p in passes), "rows/s", len(passes)),
        "step_s.p50": (median(steps), "s", len(steps)),
    }
    if len(steps) >= 100:
        extra["step_s.p90"] = (quantile(steps, 0.9), "s", len(steps))
    return m, extra


def per_layer(wl, tracer, spans: dict, passes: list) -> dict:
    """Per-span metrics per traced pass (``session.get_spark``: per call)
    and the workload's counts; every workload reports every name, and a
    layer it does not reach reads 0."""
    from tracing import SPAN_FIELDS

    self_s, calls = tracer.self_times(), tracer.calls()
    n = len(passes)
    metrics = {}
    for name in [s for names in SPANS.values() for s in names]:
        per = 1 if name == "session.get_spark" else n
        vals = {**spans.get(name, {}), "self_s": self_s.get(name, 0.0), "calls": calls.get(name, 0)}
        for f in SPAN_FIELDS:
            unit = "count" if f in ("calls", "jobs", "tasks") else "s" if f.endswith("_s") else "MB"
            metrics[f"{name}.{f}"] = (vals.get(f, 0.0) / per, unit, per)
    counts = dict.fromkeys([c for names in COUNTS.values() for c in names], 0.0)
    counts.update(wl.trace_counts(passes, spans))
    counts["trace_overhead_s"] = tracer.overhead_s / n
    for k, v in counts.items():
        unit = "s" if k.endswith("_s") else "ratio" if k.endswith(("_ratio", "_amp")) else "count"
        metrics[k] = (v, unit, n)
    return metrics


def report(run: Run, metrics: dict, extra: dict) -> int:
    for name, (v, unit, n) in {**metrics, **extra}.items():
        print(f"{name:48s} {v:14.6f} {unit:8s} n={n}")
    ratio = run.failed / max(1, run.attempted)
    print(f"{'failed_ratio':48s} {ratio:14.6f} {'ratio':8s} n={run.attempted}")
    for f in run.failures:
        print(f"failure: {f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
