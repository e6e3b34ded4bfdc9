"""Self-tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark-backed tests run ``run.py`` end to end (about a minute per
workload and mode) from the root of the checkout.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_gives_identical_inputs(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.generate(str(tmp_path / name), seed, "tiny")
        gen.gen_oracle_dir(str(tmp_path / name / "oracle"), seed)
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _tree_equal(str(tmp_path / "a"), str(tmp_path / "c"))


def test_registry_oracles_hold_on_a_generated_dir(tmp_path):
    """The registered queries whose operators the workloads time agree
    with their registered DuckDB oracles on generated testdata-layout
    tables."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    import reference
    from reddit_tech_jobs_data_pipeline_spark.session import get_spark

    gen.gen_oracle_dir(str(tmp_path), 5)
    spark = get_spark("perfbench-selftest")
    for name in ("combined_dedup_clusters", "streaming_ivfpq_index_ingest"):
        assert reference.registry_check(spark, name, str(tmp_path)) is None, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_counted_and_end_to_end_metrics_emitted(workload):
    res, out = _run(workload, 0, "--corrupt")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    assert res["failed"] >= 1 and res["correct"] is False
    printed = {line.split()[0] for line in out.splitlines()[:-1] if line.strip()}
    assert {"rows_per_s", "step_s.p50", "stored_bytes_per_input_byte", "failed_ratio"} <= printed


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_span_and_count(workload):
    import run

    res, _ = _run(workload, 1)
    assert res["correct"] is True and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    for span in run.SPANS[workload] + run.SPANS["all"]:
        assert res["metrics"][f"{span}.calls"]["value"] > 0, span
        assert res["metrics"][f"{span}.self_s"]["value"] > 0, span
    for count in run.COUNTS[workload]:
        # micro-batch phases are whole milliseconds and may read 0 when tiny
        if not count.startswith("streaming."):
            assert res["metrics"][count]["value"] > 0, count


def test_failed_pass_is_counted_once_and_reported(monkeypatch, capsys):
    """A pass that raises is one failed operation, is not retried (a
    retry would run warm), and the result line still prints, with no
    metrics."""
    import run

    tried = []

    class Broken:
        def run_pass(self, spark, i, tracer):
            tried.append(i)
            raise RuntimeError("boom")

    monkeypatch.setattr(run, "cpu_s", lambda spark: 0.0)
    r = run.Run()
    assert run.timed_passes(r, Broken(), None, 100.0) == []
    assert tried == [0] and (r.attempted, r.failed) == (1, 1)
    assert run.report(r, {}, {}) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
