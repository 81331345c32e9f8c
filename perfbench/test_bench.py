"""Tests of the benchmark itself: `python3 -m pytest perfbench -q`.

The smoke tests start one Spark JVM per run, so this file takes a few
minutes; it is not part of the engine's tier-1 suite.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import claims  # noqa: E402
import tables  # noqa: E402


def test_claims_oracle_matches_the_golden_fixture_output():
    """The oracle gives the output the engine's golden test expects for
    the paper's two sample files (intended exclusion semantics)."""
    fixtures = os.path.join(ROOT, "fixtures")
    candidates, metrics = claims.expected_output(
        [os.path.join(fixtures, "emr_alpha.csv"), os.path.join(fixtures, "emr_beta.json")]
    )
    assert [c["claim_id"] for c in candidates] == ["A123", "A124", "A127", "B988"]
    assert candidates[1]["recommended_changes"] == "Review provider NPI, correct and resubmit"
    assert metrics == {
        "total_processed": 9,
        "by_source": {"alpha": 5, "beta": 4},
        "flagged_for_resubmission": 4,
        "excluded_by_reason": {
            "not_denied": 2,
            "patient_missing": 2,
            "too_recent": 0,
            "non_retryable_or_ambiguous": 1,
            "malformed": 0,
        },
    }


def test_drop_sizes_are_heavy_tailed_and_seed_free():
    sizes = claims.drop_sizes(4, 500, 40_000)
    assert sizes == sorted(sizes, reverse=True)
    assert sizes[-1] >= 500 and sizes[0] <= 40_000 and sizes[0] > 20 * sizes[-1]


def test_drops_and_tables_depend_only_on_the_seed(tmp_path):
    import numpy as np

    a = claims.write_drop(np.random.default_rng(7), str(tmp_path / "a"), 0, 300)
    b = claims.write_drop(np.random.default_rng(7), str(tmp_path / "b"), 0, 300)
    assert [open(p, "rb").read() for p in a] == [open(p, "rb").read() for p in b]
    t1, t2, t3 = tables.make_tables(7, 0.001), tables.make_tables(7, 0.001), tables.make_tables(8, 0.001)
    assert all(t1[n].equals(t2[n]) for n in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["claims_etl", "analytics"])
def test_smoke_run_prints_every_metric_and_passes_its_checks(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    result = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in result["metrics"].items()}


def test_event_log_fallback_reads_the_same_jobs_as_the_status_store(tmp_path):
    from pyspark.sql import SparkSession

    import tracing

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .getOrCreate()
    )
    try:
        tracer = tracing.Tracer(spark, str(log_dir))
        tracer.set_group("test|0.0|q|exec")
        spark.range(100_000).repartition(3).selectExpr("sum(id)").collect()
        tracer.set_group(None)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        live = tracing.stage_rows(spark.sparkContext, tracer.groups)
        logged = tracing.event_log_rows(str(log_dir), set(tracer.groups))
    finally:
        spark.stop()

    def key(j):
        return (j.group, j.stages, j.tasks, j.shuffle_read_bytes, j.shuffle_write_bytes)

    assert live and sorted(map(key, live)) == sorted(map(key, logged))
