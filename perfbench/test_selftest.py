"""Self-test of the benchmark (not of the program).

    python3 -m pytest perfbench/test_selftest.py -q

Pins the metric names and units the benchmark reports, and shows that
its correctness checks count failures: a deliberately wrong query
result, a micro-batch whose sink call fails, and a row stored twice.  The query tables are
sf0.001.  The first run in a checkout also generates the tables and
computes the oracle answers (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_py4j_calls": "count",
    "operators.frozen_builds": "count",
    "operators.frozen_hit_ratio": "ratio",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_time_s": "s",
    "spark.cpu_busy_share": "ratio",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "rows",
    "streaming.batch_s.p50": "s",
    "streaming.batch_s.tail": "s",
    "streaming.backlog_files_max": "count",
    "streaming.generator_late_s": "s",
    "sources.pg.sink_s.p50": "s",
    "sources.pg.sink_s.tail": "s",
    "sources.pg.sink_share": "ratio",
    "sources.pg.rows_delivered": "rows",
    "sources.pg.rows_inserted": "rows",
    "sources.pg.useful_ratio": "ratio",
    "sources.pg.sink_failures": "count",
    "trace.overhead_share": "ratio",
}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
         "--query-sf", "0.001", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_declared_metrics():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"build_heavy", "ingest_pg"}


def test_wrong_result_is_counted():
    res = _run("--workload", "build_heavy", "--seed", "3", "--trace", "0",
               "--inject-wrong", "lsh_s_curve")
    assert _units(res) == END_TO_END
    assert res["correct"] is False
    assert res["attempted"] == 17
    # every lsh_s_curve request of the round returned the altered result
    assert res["failed"] == 16


def test_failed_sink_batch_is_counted():
    res = _run("--workload", "ingest_pg", "--seed", "3", "--trace", "1",
               "--inject-sink-failure", "1")
    assert _units(res) == PER_LAYER
    assert res["correct"] is False
    assert res["failed"] >= 1
    assert res["metrics"]["sources.pg.sink_failures"]["value"] == 1


def test_duplicate_row_is_counted():
    # a second copy of a row, as a sink without its key and merge would
    # store after a redelivery, must fail the value-for-value check
    res = _run("--workload", "ingest_pg", "--seed", "3", "--trace", "0",
               "--inject-duplicate")
    assert _units(res) == END_TO_END
    assert res["correct"] is False
    assert res["failed"] >= 1
