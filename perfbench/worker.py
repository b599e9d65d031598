"""One benchmark process: set up, run one workload, check it, report.

Started by ``run.py`` as a fresh process for every measurement, so the
Spark session, the JVM and the session memo (``operators/frozen.py``)
start cold each time.  Writes its result as JSON to ``--out``.

Set-up is timed from ``--spawned`` (the wall-clock time at which the
parent started this process) until the first request could be sent:
the package imported, the Spark session up, the query registry loaded
and, for ``ingest_pg``, the PostgreSQL server accepting connections.
A measuring process then runs one trivial job, untimed, so that the
executor's one-time start (task launch, first code generation) does not
land on whichever request happens to come first.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

from stats import median, tail
from tracing import CHECK_GROUP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def _job_group(spark, group):
    """Run the benchmark's own Spark jobs (warm-up, checks) under their
    own job group, which the per-layer metrics leave out."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _metrics_queries(records, wall):
    ok = [r for r in records if r["ok"]]
    lat = [r["latency_s"] for r in ok]
    t, pct, n = tail(lat)
    e2e = {
        "queries_per_s": len(ok) / wall,
        "rows_per_s": sum(r["result_rows"] for r in ok) / wall,
        "latency_p50_s": median(lat),
        "latency_tail_s": t,
    }
    return e2e, {"tail_percentile": pct, "latency_samples": n, "wall_s": wall}


def _layers_queries(records, memo, phases, cores):
    from tracing import exec_metrics

    ok = [r for r in records if r["ok"]]
    out = {
        "plans.build_s": sum(r["build_s"] for r in ok),
        "plans.build_jobs": sum(r["build_jobs"] for r in ok),
        "plans.build_py4j_calls": sum(r["build_py4j_calls"] for r in ok),
        "operators.frozen_builds": memo.builds,
        "operators.frozen_hit_ratio": (
            (memo.lookups - memo.builds) / memo.lookups if memo.lookups else 0.0
        ),
        "spark.plan_s": sum(r["plan_s"] for r in ok),
    }
    exec_s = sum(r["exec_s"] for r in ok)
    out.update(exec_metrics([phases[k] for k in ("p", "x") if k in phases], exec_s, cores))
    return out


def _metrics_ingest(res):
    t, pct, n = tail(res["freshness"])
    e2e = {
        "queries_per_s": res["catchup_files"] / res["catchup_s"],
        "rows_per_s": res["catchup_rows"] / res["catchup_s"],
        "latency_p50_s": median(res["freshness"]),
        "latency_tail_s": t,
    }
    return e2e, {"tail_percentile": pct, "latency_samples": n,
                 "catchup_s": res["catchup_s"]}


def _layers_ingest(res, phases, cores):
    from tracing import exec_metrics

    listener = res["listener"]
    batch_s = [b["duration_ms"] / 1000.0 for b in listener.batches
               if b["duration_ms"] is not None]
    sink_s = [b["sink_s"] for b in res["batches"]]
    delivered = listener.rows_total
    inserted = res["rows_inserted"]
    out = {
        "plans.build_s": res["build_s"],
        "plans.build_py4j_calls": res["build_py4j_calls"],
        "streaming.batches": len(listener.batches),
        "streaming.rows_per_batch": delivered / len(listener.batches) if listener.batches else 0.0,
        "streaming.batch_s.p50": median(batch_s),
        "streaming.batch_s.tail": tail(batch_s)[0],
        "streaming.backlog_files_max": res["live_backlog_max"],
        "streaming.generator_late_s": res["generator_late_s"],
        "sources.pg.sink_s.p50": median(sink_s),
        "sources.pg.sink_s.tail": tail(sink_s)[0],
        "sources.pg.sink_share": sum(sink_s) / sum(batch_s) if batch_s else 0.0,
        "sources.pg.rows_delivered": delivered,
        "sources.pg.rows_inserted": inserted,
        "sources.pg.useful_ratio": inserted / delivered if delivered else 0.0,
        "sources.pg.sink_failures": sum(1 for b in res["batches"] if not b["ok"]),
    }
    # every job but the benchmark's own: the stream's, under its run id
    out.update(exec_metrics([p for k, p in phases.items() if k != CHECK_GROUP],
                            sum(batch_s), cores))
    return out


def _run_ingest(a, spark, pg, py4j):
    import ingest

    res = ingest.run(spark, pg.sock, a.work, a.seed, a.seconds, a.events,
                     py4j, a.inject_sink_failure)
    if a.inject_duplicate:
        ingest.insert_duplicate(pg)
    with _job_group(spark, CHECK_GROUP):
        failed = res["failed_files"] | ingest.check(spark, pg.sock, res)
    late = res["generator_late_s"] > ingest.MAX_GENERATOR_LATE_S
    res["rows_inserted"] = ingest.rows_inserted(pg.sock)
    e2e, detail = _metrics_ingest(res)
    return res, {
        "attempted": len(res["files"]),
        "failed": len(failed),
        "correct": not failed and not late,
        "e2e": e2e,
        "detail": dict(detail, failed_files=sorted(failed),
                       sink_errors=sorted({b["error"] for b in res["batches"] if not b["ok"]}),
                       generator_late_s=res["generator_late_s"],
                       schedule_slipped=late),
    }


def _run_queries(a, spark, registry, oracles, py4j):
    import queries

    t_start = time.perf_counter()
    records = queries.run(spark, registry, a.sf_dir, a.seed, a.seconds, py4j)
    wall = time.perf_counter() - t_start
    bad = queries.check(records, a.sf_dir, oracles, a.inject_wrong)
    e2e, detail = _metrics_queries(records, wall)
    failed = [r for r in records if not r["ok"]]
    return records, {
        "attempted": len(records),
        "failed": len(failed),
        "correct": not failed,
        "e2e": e2e,
        "detail": dict(detail, mismatches=bad,
                       requests=[(r["name"], round(r["latency_s"], 3)) for r in records],
                       errors=sorted({f"{r['name']}: {r.get('error', '')}" for r in failed})),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--event-log", default="")
    ap.add_argument("--inject-wrong", default=None)
    ap.add_argument("--inject-sink-failure", type=int, default=None)
    ap.add_argument("--inject-duplicate", action="store_true")
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from near_indexer_for_explorer_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench")
    session_s = time.time() - t0
    registry, oracles = entry.queries(), entry.oracle_sql()
    cores = spark.sparkContext.defaultParallelism
    out: dict = {}
    with contextlib.ExitStack() as stack:
        stack.callback(spark.stop)
        pg = None
        if a.workload == "ingest_pg":
            from pgserver import PgServer

            pg = stack.enter_context(PgServer(os.path.join(a.work, "pgdata")))
        out["setup_s"] = time.time() - a.spawned
        if a.setup_only:
            _write(a.out, out)
            return 0

        with _job_group(spark, CHECK_GROUP):
            spark.range(1).count()
        py4j = memo = None
        if a.trace:
            from tracing import Py4jCounter, count_memo

            py4j = Py4jCounter(spark.sparkContext)
            memo = count_memo()
        if pg is not None:
            res, result = _run_ingest(a, spark, pg, py4j)
        else:
            records, result = _run_queries(a, spark, registry, oracles, py4j)
        out.update(result)
    # the session has stopped: the event log is complete
    if a.trace:
        from tracing import read_event_log

        phases = read_event_log(a.event_log)
        if pg is not None:
            layers = _layers_ingest(res, phases, cores)
        else:
            layers = _layers_queries(records, memo, phases, cores)
        layers["session.start_s"] = session_s
        out["layers"] = layers
    _write(a.out, out)
    return 0


def _write(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, default=str)


if __name__ == "__main__":
    sys.exit(main())
