"""Benchmark of the indexer: operator builds and streaming ingest into
PostgreSQL.

    python3 perfbench/run.py --workload build_heavy --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  Workloads, metric names and units are
declared in ``BENCHMARK.json``; see ``perfbench/README.md``.  The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the run measures the workload twice, untraced and then
traced, and reports the per-layer metrics of the traced process plus
``trace.overhead_share``, the throughput it lost to tracing.  Every
measurement runs in a fresh process (``worker.py``) on
``local[<cores>]``.  Lines before the last one log the environment and
the details behind the metrics.

Generated tables, the PostgreSQL data directory, Spark's scratch space
and event logs live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Query workloads read sf0.01 tables; the ingest stream is cut from the
# sf0.1 events table.
QUERY_SF = 0.01
EVENTS_SF = 0.1
# fresh processes whose set-up time is measured in each run
SETUPS = 3
DRIVER_MEMORY = "1g"
WORKER_TIMEOUT_S = 170


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _tables(sf: float, tables: tuple[str, ...] | None = None) -> str:
    """Generate (once per checkout) and return the directory of
    ``tables`` (default: all) at scale factor ``sf``."""
    import datagen

    name = f"sf{sf}" if tables is None else f"sf{sf}-{'-'.join(tables)}"
    out = os.path.join(WORK, "data", name)
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, sf, tables or datagen.TABLES)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


class TreePeakRss(threading.Thread):
    """Peak memory of a process tree (the Python driver, its JVM, Python
    workers and, for ingest, the PostgreSQL server).

    Every ``interval`` it sums, over the processes of the tree alive at
    that moment, each one's own peak resident set so far (``VmHWM``,
    kept by the kernel, so a long-lived process's peak is never missed
    between two samples), and keeps the largest sum."""

    def __init__(self, pid: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self.peak_by_name: dict[str, float] = {}
        self.done = threading.Event()

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, by_name, todo = 0, {}, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            try:
                with open(f"/proc/{p}/status") as fh:
                    status = dict(line.split(":", 1) for line in fh if ":" in line)
            except OSError:
                continue
            if "VmHWM" not in status:  # a zombie
                continue
            kb = int(status["VmHWM"].split()[0])
            total += kb
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + kb / 1024
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_name = total, by_name

    def run(self) -> None:
        while not self.done.wait(self.interval):
            self._sample()


def _worker(args, env, out_name, trace=0, extra=()) -> tuple[dict, int]:
    """Run one fresh worker process; return its result and peak tree
    memory in MB."""
    out = os.path.join(WORK, out_name)
    run_dir = os.path.join(WORK, "runs", out_name.rsplit(".", 1)[0])
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--sf-dir", args.sf_dir, "--events", os.path.join(args.events_dir, "events.parquet"),
        "--work", run_dir, "--out", out,
        "--spawned", repr(time.time()),
        *extra,
    ]
    # its own process group, so that everything it starts (the JVM,
    # Python workers, PostgreSQL) can be stopped with it
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                            start_new_session=True)
    rss = TreePeakRss(proc.pid)
    rss.start()
    cpu0 = _cpu_ticks()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    finally:
        rss.done.set()
        rss.join()
        _stop_group(proc)
    cpu1 = _cpu_ticks()
    if code != 0:
        raise RuntimeError(f"worker exited with {code}: {' '.join(cmd)}")
    with open(out) as fh:
        result = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    result["peak_mb_by_process"] = rss.peak_by_name
    # CPU time the hypervisor gave to other guests while this process
    # ran: when it is high, every time in the run reads long
    total = sum(cpu1) - sum(cpu0)
    result["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / total if total else 0.0
    return result, rss.peak_kb / 1024


def _cpu_ticks() -> list[int]:
    """The machine-wide CPU counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of a worker's process group and wait until
    all of it has ended."""
    def members() -> list[int]:
        out = []
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is the state, fields[2] the process group
            if fields[0] != "Z" and int(fields[2]) == proc.pid:
                out.append(int(name))
        return out

    if members():
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 30
    while members() and time.monotonic() < deadline:
        time.sleep(0.05)


def _env(trace_log: str | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
    if trace_log:
        from tracing import event_log_conf

        submit += event_log_conf(trace_log)
    else:
        submit += "pyspark-shell"
    env.update(
        SPARK_GRAFT_CPUS=str(_cores()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        # the foreachPartition closure of the PostgreSQL sink imports the
        # package inside Python workers
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=submit,
        TMPDIR=tmp,
    )
    return env


def _environment() -> dict:
    import pyspark

    pg = subprocess.run(["postgres", "--version"], capture_output=True, text=True)
    return {"spark": pyspark.__version__, "postgres": pg.stdout.strip(),
            "python": sys.version.split()[0], "cores": _cores(),
            "driver_memory": DRIVER_MEMORY, "query_sf": QUERY_SF,
            "events_sf": EVENTS_SF}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--query-sf", type=float, default=QUERY_SF,
                    help="scale factor of the query workloads' tables")
    ap.add_argument("--inject-wrong", default=None,
                    help="self-test: alter this query's result before the check")
    ap.add_argument("--inject-sink-failure", type=int, default=None,
                    help="self-test: send this micro-batch to an absent server")
    ap.add_argument("--inject-duplicate", action="store_true",
                    help="self-test: insert a second copy of one row into the "
                         "table after the stream stops")
    args = ap.parse_args(argv)
    # on SIGTERM unwind normally, so the running worker's process group
    # is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")
    for need in ("__spark_entry__.py", "near_indexer_for_explorer_spark/__init__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"program not found: {need} is missing from {ROOT}")

    os.makedirs(WORK, exist_ok=True)
    args.sf_dir = _tables(args.query_sf)
    args.events_dir = _tables(EVENTS_SF, ("events",))
    # the first run in a checkout also computes the reference answers
    sys.path.insert(0, ROOT)
    import __spark_entry__
    import queries

    queries.oracle_fingerprints(args.sf_dir, __spark_entry__.oracle_sql(),
                                queries.BUILD_HEAVY)
    extra = []
    if args.inject_wrong:
        extra += ["--inject-wrong", args.inject_wrong]
    if args.inject_sink_failure is not None:
        extra += ["--inject-sink-failure", str(args.inject_sink_failure)]
    if args.inject_duplicate:
        extra += ["--inject-duplicate"]

    env = _environment()
    main_res, peak = _worker(args, _env(None), "main.json", extra=extra)
    detail = dict(main_res["detail"], peak_mb_by_process=main_res["peak_mb_by_process"],
                  cpu_steal_share=main_res["cpu_steal_share"])
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        traced, _ = _worker(args, _env(log_dir), "traced.json", 1,
                            extra + ["--event-log", log_dir])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload does not load reports zero work
        metrics = dict.fromkeys(units, 0)
        metrics.update(traced["layers"])
        thr = "rows_per_s" if args.workload == "ingest_pg" else "queries_per_s"
        metrics["trace.overhead_share"] = main_res["e2e"][thr] / traced["e2e"][thr] - 1.0
        detail["traced"] = traced["detail"]
        result = traced
        correct = main_res["correct"] and traced["correct"]
    else:
        setups = [main_res["setup_s"]]
        for k in range(1, SETUPS):
            probe, _ = _worker(args, _env(None), f"setup{k}.json", extra=["--setup-only"])
            setups.append(probe["setup_s"])
        metrics = dict(main_res["e2e"], setup_s=statistics.median(setups),
                       peak_rss_mb=peak)
        detail["setup_samples_s"] = setups
        result = main_res
        correct = main_res["correct"]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    missing = set(units) - set(metrics)
    if missing:
        return _fail(f"metrics not produced: {sorted(missing)}")
    print("# environment " + json.dumps(env))
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
