"""Probes for a traced run, attached from outside the program.

Nothing here changes what the program computes.  A traced run:

- tags every Spark job with a job group naming its request and phase
  (``b<i>`` construction, ``p<i>`` planning, ``x<i>`` the action), and
  the benchmark's own jobs with ``check``, so Spark's status tracker and
  event log attribute jobs to layers;
- counts py4j commands by wrapping the gateway client's
  ``send_command`` (the py4j traffic of plan construction);
- counts builds and lookups of the session memo by swapping
  ``operators.frozen._FROZEN`` for a counting dict;
- reads per-task metrics from Spark's own event log once the session
  has stopped and the log is complete.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

# job group of the benchmark's own Spark jobs (warm-up, result checks)
CHECK_GROUP = "check"
# job groups of a traced request's phases: construction, planning, action
_PHASE_GROUP = re.compile(r"([bpx])\d+")


def phase_of(group: str | None) -> str:
    """The phase a job group names: ``b``/``p``/``x`` for a request's
    construction, planning or action, ``check`` for the benchmark's own
    jobs, ``-`` for anything else (a streaming query runs its jobs under
    its run id, a UUID)."""
    if not group:
        return "-"
    m = _PHASE_GROUP.fullmatch(group)
    if m:
        return m.group(1)
    return CHECK_GROUP if group == CHECK_GROUP else "-"


class Py4jCounter:
    """Counts commands sent over the py4j gateway of one SparkContext."""

    def __init__(self, sc) -> None:
        self.calls = 0
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send


class _CountingMemo(dict):
    """Stand-in for the memo dict: ``frozen()`` tests membership once per
    lookup and assigns once per build."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.lookups = 0
        self.builds = 0

    def __contains__(self, key) -> bool:
        self.lookups += 1
        return super().__contains__(key)

    def __setitem__(self, key, value) -> None:
        self.builds += 1
        super().__setitem__(key, value)


def count_memo():
    """Install the counting memo and return it."""
    from near_indexer_for_explorer_spark.operators import frozen as frozen_mod

    memo = _CountingMemo(frozen_mod._FROZEN)
    frozen_mod._FROZEN = memo
    return memo


def event_log_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn Spark's event log on."""
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
    )


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-task metrics from the event log(s) in ``log_dir``, summed by
    job-group phase (``phase_of``).

    Each phase maps to jobs, stages, task time, per-stage task times
    (for skew), shuffle-write, spill and input bytes."""
    stage_phase: dict[int, str] = {}
    phases: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": set(),
            "task_ms": 0.0,
            "stage_tasks": defaultdict(list),
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
        }
    )
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = phase_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                    phases[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = key
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    sid = ev["Stage ID"]
                    phase = phases[stage_phase.get(sid, "-")]
                    run_ms = m.get("Executor Run Time", 0)
                    phase["stages"].add(sid)
                    phase["task_ms"] += run_ms
                    phase["stage_tasks"][sid].append(run_ms)
                    phase["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    phase["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    phase["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return phases


def exec_metrics(phases: list[dict], exec_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` / ``sources.input_bytes`` metrics over the given
    event-log phases, for actions that took ``exec_s`` seconds of wall
    time on ``cores`` cores."""
    task_ms = sum(p["task_ms"] for p in phases)
    skews = []
    for p in phases:
        for times in p["stage_tasks"].values():
            mid = statistics.median(times)
            if len(times) >= 2 and mid > 0:
                skews.append(max(times) / mid)
    return {
        "spark.exec_s": exec_s,
        "spark.jobs": sum(p["jobs"] for p in phases),
        "spark.stages": sum(len(p["stages"]) for p in phases),
        "spark.task_time_s": task_ms / 1000.0,
        "spark.cpu_busy_share": (task_ms / 1000.0) / (exec_s * cores) if exec_s else 0.0,
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.shuffle_write_bytes": sum(p["shuffle_write_bytes"] for p in phases),
        "spark.spill_bytes": sum(p["spill_bytes"] for p in phases),
        "sources.input_bytes": sum(p["input_bytes"] for p in phases),
    }
