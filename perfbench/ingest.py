"""The ``ingest_pg`` workload: the paper's own write path.

``read_event_stream`` -> ``normalize_events`` -> ``foreachBatch``
(``pg_copy_upsert`` keyed on ``event_id``) into a real PostgreSQL
server.  A generator thread lands block-sized parquet files cut from
the ``events`` table; per seed it picks the slice of events, which rows
are redelivered (an identical copy lands again 1-3 files later) and
which rows arrive late (moved 1-2 files later, so timestamps run out of
order).

Two phases:

- catch-up: a backlog of files has landed before the stream starts;
  the stream drains it ``FILES_PER_TRIGGER`` files per micro-batch.
  Throughput is rows committed per second.
- live: files land open-loop at ``LIVE_FILES_PER_S``, below catch-up
  capacity.  Freshness of a file is the time from when it was due to
  land until the micro-batch holding it has committed in PostgreSQL, so
  a stall also delays the files due during it.

A run of ``seconds`` gives each phase about half of it (``phase_files``):
the backlog holds what catch-up drains in ``seconds / 2`` at the
nominal ``CATCHUP_FILES_PER_S``, and the live phase lasts
``seconds / 2``.  The file counts depend only on ``seconds``, so every
run with the same ``seconds`` does the same work.

After the run the table is compared value for value with its batch
twin: ``normalize_events`` over every landed file, deduplicated on
``event_id``.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import math
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_FILE = 500
FILES_PER_TRIGGER = 8
# catch-up throughput on 4 cores is 4.5-7 files/s, depending on load
CATCHUP_FILES_PER_S = 5.0
LIVE_FILES_PER_S = 4.0
REDELIVER_SHARE = 0.10
LATE_SHARE = 0.05
# a generator that lands a file later than this after its due time has
# let the open-loop schedule slip, and the run is invalid
MAX_GENERATOR_LATE_S = 1.0

TABLE = "events_idx"
COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props",
           "event_date", "k"]
DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type text, "
    "value double precision, props text, event_date date, k bigint"
)


def phase_files(seconds: float) -> tuple[int, int]:
    """Files in the catch-up backlog (whole micro-batches) and files
    landed live, for a run of ``seconds``."""
    half = seconds / 2
    batches = max(1, round(half * CATCHUP_FILES_PER_S / FILES_PER_TRIGGER))
    return batches * FILES_PER_TRIGGER, max(1, math.ceil(half * LIVE_FILES_PER_S))


def plan_files(events_path: str, seed: int, n_files: int) -> list[pa.Table]:
    """Cut ``n_files`` block files from the events table for ``seed``."""
    events = pq.read_table(events_path)
    n = events.num_rows
    rng = np.random.default_rng(seed)
    need = n_files * ROWS_PER_FILE
    start = int(rng.integers(0, max(1, n - need))) if need < n else 0
    idx = (start + np.arange(need)) % n
    base = events.take(pa.array(idx))
    # wrapped-around rows get fresh ids so event_id stays a key
    wraps = (start + np.arange(need)) // n
    ids = base.column("event_id").to_numpy() + wraps * n
    base = base.set_column(0, "event_id", pa.array(ids, pa.int64()))
    block = np.arange(need) // ROWS_PER_FILE
    late = rng.random(need) < LATE_SHARE
    block = np.where(late, block + rng.integers(1, 3, need), block)
    members: list[list[int]] = [[] for _ in range(n_files)]
    for row, b in enumerate(block):
        if b < n_files:
            members[b].append(row)
    redeliver = np.flatnonzero(rng.random(need) < REDELIVER_SHARE)
    for row in redeliver:
        b = int(block[row] + rng.integers(1, 4))
        if b < n_files:
            members[b].append(int(row))
    return [base.take(pa.array(m, pa.int64())) for m in members]


class Generator(threading.Thread):
    """Lands files open-loop: file i of ``files`` at ``t0 + i / rate``."""

    def __init__(self, src_dir: str, files: list[pa.Table], first: int,
                 t0: float, rate: float) -> None:
        super().__init__(daemon=True)
        self.src_dir, self.files, self.first = src_dir, files, first
        self.t0, self.rate = t0, rate
        self.due: dict[int, float] = {}
        self.late_s = 0.0
        self.landed = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for j, table in enumerate(self.files):
                due = self.t0 + j / self.rate
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                land(self.src_dir, self.first + j, table)
                self.late_s = max(self.late_s, time.perf_counter() - due)
                self.due[self.first + j] = due
                self.landed += 1
        except Exception as exc:  # surfaced by the caller after join
            self.error = exc


def file_name(i: int) -> str:
    return f"block-{i:06d}.parquet"


def land(src_dir: str, i: int, table: pa.Table) -> None:
    """Write atomically: the file source skips dot-files, then sees the
    complete file appear under its final name."""
    tmp = os.path.join(src_dir, f".{file_name(i)}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(src_dir, file_name(i)))


def batch_files(checkpoint: str, batch_id: int) -> list[int]:
    """The files of one micro-batch, from the file source's own log in
    the checkpoint (written before the batch runs; every tenth batch
    compacts all earlier entries into ``<id>.compact``)."""
    log = os.path.join(checkpoint, "sources", "0", str(batch_id))
    if not os.path.exists(log):
        log += ".compact"
    out = []
    with open(log) as fh:
        next(fh)  # version line
        for line in fh:
            entry = json.loads(line)
            if entry["batchId"] == batch_id:
                name = os.path.basename(entry["path"])
                out.append(int(name[len("block-"):-len(".parquet")]))
    return sorted(out)


def run(spark, sock, work, seed, seconds, events_path, py4j=None,
        fail_batch=None):
    """Run both phases; return the per-file and per-batch records.

    ``py4j`` (a ``Py4jCounter``) turns tracing on: a ``MetricsListener``
    and the py4j commands of building the stream.  ``fail_batch`` sends
    that micro-batch to an absent server, to show the failure is
    counted."""
    from near_indexer_for_explorer_spark.sources.pg import pg_copy_upsert
    from near_indexer_for_explorer_spark.streaming.pipelines import (
        normalize_events,
        read_event_stream,
    )

    backlog, n_live = phase_files(seconds)
    files = plan_files(events_path, seed, backlog + n_live)
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for i in range(backlog):
        land(src_dir, i, files[i])

    checkpoint = os.path.join(work, "checkpoint")
    committed: dict[int, float] = {}
    failed_files: set[int] = set()
    batches: list[dict] = []
    lock = threading.Condition()
    gen: Generator | None = None  # the live-phase generator, once started

    def sink(batch_df, batch_id):
        t0 = time.perf_counter()
        ids = batch_files(checkpoint, batch_id)
        landed = backlog + (gen.landed if gen else 0)
        target = "@perfbench-absent" if batch_id == fail_batch else sock
        error = None
        try:
            pg_copy_upsert(batch_df, TABLE, ["event_id"], DDL, target)
        except Exception as exc:  # a failed batch is counted, the stream goes on
            error = f"{type(exc).__name__}: {exc}"[:300]
        t1 = time.perf_counter()
        with lock:
            batches.append({"batch_id": batch_id, "files": ids,
                            "ok": error is None, "error": error,
                            "sink_s": t1 - t0, "start": t0,
                            "backlog_files": landed - len(committed)})
            for i in ids:
                committed[i] = t1
                if error is not None:
                    failed_files.add(i)
            lock.notify_all()

    def wait_committed(n: int, timeout: float) -> None:
        deadline = time.perf_counter() + timeout
        with lock:
            while len(committed) < n:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped: {query.exception()}")
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"{len(committed)}/{n} files committed")
                lock.wait(0.05)

    listener = None
    if py4j is not None:
        from near_indexer_for_explorer_spark.streaming.monitor import MetricsListener

        listener = MetricsListener()
        spark.streams.addListener(listener)

    t_build = time.perf_counter()
    calls0 = py4j.calls if py4j is not None else 0
    stream = normalize_events(
        read_event_stream(spark, src_dir, max_files_per_trigger=FILES_PER_TRIGGER)
    )
    build_s = time.perf_counter() - t_build
    build_calls = py4j.calls - calls0 if py4j is not None else 0
    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        wait_committed(backlog, 120)
        # from the first micro-batch reaching the sink: stream start-up
        # (query init, first file listing) is not catch-up throughput
        catchup_s = max(committed[i] for i in range(backlog)) - batches[0]["start"]
        gen = Generator(src_dir, files[backlog:], backlog,
                        time.perf_counter(), LIVE_FILES_PER_S)
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        wait_committed(len(files), 60)
    finally:
        query.stop()
    if listener is not None:
        deadline = time.perf_counter() + 10
        while len(listener.batches) < len(batches) and time.perf_counter() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(listener)

    freshness = [committed[i] - gen.due[i] for i in sorted(gen.due)]
    return {
        "files": files,
        "src_dir": src_dir,
        "catchup_files": backlog,
        "catchup_rows": sum(f.num_rows for f in files[:backlog]),
        "catchup_s": catchup_s,
        "freshness": freshness,
        "generator_late_s": gen.late_s,
        "batches": batches,
        "failed_files": failed_files,
        "build_s": build_s,
        "build_py4j_calls": build_calls,
        "listener": listener,
        "live_backlog_max": max(
            (b["backlog_files"] for b in batches if b["start"] >= gen.t0), default=0
        ),
    }


def _parse_pg(text: str) -> tuple[dict[int, tuple], set[int]]:
    """The table's rows by ``event_id``, and the ids that occur more
    than once (duplicates an idempotent sink must never leave)."""
    out, dups = {}, set()
    for row in csv.reader(io.StringIO(text)):
        if row == COLUMNS:
            continue
        eid, ts, uid, etype, value, props, day, k = row
        if int(eid) in out:
            dups.add(int(eid))
        out[int(eid)] = (
            int(eid), dt.datetime.fromisoformat(ts), int(uid), etype,
            float(value), props, dt.date.fromisoformat(day),
            int(k) if k != "" else None,
        )
    return out, dups


def check(spark, sock, result) -> set[int]:
    """Compare the table with the batch twin; return the files holding
    a row that is missing, extra, different or stored more than once."""
    from near_indexer_for_explorer_spark.sources.pg import pg_read_csv
    from near_indexer_for_explorer_spark.streaming.pipelines import (
        EVENT_SCHEMA,
        normalize_events,
    )

    twin_df = normalize_events(
        spark.read.schema(EVENT_SCHEMA).parquet(result["src_dir"])
    ).dropDuplicates(["event_id"])
    twin = {r["event_id"]: tuple(r[c] for c in COLUMNS) for r in twin_df.collect()}
    table, dups = _parse_pg(pg_read_csv(sock, f"SELECT {', '.join(COLUMNS)} FROM {TABLE}"))
    bad_ids = dups | {k for k in twin.keys() | table.keys() if twin.get(k) != table.get(k)}
    return {
        i for i, f in enumerate(result["files"])
        if bad_ids.intersection(f.column("event_id").to_pylist())
    }


def rows_inserted(sock: str) -> int:
    from near_indexer_for_explorer_spark.sources.pg import pg_read_csv

    text = pg_read_csv(
        sock, f"SELECT n_tup_ins FROM pg_stat_user_tables WHERE relname = '{TABLE}'"
    )
    lines = text.splitlines()[1:]
    return int(lines[0]) if lines else 0


def insert_duplicate(pg) -> None:
    """Self-test: store a second copy of one row in the table (a
    ``PgServer``), as a sink without the key and merge would after a
    redelivery."""
    pg.psql(f"ALTER TABLE {TABLE} DROP CONSTRAINT {TABLE}_pkey")
    pg.psql(f"INSERT INTO {TABLE} SELECT * FROM {TABLE} ORDER BY event_id LIMIT 1")
