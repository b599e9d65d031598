"""A throwaway PostgreSQL server for one benchmark process.

The server keeps its data directory inside the benchmark's work
directory and listens only on an abstract unix socket (``@name``), so
it needs no TCP port and no socket path that other users must be able
to reach.  PostgreSQL refuses to run as root; as root the server runs
as the ``nobody`` uid inside a user namespace.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

from near_indexer_for_explorer_spark.sources.pg import PG_PORT

NOBODY_UID = 65534


def _as_server_user(cmd: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return cmd
    return ["unshare", "--user", f"--map-user={NOBODY_UID}", *cmd]


class PgServer:
    """``with PgServer(dir) as pg:`` boots a fresh server; ``pg.sock``
    is the socket "directory" the ``sources.pg`` functions take."""

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.sock = f"@perfbench-{os.getpid()}"
        self.proc: subprocess.Popen | None = None

    def __enter__(self) -> "PgServer":
        subprocess.run(
            _as_server_user(["initdb", "-D", self.data_dir, "-A", "trust", "-U", "pguser"]),
            check=True, capture_output=True,
        )
        log = open(os.path.join(self.data_dir, "server.log"), "w")
        try:
            self.proc = subprocess.Popen(
                _as_server_user([
                    "postgres", "-D", self.data_dir, "-k", self.sock,
                    "-p", str(PG_PORT), "-c", "listen_addresses=",
                ]),
                stdout=log, stderr=subprocess.STDOUT,
            )
        finally:
            log.close()
        try:
            self._wait_ready()
        except BaseException:
            self.stop()
            raise
        return self

    def _wait_ready(self, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        while True:
            probe = subprocess.run(self._psql_cmd("SELECT 1"),
                                   capture_output=True, text=True)
            if probe.returncode == 0:
                return
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"postgres did not start: {probe.stderr.strip()}")
            time.sleep(0.05)

    def _psql_cmd(self, sql: str) -> list[str]:
        return ["psql", "-h", self.sock, "-p", str(PG_PORT), "-U", "pguser",
                "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-qAt", "-c", sql]

    def psql(self, sql: str) -> str:
        """Run one statement on the server; raise if it fails."""
        proc = subprocess.run(self._psql_cmd(sql), capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"psql failed: {proc.stderr.strip()}")
        return proc.stdout

    def stop(self) -> None:
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.send_signal(signal.SIGINT)  # fast shutdown
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()

    def __exit__(self, *exc) -> None:
        self.stop()
