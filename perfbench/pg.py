"""A throwaway local PostgreSQL server for the ``pg_upsert_copy`` workload.

The server is booted with ``initdb`` and ``postgres`` the way
``tests/test_pg_live.py`` boots it (trust auth, ``fsync=off``,
``synchronous_commit=off``, ``full_page_writes=off``), listening on
127.0.0.1 only, with no Unix socket, and with ``pg_stat_statements``
preloaded. PostgreSQL refuses to run as root; when the benchmark runs as
root, the server runs in a user namespace where root is mapped to the
``postgres`` user, so the data directory can live inside the benchmark's
own working directory whatever its parents' permissions are.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import socket
import subprocess
import time
from functools import partial

from simple_anonymizer_spark.sources import pgwire

FLUSH_POLICY = ("-c", "fsync=off", "-c", "synchronous_commit=off",
                "-c", "full_page_writes=off")


def _bin(name: str) -> str:
    for d in sorted(glob.glob("/usr/lib/postgresql/*/bin"), reverse=True):
        candidate = os.path.join(d, name)
        if os.path.exists(candidate):
            return candidate
    found = shutil.which(name)
    if not found:
        raise RuntimeError(f"PostgreSQL binary {name!r} not found")
    return found


def _as_server_user(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    return ["unshare", "--user", "--map-user=postgres", "--map-group=postgres", *argv]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    def __init__(self, base_dir: str):
        self.base = base_dir
        self.data = os.path.join(base_dir, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None

    def start(self) -> "PgServer":
        os.makedirs(self.base, exist_ok=True)
        subprocess.run(
            _as_server_user([_bin("initdb"), "-D", self.data, "-A", "trust",
                             "--no-sync", "-U", "postgres"]),
            check=True, capture_output=True, timeout=120)
        log = open(os.path.join(self.base, "server.log"), "w")
        self.proc = subprocess.Popen(
            _as_server_user([
                _bin("postgres"), "-D", self.data, "-p", str(self.port),
                "-c", "listen_addresses=127.0.0.1",
                "-c", "unix_socket_directories=",
                *FLUSH_POLICY,
                "-c", "shared_preload_libraries=pg_stat_statements",
                "-c", "pg_stat_statements.track=all",
            ]),
            stdout=log, stderr=subprocess.STDOUT)
        log.close()
        deadline = time.monotonic() + 60
        while True:
            try:
                self.connect().close()
                break
            except (OSError, pgwire.Error):
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    self.stop()
                    raise RuntimeError("PostgreSQL did not start")
                time.sleep(0.1)
        self.admin("CREATE EXTENSION IF NOT EXISTS pg_stat_statements")
        return self

    @property
    def pid(self) -> int:
        return self.proc.pid

    def connect_factory(self):
        return partial(pgwire.connect, host="127.0.0.1", port=self.port,
                       user="postgres", database="postgres")

    def connect(self) -> pgwire.Connection:
        return self.connect_factory()()

    def admin(self, *statements: str) -> None:
        conn = self.connect()
        conn.autocommit = True
        try:
            cur = conn.cursor()
            for sql in statements:
                cur.execute(sql)
        finally:
            conn.close()

    def query(self, sql: str) -> list[tuple]:
        conn = self.connect()
        conn.autocommit = True
        try:
            cur = conn.cursor()
            cur.execute(sql)
            return cur.fetchall()
        finally:
            conn.close()

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
