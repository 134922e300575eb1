"""A throwaway PostgreSQL server owned by the benchmark.

The server's data directory lives under the benchmark's work directory,
and the server listens on TCP only (no Unix socket, dynamic shared
memory in files under the data directory), so nothing is written
outside the checkout.

PostgreSQL refuses to run as root. When the benchmark runs as root,
``initdb`` and ``postgres`` run inside a user namespace that maps the
caller to the ``postgres`` (or ``nobody``) uid: inside, the server is
an ordinary user; outside, its files stay owned by the caller, so a
data directory under a mode-700 home is still reachable.
"""

from __future__ import annotations

import os
import pwd
import shutil
import signal
import socket
import subprocess
import time

# Fixed and recorded: both sides of any comparison run these. Flush
# policy: fsync and synchronous commit off, so run-to-run timing does
# not depend on the host disk's writeback; checkpoints only happen
# when the benchmark asks for one (before each timed pass).
SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "wal_level": "minimal",
    "max_wal_senders": "0",
    "shared_buffers": "128MB",
    "maintenance_work_mem": "128MB",
    "work_mem": "16MB",
    "max_wal_size": "4GB",
    "checkpoint_timeout": "1h",
    "autovacuum": "off",
    "max_connections": "100",
    "dynamic_shared_memory_type": "mmap",
    "unix_socket_directories": "",
    "listen_addresses": "127.0.0.1",
    "jit": "off",
}


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_server_user(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    for name in ("postgres", "nobody"):
        try:
            pw = pwd.getpwnam(name)
        except KeyError:
            continue
        return [
            "unshare", "--user",
            f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}",
            *argv,
        ]
    raise RuntimeError("running as root and no postgres/nobody user to map to")


class PGServer:
    """initdb + postgres in ``base``; ``stop()`` ends the server and
    removes ``base``. Use as a context manager so both happen even when
    the benchmark fails."""

    def __init__(self, base: str):
        self.base = os.path.abspath(base)
        self.data = os.path.join(self.base, "data")
        self.proc: subprocess.Popen | None = None
        self.port = 0
        self.dsn = ""

    def start(self) -> "PGServer":
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        log = os.path.join(self.base, "initdb.log")
        with open(log, "w") as fh:
            rc = subprocess.run(
                _as_server_user(
                    ["initdb", "-D", self.data, "-A", "trust", "-U", "postgres",
                     "--no-sync", "-E", "UTF8", "--locale=C"]
                ),
                stdout=fh, stderr=subprocess.STDOUT, cwd=self.base,
            ).returncode
        if rc != 0:
            raise RuntimeError(f"initdb failed: {_tail(log)}")
        self.port = _free_port()
        opts = [f"-c{k}={v}" for k, v in SETTINGS.items()]
        self.log = os.path.join(self.base, "server.log")
        with open(self.log, "w") as fh:
            self.proc = subprocess.Popen(
                _as_server_user(
                    ["postgres", "-D", self.data, "-p", str(self.port), *opts]
                ),
                stdout=fh, stderr=subprocess.STDOUT, cwd=self.base,
            )
        self.dsn = f"postgresql://postgres@127.0.0.1:{self.port}/postgres"
        from pgloader_spark.sources.pgwire import PGConn, PGError

        deadline = time.monotonic() + 30
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"postgres exited: {_tail(self.log)}")
            try:
                PGConn(self.dsn).close()
                return self
            except (OSError, PGError):  # not listening yet, or still starting
                if time.monotonic() > deadline:
                    raise RuntimeError(f"postgres never accepted: {_tail(self.log)}")
                time.sleep(0.05)

    def query(self, sql: str):
        from pgloader_spark.sources.pgwire import PGConn

        with PGConn(self.dsn) as conn:
            return conn.query(sql)

    def checkpoint(self) -> None:
        self.query("CHECKPOINT")

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            # SIGINT = fast shutdown: backends end, no final checkpoint
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
        shutil.rmtree(self.base, ignore_errors=True)

    def __enter__(self) -> "PGServer":
        try:
            return self.start()
        except BaseException:
            self.stop()
            raise

    def __exit__(self, *exc) -> None:
        self.stop()


def _tail(path: str, n: int = 600) -> str:
    try:
        with open(path) as fh:
            return fh.read()[-n:]
    except OSError:
        return "(no log)"
