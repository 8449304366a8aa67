"""A scratch PostgreSQL 15 server for one benchmark run.

The cluster lives in a private directory of the run. The server listens
on a unix socket in that directory only (no TCP), so no fixed port is
shared with anything else on the host; when the directory's path is too
long for a socket name, it listens on 127.0.0.1 at a port the kernel
picks. PostgreSQL refuses to run as root, so a root caller starts it as
the ``postgres`` user, keeping only the right to traverse directories
(``CAP_DAC_READ_SEARCH``) so the server can reach a run directory under
a private home. ``stop`` is idempotent; callers run it on every exit path.
"""

from __future__ import annotations

import glob
import os
import shutil
import socket
import subprocess
import time

_SOCKET_PATH_MAX = 100  # sun_path is 108 bytes; leave room for ".s.PGSQL.<port>"


def pg_bin() -> str | None:
    for d in sorted(glob.glob("/usr/lib/postgresql/*/bin"), reverse=True):
        if os.path.exists(os.path.join(d, "postgres")):
            return d
    exe = shutil.which("postgres")
    return os.path.dirname(exe) if exe else None


def _free_port() -> int:
    with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class ScratchPostgres:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.data = os.path.join(self.root, "data")
        self.proc: subprocess.Popen | None = None
        self.dsn: str | None = None
        self._bin = pg_bin()
        if self._bin is None:
            raise RuntimeError("no PostgreSQL server binaries found")

    def _as_server_user(self) -> list[str]:
        if os.geteuid() != 0:
            return []
        return [
            "setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
            "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search",
        ]

    def start(self, timeout_s: float = 30.0) -> str:
        os.makedirs(self.root, exist_ok=True)
        if os.geteuid() == 0:
            shutil.chown(self.root, "postgres", "postgres")
        os.chmod(self.root, 0o700)
        subprocess.run(
            self._as_server_user() + [
                os.path.join(self._bin, "initdb"), "-D", self.data, "-A", "trust",
                "-U", "postgres", "-E", "UTF8", "--locale=C", "--no-sync",
            ],
            check=True, capture_output=True,
        )
        if len(self.root) + 20 <= _SOCKET_PATH_MAX:
            port, host = 5432, self.root
            listen = ["-c", "listen_addresses=", "-k", self.root]
        else:
            port, host = _free_port(), "127.0.0.1"
            listen = ["-c", "listen_addresses=127.0.0.1", "-k", ""]
        with open(os.path.join(self.root, "server.log"), "wb") as server_log:
            self.proc = subprocess.Popen(
                self._as_server_user() + [
                    os.path.join(self._bin, "postgres"), "-D", self.data, "-p", str(port),
                    *listen, "-c", "fsync=off", "-c", "synchronous_commit=off",
                    "-c", "full_page_writes=off",
                ],
                stdout=subprocess.DEVNULL,
                stderr=server_log,
                start_new_session=True,
            )
        self.dsn = f"postgresql://postgres@/postgres?host={host}&port={port}"
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"postgres exited with {self.proc.returncode}")
            ok = subprocess.run(
                ["psql", self.dsn, "-X", "-q", "-A", "-t", "-c", "SELECT 1"],
                capture_output=True,
            )
            if ok.returncode == 0:
                return self.dsn
            time.sleep(0.05)
        raise RuntimeError("postgres did not accept connections in time")

    def stop(self) -> None:
        proc, self.proc = self.proc, None
        if proc is not None and proc.poll() is None:
            proc.send_signal(2)  # SIGINT: fast shutdown
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.root, ignore_errors=True)
