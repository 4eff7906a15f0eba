"""A throwaway PostgreSQL cluster inside the run directory.

Same recipe as tests/test_pg_live.py (initdb + pg_ctl, no TCP listener),
with two differences: the socket lives in the abstract namespace, so no
socket path length limit applies to the run directory, and, when the
benchmark runs as root, the server runs in a user namespace that maps
root to an unprivileged id (PostgreSQL refuses to run as root, and the
run directory may not be readable by any other user).
"""

from __future__ import annotations

import os
import shutil
import subprocess

FSYNC = "off"  # fixed: the benchmark measures the pipeline, not the disk
_PG_ENV = {"PATH": "/usr/local/bin:/usr/bin:/bin", "LC_ALL": "C"}


def have_postgres() -> bool:
    return all(shutil.which(b) for b in ("initdb", "pg_ctl", "psql"))


def _as_server_user(args: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return args
    return ["unshare", "--user", "--map-user=1000", "--map-group=1000", *args]


class PgServer:
    """Boot with :meth:`start`, always :meth:`stop` (waits for shutdown)."""

    def __init__(self, root: str, port: int):
        self.data = os.path.join(root, "pgdata")
        self.log = os.path.join(root, "pg.log")
        self.port = port
        self.host = f"@pgcp_perfbench_{os.getpid()}"
        self._started = False

    def _run(self, args: list[str]) -> None:
        proc = subprocess.run(
            _as_server_user(args), capture_output=True, text=True, env=_PG_ENV
        )
        if proc.returncode != 0:
            raise RuntimeError(f"{args[0]} failed: {proc.stderr.strip()[-500:]}")

    def start(self) -> None:
        self._run(
            ["initdb", "-D", self.data, "-A", "trust", "-U", "postgres", "-E", "UTF8", "--locale=C"]
        )
        opts = (
            f"-p {self.port} -k {self.host} -c listen_addresses=''"
            f" -c fsync={FSYNC} -c max_connections=200"
        )
        self._run(["pg_ctl", "-D", self.data, "-l", self.log, "-o", opts, "-w", "start"])
        self._started = True

    def stop(self) -> None:
        if self._started:
            self._run(["pg_ctl", "-D", self.data, "-m", "fast", "-w", "stop"])
            self._started = False
