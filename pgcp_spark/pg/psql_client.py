"""PgClient over the ``psql`` CLI — the zero-dependency driver-side client.

The reference opens a fresh libpq connection per catalog call
(postgres.rb:288-298 ``with_connection``) and shells out to psql for the
data move (transport.rb:66-110). ``JvmJdbcClient`` (client.py) is the
first-choice client here, but it needs the PostgreSQL JDBC driver jar on
Spark's classpath; this client needs only the ``psql`` binary, so catalog
introspection, DDL, and the COPY transfer path (copy_csv.py) can run
end-to-end with no extra jars or Python drivers.

Sessions: statements run on a thread-safe pool of long-lived ``psql``
processes, one connection each, fed through stdin. A call borrows an idle
session (or starts one), writes its script followed by ``\\echo <token>``
(a random token per session) and reads stdout up to the token. A fork,
exec, libpq connect and backend fork cost ~35-40 ms on a 4-vCPU Linux box;
the same catalog statement on an open session costs well under 2 ms, so
each session pays that start-up once instead of once per statement. The pool grows to the
peak number of concurrent calls and then reuses its sessions. ``close()``
— also on leaving a ``with`` block, on garbage collection, and at
interpreter exit — ends the idle ones; call it when no call is in flight.
Client-side ``\\copy`` is a psql meta-command, so the CSV exports and loads
of copy_csv.py run on these same sessions.

What sharing a session across calls changes for callers:
  - FAILURES: ``ON_ERROR_STOP`` makes psql exit on the first error. The
    call sees EOF before its token and raises ``RuntimeError`` with psql's
    stderr; the dead session is dropped and the call is NOT retried (DDL
    is not idempotent). The next call starts a fresh session. A daemon
    thread per session drains stderr, so notices never block the pipe.
  - TRANSACTIONS: ``execute`` autocommits each statement, so a string of
    several ``;``-separated statements commits them one by one (``psql
    -c`` used to run such a string as one implicit transaction). Callers
    that need atomicity use ``execute_transaction``: on failure its psql
    exits before COMMIT and the server rolls back. Every call ends the
    transactions it starts, so an idle session holds no transaction or
    lock — never send a bare ``BEGIN`` through ``execute``.
  - SETTINGS: ``SET …`` persists on the session that ran it and so leaks
    into whichever later call borrows that session; scope settings with
    ``SET LOCAL`` inside ``execute_transaction``.
  - LEXING: scripts pass through psql's lexer, as stdin input does: an
    unquoted ``:name`` of a defined psql variable is interpolated, and a
    backslash outside a literal starts a meta-command (``\\copy`` relies
    on this).

Intended for CATALOG/DDL/metadata statements (the only place transport uses
``fetch``); bulk rows move via COPY, never through ``fetch``. Because psql
output is untyped text, ``fetch`` applies coercion rules (int/float/bool/
NULL below) that are exact for counts, flags and MIN/MAX bounds, but would
mis-type a TEXT value that happens to equal ``t``/``f`` or look numeric —
don't use it as a general row reader. Catalog names are such values (a
column may be named ``t``), so catalog.py fetches them as JSON rendered
by the server.
"""

from __future__ import annotations

import collections
import re
import secrets
import subprocess
import threading
import weakref

from pgcp_spark.config import DbConfig

# psql prints NULL as this marker (set via \pset null) so NULL, empty
# string, and the literal letters stay distinguishable in -A output
NULL_MARKER = "\\N[NULL]"
_FIELD_SEP = "\x1f"  # ASCII unit separator: never appears in identifiers
_INT_RE = re.compile(r"^-?\d+$")
_FLOAT_RE = re.compile(r"^-?\d+\.\d+([eE][+-]?\d+)?$")
_STDERR_TAIL_LINES = 200  # what a failure reports of psql's stderr
_CLOSE_TIMEOUT_S = 5.0


def _coerce(value: str):
    if value == NULL_MARKER:
        return None
    if value == "t":
        return True
    if value == "f":
        return False
    if _INT_RE.match(value):
        return int(value)
    if _FLOAT_RE.match(value):
        return float(value)
    return value


class _Session:
    """One ``psql`` process holding one connection, fed scripts on stdin."""

    def __init__(self, args: list[str], env: dict[str, str]):
        self._token_line = f"pgcp-{secrets.token_hex(16)}\n"
        self.proc = subprocess.Popen(
            args,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            env=env,
        )
        self._stderr: collections.deque[str] = collections.deque(maxlen=_STDERR_TAIL_LINES)
        self._drain = threading.Thread(
            target=self._stderr.extend, args=(self.proc.stderr,), daemon=True
        )
        self._drain.start()

    def run(self, script: str) -> str:
        """Run ``script``; return what it printed to stdout."""
        try:
            self.proc.stdin.write(f"{script}\n\\echo {self._token_line}")
            self.proc.stdin.flush()
        except BrokenPipeError:
            pass  # psql already exited; the EOF below reports why
        lines = []
        while (line := self.proc.stdout.readline()) != self._token_line:
            if not line:  # EOF: ON_ERROR_STOP ended psql
                returncode = self.proc.wait()
                self._drain.join()
                raise RuntimeError(f"psql failed ({returncode}): {''.join(self._stderr).strip()}")
            lines.append(line)
        return "".join(lines)

    def close(self, kill: bool = False) -> None:
        """End psql: EOF on stdin makes it quit; ``kill`` for a session
        left mid-call."""
        if kill:
            self.proc.kill()
        try:
            self.proc.stdin.close()
        except OSError:
            pass  # the pipe is already broken
        try:
            self.proc.wait(timeout=_CLOSE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self._drain.join(timeout=_CLOSE_TIMEOUT_S)
        if not self._drain.is_alive():
            self.proc.stderr.close()


def _close_idle(idle: list[_Session], lock: threading.Lock) -> None:
    with lock:
        sessions = idle[:]
        idle.clear()
    for s in sessions:
        s.close()


class PsqlCliClient:
    """PgClient implementation backed by a pool of long-lived ``psql``
    sessions (see the module docstring for what the sharing implies)."""

    def __init__(self, cfg: DbConfig):
        self.cfg = cfg
        self._idle: list[_Session] = []
        self._lock = threading.Lock()
        # the finalizer must not hold self, only the pool it empties
        weakref.finalize(self, _close_idle, self._idle, self._lock)

    # ---------------- PgClient protocol ----------------

    def fetch(self, sql: str) -> list[tuple]:
        out = self._run(f"{sql}\n;")
        rows = []
        for line in out.splitlines():
            rows.append(tuple(_coerce(v) for v in line.split(_FIELD_SEP)))
        return rows

    def execute(self, sql: str) -> None:
        # the trailing ';' ends a statement that lacks one (a lone ';' is
        # an empty query); output goes nowhere, so it never fills the pipe
        self._run(f"\\o /dev/null\n{sql}\n;\n\\o")

    def execute_transaction(self, statements: list[str]) -> None:
        # explicit BEGIN/COMMIT under ON_ERROR_STOP: on any failure psql
        # exits before COMMIT and the server rolls back — the same
        # atomicity JvmJdbcClient gets from setAutoCommit(False)
        body = "BEGIN;\n" + ";\n".join(statements) + ";\nCOMMIT;"
        self._run(f"\\o /dev/null\n{body}\n\\o")

    # ---------------- lifecycle ----------------

    def close(self) -> None:
        """End every idle session. The client stays usable: a later call
        starts a new one."""
        _close_idle(self._idle, self._lock)

    def __enter__(self) -> PsqlCliClient:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ---------------- internals ----------------

    def base_args(self) -> list[str]:
        cfg = self.cfg
        return [
            "psql",
            "-X",  # ignore ~/.psqlrc
            "-q",
            "-v",
            "ON_ERROR_STOP=1",
            "-h",
            cfg.host,
            "-p",
            str(cfg.port),
            "-U",
            cfg.user,
            "-d",
            cfg.dbname,
        ]

    def _run(self, script: str) -> str:
        with self._lock:
            session = self._idle.pop() if self._idle else None
        if session is None:
            session = _Session(
                self.base_args() + ["-A", "-t", "-F", _FIELD_SEP, "-P", f"null={NULL_MARKER}"],
                {"PGPASSWORD": self.cfg.password, "PATH": "/usr/bin:/usr/local/bin:/bin"},
            )
        try:
            out = session.run(script)
        except BaseException:
            session.close(kill=True)  # dead, or stopped mid-call: never reuse
            raise
        with self._lock:
            self._idle.append(session)
        return out
