"""The ``copy`` workload: the paper's pipeline end to end on a scratch
PostgreSQL, through ``Transport`` with the psql-backed CSV transports.

One pass copies a numeric-PK table (PK, composite UNIQUE and partial
index), a text-PK table, and fans out over eight small tables, each into
an existing destination table (the nightly-refresh case). It also times
the reference ``psql COPY | psql COPY`` pipe on both large tables; that
is harness time, reported only as the ``vs_ref_pipe`` denominator.
"""

from __future__ import annotations

import subprocess
import time
from dataclasses import dataclass

from pgserver import PgServer
from spans import TracedClient

# each large table: cut from 1M to fit the time budget, kept above the
# transport's small-table threshold (100k rows) so reads stay partitioned
ROWS = 150_000
N_SMALL = 8
SMALL_ROWS = 10_000

_COLUMNS = "name TEXT NOT NULL, bal NUMERIC(12,2), flag BOOLEAN, ts TIMESTAMP, note TEXT"
# Values come from random() after setseed(), in one session: the same
# seed gives the same rows. The note column carries NULLs, empty strings
# and CSV metacharacters so the check sees quoting mistakes.
_VALUES = """'n_' || md5(random()::text),
       round((random() * 10000)::numeric, 2),
       random() < 0.33,
       TIMESTAMP '2020-01-01' + (floor(random() * 1e8) || ' seconds')::interval,
       CASE WHEN random() < 0.05 THEN NULL
            WHEN random() < 0.05 THEN ''
            WHEN random() < 0.05 THEN 'quote " comma , done'
            ELSE 'note ' || floor(random() * 1e6) END"""


@dataclass
class Table:
    src: str
    dest: str
    rows: int


def _pg_seed(seed: int) -> float:
    """Map the workload seed into setseed()'s range [-1, 1]."""
    return ((seed * 2654435761) % 2_000_001) / 1_000_000.0 - 1.0


class CopyWorkload:
    name = "copy"
    nominal_pass_s = 5.0  # operations of one pass on 4 cores
    warm_passes = 2  # the first pass after the warm one still ran ~10% slow
    ref_ops = ("copy_num", "copy_txt")  # the operations the reference pipe repeats
    layers = (
        "transport",
        "pg.catalog",
        "pg.partition",
        "pg.copy_csv.reader",
        "pg.copy_csv.writer",
        "pg.psql_client.ddl",
        "pg.psql_client.export",
        "pg.psql_client.load",
        "pg.psql_client.hotswap",
        "pg.psql_client.index_replay",
        "pg.psql_client.other",
    )

    def __init__(self, run_dir: str, seed: int):
        from pgcp_spark.config import DbConfig
        from pgcp_spark.pg.psql_client import PsqlCliClient

        self.seed = seed
        self.pg = PgServer(run_dir, port=54000 + seed % 1000)
        self.cfg = DbConfig(
            host=self.pg.host, dbname="postgres", user="postgres", port=self.pg.port
        )
        self.sql = PsqlCliClient(self.cfg)  # the harness's own client
        self.big = [Table("src.num", "dst.num", ROWS), Table("src.txt", "dst.txt", ROWS)]
        self.small = [Table(f"src.small_{i}", f"dst.small_{i}", SMALL_ROWS) for i in range(N_SMALL)]
        self.expected: dict[str, tuple] = {}
        self.transport = None

    # ---------------- set-up outside setup_s ----------------

    def prepare(self) -> None:
        """Boot PostgreSQL and generate the source tables from the seed."""
        self.pg.start()
        n = ROWS
        script = [
            f"SELECT setseed({_pg_seed(self.seed)})",
            "CREATE SCHEMA src",
            "CREATE SCHEMA dst",
            "CREATE SCHEMA ref",
            f"CREATE TABLE src.num (id BIGINT PRIMARY KEY, {_COLUMNS})",
            f"INSERT INTO src.num SELECT i, {_VALUES} FROM generate_series(1, {n}) g(i)",
            "CREATE UNIQUE INDEX num_name_id ON src.num (name, id)",
            "CREATE INDEX num_rich ON src.num (bal) WHERE bal > 5000",
            f"CREATE TABLE src.txt (id TEXT PRIMARY KEY, {_COLUMNS})",
            f"INSERT INTO src.txt SELECT md5(random()::text) || '-' || i, {_VALUES}"
            f" FROM generate_series(1, {n}) g(i)",
        ]
        for t in self.small:
            script += [
                f"CREATE TABLE {t.src} (id INTEGER PRIMARY KEY, kind TEXT, v DOUBLE PRECISION)",
                f"INSERT INTO {t.src} SELECT i, 'kind_' || floor(random() * 50),"
                f" round((random() * 1e6)::numeric, 3) FROM generate_series(1, {t.rows}) g(i)",
            ]
        for t in self.big + self.small:
            # destinations exist before the first pass: every copy refreshes
            script.append(f"CREATE TABLE {t.dest} (LIKE {t.src})")
        for t in self.big:
            script.append(f"CREATE TABLE ref.{t.src.split('.')[1]} (LIKE {t.src})")
        script.append("ANALYZE")
        self.sql.execute(";\n".join(script))
        sources = [t.src for t in self.big + self.small]
        self.expected = {
            src: (total, self._index_defs([src])[src])
            for src, total in self._checksums(sources).items()
        }

    # ---------------- set-up inside setup_s ----------------

    def start(self, spark, tracer) -> None:
        from pgcp_spark.pg.copy_csv import make_copy_reader, make_copy_writer
        from pgcp_spark.pg.psql_client import PsqlCliClient
        from pgcp_spark.transport import Transport

        client = PsqlCliClient(self.cfg)
        if tracer.enabled:
            client = TracedClient(tracer, client)
        reader = make_copy_reader(spark, client)
        writer = make_copy_writer(client)
        if tracer.enabled:
            reader = tracer.wrap(reader, "pg.copy_csv.reader")
            writer = tracer.wrap(writer, "pg.copy_csv.writer")
        self.transport = Transport(
            spark, self.cfg, self.cfg, src_client=client, dest_client=client,
            reader=reader, writer=writer,
        )

    # ---------------- one pass ----------------

    def ops(self, rng):
        """(name, run, check) per operation, in pass order (fixed)."""
        from pgcp_spark.transport import CopyOptions

        tr = self.transport
        num, txt = self.big
        return [
            ("copy_num", lambda: tr.copy_table(num.src, num.dest), lambda _: self._check([num])),
            ("copy_txt", lambda: tr.copy_table(txt.src, txt.dest), lambda _: self._check([txt])),
            (
                "copy_small_glob",
                lambda: tr.copy_tables("src.small_*", CopyOptions(force_schema="dst")),
                lambda copied: self._check(self.small, copied),
            ),
        ]

    def reference_s(self) -> float:
        """The reference pipe on both large tables (harness time)."""
        base = " ".join(self.sql.base_args())
        total = 0.0
        for t in self.big:
            ref = f"ref.{t.src.split('.')[1]}"
            self.sql.execute(f"TRUNCATE {ref}")
            t0 = time.perf_counter()
            subprocess.run(
                f"{base} -c 'COPY {t.src} TO STDOUT' | {base} -c 'COPY {ref} FROM STDIN'",
                shell=True, check=True, env={"PATH": "/usr/bin:/usr/local/bin:/bin"},
            )
            total += time.perf_counter() - t0
            if self.sql.fetch(f"SELECT count(*) FROM {ref}")[0][0] != t.rows:
                raise RuntimeError(f"reference pipe lost rows of {t.src}")
        return total

    # ---------------- checks (outside the timed region) ----------------

    def _check(self, tables: list[Table], copied=None) -> tuple[bool, int]:
        ok = copied is None or sorted(copied) == sorted(t.src.split(".")[1] for t in tables)
        dests = [t.dest for t in tables]
        totals, indexes = self._checksums(dests), self._index_defs(dests)
        for t in tables:
            ok &= (totals[t.dest], indexes[t.dest]) == self.expected[t.src]
        staged = self.sql.fetch(
            "SELECT count(*) FROM pg_tables WHERE schemaname = 'dst' AND tablename LIKE 'temp\\_%'"
        )[0][0]
        return ok and staged == 0, sum(t.rows for t in tables)

    def _checksums(self, names: list[str]) -> dict[str, tuple]:
        """Row count and an order-insensitive content checksum per table,
        computed by PostgreSQL in one statement."""
        rows = self.sql.fetch(" UNION ALL ".join(
            f"SELECT '{n}', count(*), coalesce(sum(hashtext(t::text)::bigint), 0) FROM {n} t"
            for n in names
        ))
        return {name: (count, total) for name, count, total in rows}

    def _index_defs(self, names: list[str]) -> dict[str, set[str]]:
        """Index definitions per table; destinations keep the source table
        names, so index names carry no rename prefix and only the schema
        is normalised away."""
        out: dict[str, set[str]] = {n: set() for n in names}
        wanted = ", ".join(f"'{n}'" for n in names)
        rows = self.sql.fetch(
            "SELECT schemaname || '.' || tablename, schemaname, indexdef FROM pg_indexes"
            f" WHERE schemaname || '.' || tablename IN ({wanted})"
        )
        for name, schema, indexdef in rows:
            out[name].add(indexdef.replace(f" ON {schema}.", " ON _."))
        return out

    def environment(self) -> dict:
        version = self.sql.fetch("SHOW server_version")[0][0]
        return {
            "rows": {"num": ROWS, "txt": ROWS, "small": f"{N_SMALL}x{SMALL_ROWS}"},
            "postgres": version,
            "fsync": self.sql.fetch("SHOW fsync")[0][0],
        }

    def close(self) -> None:
        self.pg.stop()
