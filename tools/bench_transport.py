"""Measure copy throughput: the reference's single COPY pipe vs this
repo's parallel transports, on a live scratch PostgreSQL.

The reference (holistics/pgcp, transport.rb:66-110) moves every row
through ONE ``psql COPY TO STDOUT | psql COPY FROM STDIN`` pipe. The goal
statement asks for matches-or-beats single-node throughput; this script
produces the number. Usage:

    python tools/bench_transport.py [n_rows]

Boots a throwaway cluster (same recipe as tests/test_pg_live.py), loads an
n_rows source table, then times:
  pipe-ref : psql COPY | psql COPY            (the reference mechanism)
  spark-csv: make_copy_reader/make_copy_writer (parallel COPY via CSV)
  spark-pipe: make_pipe_reader/make_pipe_writer (executor COPY streams)
Each spark variant is a full Transport.copy_table (catalog + DDL + staged
write + hotswap + index replay included — the pipe-ref row is JUST the
data move, so the comparison favors the reference).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgcp_spark.config import DbConfig
from pgcp_spark.pg.copy_csv import (
    make_copy_reader,
    make_copy_writer,
    make_pipe_reader,
    make_pipe_writer,
)
from pgcp_spark.pg.psql_client import PsqlCliClient
from pgcp_spark.transport import CopyOptions, Transport

PORT = 54337


def as_pg(cmd: str) -> list[str]:
    return ["su", "postgres", "-c", cmd] if os.geteuid() == 0 else ["/bin/sh", "-c", cmd]


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    root = tempfile.mkdtemp(prefix="pgcp_tbench_")
    data = os.path.join(root, "data")
    if os.geteuid() == 0:
        subprocess.run(["chown", "postgres", root], check=True)
    subprocess.run(as_pg(f"initdb -D {data} -A trust -U postgres"), capture_output=True, check=True)
    subprocess.run(
        as_pg(
            f"pg_ctl -D {data} -l {root}/log -o \"-p {PORT} -k {root}"
            f" -c listen_addresses='' -c fsync=off\" start"
        ),
        capture_output=True,
        check=True,
    )
    cfg = DbConfig(host=root, dbname="postgres", user="postgres", port=PORT)
    client = PsqlCliClient(cfg)
    try:
        client.execute("CREATE SCHEMA src")
        client.execute(
            "CREATE TABLE src.big (id BIGINT PRIMARY KEY, name TEXT, bal NUMERIC(12,2),"
            " flag BOOLEAN, ts TIMESTAMP)"
        )
        client.execute(
            f"""INSERT INTO src.big
SELECT i, 'name_' || i, (i * 37 % 1000000) / 100.0, i % 3 = 0,
       TIMESTAMP '2024-01-01' + (i || ' seconds')::interval
FROM generate_series(1, {n_rows}) g(i)"""
        )

        results = {}

        # reference mechanism: one COPY pipe, data move only
        client.execute("CREATE TABLE src.dst_ref (LIKE src.big INCLUDING ALL)")
        base = " ".join(client.base_args())
        t0 = time.perf_counter()
        subprocess.run(
            f"{base} -c 'COPY src.big TO STDOUT' | {base} -c 'COPY src.dst_ref FROM STDIN'",
            shell=True,
            check=True,
            env={"PATH": "/usr/bin:/usr/local/bin:/bin"},
        )
        results["pipe-ref"] = time.perf_counter() - t0
        assert client.fetch("SELECT COUNT(*) FROM src.dst_ref")[0][0] == n_rows

        from pgcp_spark.session import get_spark

        spark = get_spark("transport_bench")
        variants = {
            "spark-csv": (make_copy_reader(spark, client), make_copy_writer(client)),
            "spark-pipe": (make_pipe_reader(spark, client, cfg), make_pipe_writer(cfg)),
        }
        for name, (reader, writer) in variants.items():
            tr = Transport(
                spark, cfg, cfg, src_client=client, dest_client=client,
                reader=reader, writer=writer,
            )
            dest = f"dst_{name.replace('-', '_')}"
            t0 = time.perf_counter()
            tr.copy_table("src.big", f"src.{dest}", options=CopyOptions())
            results[name] = time.perf_counter() - t0
            assert client.fetch(f"SELECT COUNT(*) FROM src.{dest}")[0][0] == n_rows

        # --- round 13: the non-numeric-PK A/B ---------------------------
        # Before the sampled-percentile predicate split, a TEXT/uuid PK
        # degraded every transport to ONE stream (the reference's
        # single-pipe bottleneck reproduced). Same table, same writer:
        # num_partitions=1 replays the old behavior; the default path
        # splits on percentile_disc boundaries over a TABLESAMPLE page
        # sample. The delta is the gap the split closed.
        client.execute(
            "CREATE TABLE src.big_text (id TEXT PRIMARY KEY, name TEXT,"
            " bal NUMERIC(12,2), flag BOOLEAN, ts TIMESTAMP)"
        )
        client.execute(
            f"""INSERT INTO src.big_text
SELECT md5(i::text) || '-' || i, 'name_' || i, (i * 37 % 1000000) / 100.0,
       i % 3 = 0, TIMESTAMP '2024-01-01' + (i || ' seconds')::interval
FROM generate_series(1, {n_rows}) g(i)"""
        )
        for name, (reader, writer) in variants.items():
            tr = Transport(
                spark, cfg, cfg, src_client=client, dest_client=client,
                reader=reader, writer=writer,
            )
            for label, opts in (
                (f"text-pk-{name}-1stream", CopyOptions(num_partitions=1)),
                (f"text-pk-{name}-split", CopyOptions()),
            ):
                dest = label.replace("-", "_")
                t0 = time.perf_counter()
                tr.copy_table("src.big_text", f"src.{dest}", options=opts)
                results[label] = time.perf_counter() - t0
                assert (
                    client.fetch(f"SELECT COUNT(*) FROM src.{dest}")[0][0]
                    == n_rows
                )

        print(f"rows={n_rows}")
        for name, sec in results.items():
            print(f"{name}: {sec:.2f}s  ({n_rows / sec / 1e6:.2f}M rows/s)")
    finally:
        client.close()
        subprocess.run(as_pg(f"pg_ctl -D {data} -m immediate stop"), capture_output=True)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
