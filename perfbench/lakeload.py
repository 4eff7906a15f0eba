"""The ``lake_ivm`` workload: registered lake and incremental-view queries,
each executed through a ``noop`` write, on tables generated from the seed.

The four queries are the write-heavy maintenance mix: merge-on-read CDC,
the cross-table group commit with a join-view fold, the streaming cascade
through group commits, and the BM25 index fold published with its corpus.
Every result is checked against the registry's DuckDB oracle; the oracle
hashes are computed once, before the timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import datetime, timedelta

QUERIES = (
    "lake_cdc_merge_on_read_orders",
    "lake_atomic_group_commit_orders",
    "streaming_cascade_group_commit",
    "text_bm25_group_commit_with_corpus",
)

SF = 0.01  # rows per table scale like the TPC-H-ish test data at this sf
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = (
    "spark window merge table column vector stream value data small join filter big"
    " group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def generate(data_dir: str, seed: int) -> dict[str, int]:
    """Write orders, customer and documents parquet files; return row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_docs = int(150_000 * SF), int(1_500_000 * SF), int(50_000 * SF)
    os.makedirs(data_dir, exist_ok=True)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    start = datetime(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(
            [start + timedelta(days=int(d)) for d in rng.integers(0, 2404, n_orders)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(k)))
        for k in rng.integers(8, 100, n_docs)
    ]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[i] for i in rng.integers(0, 3, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tables = {"customer": customer, "orders": orders, "documents": documents}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive value hash: columns sorted by name, rows sorted,
    floats compared by bit pattern (the oracle convention of the tests)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "\x00null"
        if isinstance(v, float):
            return "\x00nan" if math.isnan(v) else "f" + v.hex()
        return type(v).__name__[:1] + str(v)

    canon = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in canon:
        digest.update(b"\x1e" + line.encode())
    return f"{len(canon)}:{digest.hexdigest()}"


def oracle_hashes(data_dir: str, tables, names=QUERIES) -> dict[str, str]:
    import duckdb

    from pgcp_spark.registry import all_queries

    registry = all_queries()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.execute(registry[name].oracle)
            out[name] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class LakeIvmWorkload:
    name = "lake_ivm"
    nominal_pass_s = 15.0  # operations of one pass on 4 cores
    warm_passes = 1
    ref_ops = ()  # no reference implementation is timed
    queries = QUERIES
    layers = (
        "registry.plan",
        "registry.exec",
        "sources.tables",
        "sources.lake.commit",
        "sources.lake.read",
        "sources.lake.diff",
        "sources.view_maintenance.fold",
        "streaming.ingest_view",
        "functions.text_index.apply",
        "indexes.loop",
        "sources.txn.commit",
        "sources.txn.read",
        "plans.overlap",
        "plans.materialize",
    )

    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(run_dir, "data")
        self.rows: dict[str, int] = {}
        self.expected: dict[str, str] = {}
        self.spark = None
        self.tracer = None
        self.registry = None

    def prepare(self) -> None:
        self.rows = generate(self.data_dir, self.seed)
        self.expected = oracle_hashes(self.data_dir, self.rows, self.queries)

    def start(self, spark, tracer) -> None:
        from pgcp_spark.registry import all_queries

        self.spark = spark
        self.tracer = tracer
        self.registry = all_queries()

    def ops(self, rng):
        """(name, run, check) per query; the pass order is a seeded shuffle."""
        names = list(self.queries)
        rng.shuffle(names)
        return [(n, self._runner(n), self._checker(n)) for n in names]

    def _runner(self, name: str):
        fn = self.registry[name].fn

        def run():
            with self.tracer.span("registry.plan"):
                df = fn(self.spark, self.data_dir)
            with self.tracer.span("registry.exec"):
                df.write.format("noop").mode("overwrite").save()
            return df

        return run

    def _checker(self, name: str):
        def check(df) -> tuple[bool, int]:
            rows = [tuple(r) for r in df.collect()]
            return result_hash(df.columns, rows) == self.expected[name], len(rows)

        return check

    def reference_s(self) -> float | None:
        return None

    def environment(self) -> dict:
        return {"sf": SF, "rows": self.rows}

    def close(self) -> None:
        pass
