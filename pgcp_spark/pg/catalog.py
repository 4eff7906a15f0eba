"""PostgreSQL catalog introspection (driver-side metadata queries).

Reference parity — the catalog SQL mirrors lib/pgcp/postgres.rb (which is
correct in the reference; only its call sites were buggy), with one
systematic fix: identifiers/literals are escaped (SURVEY.md Q6 — the
reference interpolates raw strings, e.g. postgres.rb:27,152-153,180-183).

  - list_tables        ← postgres.rb:20-36  (O4)
  - schema_names       ← postgres.rb:108-120 (O5)
  - column_definitions ← postgres.rb:137-167 (O6)
  - get_indexes        ← postgres.rb:169-241 (O10)
  - table_exists       ← postgres.rb:280-284,327-346 (O12)

Queries that return names fetch each row as one JSON array rendered by
the server (``json_build_array(...)::text``) and decode it here. Names
thus stay ``str`` whatever they spell: the psql client's ``fetch`` reads
untyped text and coerces ``t``/``f`` to booleans and digit strings to
ints, which would turn a column named ``t`` or ``2024`` into a non-name.
JSON also escapes a newline or field separator inside a name, which
would otherwise split the psql client's line-oriented output.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pgcp_spark.pg.client import PgClient
from pgcp_spark.qualified_name import quote_literal


@dataclass(frozen=True)
class ColumnDef:
    """postgres.rb:163-165 — the entire column model: name, PG type
    string, nullability."""

    name: str
    type: str
    nullable: bool


@dataclass(frozen=True)
class IndexDef:
    """postgres.rb:196-202 — oid, unique/primary flags, partial-index
    predicate, ordered column/expression list."""

    name: str
    columns: tuple[str, ...]
    unique: bool = False
    primary: bool = False
    where: str | None = None


def list_tables(client: PgClient, schema_name: str) -> list[str]:
    """Base tables of one schema, sorted (postgres.rb:20-36; views are
    excluded by table_type='BASE TABLE', postgres.rb:25)."""
    sql = f"""
SELECT json_build_array(table_name)::text
FROM information_schema.tables
WHERE table_schema = {quote_literal(schema_name)}
  AND table_type = 'BASE TABLE'
ORDER BY table_name
"""
    return [r[0] for r in _fetch_json(client, sql)]


def schema_names(client: PgClient) -> list[str]:
    """Non-system schemas (postgres.rb:108-120)."""
    sql = """
SELECT json_build_array(schema_name)::text
FROM information_schema.schemata
WHERE schema_name NOT LIKE 'pg\\_%'
  AND schema_name <> 'information_schema'
ORDER BY schema_name
"""
    return [r[0] for r in _fetch_json(client, sql)]


def column_definitions(client: PgClient, schema_name: str, table_name: str) -> list[ColumnDef]:
    """Ordered column triples via pg_catalog (postgres.rb:137-167):
    format_type preserves exact PG types — numeric(p,s), varchar(n),
    arrays, enums — which Spark's JDBC schema would degrade."""
    sql = f"""
SELECT json_build_array(
         a.attname,
         pg_catalog.format_type(a.atttypid, a.atttypmod),
         a.attnotnull
       )::text
FROM pg_catalog.pg_attribute a
JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid
WHERE n.nspname = {quote_literal(schema_name)}
  AND c.relname = {quote_literal(table_name)}
  AND a.attnum > 0
  AND NOT a.attisdropped
ORDER BY a.attnum
"""
    return [
        ColumnDef(name=name, type=type_, nullable=not notnull)
        for name, type_, notnull in _fetch_json(client, sql)
    ]


def get_indexes(client: PgClient, schema_name: str, table_name: str) -> list[IndexDef]:
    """Index definitions incl. unique/primary flags, partial-index WHERE
    (pg_get_expr, postgres.rb:212) and expression columns (pg_get_indexdef
    per attnum, postgres.rb:233). Composite PKs keep ALL columns — the
    reference truncated to the first (postgres.rb:248, SURVEY.md Q5)."""
    sql = f"""
SELECT json_build_array(
         i.relname,
         ix.indisunique,
         ix.indisprimary,
         pg_catalog.pg_get_expr(ix.indpred, ix.indrelid),
         ix.indexrelid::bigint,
         ix.indnkeyatts
       )::text
FROM pg_catalog.pg_class t
JOIN pg_catalog.pg_namespace n ON t.relnamespace = n.oid
JOIN pg_catalog.pg_index ix ON t.oid = ix.indrelid
JOIN pg_catalog.pg_class i ON i.oid = ix.indexrelid
WHERE n.nspname = {quote_literal(schema_name)}
  AND t.relname = {quote_literal(table_name)}
ORDER BY i.relname
"""
    indexes = []
    for name, unique, primary, where, index_oid, n_key in _fetch_json(client, sql):
        # indnkeyatts, NOT len(indkey): indkey also lists INCLUDE (non-key)
        # columns, and promoting those to key columns on replay would
        # silently weaken unique constraints. One round-trip per index
        # (not per column): expand positions server-side with generate_series
        col_sql = f"""
SELECT json_build_array(pg_catalog.pg_get_indexdef({index_oid}, g, true))::text
FROM generate_series(1, {n_key}) AS g ORDER BY g
"""
        cols = [r[0] for r in _fetch_json(client, col_sql)]
        indexes.append(
            IndexDef(name=name, columns=tuple(cols), unique=unique, primary=primary, where=where)
        )
    return indexes


def table_exists(client: PgClient, schema_name: str, table_name: str) -> bool:
    """Existence check excluding pg_toast (postgres.rb:280-284,327-346)."""
    sql = f"""
SELECT COUNT(*)
FROM information_schema.tables
WHERE table_schema = {quote_literal(schema_name)}
  AND table_schema <> 'pg_toast'
  AND table_type = 'BASE TABLE'
  AND table_name = {quote_literal(table_name)}
"""
    return int(client.fetch(sql)[0][0]) > 0


def primary_key_columns(client: PgClient, schema_name: str, table_name: str) -> tuple[str, ...]:
    """First primary-key index's full column list — used to pick the JDBC
    partition column for parallel reads (engine addition; no reference
    equivalent because pgcp streams single-threaded, transport.rb:89-110)."""
    for ix in get_indexes(client, schema_name, table_name):
        if ix.primary:
            return ix.columns
    return ()


def _fetch_json(client: PgClient, sql: str) -> list[list]:
    """Run ``sql``, whose rows are one JSON array each; decode them."""
    return [json.loads(r[0]) for r in client.fetch(sql)]
