"""Output checks against DuckDB, run outside the timed window.

CDC outputs are compared per input file: the enriched rows of each file
must hash-equal the ``s_cdc_pipeline`` oracle shape over the generated
inputs (order-insensitive: row count plus the sum of row hashes), and the
DLQ must hold exactly the expected count per reason. Query outputs are
compared with the query's registered ``oracle_sql()`` through the same
canonical row set the repository's oracle tests use.
"""

from __future__ import annotations

import datetime as _dt
import glob
import hashlib
import math
import os

import duckdb

from gen import TOMBSTONE_MOD


def _parquet_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def cdc_failed_files(
    event_files: list[str],
    customer_path: str,
    out_dir: str,
    dlq_dir: str,
    corrupt_every: int,
    threads: int,
) -> set[str]:
    """Names of the input files whose enriched rows or DLQ counts differ
    from the expectation. A row that maps to no input file fails them all."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(
        "CREATE TEMP TABLE ev AS SELECT event_id, user_id, event_type, value, "
        f"parse_filename(filename) AS src FROM read_parquet({_sql_list(event_files)}, filename = true)"
    )
    con.execute(f"CREATE TEMP TABLE customer AS SELECT * FROM read_parquet('{customer_path}')")
    live = f"e.event_id % {TOMBSTONE_MOD} <> 0 AND e.event_id <> 0"
    parsed = f"{live} AND e.event_id % {corrupt_every} <> 0"
    valid = f"{parsed} AND e.event_type <> 'error'"
    expected = {}
    for src, n, h in con.execute(
        f"""SELECT e.src, count(*), sum(hash(e.event_id, e.user_id, COALESCE(c.c_name, ''),
                   COALESCE(c.c_mktsegment, 'UNKNOWN'), e.event_type, e.value))
            FROM ev e JOIN customer c ON e.user_id = c.c_custkey
            WHERE {valid} GROUP BY e.src"""
    ).fetchall():
        expected[(src, "enriched")] = (n, h)
    for src, reason, n in con.execute(
        f"""SELECT e.src, 'parse_error', count(*) FROM ev e
            WHERE {live} AND e.event_id % {corrupt_every} = 0 GROUP BY e.src
            UNION ALL
            SELECT e.src, 'enrichment_miss', count(*) FROM ev e
            WHERE {valid} AND e.user_id NOT IN (SELECT c_custkey FROM customer)
            GROUP BY e.src"""
    ).fetchall():
        expected[(src, reason)] = (n, None)

    actual = {}
    out_files, dlq_files = _parquet_files(out_dir), _parquet_files(dlq_dir)
    if out_files:
        for src, n, h in con.execute(
            f"""SELECT e.src, count(*), sum(hash(o.id, o.user_id, o.name, o.segment,
                       o.event_type, o.value))
                FROM read_parquet({_sql_list(out_files)}, union_by_name = true) o
                LEFT JOIN ev e ON o.id = e.event_id GROUP BY e.src"""
        ).fetchall():
            actual[(src, "enriched")] = (n, h)
    if dlq_files:
        for src, reason, n in con.execute(
            f"""SELECT e.src, d.reason, count(*)
                FROM read_parquet({_sql_list(dlq_files)}, union_by_name = true) d
                LEFT JOIN ev e ON d.kafka_key = e.event_id GROUP BY e.src, d.reason"""
        ).fetchall():
            actual[(src, reason)] = (n, None)
    con.close()
    all_srcs = {os.path.basename(p) for p in event_files}
    if any(src is None for src, _ in actual):
        return all_srcs
    return {
        src
        for src, kind in set(expected) | set(actual)
        if expected.get((src, kind)) != actual.get((src, kind))
    }


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def row_set_hash(rows, columns: list[str]) -> str:
    """Order-insensitive hash of a result: columns taken in name order,
    rows canonicalised and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("|".join(columns[i] for i in order).encode())
    for line in canon:
        digest.update(b"\x1e" + line.encode())
    return digest.hexdigest()


def oracle_hashes(oracles: dict[str, str], embeddings_path: str, threads: int) -> dict[str, str]:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{embeddings_path}')")
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        rows = cur.fetchall()
        out[name] = row_set_hash(rows, [d[0] for d in cur.description])
    con.close()
    return out
