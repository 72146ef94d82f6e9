"""Oracles that never run engine code: DuckDB over the generated events
and tables, and set arithmetic over the planted ground truth."""

from __future__ import annotations

import math
from datetime import datetime
from decimal import Decimal

import duckdb
import pyarrow as pa

STATE_COLS = ("name", "owner", "qty", "note")
KEEP_STATES = 12  # oracle states kept: the time-travel window reads back at most 4


class ReplicaOracle:
    """The replica as of every applied batch: latest image per key, the
    largest (ts, seq) wins, a delete wins an exact tie, deleted keys are
    hidden.  ``apply`` returns the batch number whose state it pins."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            "CREATE TABLE ev (op VARCHAR, ts TIMESTAMP, seq BIGINT, key VARCHAR, "
            "owner VARCHAR, qty BIGINT, note VARCHAR, batch INTEGER)"
        )
        self.batch = -1

    def apply(self, events: pa.Table) -> int:
        self.batch += 1
        b = self.batch
        t = events.append_column("batch", pa.array([b] * events.num_rows, pa.int32()))
        self.con.register("_new", t)
        self.con.execute("INSERT INTO ev SELECT * FROM _new")
        self.con.unregister("_new")
        self.con.execute(
            f"""CREATE TABLE s{b} AS
            SELECT key AS name, owner, qty, note FROM (
              SELECT *, row_number() OVER (
                PARTITION BY key ORDER BY ts DESC, seq DESC, (op = 'd') DESC) AS rn
              FROM ev WHERE batch <= {b})
            WHERE rn = 1 AND op <> 'd'"""
        )
        if b >= KEEP_STATES:
            self.con.execute(f"DROP TABLE IF EXISTS s{b - KEEP_STATES}")
        return b

    def lookup(self, batch: int, key: str) -> list[tuple]:
        return self.con.execute(
            f"SELECT name, owner, qty, note FROM s{batch} WHERE name = ?", [key]
        ).fetchall()

    def aggregate(self, batch: int) -> tuple:
        """(rows, sum qty, max note, min name): the scan op's aggregates."""
        return self.con.execute(
            f"SELECT count(*), sum(qty), max(note), min(name) FROM s{batch}"
        ).fetchone()

    def changes(self, b_from: int, b_to: int) -> set[tuple]:
        """(key, change, before row, after row) between two states."""
        rows = self.con.execute(
            f"""SELECT coalesce(b.name, a.name),
                  CASE WHEN b.name IS NULL THEN 'insert'
                       WHEN a.name IS NULL THEN 'delete' ELSE 'update' END,
                  b.name, b.owner, b.qty, b.note, a.name, a.owner, a.qty, a.note
            FROM s{b_from} b FULL OUTER JOIN s{b_to} a ON b.name = a.name
            WHERE b.name IS NULL OR a.name IS NULL
               OR b.owner IS DISTINCT FROM a.owner OR b.qty IS DISTINCT FROM a.qty
               OR b.note IS DISTINCT FROM a.note"""
        ).fetchall()
        return {
            (r[0], r[1], r[2:6] if r[2] is not None else None,
             r[6:10] if r[6] is not None else None)
            for r in rows
        }

    def diff_count(self, batch: int, replica: pa.Table) -> int:
        """Rows in the symmetric difference of the oracle state and a
        replica (name, owner, qty, note) table."""
        self.con.register("_rep", replica.select(list(STATE_COLS)))
        n = self.con.execute(
            f"""SELECT (SELECT count(*) FROM (SELECT * FROM s{batch} EXCEPT ALL SELECT * FROM _rep))
                     + (SELECT count(*) FROM (SELECT * FROM _rep EXCEPT ALL SELECT * FROM s{batch}))"""
        ).fetchone()[0]
        self.con.unregister("_rep")
        return int(n)


def count_parquet_rows(con: duckdb.DuckDBPyConnection, glob: str) -> int:
    return int(con.execute(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0])


def dlq_matches(con: duckdb.DuckDBPyConnection, glob: str, malformed: list[str]) -> bool:
    """The DLQ holds exactly the malformed lines landed (as a multiset)."""
    got = sorted(r[0] for r in con.execute(f"SELECT _corrupt FROM read_parquet('{glob}')").fetchall())
    return got == sorted(malformed)


# --------------------------------------------------------------------------
# Registered queries
# --------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return str(v)


def canon(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, cells
    normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class QueryOracle:
    """DuckDB over the generated TPC-H-shaped parquet files."""

    def __init__(self, table_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )

    def answer(self, sql: str) -> list[tuple]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return canon(cols, cur.fetchall())


# --------------------------------------------------------------------------
# Planted ground truth for the LLM-data operators
# --------------------------------------------------------------------------


def planted_pairs_split(pairs: list[tuple[int, int]], kept: set[int]) -> int:
    """Planted doc pairs that kept both members (must be 0)."""
    return sum(1 for a, b in pairs if a in kept and b in kept)


def clustered_share(pairs: list[tuple[int, int]], cluster_of: dict[int, int]) -> float:
    """Share of planted vector pairs whose members share a cluster."""
    hit = sum(
        1 for a, b in pairs
        if a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
    )
    return hit / max(len(pairs), 1)


def decontam_exact(flagged: dict[int, int], n: int, every: int) -> bool:
    """Exactly the planted twins (ids == every-1 mod every) are flagged,
    each matched to its own head (id - 1)."""
    twins = {i: i - 1 for i in range(every - 1, n, every)}
    return flagged == twins
