"""Reference answers for the output checks: DuckDB replays over the
same parquet inputs, and an exact NumPy top-k. None of this runs
inside a timed window."""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
import numpy as np

from etl_job_spark.plans import queries

MART_COLS = ("chain_no", "sale_dy", "chong_maechool", "responsible", "xy")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def store_days_per_day(data: str, lo: dt.date, hi: dt.date) -> dict[dt.date, int]:
    """Store-day rows each ship day contributes (a merge's row count)."""
    with connect() as con:
        rows = con.execute(f"""
            SELECT CAST(l_shipdate AS DATE) AS d, count(DISTINCT l_suppkey)
            FROM read_parquet('{data}/lineitem.parquet')
            WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'
            GROUP BY 1""").fetchall()
    return {d: n for d, n in rows}


def checksum(rows) -> tuple[int, int]:
    """(row count, bit-xor of per-row md5 prefixes) over canonical row
    text — order-insensitive and exact on floats (``repr``)."""
    x = 0
    n = 0
    for r in rows:
        h = hashlib.md5("\x1f".join(repr(v) for v in r).encode()).digest()
        x ^= int.from_bytes(h[:8], "little")
        n += 1
    return n, x


class MartOracle:
    """The enriched daily mart after every window up to ``hi`` merged,
    held in DuckDB: the package's own oracle of the enriched store mart
    (``queries.ENRICH_SQL``: the staging rollup, J1 / J2 and the P6-P7
    backfill) over the ship days ``lo`` to ``hi``."""

    def __init__(self, data: str, lo: dt.date, hi: dt.date):
        self.con = connect()
        self.con.execute(f"""
        CREATE VIEW lineitem AS SELECT * FROM read_parquet('{data}/lineitem.parquet')
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'""")
        self.con.execute(f"CREATE VIEW supplier AS SELECT * FROM read_parquet('{data}/supplier.parquet')")
        self.con.execute(f"CREATE TABLE mart AS {queries.ENRICH_SQL}")

    def close(self) -> None:
        self.con.close()

    def rows(self) -> list[tuple]:
        return self.con.execute(f"SELECT {', '.join(MART_COLS)} FROM mart").fetchall()

    def window(self, days: tuple[str, str], stores: list[str]) -> list[tuple]:
        return self.con.execute(
            f"SELECT {', '.join(MART_COLS)} FROM mart "
            "WHERE sale_dy BETWEEN ? AND ? AND list_contains(?, chain_no)",
            [days[0], days[1], stores],
        ).fetchall()

    def select(self, statement: str) -> list[tuple]:
        return self.con.execute(statement).fetchall()


def _int_vectors(v: np.ndarray) -> np.ndarray:
    """The engine's micro-quantization: round half away from zero of
    ``x * 1e6`` on the float32 value widened to double."""
    x = v.astype(np.float64) * 1_000_000
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, queries: np.ndarray, k: int) -> list[set[int]]:
    """Exact squared-L2 top-k over the quantized integer vectors."""
    c = _int_vectors(corpus)
    out = []
    for q in _int_vectors(queries):
        d = ((c - q) ** 2).sum(axis=1)
        order = np.lexsort((corpus_ids, d))[:k]
        out.append(set(corpus_ids[order].tolist()))
    return out


def dedup_survivors(batch_path: str, threshold: float = 0.5) -> set[tuple[int, int]]:
    """(survivor doc_id, n_duplicates) for one batch: the MinHash (12
    hashes, 4 bands of 3) + LSH + exact-Jaccard verify replayed in
    DuckDB, then connected components by union-find."""
    sql = f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM read_parquet('{batch_path}')
    ),
    sh AS (
      SELECT DISTINCT doc_id, s AS shingle FROM (
        SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                               FOR i IN range(1, len(t) - 1)]) AS s
        FROM toks
      )
    ),
    mh AS (
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
      FROM sh, range(12) r(seed) GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, seed // 3 AS band, string_agg(h, '|' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, seed // 3
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, count(*) AS n FROM cand c
      JOIN sh x ON x.doc_id = c.a
      JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
    WHERE i.n / (sa.n + sb.n - i.n) >= {threshold}"""
    with connect() as con:
        pairs = con.execute(sql).fetchall()
        ids = [r[0] for r in con.execute(f"SELECT doc_id FROM read_parquet('{batch_path}')").fetchall()]
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for i in ids:
        members.setdefault(find(i), []).append(i)
    return {(min(m), len(m) - 1) for m in members.values()}
