"""Untimed correctness checks: registry queries against their DuckDB
oracle SQL (the normalized multiset rule of ``tools/check_oracle.py``)
and MinHash-LSH precision by exact Jaccard."""

from __future__ import annotations

import duckdb

from lakehouse_test_spark.session import TABLE_NAMES
from tools.check_oracle import df_multiset

#: the query's verification threshold (operators.dedup.JACCARD_THRESHOLD)
JACCARD_MIN = 0.5


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_with_oracle(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when Spark's result equals the oracle's, else the reason."""
    cur = con.execute(oracle_sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if len(rows) != len(orows):
        return f"rowcount spark={len(rows)} duckdb={len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns spark={sorted(cols)} duckdb={sorted(ocols)}"
    if df_multiset(cols, rows) != df_multiset(ocols, orows):
        return "values differ"
    return None


def _shingles(text: str) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}


def minhash_precision(con, rows: list[tuple], cols: list[str]) -> str | None:
    """Every emitted pair must truly have Jaccard >= 0.5 over distinct
    lower-cased 3-word shingles, recomputed exactly here."""
    ia, ib = cols.index("doc_a"), cols.index("doc_b")
    texts = dict(con.execute("SELECT doc_id, lower(text) FROM documents").fetchall())
    sh: dict[int, set] = {}
    bad = []
    for r in rows:
        a, b = r[ia], r[ib]
        sa = sh.setdefault(a, _shingles(texts[a]))
        sb = sh.setdefault(b, _shingles(texts[b]))
        union = len(sa | sb)
        j = len(sa & sb) / union if union else 0.0
        if j < JACCARD_MIN:
            bad.append((a, b, round(j, 4)))
    if not rows:
        return "no pairs emitted (the fixtures plant near duplicates)"
    return f"{len(bad)} pairs below {JACCARD_MIN}: {bad[:3]}" if bad else None
