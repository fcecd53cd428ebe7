"""Seeded input generators. The same seed always gives byte-identical
inputs; the program under test only ever sees the files written here.

- :func:`write_fixtures` writes the ten query-fixture tables (the
  TPC-H-ish star schema plus events, documents and embeddings) with the
  schemas and value domains the query registry and its DuckDB oracles
  are written against (see FIXTURES.md), at scale factor ``sf``.
- :class:`IngestPlan` stages the ``ingest_scan`` inputs: a base table
  and one parquet file per planned commit (an append batch of fresh
  keys, or every ``MERGE_EVERY``-th commit a keyed upsert batch whose
  keys are drawn skewed toward recently appended rows).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")

VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    """Naive (UTC-valued) microsecond timestamps ``start + seconds``."""
    base = np.datetime64(start, "us")
    us = (base - _EPOCH).astype(np.int64) + (seconds * 1e6).astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def _strs(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt % i for i in ids.tolist()], pa.string())


def _write(path: Path, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    words = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.04:  # near duplicate: one or two words edited
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(words, size=k).tolist()))
    ids = np.arange(n)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": _strs("src%d", ids % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, size=n)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] * 0.5 + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_fixtures(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables under ``out``; returns row counts."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    _write(out / "region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out / "nation.parquet", {
        "n_nationkey": pa.array(nk),
        "n_name": _strs("NATION_%d", nk),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust)
    _write(out / "customer.parquet", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strs("Customer#%09d", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    sk = np.arange(n_supp)
    _write(out / "supplier.parquet", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strs("Supplier#%09d", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part)
    colors = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
    nouns = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"])
    _write(out / "part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(colors, n_part), " "), rng.choice(nouns, n_part))),
        "p_brand": _strs("Brand#%d", rng.integers(1, 26, n_part)),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    ok = np.arange(n_ord)
    _write(out / "orders.parquet", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400.0),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * 86400.0),
    })
    ev_s = np.sort(rng.uniform(0, 30 * 86400.0, n_ev))
    _write(out / "events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", ev_s),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })
    _write(out / "documents.parquet", _documents(rng, n_doc))
    _write(out / "embeddings.parquet", _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


# ---------------------------------------------------------------------------
# ingest_scan inputs
# ---------------------------------------------------------------------------

INGEST_SCHEMA = pa.schema([
    ("key", pa.int64()),
    ("seq", pa.int64()),
    ("grp", pa.int32()),
    ("value", pa.float64()),
    ("payload", pa.string()),
])
#: keys an upsert inserts (rather than updates) live far above every
#: appended key, so appends never collide with them
NEW_KEY_BASE = 1 << 40
#: row ``r`` written by commit ``c`` gets seq ``c * SEQ_STRIDE + r``, so
#: seq orders every row version by the commit that wrote it
SEQ_STRIDE = 1 << 20


@dataclass(frozen=True)
class Commit:
    index: int  # 0 = base table
    kind: str  # "base" | "append" | "merge"
    path: Path
    rows: int


class IngestPlan:
    """Seeded commit schedule plus its staged parquet files.

    Commit ``c`` (1-based) is a merge when ``c % MERGE_EVERY == 0``,
    otherwise an append of ``batch_rows`` fresh, increasing keys. The
    schedule depends on the commit index only, never on timing, so a
    seed fixes every byte the table is asked to store."""

    MERGE_EVERY = 10

    def __init__(self, stage: Path, seed: int, base_rows: int, batch_rows: int,
                 merge_rows: int, max_commits: int):
        self.stage = stage
        self.seed = seed
        self.base_rows = base_rows
        self.batch_rows = batch_rows
        self.merge_rows = merge_rows
        self.commits: list[Commit] = []
        stage.mkdir(parents=True, exist_ok=True)
        next_key = 0
        n_new = 0
        for c in range(max_commits + 1):
            rng = np.random.default_rng([seed, 2, c])
            if c == 0 or c % self.MERGE_EVERY:
                n = base_rows if c == 0 else batch_rows
                keys = np.arange(next_key, next_key + n, dtype=np.int64)
                kind = "base" if c == 0 else "append"
                next_key += n
            else:
                # skewed upserts: recent keys are hot (exponential in
                # age), plus a few brand-new keys (inserts)
                age = rng.exponential(next_key / 8.0, merge_rows)
                upd = np.unique((next_key - 1 - np.minimum(age, next_key - 1)).astype(np.int64))
                n_ins = max(1, merge_rows // 20)
                ins = np.arange(NEW_KEY_BASE + n_new, NEW_KEY_BASE + n_new + n_ins, dtype=np.int64)
                n_new += n_ins
                keys = np.concatenate([upd, ins])
                kind = "merge"
            n = len(keys)
            seq = c * SEQ_STRIDE + np.arange(n, dtype=np.int64)
            payload = rng.choice(np.array(VOCAB), size=(n, 6))
            cols = {
                "key": pa.array(keys),
                "seq": pa.array(seq),
                "grp": pa.array(rng.integers(0, 64, n).astype(np.int32)),
                "value": pa.array(np.round(rng.normal(100.0, 30.0, n), 4)),
                "payload": pa.array([" ".join(r) for r in payload.tolist()]),
            }
            path = stage / f"c{c:05d}.parquet"
            pq.write_table(pa.table(cols, schema=INGEST_SCHEMA), path, compression="zstd")
            self.commits.append(Commit(c, kind, path, n))

    @property
    def max_commits(self) -> int:
        return len(self.commits) - 1
