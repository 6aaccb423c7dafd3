"""Deterministic relational tables for the query-mix workload.

Writes the three tables the mix reads (lineitem, events, documents) with
the column names, types and value vocabularies of the package's contract
tables, at a size where every query is bound by planning and job barriers
rather than data. The same seed
gives the same tables; a tenth of the documents are near-duplicates of
earlier ones, so the dedup operators find matches.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "lineitem": 16_000,
    "events": 3_000,
    "documents": 400,
}
ORDERS = 4_000                  # order keys lineitem draws from
USERS = 150

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the big small fast slow data spark query table row column key "
         "value join group agg sort scan filter window hash merge batch "
         "stream order customer part line vector").split()


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_l, n_e, n_d = (ROWS[t] for t in ("lineitem", "events", "documents"))
    out: dict[str, pa.Table] = {}
    qty = rng.integers(1, 51, n_l).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_e))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n_e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": _money(rng, n_e, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts: list[str] = []
    for i in range(n_d):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 80))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_d), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_d),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return out


def write_tables(seed: int, sf_dir: Path) -> dict[str, int]:
    """Write ``<table>.parquet`` files under ``sf_dir``; returns row counts."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, sf_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts
