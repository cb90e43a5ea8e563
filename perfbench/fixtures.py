"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed and is written as
parquet under the run's scratch directory, so the program under test
receives only files. The shapes and constants are measured on the
repository's sf0.1 fixtures (FIXTURES.md):

- ``lineitem``: 600,000 lines over 2,499 ship days, i.e. 240 lines per
  day (quartiles 230 / 250); about 4 lines per order (0.245 distinct
  orders per line); suppliers keyed 0..999. A day's store-day rollup
  has 213 rows (quartiles 205 / 222), which is what 240 lines drawn
  uniformly over 1,000 suppliers give: 1000 * (1 - 0.999**240) = 213.
  The generator draws 240 lines per day that way.
- ``documents``: ``data/documents.parquet`` is the sf0.1 corpus
  itself (its ``doc_id`` and ``text`` columns: 5,000 docs, a 31-word
  vocabulary, 10 to 100 tokens per doc, quartiles 32 / 54 / 76).
  Batches are drawn from it.
- ``embeddings``: 2,000 unit vectors of 64 dims. The sf0.1 vectors
  carry 10 labels, but each label's centroid has norm 0.07, which is
  1/sqrt(200), the norm of the mean of 200 independent random unit
  vectors: the directions are isotropic. The generator draws
  normalised Gaussian vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SUPPLIERS = 1000
LINES_PER_DAY = 240
LINES_PER_ORDER = 4
EPOCH = dt.date(1995, 1, 2)
EMBED_DIM = 64
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
DUP_ID_BASE = 1_000_000  # near-duplicate copies get ids above the corpus's


def day_str(d: dt.date) -> str:
    return d.strftime("%Y%m%d")


def start_day(seed: int) -> dt.date:
    """The seed picks the first day of the landed year."""
    return EPOCH + dt.timedelta(days=int(np.random.default_rng(seed).integers(0, 730)))


def write_sales(path: str, seed: int, first: dt.date, n_days: int) -> None:
    """``lineitem`` (sorted by ship date, small row groups so a day
    window prunes at the parquet scan) and ``supplier`` under ``path``."""
    rng = np.random.default_rng([seed, 1])
    n = LINES_PER_DAY * n_days
    day = np.repeat(np.arange(n_days), LINES_PER_DAY)
    base = np.datetime64(first.isoformat(), "us")
    ship = base + day.astype("timedelta64[D]") + rng.integers(0, 86_400, n).astype("timedelta64[s]")
    price_cents = rng.integers(90_000, 10_500_000, n)
    lineitem = pa.table({
        "l_orderkey": (np.arange(n) // LINES_PER_ORDER + 1).astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n).astype(np.int64),
        "l_linenumber": (np.arange(n) % LINES_PER_ORDER + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": price_cents / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    pq.write_table(lineitem, os.path.join(path, "lineitem.parquet"), row_group_size=4 * LINES_PER_DAY)
    keys = np.arange(N_SUPPLIERS)
    supplier = pa.table({
        "s_suppkey": keys.astype(np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": rng.integers(-99_999, 999_999, N_SUPPLIERS) / 100.0,
    })
    pq.write_table(supplier, os.path.join(path, "supplier.parquet"))


def doc_batch(seed: int, batch: int, n_docs: int, dup_share: float) -> pa.Table:
    """``n_docs`` documents drawn without replacement from the corpus,
    plus ``dup_share * n_docs`` near-duplicate copies of drawn ones,
    each with one token dropped at a random position."""
    corpus = pq.read_table(DOCUMENTS)
    rng = np.random.default_rng([seed, 2, batch])
    pick = np.sort(rng.choice(corpus.num_rows, size=n_docs, replace=False))
    ids = corpus.column("doc_id").take(pick).to_pylist()
    texts = corpus.column("text").take(pick).to_pylist()
    n_dup = int(round(n_docs * dup_share))
    for j, src in enumerate(rng.choice(n_docs, size=n_dup, replace=False)):
        toks = texts[src].split()
        del toks[int(rng.integers(0, len(toks)))]
        ids.append(DUP_ID_BASE + j)
        texts.append(" ".join(toks))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})


def embeddings(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 unit vectors) with isotropic directions."""
    rng = np.random.default_rng([seed, 3])
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(n, dtype=np.int64), vecs.astype(np.float32)


def query_vectors(seed: int, batch: int, corpus: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` queries near random corpus points, with ids outside the
    corpus id range (the ADC scorer never pairs an id with itself)."""
    rng = np.random.default_rng([seed, 4, batch])
    base = corpus[rng.integers(0, len(corpus), n)]
    q = base + rng.normal(0.0, 0.01, base.shape)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    ids = 10_000_000 + batch * 1000 + np.arange(n, dtype=np.int64)
    return ids, q.astype(np.float32)


def vectors_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
