"""Seeded synthetic inputs: a TPC-H-shaped lineitem table and a text corpus.

The lineitem table follows the shape of the repository's sf0.1 fixtures
(uniform keys, 4 line items per order on average) so that the
benchmark needs nothing outside its own checkout.  Every column is a
pure function of ``(seed, sf)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
N_PARTS_PER_SF = 200_000
N_ORDERS_PER_SF = 1_500_000


def _vocabulary(n: int = 3000) -> list:
    """A fixed vocabulary of pronounceable words, large enough that two
    unrelated documents share few character shingles."""
    rng = np.random.default_rng(0)
    syllables = np.asarray([c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"])
    picks = syllables[rng.integers(0, len(syllables), (4 * n, 3))]
    lengths = rng.integers(1, 4, 4 * n)
    words = dict.fromkeys("".join(p[:k]) for p, k in zip(picks, lengths))
    return sorted(words)[:n]


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def make_lineitem(seed: int, sf: float) -> pa.Table:
    """The lineitem table at scale factor ``sf``."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_orders = int(N_ORDERS_PER_SF * sf)
    n_parts = int(N_PARTS_PER_SF * sf)
    n_li = 4 * n_orders
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    base = np.datetime64("1995-01-01", "us")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_li),
            "l_partkey": rng.integers(0, n_parts, n_li),
            "l_suppkey": rng.integers(0, max(1, n_parts // 20), n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, RETURNFLAGS, n_li),
            "l_linestatus": _pick(rng, LINESTATUSES, n_li),
            "l_shipdate": base + rng.integers(0, 2500, n_li) * np.timedelta64(1, "D"),
        }
    )


def make_documents(seed: int, sf: float) -> pa.Table:
    """Corpus with planted near-duplicates and shared boilerplate
    paragraphs (separated by blank lines), so LSH finds candidates and
    paragraph dedup removes units."""
    rng = np.random.default_rng([seed, 7, int(sf * 1e6)])
    n_docs = int(50_000 * sf)
    words = np.asarray(_vocabulary(), dtype=object)

    def paragraph():
        return " ".join(words[rng.integers(0, len(words), rng.integers(8, 25))])

    boilerplate = [paragraph() for _ in range(30)]
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate: an earlier document with two words swapped out
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), 2):
                if "\n" not in toks[j]:
                    toks[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
            continue
        paras = [paragraph() for _ in range(rng.integers(2, 6))]
        if rng.random() < 0.3:
            paras.insert(int(rng.integers(0, len(paras) + 1)),
                         boilerplate[int(rng.integers(0, len(boilerplate)))])
        texts.append("\n\n".join(paras))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts),
            "lang": _pick(rng, ["en", "de", "fr", "es", "zh"], n_docs),
        }
    )


def write_parquet(tables: dict, directory: str, rows_per_file: int = 100_000) -> dict:
    """Write each table as a directory of parquet part files of at most
    ``rows_per_file`` rows, the way a large table arrives; returns
    ``{name: path}``."""
    paths = {}
    for name, table in tables.items():
        path = os.path.join(directory, name)
        os.makedirs(path, exist_ok=True)
        for i, start in enumerate(range(0, max(table.num_rows, 1), rows_per_file)):
            part = table.slice(start, rows_per_file)
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
        paths[name] = path
    return paths
