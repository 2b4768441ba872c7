"""Seeded input generator for the benchmark.

Everything the workloads read is made here, from a seed, inside the
benchmark's work directory:

* ``make_tables`` — the ten star-schema tables the registry queries read
  (``sources.TABLES``), shaped like the repository's sf0.1 test data: same
  columns, types, row counts, one row group per file.
* ``make_corpus`` — the ``text-jobs`` prose corpus (Zipf vocabulary,
  mixed case, blank lines, no tabs, ~1% of lines holding the grep
  word) in batch directories, with the expected word counts and grep
  lines of each batch.
* ``commit_plan`` — the ``table-commits`` key slices and predicates.

Generation is numpy-vectorised (a weighted ``random.choices`` loop is
two orders of magnitude slower at 16 MB) and cached by seed by the
caller, so it never runs inside a timed region or ``setup_s``.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np

GREP_WORD = "product"

# Row counts of the sf0.1 test data.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_DOC_WORDS = (
    "a the data spark scan filter join group agg sort hash key value row "
    "column table query order part line customer batch stream window merge "
    "vector small big fast slow"
).split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def make_tables(out_dir: str, seed: int = 42) -> None:
    """Write ``<table>.parquet`` for every table in ``sources.TABLES``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    k = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k),
    }
    k = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    }
    k = n["part"]
    adjs = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    tables["part"] = {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (k, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10.0, 2),
    }
    k = n["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k),
    }
    k = n["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
    }
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    tables["events"] = {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": np.sort(rng.integers(start, start + span_us, k)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, k),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)],
    }
    k = n["documents"]
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in rng.integers(10, 101, k)]
    # Near duplicates (a copy plus one marker token) and a few exact
    # copies, so the dedup and similarity queries have work to find.
    for i in range(19, k, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(k, 8, replace=False):
        texts[int(i)] = texts[int(i) - 1]
    tables["documents"] = {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], k, p=[0.14, 0.42, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }
    k = n["embeddings"]
    labels = rng.integers(0, 10, k, dtype=np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows)


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.asarray(list("abcdefghijklmnopqrstuvwxyz"), dtype=object)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        for m in rng.integers(2, 11, size):
            w = "".join(letters[rng.integers(0, 26, m)])
            if w not in seen and GREP_WORD not in w:
                seen.add(w)
                out.append(w)
                if len(out) == size:
                    break
    return out


def make_corpus(out_dir: str, seed: int, total_mb: float, batches: int, files_per_batch: int = 4) -> dict:
    """Write ``batch{i}/part{j}.txt`` under ``out_dir`` and return, per
    batch, the expected word counts (lowercased, whitespace split) and
    the expected grep lines (case-insensitive ``GREP_WORD``, sorted)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 20_000)
    lower = np.asarray(vocab + [GREP_WORD], dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    cdf = np.cumsum(zipf / zipf.sum())
    titled = np.asarray([w.capitalize() for w in lower], dtype=object)
    upper = np.asarray([w.upper() for w in lower], dtype=object)
    grep_id = len(vocab)
    expected = []
    target_bytes = int(total_mb * 1e6 / batches)
    for b in range(batches):
        lines: list[str] = []
        counts: Counter = Counter()
        size = 0
        while size < target_bytes:
            n_lines = 4000
            lens = rng.integers(1, 21, n_lines)
            ids = np.minimum(np.searchsorted(cdf, rng.random(lens.sum())), len(vocab) - 1)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            # ~1% of lines carry the grep word at a random position.
            hit = rng.random(n_lines) < 0.01
            ids[starts[hit] + rng.integers(0, lens[hit])] = grep_id
            case = rng.random(ids.size)
            toks = np.where(case < 0.85, lower[ids], np.where(case < 0.97, titled[ids], upper[ids]))
            blank = rng.random(n_lines) < 0.03
            for i in range(n_lines):
                if blank[i]:
                    lines.append("")
                    size += 1
                    continue
                s = int(starts[i])
                line = " ".join(toks[s : s + lens[i]])
                lines.append(line)
                size += len(line) + 1
                counts.update(lower[ids[s : s + lens[i]]])
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        per_file = -(-len(lines) // files_per_batch)
        for f in range(files_per_batch):
            with open(os.path.join(d, f"part{f}.txt"), "w") as fh:
                chunk = lines[f * per_file : (f + 1) * per_file]
                fh.write("".join(line + "\n" for line in chunk))
        grep = sorted(line for line in lines if GREP_WORD in line.lower())
        expected.append({"dir": d, "wc": dict(counts), "grep": grep})
    return {"batches": expected}


def commit_plan(seed: int) -> dict:
    """Key slices and predicates of one ``table-commits`` pass.

    Each order key falls in bucket ``(o_orderkey * 7919 + offset) % 1000``
    with ``offset`` drawn from the seed, so the seed picks which keys
    land in which slice; Spark and the DuckDB replay evaluate the same
    integer expression. Slices: create 75%, three appends of 5%, two
    merges that update ~0.5% and insert ~0.5% of keys each, a delete
    and an update of 1% each.
    """
    offset = int(np.random.default_rng(seed).integers(0, 1000))
    b = f"((o_orderkey * 7919 + {offset}) % 1000)"
    return {
        "bucket": b,
        "create": f"{b} < 750",
        "appends": [f"{b} BETWEEN {750 + 50 * i} AND {799 + 50 * i}" for i in range(3)],
        "merges": [
            {"update": f"{b} BETWEEN {10 * j} AND {10 * j + 4}", "insert": f"{b} BETWEEN {900 + 10 * j} AND {900 + 10 * j + 4}"}
            for j in range(2)
        ],
        "delete": f"{b} BETWEEN 100 AND 109",
        "update": f"{b} BETWEEN 200 AND 209",
        "update_set": {"o_orderpriority": "'0-UPDATED'", "o_totalprice": "o_totalprice * 2"},
    }


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
