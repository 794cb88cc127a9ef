"""Seeded input generator for the benchmark.

Writes the parquet tables a workload reads into one directory, shaped
like the package's fixture tables (TPC-H-ish star schema plus the
`documents` corpus): same column names and types, one file and one row
group per table, value ranges and key densities that match.

Everything is a function of (seed, scale): the values, the row order of
every file and, through `fingerprint`, a digest a test can compare. Only
numpy and pyarrow are used, so generation never touches a Spark session
and its time stays outside the benchmark's set-up.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixture shape at sf0.1 (TESTDATA.md): 150k orders, ~4 lines each
ORDERS_PER_SF = 1_500_000
CUSTOMERS_PER_SF = 150_000
LINES_PER_ORDER = 4
SUPPLIERS_PER_SF = 10_000
PARTS_PER_SF = 200_000

ORDER_STATUS = np.array(["O", "P", "F"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["O", "F"])

# the fixture corpus vocabulary: 30 content words plus two stopwords
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20
DUP_EVERY = 20          # 1 doc in 20 is an earlier doc plus " dup"
DUP_OFFSET = 11
EXACT_DUPS_PER_5K = 8   # verbatim copies, as in the fixture

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, like the fixture's two-decimal doubles
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first_day: int, last_day: int, n: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(first_day, last_day + 1, n) \
        .astype("timedelta64[D]")


def _write(cols: dict, order: np.ndarray, path: str) -> None:
    t = pa.table({k: pa.array(v[order]) for k, v in cols.items()})
    pq.write_table(t, path, row_group_size=max(t.num_rows, 1),
                   compression="snappy")


def election_tables(seed: int, sf: float, out_dir: str) -> None:
    """customer, orders and lineitem at scale factor `sf` (sf0.1 = 150k
    orders, 600k lineitem rows). Lineitem keys are drawn uniformly, so
    about 2% of orders have no lines, and (orderkey, suppkey) pairs
    repeat at the fixture's rate."""
    n_cust = int(CUSTOMERS_PER_SF * sf)
    n_ord = int(ORDERS_PER_SF * sf)
    n_line = n_ord * LINES_PER_ORDER
    n_supp = int(SUPPLIERS_PER_SF * sf)
    n_part = int(PARTS_PER_SF * sf)

    r = _rng(seed, 1)
    keys = np.arange(n_cust, dtype=np.int64)
    _write({
        "c_custkey": keys,
        "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[r.integers(0, len(SEGMENTS), n_cust)],
    }, r.permutation(n_cust), os.path.join(out_dir, "customer.parquet"))

    r = _rng(seed, 2)
    _write({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": ORDER_STATUS[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, 0, 2403, n_ord),
        "o_orderpriority": PRIORITIES[r.integers(0, len(PRIORITIES), n_ord)],
    }, r.permutation(n_ord), os.path.join(out_dir, "orders.parquet"))

    r = _rng(seed, 3)
    _write({
        "l_orderkey": r.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": RETURN_FLAGS[r.integers(0, 3, n_line)],
        "l_linestatus": LINE_STATUS[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, 1, 2499, n_line),
    }, r.permutation(n_line), os.path.join(out_dir, "lineitem.parquet"))


def corpus_texts(seed: int, n_docs: int) -> list[str]:
    """The documents' texts, indexed by doc_id: 10-100 tokens each; every
    DUP_EVERY-th doc repeats an earlier original with " dup" appended and
    a few docs are verbatim copies, so exact and near-duplicate groups
    occur at the fixture's density whatever the corpus size."""
    r = _rng(seed, 4)
    lens = r.integers(10, 101, n_docs)
    toks = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n:e]) for e, n in zip(ends, lens)]
    is_dup = np.arange(n_docs) % DUP_EVERY == DUP_OFFSET
    originals = np.flatnonzero(~is_dup)
    n_exact = max(1, n_docs * EXACT_DUPS_PER_5K // 5000)
    for a, b in r.choice(originals, size=(n_exact, 2), replace=False):
        lo, hi = sorted((int(a), int(b)))
        texts[hi] = texts[lo]
    for i in np.flatnonzero(is_dup):
        j = originals[r.integers(0, np.searchsorted(originals, i))]
        texts[i] = texts[j] + " dup"
    return texts


def documents_table(seed: int, n_docs: int, out_dir: str) -> None:
    texts = np.array(corpus_texts(seed, n_docs), dtype=object)
    r = _rng(seed, 5)
    _write({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % N_SOURCES)
                              .astype(str)),
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
    }, r.permutation(n_docs), os.path.join(out_dir, "documents.parquet"))


def fingerprint(data_dir: str) -> str:
    """sha256 over every generated file's bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(kind: str, seed: int, scale: float, root: str) -> str:
    """Generate `kind` ("election" at scale factor `scale`, or
    "documents" with `scale` docs) under `root`, once per (seed, scale).
    Returns the data directory."""
    out = os.path.join(root, f"{kind}-{scale:g}-seed{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "election":
        election_tables(seed, scale, tmp)
    elif kind == "documents":
        documents_table(seed, int(scale), tmp)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(done, "w") as fh:
        fh.write(fingerprint(out) + "\n")
    return out
