"""Seeded input generator for the benchmark.

Every table is synthesised from ``numpy.random.default_rng(seed)``; the
same seed and sizes give byte-identical parquet files.  Keys are shifted
by a seed-derived offset so no two seeds share key values, and each fact
table is split into ``n_files`` part files so a scan fans out over every
core.

Shapes follow the engine's star-schema test tables (``region nation
customer supplier part orders lineitem``) and its ``documents`` corpus
(``doc_id text lang source n_chars``), so the registry queries and their
DuckDB oracles run on the output unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_DAY_US = 86_400_000_000
_ORDER_LO = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404        # 1995-01-01 .. 2001-08-01
_SHIP_LO = np.datetime64("1995-01-02", "us").astype(np.int64)
_SHIP_DAYS = 2498         # 1995-01-02 .. 2001-11-04


@dataclass
class Inputs:
    """What a workload's set-up produced: the directory the program
    reads, and per-table row and byte counts for the run record."""

    root: str
    rows: dict[str, int] = field(default_factory=dict)
    bytes: dict[str, int] = field(default_factory=dict)

    def record(self, name: str, path: str, nrows: int) -> None:
        self.rows[name] = self.rows.get(name, 0) + nrows
        self.bytes[name] = self.bytes.get(name, 0) + du(path)

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())

    @property
    def total_bytes(self) -> int:
        return sum(self.bytes.values())


def du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def write_table(inputs: Inputs, name: str, table: pa.Table,
           n_files: int = 1) -> str:
    """One file ``<name>.parquet`` when ``n_files == 1``, else a
    directory ``<name>.parquet/part-NNNNN.parquet`` of equal slices."""
    path = os.path.join(inputs.root, f"{name}.parquet")
    if n_files <= 1:
        pq.write_table(table, path)
    else:
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(path, f"part-{i:05d}.parquet"))
    inputs.record(name, path, table.num_rows)
    return path


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tpch(root: str, seed: int, n_orders: int, n_files: int) -> Inputs:
    """Star-schema tables with ``n_orders`` orders and about four
    line items per order; dimension sizes scale like TPC-H's."""
    rng = np.random.default_rng([seed, 1])
    inputs = Inputs(root)
    os.makedirs(root, exist_ok=True)
    shift = int(rng.integers(1, 1000)) * 1_000_000
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 25)
    n_part = max(n_orders * 2 // 15, 50)

    write_table(inputs, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    write_table(inputs, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    ckeys = shift + np.arange(n_cust, dtype=np.int64)
    write_table(inputs, "customer", pa.table({
        "c_custkey": ckeys,
        "c_name": _names("Customer", ckeys),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))

    skeys = shift + np.arange(n_supp, dtype=np.int64)
    write_table(inputs, "supplier", pa.table({
        "s_suppkey": skeys,
        "s_name": _names("Supplier", skeys),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))

    pkeys = shift + np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    write_table(inputs, "part", pa.table({
        "p_partkey": pkeys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1,
                                  2)}))

    okeys = shift + rng.permutation(n_orders).astype(np.int64)
    odate = _ORDER_LO + rng.integers(0, _ORDER_DAYS, n_orders) * _DAY_US
    write_table(inputs, "orders", pa.table({
        "o_orderkey": okeys,
        "o_custkey": ckeys[rng.integers(0, n_cust, n_orders)],
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)]}), n_files)

    nlines = rng.integers(1, 8, n_orders)
    n_li = int(nlines.sum())
    lorder = np.repeat(okeys, nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines.tolist()])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = pa.table({
        "l_orderkey": lorder,
        "l_partkey": pkeys[rng.integers(0, n_part, n_li)],
        "l_suppkey": skeys[rng.integers(0, n_supp, n_li)],
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _SHIP_LO + rng.integers(0, _SHIP_DAYS, n_li) * _DAY_US,
            pa.timestamp("us"))})
    # shuffle rows so every part file spans the whole key range
    write_table(inputs, "lineitem", li.take(rng.permutation(n_li)), n_files)
    return inputs


def lineitem_batch(seed: int, batch_no: int, n_rows: int) -> pa.Table:
    """A fresh lineitem-shaped batch for the ingest writes of
    ``tpch_mix``; keys lie above any key ``make_tpch`` emits."""
    rng = np.random.default_rng([seed, 2, batch_no])
    base = 10**12 + batch_no * n_rows
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    return pa.table({
        "l_orderkey": base + np.arange(n_rows, dtype=np.int64) // 4,
        "l_partkey": rng.integers(0, 10**6, n_rows),
        "l_suppkey": rng.integers(0, 10**4, n_rows),
        "l_linenumber": (np.arange(n_rows) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_rows), 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_rows)],
        "l_shipdate": pa.array(
            _SHIP_LO + rng.integers(0, _SHIP_DAYS, n_rows) * _DAY_US,
            pa.timestamp("us"))})


# ---------------------------------------------------------------- corpus
class Corpus:
    """Seeded word-salad documents plus planted near-duplicates.

    A near-duplicate copies an earlier document and edits about one
    word in twenty (substitute, insert or delete), so its 3-shingle
    Jaccard similarity to the source stays high while the exact text
    differs, and it shares long runs of 8-grams with the source.
    """

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = np.random.default_rng([seed, 3, stream])
        self.texts: dict[int, str] = {}

    def fresh(self) -> str:
        n = int(self.rng.integers(20, 101))
        return " ".join(np.array(WORDS)[self.rng.integers(0, len(WORDS),
                                                          n)].tolist())

    def near_dup(self, text: str) -> str:
        toks = text.split()
        for _ in range(max(1, len(toks) // 20)):
            i = int(self.rng.integers(0, len(toks)))
            op = int(self.rng.integers(0, 3))
            word = WORDS[int(self.rng.integers(0, len(WORDS)))]
            if op == 0:
                toks[i] = word
            elif op == 1:
                toks.insert(i, word)
            elif len(toks) > 20:
                del toks[i]
        return " ".join(toks)

    def docs(self, ids: list[int], dup_frac: float,
             sources: list[int] | None = None) -> dict[int, str]:
        """Texts for ``ids``: each is, with probability ``dup_frac``, a
        near-duplicate of a document in ``sources`` (default: every
        document this corpus made so far), else fresh."""
        out: dict[int, str] = {}
        for i in ids:
            pool = sources if sources is not None else list(self.texts)
            if pool and self.rng.random() < dup_frac:
                src = pool[int(self.rng.integers(0, len(pool)))]
                out[i] = self.near_dup(self.texts[src])
            else:
                out[i] = self.fresh()
            self.texts[i] = out[i]
        return out


def docs_table(texts: dict[int, str]) -> pa.Table:
    ids = np.fromiter(texts, np.int64, len(texts))
    body = list(texts.values())
    return pa.table({
        "doc_id": ids,
        "text": body,
        "lang": [LANGS[i % 5] for i in ids.tolist()],
        "source": [f"src{i % 20}" for i in ids.tolist()],
        "n_chars": np.array([len(t) for t in body], np.int64)})


def write_docs(inputs: Inputs, name: str, texts: dict[int, str],
               n_files: int = 1) -> str:
    return write_table(inputs, name, docs_table(texts), n_files)


def make_corpus(root: str, seed: int, n_docs: int, dup_frac: float,
                n_files: int) -> Inputs:
    """``documents`` with a fixed fraction of planted near-duplicates;
    ids are shifted by a seed-derived offset."""
    inputs = Inputs(root)
    os.makedirs(root, exist_ok=True)
    corpus = Corpus(seed, 0)
    shift = int(corpus.rng.integers(1, 1000)) * 100_000
    write_docs(inputs, "documents",
               corpus.docs([shift + i for i in range(n_docs)], dup_frac),
               n_files)
    return inputs


class IndexStream:
    """The ``index_refresh`` inputs: a base corpus (ids not divisible by
    ten), then batches made on demand in a fixed seeded sequence: insert
    batches of new corpus ids and probe batches of ids divisible by
    ten.  A probe batch plants near-duplicates of documents ingested
    before it, base or inserted, so a write changes what later reads
    find."""

    def __init__(self, root: str, seed: int, n_base: int, batch_docs: int,
                 dup_frac: float, n_files: int) -> None:
        self.inputs = Inputs(root)
        os.makedirs(root, exist_ok=True)
        self.corpus = Corpus(seed, 1)
        self.batch_docs, self.dup_frac = batch_docs, dup_frac
        shift = int(self.corpus.rng.integers(1, 1000)) * 1_000_000
        self._corpus_ids = (shift + i for i in range(10**9) if i % 10)
        self._probe_ids = (shift + i for i in range(0, 10**9, 10))
        self.ingested = [next(self._corpus_ids) for _ in range(n_base)]
        write_docs(self.inputs, "base",
                   self.corpus.docs(self.ingested, dup_frac), n_files)
        self.n = 0

    def next_batch(self, kind: str) -> tuple[str, int]:
        """Write the next batch; returns its path and row count."""
        if kind == "insert":
            ids = [next(self._corpus_ids) for _ in range(self.batch_docs)]
            texts = self.corpus.docs(ids, self.dup_frac, self.ingested)
            self.ingested += ids
        else:
            ids = [next(self._probe_ids) for _ in range(self.batch_docs)]
            texts = self.corpus.docs(ids, 3 * self.dup_frac, self.ingested)
        path = write_docs(self.inputs, f"{kind}{self.n:04d}", texts)
        self.n += 1
        return path, len(ids)
