"""The benchmark's workloads.

A workload generates its inputs from the seed, builds any persisted
state, and then hands the runner one round of operations at a time: a
seeded shuffle holding every op type in a fixed proportion.  Each op
has a ``build`` step that returns a DataFrame (the program's planning
layer, including any eager jobs it runs) and a ``run`` step that
finishes the work the way a client would: a read collects its result,
a write persists into the run's warehouse.

After the timed loop, ``check`` compares the last result of every op
type against an oracle computed by DuckDB on the same generated inputs.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle

# input-size presets; "full" follows the engine's sf0.1 test tables
# (150k orders, 5000 documents) and "tiny" is for the smoke test
SIZES = {
    "full": {"orders": 150000, "append_rows": 12000, "docs": 5000,
             "index_base": 5000, "batch_docs": 500, "probe_docs": 600},
    "tiny": {"orders": 1500, "append_rows": 120, "docs": 200,
             "index_base": 200, "batch_docs": 20, "probe_docs": 200},
}
DUP_FRAC = 0.1


@dataclass
class Ctx:
    spark: Any
    root: str          # the run's temp directory
    warehouse: str     # spark.sql.warehouse.dir, inside ``root``
    seed: int
    size: dict
    cpus: int          # Spark's local[N]
    n_files: int       # part files per fact table: one per core or more


@dataclass
class Op:
    name: str
    kind: str                                  # "read" or "write"
    rows: int                                  # input rows it reads
    build: Callable[[], Any]                   # -> DataFrame
    run: Callable[[Any], Any]                  # DataFrame -> result


class Workload:
    name = ""
    round_types: list[str] = []

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.inputs: gen.Inputs | None = None
        # op type -> the result its latest run returned
        self.last: dict[str, Any] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def rounds(self):
        """Seeded op-type order, one round at a time, forever."""
        rng = random.Random(self.ctx.seed)
        while True:
            r = list(self.round_types)
            rng.shuffle(r)
            yield r

    def warehouse_bytes(self) -> int:
        return gen.du(self.ctx.warehouse)

    def table_dir(self, table: str) -> str:
        return os.path.join(self.ctx.warehouse, table)

    def files_per_bucket(self) -> float:
        raise NotImplementedError

    # the layer probes of the traced run read these
    scan_tables: list[str] = []

    def operator_inputs(self):
        """(fact, dim, fact key, dim key, group keys, value column)."""
        raise NotImplementedError


def _collect(df):
    return df.toPandas()


# ------------------------------------------------------------- tpch_mix
TPCH_QUERIES = {
    "q01_pricing_summary": ["lineitem"],
    "q03_shipping_priority": ["customer", "orders", "lineitem"],
    "q05_nation_revenue": ["lineitem", "orders", "customer", "supplier",
                           "nation"],
    "q09_product_profit": ["lineitem", "orders", "part", "supplier",
                           "nation"],
    "q21_waiting_suppliers": ["lineitem", "orders", "supplier", "nation",
                              "region"],
}
STORE = "lineitem_store"
STORE_BUCKETS = 16


class TpchMix(Workload):
    """Star-schema queries q01/q03/q05/q09/q21 over generated tables,
    plus two appends of new line items into a bucketed warehouse table
    (core/bucketing) per round of five queries.

    The bucketed table starts from the line items of every fourth
    order: an append costs the same whatever the table holds, and a
    full copy of lineitem took 11-12 s of set-up and 6 s of the
    end-of-run check (a quarter: 7.5 s and 2.3 s, local[4])."""

    name = "tpch_mix"
    # an odd number of ops per round puts the median inside one op
    # type's latency band instead of on the gap between two types
    round_types = list(TPCH_QUERIES) + ["rf1_append"] * 2
    scan_tables = sorted({t for ts in TPCH_QUERIES.values() for t in ts})

    def generate(self) -> None:
        c = self.ctx
        self.dir = os.path.join(c.root, "tpch")
        self.inputs = gen.make_tpch(self.dir, c.seed, c.size["orders"],
                                    c.n_files)
        items = pq.read_table(os.path.join(self.dir, "lineitem.parquet"))
        every_4th = pc.equal(pc.bit_wise_and(items["l_orderkey"], 3), 0)
        self.store_base = gen.write_table(self.inputs, "store_base",
                                          items.filter(every_4th))
        self.appended: list[str] = []

    def prepare(self) -> None:
        from legate_dataframe_spark.core.bucketing import init_versioned
        from legate_dataframe_spark.sources.parquet import parquet_read

        init_versioned(self.spark, parquet_read(self.spark, self.store_base),
                       STORE, ["l_orderkey"], num_buckets=STORE_BUCKETS)
        self.ingested = self.inputs.bytes["store_base"]

    def op(self, name: str) -> Op:
        from legate_dataframe_spark.plans.registry import QUERIES

        if name in TPCH_QUERIES:
            fn = QUERIES[name].__wrapped__
            rows = sum(self.inputs.rows[t] for t in TPCH_QUERIES[name])
            return Op(name, "read", rows, lambda: fn(self.spark, self.dir),
                      _collect)
        return self._append_op()

    def _append_op(self) -> Op:
        from legate_dataframe_spark.core.bucketing import append_versioned
        from legate_dataframe_spark.sources.parquet import parquet_read

        n, rows = len(self.appended), self.ctx.size["append_rows"]
        path = gen.write_table(self.inputs, f"append{n:04d}",
                               gen.lineitem_batch(self.ctx.seed, n, rows))
        self.appended.append(path)
        self.ingested += gen.du(path)

        def run(df):
            append_versioned(self.spark, df, STORE, ["l_orderkey"],
                             num_buckets=STORE_BUCKETS)
            return len(self.appended)

        return Op("rf1_append", "write", rows,
                  lambda: parquet_read(self.spark, path), run)

    def check(self) -> dict[str, list[str]]:
        from legate_dataframe_spark.core.bucketing import read_bucketed
        from legate_dataframe_spark.plans.registry import ORACLES

        con = oracle.connect({t: os.path.join(self.dir, f"{t}.parquet")
                              for t in self.scan_tables})
        out = {q: oracle.compare(self.last[q], con.execute(ORACLES[q]).df())
               for q in TPCH_QUERIES if q in self.last}
        if "rf1_append" in self.last:
            con = oracle.connect({"lineitem": [self.store_base]
                                  + self.appended})
            out["rf1_append"] = oracle.compare(
                read_bucketed(self.spark, STORE).toPandas(),
                con.execute("SELECT * FROM lineitem").df())
        return out

    def files_per_bucket(self) -> float:
        from legate_dataframe_spark.core.bucketing import (
            current_generation_table,
        )

        return _data_files(self.table_dir(
            current_generation_table(self.spark, STORE))) / STORE_BUCKETS

    def operator_inputs(self):
        from legate_dataframe_spark.plans.registry import load_table

        return (load_table(self.spark, self.dir, "lineitem"),
                load_table(self.spark, self.dir, "orders"),
                "l_orderkey", "o_orderkey",
                ["l_returnflag", "l_linestatus"], "l_extendedprice")

    def docs_path(self) -> str:
        """A small corpus for the pipeline probes of the traced run;
        the timed workload never reads it."""
        root = os.path.join(self.ctx.root, "probe_docs")
        if not os.path.isdir(root):
            gen.make_corpus(root, self.ctx.seed, self.ctx.size["probe_docs"],
                            DUP_FRAC, self.ctx.n_files)
        return os.path.join(root, "documents.parquet")


def _data_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _doc_operator_inputs(spark, path: str):
    from legate_dataframe_spark.sources.parquet import parquet_read

    docs = parquet_read(spark, path)
    dim = docs.selectExpr("doc_id AS dim_id", "lang AS dim_lang")
    return docs, dim, "doc_id", "dim_id", ["source"], "n_chars"


# --------------------------------------------------------- corpus_clean
CORPUS_READS = ["dedup_minhash", "dedup_clusters"]
CORPUS_WRITES = ["clean_corpus_onepass", "substring_span_removal"]


class CorpusClean(Workload):
    """Training-data cleaning over a generated corpus with a fixed
    near-duplicate fraction: pair and cluster reports are collected,
    cleaned corpora are written to the warehouse."""

    name = "corpus_clean"
    round_types = CORPUS_READS + CORPUS_WRITES
    scan_tables = ["documents"]

    def generate(self) -> None:
        c = self.ctx
        self.dir = os.path.join(c.root, "corpus")
        self.inputs = gen.make_corpus(self.dir, c.seed, c.size["docs"],
                                      DUP_FRAC, c.n_files)
        self.ingested = self.inputs.total_bytes

    def prepare(self) -> None:
        pass

    def op(self, name: str) -> Op:
        from legate_dataframe_spark.plans.registry import QUERIES
        from legate_dataframe_spark.sources.parquet import parquet_write

        fn = QUERIES[name].__wrapped__
        rows = self.inputs.rows["documents"]
        build = lambda: fn(self.spark, self.dir)  # noqa: E731
        if name in CORPUS_READS:
            return Op(name, "read", rows, build, _collect)
        out = self.table_dir(name)

        def run(df):
            parquet_write(df, out)
            return out

        return Op(name, "write", rows, build, run)

    def check(self) -> dict[str, list[str]]:
        import pandas as pd

        from legate_dataframe_spark.plans.registry import ORACLES

        con = oracle.connect({"documents": os.path.join(
            self.dir, "documents.parquet")})
        out = {}
        for name, got in self.last.items():
            if name in CORPUS_WRITES:
                got = pd.concat([pq.read_table(os.path.join(got, f))
                                 .to_pandas() for f in sorted(os.listdir(got))
                                 if f.endswith(".parquet")])
            out[name] = oracle.compare(got, con.execute(ORACLES[name]).df())
        return out

    def files_per_bucket(self) -> float:
        """No bucketed table here: data files per written output."""
        outs = [self.table_dir(n) for n in CORPUS_WRITES]
        outs = [p for p in outs if os.path.isdir(p)]
        return sum(_data_files(p) for p in outs) / max(len(outs), 1)

    def operator_inputs(self):
        return _doc_operator_inputs(
            self.spark, os.path.join(self.dir, "documents.parquet"))

    def docs_path(self) -> str:
        return os.path.join(self.dir, "documents.parquet")


# -------------------------------------------------------- index_refresh
INDEX = "idx"
INDEX_BUCKETS = 16  # build_minhash_index's default


class IndexRefresh(Workload):
    """A persisted minhash index built during set-up, then one insert
    batch (``dedup.insert_into_minhash_index``, appending through
    core/bucketing) for every three probe batches
    (``dedup.incremental_minhash_dedup``) that plant near-duplicates of
    documents ingested before them."""

    name = "index_refresh"
    round_types = ["insert", "probe", "probe", "probe"]
    scan_tables = ["base"]

    def generate(self) -> None:
        c = self.ctx
        self.dir = os.path.join(c.root, "index")
        self.stream = gen.IndexStream(self.dir, c.seed,
                                      c.size["index_base"],
                                      c.size["batch_docs"], DUP_FRAC,
                                      c.n_files)
        self.inputs = self.stream.inputs
        self.base = os.path.join(self.dir, "base.parquet")
        self.ingested = self.inputs.total_bytes
        self.inserted: list[str] = []
        self.last_probe_view: list[str] = []

    def prepare(self) -> None:
        from legate_dataframe_spark.core.caching import release_caches
        from legate_dataframe_spark.pipeline.dedup import build_minhash_index
        from legate_dataframe_spark.sources.parquet import parquet_read

        build_minhash_index(self.spark, parquet_read(self.spark, self.base),
                            INDEX)
        release_caches()

    def op(self, name: str) -> Op:
        from legate_dataframe_spark.pipeline import dedup
        from legate_dataframe_spark.sources.parquet import parquet_read

        path, rows = self.stream.next_batch(name)
        build_batch = lambda: parquet_read(self.spark, path)  # noqa: E731
        if name == "insert":
            self.inserted.append(path)
            self.ingested += gen.du(path)

            def run(df):
                dedup.insert_into_minhash_index(self.spark, df, INDEX)
                return list(self.inserted)

            return Op(name, "write", rows, build_batch, run)

        view = [self.base] + self.inserted + [path]

        def run(df):
            self.last_probe_view = view
            return df.toPandas()

        return Op(name, "read", rows, lambda: dedup.incremental_minhash_dedup(
            self.spark, build_batch(), INDEX), run)

    def check(self) -> dict[str, list[str]]:
        from legate_dataframe_spark.core.bucketing import read_bucketed
        from legate_dataframe_spark.plans.round5 import INCREMENTAL_DEDUP_SQL

        out = {}
        if "probe" in self.last:
            con = oracle.connect({"documents": self.last_probe_view})
            out["probe"] = oracle.compare(
                self.last["probe"], con.execute(INCREMENTAL_DEDUP_SQL).df())
        if "insert" in self.last:
            con = oracle.connect({"documents": [self.base] + self.inserted})
            want = con.execute("SELECT doc_id AS id FROM documents").df()
            sh = read_bucketed(self.spark, f"{INDEX}_shingles")
            bands = read_bucketed(self.spark, f"{INDEX}_bands")
            out["insert"] = (
                oracle.compare(sh.select("id").toPandas(), want)
                + oracle.compare(bands.groupBy("id").count().toPandas(),
                                 want.assign(count=4)))
        return out

    def files_per_bucket(self) -> float:
        from legate_dataframe_spark.core.bucketing import (
            current_generation_table,
        )

        return _data_files(self.table_dir(current_generation_table(
            self.spark, f"{INDEX}_bands"))) / INDEX_BUCKETS

    def operator_inputs(self):
        return _doc_operator_inputs(self.spark, self.base)

    def docs_path(self) -> str:
        return self.base


WORKLOADS = {w.name: w for w in (TpchMix, CorpusClean, IndexRefresh)}
