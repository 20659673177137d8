"""The benchmark's workloads: seeded op lists and their correctness checks.

Each workload yields one *pass* at a time: a fixed list of ops whose kinds
and counts do not depend on the seed; the seed only orders them and draws
their parameters (key windows, catalog switches, store cuts).  An op is
one ``read_sql`` call, one registry entry written to the noop sink, or one
store call.

An op's ``check`` runs right after the op, outside its wall time, and only
reduces the output to what verification needs; it returns the check proper
(or None), which the worker runs after the timed region, so no oracle work
falls inside set-up, the timed loop or the peak-RSS window.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

from tests.oracle_utils import assert_match, duckdb_con


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    #: reduces the op's output; returns a deferred check raising AssertionError
    check: Callable[[Any], Callable[[], None] | None] | None = None


@dataclass
class Ctx:
    spark: Any
    data: dict[str, str]      # catalog name -> parquet directory
    seed: int
    tracer: Any
    scratch: str              # per-run directory, removed after the run
    duck: dict = field(default_factory=dict)

    def con(self, sf: str):
        if sf not in self.duck:
            self.duck[sf] = duckdb_con(self.data[sf])
        return self.duck[sf]

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])


def _parquet_col(path: str, col: str) -> np.ndarray:
    return pq.read_table(path, columns=[col]).column(col).to_numpy()


def _key_domain(path: str, col: str) -> tuple[int, int]:
    """MIN/MAX of ``col`` from the parquet footer (benchmark side, no Spark)."""
    meta = pq.read_metadata(path)
    idx = meta.schema.to_arrow_schema().get_field_index(col)
    stats = [meta.row_group(i).column(idx).statistics for i in range(meta.num_row_groups)]
    return min(s.min for s in stats), max(s.max for s in stats)


def _type_family(t: str) -> str:
    t = t.lower()
    for fam, keys in (
        ("int", ("int",)), ("float", ("double", "float")),
        ("str", ("string", "varchar", "utf8")), ("ts", ("timestamp",)),
        ("date", ("date",)), ("list", ("list", "[]")),
    ):
        if any(k in t for k in keys):
            return fam
    return t


# ---------------------------------------------------------------------------
# load_arrow: io.read_sql into caller-process memory
# ---------------------------------------------------------------------------


class LoadArrow:
    """The paper's metric: ``read_sql`` to an Arrow table (or pandas) in the
    caller's process, over the sf0.1 catalog with a minority of ops on
    sf0.01 (each switch re-registers the session's temp views)."""

    name = "load_arrow"
    MIN_PASSES = 1
    #: op kind -> count per pass; the seed orders them and draws parameters
    MIX = {
        "full_p4": 1, "full_unpart": 1, "narrow_p4": 1, "key_window": 5,
        "orders_pandas": 1, "multi_query": 1,
    }
    SMALL = ("key_window",)  # run against sf0.01, one each per pass

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self._want: dict[tuple, tuple] = {}
        self.domain = {
            sf: _key_domain(os.path.join(d, "lineitem.parquet"), "l_orderkey")
            for sf, d in ctx.data.items()
        }

    def inputs(self) -> dict:
        return {"catalogs": sorted(self.ctx.data),
                "ops_per_pass": sum(self.MIX.values()) + len(self.SMALL)}

    def setup(self) -> None:
        pass

    def _read(self, sf: str, query, **kw):
        import conecta_spark as cs

        return cs.read_sql(self.ctx.data[sf], query, spark=self.ctx.spark, **kw)

    def _op(self, kind: str, sf: str, rng: np.random.Generator) -> Op:
        li = "select * from lineitem"
        if kind == "full_p4":
            args = (li, dict(partition_on="l_orderkey", partition_num=4, return_backend="pyarrow"))
        elif kind == "full_unpart":
            args = (li, dict(return_backend="pyarrow"))
        elif kind == "narrow_p4":
            args = ("select l_orderkey from lineitem",
                    dict(partition_on="l_orderkey", partition_num=4, return_backend="pyarrow"))
        elif kind == "key_window":
            lo_key, hi_key = self.domain[sf]
            width = int((hi_key - lo_key) * rng.uniform(0.01, 0.10))
            lo = int(rng.integers(lo_key, hi_key - width))
            args = (li, dict(partition_on="l_orderkey", partition_range=(lo, lo + width),
                             partition_num=4, return_backend="pyarrow"))
        elif kind == "orders_pandas":
            args = ("select * from orders", dict(return_backend="pandas"))
        elif kind == "multi_query":
            cut = int(rng.integers(*self.domain[sf]))  # l_orderkey spans o_orderkey
            args = ([f"select * from orders where o_orderkey < {cut}",
                     f"select * from orders where o_orderkey >= {cut}"],
                    dict(return_backend="pyarrow"))
        else:
            raise ValueError(kind)
        query, kw = args
        label = kind if sf == "sf0.1" else f"{kind}@{sf}"
        return Op(label, lambda: self._read(sf, query, **kw),
                  lambda out: self._digest(sf, query, kw, out))

    def _digest(self, sf: str, query, kw: dict, out) -> Callable[[], None]:
        """Rows, key sum and schema of the output now; the DuckDB
        comparison later."""
        queries = (query,) if isinstance(query, str) else tuple(query)
        key = "o_orderkey" if "orders" in queries[0] else "l_orderkey"
        where = ""
        if kw.get("partition_range"):
            lo, hi = kw["partition_range"]
            where = f" where {key} >= {lo} and {key} <= {hi}"
        elif kw.get("partition_on"):
            where = f" where {key} is not null"
        if kw["return_backend"] == "pandas":
            got = (len(out), int(out[key].sum()), list(out.columns))
        else:
            got = (out.num_rows,
                   int(out.column(key).to_numpy().sum()) if out.num_rows else 0,
                   [(f.name, _type_family(str(f.type))) for f in out.schema])

        def check() -> None:
            rows, keysum, schema = self._expected(sf, queries, key, where)
            if kw["return_backend"] == "pandas":
                schema = [c for c, _ in schema]
            assert got[2] == schema, f"schema {got[2]} vs duckdb {schema}"
            assert got[:2] == (rows, keysum), (
                f"rows/keysum {got[:2]} vs duckdb {(rows, keysum)}"
            )
        return check

    def _expected(self, sf: str, queries: tuple, key: str, where: str):
        """(rows, key sum, schema) of the op's result, computed by DuckDB
        once per distinct op."""
        k = (sf, queries, key, where)
        if k not in self._want:
            con = self.ctx.con(sf)
            rows = keysum = 0
            for q in queries:
                r, s = con.sql(f"select count(*), sum({key}) from ({q}) t{where}").fetchone()
                rows, keysum = rows + r, keysum + int(s or 0)
            rel = con.sql(f"select * from ({queries[0]}) t limit 0")
            schema = [(c, _type_family(str(t))) for c, t in zip(rel.columns, rel.types)]
            self._want[k] = rows, keysum, schema
        return self._want[k]

    def pass_ops(self, k: int) -> list[Op]:
        rng = self.ctx.rng(1, k + 1)  # k = -1 is set-up's warm-up pass
        kinds = [kind for kind, n in self.MIX.items() for _ in range(n)]
        kinds = [kinds[i] for i in rng.permutation(len(kinds))]
        ops = [self._op(kind, "sf0.1", rng) for kind in kinds]
        # small-catalog ops at distinct interior gaps, so every one of them
        # switches the session's views away from sf0.1 and back
        gaps = sorted(rng.choice(np.arange(1, len(ops)), len(self.SMALL), replace=False))
        for gap, kind in reversed(list(zip(gaps, self.SMALL))):
            ops.insert(int(gap), self._op(kind, "sf0.01", rng))
        return ops

    def finish(self) -> dict[str, str]:
        return {}

    def layer_metrics(self, passes: int) -> dict:
        return {}


# ---------------------------------------------------------------------------
# corpus_mix: registry entries to the noop sink plus one store ingest round
# ---------------------------------------------------------------------------


class _Collected:
    """What :func:`assert_match` reads of a DataFrame, collected once."""

    def __init__(self, df):
        self.columns, self.schema, self._rows = df.columns, df.schema, df.collect()

    def collect(self):
        return self._rows


def _dir_files(path: str):
    for d, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(d, name))
            yield st.st_size, st.st_mtime_ns


class CorpusMix:
    """Delegated-SQL and corpus-operator registry entries over sf0.01 to
    the noop sink, plus one daily-ingest round of the public store API on
    fresh store directories.  Spark's cache is cleared once per pass."""

    name = "corpus_mix"
    #: one pass is ~15 s of ops whose JIT and box noise is shared per run;
    #: the median of two damps it
    MIN_PASSES = 2
    SF = "sf0.01"
    ENTRIES = (
        # delegated SQL: aggregate, TPC-H-shaped join
        "q12_groupby_agg", "q30_tpch_q10_shape",
        # corpus operators: a mapInPandas miner in functions/, the spread()
        # span family; the store round runs the MinHash miner's shingle and
        # signature stages and the IVF search of operators/simsearch.py
        "x31_contamination", "x40_span_dedup",
    )
    #: the store round, in call order
    STORE_OPS = (
        "store.build", "ann.build", "store.mine", "store.append", "ann.append",
        "ann.search", "store.compact", "ann.compact",
    )
    N_QUERIES = 8  # ANN search panel

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from conecta_spark.queries import REGISTRY, _load_extensions

        _load_extensions()
        self.ctx, self.F = ctx, F
        self.registry = REGISTRY
        self.sf_dir = ctx.data[self.SF]
        self.stores = os.path.join(ctx.scratch, "stores")
        rng = ctx.rng(2)
        # base store = a seed-chosen ~60% of the ids; the ingested batch =
        # the next ~20%
        ids = {t: np.sort(_parquet_col(os.path.join(self.sf_dir, f"{t}.parquet"), c))
               for t, c in (("documents", "doc_id"), ("embeddings", "vec_id"))}
        self.cuts = {}
        for t, v in ids.items():
            a = int(len(v) * rng.uniform(0.55, 0.65))
            b = a + int(len(v) * rng.uniform(0.15, 0.25))
            self.cuts[t] = (int(v[a]), int(v[b]))
        v_lo, v_hi = self.cuts["embeddings"]
        base_q = rng.choice(ids["embeddings"][ids["embeddings"] < v_lo], self.N_QUERIES // 2,
                            replace=False)
        new_q = rng.choice(ids["embeddings"][(ids["embeddings"] >= v_lo)
                                             & (ids["embeddings"] < v_hi)],
                           self.N_QUERIES // 2, replace=False)
        self.query_ids = sorted(int(i) for i in (*base_q, *new_q))
        self.pairs: list[frozenset] = []   # mined pairs of every pass
        self.searches: dict[int, list] = {}  # pass -> search result
        self.store_io: list[dict] = []     # per pass: bytes written, files

    def inputs(self) -> dict:
        return {"catalog": self.SF, "cuts": self.cuts,
                "ops_per_pass": len(self.ENTRIES) + len(self.STORE_OPS)}

    def setup(self) -> None:
        os.makedirs(self.stores)

    # -- registry entries ----------------------------------------------------

    def _entry(self, name: str, collect: bool) -> Op:
        """The entry to the noop sink; collected instead in the warm-up
        pass, whose result is the one checked against the oracle."""
        tracer = self.ctx.tracer

        def run():
            with tracer.span("queries.build"):
                df = self.registry[name].fn(self.ctx.spark, self.sf_dir)
            with tracer.span("queries.exec"):
                if collect:
                    return _Collected(df)
                df.write.format("noop").mode("overwrite").save()

        def check(out):
            def against_oracle():
                rows = assert_match(name, out, self.ctx.con(self.SF), self.registry[name].oracle)
                assert rows > 0, f"{name}: 0 rows on both engines proves nothing"
            return against_oracle
        return Op(name, run, check if collect else None)

    # -- store round ---------------------------------------------------------

    def _frames(self):
        F, spark = self.F, self.ctx.spark
        docs = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        vecs = spark.read.parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        (d_lo, d_hi), (v_lo, v_hi) = self.cuts["documents"], self.cuts["embeddings"]
        return (docs.where(F.col("doc_id") < d_lo),
                docs.where((F.col("doc_id") >= d_lo) & (F.col("doc_id") < d_hi)),
                vecs.where(F.col("vec_id") < v_lo),
                vecs.where((F.col("vec_id") >= v_lo) & (F.col("vec_id") < v_hi)))

    def _store_ops(self, k: int) -> list[Op]:
        from conecta_spark.operators import ann_store as an
        from conecta_spark.operators import minhash_store as ms

        spark, tracer = self.ctx.spark, self.ctx.tracer
        root = os.path.join(self.stores, f"pass{k}")
        sig, ann = os.path.join(root, "sig"), os.path.join(root, "ann")
        base, batch, vbase, vbatch = self._frames()
        calls = {
            "store.build": lambda: ms.write_signature_store(base, sig),
            "ann.build": lambda: an.write_ann_store(vbase, ann),
            "store.mine": lambda: frozenset(
                (r.doc_a, r.doc_b) for r in ms.incremental_pairs_stored(spark, sig, batch).collect()
            ),
            "store.append": lambda: ms.append_batch(spark, sig, batch, batch_id="b1"),
            "ann.append": lambda: an.append_ann_batch(spark, ann, vbatch, batch_id="b1"),
            "ann.search": lambda: sorted(
                tuple(r) for r in an.ann_store_search(spark, ann, self.query_ids).collect()
            ),
            "store.compact": lambda: ms.compact_store(spark, sig),
            "ann.compact": lambda: an.compact_ann_store(spark, ann),
        }
        self.store_io.append({"written": {}, "files": 0, "bytes": 0})
        io = self.store_io[-1]

        def op(kind: str) -> Op:
            started = {}

            def run():
                started["ns"] = time.time_ns()
                with tracer.span(kind):
                    return calls[kind]()

            def check(out):
                if tracer.enabled:
                    files = list(_dir_files(root))
                    io["written"][kind] = sum(s for s, t in files if t >= started["ns"])
                    io["files"], io["bytes"] = len(files), sum(s for s, _ in files)
                    if kind == "ann.compact":
                        io["compacted_bytes"] = io["bytes"]
                if kind == "store.mine":
                    self.pairs.append(out)
                elif kind == "ann.search":
                    self.searches[k] = out
                return None
            return Op(kind, run, check)

        return [op(kind) for kind in self.STORE_OPS]

    def pass_ops(self, k: int) -> list[Op]:
        """Clears Spark's cache, then the pass's entries in seeded order
        with the store round as one block at a seeded position."""
        self.ctx.spark.catalog.clearCache()
        # the previous pass's stores (pass-1 is the warm-up's) are no longer read
        shutil.rmtree(os.path.join(self.stores, f"pass{k - 1}"), ignore_errors=True)
        rng = self.ctx.rng(1, k + 1)  # k = -1 is set-up's warm-up pass
        ops = [self._entry(self.ENTRIES[i], k < 0) for i in rng.permutation(len(self.ENTRIES))]
        at = int(rng.integers(0, len(ops) + 1))
        return ops[:at] + self._store_ops(k) + ops[at:]

    # -- verification, after the timed region ----------------------------------

    def finish(self) -> dict[str, str]:
        """Every mined pair set against a one-shot mine; the last pass's ANN
        search against the same search on its store after compaction."""
        from conecta_spark.operators.ann_store import ann_store_search
        from conecta_spark.operators.dedup import minhash_lsh_pairs

        failures = {}
        base, batch, _, _ = self._frames()
        d_lo = self.cuts["documents"][0]
        want = frozenset(
            (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(base.unionByName(batch)).collect()
            if r.doc_a >= d_lo or r.doc_b >= d_lo
        )
        bad = [p for p in self.pairs if p != want]
        if bad or not want:
            failures["store.mine"] = (
                f"{len(bad)} of {len(self.pairs)} mines differ from the one-shot mine's "
                f"{len(want)} pairs with a new side"
            )
        k = max(self.searches)
        ann = os.path.join(self.stores, f"pass{k}", "ann")
        after = sorted(tuple(r) for r in
                       ann_store_search(self.ctx.spark, ann, self.query_ids).collect())
        if after != self.searches[k] or not after:
            failures["ann.search"] = f"pass {k}: search results changed by compaction"
        return failures

    def layer_metrics(self, passes: int) -> dict:
        """Store write volume and amplification of the timed passes: bytes
        written per pass, written ÷ ingested batch bytes, bytes on disk after
        compaction ÷ a one-shot store of the same rows, files at pass end."""
        from conecta_spark.operators import ann_store as an
        from conecta_spark.operators import minhash_store as ms

        base, batch, vbase, vbatch = self._frames()
        ref = os.path.join(self.stores, "reference")
        batch.write.parquet(os.path.join(ref, "batch", "docs"))
        vbatch.write.parquet(os.path.join(ref, "batch", "vecs"))
        ms.write_signature_store(base.unionByName(batch), os.path.join(ref, "sig"))
        an.write_ann_store(vbase.unionByName(vbatch), os.path.join(ref, "ann"))
        ingested = sum(s for s, _ in _dir_files(os.path.join(ref, "batch")))
        one_shot = sum(s for s, _ in _dir_files(ref)) - ingested
        timed = self.store_io[-passes:]
        appended = ("store.append", "ann.append", "store.compact", "ann.compact")

        def mean(f):
            return sum(f(io) for io in timed) / len(timed)

        return {
            "store.write_mb": mean(lambda io: sum(io["written"].values())) / 2**20,
            "store.write_amp": mean(lambda io: sum(io["written"][k] for k in appended)) / ingested,
            "store.space_amp": mean(lambda io: io["compacted_bytes"]) / one_shot,
            "store.files": mean(lambda io: io["files"]),
        }


WORKLOADS = {w.name: w for w in (LoadArrow, CorpusMix)}
