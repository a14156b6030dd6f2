"""The three benchmark workloads.

Each workload generates its seeded inputs under a directory (``prepare``),
yields the operations of one timed pass (``ops``), and checks the engine's
results against an independent reference once per run (``check``). An
operation is the unit whose latency is timed: a catalog query, one feature
store call on one store, or one operator call.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen


@dataclass
class Op:
    name: str
    layer: str
    fn: Callable[[], object]
    rows: int  # input rows the operation reads
    writes: bool = False  # diff the table roots around it in traced passes


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def canon(df: pd.DataFrame, digits: int | None = None) -> pd.DataFrame:
    """Column-sorted, row-sorted, dtype-normalized copy; the comparison
    form of the engine's DuckDB oracle check."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif digits is not None and pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(digits)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> int:
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def same_frame(a: pd.DataFrame, b: pd.DataFrame, digits: int | None = None) -> str | None:
    """None when equal as multisets of rows, else what differs."""
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if sorted(map(str.lower, a.columns)) != sorted(map(str.lower, b.columns)):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if value_hash(canon(a, digits)) != value_hash(canon(b, digits)):
        return "value-hash mismatch"
    return None


def disk_bytes(roots: list[str]) -> int:
    return sum(listing(roots).values())


def listing(roots: list[str]) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # removed by a concurrent maintenance step
    return out


class Workload:
    name = ""
    #: expected seconds of one pass on a 4-core box; the timed phase runs
    #: ceil(--seconds / nominal_pass_s) passes, rounded up to a multiple of
    #: ``pass_multiple``, so every run of a workload times the same ops
    nominal_pass_s = 1.0
    pass_multiple = 1
    #: untimed passes before the timed phase; the JVM's JIT keeps the
    #: first pass measurably slower and busier
    warmup_passes = 1

    def __init__(self, spark, seed: int, smoke: bool):
        self.spark, self.seed, self.smoke = spark, seed, smoke
        self.input_rows = self.input_bytes = self.input_files = 0

    def prepare(self, root: str) -> None:
        raise NotImplementedError

    def ops(self, pass_no: int) -> list[Op]:
        """The operations of one pass; warm-up passes are numbered < 0."""
        raise NotImplementedError

    def timed_passes(self, seconds: float) -> int:
        m = self.pass_multiple
        return m * max(1, math.ceil(seconds / self.nominal_pass_s / m))

    def table_roots(self) -> list[str]:
        """Directories the workload writes to; storage metrics diff them."""
        raise NotImplementedError

    def space_roots(self) -> list[str]:
        return self.table_roots()

    def live_bytes(self) -> int:
        """Arrow in-memory bytes of the live user data under space_roots."""
        raise NotImplementedError

    def space_amp(self) -> float:
        return disk_bytes(self.space_roots()) / self.live_bytes()

    def after_traced_pass(self) -> None:
        """Untimed probes after each traced pass."""

    def files_kept_frac(self) -> float:
        return 0.0

    def check(self) -> list[tuple[str, str | None]]:
        raise NotImplementedError

    def _record_inputs(self, root: str) -> None:
        files = listing([root])
        self.input_files = len(files)
        self.input_bytes = sum(files.values())


# ---------------------------------------------------------------------------
# olap_read
# ---------------------------------------------------------------------------

OLAP_QUERIES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q5_local_supplier_volume": ["customer", "orders", "lineitem", "supplier", "nation"],
    "q18_large_orders": ["orders", "customer", "lineitem"],
    "q21_sole_late_supplier": ["supplier", "lineitem", "orders"],
    "e3_join_broadcast": ["lineitem", "orders", "customer", "nation", "region"],
    "e4_cube": ["lineitem"],
    "e5_window_rank": ["orders"],
    "e12_pit_multi": ["events"],
    "e12_rolling_features": ["events"],
}


class OlapRead(Workload):
    """Read-only catalog queries with DuckDB twins, each to the noop sink,
    over single-file tables. The seed sets the query order of each pass."""

    name = "olap_read"
    nominal_pass_s = 3.0

    def __init__(self, spark, seed, smoke):
        super().__init__(spark, seed, smoke)
        from feature_store_ml_spark import queries as catalog

        self.catalog = catalog
        self.fns = catalog.queries()
        self.sf = 0.001 if smoke else 0.02

    def prepare(self, root: str) -> None:
        self.tables = datagen.tpch_tables(self.seed, self.sf)
        self.data = f"{root}/data"
        datagen.write_single(self.tables, self.data)
        self.rows = {n: len(t) for n, t in self.tables.items()}
        self.input_rows = sum(self.rows.values())
        self._record_inputs(self.data)

    def ops(self, pass_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, 3, pass_no + self.warmup_passes])
        order = rng.permutation(list(OLAP_QUERIES))
        return [self._op(str(q)) for q in order]

    def _op(self, q: str) -> Op:
        fn = self.fns[q]
        return Op(
            q, "queries",
            lambda: noop(fn(self.spark, self.data)),
            sum(self.rows[t] for t in OLAP_QUERIES[q]),
        )

    def table_roots(self) -> list[str]:
        return [self.data]

    def live_bytes(self) -> int:
        return sum(t.nbytes for t in self.tables.values())

    def check(self):
        con = duckdb.connect()
        for t in self.tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        oracle = self.catalog.oracle_sql()
        out = []
        for q in OLAP_QUERIES:
            got = self.fns[q](self.spark, self.data).toPandas()
            out.append((q, same_frame(got, con.sql(oracle[q]).df())))
        con.close()
        return out


# ---------------------------------------------------------------------------
# feature_store
# ---------------------------------------------------------------------------

FG_NAME = "cust_orders"
FG_SQL = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_spent,
       MAX(o_orderdate) AS feature_ts,
       CAST(MAX(o_day) AS INT) AS last_day
FROM {src} GROUP BY o_custkey
"""
CORRECT_SET = {"n_orders": "n_orders + 1", "total_spent": "total_spent + 1.5"}


def _build_features(df):
    from pyspark.sql import functions as F

    return df.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(30,8)")), 2)
        .cast("double").alias("total_spent"),
        F.max("o_orderdate").alias("feature_ts"),
        F.max("o_day").cast("int").alias("last_day"),
    )


class FeatureStoreBatches(Workload):
    """Daily batches against a Delta and an Iceberg ``FeatureStore`` over
    the same feature group: upsert, retract, correct, a skipping read and a
    point-in-time serve on each store; ``maintain`` every ``k``-th batch,
    starting with the warm-up batch, so every timed round of ``k`` batches
    is one whole maintenance cycle."""

    name = "feature_store"
    k = 2
    nominal_pass_s = 4.5
    pass_multiple = k

    def __init__(self, spark, seed, smoke):
        super().__init__(spark, seed, smoke)
        self.n_cust = 300 if smoke else 3000
        self.n_orders = 3000 if smoke else 30000
        self.slice_rows = 200 if smoke else 1500
        self.n_batches = 40
        self.done: list[int] = []  # batch indices run, in order
        self.skip = {"kept": 0, "total": 0}

    def prepare(self, root: str) -> None:
        from feature_store_ml_spark.feature_store import FeatureGroup, FeatureStore

        rng = np.random.default_rng([self.seed, 4])
        self.src = f"{root}/src"
        os.makedirs(self.src, exist_ok=True)
        day = rng.integers(0, datagen.ORDER_DAYS, self.n_orders)
        base = pa.table({
            "o_orderkey": pa.array(np.arange(self.n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, self.n_cust, self.n_orders), pa.int64()),
            "o_totalprice": datagen.money(rng, 1000.0, 500_000.0, self.n_orders),
            "o_orderdate": datagen.timestamps(datagen.EPOCH_1995 + day * datagen.DAY_US),
            "o_day": pa.array(day, pa.int32()),
        })
        pq.write_table(base, f"{self.src}/orders.parquet")
        self.batches = []
        for b in range(self.n_batches):
            pick = rng.choice(self.n_orders, self.slice_rows, replace=False)
            bday = datagen.ORDER_DAYS + b
            sl = base.take(pick)
            sl = sl.set_column(2, "o_totalprice", pa.array(np.round(
                sl["o_totalprice"].to_numpy() * rng.uniform(0.9, 1.1, len(pick)), 2)))
            ts = bday * datagen.DAY_US + rng.integers(0, datagen.DAY_US, len(pick))
            sl = sl.set_column(
                3, "o_orderdate", datagen.timestamps(datagen.EPOCH_1995 + ts)
            )
            sl = sl.set_column(4, "o_day", pa.array(np.full(len(pick), bday), pa.int32()))
            pq.write_table(sl, f"{self.src}/batch{b}.parquet")
            labels = pa.table({
                "o_custkey": pa.array(rng.integers(0, self.n_cust, 500), pa.int64()),
                "label_ts": datagen.timestamps(datagen.EPOCH_1995 + rng.integers(
                    datagen.ORDER_DAYS // 2, bday + 1, 500) * datagen.DAY_US),
            })
            pq.write_table(labels, f"{self.src}/labels{b}.parquet")
            lo = int(rng.integers(0, self.n_cust - self.n_cust // 20))
            self.batches.append({
                "retract": sorted(int(x) for x in rng.choice(self.n_cust, 5, replace=False)),
                "correct": f"o_custkey >= {lo} AND o_custkey < {lo + self.n_cust // 20}",
                "read": f"last_day >= {bday - 1}",
            })
        group = FeatureGroup(FG_NAME, ("o_custkey",), "feature_ts", _build_features)
        self.stores = {}
        for fmt in ("delta", "iceberg"):
            st = FeatureStore(f"{root}/{fmt}", table_format=fmt)
            st.register(group)
            orders = self.spark.read.parquet(f"{self.src}/orders.parquet")
            st.materialize(self.spark, orders, FG_NAME)
            self.stores[fmt] = st
        self.done = []
        self.input_rows = self.n_orders + self.n_batches * (self.slice_rows + 505)
        self._record_inputs(self.src)

    def ops(self, pass_no: int) -> list[Op]:
        b = len(self.done)
        if b >= self.n_batches:
            raise RuntimeError("feature_store: out of pre-generated batches")
        self.done.append(b)
        spec, spark, ops = self.batches[b], self.spark, []
        for fmt, st in self.stores.items():
            def upsert(st=st):
                rows = spark.read.parquet(f"{self.src}/batch{b}.parquet")
                st.materialize_upsert(spark, rows, FG_NAME, b + 1)

            def retract(st=st):
                ents = spark.createDataFrame([(k,) for k in spec["retract"]], "o_custkey bigint")
                st.retract(spark, FG_NAME, ents, run_version=b + 1)

            def correct(st=st):
                st.correct(spark, FG_NAME, dict(CORRECT_SET), spec["correct"], run_version=b + 1)

            def read(st=st):
                noop(st.read(spark, FG_NAME, where=spec["read"]))

            def serve(st=st):
                labels = spark.read.parquet(f"{self.src}/labels{b}.parquet")
                noop(st.serve(spark, labels, "label_ts"))

            ops += [
                Op(f"{fmt}.upsert", "feature_store", upsert, self.slice_rows, True),
                Op(f"{fmt}.retract", "feature_store", retract, 5, True),
                Op(f"{fmt}.correct", "feature_store", correct, self.n_cust, True),
                Op(f"{fmt}.read", "feature_store", read, self.n_cust),
                Op(f"{fmt}.serve", "feature_store", serve, 500 + self.n_cust),
            ]
            if b % self.k == 0:
                ops.append(Op(f"{fmt}.maintain", "feature_store",
                              lambda st=st: st.maintain(FG_NAME, spark), self.n_cust, True))
        return ops

    def after_traced_pass(self) -> None:
        """Data-skipping dry runs of the batch's read predicate."""
        from feature_store_ml_spark.io import iceberg, lakehouse

        where = self.batches[self.done[-1]]["read"]
        path = lambda fmt: self.stores[fmt].groups[FG_NAME].table_path(self.stores[fmt].root)
        for rep in (lakehouse.skipping_report(path("delta"), where),
                    iceberg.iceberg_scan_report(path("iceberg"), where)):
            if rep["eligible"]:
                self.skip["kept"] += rep["kept_files"]
                self.skip["total"] += rep["total_files"]

    def files_kept_frac(self) -> float:
        return self.skip["kept"] / self.skip["total"] if self.skip["total"] else 0.0

    def table_roots(self) -> list[str]:
        return [st.root for st in self.stores.values()]

    def _live(self, fmt: str) -> pd.DataFrame:
        return self.stores[fmt].read(self.spark, FG_NAME).toPandas()

    def live_bytes(self) -> int:
        return sum(
            pa.Table.from_pandas(self._live(f), preserve_index=False).nbytes
            for f in self.stores
        )

    def replay(self) -> tuple[pd.DataFrame, list[int]]:
        """The same seeded operations in DuckDB. Returns the final table and
        the rows each batch changed (upserted + retracted + corrected)."""
        con = duckdb.connect()
        con.sql(f"CREATE TABLE fg AS {FG_SQL.format(src=repr(self.src + '/orders.parquet'))}")
        changed = []
        for b in self.done:
            spec = self.batches[b]
            src = repr(f"{self.src}/batch{b}.parquet")
            con.sql(f"CREATE OR REPLACE TEMP TABLE up AS {FG_SQL.format(src=src)}")
            n = con.sql("SELECT COUNT(*) FROM up").fetchone()[0]
            con.sql("DELETE FROM fg WHERE o_custkey IN (SELECT o_custkey FROM up)")
            con.sql("INSERT INTO fg SELECT * FROM up")
            keys = ", ".join(map(str, spec["retract"]))
            n += con.sql(f"SELECT COUNT(*) FROM fg WHERE o_custkey IN ({keys})").fetchone()[0]
            con.sql(f"DELETE FROM fg WHERE o_custkey IN ({keys})")
            n += con.sql(f"SELECT COUNT(*) FROM fg WHERE {spec['correct']}").fetchone()[0]
            sets = ", ".join(f"{c} = {e}" for c, e in CORRECT_SET.items())
            con.sql(f"UPDATE fg SET {sets} WHERE {spec['correct']}")
            changed.append(n)
        out = con.sql("SELECT * FROM fg").df()
        con.close()
        return out, changed

    def check(self):
        want, _ = self.replay()
        return [
            (f"final_{fmt}_vs_duckdb", same_frame(self._live(fmt), want, 6))
            for fmt in self.stores
        ]


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------

def _shingles(text: str, n: int = 3) -> set[str]:
    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class LlmCuration(Workload):
    """Text quality stats, exact and MinHash-LSH near-dup removal, chunking,
    TF-IDF, BM25, exact cosine top-k and a persisted IVF index over a
    multi-file corpus with planted duplicates."""

    name = "llm_curation"
    nominal_pass_s = 4.5
    TOPK = 5
    RECALL_FLOOR = 0.9
    JACCARD_FLOOR = 0.7

    def __init__(self, spark, seed, smoke):
        super().__init__(spark, seed, smoke)
        self.n_docs = 400 if smoke else 1000
        self.n_vecs = 300 if smoke else 800
        self.n_queries = 16

    def prepare(self, root: str) -> None:
        self.c = datagen.corpus(self.seed, self.n_docs, self.n_vecs, self.n_queries)
        self.data, self.stage, self.index = f"{root}/data", f"{root}/stage", f"{root}/ivf"
        tabs = {k: self.c[k] for k in ("documents", "embeddings", "queries")}
        datagen.write_multi(tabs, self.data, files=4 if self.smoke else 8)
        self.n_docs_total = len(self.c["documents"])
        self.input_rows = sum(len(t) for t in tabs.values())
        self._record_inputs(self.data)

    def _docs(self):
        from feature_store_ml_spark.io.sources import load_table

        return load_table(self.spark, self.data, "documents", parallelize=True)

    def _vecs(self, name="embeddings"):
        return self.spark.read.parquet(f"{self.data}/{name}.parquet")

    def _stage(self, name):
        return self.spark.read.parquet(f"{self.stage}/{name}")

    def _put(self, df, name):
        df.write.mode("overwrite").parquet(f"{self.stage}/{name}")

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from feature_store_ml_spark.operators import dedup, similarity, text

        spark, nd, nv, nq = self.spark, self.n_docs_total, self.n_vecs, self.n_queries

        def quality():
            toks = text.words(F.col("text"))
            noop(self._docs().select(
                "doc_id", text.n_tokens_bpe(F.col("text")).alias("bpe"),
                text.mean_word_len(toks).alias("mwl"), text.stopword_ratio(toks).alias("sw"),
                text.quality_score(F.col("text")).alias("q"),
                text.lang_id(F.col("text")).alias("lang_guess"),
            ))

        def exact():
            self._put(dedup.exact_dedup(self._docs()).select("doc_id", "text"), "exact")

        def minhash():
            self._put(dedup.minhash_lsh_pairs(self._stage("exact")), "pairs")

        def components():
            self._put(dedup.connected_components(self._stage("pairs")), "clusters")

        def by_clusters():
            kept = dedup.dedup_by_clusters(self._stage("exact"), self._stage("clusters"))
            self._put(kept, "deduped")

        def chunks():
            noop(text.chunk_documents(self._stage("deduped"), chunk_tokens=32, overlap_tokens=8))

        def tfidf():
            noop(text.tfidf(self._stage("deduped")))

        def bm25():
            noop(text.bm25_topk(self._stage("deduped"), self.c["bm25"], k=10))

        def cosine():
            noop(similarity.cosine_topk(self._vecs(), self._vecs("queries"), k=self.TOPK))

        def ivf_build():
            similarity.ivf_build_index(self._vecs(), self.index, n_clusters=16)

        def ivf_query():
            noop(similarity.ivf_query_index(spark, self.index, self._vecs("queries"), k=self.TOPK))

        return [
            Op("text_quality", "operators.text", quality, nd),
            Op("exact_dedup", "operators.dedup", exact, nd, True),
            Op("minhash_lsh_pairs", "operators.dedup", minhash, nd, True),
            Op("connected_components", "operators.dedup", components,
               len(self.c["near_pairs"]), True),
            Op("dedup_by_clusters", "operators.dedup", by_clusters, nd, True),
            Op("chunk_documents", "operators.text", chunks, nd),
            Op("tfidf", "operators.text", tfidf, nd),
            Op("bm25_topk", "operators.text", bm25, nd + nq),
            Op("cosine_topk", "operators.similarity", cosine, nv + nq),
            Op("ivf_build_index", "operators.similarity", ivf_build, nv, True),
            Op("ivf_query_index", "operators.similarity", ivf_query, nv + nq),
        ]

    def table_roots(self) -> list[str]:
        return [self.data, self.stage, self.index]

    def space_roots(self) -> list[str]:
        return [self.data, self.index]

    def live_bytes(self) -> int:
        return self.c["documents"].nbytes + self.c["embeddings"].nbytes

    def check(self):
        from feature_store_ml_spark.operators import similarity

        out = []
        # exact cosine top-k against a numpy brute force
        vecs, qv = (
            np.stack(self.c[t]["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
            for t in ("embeddings", "queries")
        )
        sims = (qv @ vecs.T) / np.outer(np.linalg.norm(qv, axis=1), np.linalg.norm(vecs, axis=1))
        got = similarity.cosine_topk(self._vecs(), self._vecs("queries"), k=self.TOPK).toPandas()
        qids = self.c["queries"]["vec_id"].to_numpy()
        bad = 0
        for i, qid in enumerate(qids):
            mine = got[got.query_id == qid].sort_values("rank")
            ref = np.sort(sims[i])[::-1][: self.TOPK]
            if len(mine) != self.TOPK or not np.allclose(mine.cos_sim.to_numpy(), ref, atol=2e-6):
                bad += 1
                continue
            got_sims = mine.cos_sim.to_numpy()
            if not np.allclose(sims[i][mine.neighbor_id.to_numpy()], got_sims, atol=2e-6):
                bad += 1
        out.append(
            ("cosine_topk_vs_numpy", f"{bad} of {len(qids)} queries differ" if bad else None)
        )
        # planted near-duplicates found by MinHash-LSH, judged by exact Jaccard
        texts = self.c["documents"]["text"].to_pylist()
        truth = {
            (a, b) for a, b in self.c["near_pairs"]
            if texts[a] != texts[b]
            and len(_shingles(texts[a]) & _shingles(texts[b]))
            / len(_shingles(texts[a]) | _shingles(texts[b])) >= self.JACCARD_FLOOR
        }
        pairs = self._stage("pairs").select("id_a", "id_b").collect()
        found = {(int(r.id_a), int(r.id_b)) for r in pairs}
        recall = len(truth & found) / max(len(truth), 1)
        out.append(("minhash_recall", None if truth and recall >= self.RECALL_FLOOR
                    else f"recall {recall:.3f} over {len(truth)} planted pairs"))
        # exact copies removed, originals kept
        kept = {int(r.doc_id) for r in self._stage("exact").select("doc_id").collect()}
        lost = [(a, b) for a, b in self.c["exact_pairs"] if a not in kept or b in kept]
        out.append(
            ("exact_dedup_copies", f"{len(lost)} planted copies mishandled" if lost else None)
        )
        return out


WORKLOADS = {w.name: w for w in (OlapRead, FeatureStoreBatches, LlmCuration)}
