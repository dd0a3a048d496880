"""``query`` workload: the read side.

One client in a closed loop (each caller waits for its reply) sends a
seeded sequence of requests: three in four are RAG searches over an
index that set-up builds with ``indexing.build_search_index`` (BM25
with 1-4 corpus terms, exact kNN with a perturbed corpus vector, or a
hybrid that runs both legs and fuses them with
``fusion.rrf_fuse_legs``), one in four is a registered, DuckDB-oracled
analytics query from ``__spark_entry__`` (relational TPC-H shapes,
dedup, curation, graph, event windows). Nothing is written while it
runs and nothing carries state from one request to the next.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from common import Outcome, dir_bytes, median, pct

K = 10
LEG_K = 20
ANALYTICS = (
    "q1_pricing_summary",
    "dedup_exact",
    "curate_funnel",
    "graph_2hop_suppliers",
    "events_tumbling_window",
)
ANALYTICS_EVERY = 4  # every 4th request is an analytics query
# Untimed warm-up: the plan's first 20 requests, five of each search
# kind and one full pass over the analytics queries. With only one of
# each, the first timed requests ran up to twice their later latency.
WARM_REQUESTS = ANALYTICS_EVERY * len(ANALYTICS)
PLAN_LEN = 2000
P90_MIN_SAMPLES = 100


def _plan(seed: int, corpus_vectors: np.ndarray):
    n_search = PLAN_LEN - PLAN_LEN // ANALYTICS_EVERY
    reqs, terms, vecs = gen.search_requests(seed, corpus_vectors, n_search)
    names = gen.analytics_order(seed, list(ANALYTICS), PLAN_LEN // len(ANALYTICS) + 1)
    plan, si, ai = [], 0, 0
    for i in range(PLAN_LEN):
        if i % ANALYTICS_EVERY == ANALYTICS_EVERY - 1:
            plan.append({"kind": "analytics", "name": names[ai]})
            ai += 1
        else:
            plan.append(reqs[si])
            si += 1
    return plan, terms, vecs


class QueryWorkload:
    def __init__(self, spark, tracer, seed: int, work: str):
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from cocoindex_data_ingestion_spark.operators import fusion, indexing

        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.F, self.entry, self.fusion, self.indexing = F, entry, fusion, indexing
        self.tables = os.path.join(work, "tables")
        self.index = None

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        from cocoindex_data_ingestion_spark.sources.tables import load_table

        gen.write_tables(self.seed, self.tables)
        with self.tr.span("sources.load"):
            self.docs = load_table(self.spark, "documents", self.tables)
            self.emb = load_table(self.spark, "embeddings", self.tables)
        self.index = os.path.join(self.work, "index")
        with self.tr.span("indexing.build"):
            self.indexing.build_search_index(self.docs, self.emb, self.index)
        self.index_bytes = dir_bytes(self.index)
        vecs = np.stack(pq.read_table(f"{self.tables}/embeddings.parquet")
                        .column("embedding").to_numpy(zero_copy_only=False))
        self.plan, self.terms, self.vecs = _plan(self.seed, vecs)
        self.queries = self.entry.queries()

    def warm_up(self) -> None:
        """Runs the first ``WARM_REQUESTS`` of the plan, so JIT, codegen
        and file listings are warm; the timed region starts after them."""
        for req in self.plan[:WARM_REQUESTS]:
            self.execute(req)

    # -- one request ------------------------------------------------------------

    def _leg(self, df, source: str, id_col: str):
        F = self.F
        return df.select(F.lit(source).alias("source"), F.col(id_col).alias("id"),
                         F.col("score"))

    def execute(self, req: dict):
        """Run one request; returns its result rows."""
        tr, ix = self.tr, self.indexing
        kind = req["kind"]
        with tr.op(self.spark, kind):
            if kind == "analytics":
                with tr.span("registry.define"):
                    df = self.queries[req["name"]](self.spark, self.tables)
                with tr.span("registry.execute"):
                    out = df.toPandas()
            else:
                terms, vec = self.terms[req["terms"]], self.vecs[req["vec"]]
                if kind == "bm25":
                    with tr.span("indexing.bm25_define"):
                        df = ix.indexed_bm25(self.spark, self.index, terms, k=K)
                    with tr.span("indexing.bm25_execute"):
                        out = [(r[0], r[1]) for r in df.collect()]
                elif kind == "knn":
                    with tr.span("indexing.knn_define"):
                        df = ix.indexed_knn(self.spark, self.index, vec, k=K, exact=True)
                    with tr.span("indexing.knn_execute"):
                        out = [(r[0], r[1]) for r in df.collect()]
                else:
                    with tr.span("indexing.knn_define"):
                        v = ix.indexed_knn(self.spark, self.index, vec, k=LEG_K, exact=True)
                    with tr.span("indexing.bm25_define"):
                        b = ix.indexed_bm25(self.spark, self.index, terms, k=LEG_K)
                    with tr.span("fusion.rrf_define"):
                        df = self.fusion.rrf_fuse_legs(
                            [self._leg(v, "vector", "vec_id"), self._leg(b, "bm25", "doc_id")],
                            limit=K)
                    with tr.span("hybrid.execute"):
                        out = [(r["id"], r["rrf_score"]) for r in df.collect()]
            tr.catalyst(df)
        return out

    # -- timed region -------------------------------------------------------------

    def run(self, seconds: float) -> list[dict]:
        done = []
        t_end = time.perf_counter() + seconds
        for req in self.plan[WARM_REQUESTS:]:
            if time.perf_counter() >= t_end:
                break
            t0 = time.perf_counter()
            try:
                out, err = self.execute(req), None
            except Exception as e:  # a failed request is counted, the loop goes on
                out, err = None, f"{type(e).__name__}: {e}"
            done.append({**req, "lat": time.perf_counter() - t0, "out": out, "err": err})
        return done

    # -- checks ---------------------------------------------------------------------

    def check(self, done: list[dict]) -> list[str]:
        """Marks each request ``ok``; returns problem descriptions."""
        from cocoindex_data_ingestion_spark.operators.fusion import RRF_K
        from cocoindex_data_ingestion_spark.sources.tables import TABLES

        oracle = self.entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tables}/{t}.parquet')")
        want_digest = {}
        bm_leg: dict[int, list] = {}
        vec_leg: dict[int, list] = {}
        for d in done:
            if d["kind"] == "analytics" and d["name"] not in want_digest:
                want_digest[d["name"]] = checks.frame_digest(con.execute(oracle[d["name"]]).df())
            if d["kind"] in ("bm25", "hybrid") and d["terms"] not in bm_leg:
                bm_leg[d["terms"]] = checks.topk(
                    con, checks.bm25_sql(self.terms[d["terms"]], "documents", LEG_K))
            if d["kind"] in ("knn", "hybrid") and d["vec"] not in vec_leg:
                vec_leg[d["vec"]] = checks.topk(
                    con, checks.knn_sql(self.vecs[d["vec"]], "embeddings", LEG_K))
        con.close()

        problems = []
        for d in done:
            if d["err"] is not None:
                d["ok"] = False
                problems.append(f"{d['kind']} raised {d['err']}")
                continue
            if d["kind"] == "analytics":
                d["ok"] = checks.frame_digest(d["out"]) == want_digest[d["name"]]
                what = d["name"]
            elif d["kind"] == "bm25":
                d["ok"] = checks.same_topk(d["out"], bm_leg[d["terms"]][:K])
                what = f"bm25 terms={self.terms[d['terms']]}"
            elif d["kind"] == "knn":
                d["ok"] = checks.same_topk(d["out"], vec_leg[d["vec"]][:K])
                what = f"knn vec#{d['vec']}"
            else:
                want = checks.rrf([vec_leg[d["vec"]], bm_leg[d["terms"]]], RRF_K, K)
                d["ok"] = checks.same_topk(d["out"], want)
                what = f"hybrid terms={self.terms[d['terms']]} vec#{d['vec']}"
            if not d["ok"]:
                problems.append(f"wrong answer: {what}")
        return problems


def run(ctx) -> Outcome:
    w = QueryWorkload(ctx.spark, ctx.tracer, ctx.seed, ctx.work)
    setup_s = ctx.setup(w.setup, w.warm_up)
    t0 = time.perf_counter()
    done = w.run(ctx.seconds)
    wall = time.perf_counter() - t0
    problems = w.check(done)

    o = Outcome(attempted=len(done), problems=problems)
    o.failed = sum(1 for d in done if not d["ok"])
    search = [d["lat"] for d in done if d["kind"] != "analytics"]
    o.e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(done) / wall, "1/s"),
        "p50_ms": (median(search) * 1e3, "ms"),
    }
    ana = [d["lat"] for d in done if d["kind"] == "analytics"]
    for prefix, lats, rate in (("search", search, "qps"), ("analytics", ana, "queries_per_s")):
        ms = [x * 1e3 for x in lats]
        o.named[f"{prefix}.{rate}"] = (len(lats) / sum(lats) if lats else None, "1/s")
        o.named[f"{prefix}.p50_ms"] = (median(ms) if ms else None, "ms")
        o.named[f"{prefix}.p90_ms"] = (pct(ms, 90) if len(ms) >= P90_MIN_SAMPLES else None, "ms")
    if ctx.traced:
        tr = ctx.tracer
        o.detail.update({
            "indexing.build_ms": (tr.median("indexing.build"), "ms"),
            "indexing.index_bytes": (float(w.index_bytes), "B"),
            "indexing.bm25_define_ms": (tr.median("indexing.bm25_define"), "ms"),
            "indexing.bm25_execute_ms": (tr.median("indexing.bm25_execute"), "ms"),
            "indexing.knn_define_ms": (tr.median("indexing.knn_define"), "ms"),
            "indexing.knn_execute_ms": (tr.median("indexing.knn_execute"), "ms"),
            "fusion.rrf_define_ms": (tr.median("fusion.rrf_define"), "ms"),
            "registry.define_ms": (tr.median("registry.define"), "ms"),
            "registry.execute_ms": (tr.median("registry.execute"), "ms"),
        })
    return o
