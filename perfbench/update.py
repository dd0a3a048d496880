"""``update`` workload: the write side, with reads beside the writes.

One writer in a closed loop runs update cycles. Each cycle:

1. ingests a seeded document batch: ``IngestionPipeline.process``,
   ``approve`` and ``publish``, then ``SegmentedPostingsIndex.add_segment``.
   A quarter of each batch re-ingests earlier documents with new text:
   their chunks are deleted from the chunk sink and their postings
   tombstoned (``delete_docs``) before the batch is added;
2. runs seeded ``SegmentedPostingsIndex.search`` reads;
3. lands one event file and replays it with ``trigger(availableNow)``
   through two live queries side by side: ``ordinal_upsert_stream``
   (RocksDB state) and ``foreach_batch_ivm`` (``MaterializedAgg`` on
   bucketed parquet state).

Event files carry skewed user keys, bounded out-of-order arrival and
duplicate or lower ordinals per key.

Known defect worked around: ``SegmentedPostingsIndex`` tombstones are
keyed by ``doc_id`` alone, so a document deleted and then re-added
under the same id stays invisible to ``search``. A batch that re-adds
deleted ids therefore calls ``compact()`` (which folds tombstones away)
between ``delete_docs`` and ``add_segment``.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
from common import Outcome, dir_bytes, median

MAX_CYCLES = 4
READS_PER_CYCLE = 1
K = 10


class UpdateWorkload:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.inputs = os.path.join(work, "inputs")
        self.src = os.path.join(work, "stream_src")
        self.state = os.path.join(work, "state")
        self.cycle = 0
        self.live: dict[int, str] = {}  # doc_id -> current text
        self.user_bytes = 0
        self.progress: list[dict] = []
        self.counts = {"chunks": 0, "mentions": 0}

    # -- set-up -----------------------------------------------------------------

    def setup(self) -> None:
        import cocoindex_data_ingestion_spark.streaming.events as se
        from cocoindex_data_ingestion_spark.operators.indexing import SegmentedPostingsIndex
        from cocoindex_data_ingestion_spark.pipelines import IngestionPipeline
        from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg

        self.se = se
        self.meta = gen.write_update_inputs(self.seed, self.inputs, MAX_CYCLES)
        os.makedirs(self.src, exist_ok=True)
        self.pipe = IngestionPipeline(self.spark, f"{self.state}/pipeline", gen.GAZETTEER,
                                      embed_dim=gen.EMBED_DIM)
        self.seg = SegmentedPostingsIndex(self.spark, f"{self.state}/segments")
        self.view = MaterializedAgg(self.spark, f"{self.state}/ivm", group_col="event_type",
                                    sum_cols=("value",), n_buckets=8)
        rng = np.random.default_rng([self.seed, 7])
        self.read_terms = [sorted(set(rng.choice(gen.VOCAB[:30], size=int(rng.integers(1, 4)),
                                                 replace=False).tolist()))
                           for _ in range(MAX_CYCLES * READS_PER_CYCLE)]

    def warm_up(self) -> None:
        """Cycle 0, untimed (its writes are covered by the end-state
        checks), then the update path once on an id no batch uses, since
        cycle 0 has nothing to update."""
        rec = self.run_cycle()
        if rec["err"]:
            raise RuntimeError(f"warm-up cycle failed: {rec['err']}")
        self._delete([-1])

    # -- one cycle ----------------------------------------------------------------

    def _ingest(self, c: int) -> int:
        from cocoindex_data_ingestion_spark.sources.tables import load_table

        batch = self.meta["batches"][c]
        bdir = f"{self.inputs}/docs/{c:03d}"
        with self.tr.span("sources.load"):
            docs = load_table(self.spark, "documents", bdir)
        if batch["updates"]:
            self._delete(batch["updates"])
        stats = self.pipe.process(docs)
        self.pipe.approve(batch["ids"])
        self.pipe.publish()
        self.seg.add_segment(docs)
        self.counts["chunks"] = stats["chunks"]
        self.counts["mentions"] += stats["mentions"]
        table = pq.read_table(f"{bdir}/documents.parquet", columns=["doc_id", "text"])
        for i, t in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()):
            self.live[i] = t
            self.user_bytes += len(t.encode())
        return len(batch["ids"])

    def _delete(self, ids: list[int]) -> None:
        """Remove docs before they are re-ingested: their chunks from the
        chunk sink, their postings from the segmented index."""
        self.pipe.chunks.delete_where(f"doc_id IN ({','.join(str(i) for i in ids)})")
        self.seg.delete_docs(self.spark.createDataFrame([(i,) for i in ids], "doc_id long"))
        self.seg.compact()

    def _stream(self, c: int) -> tuple[int, list[float]]:
        """Land event file ``c`` and replay it through both stream paths,
        side by side as two live queries; returns its row count and the
        micro-batch trigger times in ms."""
        se = self.se
        name = f"part-{c:05d}.parquet"
        os.rename(f"{self.inputs}/events/{name}", f"{self.src}/{name}")
        writers = (
            se.ordinal_upsert_stream(se.read_events_stream(self.spark, self.src))
            .writeStream.outputMode("append").format("parquet")
            .option("path", f"{self.state}/upsert_out")
            .option("checkpointLocation", f"{self.state}/ckpt_upsert"),
            se.read_events_stream(self.spark, self.src)
            .writeStream.foreachBatch(se.foreach_batch_ivm(self.view))
            .option("checkpointLocation", f"{self.state}/ckpt_ivm"),
        )
        batch_ms = []
        for q in [w.trigger(availableNow=True).start() for w in writers]:
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            self.progress.extend(batches)
            batch_ms += [float(p["durationMs"]["triggerExecution"]) for p in batches]
        return pq.ParquetFile(f"{self.src}/{name}").metadata.num_rows, batch_ms

    def _read(self, terms: list[str]) -> list:
        with self.tr.span("indexing.segment_search_define"):
            df = self.seg.search(terms, k=K)
        with self.tr.span("indexing.segment_search_execute"):
            out = [(r[0], r[1]) for r in df.collect()]
        self.tr.catalyst(df)
        return out

    def run_cycle(self) -> dict:
        c = self.cycle
        self.cycle += 1
        rec = {"cycle": c, "err": None, "reads": []}
        t0 = time.perf_counter()
        try:
            with self.tr.op(self.spark, "ingest"):
                rec["docs"] = self._ingest(c)
            rec["fresh"] = time.perf_counter() - t0
            for r in range(READS_PER_CYCLE):
                terms = self.read_terms[c * READS_PER_CYCLE + r]
                tr0 = time.perf_counter()
                with self.tr.op(self.spark, "read"):
                    out = self._read(terms)
                rec["reads"].append({"lat": time.perf_counter() - tr0, "terms": terms,
                                     "out": out, "live": dict(self.live)})
            ts0 = time.perf_counter()
            with self.tr.op(self.spark, "stream"):
                rec["events"], rec["batch_ms"] = self._stream(c)
            rec["stream"] = time.perf_counter() - ts0
        except Exception as e:  # counted as a failed cycle
            rec["err"] = f"{type(e).__name__}: {e}"
        rec["lat"] = time.perf_counter() - t0
        return rec

    # -- timed region -------------------------------------------------------------

    def run(self, seconds: float) -> list[dict]:
        """At least one cycle; another only while it is expected (from
        the last cycle's latency) to end within ``seconds``."""
        done = []
        t_end = time.perf_counter() + seconds
        while self.cycle < MAX_CYCLES:
            done.append(self.run_cycle())
            if done[-1]["err"] or time.perf_counter() + done[-1]["lat"] > t_end:
                break
        return done

    # -- checks ---------------------------------------------------------------------

    def check(self, done: list[dict]) -> list[str]:
        problems = []
        con = duckdb.connect()
        for rec in done:
            rec["ok"] = rec["err"] is None
            if rec["err"]:
                problems.append(f"cycle {rec['cycle']} raised {rec['err']}")
            for rd in rec["reads"]:
                con.register("live", pd.DataFrame(list(rd["live"].items()),
                                                  columns=["doc_id", "text"]))
                rd["ok"] = checks.same_topk(rd["out"], checks.topk(
                    con, checks.bm25_sql(rd["terms"], "live", K)))
                con.unregister("live")
                if not rd["ok"]:
                    problems.append(f"wrong answer: segmented search {rd['terms']} "
                                    f"after cycle {rec['cycle']}")
        con.close()

        try:
            end_problems = self._check_end_state()
        except Exception as e:  # a broken end state fails the check, not the run
            end_problems = [f"end-state check raised {type(e).__name__}: {e}"]
        if end_problems:
            # an end-state mismatch cannot be pinned on one cycle
            for rec in done:
                rec["ok"] = False
        return problems + end_problems

    def _check_end_state(self) -> list[str]:
        from cocoindex_data_ingestion_spark.operators import chunking, embedding

        spark = self.spark
        # end state of the ingest sinks against the batch computation
        end_problems = []
        live = spark.createDataFrame(list(self.live.items()), "doc_id long, text string")
        cols = ["chunk_id", "doc_id", "chunk_index", "location_start", "location_end",
                "chunk_text"]
        want = embedding.embed_documents(
            chunking.sentence_chunks(live, chunk_size=self.pipe.chunk_size),
            embedding.hash_embedder(dim=self.pipe.embed_dim), text_col="chunk_text",
        ).toPandas().sort_values("chunk_id").reset_index(drop=True)
        got = self.pipe.chunks.read().toPandas().sort_values("chunk_id").reset_index(drop=True)
        same_chunks = (len(got) == len(want) and got[cols].equals(want[cols])
                       and all(np.allclose(a, b) for a, b in zip(got["embedding"],
                                                                 want["embedding"])))
        if not same_chunks:
            end_problems.append("chunk sink differs from sentence_chunks + embed_documents")
        states = {r[0]: r[1] for r in self.pipe.docs_state.read().collect()}
        if states != {i: "ingested" for i in self.live}:
            end_problems.append("document states are not all 'ingested'")

        # end state of both stream paths against the batch computation
        files = [f"{self.src}/part-{c:05d}.parquet" for c in range(self.cycle)
                 if os.path.exists(f"{self.src}/part-{c:05d}.parquet")]
        frames = []
        for f in files:
            t = pq.read_table(f, columns=["event_id", "ts", "user_id", "event_type", "value"])
            frames.append(pd.DataFrame({
                "event_id": t.column("event_id").to_numpy(),
                "ordinal": t.column("ts").cast("int64").to_numpy(),
                "user_id": t.column("user_id").to_numpy(),
                "event_type": t.column("event_type").to_pylist(),
                "value": t.column("value").to_numpy(),
            }))
        key = ["user_id", "ordinal", "event_id"]
        want_up = checks.upsert_emissions(frames).sort_values(key).reset_index(drop=True)
        got_up = (pq.read_table(f"{self.state}/upsert_out").to_pandas()
                  .sort_values(key).reset_index(drop=True))[list(want_up.columns)]
        if not (len(got_up) == len(want_up) and
                checks.frame_digest(got_up) == checks.frame_digest(want_up)):
            end_problems.append("ordinal upsert output differs from the batch computation")
        allev = pd.concat(frames)
        want_agg = allev.groupby("event_type").agg(n=("value", "size"), s=("value", "sum"))
        got_agg = self.view.read().toPandas().set_index("event_type").sort_index()
        if not (list(got_agg.index) == list(want_agg.index)
                and (got_agg["n"].to_numpy() == want_agg["n"].to_numpy()).all()
                and np.allclose(got_agg["sum_value"].to_numpy(), want_agg["s"].to_numpy(),
                                rtol=1e-12)):
            end_problems.append("IVM view differs from the batch aggregate")
        return end_problems


def run(ctx) -> Outcome:
    w = UpdateWorkload(ctx.spark, ctx.tracer, ctx.seed, ctx.work)
    setup_s = ctx.setup(w.setup, w.warm_up)
    t0 = time.perf_counter()
    done = w.run(ctx.seconds)
    wall = time.perf_counter() - t0
    problems = w.check(done)

    reads = [rd for rec in done for rd in rec["reads"]]
    o = Outcome(attempted=len(done) + len(reads), problems=problems)
    o.failed = (sum(1 for r in done if not r["ok"])
                + sum(1 for rd in reads if not rd.get("ok", False)))
    ok = [r for r in done if r["err"] is None]
    docs = sum(r["docs"] for r in ok)
    events = sum(r["events"] for r in ok)
    cycle_ms = [(r["fresh"] + r["stream"]) * 1e3 for r in ok]
    o.e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": ((docs + events) / wall, "1/s"),
        "p50_ms": (median(cycle_ms) if cycle_ms else 0.0, "ms"),
    }
    batch_ms = [b for r in ok for b in r["batch_ms"]]
    o.named = {
        "ingest.docs_per_s": (docs / sum(r["fresh"] for r in ok) if ok else None, "1/s"),
        "ingest.fresh_p50_s": (median([r["fresh"] for r in ok]) if ok else None, "s"),
        "ingest.read_p50_ms": (median([rd["lat"] * 1e3 for rd in reads]) if reads else None,
                               "ms"),
        "stream.events_per_s": (events / sum(r["stream"] for r in ok) if ok else None, "1/s"),
        "stream.batch_p50_ms": (median(batch_ms) if batch_ms else None, "ms"),
    }
    if ctx.traced:
        tr = ctx.tracer
        prog = w.progress
        dur = lambda key: [float(p["durationMs"].get(key, 0)) for p in prog]  # noqa: E731
        state_ops = [s for p in prog for s in p.get("stateOperators", [])]
        o.detail.update({
            "indexing.segment_add_ms": (tr.median("indexing.segment_add"), "ms"),
            "indexing.segment_delete_ms": (tr.median("indexing.segment_delete"), "ms"),
            "indexing.segment_compact_ms": (tr.median("indexing.segment_compact"), "ms"),
            "indexing.segment_search_ms": (tr.median("indexing.segment_search_execute"), "ms"),
            "indexing.segments_live": (float(len(w.seg._segment_dirs())), "count"),
            "pipelines.process_ms": (tr.median("pipelines.process"), "ms"),
            "pipelines.publish_ms": (tr.median("pipelines.publish"), "ms"),
            "chunking.chunks_out": (float(w.counts["chunks"]), "count"),
            "entities.mentions_out": (float(w.counts["mentions"]), "count"),
            "sinks.vector_merge_ms": (tr.median("sinks.vector_merge"), "ms"),
            "sinks.table_merge_ms": (tr.median("sinks.table_merge"), "ms"),
            "sinks.graph_merge_ms": (tr.median("sinks.graph_merge"), "ms"),
            "sinks.bytes_written_per_user_byte": (
                tr.counters.get("sinks.bytes_written", 0.0) / max(1, w.user_bytes), "ratio"),
            "streaming.add_batch_ms": (median(dur("addBatch")), "ms"),
            "streaming.query_planning_ms": (median(dur("queryPlanning")), "ms"),
            "streaming.wal_commit_ms": (median(dur("walCommit")), "ms"),
            "streaming.state_commit_ms": (
                median([float(s.get("commitTimeMs", 0)) for s in state_ops])
                if state_ops else 0.0, "ms"),
            "streaming.state_rows": (
                float(state_ops[-1].get("numRowsTotal", 0)) if state_ops else 0.0, "count"),
            "streaming.state_mem_bytes": (
                float(state_ops[-1].get("memoryUsedBytes", 0)) if state_ops else 0.0, "B"),
            "streaming.rows_dropped_late": (
                float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state_ops)), "count"),
            "ivm.refresh_ms": (tr.median("ivm.refresh"), "ms"),
            "incremental.state_merge_ms": (tr.median("incremental.state_merge"), "ms"),
        })
    return o


def wrap_layers(tracer) -> None:
    """Time the package's write-path entry points from the outside."""
    from cocoindex_data_ingestion_spark import sinks
    from cocoindex_data_ingestion_spark.operators.indexing import SegmentedPostingsIndex
    from cocoindex_data_ingestion_spark.pipelines import IngestionPipeline
    from cocoindex_data_ingestion_spark.plans import incremental
    from cocoindex_data_ingestion_spark.plans.ivm import MaterializedAgg

    for owner, attr, name in (
        (SegmentedPostingsIndex, "add_segment", "indexing.segment_add"),
        (SegmentedPostingsIndex, "delete_docs", "indexing.segment_delete"),
        (SegmentedPostingsIndex, "compact", "indexing.segment_compact"),
        (IngestionPipeline, "process", "pipelines.process"),
        (IngestionPipeline, "approve", "pipelines.approve"),
        (IngestionPipeline, "publish", "pipelines.publish"),
        (sinks.VectorSink, "merge", "sinks.vector_merge"),
        (sinks.TableSink, "merge", "sinks.table_merge"),
        (sinks.TableSink, "delete_where", "sinks.table_delete"),
        (sinks.GraphSink, "merge_nodes", "sinks.graph_merge"),
        (sinks.GraphSink, "merge_edges", "sinks.graph_merge"),
        (MaterializedAgg, "refresh", "ivm.refresh"),
        (incremental.BucketedParquetState, "fold_merge_sum", "incremental.state_merge"),
    ):
        tracer.wrap(owner, attr, name)

    orig = incremental.ParquetState.overwrite

    def overwrite(state, df):
        orig(state, df)
        cur = state._current()
        if cur is not None:
            tracer.count("sinks.bytes_written", dir_bytes(os.path.join(state.path, cur)))

    tracer.replace(incremental.ParquetState, "overwrite", overwrite)
