"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from ``--seed``: the same
seed writes byte-identical parquet files and the same request lists;
another seed gives other inputs with the same statistical shape (so
run-to-run figures stay comparable across seeds).

The shapes mirror the engine's test tables (TPC-H-like star
schema, an ``events`` table, a text corpus and its embeddings) at a
small scale, so the registered queries and their DuckDB oracles run
unchanged on them. Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus vocabulary: a Zipf-weighted word list (frequent words first),
# plus gazetteer entity names that the ingest pipeline extracts.
VOCAB = (
    "data table query join spark window hash stream column scan filter "
    "merge batch value key order group agg sort row vector index search "
    "chunk token embed graph node edge state commit shard cache plan "
    "stage task worker driver block page file segment ledger tombstone "
    "score rank fuse recall latency throughput replica partition bucket "
    "schema record field parser source sink target"
).split()
STOP = ("the", "a", "of", "to", "in", "and", "is")
GAZETTEER = {
    "Spark": "TECHNOLOGY", "Postgres": "DATABASE", "Qdrant": "DATABASE",
    "Kafka": "TECHNOLOGY", "Neo4j": "DATABASE", "Arrow": "TECHNOLOGY",
    "Parquet": "FORMAT", "DuckDB": "DATABASE",
}
EMBED_DIM = 64

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so adding a table never
    shifts the random stream of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# -- text -------------------------------------------------------------------


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 0.9
    return w / w.sum()


def make_text(rng: np.random.Generator, n_sent: int) -> str:
    """Sentences of content words, stopwords and gazetteer names."""
    weights = _zipf_weights(len(VOCAB))
    names = list(GAZETTEER)
    sents = []
    for _ in range(n_sent):
        n = int(rng.integers(5, 13))
        words = list(rng.choice(VOCAB, size=n, p=weights))
        for _ in range(int(rng.integers(0, 3))):
            words.insert(int(rng.integers(0, len(words) + 1)), str(rng.choice(STOP)))
        if rng.random() < 0.5:
            words.insert(int(rng.integers(0, len(words) + 1)), str(rng.choice(names)))
        s = " ".join(words)
        sents.append(s[0].upper() + s[1:] + ".")
    return " ".join(sents)


def make_docs(seed: int, ids: list[int], stream: str) -> pa.Table:
    rng = _rng(seed, stream)
    texts = [make_text(rng, int(rng.integers(2, 9))) for _ in ids]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{int(rng.integers(0, 20))}" for _ in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_embeddings(seed: int, n: int) -> pa.Table:
    """Unit vectors around 10 cluster centers (cluster kept as ``label``)."""
    rng = _rng(seed, "embeddings")
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, size=n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


# -- star schema + events -----------------------------------------------------


def _days(rng, n, lo, span) -> np.ndarray:
    return np.datetime64(lo, "us") + rng.integers(0, span, size=n).astype("timedelta64[D]")


def make_events(seed: int, n: int, n_users: int, stream: str = "events",
                start_event_id: int = 0, t0_s: float = 0.0,
                span_s: float = 30 * 86400.0) -> pa.Table:
    """Event rows with Zipf-skewed user keys, timestamps spread over
    ``span_s`` seconds from ``t0_s`` (microsecond resolution)."""
    rng = _rng(seed, stream)
    users = np.minimum(rng.zipf(1.3, size=n) - 1, n_users - 1)
    ts_us = np.sort(rng.integers(int(t0_s * 1e6), int((t0_s + span_s) * 1e6), size=n))
    types = rng.choice(["view", "click", "purchase", "signup", "error"], size=n)
    return pa.table({
        "event_id": pa.array(np.arange(start_event_id, start_event_id + n), pa.int64()),
        "ts": pa.array(np.datetime64(_EPOCH_2024, "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64), pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def write_tables(seed: int, out_dir: str) -> None:
    """The ten test tables: 300 customers, 3,000 orders, ~12,000 line
    items, 2,000 events, 300 documents and their embeddings."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part, n_ord = 300, 20, 400, 3000
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(regions, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), pa.float64()),
    })
    adj = ["small", "red", "blue", "green", "large", "steel"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO",
                                       "STANDARD"], n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
                                  pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), pa.float64()),
        "o_orderdate": pa.array(_days(rng, n_ord, _EPOCH_1995, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], n_ord),
                                    pa.string()),
    })
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), pa.string()),
        "l_shipdate": pa.array(_days(rng, n_li, _EPOCH_1995, 2500), pa.timestamp("us")),
    })
    t["events"] = make_events(seed, 2000, 150)
    t["documents"] = make_docs(seed, list(range(300)), "documents")
    t["embeddings"] = make_embeddings(seed, 300)
    for name, table in t.items():
        _write(table, f"{out_dir}/{name}.parquet")


# -- search requests ------------------------------------------------------------


def search_requests(seed: int, corpus_vectors: np.ndarray, n: int,
                    pool: int = 4) -> tuple[list[dict], list[list[str]], list[list[float]]]:
    """``n`` seeded RAG requests cycling bm25, knn, hybrid (a fixed
    mix in every prefix, so short runs see the same composition).
    Terms (1, 2, 3 and 4 corpus words in turn) and query vectors (a
    corpus vector plus seeded noise) come from a pool of ``pool``
    distinct values per kind."""
    rng = _rng(seed, "requests")
    weights = _zipf_weights(40)
    terms = [sorted(rng.choice(VOCAB[:40], size=1 + i % 4, replace=False, p=weights).tolist())
             for i in range(pool)]
    vecs = []
    for _ in range(pool):
        base = corpus_vectors[int(rng.integers(0, len(corpus_vectors)))]
        v = base + 0.05 * rng.normal(size=base.shape)
        vecs.append([float(x) for x in v.astype(np.float32)])
    kinds = ("bm25", "knn", "hybrid")
    reqs = [{"kind": kinds[i % 3], "terms": int(rng.integers(0, pool)),
             "vec": int(rng.integers(0, pool))} for i in range(n)]
    return reqs, terms, vecs


def analytics_order(seed: int, names: list[str], passes: int) -> list[str]:
    """Each pass runs every query once, in a seeded order."""
    rng = _rng(seed, "analytics")
    out = []
    for _ in range(passes):
        out.extend(rng.permutation(names).tolist())
    return out


# -- update workload --------------------------------------------------------------


DOCS_PER_BATCH = 24
UPDATE_SHARE = 0.25
EVENTS_PER_FILE = 3000
STREAM_USERS = 400


def write_update_inputs(seed: int, out_dir: str, n_cycles: int) -> dict:
    """Per cycle: one document batch (a quarter of it re-ingests earlier
    docs with new text) and one event file.

    Event files carry Zipf-skewed user keys, arrival that is out of
    order within a bounded 10-minute overlap between consecutive files,
    and duplicate or lower ordinals per key."""
    rng = _rng(seed, "update")
    live: list[int] = []
    next_id = 0
    batches = []
    for c in range(n_cycles):
        n_upd = int(round(DOCS_PER_BATCH * UPDATE_SHARE)) if live else 0
        upd = sorted(rng.choice(live, size=min(n_upd, len(live)), replace=False).tolist())
        new = list(range(next_id, next_id + DOCS_PER_BATCH - len(upd)))
        next_id += len(new)
        ids = sorted(upd + new)
        _write(make_docs(seed, ids, f"docs{c}"), f"{out_dir}/docs/{c:03d}/documents.parquet")
        batches.append({"ids": ids, "updates": upd})
        live.extend(new)

    span = 3600.0
    prev_max: dict[int, dt.datetime] = {}
    for c in range(n_cycles):
        ev = make_events(seed, EVENTS_PER_FILE, STREAM_USERS, stream=f"events{c}",
                         start_event_id=c * EVENTS_PER_FILE,
                         t0_s=c * span - 600.0 if c else 0.0, span_s=span + (600.0 if c else 0.0))
        erng = _rng(seed, f"dups{c}")
        ts = ev.column("ts").to_pylist()
        users = ev.column("user_id").to_pylist()
        # duplicate ordinals within the file: copy one row's timestamp
        # onto another row of the same user
        by_user: dict[int, list[int]] = {}
        for i, u in enumerate(users):
            by_user.setdefault(u, []).append(i)
        for rows in by_user.values():
            if len(rows) > 1 and erng.random() < 0.3:
                a, b = erng.choice(rows, size=2, replace=False)
                ts[int(b)] = ts[int(a)]
        # redelivery: some rows repeat a key's newest ordinal of the
        # previous file (equal, so not newer than the key's state)
        if prev_max:
            keys = sorted(prev_max)
            picks = erng.choice(len(keys), size=min(30, len(keys)), replace=False)
            for k, r in zip(picks, erng.choice(len(users), size=len(picks), replace=False)):
                users[int(r)] = keys[int(k)]
                ts[int(r)] = prev_max[keys[int(k)]]
        prev_max = {}
        for u, t in zip(users, ts):
            if u not in prev_max or t > prev_max[u]:
                prev_max[u] = t
        # the stream reads ``ts`` as a UTC instant; shuffle arrival
        # order within the file
        ev = ev.set_column(1, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
        ev = ev.set_column(2, "user_id", pa.array(users, pa.int64()))
        ev = ev.take(pa.array(erng.permutation(len(users))))
        _write(ev, f"{out_dir}/events/part-{c:05d}.parquet")
    return {"batches": batches}
