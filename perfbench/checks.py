"""Output checks, run after the timed region.

- analytics: a registered query's result against its ``oracle_sql()``
  on DuckDB, canonicalized the way the project's correctness gate does
  (columns by name, rows sorted, dtype-kind-sensitive row hash);
- search: a served top-k against the DuckDB SQL the project's oracle
  uses for ad-hoc BM25 and exact cosine kNN, built here for the
  request's own terms or vector from the same shared constants; hybrid
  against RRF computed here from those two legs;
- update: end state against a batch computation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cocoindex_data_ingestion_spark.functions.compare import (
    stable_round_sql, stable_sum_sql,
)
from cocoindex_data_ingestion_spark.functions.similarity import cosine_sim_sql
from cocoindex_data_ingestion_spark.functions.text import MIN_TOKEN_LEN, STOPWORDS, TOKEN_RE
from cocoindex_data_ingestion_spark.operators.bm25 import B, K1

SCORE_TOL = 1e-9


def bm25_sql(terms: list[str], table: str, k: int) -> str:
    """Corpus-IDF BM25 top-k over ``table(doc_id, text)``."""
    stoplist = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    toks = (f"list_filter(regexp_extract_all(lower(text), '{TOKEN_RE}'), "
            f"t -> length(t) >= {MIN_TOKEN_LEN} AND NOT list_contains({stoplist}, t))")
    qterms = "(" + ", ".join(f"'{t.lower()}'" for t in terms) + ")"
    term = f"idf * tf * ({K1} + 1) / (tf + {K1} * (1 - {B} + {B} * dl / avgdl))"
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks}) AS token FROM {table}),
post AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dls AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs FROM {table}),
ad AS (SELECT avg(dl) AS avgdl FROM dls),
qpost AS (SELECT * FROM post WHERE token IN {qterms}),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM qpost GROUP BY 1)
SELECT doc_id, {stable_round_sql(stable_sum_sql(term, 6), 4)} AS score
FROM (
  SELECT p.doc_id, p.tf, d.dl, s.n_docs, a.avgdl,
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) AS idf
  FROM qpost p JOIN dfreq f USING (token) JOIN dls d USING (doc_id), stats s, ad a
)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def knn_sql(qvec: list[float], table: str, k: int) -> str:
    """Exact cosine top-k over ``table(vec_id, embedding)``."""
    lit = "[" + ", ".join(repr(float(x)) for x in qvec) + "]::DOUBLE[]"
    cos = cosine_sim_sql("e.embedding::DOUBLE[]", lit)
    return f"""
SELECT vec_id, {stable_round_sql(cos, 4)} AS score
FROM {table} e
ORDER BY score DESC, vec_id ASC
LIMIT {k}
"""


def topk(con, sql: str) -> list[tuple[int, float]]:
    return [(int(i), float(s)) for i, s in con.execute(sql).fetchall()]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind == "M":
            df[c] = df[c].astype("datetime64[ns]")
        elif kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        elif kind == "O":
            df[c] = df[c].where(pd.notna(df[c]), None)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frame_digest(df: pd.DataFrame) -> tuple:
    """Columns, dtype kinds and row hashes of the canonical form."""
    c = canonical(df)
    return (tuple(c.columns), tuple(c[x].dtype.kind for x in c.columns),
            tuple(pd.util.hash_pandas_object(c, index=False).to_numpy().tolist()))


def rrf(legs: list[list[tuple[int, float]]], rrf_k: int, limit: int) -> list[tuple[int, float]]:
    """Reciprocal-rank fusion of ranked (id, score) legs; ranks are
    1-based by score desc, id asc; fused score floor-rounded to 4
    places like the engine's ``stable_round``."""
    fused: dict[int, float] = {}
    for leg in legs:
        ranked = sorted(leg, key=lambda r: (-r[1], r[0]))
        for rank, (i, _) in enumerate(ranked, start=1):
            fused[i] = fused.get(i, 0.0) + 1.0 / (rrf_k + rank)
    rounded = [(i, float(np.floor(s * 1e4 + 0.5) / 1e4)) for i, s in fused.items()]
    return sorted(rounded, key=lambda r: (-r[1], r[0]))[:limit]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want))


def upsert_emissions(events: list[pd.DataFrame]) -> pd.DataFrame:
    """The ordinal upsert's output, computed batch-wise: per micro-batch
    (one event file), each key emits its (ordinal, event_id)-argmax row
    when that ordinal is strictly newer than the key's state."""
    state: dict[int, int] = {}
    out = []
    for ev in events:
        ev = ev.assign(ordinal=ev["ordinal"].astype("int64"))
        top = ev.sort_values(["user_id", "ordinal", "event_id"]).groupby("user_id").tail(1)
        for row in top.itertuples(index=False):
            if row.ordinal > state.get(row.user_id, -1):
                state[row.user_id] = row.ordinal
                out.append((row.user_id, row.event_id, row.ordinal, row.event_type, row.value))
    return pd.DataFrame(out, columns=["user_id", "event_id", "ordinal", "event_type", "value"])
