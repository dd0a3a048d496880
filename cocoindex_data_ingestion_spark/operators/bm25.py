"""BM25 lexical search as a posting-list DataFrame pipeline.

Reference behavior: ``SearchService._bm25_search`` — tokenize query
(lowercase, word regex, stopwords, len filter), fetch candidates,
score BM25 with k1=1.2 b=0.75 over precomputed ``bm25_tokens``
(app/services/search_service.py:281-368). The reference approximates
IDF over the *candidate set*; this engine computes proper
corpus-level IDF — a strict improvement enabled by having the whole
corpus as a DataFrame (documented divergence).

One postings pass, one scorer. :func:`content_postings` is the only
tokenize → explode → filter → groupBy postings pass; :func:`bm25_topk`
is the only BM25 scorer (idf, the k1/b term, the order-independent
fixed-point sum, rounding, the score-desc/id-asc top-k). Every BM25
path — corpus-IDF, candidate-IDF, weighted-term, and the prebuilt and
segmented indexes in ``indexing`` — only assembles the scorer's
(id, token, tf, dl, df[, w]) input and its two corpus statistics.

Spark-first design: an inverted index is just
``explode(tokens) → groupBy(doc, token).count()``. All aggregation is
partial-agg friendly (map-side combine), the per-token document
frequencies are a tiny DataFrame (vocabulary-sized) that Catalyst
broadcasts, and avgdl is a scalar broadcast join. Scoring a query
touches only postings for the query's terms — with the postings
table written partitioned/bucketed by token, that's partition
pruning at 100 TB, the same access path as a search engine's
term-at-a-time evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.localrel import local_df

from cocoindex_data_ingestion_spark.functions.compare import (
    stable_round,
    stable_sum,
)
from cocoindex_data_ingestion_spark.functions.text import bm25_tokens

K1 = 1.2  # app/services/search_service.py:330
B = 0.75  # app/services/search_service.py:331
SCORE_DIGITS = 4  # every BM25 score is stable-rounded to this many digits


def query_tokens(terms: list[str]) -> list[str]:
    """Query terms as postings tokens: lowercased, first occurrence kept."""
    return list(dict.fromkeys(t.lower() for t in terms))


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), F.size(bm25_tokens(text_col)).alias("dl"))


def _keep_terms(toks: DataFrame, terms: list[str] | DataFrame | None) -> DataFrame:
    """Rows whose ``token`` is a query term: an IN-list for a term list,
    a broadcast join for a (token, ...) DataFrame of terms."""
    if terms is None:
        return toks
    if isinstance(terms, DataFrame):
        return toks.join(F.broadcast(terms.select("token")), "token")
    return toks.filter(F.col("token").isin(terms))


def content_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | DataFrame | None = None,
) -> DataFrame:
    """Content-token postings ``(id, token, tf)`` — the one postings
    pass every BM25 path uses. One shuffle on (id, token).

    ``terms`` restricts the postings to query terms BEFORE the
    aggregate, so a per-query pass shuffles only query-term hits, not
    the corpus vocabulary.

    explode-then-filter (not an array-lambda filter): the stopword/
    length predicate is a codegen'd Filter with an IN-list — the
    array-lambda form runs interpreted and dominates at corpus scale
    (measured ~40s/pass on 250k docs vs ~1s for this shape).

    Checkpointed by a multi-leg caller, one full table replaces every
    per-leg re-tokenize (r11): per-term postings are a filter of it,
    doc length is ``sum(tf)`` grouped by id (the same count as
    ``size(bm25_tokens(text))`` — both count the identical filtered
    token multiset), and PRF expansion frequencies are ``sum(tf)``
    over the feedback docs. All integer arithmetic — bit-identical
    scores."""
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("token")
    ).filter(is_content_token("token"))
    return (
        _keep_terms(toks, terms)
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )


def doc_freqs(postings: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-token document frequency ``(token, df)`` of a postings table."""
    return postings.groupBy("token").agg(F.countDistinct(id_col).alias("df"))


def bm25_topk(
    rows: DataFrame,
    n_docs: Column,
    avgdl: Column,
    k: int,
    id_col: str = "doc_id",
    weighted: bool = False,
) -> DataFrame:
    """The BM25 scorer: top-``k`` ``(id, score)`` from per-(doc, term)
    rows ``(id, token, tf, dl, df[, w])``.

    idf(t) = ln( (N - df + 0.5) / (df + 0.5) + 1 )   [Robertson/Lucene]
    score(d) = Σ_t [w ·] idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    ``n_docs``/``avgdl`` are Columns: a literal for an index whose
    stats are known when the query is defined, a column of a
    crossJoined stats row otherwise. ``weighted`` scales each term by the row's ``w``.
    Per-term scores are quantized at 1e-6 and summed exactly as longs,
    so a doc's score is independent of partition/accumulation order
    (see compare.stable_sum); the quantization error (≤5e-7/term) is
    invisible at SCORE_DIGITS. Ties rank by id ascending."""
    term_idf = F.col("w") * F.col("idf") if weighted else F.col("idf")
    scored = (
        rows.withColumn(
            "idf",
            F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "term_score",
            term_idf
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)),
        )
        .groupBy(id_col)
        .agg(
            stable_round(stable_sum(F.col("term_score"), 6), SCORE_DIGITS)
            .alias("score")
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "score")
    )


def _corpus_bm25(
    docs: DataFrame,
    terms: list[str] | DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    dls: DataFrame | None,
    postings: DataFrame | None,
    weighted: bool = False,
) -> DataFrame:
    """Corpus-IDF BM25 inputs for :func:`bm25_search` and
    :func:`bm25_search_weighted` (``terms`` is then the (token, w)
    frame)."""
    if dls is None:
        dls = doc_lengths(docs, id_col, text_col).filter(F.col("dl") > 0)
    # one broadcast scalar row instead of two separate ones
    stats = docs.select(F.count("*").alias("n_docs")).crossJoin(
        dls.select(F.avg("dl").alias("avgdl"))
    )
    if postings is not None:
        qpost = _keep_terms(postings, terms)
    else:
        qpost = content_postings(docs, id_col, text_col, terms)
    rows = qpost.join(F.broadcast(doc_freqs(qpost, id_col)), "token")
    if weighted:
        rows = rows.join(F.broadcast(terms), "token")
    rows = rows.join(dls, id_col).crossJoin(F.broadcast(stats))
    return bm25_topk(rows, F.col("n_docs"), F.col("avgdl"), k, id_col, weighted)


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    dls: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Corpus-IDF BM25 top-k for a bag of query terms.

    ``dls`` — optional precomputed ``doc_lengths(...).filter(dl > 0)``
    table: multi-leg callers (PRF) pass ONE checkpointed length table
    so the corpus is not re-tokenized once per dls USE per leg (r10,
    guide §1.4/§6 — the length table is (id, int), thousands of times
    narrower than the text it derives from).

    ``postings`` — optional checkpointed :func:`content_postings`
    table (r11): when given, the query-term postings are a FILTER of
    it instead of another tokenize pass over the corpus.

    avgdl is over docs having ≥1 token (zero-token docs can never
    match a query, so their exclusion from avgdl is the only —
    documented — divergence from a length-table over all docs).
    N = count(*) — a parquet statistics read, no data scan.

    Shuffle discipline (the part that matters at 100 TB): doc
    lengths come from a NARROW per-doc projection
    (``size(bm25_tokens)``, zero shuffle — provably equal to
    Σ tf of that doc's postings since both count the same filtered
    token multiset), and the postings aggregation filters to the
    query's terms BEFORE its groupBy — so the only posting shuffle
    carries query-term hits, not the whole corpus vocabulary. An
    earlier shape aggregated full postings and derived dl from them:
    that shuffled every (doc, token) pair twice per query.
    """
    return _corpus_bm25(
        docs, query_tokens(query_terms), k, id_col, text_col, dls, postings
    )


def bm25_search_candidate_idf(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reference-exact BM25 compat mode: every corpus statistic is
    computed over the CANDIDATE SET (documents matching ≥1 query
    term), not the corpus — mirroring the reference's scorer, which
    fetches candidates per token and then sets ``N = len(candidates)``
    and ``avg_len`` over candidate token lengths
    (app/services/search_service.py:296-348).

    Divergences from :func:`bm25_search` (the corpus-IDF default):
    N and avgdl shrink to the matched subset, so scores — and, when
    candidate lengths skew away from the corpus mean, ranks — differ.
    df(t) is IDENTICAL in both modes (every doc containing t is by
    definition a candidate); the reference's per-token fetch cap
    (``per_token_limit``) is dropped because a capped candidate set
    is fetch-order-dependent — this is the deterministic closure of
    the same scoring rule, which makes score-level parity testable.

    Plan shape: same single query-term postings shuffle as
    :func:`bm25_search`; the candidate id set rides a semi join
    against the narrow doc-length projection, and the three stats
    (N, avgdl, df) are scalar/vocabulary-sized broadcasts. qpost is
    lazily checkpointed — three consumers (candidates, df, scoring)
    would otherwise each replay the postings scan.
    """
    qpost = content_postings(
        docs, id_col, text_col, query_tokens(query_terms)
    ).localCheckpoint(eager=False)
    cand_ids = qpost.select(id_col).distinct()
    # full document length (all content tokens), restricted to candidates
    cand_dls = doc_lengths(docs, id_col, text_col).join(cand_ids, id_col)
    stats = cand_ids.agg(F.count("*").alias("n_docs")).crossJoin(
        cand_dls.agg(F.avg("dl").alias("avgdl"))
    )
    rows = (
        qpost.join(F.broadcast(doc_freqs(qpost, id_col)), "token")
        .join(cand_dls, id_col)
        .crossJoin(F.broadcast(stats))
    )
    return bm25_topk(rows, F.col("n_docs"), F.col("avgdl"), k, id_col)


def bm25_search_weighted(
    docs: DataFrame,
    weighted_terms: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    dls: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """BM25 with a *DataFrame* of (token, w) query terms — each
    term's contribution scaled by its weight. This is the shape a
    data-dependent query (relevance feedback, learned expansion)
    needs: the term set is computed by the engine, never collected
    to the driver, and reaches the postings scan as a broadcast hash
    join (vocabulary-sized build side) instead of an IN-list.

    ``postings`` — optional checkpointed :func:`content_postings`
    table (r11): the weighted-term postings become a broadcast
    semi-filter of it instead of a tokenize pass.
    """
    return _corpus_bm25(
        docs, weighted_terms, k, id_col, text_col, dls, postings, weighted=True
    )


def prf_expansion_terms(
    docs: DataFrame,
    query_terms: list[str],
    fb_docs: int = 10,
    n_terms: int = 5,
    beta: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    dls: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """RM3-style pseudo-relevance feedback: run BM25 with the
    original terms, take the top ``fb_docs`` as the (pseudo-)relevant
    set, and pick the ``n_terms`` most frequent content tokens in
    that set (excluding the originals) as expansion terms at weight
    ``beta``; original terms keep weight 1.0.

    Everything stays in DataFrames: the feedback set is a k-row
    broadcast, the expansion-term frequency is an integer aggregate
    (deterministic ordering: count desc, token asc), and the result
    feeds :func:`bm25_search_weighted` without driver round-trips.

    ``postings`` — optional checkpointed :func:`content_postings`
    table (r11): the base leg filters it, and the expansion-term
    frequency is ``sum(tf)`` over the feedback docs' postings —
    integer-identical to counting the exploded occurrences.
    """
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    qterms = query_tokens(query_terms)
    base = bm25_search(
        docs, qterms, k=fb_docs, id_col=id_col, text_col=text_col, dls=dls,
        postings=postings,
    )
    fb_ids = base.select(id_col)
    if postings is not None:
        expansion = (
            postings.join(F.broadcast(fb_ids), id_col)
            .filter(~F.col("token").isin(qterms))
            .groupBy("token")
            .agg(F.sum("tf").alias("w_tf"))
            .orderBy(F.col("w_tf").desc(), F.col("token").asc())
            .limit(n_terms)
            .select("token", F.lit(float(beta)).alias("w"))
        )
    else:
        expansion = (
            docs.join(F.broadcast(fb_ids), id_col)
            .select(F.explode(tokenize(text_col)).alias("token"))
            .filter(is_content_token("token") & ~F.col("token").isin(qterms))
            .groupBy("token")
            .agg(F.count("*").alias("w_tf"))
            .orderBy(F.col("w_tf").desc(), F.col("token").asc())
            .limit(n_terms)
            .select("token", F.lit(float(beta)).alias("w"))
        )
    spark = docs.sparkSession
    orig = local_df(
        spark, [(t, 1.0) for t in qterms], "token string, w double"
    )
    return orig.unionByName(expansion)


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase search via positional postings: a document
    matches where ``phrase[j]`` occurs at position ``base + j`` for
    every j; ranked by phrase frequency (then id).

    Plan shape: each term's positions are FILTERED OUT of the token
    stream before any join (a codegen predicate — with a positional
    postings index this is the per-term partition-pruned read), so
    the (id, base) equi-joins chain over per-term posting lists, not
    the corpus. n−1 joins for an n-term phrase, each carrying only
    that term's occurrences.
    """
    from cocoindex_data_ingestion_spark.functions.text import tokenize

    terms = [t.lower() for t in phrase]
    pos = docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("p", "token")
    )
    cur = (
        pos.filter(F.col("token") == terms[0])
        .select(id_col, F.col("p").alias("base"))
    )
    for j, t in enumerate(terms[1:], start=1):
        nxt = pos.filter(F.col("token") == t).select(
            id_col, (F.col("p") - j).alias("base")
        )
        cur = cur.join(nxt, [id_col, "base"])
    return (
        cur.groupBy(id_col)
        .agg(F.count("*").alias("n_phrase"))
        .orderBy(F.col("n_phrase").desc(), F.col(id_col).asc())
        .limit(k)
    )


def phrase_snippets(
    docs: DataFrame,
    phrase: list[str],
    k: int = 5,
    context: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Search-result snippets: for the top-k phrase-matching docs,
    the ``context``-token window around the FIRST occurrence — the
    result-presentation step behind every citation/highlight UI
    (the reference shows ±120-char citations; token windows are the
    tokenizer-aligned form).

    One extra groupBy over :func:`phrase_search`'s match stream
    (min position per doc) plus a slice of the already-tokenized
    array — no second text scan.
    """
    from cocoindex_data_ingestion_spark.functions.text import tokenize

    terms = [t.lower() for t in phrase]
    toks = docs.select(F.col(id_col), tokenize(text_col).alias("_toks"))
    pos = toks.select(
        id_col, F.posexplode(F.col("_toks")).alias("p", "token")
    )
    cur = (
        pos.filter(F.col("token") == terms[0])
        .select(id_col, F.col("p").alias("base"))
    )
    for j, t in enumerate(terms[1:], start=1):
        nxt = pos.filter(F.col("token") == t).select(
            id_col, (F.col("p") - j).alias("base")
        )
        cur = cur.join(nxt, [id_col, "base"])
    hits = cur.groupBy(id_col).agg(
        F.count("*").alias("n_phrase"), F.min("base").alias("first_pos")
    )
    # slice is 1-based; first_pos is 0-based; window = context before
    # the phrase through context after it
    start = F.greatest(F.lit(1), F.col("first_pos") + 1 - context)
    length = len(terms) + 2 * context
    return (
        hits.join(toks, id_col)
        .select(
            id_col,
            "n_phrase",
            "first_pos",
            F.concat_ws(" ", F.slice(F.col("_toks"), start, length)).alias(
                "snippet"
            ),
        )
        .orderBy(F.col("n_phrase").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- tf-idf: weights, query-by-document retrieval, keyword extraction --------
#
# The tf-idf complement to BM25 over the same postings: sklearn-style
# smoothed idf = ln((N+1)/(df+1)) + 1 (never zero, so every present
# token contributes). Same scale discipline as bm25_search — the
# vocabulary-sized df table broadcasts, the corpus crosses one
# (doc, token) shuffle, and retrieval touches only the probe's
# postings.


def tfidf_weights(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sparse tf-idf representation ``(id, token, w)``.

    One postings shuffle; df and the doc count are vocabulary-/scalar-
    sized broadcasts (the unigram_logprob pattern)."""
    post = content_postings(docs, id_col, text_col)
    stats = docs.agg(F.count(F.col(id_col)).alias("n_docs"))
    dfreq = post.groupBy("token").agg(F.count("*").alias("df"))
    return (
        post.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "token",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                )
            ).alias("w"),
        )
    )


def tfidf_norms(weights: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc L2 norm of the tf-idf vector (fixed-point sum of
    squares → engine-exact sqrt)."""
    w = F.col("w")
    return weights.groupBy(id_col).agg(
        F.sqrt(stable_sum(w * w, 9)).alias("nrm")
    )


def tfidf_similar_docs(
    docs: DataFrame,
    probe_id: int,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Query-by-document: rank the corpus by tf-idf cosine to one
    probe document — "more like this" retrieval.

    The probe's sparse vector is one document's distinct tokens
    (k-bounded → broadcast); the dot product is an inverted-index
    join touching only those tokens' postings, then one per-doc
    aggregation. Linear in the probe terms' posting lists, never
    quadratic in the corpus — the all-pairs variant is deliberately
    absent (near-dup pairing is served by the LSH/SimHash/embedding
    dedup family, which prunes candidates before pairing).
    """
    # four consumers (probe vector, probe norm, dots, norms) would
    # otherwise each replay the postings pipeline — measured 19
    # exchanges vs 6 with the weights materialized once
    w = tfidf_weights(docs, id_col, text_col).localCheckpoint(eager=False)
    norms = tfidf_norms(w, id_col).localCheckpoint(eager=False)
    qw = w.filter(F.col(id_col) == probe_id).select(
        "token", F.col("w").alias("qw")
    )
    qn = norms.filter(F.col(id_col) == probe_id).select(
        F.col("nrm").alias("qnrm")
    )
    dots = (
        w.filter(F.col(id_col) != probe_id)
        .join(F.broadcast(qw), "token")
        .groupBy(id_col)
        .agg(stable_sum(F.col("w") * F.col("qw"), 9).alias("dot"))
    )
    score = stable_round(
        F.col("dot") / (F.col("nrm") * F.col("qnrm")), round_to
    )
    return (
        dots.join(norms, id_col)
        .crossJoin(F.broadcast(qn))
        .select(id_col, score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Top-``k`` keywords per document by tf-idf weight — the
    document-tagging primitive (the reference attaches keyword hints
    to entities; this is the corpus-statistical version).

    Rank inside each doc's own partition (a per-doc window over the
    doc's distinct tokens — bounded by doc vocabulary, no global
    window). Ties rank on the 6-digit stable weight then token text,
    so ordering is engine-exact."""
    from pyspark.sql import Window

    w = tfidf_weights(docs, id_col, text_col)
    w6 = stable_round(F.col("w"), 6)
    win = Window.partitionBy(id_col).orderBy(
        w6.desc(), F.col("token").asc()
    )
    return (
        w.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "token",
            stable_round(F.col("w"), round_to).alias("w"),
        )
    )
