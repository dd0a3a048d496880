"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

Reference behavior generalized: entity quality scoring
(app/utils/entity_quality.py:94-267 — stopword/length/format
heuristics → 0-1 score) and the BM25 tokenizer statistics
(search_service.py:281-285). Everything here is a pure Column
expression — JVM-side, whole-stage-codegen'd, no UDFs — so the
per-document cost is a single scan pass regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.compare import stable_round
from cocoindex_data_ingestion_spark.functions.text import (
    STOPWORDS,
    bm25_tokens,
    tokenize,
)

# Tiny per-language function-word lists for n-gram/stopword language
# ID. Deliberately small + inlined so the DuckDB oracle can reproduce
# them exactly.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "para"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour", "qui", "sur"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
}


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col))


def stopword_ratio(col: Column | str) -> Column:
    toks = tokenize(col)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.when(
        F.size(toks) > 0,
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))


def avg_token_len(col: Column | str) -> Column:
    toks = tokenize(col)
    return F.when(
        F.size(toks) > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        )
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic 0-1 quality score (reference entity_quality shape):
    rewards reasonable length, token diversity, and a sane
    stopword share; penalizes degenerate repetition.
    score = 0.4·len_score + 0.3·diversity + 0.3·stop_score.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    n = F.size(toks)
    n_chars = F.length(c)
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    sr = stopword_ratio(c)
    stop_score = F.lit(1.0) - F.abs(sr - F.lit(0.4))
    return stable_round(
        F.lit(0.4) * len_score + F.lit(0.3) * diversity + F.lit(0.3) * stop_score, 4
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over the token bag."""
    toks = tokenize(col)

    def _contains(arr: Column):
        # single-arg lambda: a second (defaulted) param would be
        # interpreted by F.filter as the element-index form
        return lambda t: F.array_contains(arr, t)

    out = {}
    for lang, markers in LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, _contains(marr)))
    return out


def lang_id(col: Column | str) -> Column:
    """argmax language by marker hits; 'und' when no marker hits.

    Deterministic tie-break: language name ascending (via ordered
    comparison chain)."""
    scores = lang_scores(col)
    langs = sorted(scores)  # deterministic iteration
    best = F.lit("und")
    best_score = F.lit(0)
    # fold left: strictly-greater keeps earlier (alphabetical) winner on ties
    for lang in langs:
        s = scores[lang]
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def doc_fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct filtered-token set (a set-similarity-stable signature,
    the reference's content-hash skip generalized,
    src/execution/row_indexer.rs:506-587)."""
    toks = F.array_sort(F.array_distinct(bm25_tokens(col)))
    return F.md5(F.concat_ws(" ", toks))


def text_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document text profile via ONE explode + groupBy.

    The scalar helpers above (``stopword_ratio``/``avg_token_len``/
    ``lang_scores``) are lambda higher-order functions, which Spark
    evaluates in the INTERPRETED expression path — measured ~6-13x
    the cost of this shape on the profile suite (the same lesson as
    bm25.content_postings' explode-then-filter note).

    Shape: explode tokens, then aggregate TWICE — first to distinct
    (doc, token, count), then to the per-doc profile. The two-level
    form exists because putting ``countDistinct`` next to
    ``collect_set`` in ONE aggregate makes Catalyst plan an Expand
    (every input row duplicated per distinct-aggregate group):
    measured 2.0s vs 0.9s at sf0.1 for the identical result. Level 1
    is the canonical wordcount shape (map-side combine on
    (doc, token)); level 2 sees only distinct doc-token pairs, so
    n_distinct is a plain count, occurrence-weighted counts use the
    level-1 counts, and the fingerprint's collect_list gathers an
    already-distinct token set (no agg-buffer dedup). Ratios use the
    exact same arithmetic as the scalar forms, so results are
    bit-identical (oracle-checked)."""
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    langs = sorted(LANG_MARKERS)
    tok = F.col("token")
    c = F.col("c")
    per_tok = docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        # explode_outer keeps zero-token docs (one null-token row)
        F.explode_outer(tokenize(text_col)).alias("token"),
    )
    # level 1: distinct (doc, token) with occurrence count; a null
    # token (empty doc) keeps its row with c=0. n_chars rides as a
    # max() aggregate, NOT a grouping key — doc-constant columns in
    # the key only widen the shuffle rows. The content-token flag is
    # projected ONCE here and reused by both its level-2 consumers
    # (occurrence count + fingerprint list) — measured 0.91→0.59s at
    # sf0.1 for the two changes together.
    lvl1 = (
        per_tok.groupBy(id_col, "token")
        .agg(F.count("token").alias("c"), F.max("n_chars").alias("n_chars"))
        .withColumn("ct", F.when(is_content_token("token"), tok))
    )
    aggs = lvl1.groupBy(id_col).agg(
        F.max("n_chars").alias("n_chars"),
        F.coalesce(F.sum(c), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.sum(c * F.length(tok)), F.lit(0)).alias("sum_len"),
        F.count(tok).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(tok.isin(*sorted(STOPWORDS)), c)), F.lit(0)
        ).alias("n_stop"),
        F.coalesce(
            F.sum(F.when(F.col("ct").isNotNull(), c)), F.lit(0)
        ).alias("n_content"),
        *[
            F.coalesce(
                F.sum(F.when(tok.isin(*LANG_MARKERS[lang]), c)), F.lit(0)
            ).alias(f"h_{lang}")
            for lang in langs
        ],
        # tokens are already distinct here; collect_list ignores the
        # nulls the content filter produces, array_sort fixes order →
        # same sorted-distinct content-token list as doc_fingerprint
        F.array_sort(F.collect_list("ct")).alias("ctoks_sorted"),
    )

    n = F.col("n_tokens")
    nz = n > 0
    sr = F.when(nz, F.col("n_stop") / n.cast("double")).otherwise(F.lit(0.0))
    diversity = F.when(nz, F.col("n_distinct") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    len_score = F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0))
    # argmax language, alphabetical tie-break, 'und' on zero hits —
    # identical to lang_id's fold
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in langs:
        s = F.col(f"h_{lang}")
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)

    return aggs.select(
        F.col(id_col),
        F.col("n_chars"),
        n.alias("n_tokens"),
        F.col("n_content").alias("n_content_tokens"),
        stable_round(sr, 4).alias("stopword_ratio"),
        stable_round(
            F.when(nz, F.col("sum_len") / n.cast("double")).otherwise(F.lit(0.0)),
            4,
        ).alias("avg_token_len"),
        stable_round(
            F.lit(0.4) * len_score
            + F.lit(0.3) * diversity
            + F.lit(0.3) * (F.lit(1.0) - F.abs(sr - F.lit(0.4))),
            4,
        ).alias("quality_score"),
        best.alias("lang_pred"),
        F.md5(F.concat_ws(" ", F.col("ctoks_sorted"))).alias("fingerprint"),
    )


# GPT-2-family pretokenizer, lookahead-free so the IDENTICAL pattern
# runs under both Java regex (Spark) and RE2 (DuckDB) with the same
# leftmost-first alternation semantics: contractions, then
# optionally-space-prefixed letter runs, digit runs, punctuation
# runs, then residual whitespace. This is the unit a byte-pair
# encoder subdivides, so its count is the tight upper bound on (and
# at-scale proxy for) the BPE token count without shipping a merges
# table into the engine.
BPE_PRETOKEN_RE = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_pretokens(col: Column | str) -> Column:
    """All pretokenizer matches (includes whitespace runs)."""
    return F.regexp_extract_all(
        F.col(col) if isinstance(col, str) else col,
        F.lit(BPE_PRETOKEN_RE),
        F.lit(0),
    )


def bpe_token_count(col: Column | str) -> Column:
    """Count of non-whitespace pretokens — the BPE-ish token count.

    Pure Column expression (JVM regex in codegen, no UDF); one scan
    at any corpus size."""
    return F.size(
        F.filter(bpe_pretokens(col), lambda t: t.rlike(r"\S"))
    )


def fuzzy_suggest(
    docs: DataFrame,
    query_term: str,
    max_dist: int = 2,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Spell-correction suggestions: corpus vocabulary terms within
    ``max_dist`` edits of ``query_term``, ranked by (distance, df
    desc, term) — the reference's quick-search/suggestions surface
    (app/api/search.py suggestions endpoint) extended with fuzzy
    matching.

    Scale shape: the expensive levenshtein never touches the corpus —
    it runs on the *vocabulary* (distinct content tokens with their
    document frequencies, a groupBy that is partial-agg friendly and
    orders of magnitude smaller than the corpus), and a length-band
    filter (|len(t) − len(q)| ≤ max_dist, a provable lower bound on
    edit distance) prunes the vocabulary before any distance is
    computed — a codegen'd range predicate, pushable into a
    length-partitioned vocabulary table at 100 TB.
    """
    from cocoindex_data_ingestion_spark.functions.text import is_content_token

    q = query_term.lower()
    vocab = (
        docs.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
        .filter(is_content_token("term"))
        .groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
    )
    return (
        vocab.filter(
            (F.length("term") >= F.lit(len(q) - max_dist))
            & (F.length("term") <= F.lit(len(q) + max_dist))
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("dist") <= max_dist)
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
        .limit(k)
        .select("term", "dist", "df")
    )


# Unicode script classes: (Java regex class, RE2/DuckDB regex class).
# The property NAMES differ (Java \p{IsLatin} vs RE2 \p{Latin}) but
# both resolve to the same Unicode script tables.
SCRIPT_CLASSES: dict[str, tuple[str, str]] = {
    "cyrillic": (r"[\p{IsCyrillic}]", r"[\p{Cyrillic}]"),
    "digit": (r"[0-9]", r"[0-9]"),
    "han": (r"[\p{IsHan}]", r"[\p{Han}]"),
    "latin": (r"[\p{IsLatin}]", r"[\p{Latin}]"),
}


def script_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-script profile per document: counts of Latin /
    Cyrillic / Han / digit characters and the dominant script — the
    script-level sanity check run next to token-based language ID
    (a 'lang=en' doc that is 90% Han characters is mislabeled, and
    script mixtures flag transliteration/spam).

    Pure Column regexes in one codegen scan, no shuffle, no explode —
    a narrow single pass at any corpus size. Dominant script is a
    deterministic argmax (alphabetical tie-break, 'none' when no
    class matches)."""
    t = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(java_re), F.lit(0)))
        for name, (java_re, _) in SCRIPT_CLASSES.items()
    }
    best = F.lit("none")
    best_n = F.lit(0)
    for name in sorted(counts):
        take = counts[name] > best_n
        best = F.when(take, F.lit(name)).otherwise(best)
        best_n = F.when(take, counts[name]).otherwise(best_n)
    return docs.select(
        F.col(id_col),
        *[counts[n].alias(f"n_{n}") for n in sorted(counts)],
        best.alias("dominant_script"),
    )


def readability(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Flesch reading-ease profile per document — the classic
    surface-fluency score a corpus-quality pass runs next to the
    Gopher/stopword filters: ``206.835 - 1.015 * words/sentences -
    84.6 * syllables/word``, with syllables approximated by vowel
    groups (the standard regex proxy; exact hyphenation needs a
    dictionary the cluster shouldn't ship).

    Pure Column expressions — three regexp counts over one scan, no
    explode, no shuffle at all (per-doc map work; Catalyst keeps it
    in a single WholeStageCodegen span over the parquet scan).
    """
    from ..functions.compare import stable_round
    from ..functions.text import TOKEN_RE

    t = F.lower(F.col(text_col))
    n_words = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0)))
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syll = F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0)))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sents.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
    )
    return docs.filter(n_words > 0).select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        stable_round(flesch, round_to).alias("flesch"),
    )


def distinct_ngram_profile(
    docs: DataFrame,
    max_n: int = 3,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Distinct-n diversity profile per group (the corpus-scale form
    of the "distinct-1/distinct-2" generation-diversity metric, Li et
    al. NAACL 2016): for each ``group`` and n in 1..``max_n``, total
    n-gram occurrences, distinct n-grams, and their ratio — low
    ratios flag templated/boilerplate-heavy sources before they skew
    a training mix.

    Plan: ONE posexplode + per-doc lead windows build every n at once
    (grams never cross document boundaries), the (n, gram) pairs
    explode map-side, and a two-level aggregate avoids the
    countDistinct-plus-count Expand: groupBy(group, n, gram) then
    groupBy(group, n).
    """
    from pyspark.sql import Window

    from ..functions.compare import stable_round
    from ..functions.text import tokenize

    pos = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col)).alias("p", "tk"),
    )
    ow = Window.partitionBy("id").orderBy("p")
    # window expressions can't sit inside a generator — project the
    # lead columns first, then build the (n, gram) structs from them
    led = pos.select(
        "grp",
        "tk",
        *[F.lead("tk", i).over(ow).alias(f"_t{i}") for i in range(1, max_n)],
    )
    leads = [F.col("tk")] + [F.col(f"_t{i}") for i in range(1, max_n)]
    entries = []
    for n in range(1, max_n + 1):
        entries.append(
            F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", *leads[:n]).alias("gram"),
                leads[n - 1].isNotNull().alias("full"),
            )
        )
    kv = (
        led.select("grp", F.explode(F.array(*entries)).alias("kv"))
        .filter(F.col("kv.full"))
        .select("grp", "kv.n", "kv.gram")
    )
    per_gram = kv.groupBy("grp", "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    return (
        per_gram.groupBy("grp", "n")
        .agg(
            F.sum("cnt").alias("total_ngrams"),
            F.count("*").alias("distinct_ngrams"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n"),
            F.col("total_ngrams").cast("long").alias("total_ngrams"),
            F.col("distinct_ngrams").cast("long").alias("distinct_ngrams"),
            stable_round(
                F.col("distinct_ngrams") / F.col("total_ngrams").cast("double"),
                round_to,
            ).alias("distinct_ratio"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    top_k: int = 500,
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ``ln(freq)``
    on ``ln(rank)`` for the ``top_k`` most frequent tokens — slope
    near -1 is the natural-language signature; a flat or cliff-shaped
    curve flags synthetic/templated corpora (the same role the
    distinct-n profile plays, from the frequency side).

    Plan: token frequencies in one shuffle; TakeOrderedAndProject
    keeps the top-k (k-bounded), so the rank window and the five
    moment sums run on k rows — the closed-form regression discipline
    of relational.group_linear_trend with ln-transformed coordinates.
    Deterministic ranking: frequency desc, token asc.

    Returns one row ``(k, slope, intercept, r2)``.
    """
    from pyspark.sql import Window

    from ..functions.compare import stable_round, stable_sum
    from ..functions.text import tokenize

    freq = (
        docs.select(F.explode(tokenize(text_col)).alias("tk"))
        .groupBy("tk")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tk"))
        .limit(top_k)
    )
    # k-bounded input: the global window is benign (top_k rows)
    w = Window.orderBy(F.desc("cnt"), F.asc("tk"))
    xy = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    g = xy.agg(
        F.count("*").cast("double").alias("n"),
        stable_sum(F.col("x"), 7).alias("sx"),
        stable_sum(F.col("y"), 7).alias("sy"),
        stable_sum(F.col("x") * F.col("y"), 7).alias("sxy"),
        stable_sum(F.col("x") * F.col("x"), 7).alias("sxx"),
        stable_sum(F.col("y") * F.col("y"), 7).alias("syy"),
    )
    n = F.col("n")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    sst = n * F.col("syy") - F.col("sy") * F.col("sy")
    ssr = slope * slope * denom
    return g.select(
        n.cast("long").alias("k"),
        stable_round(slope, round_to).alias("slope"),
        stable_round(intercept, round_to).alias("intercept"),
        stable_round(ssr / sst, round_to).alias("r2"),
    )


def collocations_pmi(
    docs: DataFrame,
    top_k: int = 20,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Top collocations by pointwise mutual information:
    ``pmi(a, b) = ln( p(ab) / (p(a) p(b)) )`` over adjacent token
    bigrams (within documents), restricted to bigrams seen at least
    ``min_count`` times — the classic collocation extractor (Church &
    Hanks 1990), and the pair-level lens the corpus_bigrams counts
    lack (raw counts surface stopword pairs; PMI surfaces bound
    phrases).

    Plan: one posexplode + lead window builds bigrams; unigram and
    bigram counts are two aggregates of the same stream; margins join
    back onto the (min_count-filtered) bigram table. Top-k by rounded
    PMI is TakeOrderedAndProject with a deterministic tiebreak.
    """
    from pyspark.sql import Window

    from ..functions.compare import stable_round
    from ..functions.text import tokenize

    pos = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col)).alias("p", "a"),
    )
    ow = Window.partitionBy("id").orderBy("p")
    bi = (
        pos.withColumn("b", F.lead("a", 1).over(ow))
        .filter(F.col("b").isNotNull())
        # the bigram stream feeds the pair counts AND the total
        .localCheckpoint(eager=False)
    )
    uni = pos.groupBy("a").agg(F.count("*").alias("ca"))
    nuni = pos.agg(F.count("*").alias("nu"))
    pair = (
        bi.groupBy("a", "b")
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= min_count)
    )
    nbi = bi.agg(F.count("*").alias("nb"))
    ub = uni.select(F.col("a").alias("b"), F.col("ca").alias("cb"))
    pmi = (
        F.col("cab").cast("double") / F.col("nb").cast("double")
    ) / (
        (F.col("ca").cast("double") / F.col("nu").cast("double"))
        * (F.col("cb").cast("double") / F.col("nu").cast("double"))
    )
    scored = (
        pair.join(uni, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nbi))
        .crossJoin(F.broadcast(nuni))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("cab").cast("long").alias("n_pair"),
            stable_round(F.log(pmi), round_to).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("bigram")
    ).limit(top_k)


def heaps_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Heaps'-law fit ``V(N) = K·N^β`` of vocabulary growth over the
    corpus in ingestion (id) order: OLS of ``ln V`` on ``ln N`` where
    ``N`` is cumulative tokens and ``V`` cumulative distinct tokens
    after each document — the vocabulary-side twin of :func:`zipf_fit`
    (β ≈ 0.4–0.6 is the natural-language signature; β → 1 flags
    random/templated text, β → 0 a closed vocabulary). A training-
    data pipeline reads K·N^β forward to size tokenizers and predict
    novel-token exposure at 100 TB.

    No per-doc rescan of history: cumulative DISTINCT collapses via
    the first-occurrence rewrite (a token is new only at its min doc
    id — the events_cumulative_users idiom), and both running sums
    use the partition-offset pattern (range repartition on doc id,
    per-partition sums, partition totals broadcast as offsets) —
    never a no-partition window. Integer token counts throughout;
    ln/moments go through the fixed-point regression discipline.

    Returns one row ``(n_docs, n_tokens, vocab, beta, k_coef, r2)``.
    """
    from pyspark.sql import Window

    from ..functions.compare import stable_round, stable_sum
    from ..functions.text import tokenize

    toks = docs.select(
        F.col(id_col).alias("_d"), F.explode(tokenize(text_col)).alias("tk")
    )
    per_doc = toks.groupBy("_d").agg(F.count("*").alias("_nt"))
    new_types = (
        toks.groupBy("tk")
        .agg(F.min("_d").alias("_d"))
        .groupBy("_d")
        .agg(F.count("*").alias("_nv"))
    )
    spine = (
        per_doc.join(new_types, "_d", "left")
        .select(
            "_d",
            "_nt",
            F.coalesce(F.col("_nv"), F.lit(0)).alias("_nv"),
        )
        .localCheckpoint(eager=False)
    )
    ordered = (
        spine.repartitionByRange(F.col("_d"))
        .sortWithinPartitions("_d")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    ptot = ordered.groupBy("_pid").agg(
        F.sum("_nt").alias("_pt"), F.sum("_nv").alias("_pv")
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = ptot.select(
        "_pid",
        F.coalesce(F.sum("_pt").over(w_off), F.lit(0)).alias("_ot"),
        F.coalesce(F.sum("_pv").over(w_off), F.lit(0)).alias("_ov"),
    )
    w_local = Window.partitionBy("_pid").orderBy("_d")
    cum = ordered.join(F.broadcast(offs), "_pid").select(
        (
            F.sum("_nt").over(w_local.rowsBetween(Window.unboundedPreceding, 0))
            + F.col("_ot")
        ).alias("_N"),
        (
            F.sum("_nv").over(w_local.rowsBetween(Window.unboundedPreceding, 0))
            + F.col("_ov")
        ).alias("_V"),
    )
    xy = cum.filter((F.col("_N") > 0) & (F.col("_V") > 0)).select(
        F.log(F.col("_N").cast("double")).alias("x"),
        F.log(F.col("_V").cast("double")).alias("y"),
        F.col("_N"),
        F.col("_V"),
    )
    g = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.max("_N").alias("_maxN"),
        F.max("_V").alias("_maxV"),
        stable_sum(F.col("x"), 7).alias("sx"),
        stable_sum(F.col("y"), 7).alias("sy"),
        stable_sum(F.col("x") * F.col("y"), 7).alias("sxy"),
        stable_sum(F.col("x") * F.col("x"), 7).alias("sxx"),
        stable_sum(F.col("y") * F.col("y"), 7).alias("syy"),
    )
    n = F.col("n")
    denom = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    sst = n * F.col("syy") - F.col("sy") * F.col("sy")
    ssr = slope * slope * denom
    return g.select(
        n.cast("long").alias("n_docs"),
        F.col("_maxN").cast("long").alias("n_tokens"),
        F.col("_maxV").cast("long").alias("vocab"),
        stable_round(slope, round_to).alias("beta"),
        stable_round(F.exp(intercept), round_to).alias("k_coef"),
        stable_round(ssr / sst, round_to).alias("r2"),
    )
