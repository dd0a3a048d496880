"""Deduplication suite for large-scale training-data pipelines.

Reference behavior being generalized: exact/fuzzy entity dedup
(app/utils/entity_deduplication.py:57-456 — normalize, similarity,
find_duplicates >= 0.85) and graph duplicate-merge
(app/services/neo4j_service.py:353-427). This module applies the
same shapes to *documents* at corpus scale:

- ``exact_dedup``     — md5 fingerprint groupBy. One shuffle on the
  fingerprint; at 100 TB this is the cheapest pass and removes the
  bulk of boilerplate dups.
- ``ngram_jaccard_pairs`` — shingle-blocked pairwise Jaccard. The
  candidate join is on shared shingles (an inverted-index join), so
  cost is Σ_shingle df² instead of N² — the standard blocking trick.
  Hot shingles are capped (df ceiling) to bound skew.
- ``minhash_lsh_pairs`` — MinHash signatures + banded LSH buckets.
  Candidate pairs share a band bucket; collision probability follows
  the s-curve (b bands × r rows). Hashing uses md5 (engine-portable,
  deterministic) — at scale swap for xxhash64 (cheaper, JVM-side).
- ``embedding_cosine_pairs`` — near-dup by embedding similarity,
  LSH-bucketed for scale.

All emit candidate/duplicate *pairs* (id_a < id_b) so downstream can
connected-component them into groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cocoindex_data_ingestion_spark.functions.compare import stable_round
from cocoindex_data_ingestion_spark.functions.text import bm25_tokens, tokenize


def fingerprint(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by content fingerprint; canonical = min id per group."""
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings 'w1 w2 w3' (distinct)."""
    toks = tokenize(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_rows(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "sh",
) -> DataFrame:
    """Distinct ``(id, shingle)`` rows built JVM-side: posexplode +
    ``lead`` windows concatenate each word n-gram inside
    WholeStageCodegen. Measured ~10x faster at sf0.1 than exploding
    the ``shingles()`` array — the higher-order ``F.transform`` +
    ``F.slice`` lambda runs in Spark's INTERPRETED expression
    evaluator, and on a small parquet file it additionally serializes
    on a single input partition, while this shape shuffles by doc
    first and grams in parallel codegen.

    Documents with fewer than ``n`` tokens contribute their whole
    token string as one shingle (``concat_ws`` skips the null leads),
    mirroring ``shingles()``'s fallback; empty documents contribute
    nothing.
    """
    from pyspark.sql import Window

    pos = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col)).alias("p", "tk"),
    )
    ow = Window.partitionBy("id").orderBy("p")
    parts = [F.col("tk")] + [F.lead("tk", i).over(ow) for i in range(1, n)]
    return (
        pos.select(
            "id",
            F.concat_ws(" ", *parts).alias(out_col),
            parts[-1].isNotNull().alias("_full"),
            "p",
        )
        .filter(F.col("_full") | (F.col("p") == 1))
        .select("id", out_col)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int = 1000,
    round_to: int = 4,
) -> DataFrame:
    """N-gram Jaccard over *discriminative* shingles.

    jaccard(A,B) = |A∩B| / (|A|+|B|−|A∩B|) computed over the shingle
    sets with corpus df ≤ ``max_shingle_df`` — ubiquitous shingles
    (boilerplate) carry no dedup signal and are what makes the
    shared-shingle join quadratic on skewed corpora, so they are
    excluded from BOTH the intersection and the set sizes (a
    well-defined similarity, consistently mirrored by the oracle).
    Join cost is bounded by Σ_shingle min(df, cap)².
    """
    sh = shingle_rows(docs, n, id_col, text_col, out_col="sh")
    rare = sh.groupBy("sh").agg(F.count("*").alias("df")).filter(
        F.col("df") <= max_shingle_df
    )
    # NO broadcast hint: `rare` keeps (almost) every distinct shingle —
    # corpus-sized, so broadcasting it would pin the shingle vocabulary
    # on every executor at scale. `rare` is already hash-partitioned on
    # sh by its groupBy; the shuffle join reuses that partitioning.
    sh = sh.join(rare.select("sh"), "sh")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))

    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            stable_round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                round_to,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature(col: Column | str, num_hashes: int = 16) -> list[Column]:
    """MinHash: per hash-seed i, min over tokens of md5(i || token).

    md5-hex strings compare lexicographically — a valid uniform order,
    identical in any engine. Returns one Column per hash."""
    toks = F.array_distinct(bm25_tokens(col))

    def _hash(prefix: str, chunk: int):
        return lambda t: F.substring(
            F.md5(F.concat(F.lit(prefix), t)), chunk * 8 + 1, 8
        )

    # same chunked-md5 family as minhash_buckets: hash i = chunk i%4
    # of md5('{i//4}:' || token)
    return [
        F.array_min(F.transform(toks, _hash(f"{i // 4}:", i % 4))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs: equal MinHash band in >=1 of b bands.

    rows-per-band r = num_hashes/bands; P(candidate) = 1−(1−s^r)^b
    for Jaccard s. The band-bucket join is an equi-join on
    (band_id, bucket-hash): fully shuffle-partitionable, no N².
    """
    rows_per_band = num_hashes // bands
    sig = docs.select(F.col(id_col).alias("id"), *minhash_signature(text_col, num_hashes))
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    buckets = banded.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("#", F.lit(str(b)), F.col(f"band_{b}"))
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_buckets(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, bucket) pairs: one row per document per band.

    Signature computation: tokens exploded ONCE, all minhashes as
    aggregates of one groupBy — avoids 16 re-evaluations of the
    tokenization expression (Catalyst's CollapseProject would inline
    the token array into every per-hash column) and needs no array
    allocations. One shuffle on id.

    ``hash_fn``:
    - ``"md5"`` — hex strings; exists in DuckDB, so this is the
      oracle-comparable variant.
    - ``"xxhash64"`` — the production variant: 64-bit long compare
      instead of 32-char string hashing/comparison, ~10× cheaper per
      token at identical LSH statistics (any uniform hash family
      works for minhash). No DuckDB twin — equivalence to md5 is
      established on duplicate *components* (test_operators).
    """
    from cocoindex_data_ingestion_spark.functions.parallel import (
        spread_python_stage,
    )
    from cocoindex_data_ingestion_spark.functions.text import (
        is_content_token, tokenize,
    )

    # tokenize + explode + the map-side partial dedup all run BELOW
    # the first exchange, i.e. with the scan's parallelism — on a
    # single-split input that is one task doing the whole corpus's
    # hashing feed (r10, guide §2.5). Same guarded spread as the
    # Python stages: no-op on any multi-split real-scale scan. Only
    # for the md5 family — the xxhash64 variant's per-token hashing
    # is ~10x cheaper (docstring below), and there the one exchange
    # measured as a net loss (A/B in OPTIMIZATION_r10.md).
    if hash_fn == "md5":
        docs = spread_python_stage(docs, id_col)
    rows_per_band = num_hashes // bands
    # explode-then-filter for codegen (see bm25.content_postings), then
    # per-doc dropDuplicates BEFORE hashing: min over the distinct
    # token set equals min over the multiset, so signatures are
    # unchanged, and the num_hashes hash evaluations run on distinct
    # (id, token) pairs only — measured ~15% cheaper at sf0.1 and
    # growing with per-doc repetition. (Distinct-per-doc is NOT the
    # rejected dictionary-encoding: no global vocabulary, no join —
    # just one exchange that the signature groupBy's partial
    # aggregation was paying in similar coin anyway.)
    toks = (
        docs.select(
            F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("token")
        )
        .filter(is_content_token("token"))
        .dropDuplicates(["id", "token"])
    )
    # Hashing stays INLINE in the scan->agg pipeline. A
    # dictionary-encoded variant (hash each distinct token once,
    # broadcast-join signatures back) was measured and REJECTED: the
    # extra distinct shuffle + join costs ~2x the inline hashing at
    # any vocab size tried — per-token hashing is map-side-free while
    # every added exchange is not.
    if hash_fn == "xxhash64":
        sig = toks.groupBy("id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("token"))).alias(f"mh_{i}")
                for i in range(num_hashes)
            ]
        )
        band_cols = [
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
        banded = sig.select("id", *band_cols)
        return banded.select(
            "id",
            F.explode(
                F.array(*[F.col(f"band_{b}") for b in range(bands)])
            ).alias("bucket"),
        )
    else:
        # One md5 yields FOUR independent 32-bit (8-hex-char) minhash
        # functions via substring chunking — 4 md5 invocations per
        # token instead of 16 (chunks of a cryptographic hash are
        # independently uniform, so the LSH collision statistics are
        # unchanged). Chunk substrings are projected BEFORE the
        # aggregation so each md5 is computed once per token row in
        # codegen, not once per min() aggregate.
        n_seeds = (num_hashes + 3) // 4
        seeded = toks.select(
            "id",
            *[
                F.md5(F.concat(F.lit(f"{j}:"), F.col("token"))).alias(f"h_{j}")
                for j in range(n_seeds)
            ],
        )
        chunked = seeded.select(
            "id",
            *[
                F.substring(F.col(f"h_{i // 4}"), (i % 4) * 8 + 1, 8).alias(f"c_{i}")
                for i in range(num_hashes)
            ],
        )
        sig = chunked.groupBy("id").agg(
            *[F.min(F.col(f"c_{i}")).alias(f"mh_{i}") for i in range(num_hashes)]
        )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("#", F.lit(str(b)), F.col(f"band_{b}"))
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )


def minhash_lsh_edges(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup *graph edges*: each bucket member linked to the
    bucket's min id (star edges).

    This is the 100 TB form of LSH output: all-pairs within a bucket
    is O(|bucket|²) and explodes on skewed buckets (a 2.7k-doc
    bucket alone yields 3.6M pairs); star edges are O(|bucket|),
    preserve the connected components exactly, and keep the
    downstream component computation shallow (star diameter ≤ 2).
    One window aggregation per bucket — a single shuffle on bucket.
    """
    from pyspark.sql import Window

    buckets = minhash_buckets(docs, num_hashes, bands, id_col, text_col, hash_fn)
    w = Window.partitionBy("bucket")
    return (
        buckets.withColumn("id_a", F.min("id").over(w))
        .filter(F.col("id_a") != F.col("id"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Min-label propagation to fixpoint: (node_id, component) where
    component = min node id in the connected component.

    Each iteration is one join + groupBy-min; star-shaped edge
    inputs (minhash_lsh_edges) converge in O(diameter) rounds —
    bucket-star graphs have diameter ≤ 4, so the default cap is
    generous for every dedup path. The loop checkpoints by
    localCheckpoint to truncate lineage (otherwise the plan doubles
    per iteration).

    The min label travels ONE hop per round, so a high-diameter
    graph (long chains) legitimately needs diameter rounds; hitting
    ``max_iterations`` unconverged raises (silently wrong labels are
    worse) — use :func:`connected_components_star` there, which
    contracts in O(log² n) rounds regardless of diameter.
    """
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node_id)
            .groupBy(F.col("src").alias("node_id"))
            .agg(F.min("component").alias("n_comp"))
        )
        # Fold the convergence flag into the label update itself: the
        # old component is still in scope here, so a per-row _changed
        # bit + one max() over the already-checkpointed result replaces
        # the old-vs-new join probe (which re-scanned both label sets
        # every iteration).
        new_labels = (
            labels.join(neighbor_min, "node_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("n_comp"), F.col("component"))
                    < F.col("component")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.agg(
            F.max(F.col("_changed").cast("int")).alias("c")
        ).first()[0]
        labels = new_labels.drop("_changed")
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components: not converged after {max_iterations}"
        " rounds — the graph's diameter exceeds the cap; use"
        " connected_components_star (O(log² n) rounds) or raise"
        " max_iterations"
    )


def connected_components_star(
    edges: DataFrame, max_iterations: int = 30
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log² n)-round shape for graphs whose diameter
    makes per-hop label propagation too deep at 100 TB scale.

    Invariant per round (edge list kept symmetric-free as (u, v)
    pairs with no orientation assumption):

    - large-star: for every node u, link each *strictly larger*
      neighbor v > u to m = min(Γ(u) ∪ {u}). Cuts long chains by
      pointing big nodes at the locally-smallest.
    - small-star: for every node u, link each neighbor v ≤ u (and u
      itself) to m = min of that set. Flattens the stars.

    Both steps preserve connectivity exactly and only ever decrease
    the (sum of) parent pointers, so the fixpoint is the star graph
    rooted at each component's min id — the identical (node_id,
    component) contract as :func:`connected_components` (equivalence
    pinned in test_operators). Each half-round is one groupBy
    shuffle; lineage is truncated per round with localCheckpoint.
    Convergence is detected from the round's own aggregate (edge
    count + xor/sum fingerprint folded into the same job), not a
    separate old-vs-new join.
    """
    # normalized undirected edge set (u < v), dropping self-loops
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    for _ in range(max_iterations):
        # large-star: group neighborhoods of BOTH endpoints
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbr_min = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            # NO distinct here (r10): duplicates cannot change smin's
            # per-v min nor the round's edge SET — `small`'s distinct
            # (which the fingerprint and the next round read) erases
            # them — so deduping large bought nothing but a full
            # extra exchange per round (one of three).
        )
        # small-star over the large-star output: for each u, neighbors
        # that are <= u (under (u<v) normalization that's the v-side
        # grouping), plus u itself, all linked to the min
        smin = large.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            large.join(smin, "v")
            .select(F.col("u"), F.col("v"), F.col("m"))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("u", "m").alias("u"),
                            F.greatest("u", "m").alias("v"),
                        ),
                        F.struct(
                            F.least("v", "m").alias("u"),
                            F.greatest("v", "m").alias("v"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # order-independent multiset fingerprint of the edge list,
        # computed in the same job that materializes the checkpoint
        # per-edge hash reduced mod 2^31 before summing: full-range
        # xxhash64 longs overflow the ANSI sum at a few billion rows
        fp = small.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v") % F.lit(2**31)).alias("h"),
        ).first()
        e = small
        if prev_fp == (fp["n"], fp["h"]):
            break
        # Early fixpoint break (r10, tightened r11): under the (u < v)
        # normalization the fixpoint is exactly "e is a disjoint union
        # of stars rooted at their component minima". The full star
        # characterization needs BOTH witnesses absent:
        #   (a) no node appears as both a parent (u) and a child (v)
        #       — any u∩v witness is an uncontracted depth-≥2 path;
        #   (b) every child v has exactly ONE distinct parent — a
        #       child with two parents (neither itself a child, so it
        #       passes (a)) means two star roots of one component are
        #       still unmerged (repro: {(3,4),(3,5),(1,4),(2,5)} →
        #       after one round {(1,3),(1,4),(2,3),(2,5)}: node 3 has
        #       parents 1 and 2 but is never a parent itself).
        # (a)∧(b) ⟺ e is a child→parent function forming depth-1
        # trees, i.e. disjoint stars, on which both halves of the next
        # round provably reproduce e verbatim. Because `small` is
        # distinct, a node's distinct-parent count is simply its row
        # count on the v side, so (b) folds into the same node-keyed
        # aggregation as (a): sum(pv) ≥ 2 flags it. Testing the
        # round's checkpointed output directly saves the ONE FULL
        # ROUND (two edge-list shuffles, two joins, explode, distinct,
        # checkpoint) the fingerprint-equality rule pays to observe
        # stability. The test is a single node-keyed aggregation
        # (~1/3 of a round); this family's inputs are bucket-star
        # edge lists that contract in 2-3 rounds (docstring above),
        # so one test per round for one saved round is a win — for
        # deep adversarial graphs the fingerprint equality above
        # remains the backstop.
        not_star = (
            small.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("node"),
                            F.lit(1).alias("pu"),
                            F.lit(0).alias("pv"),
                        ),
                        F.struct(
                            F.col("v").alias("node"),
                            F.lit(0).alias("pu"),
                            F.lit(1).alias("pv"),
                        ),
                    )
                ).alias("x")
            )
            .groupBy("x.node")
            .agg(
                F.max("x.pu").alias("pu"),
                F.max("x.pv").alias("pv"),
                F.sum("x.pv").alias("np"),
            )
            .agg(
                F.max(
                    F.greatest(
                        F.col("pu") * F.col("pv"),
                        (F.col("np") >= F.lit(2)).cast("int"),
                    )
                ).alias("b")
            )
            .first()[0]
        )
        if not not_star:  # None (empty) or 0: e is a disjoint star union
            break
        prev_fp = (fp["n"], fp["h"])
    else:
        # same contract as connected_components: silently wrong labels
        # are worse than a loud failure
        raise RuntimeError(
            "connected_components_star did not reach a fixpoint within"
            f" {max_iterations} rounds; raise max_iterations"
        )
    # fixpoint: e is a star graph (component_min, member); members plus
    # the roots themselves form the label table
    return (
        e.select(F.col("v").alias("node_id"), F.col("u").alias("component"))
        .unionByName(
            e.select(F.col("u").alias("node_id"), F.col("u").alias("component"))
        )
        .groupBy("node_id")
        .agg(F.min("component").alias("component"))
    )


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over tokens using xxhash64 bit votes.

    For each bit position, sum(+1/−1) votes across token hashes; bit
    set if the sum is positive. JVM-side only (xxhash64), used by the
    streaming/bulk path; the oracle-checked variant is
    ``simhash_sql``-free (rows-only check) since DuckDB lacks
    xxhash64."""
    toks = F.array_distinct(bm25_tokens(col))

    def _vote(mask_col: Column):
        return lambda acc, t: acc + F.when(
            F.xxhash64(t).bitwiseAND(mask_col) != 0, 1
        ).otherwise(-1)

    bits = []
    for i in range(64):
        # signed two's-complement: bit 63 is the long's sign bit
        mask_val = (1 << i) if i < 63 else -(1 << 63)
        mask = F.lit(mask_val).cast("long")
        vote = F.aggregate(toks, F.lit(0), _vote(mask))
        bits.append(
            F.when(vote > 0, F.lit(mask_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for bcol in bits[1:]:
        out = out.bitwiseOR(bcol)
    return out


def simhash_md5(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash with md5-derived bit votes → (id, sig_hi,
    sig_lo): the oracle-checkable twin of :func:`simhash64`.

    xxhash64 doesn't exist in DuckDB, so the fast path is rows-only;
    this variant derives each token's 64 vote bits from its md5 hex
    digest (4 bits per hex char — both engines produce identical
    lowercase hex), making the whole signature exact integer
    arithmetic that a DuckDB twin reproduces bit-for-bit. The
    signature is returned as two 32-bit halves packed in BIGINTs to
    stay clear of signed-64 overflow in either engine.

    Plan shape: explode(tokens) × explode(0..63) → two hash
    aggregations, all JVM-side expressions (no UDF) — same
    map-side-combine shape as the xxhash64 path, ~64× the rows; use
    simhash64 for bulk, this one to certify the semantics.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(bm25_tokens(F.col(text_col)))).alias("tok"),
    )
    bits = toks.select(
        id_col, F.md5("tok").alias("hx"),
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    )
    votes = bits.select(
        id_col,
        "b",
        F.expr(
            "CASE WHEN ((instr('0123456789abcdef',"
            " substring(hx, CAST(b div 4 AS INT) + 1, 1)) - 1)"
            " div shiftleft(1, CAST(b % 4 AS INT))) % 2 = 1"
            " THEN 1 ELSE -1 END"
        ).alias("vote"),
    )
    s = votes.groupBy(id_col, "b").agg(F.sum("vote").alias("sv"))
    return s.groupBy(id_col).agg(
        F.sum(
            F.expr(
                "CASE WHEN b >= 32 AND sv > 0"
                " THEN shiftleft(CAST(1 AS BIGINT), CAST(b - 32 AS INT))"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("sig_hi"),
        F.sum(
            F.expr(
                "CASE WHEN b < 32 AND sv > 0"
                " THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"
                " ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("sig_lo"),
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 0,
    round_to: int = 4,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold.

    n_bits=0 → exact all-pairs (id_a < id_b) — O(N²), test scale
    only. n_bits>0 → sign-LSH blocking: only pairs in the same
    signature bucket are compared (the 100 TB path; near-identical
    vectors share sign bits with high probability).
    """
    from cocoindex_data_ingestion_spark.functions.similarity import dot, l2_norm
    from cocoindex_data_ingestion_spark.operators.vector_search import lsh_signature

    # precompute per-vector norms once (N ops) instead of inside the
    # pairwise cosine (N² ops) — same arithmetic, factored
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("norm"),
    ]
    if n_bits > 0:
        cols.append(lsh_signature(vec_col, n_bits).alias("sig"))
    base = emb.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if n_bits > 0:
        cond = cond & (F.col("a.sig") == F.col("b.sig"))
    cos = F.when(
        (F.col("a.norm") > 0) & (F.col("b.norm") > 0),
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm")),
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            stable_round(cos, round_to).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs by SimHash distance, without the O(n²)
    scan: pigeonhole banding — the 64-bit signature splits into four
    16-bit bands, and any pair within Hamming distance ≤ 3 must agree
    exactly on at least one band (4 bands, ≤3 flipped bits), so
    candidate generation is an equi-join on (band_idx, band_value)
    and only candidates pay the popcount verify. Same
    blocked-not-all-pairs shape as the MinHash LSH path; band count
    is the recall dial (k+1 bands guarantee distance ≤ k).

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per pair.

    ``hash_fn``: ``"md5"`` is the oracle-portable signature
    (simhash_md5, 32-bit halves); ``"xxhash64"`` is the production
    one (simhash64, one JVM hash per token instead of an md5 + 64
    bit-probes) — same banding, no DuckDB twin (same contract as
    minhash_buckets' hash_fn).
    """
    b16 = F.lit(1 << 16).cast("long")
    if hash_fn == "xxhash64":
        sigs = docs.select(
            F.col(id_col), simhash64(F.col(text_col)).alias("sig")
        ).select(
            id_col,
            # unsigned 16-bit slices of the signed 64-bit signature
            F.shiftrightunsigned("sig", 48).alias("h3"),
            F.shiftrightunsigned("sig", 32).bitwiseAND(F.lit(0xFFFF)).alias("h2"),
            F.shiftrightunsigned("sig", 16).bitwiseAND(F.lit(0xFFFF)).alias("h1"),
            F.col("sig").bitwiseAND(F.lit(0xFFFF)).alias("h0"),
        ).select(
            id_col,
            (F.col("h3") * b16 + F.col("h2")).alias("sig_hi"),
            (F.col("h1") * b16 + F.col("h0")).alias("sig_lo"),
        )
    else:
        sigs = simhash_md5(docs, id_col, text_col)
    banded = sigs.select(
        F.col(id_col).alias("id"),
        "sig_hi",
        "sig_lo",
        F.posexplode(
            F.array(
                (F.col("sig_hi") / b16).cast("long"),
                F.pmod(F.col("sig_hi"), b16),
                (F.col("sig_lo") / b16).cast("long"),
                F.pmod(F.col("sig_lo"), b16),
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig_hi").alias("ha"),
            F.col("a.sig_lo").alias("la"),
            F.col("b.sig_hi").alias("hb"),
            F.col("b.sig_lo").alias("lb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ) + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): hash every word ``k``-gram, slide a window of ``w``
    consecutive gram hashes, keep each window's minimum — the selected
    set is position-robust and guarantees that any shared span of at
    least ``w + k - 1`` tokens contributes at least one common
    fingerprint (the local-algorithm guarantee the MinHash signature
    cannot give: MinHash sees bag overlap, winnowing sees *contiguous
    spans*, i.e. copy-paste / substring-level duplication).

    Returns distinct ``(id, fp)`` rows.

    Plan shape: posexplode → ``lead`` windows build grams in codegen
    (same as curation.decontaminate) → one ordered window per doc
    computes the sliding min — everything is partitioned by ``id``,
    so at corpus scale it is a single token-level exchange keyed by
    document, no cross-document data movement at all. md5 is the
    engine-portable gram hash (hex strings min-compare like the
    128-bit integers they encode).
    """
    from pyspark.sql import Window

    from cocoindex_data_ingestion_spark.functions.parallel import (
        spread_python_stage,
    )

    # tokenize + posexplode feed the doc-keyed window exchange from
    # the scan's partitioning — single-task on a one-row-group file;
    # guarded spread parallelizes the gram feed (r10, guide §2.5).
    docs = spread_python_stage(docs, id_col)
    pos = docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos0", "token")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "token")
    ow = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(ow) for i in range(1, k)]
    grams = (
        pos.withColumn("_last", parts[-1])
        .withColumn("h", F.md5(F.concat_ws(" ", *parts)))
        .filter(F.col("_last").isNotNull())
        .select(id_col, "pos", "h")
    )
    sel = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    cnt = Window.partitionBy(id_col)
    return (
        grams.select(
            F.col(id_col),
            F.col("pos"),
            F.min("h").over(sel).alias("fp"),
            F.count("*").over(cnt).alias("_ng"),
        )
        # only full windows: the trailing w-1 positions see truncated
        # windows whose minima depend on document length, breaking the
        # guarantee (and cross-engine agreement on the boundary)
        .filter(F.col("pos") <= F.col("_ng") - (w - 1))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    df_cap: int = 50,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level near-duplicate pairs by shared winnowing
    fingerprints: ``(id_a, id_b, n_shared, overlap)`` with
    ``overlap = n_shared / min(|fps_a|, |fps_b|)`` (containment — the
    right asymmetry-robust score for partial copies).

    Scale: the pair join is an inverted-index join on the fingerprint
    (cost Σ_fp df², like ngram_jaccard_pairs), with promiscuous
    fingerprints dropped at ``df_cap`` docs — a boilerplate span
    shared by thousands of documents would otherwise quadratically
    dominate; exact boilerplate is the cheaper exact_dedup's job.
    """
    # The fingerprint pipeline (explode + two windows + distinct) feeds
    # FOUR consumers below (df-cap, both join sides, sizes); without a
    # materialization Spark re-derives it per branch — measured 5x the
    # work at sf0.1 (same lesson as the reachability edge build).
    fps = winnow_fingerprints(docs, k, w, id_col, text_col).localCheckpoint(
        eager=True
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("fp")
    )
    fps = fps.join(rare, "fp")
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            stable_round(
                F.col("n_shared") / F.least("na", "nb").cast("double"), 4
            ).alias("overlap"),
        )
    )


def semantic_dedup_cells(
    emb: DataFrame,
    stride: int = 37,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "numpy",
    n_cells: int | None = None,
    pair_compute: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus with the IVF coarse quantizer, then inside each
    cell drop every vector that is cosine-similar (>= ``threshold``)
    to a lower-id vector — the keep-first rule that removes semantic
    near-duplicates (paraphrases, re-encodes) which exact and
    bag-of-words dedup cannot see.

    Returns the DROPPED rows ``(id, cent_id, witness, cos_sim)`` with
    ``witness`` the smallest lower id that justified the drop; the
    caller anti-joins to materialize the kept corpus.

    Scale: the pairwise pass is cell-local (cost Σ_cell |cell|², the
    SemDeDup contract); assignment is the broadcast BLAS argmax
    (``assign="numpy"``) or the oracle-arithmetic expression path
    (``"expr"``). Size ``n_cells ~ sqrt(N)``: that balances the
    O(N·K) assignment against the O(N²/K) within-cell pair pass at
    O(N^1.5) total either way.

    ``pair_compute``: ``"expr"`` (default) scores pairs with the
    expression cosine — bit-identical to the DuckDB oracle;
    ``"numpy"`` runs one |cell|×|cell| BLAS gram matrix per cell via
    ``applyInPandas`` and scans it for each column's first
    over-threshold lower id — measured ~25× on the 50× scaling corpus
    (48 s → 1.9 s), same drops barring ~1-ulp threshold boundaries
    (equivalence-tested; the documented BLAS-vs-expression contract).
    """
    from cocoindex_data_ingestion_spark.functions.similarity import cosine_sim
    from cocoindex_data_ingestion_spark.operators.vector_search import (
        ivf_assign,
        ivf_centroids,
    )

    if n_cells is not None:
        # fixed cell count (K ~ sqrt(N)): keeps assignment O(N*K) with
        # bounded K AND bounds the within-cell pair cost: E|cell| =
        # N/K, so sum-of-squares ~ N^2/K — pick K ~ N/const to hold
        # per-cell size flat as the corpus grows
        n = emb.count()
        stride = max(1, -(-n // n_cells))
    cents = ivf_centroids(emb, stride, vec_col, id_col)
    if assign == "numpy":
        from cocoindex_data_ingestion_spark.operators.indexing import (
            _ivf_assign_numpy,
        )

        assigned = _ivf_assign_numpy(
            emb.select(id_col, vec_col), cents, vec_col, id_col
        )
    else:
        assigned = ivf_assign(
            emb.select(id_col, vec_col), cents, vec_col, id_col
        )
    if pair_compute == "numpy":
        import math

        import numpy as np
        import pandas as pd

        id_t = emb.schema[id_col].dataType.simpleString()
        out_schema = (
            f"{id_col} {id_t}, cent_id long, witness {id_t}, cos_sim double"
        )
        thr = threshold

        def _cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            ids = pdf[id_col].to_numpy()
            if len(ids) < 2:
                return pd.DataFrame(
                    {id_col: [], "cent_id": [], "witness": [], "cos_sim": []}
                ).astype({id_col: ids.dtype, "cent_id": "int64"})
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(m, axis=1)
            nrm[nrm == 0] = np.inf
            sims = (m @ m.T) / nrm[:, None] / nrm[None, :]
            cent = int(pdf["cent_id"].iloc[0])
            out = []
            for j in range(1, len(ids)):
                hits = np.nonzero(sims[:j, j] >= thr)[0]
                if hits.size:
                    i = int(hits[0])  # ids sorted -> smallest witness
                    c = float(sims[i, j])
                    out.append(
                        (
                            ids[j],
                            cent,
                            ids[i],
                            math.floor(c * 1e4 + 0.5) / 1e4,  # stable_round
                        )
                    )
            return pd.DataFrame(
                out, columns=[id_col, "cent_id", "witness", "cos_sim"]
            )

        return (
            assigned.select(id_col, vec_col, "cent_id")
            .groupBy("cent_id")
            .applyInPandas(_cell_drops, out_schema)
        )

    a = assigned.select(
        F.col("cent_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
    )
    b = assigned.select(
        F.col("cent_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
    )
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cosine_sim(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
    )
    # keep-first: each dropped id_b's witness is its SMALLEST
    # justifying id_a (min_by gets map-side partial aggregation)
    return (
        pairs.groupBy(F.col("id_b").alias(id_col), "cent_id")
        .agg(
            F.min_by(
                F.struct(F.col("id_a"), F.col("_cos")), F.col("id_a")
            ).alias("_w")
        )
        .select(
            id_col,
            "cent_id",
            F.col("_w.id_a").alias("witness"),
            stable_round(F.col("_w._cos"), 4).alias("cos_sim"),
        )
    )


def paragraph_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Paragraph-level exact dedup accounting (the RefinedWeb /
    MassiveText repetition rule): split each document on blank lines,
    fingerprint each whitespace-normalized paragraph, count global
    occurrences, and report per document how much of it is made of
    corpus-duplicated paragraphs — the signal used both to strip
    boilerplate paragraphs and to drop template-dominated docs.

    Two shuffles at any corpus size: one groupBy on the paragraph
    fingerprint (map-side combined wordcount shape), one on the doc
    id; the count join runs as a shuffle join (the fingerprint table
    is corpus-sized — never broadcast).

    Returns (id, n_paras, n_dup_paras, dup_para_ratio).
    """
    paras = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), r"\n{2,}")).alias("para"),
        )
        .select(
            "id",
            F.trim(F.regexp_replace("para", r"\s+", " ")).alias("pnorm"),
        )
        .filter(F.length("pnorm") > 0)
        .select("id", F.md5("pnorm").alias("ph"))
    )
    occ = paras.groupBy("ph").agg(F.count("*").alias("occ"))
    return (
        paras.join(occ, "ph")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_paras"),
            F.count(F.when(F.col("occ") > 1, True)).alias("n_dup_paras"),
            stable_round(
                F.count(F.when(F.col("occ") > 1, True))
                / F.count("*").cast("double"),
                round_to,
            ).alias("dup_para_ratio"),
        )
    )


def cross_source_matrix(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-source duplication matrix: for every (source, source)
    pair, how many near-dup LSH edges connect them — the
    "which feeds copy from each other" report a multi-source corpus
    needs before mixing weights are chosen (a source whose content is
    largely duplicated INTO another should not be double-counted by
    the mixer, and heavy off-diagonal mass flags scraped mirrors).

    Shape: the O(n) star edges from :func:`minhash_lsh_edges`, two
    id-keyed joins against the (id, source) projection, then one
    bounded groupBy (≤ sources² rows). Pairs are normalized to
    (least, greatest) so the matrix is upper-triangular; the diagonal
    counts intra-source near-dups."""
    edges = minhash_lsh_edges(
        docs, num_hashes=num_hashes, bands=bands,
        id_col=id_col, text_col=text_col, hash_fn=hash_fn,
    )
    src = docs.select(F.col(id_col), F.col(source_col))
    j = (
        edges.join(
            src.select(
                F.col(id_col).alias("id_a"),
                F.col(source_col).alias("sa"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col(id_col).alias("id_b"),
                F.col(source_col).alias("sb"),
            ),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "src_a", "src_b")
    )


def incremental_components(
    labels: DataFrame, new_edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of
    new edges into an existing ``(node_id, component)`` labeling
    WITHOUT re-running CC over the full graph.

    The prior labeling is itself a star-edge encoding of each
    component (node -> min-id), so the merge only needs CC over
    (star edges of the components touched by the batch) ∪ (the batch
    edges); every untouched component passes through unchanged. Work
    is proportional to the affected components + batch — the daily-
    increment shape at 100 TB, where the graph is billions of nodes
    and the batch touches a sliver.

    With a small batch, the touched-node and affected-component sets
    are small: AQE plans the semi/anti joins as broadcasts, so the
    full label table is never shuffled. Result is exactly
    ``connected_components(old_edges ∪ new_edges)`` (min-id labels
    are invariant to the star re-encoding) — that equivalence is the
    oracle contract.
    """
    touched = (
        new_edges.select(F.col("id_a").alias("node_id"))
        .unionByName(new_edges.select(F.col("id_b").alias("node_id")))
        .distinct()
    )
    aff_comps = labels.join(touched, "node_id").select("component").distinct()
    # Contract the batch to the COMPONENT graph before running CC
    # (r10): a batch edge (a, b) only ever merges label(a)'s and
    # label(b)'s components, so CC can run over component ids (new
    # nodes keep their own id) instead of the member-level
    # star ∪ batch graph. That removes the member→root hop from
    # every path — measured rounds 4 → 2 at sf0.1 — and each round
    # carries (affected components + batch) rows instead of
    # (affected members + batch). Min-id labels are preserved
    # exactly: every member id ≥ its component min, so the merged
    # cluster's min over component ids IS its min over member ids.
    # Within-component batch edges contract to self-loops and drop.
    cg = (
        new_edges.select("id_a", "id_b")
        .join(
            labels.select(
                F.col("node_id").alias("id_a"), F.col("component").alias("_ca")
            ),
            "id_a",
            "left",
        )
        .join(
            labels.select(
                F.col("node_id").alias("id_b"), F.col("component").alias("_cb")
            ),
            "id_b",
            "left",
        )
        .select(
            F.coalesce(F.col("_ca"), F.col("id_a")).alias("id_a"),
            F.coalesce(F.col("_cb"), F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    roots = connected_components(cg, max_iterations=max_iterations)
    # relabel affected members through their component's new root; a
    # component whose batch edges were all internal self-loops keeps
    # its label (left join + coalesce)
    aff = labels.join(aff_comps, "component")
    relabeled = aff.join(
        roots.select(
            F.col("node_id").alias("component"), F.col("component").alias("_root")
        ),
        "component",
        "left",
    ).select(
        "node_id",
        F.coalesce(F.col("_root"), F.col("component")).alias("component"),
    )
    # batch endpoints the prior labeling had never seen enter as
    # their own cg nodes; every such node appears in cg (its side of
    # the edge keeps its unique id, so no edge of its drops)
    new_nodes = (
        touched.join(labels, "node_id", "left_anti")
        .join(roots, "node_id", "left")
        .select(
            "node_id",
            F.coalesce(F.col("component"), F.col("node_id")).alias("component"),
        )
    )
    keep = labels.join(aff_comps, "component", "left_anti")
    # the using-join moved the key first; restore the labels layout
    return (
        keep.select("node_id", "component")
        .unionByName(relabeled.select("node_id", "component"))
        .unionByName(new_nodes.select("node_id", "component"))
    )


def fuzzy_string_pairs(
    df: DataFrame,
    str_col: str,
    max_dist: int = 2,
    block_df_cap: int = 10_000,
) -> DataFrame:
    """Blocked string-similarity join (record linkage): pairs of
    DISTINCT values of ``str_col`` within edit distance ``max_dist``,
    with each value's row multiplicity carried along.

    The two scale levers that make linkage tractable at 100 TB:
    1. collapse to the value dictionary first — the quadratic
       candidate step runs over distinct strings (often thousands)
       rather than rows (billions), and multiplicities rejoin at the
       end for free;
    2. token blocking with a document-frequency cap — candidates are
       generated only within shared-token blocks, and blocks larger
       than ``block_df_cap`` are skipped (the minhash hot-bucket-cap
       discipline), so no single stop-token explodes the self-join.
    Verification is exact Levenshtein on the surviving candidates.
    """
    from ..functions.text import tokenize

    names = df.groupBy(F.col(str_col).alias("name")).agg(
        F.count("*").alias("n_rows")
    )
    toks = names.select(
        "name", F.explode(F.array_distinct(tokenize("name"))).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count("*").alias("_dfb"))
    tf = toks.join(tc, "tok").filter(F.col("_dfb") <= block_df_cap)
    a, b = tf.alias("a"), tf.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    out = cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("long")
    ).filter((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
    na = names.select(
        F.col("name").alias("name_a"), F.col("n_rows").alias("n_a")
    )
    nb = names.select(
        F.col("name").alias("name_b"), F.col("n_rows").alias("n_b")
    )
    return out.join(na, "name_a").join(nb, "name_b").select(
        "name_a", "name_b", "dist", "n_a", "n_b"
    )


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the
    suffix-array ExactSubstr dedup, re-expressed for Spark): every
    token position starting an ``min_len``-gram that occurs >= 2
    times ANYWHERE in the corpus (cross-document or repeated within
    one document) is a duplicated span; overlapping/adjacent spans
    are merged per document (gaps-and-islands) and reported as
    ``(doc_id, n_spans, dup_tokens, n_tokens, dup_ratio)`` for the
    documents that contain at least one duplicated span.

    Why not a distributed suffix array: the paper's suffix array
    answers "longest duplicated substring" exactly, but its
    construction is a global sort of every suffix — at 100 TB that
    is a multi-petabyte shuffle. Hashing every L-gram answers the
    decision problem ("is this span of >= L tokens duplicated?") with
    ONE token-level exchange keyed by the gram hash, which is the
    same cost class as the winnowing pass above, and the merged-span
    output is identical to ExactSubstr's for spans >= L (any
    duplicated run of length m >= L is covered by its m - L + 1
    duplicated L-grams, which merge back into the full run).

    Plan shape: posexplode -> ``lead`` window builds each gram
    in codegen (no array slicing) -> ONE global groupBy on the gram
    hash (count >= 2) -> inverted join back to positions -> per-doc
    ordered window merges islands. Only the gram-hash exchange is
    corpus-wide; everything else is partitioned by document. At
    scale, swap md5 for xxhash64 (cheaper, still 2^-64 collisions)
    and pre-aggregate counts map-side (partial groupBy is automatic).
    """
    from pyspark.sql import Window

    pos = docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos0", "token")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "token")
    # the explode feeds the gram build AND the per-doc token counts
    pos = pos.localCheckpoint(eager=False)
    ow = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("token")] + [
        F.lead("token", i).over(ow) for i in range(1, min_len)
    ]
    grams = (
        pos.withColumn("_last", parts[-1])
        .withColumn("h", F.md5(F.concat_ws(" ", *parts)))
        .filter(F.col("_last").isNotNull())
        .select(id_col, "pos", "h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("h")
    )
    spans = grams.join(dup, "h").select(
        id_col, "pos", (F.col("pos") + (min_len - 1)).alias("e")
    )
    prev_end = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = spans.withColumn(
        "ni",
        F.when(
            F.col("pos") > F.coalesce(F.max("e").over(prev_end), F.lit(-1)) + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "gid", F.sum("ni").over(Window.partitionBy(id_col).orderBy("pos"))
    )
    merged = isl.groupBy(id_col, "gid").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    sizes = pos.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    return (
        merged.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        )
        .join(sizes, id_col)
        .select(
            id_col,
            "n_spans",
            "dup_tokens",
            "n_tokens",
            stable_round(
                F.col("dup_tokens") / F.col("n_tokens").cast("double"), 4
            ).alias("dup_ratio"),
        )
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08): exact
    shingle-set Jaccard pairs >= ``threshold`` without an all-pairs
    product and WITHOUT the lossy df-cap heuristic
    ``ngram_jaccard_pairs`` leans on.

    The filter: order every document's distinct ``n``-gram shingles
    by ascending global document frequency (rarest first, ties by
    shingle); if ``J(a, b) >= t`` then the first
    ``|d| - ceil(t * |d|) + 1`` shingles of each side (its *prefix*)
    must intersect — so the candidate join runs ONLY on prefix
    shingles, whose df-weighted volume is a small fraction of the
    full inverted index, and the promiscuous high-df shingles never
    generate candidates AT ALL (they sort to the suffix). Exact
    verification then computes true Jaccard on the candidates.
    Lossless, unlike df-capping: no pair above threshold can be
    missed.

    Scale: one exchange for the df table, one per-doc window sort
    (keyed by document), a prefix-token inverted join (the s-curve
    equivalent for exact Jaccard), and a candidate-bounded
    verification join. At 100 TB the verification is the cost center
    — it is proportional to true near-duplicate volume, not corpus
    size.
    """
    from pyspark.sql import Window

    tok = shingle_rows(docs, n, id_col, text_col, out_col="token")
    # feeds the df table, the prefix build, and BOTH verification legs
    tok = tok.localCheckpoint(eager=True)
    dfr = tok.groupBy("token").agg(F.count("*").alias("tdf"))
    ow = Window.partitionBy("id").orderBy("tdf", "token")
    sw = Window.partitionBy("id")
    pre = (
        tok.join(dfr, "token")
        .withColumn("rn", F.row_number().over(ow))
        .withColumn("sz", F.count("*").over(sw))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("id", "token", "rn", "sz")
    )
    # PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), applied at
    # candidate generation: a prefix match at positions (ra, rb) can
    # lead to at most 1 + min(sz_a - ra, sz_b - rb) overlapping
    # shingles, and J >= t requires overlap >= ceil(t/(1+t) *
    # (sz_a + sz_b)). Lossless (prunes only pairs that cannot reach
    # the threshold) but, on template-heavy corpora where the prefix
    # filter alone is weak, it cuts candidate volume by an order of
    # magnitude before the expensive verification join.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.sz") + F.col("b.sz")).cast("double")
    )
    ubound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id"))
            & (ubound >= alpha),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id_a"), "token")
    tb = tok.select(F.col("id").alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = tok.groupBy("id").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            stable_round(F.col("jaccard"), 4).alias("jaccard"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    str_col: str,
    window: int = 5,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo, SIGMOD
    1995): sort the DISTINCT values of ``str_col`` lexicographically
    and compare each value only to its ``window`` successors in the
    sorted order, verifying with exact Levenshtein <= ``max_dist``.
    The complementary blocking discipline to
    :func:`fuzzy_string_pairs`: token blocking links values sharing a
    whole token; the sorted neighborhood links values that agree on a
    PREFIX (typos late in the string), each catching pairs the other
    misses.

    Scale shape — the textbook algorithm's global sort is reproduced
    WITHOUT a no-partition window: the value dictionary gets a global
    rank via the ``as_ltable`` partition-offset pattern, and the
    "within w in sort order" self-join becomes an equi-join on
    ``floor(rank / w)`` (each side exploded into its own and the
    neighboring bucket) + a rank-distance filter — O(n·w) candidates,
    fully distributed, lossless for the SNM contract.

    Returns ``(name_a, name_b, rank_gap, dist, n_a, n_b)``.
    """
    from cocoindex_data_ingestion_spark.datamodel import as_ltable

    names = df.groupBy(F.col(str_col).alias("name")).agg(
        F.count("*").alias("n_rows")
    )
    ranked = as_ltable(names, ["name"], pos_col="_rank").localCheckpoint(
        eager=False
    )
    a = ranked.select(
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
        F.col("_rank").alias("ra"),
        F.floor(F.col("_rank") / window).alias("_bk"),
    )
    b = ranked.select(
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
        F.col("_rank").alias("rb"),
        F.explode(
            F.array(
                F.floor(F.col("_rank") / window),
                F.floor(F.col("_rank") / window) - 1,
            )
        ).alias("_bk"),
    )
    cand = a.join(b, "_bk").filter(
        (F.col("rb") > F.col("ra")) & (F.col("rb") - F.col("ra") <= window)
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .select(
            "name_a",
            "name_b",
            (F.col("rb") - F.col("ra")).cast("long").alias("rank_gap"),
            "dist",
            "n_a",
            "n_b",
        )
    )
