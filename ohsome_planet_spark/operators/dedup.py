"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame compositions (no Python UDFs in the hot
path) designed for the 100 TB regime:

- exact:          hash-groupBy on a normalized key — one shuffle;
- n-gram Jaccard: shingle → explode → self-equi-join on shingle hash →
                  group — shuffles bounded by (doc, shingle) pairs, with the
                  candidate space cut by a same-shingle pre-join instead of
                  an O(n²) cross;
- MinHash + LSH:  shingle hashes → per-permutation min (one groupBy) →
                  band signatures → bucket equi-join — the classic
                  Broder/Indyk construction; candidate pairs only within
                  equal (band, band_hash) buckets;
- SimHash:        per-token hashes vote on 32 sign bits; near-dups share
                  bands of the signature.

Determinism: every hash derives from md5 of the string content (identical
in Spark and DuckDB), so each operator has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import hash60_expr, tokens_expr

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (by ``order_col``) per exact key. One shuffle."""
    w = W.partitionBy(*key_cols).orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Duplicate-group summary keyed by content hash: group size + canonical
    (minimum) id. The aggregation is map-side combinable."""
    return (
        df.select(F.col(id_col), hash60_expr(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingle hashes per document.

    Tokenization matches ``functions.text.tokens_expr``; the shingle string
    is tokens joined by a single space; the shingle key is hash60 of it.
    """
    toks = tokens_expr(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.size(F.split(F.col("shingle"), " ")) == n)
        .select("doc", hash60_expr(F.col("shingle")).alias("shingle_hash"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Document pairs with n-gram Jaccard similarity ≥ threshold.

    Candidates come from a same-shingle self-join (inverted index), so only
    documents sharing at least one shingle are ever compared. ``max_df``
    drops stop-shingles occurring in more than that many documents BEFORE
    the self-join — without it a shingle shared by k docs contributes
    k²/2 candidate pairs, the classic inverted-index blowup (same idea as
    CountVectorizer's maxDF). Jaccard is then computed over the KEPT
    shingle sets (semantics the oracle mirrors).

    ``shingle_df`` (r13): a pre-built :func:`shingles` frame to use
    instead of deriving one from ``df`` — callers that also feed the
    SAME shingle table to a MinHash pipeline (``dedup_recall_eval``)
    pass a seamed copy so the explode+distinct derivation runs once for
    both consumers (guide §2.4). Must be the exact
    ``shingles(df, id_col, text_col, n)`` frame; results are identical
    by construction.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    if shingle_df is not None:
        if set(shingle_df.columns) != {"doc", "shingle_hash"}:
            raise ValueError(
                "shingle_df must be the exact shingles(df, id_col, text_col, n) "
                "frame — columns (doc, shingle_hash) built with the SAME n/"
                f"text_col/tokenization; got columns {shingle_df.columns}"
            )
        sh = shingle_df
    else:
        sh = shingles(df, id_col, text_col, n)
    if max_df is not None:
        w = W.partitionBy("shingle_hash")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    sh = register_cached(sh.persist(StorageLevel.MEMORY_AND_DISK))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle_hash") == F.col("b.shingle_hash")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: keeps a*(h mod p) + b < 2^62, inside BIGINT in both
# Spark (silent wraparound would break parity) and DuckDB (errors on overflow)
MINHASH_PRIME = (1 << 31) - 1


def minhash_signatures(
    sh: DataFrame, num_perm: int = 16
) -> DataFrame:
    """Per-doc MinHash signature as an array<bigint> of length ``num_perm``.

    Permutation i remaps each shingle hash with the affine family
    ``(a_i * (h mod p) + b_i) mod p`` (p = 2^31-1); a_i/b_i derive
    deterministically from md5 of the permutation index, so the whole
    construction is reproducible in SQL. One groupBy(doc) computes all
    permutations at once (map-side combinable mins).
    """
    p = F.lit(MINHASH_PRIME)
    mins = [
        F.min(
            (
                F.lit(_perm_coeff(i, "a")) * (F.col("shingle_hash") % p)
                + F.lit(_perm_coeff(i, "b"))
            )
            % p
        ).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select(
        "doc", F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("signature")
    )


def _perm_coeff(i: int, which: str) -> int:
    """Deterministic odd coefficient < 2^31 from md5 — same value derivable
    in SQL, but materialized here as a literal for plan simplicity."""
    import hashlib

    h = int(hashlib.md5(f"minhash:{which}:{i}".encode()).hexdigest()[:15], 16)
    c = h % (1 << 31)
    return c | 1  # force odd (a must be non-zero)


def lsh_bands(
    signatures: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """The banding half of LSH: (doc, band, bucket) rows. Exposed
    separately so incremental consumers can probe a HISTORY bucket table
    with a batch's bands (anti-join shape) instead of self-joining the
    whole corpus."""
    rows_per_band = num_perm // bands
    return signatures.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows, bucket by the
    band's content, and emit candidate pairs within equal buckets."""
    banded = lsh_bands(signatures, num_perm, bands)
    # both self-join sides consume the minhash computation; persist once
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    banded = register_cached(banded.persist(StorageLevel.MEMORY_AND_DISK))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_near_dup_pairs(
    signatures: DataFrame, bits: int = 32, bands: int = 4, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: by the pigeonhole principle a pair within
    ``max_hamming`` bits differs in at most ``bands``-1 of its bands when
    max_hamming < bands, so candidates sharing ANY band bucket cover all
    near pairs (for larger radii this is the standard recall-tradeoff
    banding). Candidates re-ranked by exact Hamming distance — all native
    expressions (``bit_count(a XOR b)``).

    Input: (doc, simhash). Output: (doc_a, doc_b, hamming).
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = signatures.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), b * band_bits)
                            % F.lit(mask + 1)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # both sides of the self-join consume the (expensive) signature fold;
    # persist so it computes once
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    banded = register_cached(banded.persist(StorageLevel.MEMORY_AND_DISK))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Charikar SimHash over token hash60s: bit b of the signature is 1 iff
    the majority of tokens have bit b set.

    Single fold over the token array: each token is md5-hashed ONCE and
    votes on all ``bits`` positions via a nested zip_with (a naive
    per-bit-aggregate formulation recomputes the hash ``bits`` times —
    measured 30× slower). No shuffle at all.
    """
    toks = tokens_expr(F.col(text_col))
    tok_hashes = F.transform(toks, lambda t: hash60_expr(t))
    # bit b of h == (h mod 2^(b+1)) >= 2^b — exact int64 arithmetic (shift
    # functions take only literal shift amounts, and double division would
    # lose bits of a 60-bit hash)
    powers = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("bigint"), bits)
    votes = F.aggregate(
        tok_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a
            + F.when(F.pmod(h, p * 2) >= p, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col).alias("doc"), sig.alias("simhash"))


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of the near-dup candidate graph via alternating
    large-star / small-star rounds (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14 — the O(log n)-round algorithm, so a
    planet-scale dup graph converges in ~a dozen shuffles instead of
    O(diameter) label-propagation passes).

    - large-star(u): every neighbor v > u re-attaches to
      m(u) = min(N(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u (plus u itself) attaches to m(u).

    Both rounds are a groupBy-min plus an equi-join on the node id — no
    driver-side graph state; the driver only checks convergence (count +
    hash checksum, one agg job per round). Returns (node, component) where
    component is the minimum id in the node's component; singleton nodes
    (absent from ``pairs``) are the caller's concern (left-join + coalesce).

    Each round ends in an eager lineage truncation: without it the
    logical plan doubles every iteration (each round references the prior
    round's frame twice) and Catalyst analysis itself blows up after ~10
    rounds. ``truncate_lineage`` picks reliable ``checkpoint()`` when a
    checkpoint dir is configured (cluster mode: survives executor loss
    mid-iteration), else ``localCheckpoint``.
    """
    from ..session import truncate_lineage

    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = truncate_lineage(e, eager=True)
    prev_sig = None
    for _ in range(max_iter):
        # -- large-star -----------------------------------------------------
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = m.select("u", F.least("_mn", F.col("u")).alias("m"))
        # duplicate edges are harmless through the min-aggregations below
        # (min is duplicate-insensitive) — only the round-final edge set is
        # distinct'd, which keeps two shuffle stages out of every round
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # -- small-star -----------------------------------------------------
        d = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
        )
        m2 = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e = truncate_lineage(e, eager=True)
        # convergence: edge multiset unchanged (count + order-independent
        # checksum — the rounds are monotone, so a matched checksum on a
        # matched count is a fixpoint, not a collision gamble)
        row = e.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.hash("u", "v")).alias("h")
        ).collect()[0]
        sig = (row.n, row.h)
        if sig == prev_sig:
            break
        prev_sig = sig
    # at the fixpoint every edge points node -> component root
    labels = e.groupBy("u").agg(F.min("v").alias("component")).union(
        e.select(F.col("v").alias("u"), F.col("v").alias("component")).distinct()
    )
    return labels.groupBy(F.col("u").alias("node")).agg(
        F.min("component").alias("component")
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every document with its duplicate-cluster id (min doc id in its
    component; itself when it has no near-dups), cluster size, and the
    canonical flag a filtering pipeline keeps."""
    cc = connected_components(pairs)
    joined = docs.select(F.col(id_col)).join(
        cc.withColumnRenamed("node", id_col), id_col, "left"
    )
    labeled = joined.select(
        id_col, F.coalesce("component", F.col(id_col)).alias("cluster_id")
    )
    w = W.partitionBy("cluster_id")
    return labeled.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_docs"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def keep_best(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Canonical-exemplar selection: within every duplicate cluster keep
    the highest-``score_col`` document (ties broken by smallest id), not
    the smallest-id one ``dedup_clusters`` flags. This is what a curation
    pipeline actually ships — near-dup removal should retain the *best*
    exemplar (longest / highest-quality), and "keep longest" is the
    standard heuristic when no quality model is in play.

    One hash join on the id plus one window sorted within ``cluster_id``;
    the window partitioning reuses the cluster key, so at 100 TB this adds
    a single exchange over the (small) cluster-membership frame — the
    document texts themselves never move.
    """
    scored = clusters.select(id_col, "cluster_id", "n_docs").join(
        docs.select(id_col, score_col), id_col
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    frame = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return scored.select(
        id_col,
        "cluster_id",
        "n_docs",
        F.col(score_col).alias("score"),
        (F.row_number().over(w) == 1).alias("keep"),
        F.first(id_col).over(frame).alias("best_doc"),
    )


def verify_candidate_pairs(
    candidates: DataFrame,
    shingle_df: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — stage two of the
    candidate-then-verify pattern (MinHashLSH / SimHash banding give
    recall; this gives precision).

    ``candidates``: (doc_a, doc_b); ``shingle_df``: (doc, shingle_hash)
    distinct rows. Intersections are computed ONLY for candidate pairs
    (join candidates to both shingle sets on the shingle key), so the
    cost is O(Σ |shingles| over candidate docs), never the all-pairs
    blowup the banding existed to avoid.
    """
    sizes = shingle_df.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingle_df.select(
        F.col("doc").alias("doc_a"), F.col("shingle_hash").alias("_h")
    )
    b = shingle_df.select(
        F.col("doc").alias("doc_b"), F.col("shingle_hash").alias("_h")
    )
    inter = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "_h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("_nb"))
    jac = F.round(
        F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")), 6
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def span_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span fraction (ExactSubstr-style dedup,
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the fraction of a document's POSITIONAL token n-gram spans
    (stride 1, multiplicity kept — unlike ``shingles``, which is a
    distinct set) whose hash occurs in at least ``min_docs`` distinct
    documents. A high fraction marks boilerplate/mirror content that
    survives document-level near-dup filters.

    Output: (doc, n_spans, n_dup_spans, dup_fraction); documents shorter
    than n tokens produce no spans and are absent.

    Scale: the heavy frame is (doc, span_hash) at ~tokens-sized rows of
    16 bytes; it shuffles twice on the hash key (doc-frequency agg +
    join back) and once on doc for the final agg. No all-pairs stage —
    cost is linear in corpus tokens, the property that makes this the
    scalable stand-in for suffix-array ExactSubstr (which needs a global
    sort). The df-agg is map-side combinable on the hash key.
    """
    toks = tokens_expr(F.col(text_col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    spans = (
        df.select(F.col(id_col).alias("doc"), F.explode(grams).alias("span"))
        .filter(F.size(F.split(F.col("span"), " ")) == n)
        .select("doc", hash60_expr(F.col("span")).alias("_h"))
    )
    docs_per_hash = spans.groupBy("_h").agg(
        F.count_distinct("doc").alias("_nd")
    )
    return (
        spans.join(docs_per_hash, "_h")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("_nd") >= min_docs).cast("bigint")).alias(
                "n_dup_spans"
            ),
        )
        .select(
            "doc",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def _span_islands(docs: DataFrame, n: int, min_docs: int) -> DataFrame:
    """(doc, _toks) → (doc, _ivs): maximal duplicated-token intervals
    [s, e) in 0-based token positions — positional n-gram hashes with
    doc-frequency ≥ min_docs, overlapping/adjacent spans merged by the
    gaps-and-islands window. Shared by :func:`exact_substr_dedup`
    (normalized-space output) and :func:`exact_substr_rewrite`
    (original-text output)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n))
    )
    spans = (
        docs.select("doc", F.posexplode(grams).alias("pos", "span"))
        .filter(F.size(F.split(F.col("span"), " ")) == n)
        .select("doc", "pos", hash60_expr(F.col("span")).alias("_h"))
    )
    dup_hashes = (
        spans.groupBy("_h")
        .agg(F.count_distinct("doc").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    dup_spans = spans.join(dup_hashes, "_h").select("doc", "pos")

    w_prev = (
        W.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("doc").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        dup_spans.withColumn("_pe", F.max(F.col("pos") + n).over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pe").isNull() | (F.col("pos") > F.col("_pe")), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_run))
        .groupBy("doc", "_isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + n).alias("e"),
        )
        .groupBy("doc")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("_ivs")
        )
    )


def exact_substr_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022 §4.1): rewrite each document
    with its cross-corpus duplicated spans cut out. ``span_duplication``
    only *scores* the duplication; this operator produces the deduplicated
    text itself — the other half of the reference pipeline.

    Policy (documented divergence from the suffix-array tool): a
    positional token ``n``-gram is duplicated when its hash occurs in at
    least ``min_docs`` DISTINCT documents, and *every* occurrence is
    removed (symmetric cut — no arbitrary canonical survivor). Overlapping
    and adjacent duplicated spans merge into maximal token intervals
    (gaps-and-islands), so a 40-token mirrored passage is cut once as one
    range, exactly like the byte-range merging in the reference tool.
    Removal happens in normalized-token space (lowercase, ``\\W+`` split),
    the same space the duplication is detected in.

    Output: (doc, n_tokens, n_removed, dedup_text), one row per input
    document. NOTE: ``dedup_text`` lives in NORMALIZED-TOKEN space for
    every row — lowercased, ``\\W+``-split, space-joined — including
    documents with nothing removed (their token SET passes through
    intact, their casing/punctuation does not). Callers rewriting a
    corpus should use :func:`exact_substr_rewrite`, which cuts the same
    spans out of the ORIGINAL text (ADVICE round 10).

    Scale: the heavy frame is (doc, pos, span_hash) at ~corpus-token rows;
    it shuffles on the hash key (doc-frequency agg + semi-join back) and
    then on doc (islands window + interval collect) — both keys are
    high-cardinality and skew-free. The islands window partitions by doc,
    so its state is bounded by one document's span count, never the
    corpus. No all-pairs stage and no global sort: this is the linear
    pipeline that replaces the suffix array at 100 TB, where a global
    suffix sort is the bottleneck.
    """
    toks = tokens_expr(F.col(text_col))
    docs = df.select(F.col(id_col).alias("doc"), toks.alias("_toks"))
    islands = _span_islands(docs, n, min_docs)

    joined = docs.join(islands, "doc", "left").withColumn(
        "_ivs", F.coalesce(F.col("_ivs"), F.array())
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_ivs"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
    )
    kept = F.filter(F.col("_toks"), lambda t, i: ~covered(i))
    return joined.select(
        "doc",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept).alias("dedup_text"),
    )


def exact_substr_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr removal over the ORIGINAL text (Lee et al. 2022):
    cross-corpus duplicated spans are cut out of the original string, so
    casing and punctuation outside the cut spans survive verbatim —
    matching the reference tool's byte-range cuts
    (deduplicate-text-datasets), where :func:`exact_substr_dedup`'s
    output lives in normalized-token space (ADVICE round 10).

    Mechanics: the text splits into alternating word/separator segments
    (``(\\W+|\\w+)`` — every character lands in exactly one segment);
    duplication is detected on the lowercased word segments (identical
    to ``tokens_expr`` on ASCII; documented divergence for code points
    whose lowercase form changes ``\\w`` membership, e.g. U+0130). For
    each maximal duplicated token interval [s, e): cut the word segments
    s..e-1 and the separator segments strictly BETWEEN them; separators
    bordering the cut survive (' a DUP DUP b ' → ' a  b ', like the
    reference's byte-range cut). Documents with no duplicated span
    return their text byte-for-byte.

    Output: (doc, n_tokens, n_removed, text).

    Scale: segments explode to ~2x corpus-token rows; every window and
    join keys on doc or the span hash (high-cardinality, skew-free); no
    all-pairs stage and no global sort — the same linear pipeline as
    :func:`exact_substr_dedup` plus one segment pass.
    """
    seg_re = r"(\W+|\w+)"
    docs = df.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("_text"),
        F.regexp_extract_all(F.col(text_col), F.lit(seg_re), 1).alias("_segs"),
    )
    docs_t = docs.select(
        "doc",
        "_text",
        "_segs",
        F.transform(
            F.filter("_segs", lambda s: s.rlike(r"^\w")), F.lower
        ).alias("_toks"),
    )
    islands = _span_islands(docs_t.select("doc", "_toks"), n, min_docs)

    segrows = docs.select("doc", F.posexplode("_segs").alias("_i", "_seg"))
    wcum = W.partitionBy("doc").orderBy("_i").rowsBetween(
        W.unboundedPreceding, 0
    )
    segrows = segrows.withColumn(
        "_isw", F.col("_seg").rlike(r"^\w")
    ).withColumn(
        # words: own 0-based token index; separators: index of the
        # PRECEDING word (-1 before the first word)
        "_t", F.sum(F.col("_isw").cast("int")).over(wcum) - 1
    )
    j = segrows.join(islands, "doc", "left").withColumn(
        "_ivs", F.coalesce(F.col("_ivs"), F.array())
    )
    cut = F.exists(
        "_ivs",
        lambda iv: F.when(
            F.col("_isw"),
            (F.col("_t") >= iv["s"]) & (F.col("_t") < iv["e"]),
        ).otherwise(
            (F.col("_t") >= iv["s"]) & (F.col("_t") < iv["e"] - 1)
        ),
    )
    rebuilt = (
        j.filter(~cut)
        .groupBy("doc")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_seg"))),
                    lambda x: x["_seg"],
                ),
            ).alias("_kept")
        )
    )
    stats = docs_t.join(islands, "doc", "left").withColumn(
        "_ivs", F.coalesce(F.col("_ivs"), F.array())
    )
    return stats.join(rebuilt, "doc", "left").select(
        "doc",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.aggregate(
            "_ivs",
            F.lit(0).cast("bigint"),
            lambda a, iv: a + (iv["e"] - iv["s"]).cast("bigint"),
        ).alias("n_removed"),
        # a FULLY-cut doc has zero kept segments, so the rebuilt groupBy
        # yields no row at all for it (empty groups don't aggregate) and
        # _kept is null -> its text is the empty string, NOT the original;
        # only zero-segment docs (text == '') fall back to the original
        F.when(F.size("_segs") == 0, F.col("_text"))
        .otherwise(F.coalesce("_kept", F.lit("")))
        .alias("text"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CCNet-style cross-corpus LINE (paragraph) dedup (Wenzek et al.
    2020 §3.1 — the other half of the pipeline whose LM-perplexity
    filter is :func:`..curation.ccnet_lm_filter`): every line is hashed after
    normalization (lowercase, trim, digit runs → '0', whitespace runs
    collapsed) and only the corpus-FIRST occurrence of each normalized
    line survives — boilerplate (cookie banners, nav menus, copyright
    lines) appears once in the whole corpus instead of once per page.
    "First" is deterministic: minimum (doc, line position), not shard
    order. Lines that normalize to '' (blank/whitespace) are always
    kept — they are structure, not content.

    Output: (doc, n_lines, n_kept, text) — text is the kept lines
    re-joined with newlines, original bytes preserved.

    Scale: the dedup frame holds only NON-empty normalized lines (empty
    lines would all share one hash — a guaranteed skew partition at
    100 TB — so they bypass the shuffle entirely); the first-occurrence
    winner comes from one map-side-combinable groupBy(hash).min plus an
    equi-join back, both keyed on the high-cardinality line hash. The
    order key is a lexicographic STRUCT min over (doc, pos) — a packed
    doc·2^20+pos bigint (rounds ≤11) silently collides for documents
    with ≥2^20 lines or hash-derived doc ids ≥ ~2^43 (ADVICE r11); the
    struct min is just as combinable with no domain assumption."""
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\d+", "0"),
        r"\s+",
        " ",
    )
    lines = lines.withColumn("_norm", norm)
    dedup = lines.filter(F.col("_norm") != "").select(
        "doc", "pos", hash60_expr(F.col("_norm")).alias("_h")
    )
    first = dedup.groupBy("_h").agg(
        F.min(F.struct("doc", "pos")).alias("_first")
    )
    flags = dedup.join(first, "_h").select(
        "doc",
        "pos",
        (
            (F.col("doc") == F.col("_first.doc"))
            & (F.col("pos") == F.col("_first.pos"))
        ).alias("_keep"),
    )
    flagged = lines.join(flags, ["doc", "pos"], "left").withColumn(
        "_keep", F.coalesce(F.col("_keep"), F.lit(True))  # empty lines
    )
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("_keep").cast("long")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"), F.struct("pos", "line")
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("text"),
        )
    )
