"""Deduplication rows: exact, shingle/MinHash/LSH, SimHash, connected
components, exact substrings, semantic and incremental dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import hash60_expr, hash60_sql, tokens_expr
from ..session import fan_out
from ..operators.dedup import (
    MINHASH_PRIME, _perm_coeff, exact_dup_groups, lsh_candidate_pairs,
    minhash_signatures, ngram_jaccard_pairs, shingles, simhash,
)

from ._registry import _produce_then_query, _register, _t, staged_sort
from .text import _SHINGLE_SQL, _line_dedup_ctes
from .ann import (
    _LSH_TWIN_BASE, _LSH_TWIN_JITTER, _kmeans_cte_chain,
    _knn_lsh_pairs_sql, _trained_centroids_table,
)


def _dedup_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup clusters (doc_id, cluster_id, n_docs,
    is_canonical) staged once per session — the trainer-vs-consumer split
    of the k-means/PQ index tables applied to the dedup family
    (round-6 verdict item #8): ``dedup_clusters`` is the verified trainer
    and re-derives SimHash→banding→connected-components per run; consumers
    (``dedup_canonical``) read the stored cluster table, exactly as a
    deduplication service reads its precomputed cluster assignments rather
    than re-clustering the corpus per request."""
    from ..operators.dedup import dedup_clusters, simhash_near_dup_pairs

    def build() -> DataFrame:
        docs = fan_out(_t(spark, sf_dir, "documents"))
        sigs = simhash(docs, "doc_id", "text", bits=32)
        pairs = simhash_near_dup_pairs(sigs, bits=32, bands=4, max_hamming=3)
        return dedup_clusters(docs, pairs, id_col="doc_id")

    return _produce_then_query(spark, sf_dir, "simhash_clusters_b4_h3", build)


# ===========================================================================
# dedup family
# ===========================================================================


@_register(
    "dedup_exact",
    f"""
    SELECT {hash60_sql('text')} AS content_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS canonical_id
    FROM documents GROUP BY 1 ORDER BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text").orderBy("content_hash")


def _jaccard_oracle(n: int = 3, threshold: float = 0.5, max_df: int = 64) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    return f"""
    WITH sh0 AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    ), sh AS (
      SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY shingle_hash) AS _df FROM sh0
      ) WHERE _df <= {max_df}
    ), sizes AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle_hash = b.shingle_hash AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc = doc_a
      JOIN sizes sb ON sb.doc = doc_b
    WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= {threshold!r}
    ORDER BY doc_a, doc_b
    """


_SPAN_SQL = """
  SELECT doc, {h} AS h
  FROM (
    SELECT doc_id AS doc,
           list_transform(range(1, greatest(len(toks) - {n} + 2, 2)),
                          i -> array_to_string(toks[i : i + {n} - 1], ' ')) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
          FROM documents)
  ), UNNEST(grams) AS t(span)
  WHERE len(string_split(span, ' ')) = {n}
"""


def _span_dup_oracle(n: int = 8, min_docs: int = 2) -> str:
    sp = _SPAN_SQL.format(n=n, h=hash60_sql("span"))
    return f"""
    WITH sp AS ({sp}),
    dph AS (SELECT h, count(DISTINCT doc) AS nd FROM sp GROUP BY h)
    SELECT doc, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN nd >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(sum(CASE WHEN nd >= {min_docs} THEN 1 ELSE 0 END)
                 / count(*), 6) AS dup_fraction
    FROM sp JOIN dph USING (h)
    GROUP BY doc ORDER BY doc
    """


@_register("span_duplication", _span_dup_oracle(n=8, min_docs=2))
def span_duplication_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span dedup (Lee et al. 2022) as the scalable
    Spark composition: per document, the fraction of positional token
    8-gram spans (multiplicity kept, unlike the distinct shingle set)
    shared with ≥2 distinct documents — the signal used to cut
    boilerplate/mirrored passages that survive document-level near-dup
    filters. Linear in corpus tokens (hash-keyed agg + join back), no
    all-pairs stage and no global sort — the 100 TB substitute for a
    suffix array."""
    from ..operators.dedup import span_duplication

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return span_duplication(docs, "doc_id", "text", n=8, min_docs=2).orderBy(
        "doc"
    )


def _dup_span_ctes(n: int, min_docs: int) -> str:
    """CTEs ``sp`` .. ``ivs`` over ``docs(doc, toks)``: hashed n-token
    spans, the spans shared by at least ``min_docs`` docs, and each
    doc's merged duplicate islands as a sorted [s, e) list ``ivl``."""
    h = hash60_sql("span")
    return f"""
    sp AS (
      SELECT doc, i, {h} AS h FROM (
        SELECT doc, i, array_to_string(toks[i : i + {n} - 1], ' ') AS span
        FROM docs, UNNEST(range(1, greatest(len(toks) - {n} + 2, 1))) AS t(i)
        WHERE len(toks) >= i + {n} - 1
      )
    ),
    duph AS (
      SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc) >= {min_docs}
    ),
    dupsp AS (SELECT doc, i FROM sp JOIN duph USING (h)),
    isl0 AS (
      SELECT doc, i,
             max(i + {n}) OVER (PARTITION BY doc ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      FROM dupsp
    ),
    isl1 AS (
      SELECT doc, i,
             CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END AS ni
      FROM isl0
    ),
    isl2 AS (
      SELECT doc, i,
             sum(ni) OVER (PARTITION BY doc ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS isl
      FROM isl1
    ),
    iv AS (
      SELECT doc, min(i) AS s, max(i) + {n} AS e
      FROM isl2 GROUP BY doc, isl
    ),
    ivs AS (
      SELECT doc, list(struct_pack(s := s, e := e) ORDER BY s) AS ivl
      FROM iv GROUP BY doc
    )"""


def _exact_substr_oracle(n: int = 8, min_docs: int = 2) -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id AS doc,
             list_filter(regexp_split_to_array(lower(text), '\\W+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    {_dup_span_ctes(n, min_docs)},
    fin AS (
      SELECT d.doc, d.toks, coalesce(v.ivl, []) AS ivl
      FROM docs d LEFT JOIN ivs v USING (doc)
    )
    SELECT doc,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
           coalesce(array_to_string(list_transform(kept, j -> toks[j]), ' '),
                    '') AS dedup_text
    FROM (
      SELECT doc, toks,
             list_filter(range(1, len(toks) + 1),
               j -> len(list_filter(ivl,
                      iv -> j >= iv.s AND j < iv.e)) = 0) AS kept
      FROM fin
    )
    ORDER BY doc
    """


@_register("exact_substr_dedup", _exact_substr_oracle(n=8, min_docs=2))
def exact_substr_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022 §4.1): rewrite documents with
    every cross-corpus duplicated 8-gram span cut out, overlapping spans
    merged to maximal ranges (gaps-and-islands window). The removal half
    of the pipeline whose scoring half is ``span_duplication`` — linear in
    corpus tokens, no suffix-array global sort."""
    from ..operators.dedup import exact_substr_dedup

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return staged_sort(
        exact_substr_dedup(docs, "doc_id", "text", n=8, min_docs=2),
        "doc",
    )


def _exact_substr_rewrite_oracle(n: int = 8, min_docs: int = 2) -> str:
    return f"""
    WITH raw AS (
      SELECT doc_id AS doc, text,
             regexp_extract_all(text, '(\\W+|\\w+)', 1) AS segs
      FROM documents
    ),
    docs AS (
      SELECT doc, text, segs,
             list_transform(
               list_filter(segs, s -> regexp_matches(s, '^\\w')),
               s -> lower(s)) AS toks
      FROM raw
    ),
    {_dup_span_ctes(n, min_docs)},
    segrows AS (
      SELECT doc, i, segs[i] AS seg
      FROM docs, UNNEST(range(1, len(segs) + 1)) AS t(i)
    ),
    segcum AS (
      SELECT doc, i, seg, regexp_matches(seg, '^\\w') AS isw,
             sum(CASE WHEN regexp_matches(seg, '^\\w') THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS cw
      FROM segrows
    ),
    -- 1-based: a word's token index is cw; a separator's preceding-word
    -- index is cw (0 before the first word). Cut words with cw in [s,e),
    -- separators strictly between cut words (cw in [s, e-2]).
    flag AS (
      SELECT c.doc, c.i, c.seg,
             len(list_filter(coalesce(v.ivl, []), iv ->
               CASE WHEN c.isw THEN c.cw >= iv.s AND c.cw < iv.e
                    ELSE c.cw >= iv.s AND c.cw < iv.e - 1 END)) > 0 AS cut
      FROM segcum c LEFT JOIN ivs v USING (doc)
    ),
    rebuilt AS (
      SELECT doc,
             coalesce(string_agg(seg, '' ORDER BY i)
                        FILTER (WHERE NOT cut), '') AS kept
      FROM flag GROUP BY doc
    )
    SELECT d.doc,
           CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(list_sum(list_transform(v.ivl, iv -> iv.e - iv.s)),
                         0) AS BIGINT) AS n_removed,
           coalesce(r.kept, d.text) AS text
    FROM docs d
      LEFT JOIN ivs v USING (doc)
      LEFT JOIN rebuilt r USING (doc)
    ORDER BY d.doc
    """


@_register(
    "exact_substr_rewrite", _exact_substr_rewrite_oracle(n=8, min_docs=2)
)
def exact_substr_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal over the ORIGINAL text (the reference tool's
    byte-range-cut semantics, Lee et al. 2022): duplicated 8-gram token
    spans are cut out of the original string — word segments plus the
    separators strictly between them — so casing/punctuation outside cut
    spans survive byte-for-byte (``exact_substr_dedup`` returns the
    normalized-token join instead; ADVICE round 10). The oracle replays
    segmentation, island merge, the segment cut rule, and string
    reassembly; one mis-kept separator or lost capital breaks the hash."""
    from ..operators.dedup import exact_substr_rewrite

    docs = fan_out(_t(spark, sf_dir, "documents"))
    # staged_sort measured a wash here (interleaved A/B 0.96): the body's
    # own 8-gram explode re-aggregates cheaply on the sampling pass
    return exact_substr_rewrite(
        docs, "doc_id", "text", n=8, min_docs=2
    ).orderBy("doc")


def _line_dedup_oracle() -> str:
    return f"""
    WITH docs AS (
      SELECT doc_id AS doc,
             concat_ws(chr(10),
               'Doc ' || CAST(doc_id AS VARCHAR),
               text,
               CASE WHEN doc_id % 3 = 0
                    THEN 'Subscribe to our Newsletter!' END,
               CASE WHEN doc_id % 4 = 1
                    THEN '(c) 2024 All Rights Reserved. Page 1 of 10' END,
               lang) AS t
      FROM documents
    ),
    {_line_dedup_ctes("docs")}
    SELECT doc,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE keep), '') AS text
    FROM flags GROUP BY doc ORDER BY doc
    """


@_register("ccnet_line_dedup", _line_dedup_oracle())
def ccnet_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus line dedup (Wenzek et al. 2020 §3.1 —
    the pipeline half whose LM-perplexity filter is the `ccnet_lm_filter`
    gate row below / :func:`..operators.curation.ccnet_lm_filter`):
    only the corpus-FIRST occurrence (min doc, pos — deterministic, not
    shard order) of each normalized line survives. The fixture plants
    real boilerplate shapes — a newsletter line on every third doc, a
    digit-bearing copyright line on every fourth (digit runs normalize
    to '0', so '2024' and 'Page 1 of 10' dedup across numbering), and
    the lang field as a low-cardinality shared line — among unique
    per-doc lines. The oracle replays normalization, hashing,
    first-occurrence selection, and line reassembly."""
    from ..operators.dedup import line_dedup

    docs = fan_out(_t(spark, sf_dir, "documents"))
    ftxt = F.concat_ws(
        "\n",
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string")),
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("Subscribe to our Newsletter!")
        ),
        F.when(
            F.col("doc_id") % 4 == 1,
            F.lit("(c) 2024 All Rights Reserved. Page 1 of 10"),
        ),
        F.col("lang"),
    )
    inp = docs.select("doc_id", ftxt.alias("ftxt"))
    return line_dedup(inp, "doc_id", "ftxt").orderBy("doc")


@_register("ngram_jaccard_dups", _jaccard_oracle(n=2, threshold=0.12, max_df=64))
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-2-gram Jaccard ≥ 0.12 over shingles with
    document frequency ≤ 64 (stop-shingle cap keeps the inverted-index
    self-join from exploding quadratically on hot shingles)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.12, max_df=64
    ).orderBy("doc_a", "doc_b")


def _minhash_mins_sql(num_perm: int) -> str:
    """The ``num_perm`` MinHash aggregates mh_0.. over ``shingle_hash``."""
    return ",\n           ".join(
        f"min(({_perm_coeff(i, 'a')} * (shingle_hash % {MINHASH_PRIME}) + {_perm_coeff(i, 'b')}) % {MINHASH_PRIME}) AS mh_{i}"
        for i in range(num_perm)
    )


def _lsh_band_rows_sql(num_perm: int, bands: int) -> str:
    """VALUES rows (band, bucket): each band's signature slice joined."""
    rows = num_perm // bands
    return ", ".join(
        "({b}, concat_ws(',', {cols}))".format(
            b=b, cols=", ".join(f"mh_{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )


def _minhash_oracle(num_perm: int = 16, n: int = 3) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    mins = _minhash_mins_sql(num_perm)
    sig = ", ".join(f"mh_{i}" for i in range(num_perm))
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    )
    SELECT doc, concat_ws(',', {sig}) AS signature
    FROM (SELECT doc, {mins} FROM sh GROUP BY doc)
    ORDER BY doc
    """


@_register("minhash_signatures", _minhash_oracle())
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 affine permutations mod 2^31-1 over md5
    shingle hashes) — deterministic, so the SQL oracle reproduces it bit
    for bit. The scan fans out first: a single small parquet file reads
    as one task, and the shingle construction is the CPU-heavy part."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    sh = shingles(docs, "doc_id", "text", n=3)
    sig = minhash_signatures(sh, num_perm=16)
    return staged_sort(
        sig.select(
        "doc", F.concat_ws(",", *[F.col("signature")[i] for i in range(16)]).alias("signature")
    ),
        "doc",
    )


def _lsh_oracle(num_perm: int = 16, bands: int = 4, n: int = 3) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    mins = _minhash_mins_sql(num_perm)
    band_rows = _lsh_band_rows_sql(num_perm, bands)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    ), sig AS (
      SELECT doc, {mins} FROM sh GROUP BY doc
    ), banded AS (
      SELECT doc, b.band, b.bucket
      FROM sig, (VALUES {band_rows}) AS b(band, bucket)
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    ORDER BY doc_a, doc_b
    """


@_register("lsh_candidate_pairs", _lsh_oracle())
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding (16 perms, 4 bands × 4 rows): candidate pairs
    share at least one band bucket."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    sh = shingles(docs, "doc_id", "text", n=3)
    sig = minhash_signatures(sh, num_perm=16)
    return staged_sort(
        lsh_candidate_pairs(sig, num_perm=16, bands=4),
        "doc_a",
        "doc_b",
    )


def _dedup_recall_oracle(threshold: float = 0.5) -> str:
    truth = _jaccard_oracle(n=3, threshold=threshold, max_df=64)
    cand = _lsh_oracle()
    return f"""
    WITH truth AS (SELECT doc_a, doc_b FROM ({truth})),
    cand AS (SELECT doc_a, doc_b FROM ({cand})),
    hit AS (SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT)  AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT)   AS n_hit,
           round((SELECT count(*) FROM hit)
                 / CAST((SELECT count(*) FROM truth) AS DOUBLE), 6) AS recall,
           round((SELECT count(*) FROM hit)
                 / CAST((SELECT count(*) FROM cand) AS DOUBLE), 6)  AS precision
    """


@_register("dedup_recall_eval", _dedup_recall_oracle())
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation — ann_recall_eval's sibling for the text
    side: MinHash-LSH candidate pairs (16 perms, 4×4 bands) graded
    against exact 3-gram Jaccard ≥ 0.5 ground truth (stop-shingle
    max_df=64 cap on the exact index, stated in the metric's contract).
    Output is one row: truth/candidate/hit counts, recall, and candidate
    precision — the number a pipeline owner tunes bands/rows against.
    Scale shape: both sides are the already-bounded pair generators; the
    grading join is pair-keyed (tiny) and the aggregate is one row."""
    from ..operators.dedup import minhash_signatures as mh_sigs
    from ..session import truncate_lineage

    docs = fan_out(_t(spark, sf_dir, "documents"))
    # ONE shingle derivation for both sides (r13, guide §2.4): the truth
    # pipeline's inverted-index self-join and the MinHash pipeline both
    # start from the same shingles(docs, n=3) frame; seaming it once
    # replaces the per-consumer explode+distinct re-derivation
    # (interleaved A/B at sf0.1: 3.08 -> 2.11 s, 0.69; outputs equal).
    sh = truncate_lineage(shingles(docs, "doc_id", "text", n=3))
    truth = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=64,
        shingle_df=sh,
    ).select("doc_a", "doc_b")
    cand = lsh_candidate_pairs(
        mh_sigs(sh, num_perm=16), num_perm=16, bands=4
    ).select("doc_a", "doc_b")
    # ONE action for all three counts: tag each side, union, and count
    # per-pair membership. The previous truth.count() / cand.count() /
    # truth.intersect(cand).count() ran THREE actions, recomputing the
    # shingle + MinHash pipelines roughly twice each (guide §1.2: fix
    # the algorithm's pass count first). n_hit counts DISTINCT pairs on
    # both sides — exactly intersect()'s set semantics.
    tagged = truth.withColumn("_t", F.lit(1)).withColumn(
        "_c", F.lit(0)
    ).unionByName(
        cand.withColumn("_t", F.lit(0)).withColumn("_c", F.lit(1))
    )
    per_pair = tagged.groupBy("doc_a", "doc_b").agg(
        F.sum("_t").alias("nt"), F.sum("_c").alias("nc")
    )
    tot = per_pair.agg(
        F.sum("nt").alias("n_truth"),
        F.sum("nc").alias("n_cand"),
        F.sum(
            ((F.col("nt") > 0) & (F.col("nc") > 0)).cast("long")
        ).alias("n_hit"),
    ).collect()[0]
    n_truth = int(tot.n_truth or 0)
    n_cand = int(tot.n_cand or 0)
    n_hit = int(tot.n_hit or 0)
    row = [(
        n_truth, n_cand, n_hit,
        round(n_hit / n_truth, 6) if n_truth else None,
        round(n_hit / n_cand, 6) if n_cand else None,
    )]
    return spark.createDataFrame(
        row,
        "n_truth bigint, n_candidates bigint, n_hit bigint,"
        " recall double, precision double",
    )


def _simhash_oracle(bits: int = 32) -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             list_transform(
               list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> ''),
               t -> {hash60_sql('t')}) AS th
      FROM documents
    )
    SELECT doc, CAST({votes} AS BIGINT) AS simhash FROM tok ORDER BY doc
    """


@_register("simhash_signatures", _simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar SimHash (32-bit majority-vote signature), shuffle-free."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return simhash(docs, "doc_id", "text", bits=32).orderBy("doc")


def _simhash_pairs_oracle(bits: int = 32, bands: int = 4, max_hamming: int = 3) -> str:
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig_cte = _simhash_oracle(bits).replace("ORDER BY doc", "").strip()
    band_rows = ", ".join(
        f"({b}, (simhash >> {b * band_bits}) % {mask + 1})" for b in range(bands)
    )
    return f"""
    WITH sigs AS ({sig_cte}
    ), banded AS (
      SELECT doc, simhash, b.band, b.bucket
      FROM sigs, (VALUES {band_rows}) AS b(band, bucket)
    )
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


@_register("simhash_near_dups", _simhash_pairs_oracle())
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band-bucket candidates + exact Hamming
    re-rank (bit_count(xor)), everything native."""
    from ..operators.dedup import simhash_near_dup_pairs

    docs = fan_out(_t(spark, sf_dir, "documents"))
    sigs = simhash(docs, "doc_id", "text", bits=32)
    return (
        simhash_near_dup_pairs(sigs, bits=32, bands=4, max_hamming=3)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("doc_a", "doc_b")
    )


def _cc_labeled_ctes() -> str:
    """The recursive transitive-closure CTE chain ending in ``labeled``
    (doc_id, cluster_id) — shared by the cluster and canonical-selection
    oracles so the two can't drift apart."""
    base = _simhash_pairs_oracle()
    tail = "ORDER BY doc_a, doc_b"
    assert base.count(tail) == 1, "simhash pairs oracle drifted"
    pairs_sql = base.replace(tail, "").strip()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
    ), labeled AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )"""


def _dedup_clusters_oracle() -> str:
    return f"""
    {_cc_labeled_ctes()}
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
           doc_id = cluster_id AS is_canonical
    FROM labeled ORDER BY doc_id
    """


@_register("dedup_clusters", _dedup_clusters_oracle())
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: SimHash near-dup pairs → alternating
    large-star/small-star connected components (O(log n) shuffle rounds)
    → per-document cluster id, size, and canonical flag. The oracle
    replays the grouping with a recursive transitive-closure CTE — fine
    at oracle scale, quadratic in component size at planet scale, which
    is exactly why the Spark side uses the star algorithm instead."""
    from ..operators.dedup import dedup_clusters, simhash_near_dup_pairs

    docs = fan_out(_t(spark, sf_dir, "documents"))
    sigs = simhash(docs, "doc_id", "text", bits=32)
    pairs = simhash_near_dup_pairs(sigs, bits=32, bands=4, max_hamming=3)
    return dedup_clusters(docs, pairs, id_col="doc_id").orderBy("doc_id")


def _dedup_canonical_oracle() -> str:
    return f"""
    {_cc_labeled_ctes()}
    , sized AS (
      SELECT doc_id, cluster_id,
             CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs
      FROM labeled
    ), scored AS (
      SELECT s.doc_id, s.cluster_id, s.n_docs, d.n_chars AS score,
             row_number() OVER (PARTITION BY s.cluster_id
                                ORDER BY d.n_chars DESC, s.doc_id ASC) AS rnk,
             first_value(s.doc_id) OVER (PARTITION BY s.cluster_id
                                ORDER BY d.n_chars DESC, s.doc_id ASC) AS best_doc
      FROM sized s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_docs, score, rnk = 1 AS keep, best_doc
    FROM scored ORDER BY doc_id
    """


@_register("dedup_canonical", _dedup_canonical_oracle())
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonical selection over near-dup clusters: SimHash
    banding → connected components → per-cluster argmax(n_chars) exemplar
    (ties to the smallest id). The curation behavior real pipelines ship —
    retain the longest/best duplicate, not the min-id one. Spark side is
    one join + one window over ``cluster_id``; only the small cluster
    frame moves, never the texts. Reads the staged cluster table
    (:func:`_dedup_cluster_table`) — the trainer is ``dedup_clusters``."""
    from ..operators.dedup import keep_best

    docs = fan_out(_t(spark, sf_dir, "documents"))
    clusters = _dedup_cluster_table(spark, sf_dir)
    return keep_best(clusters, docs, id_col="doc_id", score_col="n_chars").orderBy(
        "doc_id"
    )


def _semantic_dedup_canonical_oracle(graded: int = 60, threshold: float = 0.99) -> str:
    aug = f"""aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_LSH_TWIN_BASE},
             list_transform(range(0, 64), d ->
               embedding[d + 1]::DOUBLE * {_LSH_TWIN_JITTER})
      FROM embeddings WHERE vec_id < {graded}
    )"""
    cos = (
        "round(list_dot_product(a.embedding, b.embedding)"
        " / (sqrt(list_dot_product(a.embedding, a.embedding))"
        " * sqrt(list_dot_product(b.embedding, b.embedding))), 6)"
    )
    pairs = _knn_lsh_pairs_sql(source="aug", pre=aug, bucket_cap=4).replace(
        "WITH ", "WITH RECURSIVE ", 1
    )
    return f"""
    {pairs},
    sem AS (
      SELECT p.vec_id AS u, p.neighbor_id AS v
      FROM lshpairs p
        JOIN aug a ON a.vec_id = p.vec_id
        JOIN aug b ON b.vec_id = p.neighbor_id
      WHERE p.vec_id < p.neighbor_id AND {cos} >= {threshold}
    ),
    semedges AS (SELECT u, v FROM sem UNION SELECT v, u FROM sem),
    reach(u, v) AS (
      SELECT u, v FROM semedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN semedges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT a.vec_id, coalesce(c.component, a.vec_id) AS cluster_id
      FROM aug a LEFT JOIN comp c ON a.vec_id = c.node
    )
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
           vec_id = cluster_id AS is_canonical
    FROM labeled ORDER BY vec_id
    """


@_register("semantic_dedup_canonical", _semantic_dedup_canonical_oracle())
def semantic_dedup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space SEMANTIC dedup end-to-end (SemDeDup, Abbas et al.
    2023): planted ±4% twins → bucket-capped multi-table sign-LSH
    candidates → exact-cosine threshold (``semantic_dup_pairs``, all
    pairs ≥ 0.99, not top-k) → large-star/small-star connected
    components → per-vector cluster id + canonical flag. Composes the
    capped similarity path with the dedup clustering machinery — the
    100 TB shape for "drop semantically identical training docs": pair
    work bounded by N·cap, CC in O(log n) shuffle rounds, texts never
    move. The oracle replays signatures, the sub-bucket split, the
    cosine gate, and transitive closure."""
    from ..operators.dedup import dedup_clusters
    from ..operators.similarity import semantic_dup_pairs

    emb = fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    vid = F.col("vec_id")
    twins = emb.filter(vid < 60).select(
        (vid + _LSH_TWIN_BASE).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x * (1.0 + ((d * 7 + vid) % 5 - 2) / 50.0),
        ).alias("embedding"),
    )
    aug = emb.unionByName(twins)
    pairs = semantic_dup_pairs(
        aug, threshold=0.99, nbits=8, ntables=2, bucket_cap=4
    )
    clusters = dedup_clusters(
        aug.select(F.col("vec_id").alias("doc_id")), pairs, id_col="doc_id"
    )
    return clusters.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "n_docs",
        "is_canonical",
    ).orderBy("vec_id")


# ===========================================================================
# embedding near-duplicate pairs (label-bucketed cosine)
# ===========================================================================


@_register(
    "embedding_near_dups",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(
             list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(
             list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, label-bucketed: the equi-join on
    the cluster label prunes the candidate space (the IVF idea — at scale
    the label comes from a coarse quantizer), exact cosine inside buckets."""
    from ..operators.similarity import dot_expr, norm_expr

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # precompute norms ONCE per vector before the pair join — recomputing
    # them inside the pair-level cosine tripled the per-pair work
    normed = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return staged_sort(
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.3)
        .select("vec_a", "vec_b", "label", "cosine"),
        "vec_a",
        "vec_b",
    )


def _semantic_dedup_threshold_oracle(threshold: float = 0.3) -> str:
    cos = (
        "round(list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)"
    )
    dist = (
        "round(list_sum(list_transform(range(1, 65), "
        "i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))), 6)"
    )
    return _kmeans_cte_chain(every=64, iters=2) + f"""
    , d3 AS (
      SELECT v.vec_id, c.cid, {dist} AS d FROM v, c2 c
    ), a3 AS (
      SELECT d.vec_id, min(d.cid) AS cid
      FROM d3 d
        JOIN (SELECT vec_id, min(d) AS md FROM d3 GROUP BY vec_id) m
          ON m.vec_id = d.vec_id AND d.d = m.md
      GROUP BY d.vec_id
    ), dup AS (
      SELECT DISTINCT a.vec_id
      FROM a3 a JOIN a3 b ON a.cid = b.cid AND b.vec_id < a.vec_id
        JOIN v x ON x.vec_id = a.vec_id
        JOIN v y ON y.vec_id = b.vec_id
      WHERE {cos} >= {threshold!r}
    )
    SELECT a3.vec_id, a3.cid, (dup.vec_id IS NULL) AS kept
    FROM a3 LEFT JOIN dup ON dup.vec_id = a3.vec_id
    ORDER BY a3.vec_id
    """


@_register("semantic_dedup", _semantic_dedup_threshold_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means cluster the
    embedding space (2 reproducible Lloyd rounds), then inside each
    cluster drop any vector that has a lower-id neighbor with cosine ≥
    0.3 — the keep-one-per-near-duplicate-set rule, but the candidate
    pairs are confined to a cluster instead of all-pairs. Scale shape:
    assignment is a broadcast E-step (one row per vector shuffles), the
    pair join is an equi-join on the cluster id — the coarse quantizer
    caps the pair blowup exactly like the IVF list join."""
    from ..operators.similarity import assign_nearest, cosine_expr

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = _trained_centroids_table(spark, sf_dir)
    # the E-step output feeds both pair-join sides and the final keep list;
    # persist it once (any real SemDeDup run materializes assignments)
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    assigned = register_cached(
        assign_nearest(emb, cents).persist(StorageLevel.MEMORY_AND_DISK)
    )

    a = assigned.select(
        F.col("vec_id"), F.col("cid"), F.col("embedding").alias("_va")
    )
    b = assigned.select(
        F.col("vec_id").alias("_vb_id"), F.col("cid"), F.col("embedding").alias("_vb")
    )
    cos = F.round(
        cosine_expr(F.col("_va").cast("array<double>"), F.col("_vb").cast("array<double>")),
        6,
    )
    dup_ids = (
        a.join(b, "cid")
        .filter(F.col("_vb_id") < F.col("vec_id"))
        .filter(cos >= 0.3)
        .select("vec_id")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cid")
        .join(dup_ids, "vec_id", "left")
        .select("vec_id", "cid", F.col("_dup").isNull().alias("kept"))
        .orderBy("vec_id")
    )


def _lsh_verified_oracle(
    num_perm: int = 16, bands: int = 4, n: int = 3, threshold: float = 0.5
) -> str:
    lsh = _lsh_oracle(num_perm, bands, n).replace("ORDER BY doc_a, doc_b", "")
    sh = _SHINGLE_SQL.format(n=n)
    return f"""
    WITH cand AS ({lsh}
    ), shv AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    ), sizes AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS n_sh FROM shv GROUP BY doc
    ), inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
        JOIN shv a ON a.doc = c.doc_a
        JOIN shv b ON b.doc = c.doc_b AND b.shingle_hash = a.shingle_hash
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
    FROM inter i
      JOIN sizes sa ON sa.doc = i.doc_a
      JOIN sizes sb ON sb.doc = i.doc_b
    WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6)
          >= {threshold!r}
    ORDER BY i.doc_a, i.doc_b
    """


@_register("lsh_verified_pairs", _lsh_verified_oracle())
def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full candidate-then-verify fuzzy-dedup pattern in one plan:
    MinHash-LSH banding proposes candidate pairs (recall), then exact
    3-gram Jaccard is computed ONLY for those pairs (precision) by
    joining the candidates back to both shingle sets. This is THE shape
    a 100 TB fuzzy dedup runs: the quadratic all-pairs comparison never
    exists; verification cost is proportional to the candidates' shingle
    mass, and both stages reuse one shingle table."""
    from ..operators.dedup import verify_candidate_pairs

    docs = fan_out(_t(spark, sf_dir, "documents"))
    sh = shingles(docs, "doc_id", "text", n=3)
    sig = minhash_signatures(sh, num_perm=16)
    cand = lsh_candidate_pairs(sig, num_perm=16, bands=4)
    return verify_candidate_pairs(cand, sh, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


# --- cross-document duplicated-passage detection -----------------------------


def _dup_passage_oracle(n: int = 5) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    ), freq AS (
      SELECT shingle_hash, count(*) AS n_docs FROM sh GROUP BY shingle_hash
    ), per_doc AS (
      SELECT doc,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM sh JOIN freq USING (shingle_hash) GROUP BY doc
    )
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_shared, 0) AS n_shared,
           round(COALESCE(n_shared, 0) / greatest(COALESCE(n_shingles, 0), 1), 6)
             AS dup_fraction
    FROM documents d LEFT JOIN per_doc ON per_doc.doc = d.doc_id
    ORDER BY d.doc_id
    """


@_register("dup_passage_fraction", _dup_passage_oracle())
def dup_passage_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level duplication (the Lee et al. 2022 exact-substring
    signal at shingle granularity): per document, the fraction of its
    distinct word-5-grams that also occur in at least one other document.
    Inverted-index shape — shingle-hash frequency is one map-side-combined
    aggregation, joined back to the per-doc shingle stream; no pairwise
    comparison anywhere, so it scales as total shingle volume, not docs²."""
    from ..operators.dedup import shingles

    docs = fan_out(_t(spark, sf_dir, "documents"))
    sh = shingles(docs, "doc_id", "text", n=5)
    freq = sh.groupBy("shingle_hash").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sh.join(freq, "shingle_hash")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("n_shared"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, docs.doc_id == per_doc.doc, "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


# --- PageRank over the near-dup graph ----------------------------------------

_PR_DAMPING = 0.85


def _pagerank_oracle() -> str:
    pairs = _jaccard_oracle(n=2, threshold=0.12, max_df=64)
    return f"""
    WITH pairs AS ({pairs}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
               FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
    i1 AS (
      SELECT e.dst, sum(r.rank / o.outdeg) AS inbound
      FROM edges e JOIN r0 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT nodes.node,
             (1.0 - {_PR_DAMPING}) / n
               + {_PR_DAMPING} * COALESCE(i1.inbound, 0.0) AS rank
      FROM nodes CROSS JOIN nn LEFT JOIN i1 ON nodes.node = i1.dst
    ),
    i2 AS (
      SELECT e.dst, sum(r.rank / o.outdeg) AS inbound
      FROM edges e JOIN r1 r ON e.src = r.node JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT nodes.node,
             (1.0 - {_PR_DAMPING}) / n
               + {_PR_DAMPING} * COALESCE(i2.inbound, 0.0) AS rank
      FROM nodes CROSS JOIN nn LEFT JOIN i2 ON nodes.node = i2.dst
    )
    SELECT node, round(rank, 6) AS rank FROM r2 ORDER BY node
    """


@_register("dup_graph_pagerank", _pagerank_oracle())
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power iterations of PageRank over the symmetrized 2-gram
    Jaccard near-dup graph — duplicate-cluster centrality, and the proof
    that iterative graph algorithms run as driver-looped DataFrame
    rounds with per-round lineage truncation (``operators/graph.py``,
    same discipline as the connected-components rounds). The oracle
    replays both iterations in SQL."""
    from ..operators.graph import pagerank, symmetrize

    docs = fan_out(_t(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.12, max_df=64
    )
    edges = symmetrize(pairs, "doc_a", "doc_b")
    ranks = pagerank(edges, iterations=2, damping=_PR_DAMPING)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


# --- incremental dedup (new batch vs historical index) -----------------------

# fingerprint = the first 8 tokens (leading-content dedup: catches
# boilerplate-prefixed near-copies that full-text hashing misses, and the
# synthetic corpus actually collides on it, so both dup branches execute)
_INC_HEAD_SQL = (
    "array_to_string((list_filter(regexp_split_to_array(lower(text), '\\W+'),"
    " x -> x <> ''))[1:8], ' ')"
)


@_register(
    "incremental_dedup",
    f"""
    WITH d AS (
      SELECT doc_id, text,
             {hash60_sql("CAST(doc_id AS VARCHAR) || ':inc'")} % 10 AS b,
             {hash60_sql(_INC_HEAD_SQL)} AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM d WHERE b < 7),
    batch AS (SELECT doc_id, fp FROM d WHERE b >= 7),
    keep0 AS (
      SELECT batch.doc_id, batch.fp,
             hist.fp IS NOT NULL AS in_history,
             row_number() OVER (PARTITION BY batch.fp ORDER BY batch.doc_id)
               AS rn
      FROM batch LEFT JOIN hist USING (fp)
    )
    SELECT doc_id,
           CASE WHEN in_history THEN 'dup_of_history'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM keep0 ORDER BY doc_id
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the daily-crawl contract: a new batch is
    checked against the historical fingerprint index (anti-join shape)
    AND deduped within itself (first-by-id wins). At 100 TB the history
    side is a bucketed fingerprint table (`sources/state_tables.py`
    pattern) so the join is co-located; the batch is small, so AQE
    broadcasts it — no history re-shuffle per day."""
    docs = _t(spark, sf_dir, "documents")
    b = F.pmod(
        hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":inc"))),
        F.lit(10),
    )
    head = F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 8))
    d = docs.select("doc_id", b.alias("b"), hash60_expr(head).alias("fp"))
    hist = d.filter(F.col("b") < 7).select("fp").distinct()
    batch = d.filter(F.col("b") >= 7).select("doc_id", "fp")
    w = W.partitionBy("fp").orderBy("doc_id")
    joined = (
        batch.join(hist.withColumn("_h", F.lit(True)), "fp", "left")
        .withColumn("rn", F.row_number().over(w))
    )
    verdict = (
        F.when(F.col("_h").isNotNull(), F.lit("dup_of_history"))
        .when(F.col("rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
    )
    return joined.select("doc_id", verdict.alias("verdict")).orderBy("doc_id")


def _minhash_incremental_oracle(num_perm: int = 16, bands: int = 4, n: int = 3) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    mins = _minhash_mins_sql(num_perm)
    band_rows = _lsh_band_rows_sql(num_perm, bands)
    bucket = hash60_sql("CAST(doc AS VARCHAR) || ':inc'") + " % 10"
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS shingle_hash FROM ({sh})
    ), sig AS (
      SELECT doc, {mins} FROM sh GROUP BY doc
    ), banded AS (
      SELECT doc, b.band, b.bucket, {bucket} AS split_b
      FROM sig, (VALUES {band_rows}) AS b(band, bucket)
    ), hist AS (
      SELECT DISTINCT band, bucket FROM banded WHERE split_b < 7
    ), batch AS (
      SELECT * FROM banded WHERE split_b >= 7
    ), hits AS (
      SELECT DISTINCT batch.doc FROM batch JOIN hist USING (band, bucket)
    )
    SELECT d.doc AS doc_id,
           CASE WHEN h.doc IS NOT NULL THEN 'near_dup_of_history'
                ELSE 'new' END AS verdict
    FROM (SELECT DISTINCT doc FROM batch) d LEFT JOIN hits h USING (doc)
    ORDER BY doc_id
    """


@_register("minhash_incremental", _minhash_incremental_oracle())
def minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection — the fuzzy companion of the exact
    ``incremental_dedup``: the day's batch is banded with MinHash-LSH and
    probed against the HISTORY's (band, bucket) table. At 100 TB the
    history bucket table is a stored index (id-free, distinct buckets
    only); the batch side is day-sized, so the probe is a broadcast or
    co-bucketed equi-join — the historical corpus itself is never
    re-shingled."""
    from ..operators.dedup import lsh_bands

    docs = fan_out(_t(spark, sf_dir, "documents"))
    sig = minhash_signatures(shingles(docs, "doc_id", "text", n=3), num_perm=16)
    banded = lsh_bands(sig, num_perm=16, bands=4).withColumn(
        "split_b",
        F.pmod(
            hash60_expr(F.concat(F.col("doc").cast("string"), F.lit(":inc"))),
            F.lit(10),
        ),
    )
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    banded = register_cached(banded.persist(StorageLevel.MEMORY_AND_DISK))
    hist = banded.filter(F.col("split_b") < 7).select("band", "bucket").distinct()
    batch = banded.filter(F.col("split_b") >= 7)
    hits = (
        batch.join(hist, ["band", "bucket"], "left_semi").select("doc").distinct()
        .withColumn("_h", F.lit(True))
    )
    return (
        batch.select("doc").distinct()
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.when(F.col("_h").isNotNull(), F.lit("near_dup_of_history"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )
