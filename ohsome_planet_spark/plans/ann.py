"""Embedding and retrieval rows: exact/LSH/IVF/PQ nearest neighbours,
k-means, recall evaluation, BM25, hybrid retrieval and bitext mining."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import fan_out
from ..operators.similarity import cosine_topk, kmeans_iterate, lsh_bucket_topk

from ._registry import _produce_then_query, _register, _t, staged_sort


def _pq_codebook_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebooks (m=4, every=64, 1 Lloyd round) trained once per
    session — the stored-index contract: `pq_codes` is the verified
    trainer+encoder op and re-derives per run; the search queries
    (`pq_adc_topk`, `ann_ivfpq_topk`) read the staged codebook table,
    exactly as a deployed ANN service reads its trained index rather than
    retraining per query."""
    from ..operators.similarity import pq_codebooks

    return _produce_then_query(
        spark, sf_dir, "pq_cb_m4_e64",
        lambda: pq_codebooks(
            fan_out(_t(spark, sf_dir, "embeddings")), m=4, dim=64, every=64,
            iters=1,
        ),
    )


def _pq_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoded PQ code matrix, staged once per session (the stored
    index's data half; see :func:`_pq_codebook_table`)."""
    from ..operators.similarity import pq_encode

    def build() -> DataFrame:
        cb = _pq_codebook_table(spark, sf_dir)
        return pq_encode(
            fan_out(_t(spark, sf_dir, "embeddings")), cb, m=4, dim=64
        )

    return _produce_then_query(spark, sf_dir, "pq_codes_m4_e64", build)


def _pq_residual_codebook_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ codebooks (FAISS IVFADC ``by_residual`` default):
    trained on x − coarse_centroid(x) instead of raw vectors, staged once
    per session like the raw-vector index tables. The coarse quantizer is
    the k-means-TRAINED centroid table (:func:`_trained_centroids_table`),
    not the sampled seeds: residual encoding only pays off when the
    coarse centroids actually sit inside the data (see
    :func:`_residual_v_cte` for the measured energies)."""
    from ..operators.similarity import pq_codebooks, residual_vectors

    def build() -> DataFrame:
        emb = fan_out(_t(spark, sf_dir, "embeddings"))
        res = residual_vectors(emb, _trained_centroids_table(spark, sf_dir))
        return pq_codebooks(res, m=4, dim=64, every=64, iters=1)

    return _produce_then_query(spark, sf_dir, "pq_res_cb_m4_e64", build)


def _pq_residual_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ code matrix WITH the list id per row — in a stored
    IVFADC index the code and its inverted-list membership live in the
    same entry, so the staged table carries both."""
    from ..operators.similarity import pq_encode, residual_vectors

    def build() -> DataFrame:
        emb = fan_out(_t(spark, sf_dir, "embeddings"))
        res = residual_vectors(emb, _trained_centroids_table(spark, sf_dir))
        cb = _pq_residual_codebook_table(spark, sf_dir)
        return pq_encode(res, cb, m=4, dim=64).join(
            res.select("vec_id", "_list"), "vec_id"
        )

    return _produce_then_query(spark, sf_dir, "pq_res_codes_m4_e64", build)


def _trained_centroids_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means centroids (every=64, iters=2) trained once per session —
    the IVF train-once/reuse contract: the trainer (`kmeans_centroids`)
    re-derives per run to stay the verified op, consumers (IVF probing,
    semantic dedup) read the stored table."""
    return _produce_then_query(
        spark, sf_dir, "kmeans_e64_i2",
        lambda: kmeans_iterate(
            fan_out(_t(spark, sf_dir, "embeddings")), every=64, iters=2
        ).select("cid", "cv"),
    )


# ===========================================================================
# similarity search
# ===========================================================================


_ANN_COSINE_ORACLE = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
    ), sims AS (
      SELECT q.query_id, e.vec_id,
             round(
               list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
          FROM sims)
    WHERE rank <= 5 ORDER BY query_id, rank
    """


@_register("ann_cosine_topk", _ANN_COSINE_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 5 query vectors (broadcast query
    side; JVM-side dot products via aggregate/zip_with)."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


def _ann_lsh_oracle(dim: int = 64, nbits: int = 8, k: int = 5) -> str:
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, nbits)
    # signature: explicit left-assoc dot sums so the fp evaluation order
    # matches Spark's aggregate fold exactly
    bit_terms = []
    for b, plane in enumerate(planes):
        dot = " + ".join(
            f"(embedding[{d + 1}]::DOUBLE * {plane[d]!r})" for d in range(dim)
        )
        bit_terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << b} ELSE 0 END)")
    sig = " + ".join(bit_terms)
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, CAST({sig} AS BIGINT) AS sig FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, sig AS qsig
      FROM sigs WHERE vec_id < 5
    ), cand AS (
      SELECT q.query_id, s.vec_id,
             round(
               list_dot_product(s.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
      FROM sigs s JOIN q ON s.sig = q.qsig AND s.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
          FROM cand)
    WHERE rank <= {k} ORDER BY query_id, rank
    """


@_register("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH bucketing + exact re-rank
    within bucket (the scale path; recall traded for a bucket equi-join).
    The 8×64 hyperplane weights are deterministic md5-derived literals, so
    the oracle reproduces the signatures bit-for-bit."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_bucket_topk(emb, queries, dim=64, k=5, nbits=8)
    return staged_sort(
        out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ),
        "query_id",
        "rank",
    )


def _ann_ivf_oracle(every: int = 25, nprobe: int = 4, k: int = 5, cents_cte: str | None = None) -> str:
    """IVF oracle; ``cents_cte`` overrides the centroid source with a full
    WITH-chain ending in a CTE named ``cents`` (the k-means-trained
    variant); default is the every-Nth sampled centroid table."""
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    head = cents_cte or f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % {every} = 0
    )"""
    return head + f""", assigned AS (
      SELECT vec_id, embedding, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
    ), probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos.format(a="q.qv", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    ), cand AS (
      SELECT p.query_id, a.vec_id,
             {cos.format(a="a.embedding::DOUBLE[]", b="p.qv")} AS cosine
      FROM probes p JOIN assigned a
        ON a.list_id = p.cid AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
          FROM cand)
    WHERE rank <= {k} ORDER BY query_id, rank
    """


def _knn_self_join_oracle(min_every: int = 25, k: int = 3) -> str:
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH ev AS (
      SELECT greatest({min_every}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS e
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings, ev WHERE vec_id % ev.e = 0
    ), assigned AS (
      SELECT vec_id, embedding, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), pairs AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             {cos.format(a="a.embedding::DOUBLE[]", b="b.embedding::DOUBLE[]")} AS cosine
      FROM assigned a JOIN assigned b
        ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
    WHERE rank <= {k} ORDER BY vec_id, rank
    """


@_register("knn_self_join", _knn_self_join_oracle(min_every=25, k=3))
def knn_self_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus kNN self-join (every vector's top-3 cosine neighbors),
    IVF-blocked — the building block under semantic dedup, near-dup
    clustering, and diversity-aware sampling where the query set IS the
    corpus. Unlike the query-side ANN ops this cannot broadcast either
    side: the assignment table equi-joins with ITSELF on the list id
    (both sides shuffle once, co-partitioned). The centroid count scales
    as √N (``centroids_df_sqrt``) so assignment and candidate-pair work
    are both N·√N — a fixed sampling rate made assignment quadratic
    (measured 10x wall ratio ~9 in round 8; see SCALE_SMOKE.json)."""
    from ..operators.similarity import centroids_df_sqrt, knn_self_join

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = centroids_df_sqrt(emb, min_every=25)
    return staged_sort(knn_self_join(emb, cents, k=3), "vec_id", "rank")


def _lsh_table_sig_sql(nbits: int, salt: str, dim: int = 64) -> str:
    """One table's sign-LSH signature as explicit left-assoc SQL (same
    fp evaluation order as Spark's aggregate fold)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, nbits, salt=salt)
    bit_terms = []
    for b, plane in enumerate(planes):
        dot = " + ".join(
            f"(embedding[{d + 1}]::DOUBLE * {plane[d]!r})" for d in range(dim)
        )
        bit_terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bit_terms)


def _knn_lsh_pairs_sql(
    nbits: int = 8,
    ntables: int = 2,
    source: str = "embeddings",
    pre: str = "",
    bucket_cap: int | None = None,
) -> str:
    """CTE chain ending in ``lshpairs`` = the distinct candidate pairs of
    the multi-table LSH self-join (over ``source``, which must expose
    vec_id + embedding; ``pre`` prepends extra CTEs, e.g. an augmented
    corpus). ``bucket_cap`` replays the operator's deterministic
    sub-bucket split (hash60 of ``vec_id:cap<t>:`` mod
    ceil(|bucket|/cap)) so the capped scale path is hash-gated too."""
    sigs = []
    for t in range(ntables):
        sig = _lsh_table_sig_sql(nbits, salt=f"t{t}:")
        sigs.append(
            f"rawsig{t} AS (SELECT vec_id, CAST({sig} AS BIGINT) AS sig"
            f" FROM {source})"
        )
        if bucket_cap:
            sigs.append(
                f"sig{t} AS (SELECT vec_id, sig,"
                f" ('0x' || substr(md5(CAST(vec_id AS VARCHAR)"
                f" || ':cap{t}:'), 1, 15))::BIGINT"
                f" % CAST(ceil(COUNT(*) OVER (PARTITION BY sig)"
                f" / {bucket_cap}.0) AS BIGINT) AS sub"
                f" FROM rawsig{t})"
            )
        else:
            sigs.append(f"sig{t} AS (SELECT *, 0 AS sub FROM rawsig{t})")
    unions = "\n      UNION\n".join(
        f"      SELECT a.vec_id, b.vec_id AS neighbor_id"
        f" FROM sig{t} a JOIN sig{t} b"
        f" ON a.sig = b.sig AND a.sub = b.sub AND a.vec_id <> b.vec_id"
        for t in range(ntables)
    )
    return (
        "WITH "
        + (pre + ",\n    " if pre else "")
        + ",\n    ".join(sigs)
        + f""",
    lshpairs AS (
{unions}
    )"""
    )


def _knn_lsh_oracle(
    nbits: int = 8, ntables: int = 2, k: int = 3,
    bucket_cap: int | None = None,
) -> str:
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return _knn_lsh_pairs_sql(nbits, ntables, bucket_cap=bucket_cap) + f""",
    scored AS (
      SELECT p.vec_id, p.neighbor_id,
             {cos.format(a="va.embedding::DOUBLE[]", b="vb.embedding::DOUBLE[]")}
               AS cosine
      FROM lshpairs p
        JOIN embeddings va ON va.vec_id = p.vec_id
        JOIN embeddings vb ON vb.vec_id = p.neighbor_id
    )
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k} ORDER BY vec_id, rank
    """


@_register("knn_self_join_lsh", _knn_lsh_oracle())
def knn_self_join_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus kNN self-join on the LINEAR scale path: multi-table
    sign-LSH bucketing (table-salted deterministic hyperplanes) instead
    of IVF lists. Hashing is O(N·ntables·nbits) and pair work is
    within-bucket only, so with occupancy held constant by nbits the
    total stays ~linear where the √N-centroid IVF variant grows N^1.5.
    Recall graded by ``knn_lsh_recall_eval``."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    return knn_self_join_lsh(emb, k=3, nbits=8, ntables=2).orderBy(
        "vec_id", "rank"
    )


@_register("knn_self_join_lsh_capped", _knn_lsh_oracle(bucket_cap=4))
def knn_self_join_lsh_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPPED scale configuration of the LSH self-join, hash-gated:
    each (table, signature) bucket splits into ceil(|bucket|/4)
    sub-buckets by a deterministic id hash before pair generation, the
    structural fix for hot-cluster Σ|bucket|² blow-up that pair-count
    measurement exposed (SCALE_SMOKE ``knn_self_join_lsh_pair_counts``:
    uncapped density 17.7 → 2806 pairs/vec across 1x/30x, capped
    saturates ≤ 2·ntables·cap). cap=4 on the gate corpus forces real
    splits; the oracle replays signature, sub-bucket hash, modulus, and
    re-rank exactly."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    return knn_self_join_lsh(
        emb, k=3, nbits=8, ntables=2, bucket_cap=4
    ).orderBy("vec_id", "rank")


_LSH_TWIN_BASE = 1_000_000
_LSH_TWIN_JITTER = (
    "(1.0 + ((d * 7 + vec_id) % 5 - 2) / 50.0)"  # ±4% multiplicative
)


def _knn_lsh_recall_oracle(graded: int = 30) -> str:
    aug = f"""aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_LSH_TWIN_BASE},
             list_transform(range(0, 64), d ->
               embedding[d + 1]::DOUBLE * {_LSH_TWIN_JITTER})
      FROM embeddings WHERE vec_id < {graded}
    )"""
    return _knn_lsh_pairs_sql(source="aug", pre=aug) + f"""
    SELECT g.vec_id,
           CAST(max(CASE WHEN p.neighbor_id = g.vec_id + {_LSH_TWIN_BASE}
                         THEN 1 ELSE 0 END) AS INT) AS twin_found
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < {graded}) g
      LEFT JOIN lshpairs p ON p.vec_id = g.vec_id
    GROUP BY g.vec_id ORDER BY g.vec_id
    """


@_register("knn_lsh_recall_eval", _knn_lsh_recall_oracle())
def knn_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-twin recall of the LSH self-join — the measurement that
    prices the linear path's multi-table tradeoff on its ACTUAL use case
    (near-duplicate mining): each graded vector gets a deterministic
    ±4%-jittered twin appended to the corpus, and the row reports
    whether the twin surfaced as a candidate pair. Multiplicative jitter
    preserves hyperplane signs except at low margins, so measured recall
    is ~1.0 at these settings (64-dim dots sit far from the hyperplanes)
    — the eval exists so a settings change that breaks this shows up as
    red rows, not silently. Generic top-3 recall on this corpus's
    near-orthogonal vectors (max pairwise cosine 0.51) would grade the
    geometry of the data, not the operator."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    graded = emb.filter(F.col("vec_id") < 30)
    vid = F.col("vec_id")
    twins = graded.select(
        (vid + _LSH_TWIN_BASE).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x * (1.0 + ((d * 7 + vid) % 5 - 2) / 50.0),
        ).alias("embedding"),
    )
    aug = emb.unionByName(twins)
    pairs = knn_self_join_lsh(aug, k=3, nbits=8, ntables=2).select(
        "vec_id", "neighbor_id"
    )
    hit = (
        F.max(
            F.when(
                F.col("neighbor_id") == F.col("vec_id") + _LSH_TWIN_BASE, 1
            ).otherwise(0)
        )
        .cast("int")
        .alias("twin_found")
    )
    return (
        graded.select("vec_id")
        .join(pairs, "vec_id", "left")
        .groupBy("vec_id")
        .agg(hit)
        .orderBy("vec_id")
    )


def _mmr_oracle(qid: int = 0, pool: int = 20, k: int = 5, lam: float = 0.7) -> str:
    lt = round(lam * 10)  # lam in tenths -> exact integer scoring
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    parts = [
        f"""WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {qid}
    ), cand AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {cos.format(a="embedding::DOUBLE[]", b="qv")} AS rel
      FROM embeddings, q WHERE vec_id <> {qid}
      ORDER BY rel DESC, vec_id LIMIT {pool}
    ), sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {cos.format(a="a.v", b="b.v")} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), c1 AS (
      SELECT vec_id, 1 AS rank,
             ({lt} * CAST(round(rel * 1e6) AS BIGINT)) / 1e7 AS score
      FROM cand
      ORDER BY {lt} * CAST(round(rel * 1e6) AS BIGINT) DESC, vec_id LIMIT 1
    ), p1 AS (SELECT vec_id FROM c1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""s{t} AS (
      SELECT c.vec_id,
             {lt} * CAST(round(c.rel * 1e6) AS BIGINT)
               - {10 - lt} * (SELECT max(CAST(round(s.s * 1e6) AS BIGINT))
                              FROM sim s
                              WHERE s.ia = c.vec_id
                                AND s.ib IN (SELECT vec_id FROM p{t - 1}))
               AS score_n
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM p{t - 1})
    ), c{t} AS (
      SELECT vec_id, {t} AS rank, score_n / 1e7 AS score FROM s{t}
      ORDER BY score_n DESC, vec_id LIMIT 1
    ), p{t} AS (SELECT vec_id FROM p{t - 1} UNION ALL SELECT vec_id FROM c{t})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM c{t}" for t in range(1, k + 1))
    return (
        ",\n".join(parts)
        + f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, score
    FROM ({union}) ORDER BY rank
    """
    )


@_register("mmr_diverse_topk", _mmr_oracle(qid=0, pool=20, k=5, lam=0.7))
def mmr_diverse_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998):
    the diversity stage production retrieval runs after ANN — pick 5
    results trading relevance to the query (λ=0.7) against redundancy
    with the already-picked set. Stage 1 distributes (corpus → top-20
    candidate pool, one cosine pass); the inherently-sequential greedy
    argmax runs on the driver over the POOL-sized rounded similarity
    matrix (the honest place — pool², never corpus-sized). The oracle
    replays all 5 greedy steps exactly: scores are exact integer
    micro-units (λ in tenths — float rounding would sit ON .5 boundaries
    structurally), ties to the smaller id
    (``operators/similarity.py::mmr_diverse_topk``)."""
    from ..operators.similarity import mmr_diverse_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    chosen = mmr_diverse_topk(emb, query_id=0, pool=20, k=5, lam=0.7)
    return staged_sort(
        spark.createDataFrame(
        chosen, "rank int, vec_id bigint, score double"
    ),
        "rank",
    )


@_register("ann_ivf_topk", _ann_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic data-sampled centroids (every 25th
    vector — the reproducible stand-in for k-means training) as a broadcast
    centroid table, map-side-combinable argmax list assignment, nprobe=4
    probing, exact re-rank inside the probed lists. Only candidates hit
    the per-query top-k window; no driver collect anywhere."""
    from ..operators.similarity import centroids_df, ivf_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = centroids_df(emb, every=25)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, cents, k=5, nprobe=4)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


# ===========================================================================
# embedding-space training ops: ANN quality eval + reproducible k-means
# ===========================================================================


def _kmeans_cte_chain(
    every: int = 64,
    iters: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    prefix: str = "",
) -> str:
    """The WITH-chain of the reproducible k-means replay, ending in CTE
    ``{prefix}c{iters}`` = (cid, cv DOUBLE[]); shared by the centroid
    oracle, the k-means-trained IVF oracle, and (prefixed, so its CTE
    names don't collide with the PQ chain's) the residual-PQ oracle."""
    p = prefix
    dist = (
        "round(list_sum(list_transform(range(1, {d}), "
        "i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))), 6)"
    ).format(d=dim + 1)
    parts = [
        f"""
    WITH {p}v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), {p}c0 AS (
      SELECT vec_id AS cid, v AS cv FROM {p}v WHERE vec_id % {every} = 0
    )"""
    ]
    prev = f"{p}c0"
    for it in range(1, iters + 1):
        parts.append(f"""
    , {p}d{it} AS (
      SELECT v.vec_id, c.cid, {dist} AS d
      FROM {p}v v, {prev} c
    ), {p}a{it} AS (
      SELECT d.vec_id, min(d.cid) AS cid
      FROM {p}d{it} d
        JOIN (SELECT vec_id, min(d) AS md FROM {p}d{it} GROUP BY vec_id) m
          ON m.vec_id = d.vec_id AND d.d = m.md
      GROUP BY d.vec_id
    ), {p}u{it} AS (
      SELECT a.cid, t.i AS pos,
             sum(CAST(round(v.v[t.i] * {scale}) AS BIGINT)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM {p}a{it} a JOIN {p}v v ON v.vec_id = a.vec_id, range(1, {dim + 1}) t(i)
      GROUP BY a.cid, t.i
    ), {p}c{it} AS (
      SELECT cid, list((s / n) / {scale}.0 ORDER BY pos) AS cv FROM {p}u{it} GROUP BY cid
    )""")
        prev = f"{p}c{it}"
    return "".join(parts)


def _kmeans_oracle(every: int = 64, iters: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    return _kmeans_cte_chain(every, iters, dim, scale) + f"""
    SELECT cid, CAST(pos AS INT) AS pos, n AS n_assigned,
           round((s / n) / {scale}.0, 6) AS c_val
    FROM u{iters}
    ORDER BY cid, pos
    """


@_register("kmeans_centroids", _kmeans_oracle())
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd k-means iterations over the embeddings (IVF training as
    a first-class distributed operator): broadcast-centroid assignment
    with rounded-distance deterministic ties, order-independent
    fixed-point means (int64 quantized sums), lineage truncated per
    round. The oracle replays both iterations CTE by CTE — possible only
    because the means are summation-order independent."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = kmeans_iterate(emb, every=64, iters=2)
    return (
        cents.select("cid", "n", F.posexplode("cv").alias("pos0", "val"))
        .select(
            "cid",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.col("n").alias("n_assigned"),
            F.round("val", 6).alias("c_val"),
        )
        .orderBy("cid", "pos")
    )


def _ann_ivf_kmeans_oracle() -> str:
    cents_cte = _kmeans_cte_chain(every=64, iters=2) + """
    , cents AS (SELECT cid, cv FROM c2)"""
    return _ann_ivf_oracle(nprobe=4, k=5, cents_cte=cents_cte)


@_register("ann_ivf_kmeans_topk", _ann_ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed IVF training loop: k-means-trained centroids
    (:func:`kmeans_iterate`, 2 Lloyd rounds, bit-reproducible) feed the
    IVF index directly — train → build lists → probe in one plan. The
    oracle replays the training CTE-for-CTE and then the probe, which is
    only possible because the means are summation-order independent."""
    from ..operators.similarity import ivf_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = _trained_centroids_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, cents, k=5, nprobe=4)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


def _pq_ctes(
    m: int = 4,
    dim: int = 64,
    every: int = 64,
    scale: int = 1_000_000,
    v_cte: str | None = None,
) -> str:
    """CTE chain replaying PQ training + encoding: per-subspace slice →
    reproducible 1-round k-means (same int64-quantized means as
    ``_kmeans_cte_chain``) → codebook union ``cb`` → sub-vector union
    ``sv`` → argmin codes ``codes``.

    ``v_cte``: optional replacement for the opening WITH chain; it must
    end by defining CTE ``v`` = (vec_id, v DOUBLE[]) — the residual-PQ
    oracle substitutes residuals against the coarse quantizer here and
    the rest of the chain (training, encoding) replays unchanged.
    """
    ds = dim // m
    dist = (
        f"round(list_sum(list_transform(range(1, {ds + 1}), "
        "i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))), 6)"
    )
    parts = [
        v_cte
        if v_cte is not None
        else """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    for s in range(m):
        lo, hi = s * ds + 1, (s + 1) * ds
        parts.append(f"""
    , s{s}v AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM v)
    , s{s}c0 AS (SELECT vec_id AS cid, v AS cv FROM s{s}v WHERE vec_id % {every} = 0)
    , s{s}d AS (SELECT v.vec_id, c.cid, {dist} AS d FROM s{s}v v, s{s}c0 c)
    , s{s}a AS (
        SELECT d.vec_id, min(d.cid) AS cid FROM s{s}d d
        JOIN (SELECT vec_id, min(d) AS md FROM s{s}d GROUP BY vec_id) mm
          ON mm.vec_id = d.vec_id AND d.d = mm.md
        GROUP BY d.vec_id)
    , s{s}u AS (
        SELECT a.cid, t.i AS pos,
               sum(CAST(round(v.v[t.i] * {scale}) AS BIGINT)) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM s{s}a a JOIN s{s}v v ON v.vec_id = a.vec_id, range(1, {ds + 1}) t(i)
        GROUP BY a.cid, t.i)
    , s{s}c1 AS (SELECT cid, list((s / n) / {scale}.0 ORDER BY pos) AS cv FROM s{s}u GROUP BY cid)""")
    cb_union = "\n      UNION ALL ".join(
        f"SELECT {s} AS sub, cid, cv FROM s{s}c1" for s in range(m)
    )
    sv_union = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, v FROM s{s}v" for s in range(m)
    )
    parts.append(f"""
    , cb AS ({cb_union})
    , sv AS ({sv_union})
    , enc AS (
        SELECT sv.vec_id, sv.sub, cb.cid,
               round(list_sum(list_transform(range(1, {ds + 1}),
                 i -> (sv.v[i] - cb.cv[i]) * (sv.v[i] - cb.cv[i]))), 6) AS d
        FROM sv JOIN cb ON cb.sub = sv.sub)
    , codes AS (
        SELECT e.vec_id, e.sub, min(e.cid) AS code, min(e.d) AS sub_dist
        FROM enc e JOIN (SELECT vec_id, sub, min(d) AS md FROM enc GROUP BY vec_id, sub) b
          ON b.vec_id = e.vec_id AND b.sub = e.sub AND e.d = b.md
        GROUP BY e.vec_id, e.sub)""")
    return "".join(parts)


def _pq_codes_oracle() -> str:
    return f"""
    {_pq_ctes()}
    SELECT vec_id, CAST(sub AS INT) AS sub, code, sub_dist
    FROM codes ORDER BY vec_id, sub
    """


@_register("pq_codes", _pq_codes_oracle())
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: per-subspace reproducible k-means
    codebooks (train) + broadcast argmin code assignment (encode). PQ is
    the memory-bound ANN scale path — a 100 TB embedding corpus's index
    becomes m bytes/vector. The oracle replays training AND encoding
    CTE-for-CTE, possible because the codebook means are
    summation-order-independent."""
    from ..operators.similarity import pq_codebooks, pq_encode

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cb = pq_codebooks(emb, m=4, dim=64, every=64, iters=1)
    return staged_sort(
        pq_encode(emb, cb, m=4, dim=64)
        .select("vec_id", F.col("sub").cast("int").alias("sub"), "code", "sub_dist"),
        "vec_id", "sub",
    )


def _pq_adc_oracle(qevery: int = 25, k: int = 5, ds: int = 16) -> str:
    return f"""
    {_pq_ctes()}
    , q AS (SELECT vec_id AS qid, sub, v AS qv FROM sv WHERE vec_id % {qevery} = 0)
    , lut AS (
        SELECT q.qid, q.sub, cb.cid,
               round(list_sum(list_transform(range(1, {ds + 1}),
                 i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i]))), 6) AS ld
        FROM q JOIN cb ON cb.sub = q.sub)
    , scored AS (
        SELECT l.qid, c.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.code AND c.vec_id <> l.qid
        GROUP BY l.qid, c.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


@_register("pq_adc_topk", _pq_adc_oracle())
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: per-query LUT against the trained
    codebooks, corpus scanned as codes only (never raw vectors), per-query
    top-k. With :func:`pq_codes` this closes the PQ loop —
    train → encode → search — all oracle-replayed."""
    from ..operators.similarity import pq_adc_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cb = _pq_codebook_table(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_adc_topk(codes, cb, queries, k=5, m=4, dim=64)
    return staged_sort(
        out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ),
        "query_id",
        "rank",
    )


def _ivfpq_oracle(
    cevery: int = 64, qevery: int = 25, nprobe: int = 2, k: int = 5,
    m: int = 4, dim: int = 64, qwhere: str | None = None,
) -> str:
    qpred = qwhere or f"vec_id % {qevery} = 0"
    ds = dim // m
    l2 = (
        "round(list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )
    return f"""
    {_pq_ctes(m=m, dim=dim)}
    , coarse AS (SELECT vec_id AS ccid, v AS ccv FROM v WHERE vec_id % {cevery} = 0)
    , vd AS (SELECT v.vec_id, c.ccid,
                    {l2.format(n=dim + 1, a="v.v", b="c.ccv")} AS d
             FROM v, coarse c)
    , vass AS (
        SELECT vd.vec_id, min(vd.ccid) AS list
        FROM vd JOIN (SELECT vec_id, min(d) AS md FROM vd GROUP BY vec_id) t
          ON t.vec_id = vd.vec_id AND vd.d = t.md
        GROUP BY vd.vec_id)
    , q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE {qpred})
    , qd AS (SELECT q.qid, c.ccid,
                    {l2.format(n=dim + 1, a="q.qv", b="c.ccv")} AS d
             FROM q, coarse c)
    , probes AS (
        SELECT qid, ccid AS list FROM (
          SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY d, ccid) AS rn
          FROM qd) WHERE rn <= {nprobe})
    , qs AS (SELECT vec_id AS qid, sub, v AS qv FROM sv WHERE {qpred})
    , lut AS (
        SELECT qs.qid, qs.sub, cb.cid,
               {l2.format(n=ds + 1, a="qs.qv", b="cb.cv")} AS ld
        FROM qs JOIN cb ON cb.sub = qs.sub)
    , cand AS (
        SELECT p.qid, a.vec_id
        FROM vass a JOIN probes p ON a.list = p.list AND a.vec_id <> p.qid)
    , scored AS (
        SELECT ca.qid, ca.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN lut l ON l.qid = ca.qid AND l.sub = c.sub AND l.cid = c.code
        GROUP BY ca.qid, ca.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


@_register("ann_ivfpq_topk", _ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-IVFADC shape): coarse inverted lists bound the
    candidate set, ADC over PQ codes ranks it. The full billion-scale ANN
    composition — coarse quantizer, per-subspace codebooks, code matrix,
    probe tables — each stage oracle-replayed."""
    from ..operators.similarity import centroids_df, ivfpq_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    coarse = centroids_df(emb, every=64)
    cb = _pq_codebook_table(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(emb, queries, coarse, codes, cb, k=5, nprobe=2, m=4, dim=64)
    return staged_sort(
        out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ),
        "query_id",
        "rank",
    )


def _residual_v_cte(cevery: int = 64, citers: int = 2, dim: int = 64) -> str:
    """Opening WITH chain for the residual-PQ oracle: replays the
    k-means-TRAINED coarse quantizer (``_kmeans_cte_chain``, prefixed so
    its CTE names don't collide with the PQ chain's), assigns every vector
    to its coarse list, and defines CTE ``v`` as the residual
    x − coarse_centroid — the rest of :func:`_pq_ctes` replays PQ
    training/encoding over it unchanged.

    The coarse quantizer MUST be trained for residual encoding to pay
    off: against sampled raw-vector "centroids" the residual of a
    near-isotropic embedding has MORE energy than the vector (measured
    1.46× on the sf0.1 synthetic table — in 64-dim a random data point
    is nearly orthogonal to everything), while two Lloyd rounds pull
    mean residual energy to 0.90×.
    """
    l2 = (
        f"round(list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (v0.v[i] - c.ccv[i]) * (v0.v[i] - c.ccv[i]))), 6)"
    )
    return _kmeans_cte_chain(every=cevery, iters=citers, dim=dim, prefix="k") + f"""
    , rcoarse AS (
      SELECT cid AS ccid, cv AS ccv FROM kc{citers}
    ), v0 AS (
      SELECT vec_id, v FROM kv
    ), rvd AS (
      SELECT v0.vec_id, c.ccid, {l2} AS d FROM v0, rcoarse c
    ), rvass AS (
      SELECT d.vec_id, min(d.ccid) AS list
      FROM rvd d JOIN (SELECT vec_id, min(d) AS md FROM rvd GROUP BY vec_id) t
        ON t.vec_id = d.vec_id AND d.d = t.md
      GROUP BY d.vec_id
    ), v AS (
      SELECT v0.vec_id,
             list_transform(range(1, {dim + 1}), i -> v0.v[i] - c.ccv[i]) AS v
      FROM v0 JOIN rvass a ON a.vec_id = v0.vec_id
              JOIN rcoarse c ON c.ccid = a.list
    )"""


def _ivfpq_residual_oracle(
    cevery: int = 64, qevery: int = 25, nprobe: int = 2, k: int = 5,
    m: int = 4, dim: int = 64, every: int = 64, qwhere: str | None = None,
) -> str:
    qpred = qwhere or f"vec_id % {qevery} = 0"
    ds = dim // m
    l2 = (
        "round(list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )
    qrs_union = "\n      UNION ALL ".join(
        f"SELECT qid, list, {s} AS sub, qv[{s * ds + 1}:{(s + 1) * ds}] AS qv"
        " FROM qres"
        for s in range(m)
    )
    return f"""
    {_pq_ctes(m=m, dim=dim, every=every, v_cte=_residual_v_cte(cevery, dim=dim))}
    , q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE {qpred})
    , qd AS (SELECT q.qid, c.ccid,
                    {l2.format(n=dim + 1, a="q.qv", b="c.ccv")} AS d
             FROM q, rcoarse c)
    , probes AS (
        SELECT qid, ccid AS list FROM (
          SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY d, ccid) AS rn
          FROM qd) WHERE rn <= {nprobe})
    , qres AS (
        SELECT p.qid, p.list,
               list_transform(range(1, {dim + 1}), i -> q.qv[i] - c.ccv[i]) AS qv
        FROM probes p JOIN q ON q.qid = p.qid
                      JOIN rcoarse c ON c.ccid = p.list)
    , qrs AS ({qrs_union})
    , lut AS (
        SELECT qrs.qid, qrs.list, qrs.sub, cb.cid,
               {l2.format(n=ds + 1, a="qrs.qv", b="cb.cv")} AS ld
        FROM qrs JOIN cb ON cb.sub = qrs.sub)
    , cand AS (
        SELECT p.qid, p.list, a.vec_id
        FROM rvass a JOIN probes p ON a.list = p.list AND a.vec_id <> p.qid)
    , scored AS (
        SELECT ca.qid, ca.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN lut l ON l.qid = ca.qid AND l.list = ca.list
                  AND l.sub = c.sub AND l.cid = c.code
        GROUP BY ca.qid, ca.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def _materialize_ctes(sql: str, names: list[str]) -> str:
    """Pin the named CTEs as MATERIALIZED. DuckDB inlines CTEs by
    default; here the residual CTE ``v`` is itself a multi-stage chain
    and is referenced once per subspace per training stage, so inlining
    re-evaluates the whole residual derivation ~20× over — 229 s at
    sf0.01, 0.2 s materialized (measured). Results are identical; this
    is purely an oracle-side planning hint."""
    for name in names:
        sql = sql.replace(f" {name} AS (", f" {name} AS MATERIALIZED (")
    return sql


def _ivfpq_residual_oracle_fast(**kw) -> str:
    return _materialize_ctes(
        _ivfpq_residual_oracle(**kw),
        ["kv", "kc2", "rvass", "v0", "v", "cb", "sv", "codes", "qres"],
    )


@_register("ann_ivfpq_residual_topk", _ivfpq_residual_oracle_fast())
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ (FAISS IVFADC's ``by_residual`` default,
    round-6 verdict item #5): PQ codebooks/codes quantize
    x − coarse_centroid(x), and the ADC LUT is built per (query, probed
    list) from the query's residual. Same index budget as
    ``ann_ivfpq_topk`` (m code bytes/vector), materially better recall —
    graded against the raw-vector variant inside ``ann_recall_eval``.
    Reads the staged residual codebook/code tables (stored-index
    contract); training/encoding/search all oracle-replayed."""
    from ..operators.similarity import ivfpq_residual_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    coarse = _trained_centroids_table(spark, sf_dir)
    cb = _pq_residual_codebook_table(spark, sf_dir)
    codes = _pq_residual_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_residual_topk(
        codes, cb, coarse, queries, k=5, nprobe=2, m=4, dim=64
    )
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ).orderBy("query_id", "rank")


def _ann_recall_oracle() -> str:
    exact = _ANN_COSINE_ORACLE.replace("ORDER BY query_id, rank", "")
    lsh = _ann_lsh_oracle().replace("ORDER BY query_id, rank", "")
    ivf = _ann_ivf_oracle().replace("ORDER BY query_id, rank", "")
    ivfpq = _ivfpq_oracle(qwhere="vec_id < 5").replace(
        "ORDER BY query_id, rank", ""
    )
    ivfpq_res = _ivfpq_residual_oracle_fast(qwhere="vec_id < 5").replace(
        "ORDER BY query_id, rank", ""
    )
    return f"""
    WITH exact AS (SELECT query_id, vec_id FROM ({exact})),
         approx AS (
           SELECT 'lsh' AS method, query_id, vec_id FROM ({lsh})
           UNION ALL
           SELECT 'ivf' AS method, query_id, vec_id FROM ({ivf})
           UNION ALL
           SELECT 'ivfpq' AS method, query_id, vec_id FROM ({ivfpq})
           UNION ALL
           SELECT 'ivfpq_res' AS method, query_id, vec_id FROM ({ivfpq_res})
         ),
         em AS (
           SELECT m.method, e.query_id, e.vec_id
           FROM exact e CROSS JOIN (VALUES ('lsh'), ('ivf'), ('ivfpq'),
                                           ('ivfpq_res')) m(method)
         )
    SELECT em.query_id, em.method,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           round(count(a.vec_id) / 5.0, 6) AS recall_at_5
    FROM em
      LEFT JOIN approx a ON a.method = em.method
        AND a.query_id = em.query_id AND a.vec_id = em.vec_id
    GROUP BY em.query_id, em.method
    ORDER BY em.query_id, em.method
    """


@_register("ann_recall_eval", _ann_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of each approximate path (LSH
    buckets, IVF lists, IVF-PQ codes) against the exact brute-force
    ground truth, per query and method. The eval harness every production
    ANN deployment needs before trading recall for latency; all sides
    reuse the engine's own operators. Note the metric asymmetry the eval
    deliberately surfaces: LSH/IVF rank by cosine, IVF-PQ by quantized
    L2 — on unnormalized embeddings its recall includes that
    metric-mismatch cost, exactly what an operator needs to see."""
    from ..operators.similarity import (
        centroids_df,
        ivf_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    lsh = lsh_bucket_topk(emb, queries, dim=64, k=5, nbits=8)
    ivf = ivf_topk(emb, queries, centroids_df(emb, every=25), k=5, nprobe=4)
    ivfpq = ivfpq_topk(
        emb,
        queries,
        centroids_df(emb, every=64),
        _pq_codes_table(spark, sf_dir),
        _pq_codebook_table(spark, sf_dir),
        k=5,
        nprobe=2,
        m=4,
        dim=64,
    )
    ivfpq_res = ivfpq_residual_topk(
        _pq_residual_codes_table(spark, sf_dir),
        _pq_residual_codebook_table(spark, sf_dir),
        _trained_centroids_table(spark, sf_dir),
        queries,
        k=5,
        nprobe=2,
        m=4,
        dim=64,
    )
    approx = (
        lsh.select(F.lit("lsh").alias("method"), "query_id", "vec_id")
        .unionByName(ivf.select(F.lit("ivf").alias("method"), "query_id", "vec_id"))
        .unionByName(
            ivfpq.select(F.lit("ivfpq").alias("method"), "query_id", "vec_id")
        )
        .unionByName(
            ivfpq_res.select(
                F.lit("ivfpq_res").alias("method"), "query_id", "vec_id"
            )
        )
        .withColumn("_hit", F.lit(1))
    )
    methods = spark.createDataFrame(
        [("lsh",), ("ivf",), ("ivfpq",), ("ivfpq_res",)], "method string"
    )
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "vec_id"], "left")
        .groupBy("query_id", "method")
        .agg(
            F.count("_hit").alias("n_hit"),
            F.round(F.count("_hit") / 5.0, 6).alias("recall_at_5"),
        )
        .orderBy("query_id", "method")
    )


@_register(
    "embedding_quantize",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
      FROM embeddings
    ), e AS (
      SELECT vec_id, label, scale,
             CAST(len(v) AS INT) AS n_dims,
             list_transform(v, x -> round(x / scale)) AS qv,
             list_sum(list_transform(
               generate_series(1, len(v)),
               i -> (v[i] - round(v[i] / scale) * scale)
                    * (v[i] - round(v[i] / scale) * scale))) AS sse,
             list_max(list_transform(
               generate_series(1, len(v)),
               i -> abs(v[i] - round(v[i] / scale) * scale))) AS max_err
      FROM q
    )
    SELECT vec_id, label, n_dims,
           round(scale, 9) AS scale,
           CAST(list_max(list_transform(qv, x -> abs(x))) AS INT) AS q_max,
           round(sse / n_dims, 9) AS mse,
           round(max_err, 9)      AS max_abs_err
    FROM e ORDER BY vec_id
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (the 4× storage/bandwidth
    lever every 100 TB embedding store pulls before ANN): scale =
    max|v|/127, q = round(v/scale), plus reconstruction-error stats that
    certify the codec round-trips. Everything is JVM array expressions on
    one scan — map-only, no shuffle, no UDF; the quantized vectors feed
    the same IVF/LSH paths (`operators/similarity.py`) unchanged since
    the dot-product kernels take any numeric array."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # NB: the internal raw scale must NOT share a name with the rounded
    # output column — Spark's lateral column alias resolution would bind
    # the quantization expressions to the *rounded* scale and silently
    # change every error metric (caught by the DuckDB oracle).
    d = emb.select(
        "vec_id",
        "label",
        v.alias("v"),
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("_scale"),
    )
    sc = F.col("_scale")
    err = F.transform(F.col("v"), lambda x: x - F.round(x / sc) * sc)
    return d.select(
        "vec_id",
        "label",
        F.size("v").alias("n_dims"),
        F.round(sc, 9).alias("scale"),
        F.array_max(
            F.transform(
                F.col("v"), lambda x: F.abs(F.round(x / sc)).cast("int")
            )
        ).alias("q_max"),
        F.round(
            F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
            / F.size("v"),
            9,
        ).alias("mse"),
        F.round(
            F.array_max(F.transform(err, lambda e: F.abs(e))), 9
        ).alias("max_abs_err"),
    ).orderBy("vec_id")


# --- BM25 ranked retrieval ---------------------------------------------------

_BM25_TERMS = ["spark", "join", "vector", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle(k: int = 10) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
      FROM documents
    ), d AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM toks
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d
    ), tf AS (
      SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      FROM d, UNNEST(toks) AS u(term)
      WHERE term IN ({terms})
      GROUP BY doc_id, dl, term
    ), dfc AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, round(sum(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1)
             * tf * ({_BM25_K1} + 1)
             / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS bm25
    FROM tf JOIN dfc USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {k}
    """


@_register("bm25_topk", _bm25_oracle())
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a bag-of-terms query: broadcast term dim +
    broadcast corpus stats, the only wide stage is the (doc, query-term)
    partial count (``operators/retrieval.py``)."""
    from ..operators.retrieval import bm25_topk

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return bm25_topk(docs, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)


# --- hybrid retrieval: reciprocal-rank fusion of BM25 and ANN ----------------

_RRF_C = 60


def _rrf_oracle() -> str:
    bm25 = _bm25_oracle(k=20)
    return f"""
    WITH bm AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM ({bm25})
    ), emb AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (SELECT v AS qv FROM emb WHERE doc_id = 0),
    sims AS (
      SELECT e.doc_id,
             list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      FROM emb e CROSS JOIN q WHERE e.doc_id <> 0
    ), ann AS (
      SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r
      FROM (SELECT * FROM sims ORDER BY cosine DESC, doc_id LIMIT 20)
    ), fused AS (
      SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id,
             round(COALESCE(1.0 / ({_RRF_C} + bm.r), 0)
                 + COALESCE(1.0 / ({_RRF_C} + ann.r), 0), 6) AS rrf
      FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """


@_register("hybrid_retrieval_rrf", _rrf_oracle())
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009,
    ``1/(c + rank)``) of the BM25 lexical top-20 and the exact-cosine
    embedding top-20 (query = vector 0). Composes two existing operators
    — each side is its own top-k (k-row results), so the fusion join is
    trivially broadcast; ranks, not scores, cross the fusion boundary,
    which is what makes RRF scale-calibration-free."""
    from ..operators.retrieval import bm25_topk

    docs = fan_out(_t(spark, sf_dir, "documents"))
    bm = bm25_topk(docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)
    w_bm = W.orderBy(F.desc("bm25"), "doc_id")
    bm_r = bm.select("doc_id", F.row_number().over(w_bm).alias("r_bm"))

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    # exact cosine top-20 inline (broadcast 1-row query side, JVM fold)
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot / (norm(F.col("embedding")) * norm(F.col("qv")))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(20)
    )
    w_ann = W.orderBy(F.desc("cosine"), "doc_id")
    ann_r = sims.select("doc_id", F.row_number().over(w_ann).alias("r_ann"))

    fused = (
        bm_r.join(ann_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_C + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_C + F.col("r_ann")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )
    return fused


# --- hard-negative mining ----------------------------------------------------


@_register(
    "hard_negatives",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, e.vec_id AS neg_id,
             round(list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
               AS cosine,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                 e.vec_id) AS rnk
      FROM e JOIN q ON e.label <> q.qlabel
    )
    SELECT qid, neg_id, cosine FROM scored WHERE rnk <= 5
    ORDER BY qid, cosine DESC, neg_id
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 5 most-similar vectors with a DIFFERENT label — similar
    enough to be hard, wrong by supervision. Query side is tiny and
    broadcast; the corpus side computes cosines in one codegen pass and
    a per-query top-k window. No corpus self-join."""
    emb = _t(spark, sf_dir, "embeddings")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", "label", d.alias("v"))
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
        )
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            (dot / (norm(F.col("v")) * norm(F.col("qv")))).alias("_cos"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("_cos"), "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "neg_id", F.round("_cos", 6).alias("cosine"))
        .orderBy("qid", F.desc("cosine"), "neg_id")
    )


def _matryoshka_oracle(dims: tuple = (16, 32), k: int = 5) -> str:
    def topk_cte(name: str, d: int | None) -> str:
        vec = "v" if d is None else f"v[1:{d}]"
        qvec = "qv" if d is None else f"qv[1:{d}]"
        n = 65 if d is None else d + 1
        return f"""
    , {name}_d AS (
      SELECT q.qid, v.vec_id,
             round(
               list_sum(list_transform(range(1, {n}),
                 i -> (q.{qvec})[i] * (v.{vec})[i]))
               / (sqrt(list_sum(list_transform(range(1, {n}),
                    i -> (q.{qvec})[i] * (q.{qvec})[i])))
                  * sqrt(list_sum(list_transform(range(1, {n}),
                      i -> (v.{vec})[i] * (v.{vec})[i])))), 6) AS cosine
      FROM q, v WHERE q.qid <> v.vec_id
    ), {name} AS (
      SELECT qid AS query_id, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, vec_id) AS rank
        FROM {name}_d) WHERE rank <= {k})"""

    union = "\n      UNION ALL ".join(
        f"SELECT 'trunc{d}' AS method, query_id, vec_id FROM t{d}" for d in dims
    )
    values = ", ".join(f"('trunc{d}')" for d in dims)
    ctes = topk_cte("full_t", None) + "".join(
        topk_cte(f"t{d}", d) for d in dims
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 5)
    {ctes}
    , approx AS ({union})
    , em AS (
        SELECT m.method, e.query_id, e.vec_id
        FROM full_t e CROSS JOIN (VALUES {values}) m(method))
    SELECT em.query_id, em.method,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           round(count(a.vec_id) / {k}.0, 6) AS recall_at_{k}
    FROM em LEFT JOIN approx a ON a.method = em.method
       AND a.query_id = em.query_id AND a.vec_id = em.vec_id
    GROUP BY em.query_id, em.method
    ORDER BY em.query_id, em.method
    """


@_register("matryoshka_recall_eval", _matryoshka_oracle())
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval (Kusupati et al. 2022 MRL): recall@5 of
    exact cosine search over the first 16/32 dims against full-64-dim
    ground truth — the measurement that justifies serving truncated
    embeddings (4×/2× memory cut) from an MRL-trained model. Same
    broadcast-query brute-force shape as ``cosine_topk``; truncation is a
    native slice, so the scan cost drops with the dimension."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    approx = None
    for d in (16, 32):
        te = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tq = queries.select(
            "query_id", F.slice("query_vec", 1, d).alias("query_vec")
        )
        t = cosine_topk(te, tq, k=5).select(
            F.lit(f"trunc{d}").alias("method"), "query_id", "vec_id"
        )
        approx = t if approx is None else approx.unionByName(t)
    approx = approx.withColumn("_hit", F.lit(1))
    methods = spark.createDataFrame([("trunc16",), ("trunc32",)], "method string")
    return staged_sort(
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "vec_id"], "left")
        .groupBy("query_id", "method")
        .agg(
            F.count("_hit").alias("n_hit"),
            F.round(F.count("_hit") / 5.0, 6).alias("recall_at_5"),
        ),
        "query_id",
        "method",
    )


_BITEXT_ORACLE = """
WITH src AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
), tgt AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
), sims AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
    round(
      list_dot_product(s.embedding::DOUBLE[], t.embedding::DOUBLE[])
      / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
         * sqrt(list_dot_product(t.embedding::DOUBLE[],
                                 t.embedding::DOUBLE[]))), 6) AS cosine
  FROM src s, tgt t
), ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY src_id
                       ORDER BY cosine DESC, tgt_id) AS fwd_rank,
    row_number() OVER (PARTITION BY tgt_id
                       ORDER BY cosine DESC, src_id) AS bwd_rank
  FROM sims
), micro AS (
  -- integer micro-cosines make every average an exact integer sum:
  -- float summation order can never flip the hash
  SELECT *, CAST(round(cosine * 1000000) AS BIGINT) AS ci FROM ranked
), avgs_src AS (
  SELECT src_id, sum(ci) AS fwd_sum, count(*) AS nf FROM micro
  WHERE fwd_rank <= 4 GROUP BY src_id
), avgs_tgt AS (
  SELECT tgt_id, sum(ci) AS bwd_sum, count(*) AS nb FROM micro
  WHERE bwd_rank <= 4 GROUP BY tgt_id
)
SELECT r.src_id, r.tgt_id, r.cosine,
  round(2.0 * r.ci * a.nf * b.nb
        / (a.fwd_sum * b.nb + b.bwd_sum * a.nf), 6) AS margin
FROM micro r
JOIN avgs_src a USING (src_id)
JOIN avgs_tgt b USING (tgt_id)
WHERE r.fwd_rank = 1 AND r.bwd_rank = 1
  AND 2 * r.ci * a.nf * b.nb > a.fwd_sum * b.nb + b.bwd_sum * a.nf
ORDER BY r.src_id
"""


@_register("bitext_mining_margin", _BITEXT_ORACLE)
def bitext_mining_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER
    recipe): the embedding table splits into two 'languages' (even/odd
    ids), every cross pair scores by cosine, each side's k-NN average
    (k=4) forms the margin denominator, and mined pairs are the MUTUAL
    top-1 matches with ratio margin > 1 — the distance-based criterion
    that beats raw-cosine thresholds because hubness inflates both
    sides' averages. One broadcast cross score + two window ranks + two
    map-side-combinable averages; the documented 100 TB scale path
    swaps the exact score for the capped-LSH kNN (same margins on the
    survivors). The oracle replays score, ranks, averages and the
    mutual filter.

    Plan shape (r13): the N-squared sims subtree is evaluated ONCE. The
    k-NN sums ride the SAME window partitions as the ranks (a
    conditional sum over an unordered frame adds no exchange — guide
    §2.4), replacing the old two groupBy aggregates + two joins back
    onto the pair table, which re-evaluated the cross-cosine subtree
    per consumer. Per-side norms are computed once per vector before
    the cross join (same expression, same operation order — the cosine
    doubles are bit-identical), cutting the per-pair flops to the dot
    product alone."""
    from ..operators.similarity import dot_expr, norm_expr

    src = (
        fan_out(_t(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") % 2 == 0)
        .select(F.col("vec_id").alias("src_id"),
                F.col("embedding").alias("src_vec"))
        .withColumn("src_n", norm_expr(F.col("src_vec").cast("array<double>")))
    )
    tgt = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 2 == 1)
        .select(F.col("vec_id").alias("tgt_id"),
                F.col("embedding").alias("tgt_vec"))
        .withColumn("tgt_n", norm_expr(F.col("tgt_vec").cast("array<double>")))
    )
    sims = src.join(F.broadcast(tgt)).select(
        "src_id",
        "tgt_id",
        F.round(
            dot_expr(
                F.col("src_vec").cast("array<double>"),
                F.col("tgt_vec").cast("array<double>"),
            )
            / (F.col("src_n") * F.col("tgt_n")),
            6,
        ).alias("cosine"),
    )
    wf = W.partitionBy("src_id").orderBy(F.desc("cosine"), F.col("tgt_id"))
    wb = W.partitionBy("tgt_id").orderBy(F.desc("cosine"), F.col("src_id"))
    wf_all = W.partitionBy("src_id")
    wb_all = W.partitionBy("tgt_id")
    # integer micro-cosines: every k-NN average becomes an exact integer
    # sum, so float summation order can never flip the hash
    fwd_ci = F.when(F.col("fwd_rank") <= 4, F.col("ci"))
    bwd_ci = F.when(F.col("bwd_rank") <= 4, F.col("ci"))
    micro = (
        sims.withColumn("ci", F.round(F.col("cosine") * 1_000_000).cast("bigint"))
        .withColumn("fwd_rank", F.row_number().over(wf))
        .withColumn("fwd_sum", F.sum(fwd_ci).over(wf_all))
        .withColumn("nf", F.count(fwd_ci).over(wf_all))
        .withColumn("bwd_rank", F.row_number().over(wb))
        .withColumn("bwd_sum", F.sum(bwd_ci).over(wb_all))
        .withColumn("nb", F.count(bwd_ci).over(wb_all))
    )
    denom = F.col("fwd_sum") * F.col("nb") + F.col("bwd_sum") * F.col("nf")
    margin = 2.0 * F.col("ci") * F.col("nf") * F.col("nb") / denom
    return staged_sort(
        micro.filter((F.col("fwd_rank") == 1) & (F.col("bwd_rank") == 1))
        .filter(2 * F.col("ci") * F.col("nf") * F.col("nb") > denom)
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            F.round(margin, 6).alias("margin"),
        ),
        "src_id",
    )
