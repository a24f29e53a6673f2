"""Text-curation rows: quality signals, language id, tokenization,
CCNet/C4/Gopher filters, PII, contamination, packing, mixtures,
language-model scoring and DSIR importance resampling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    FP_MOD, dup_token_fraction_expr, fingerprint_expr, hash60_expr,
    hash60_sql, lang_guess_expr, mean_token_len_expr, ngrams_expr,
    pii_count_expr, punct_ratio_expr, quality_score_expr, redact_pii_expr,
    stopword_ratio_expr, token_count_expr, tokens_expr,
)
from ..session import fan_out

from ._registry import (
    SPLIT_BUCKET_SQL, SPLIT_SQL, _register, _t, staged_sort,
    train_val_test_split,
)


_SHINGLE_SQL = """
  SELECT doc_id AS doc, shingle
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, greatest(len(toks) - {n} + 2, 2)),
             i -> array_to_string(toks[i : i + {n} - 1], ' '))) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
          FROM documents)
  ), UNNEST(grams) AS t(shingle)
  WHERE len(string_split(shingle, ' ')) = {n}
"""


def _lr_oracle(iters: int = 3, lr: float = 0.5) -> str:
    from ..functions.text import STOPWORDS

    k = 5
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    xs = [f"x{j}" for j in range(k)]

    def z(wref: str | None) -> str:
        if wref is None:
            terms = [f"0.0 * {x}" for x in xs]
        else:
            terms = [f"{wref}.w{j} * {xs[j]}" for j in range(k)]
        return " + ".join(terms)

    def grads(name: str, wref: str | None, extra_from: str) -> str:
        p = f"1.0/(1.0+exp(-({z(wref)})))"
        cols = ", ".join(
            f"sum(CAST(round((({p} - y) * {x}) * 1e9) AS BIGINT)) AS g{j}"
            for j, x in enumerate(xs)
        )
        return f"{name} AS (SELECT {cols} FROM f{extra_from})"

    parts = [
        f"""WITH f AS (
      SELECT 1.0 AS x0,
             ln(1.0 + n_chars) - ln(300.0) AS x1,
             len(list_filter(toks, t -> t IN ({stops})))
               / greatest(len(toks), 1) AS x2,
             (n_chars / greatest(len(toks), 1)) / 10.0 - 0.55 AS x3,
             len(toks) / 100.0 - 0.55 AS x4,
             CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
      FROM (SELECT n_chars,
                   list_filter(regexp_split_to_array(lower(text), '\\W+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)"""
    ]
    for t in range(1, iters + 1):
        wprev = None if t == 1 else f"w{t - 1}"
        parts.append(grads(f"g{t}", wprev, "" if t == 1 else f", w{t - 1}"))
        upd = ", ".join(
            (
                f"0.0 - {lr!r} * (g{j} / 1e9) / nn.n AS w{j}"
                if t == 1
                else f"w.w{j} - {lr!r} * (g{j} / 1e9) / nn.n AS w{j}"
            )
            for j in range(k)
        )
        src = f"g{t}, nn" if t == 1 else f"g{t}, w{t - 1} w, nn"
        parts.append(f"w{t} AS (SELECT {upd} FROM {src})")
    wf = f"w{iters}"
    pz = f"1.0/(1.0+exp(-({z('w')})))"
    weight_rows = " UNION ALL ".join(
        f"SELECT 'x{j}' AS feature, round(w.w{j}, 9) AS weight FROM {wf} w"
        for j in range(k)
    )
    return (
        ",\n".join(parts)
        + f"""
    {weight_rows}
    UNION ALL
    SELECT 'accuracy' AS feature,
           round((SELECT avg(CASE WHEN ({pz} >= 0.5) = (y >= 0.5)
                                  THEN 1.0 ELSE 0.0 END)
                  FROM f, {wf} w), 9) AS weight
    ORDER BY feature
    """
    )


@_register("quality_lr_train", _lr_oracle(iters=3, lr=0.5))
def quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING, oracle-replayed: 3 rounds
    of full-batch gradient descent over per-document quality features
    (bias, log length, stopword ratio, mean word length, token count)
    against a synthetic linearly-separable label (n_chars ≥ 300; features
    centered at the boundary so 3 full-batch rounds reach ~98% train
    accuracy — the verified artifact is the TRAINING LOOP, not a
    production classifier).
    The gradient is quantized to int64 per row before the sum (the
    k-means trainer's order-independence trick), so the aggregated
    gradient is exact integer arithmetic under any partitioning and the
    DuckDB oracle replays every round bit-for-bit — weights AND final
    train accuracy. Scale shape: one map-side-combinable agg per round;
    the driver sees 5 integers per round (``operators/curation.py::
    train_logreg``). This is the fastText-style quality-classifier
    training stage of a curation pipeline, Spark-shaped."""
    from ..operators.curation import train_logreg

    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = tokens_expr(F.col("text"))
    feats = docs.select(
        F.lit(1.0).alias("x0"),
        (F.log(F.lit(1.0) + F.col("n_chars")) - F.log(F.lit(300.0))).alias(
            "x1"
        ),
        stopword_ratio_expr(F.col("text")).alias("x2"),
        (
            (F.col("n_chars") / F.greatest(F.size(toks), F.lit(1))) / 10.0
            - 0.55
        ).alias("x3"),
        (F.size(toks) / 100.0 - 0.55).alias("x4"),
        F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("y"),
    )
    w, acc = train_logreg(feats, n_features=5, iters=3, lr=0.5)
    rows = [(f"x{j}", w[j]) for j in range(5)] + [("accuracy", acc)]
    out = spark.createDataFrame(rows, "feature string, weight double")
    return staged_sort(
        out.select(
        "feature", F.round("weight", 9).alias("weight")
    ),
        "feature",
    )


def _chunk_oracle(max_tokens: int = 16, overlap: int = 4) -> str:
    stride = max_tokens - overlap
    return f"""
    WITH base AS (
      SELECT doc_id AS doc, toks, len(toks) AS n
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\W+'),
                               x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) > 0
    )
    SELECT doc, i AS chunk_idx,
           array_to_string(toks[i * {stride} + 1 : i * {stride} + {max_tokens}],
                           ' ') AS chunk_text,
           least(n - i * {stride}, {max_tokens}) AS n_tokens
    FROM base, UNNEST(range(0,
      CAST(ceil(greatest(n - {overlap}, 1) / CAST({stride} AS DOUBLE))
           AS BIGINT))) AS t(i)
    ORDER BY doc, chunk_idx
    """


@_register("document_chunks", _chunk_oracle(max_tokens=16, overlap=4))
def document_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/RAG/long-context prep:
    each document's token stream becomes windows of 16 tokens with 4
    tokens of overlap carried between consecutive chunks
    (``operators/packing.py::chunk_documents``). Pure narrow transform —
    one sequence/slice expression and an explode, zero shuffles — so it
    composes with any downstream embedding stage at full scan speed."""
    from ..operators.packing import chunk_documents

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return chunk_documents(docs, max_tokens=16, overlap=4).orderBy(
        "doc", "chunk_idx"
    )


def _bigram_lm_ctes(doc: str, text: str, k: float) -> str:
    """CTEs ``para`` .. ``np`` over ``docs({doc}, lang, is_train,
    {text})``: the per-language add-k bigram LM trained on the train
    docs, each doc's summed bigram NLL ``ds`` and paragraph count
    ``np``."""
    return rf"""
    para AS (
      SELECT {doc}, lang, is_train, ls[i] AS para
      FROM (SELECT {doc}, lang, is_train,
                   string_split({text}, chr(10)) AS ls FROM docs),
           UNNEST(range(1, len(ls) + 1)) AS u(i)
    ), ptoks AS (
      SELECT {doc}, lang, is_train, para,
             list_filter(regexp_split_to_array(lower(para), '\W+'),
                         x -> x <> '') AS toks
      FROM para
    ), bg0 AS (
      SELECT {doc}, lang, is_train,
             unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
      FROM ptoks
    ), bg AS (
      SELECT {doc}, lang, is_train, (p).w1 AS w1, (p).w2 AS w2 FROM bg0
    ), c2 AS (
      SELECT lang, w1, w2, count(*) AS c2 FROM bg
      WHERE is_train GROUP BY 1, 2, 3
    ), c1 AS (
      SELECT lang, w1, sum(c2) AS c1 FROM c2 GROUP BY 1, 2
    ), v AS (
      SELECT lang, count(DISTINCT w2) AS vocab FROM c2 GROUP BY 1
    ), scored AS (
      SELECT t.{doc},
             -ln((coalesce(p.c2, 0) + {k}) /
                 (coalesce(u.c1, 0) + {k} * v.vocab)) AS nll
      FROM bg t
        LEFT JOIN c2 p ON p.lang = t.lang AND p.w1 = t.w1 AND p.w2 = t.w2
        LEFT JOIN c1 u ON u.lang = t.lang AND u.w1 = t.w1
        JOIN v ON v.lang = t.lang
    ), ds AS (
      SELECT {doc}, CAST(count(*) AS BIGINT) AS n_bigrams, sum(nll) AS s
      FROM scored GROUP BY {doc}
    ), np AS (
      SELECT {doc},
             CAST(count(*) FILTER (WHERE trim(para) <> '') AS BIGINT)
               AS n_paragraphs
      FROM para GROUP BY {doc}"""


def _ccnet_lm_oracle(k: float = 0.5, train_pct: int = 80) -> str:
    split = SPLIT_BUCKET_SQL
    return rf"""
    WITH docs AS (
      SELECT doc_id AS doc, lang,
             concat_ws(chr(10), text,
               CASE WHEN doc_id % 5 = 0
                    THEN 'the the the of of and the end' END,
               CASE WHEN doc_id % 7 = 2
                    THEN 'zq kjw xvv qqp zzkrp wq' END) AS t,
             ({split}) < {train_pct} AS is_train
      FROM documents
    ), {_bigram_lm_ctes("doc", "t", k)}
    ), outq AS (
      SELECT d.doc, d.lang,
             coalesce(np.n_paragraphs, 0) AS n_paragraphs,
             coalesce(ds.n_bigrams, 0) AS n_bigrams,
             round(ds.s / ds.n_bigrams, 6) AS log_ppl,
             round(exp(round(ds.s / ds.n_bigrams, 6)), 4) AS ppl
      FROM docs d LEFT JOIN np ON np.doc = d.doc LEFT JOIN ds ON ds.doc = d.doc
    ), bucketed AS (
      SELECT doc, lang, n_paragraphs, n_bigrams, log_ppl, ppl,
             CASE ntile(3) OVER (PARTITION BY lang ORDER BY log_ppl, doc)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM outq WHERE log_ppl IS NOT NULL
      UNION ALL
      SELECT doc, lang, n_paragraphs, n_bigrams, log_ppl, ppl, 'tail'
      FROM outq WHERE log_ppl IS NULL
    )
    SELECT doc, lang, n_paragraphs, n_bigrams, log_ppl, ppl, bucket,
           bucket <> 'tail' AS keep
    FROM bucketed ORDER BY doc
    """


@_register("ccnet_lm_filter", _ccnet_lm_oracle())
def ccnet_lm_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM-perplexity filter (Wenzek et al. 2020 §4.3) — the
    pipeline half `ccnet_line_dedup` feeds: per-LANGUAGE add-k bigram
    LM fit on the deterministic train split, every doc scored paragraph
    by paragraph (bigrams never cross the newline), then equal
    head/middle/tail thirds per language by mean NLL (ntile over one
    skinny row per doc). The fixture plants a stopword-soup paragraph
    on every 5th doc (pulls log_ppl DOWN — frequent bigrams) and a
    gibberish paragraph on every 7th (pushes it UP — unseen bigrams
    back off to k/(0+k·vocab)), so buckets move on planted evidence.
    The oracle replays split, tokenization, both count tables, the
    smoothing arithmetic, and the ntile bucketing term-for-term."""
    from ..operators.curation import ccnet_lm_filter

    docs = fan_out(_t(spark, sf_dir, "documents"))
    ftxt = F.concat_ws(
        "\n",
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("the the the of of and the end")
        ),
        F.when(F.col("doc_id") % 7 == 2, F.lit("zq kjw xvv qqp zzkrp wq")),
    )
    inp = docs.select("doc_id", "lang", ftxt.alias("ftxt"))
    return staged_sort(ccnet_lm_filter(
        inp, id_col="doc_id", text_col="ftxt", lang_col="lang"
    ), "doc")


def _line_dedup_ctes(src: str) -> str:
    """CTEs ``lns`` .. ``flags`` over ``{src}(doc, t)``: CCNet line dedup
    (normalize, hash, keep each line's corpus-first occurrence)."""
    h = hash60_sql("nrm")
    return rf"""
    lns AS (
      SELECT doc, i - 1 AS pos, ls[i] AS line
      FROM (SELECT doc, string_split(t, chr(10)) AS ls FROM {src}),
           UNNEST(range(1, len(ls) + 1)) AS u(i)
    ),
    nrm AS (
      SELECT doc, pos, line,
             regexp_replace(regexp_replace(lower(trim(line)),
               '\d+', '0', 'g'), '\s+', ' ', 'g') AS nrm
      FROM lns
    ),
    hashed AS (
      SELECT doc, pos, line, nrm,
             CASE WHEN nrm = '' THEN NULL ELSE {h} END AS hh
      FROM nrm
    ),
    firsts AS (
      SELECT hh, min(struct_pack(doc := doc, pos := pos)) AS fkey
      FROM hashed WHERE hh IS NOT NULL GROUP BY hh
    ),
    flags AS (
      SELECT n.doc, n.pos, n.line,
             CASE WHEN n.hh IS NULL THEN TRUE
                  ELSE n.doc = f.fkey.doc AND n.pos = f.fkey.pos END AS keep
      FROM hashed n LEFT JOIN firsts f ON n.hh = f.hh
    )"""


def _ccnet_pipeline_oracle(k: float = 0.5, train_pct: int = 80) -> str:
    """Composed replay of the FULL CCNet pipeline: the line-dedup CTE
    chain (normalization → hash → corpus-first struct-min winner → line
    reassembly) feeding the per-language bigram-LM perplexity chain —
    the LM trains and scores on the DEDUPED text, so one wrong kept
    line anywhere in the corpus shifts count tables, scores, and
    bucket boundaries everywhere."""
    split = SPLIT_BUCKET_SQL
    return rf"""
    WITH rawdocs AS (
      SELECT doc_id AS doc, lang,
             concat_ws(chr(10),
               'Doc ' || CAST(doc_id AS VARCHAR),
               text,
               CASE WHEN doc_id % 3 = 0
                    THEN 'Subscribe to our Newsletter!' END,
               CASE WHEN doc_id % 4 = 1
                    THEN '(c) 2024 All Rights Reserved. Page 1 of 10' END,
               CASE WHEN doc_id % 7 = 2
                    THEN 'zq kjw xvv qqp zzkrp wq' END,
               lang) AS t
      FROM documents
    ),
    {_line_dedup_ctes("rawdocs")},
    dd AS (
      SELECT doc,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(line, chr(10) ORDER BY pos)
                        FILTER (WHERE keep), '') AS text
      FROM flags GROUP BY doc
    ),
    docs AS (
      SELECT dd.doc AS doc_id, r.lang, dd.text, dd.n_lines, dd.n_kept,
             ({split}) < {train_pct} AS is_train
      FROM dd JOIN rawdocs r ON r.doc = dd.doc
    ), {_bigram_lm_ctes("doc_id", "text", k)}
    ), outq AS (
      SELECT d.doc_id, d.lang, d.n_lines, d.n_kept,
             coalesce(np.n_paragraphs, 0) AS n_paragraphs,
             coalesce(ds.n_bigrams, 0) AS n_bigrams,
             round(ds.s / ds.n_bigrams, 6) AS log_ppl,
             round(exp(round(ds.s / ds.n_bigrams, 6)), 4) AS ppl
      FROM docs d LEFT JOIN np ON np.doc_id = d.doc_id
                  LEFT JOIN ds ON ds.doc_id = d.doc_id
    ), bucketed AS (
      SELECT doc_id, lang, n_lines, n_kept, n_paragraphs, n_bigrams,
             log_ppl, ppl,
             CASE ntile(3) OVER (PARTITION BY lang ORDER BY log_ppl, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM outq WHERE log_ppl IS NOT NULL
      UNION ALL
      SELECT doc_id, lang, n_lines, n_kept, n_paragraphs, n_bigrams,
             log_ppl, ppl, 'tail'
      FROM outq WHERE log_ppl IS NULL
    )
    SELECT doc_id AS doc, lang, n_lines, n_kept, n_paragraphs, n_bigrams,
           log_ppl, ppl, bucket, bucket <> 'tail' AS keep
    FROM bucketed ORDER BY doc
    """


@_register("ccnet_pipeline", _ccnet_pipeline_oracle())
def ccnet_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CCNet pipeline under one hash (Wenzek et al. 2020):
    cross-corpus line dedup FIRST (boilerplate collapses to its corpus-
    first occurrence), then the per-language bigram-LM perplexity filter
    trains AND scores on the DEDUPED text. Composition is the test: the
    newsletter/copyright boilerplate survives only in one document, so
    every other document's paragraph set — and through the shared count
    tables, every document's score and the per-language ntile boundaries
    — depends on the dedup stage being exactly right. Output carries
    both stages' evidence (n_lines/n_kept + LM fields)."""
    from ..operators.curation import ccnet_lm_filter
    from ..operators.dedup import line_dedup
    from ..session import truncate_lineage

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
        F.when(F.col("doc_id") % 7 == 2, F.lit("zq kjw xvv qqp zzkrp wq")),
        F.col("lang"),
    )
    # Stage the dedup output ONCE: the LM filter derives paragraph, bigram,
    # count-table and doc-score branches from its input, and the final
    # projection joins the dedup evidence back — without a seam the whole
    # line_dedup DAG is re-embedded per branch (measured: 94 scans / 256
    # exchanges in the body plan; 50 / 100 with the seam; solo noop
    # median 7.0 -> 4.9 s at sf0.1 — guide §3.3, truncate giant plans;
    # §5, localCheckpoint to cut lineage).
    dd = truncate_lineage(line_dedup(
        docs.select("doc_id", ftxt.alias("ftxt")), "doc_id", "ftxt"
    ))
    inp = dd.join(
        docs.select(F.col("doc_id").alias("doc"), "lang"), "doc"
    )
    out = ccnet_lm_filter(inp, id_col="doc", text_col="text",
                          lang_col="lang")
    return staged_sort(
        out.join(dd.select("doc", "n_lines", "n_kept"), "doc")
        .select("doc", "lang", "n_lines", "n_kept", "n_paragraphs",
                "n_bigrams", "log_ppl", "ppl", "bucket", "keep"),
        "doc",
    )


_C4_ORACLE = """
WITH base AS (
  SELECT doc_id AS doc, text, string_split(text, chr(10)) AS lines
  FROM documents
),
k AS (
  SELECT doc, text, lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(trim(l), '\\s+'),
                           w -> w <> '')) >= 30
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM base
)
SELECT doc,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
       (NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(lower(text), '{')
        AND len(kept) >= 1) AS keep_doc
FROM k ORDER BY doc
"""


@_register("c4_line_filter", _C4_ORACLE)
def c4_line_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): per-line
    word-count/marker rules rewrite the document, doc-level markers and a
    kept-line floor decide keep_doc. The corpus is single-line, so the
    gate exercises the doc-level split (terminal-punct rule off,
    30-word floor); the line-granular semantics are refereed by
    tests/test_c4_filter.py on multi-line fixtures. Pure narrow map —
    zero shuffles, full codegen."""
    from ..operators.curation import c4_line_filter

    docs = fan_out(_t(spark, sf_dir, "documents"))
    return c4_line_filter(
        docs,
        "doc_id",
        "text",
        min_words_per_line=30,
        require_terminal_punct=False,
        min_kept_lines=1,
    ).orderBy("doc")


def _contamination_oracle(n: int = 8, mod: int = 97, threshold: float = 0.05) -> str:
    sh = _SHINGLE_SQL.format(n=n)
    return f"""
    WITH sh0 AS (
      SELECT DISTINCT doc, {hash60_sql('shingle')} AS h FROM ({sh})
    ),
    ev AS (SELECT DISTINCT h FROM sh0 WHERE doc % {mod} = 0),
    tr AS (SELECT * FROM sh0 WHERE doc % {mod} <> 0)
    SELECT doc, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(ev.h) AS BIGINT) AS n_overlap,
           round(count(ev.h) / count(*), 6) AS overlap_fraction,
           count(ev.h) / count(*) >= {threshold!r} AS contaminated
    FROM tr LEFT JOIN ev USING (h)
    GROUP BY doc ORDER BY doc
    """


@_register("eval_contamination", _contamination_oracle(n=8, mod=10, threshold=0.05))
def eval_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark-contamination scoring: per TRAIN document,
    the fraction of its distinct token 8-gram shingles that also occur
    anywhere in the EVAL split (docs with doc_id % 10 == 0 stand in for
    a held-out benchmark), plus a ≥5% contamination flag. Complements
    bloom_decontamination (exact-key membership) with the published
    n-gram-overlap protocol. Scale shape: the eval shingle set is
    benchmark-sized (MBs against a 100 TB corpus), so it BROADCASTS —
    the train side is scanned once, map-side joined, and aggregated on
    the doc key; no shuffle of the corpus on the shingle key at all."""
    from ..operators.dedup import shingles

    docs = fan_out(_t(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % 10 == 0
    ev_sh = (
        shingles(docs.filter(is_eval), "doc_id", "text", n=8)
        .select("shingle_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr_sh = shingles(docs.filter(~is_eval), "doc_id", "text", n=8)
    return (
        tr_sh.join(F.broadcast(ev_sh), "shingle_hash", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),
        )
        .select(
            "doc",
            "n_shingles",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "overlap_fraction"
            ),
            (F.col("n_overlap") / F.col("n_shingles") >= 0.05).alias(
                "contaminated"
            ),
        )
        .orderBy("doc")
    )


# ===========================================================================
# text analysis
# ===========================================================================


@_register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks,
             length(text) AS n_chars_total,
             length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nonpunct
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             (n_chars_total - n_nonpunct) / greatest(n_chars_total, 1) AS punct_ratio,
             len(list_filter(toks, x -> list_contains(
                ['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with','for','on'], x)))
               / greatest(len(toks), 1) AS stop_ratio,
             list_sum(list_transform(toks, t -> length(t))) / greatest(len(toks), 1) AS mtl
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6)  AS stopword_ratio,
           round(mtl, 6)         AS mean_token_len,
           round(
             least(n_tokens / 64.0, 1.0) * 0.4
             + least(stop_ratio * 4.0, 1.0) * 0.2
             + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
               * (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END)
             + (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
    FROM m ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, punctuation ratio, stopword ratio,
    mean token length, composite score — all codegen expressions."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count_expr(t).alias("n_tokens"),
        F.round(punct_ratio_expr(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio_expr(t), 6).alias("stopword_ratio"),
        F.round(mean_token_len_expr(t), 6).alias("mean_token_len"),
        quality_score_expr(t).alias("quality"),
    ).orderBy("doc_id")


# the BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
# marks — the piece boundaries every byte-pair encoder starts from. Plain
# POSIX classes so Java regex (Spark) and RE2 (DuckDB) agree exactly.
_BPE_PIECE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@_register(
    "token_counts",
    f"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
             AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_PIECE_RE}')) AS n_bpe_pieces,
           round(strlen(text)
                 / greatest(len(regexp_extract_all(text, '{_BPE_PIECE_RE}')), 1), 6)
             AS bytes_per_piece
    FROM documents ORDER BY doc_id
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace tokens and
    BPE-ish pre-tokenizer pieces per document, plus bytes-per-piece (the
    compression-ratio proxy used to spot boilerplate/binary junk). All
    codegen regexp expressions, no UDFs."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")))
    pieces = F.size(F.regexp_extract_all(t, F.lit(_BPE_PIECE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("n_ws_tokens"),
        pieces.cast("bigint").alias("n_bpe_pieces"),
        F.round(
            F.octet_length(t) / F.greatest(pieces, F.lit(1)), 6
        ).alias("bytes_per_piece"),
    ).orderBy("doc_id")


@_register(
    "lang_id",
    """
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang, greatest(len(toks), 1) AS n,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) / greatest(len(toks), 1) AS s_en,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','auf'], x))) / greatest(len(toks), 1) AS s_de,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','des','que','pas','pour'], x))) / greatest(len(toks), 1) AS s_fr,
        len(list_filter(toks, x -> list_contains(['el','la','los','las','es','una','que','por','con','para'], x))) / greatest(len(toks), 1) AS s_es
      FROM t
    ), g AS (
      SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
             greatest(s_en, s_de, s_fr, s_es) AS best
      FROM s
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN best < 0.05 THEN 'und'
                WHEN s_fr = best THEN 'fr'
                WHEN s_es = best THEN 'es'
                WHEN s_en = best THEN 'en'
                ELSE 'de' END AS guessed_lang
    FROM g ORDER BY doc_id
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-stopword ratios per language; ties
    break toward the lexicographically-largest language code (array_max on
    (score, lang) structs — mirrored in the oracle's CASE order)."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_guess_expr(F.col("text")).alias("guessed_lang"),
    ).orderBy("doc_id")


@_register(
    "doc_fingerprints",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, t -> {hash60_sql('t')} % {FP_MOD})),
             (a, b) -> (a * 31 + b) % {FP_MOD}) AS fingerprint
    FROM t ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint over token hashes."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", fingerprint_expr(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


@_register(
    "vocab_topk",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                x -> x <> '')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT)            AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok GROUP BY token
    ORDER BY df DESC, tf DESC, token
    LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (the first step of building a BPE/
    unigram tokenizer): term frequency + document frequency per token,
    top-100 by df. The 100 TB shape is the canonical word-count — map-side
    partial counts per token, one shuffle on the token key, and a
    distinct-doc count that Spark plans as a two-phase aggregate."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), "token")
        .limit(100)
    )


# The shared per-document quality signals of the quality-pipeline
# oracles, over t(toks, nct, npn), and the quality score over them.
_QUALITY_SIGNALS_SQL = """(nct - npn) / greatest(nct, 1) AS punct_ratio,
             len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with','for','on'], x)))
               / greatest(len(toks), 1) AS stop_ratio,
             list_sum(list_transform(toks, t -> length(t)))
               / greatest(len(toks), 1) AS mtl,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) / greatest(len(toks), 1) AS s_en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','auf'], x))) / greatest(len(toks), 1) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','des','que','pas','pour'], x))) / greatest(len(toks), 1) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','la','los','las','es','una','que','por','con','para'], x))) / greatest(len(toks), 1) AS s_es"""
_QUALITY_SCORE_SQL = """round(
               least(n_tokens / 64.0, 1.0) * 0.4
               + least(stop_ratio * 4.0, 1.0) * 0.2
               + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
                 * (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END)
               + (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2,
             6) AS quality"""


def _quality_pipeline_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks,
             length(text) AS nct,
             length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS npn
      FROM documents
    ), m AS (
      SELECT doc_id, lang, text,
             CAST(len(toks) AS INT) AS n_tokens,
             {_QUALITY_SIGNALS_SQL}
      FROM t
    ), q AS (
      SELECT *,
             {_QUALITY_SCORE_SQL},
             greatest(s_en, s_de, s_fr, s_es) AS best
      FROM m
    ), g AS (
      SELECT *,
             CASE WHEN best < 0.05 THEN 'und'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  WHEN s_en = best THEN 'en'
                  ELSE 'de' END AS guessed_lang,
             row_number() OVER (PARTITION BY {hash60_sql('text')} ORDER BY doc_id) AS rn
      FROM q
    )
    SELECT doc_id, lang, guessed_lang, n_tokens,
           round(punct_ratio, 6) AS punct_ratio, quality
    FROM g
    WHERE rn = 1 AND quality >= 0.4 AND n_tokens BETWEEN 10 AND 5000
      AND punct_ratio < 0.25 AND guessed_lang <> 'und'
    ORDER BY doc_id
    """


@_register("quality_filter_pipeline", _quality_pipeline_oracle())
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end C4-style cleaning pipeline in one plan: exact dedup
    (first doc per content hash), quality-score floor, token-count band,
    punctuation ceiling, and language-ID gate. Everything is codegen
    expressions over one scan plus a single hash-partition window for the
    dedup — the shape a 100 TB curation run wants."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count_expr(t).alias("n_tokens"),
        punct_ratio_expr(t).alias("_punct"),
        quality_score_expr(t).alias("quality"),
        lang_guess_expr(t).alias("guessed_lang"),
        hash60_expr(t).alias("_h"),
    )
    wdup = W.partitionBy("_h").orderBy("doc_id")
    return (
        scored.withColumn("_rn", F.row_number().over(wdup))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("quality") >= 0.4)
            & F.col("n_tokens").between(10, 5000)
            & (F.col("_punct") < 0.25)
            & (F.col("guessed_lang") != "und")
        )
        .select(
            "doc_id",
            "lang",
            "guessed_lang",
            "n_tokens",
            F.round("_punct", 6).alias("punct_ratio"),
            "quality",
        )
        .orderBy("doc_id")
    )


_MIXTURE_BUDGET_ORACLE = """
WITH toks AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                         x -> x <> '')) AS n_tok
  FROM documents
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(substr(source, 4) AS INT) + 1 AS weight
  FROM toks GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(sum(weight) AS BIGINT) AS wsum FROM per
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / total, 6)                         AS natural_frac,
       weight,
       round(weight / wsum, 6)                            AS target_frac,
       round(0.5 * total * weight / wsum, 6)              AS target_tokens,
       round(0.5 * total * weight / wsum / n_tokens, 6)   AS epochs,
       round(least(1.0, 0.5 * total * weight / wsum / n_tokens), 6)
         AS sample_rate
FROM per, tot ORDER BY source
"""


@_register("mixture_token_budget", _MIXTURE_BUDGET_ORACLE)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture PLANNER behind every LLM data recipe: per-source token
    inventory vs target weights → per-source token budget, epochs
    (>1 = upsampling), and the downsampling rate actually applicable.
    One source-keyed aggregation plus a broadcast one-row totals join —
    the planning table is sources-sized however big the corpus; executing
    the plan is what `mixture_resample` does."""
    from ..functions.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens_expr(F.col("text"))).alias("_n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "weight", F.expr("CAST(substring(source, 4) AS INT) + 1")
        )
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("_total"),
        F.sum("weight").cast("bigint").alias("_wsum"),
    )
    target_tok = (
        F.lit(0.5) * F.col("_total") * F.col("weight") / F.col("_wsum")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_total"), 6).alias("natural_frac"),
            "weight",
            F.round(F.col("weight") / F.col("_wsum"), 6).alias("target_frac"),
            F.round(target_tok, 6).alias("target_tokens"),
            F.round(target_tok / F.col("n_tokens"), 6).alias("epochs"),
            F.round(
                F.least(F.lit(1.0), target_tok / F.col("n_tokens")), 6
            ).alias("sample_rate"),
        )
        .orderBy("source")
    )


# ===========================================================================
# training-data curation: deterministic splits, TF-IDF, semantic dedup
# ===========================================================================


@_register(
    "dataset_split",
    f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             {hash60_sql("doc_id::VARCHAR || ':split'")} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6)   AS avg_chars
    FROM b GROUP BY 1, 2 ORDER BY split, lang
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) — the reproducible
    alternative to random splits for training-data curation: a 60-bit
    content hash of the stable id buckets every row, so any engine at any
    scale reproduces the identical membership. Pure map-side bucketing +
    one small aggregation; no RNG state, no shuffle of the documents."""
    docs = _t(spark, sf_dir, "documents")
    split = train_val_test_split()
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


@_register(
    "tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df ON df.token = tf.token, n
    )
    SELECT doc_id, token, tfidf, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
          FROM scored)
    WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction / relevance
    features). Scale shape: ONE tokenize pass — tf is a (doc, token)
    aggregation, df a count window over tf's token partition (no second
    aggregation over the raw token stream, no idf rejoin), then the
    per-doc top-k window. Three shuffles over tf-sized data total; the
    corpus-wide N is a broadcast scalar."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


# ===========================================================================
# training-data curation #2: repetition gates, PII scrubbing, corpus profiling
# ===========================================================================

_TOKS_CTE = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks
      FROM documents
    )
"""


@_register(
    "gopher_repetition",
    _TOKS_CTE
    + """
    , stats AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             round(CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(toks)) / len(toks) END,
                   6) AS dup_token_frac
      FROM tok
    ), ng AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> array_to_string(toks[i:i+1], ' '))) AS ngram
      FROM tok
    ), cnt AS (
      SELECT doc_id, ngram, count(*) AS c FROM ng GROUP BY doc_id, ngram
    ), top AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top_2gram_count
      FROM cnt GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.dup_token_frac,
           coalesce(t.top_2gram_count, 0) AS top_2gram_count,
           round(coalesce(t.top_2gram_count, 0)
                 / greatest(s.n_tokens - 1, 1), 6) AS top_2gram_frac,
           (s.dup_token_frac <= 0.7
            AND coalesce(t.top_2gram_count, 0)
                / greatest(s.n_tokens - 1, 1) <= 0.2) AS keep
    FROM stats s LEFT JOIN top t USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates (Rae et al. 2021 §A1.1): duplicate-token
    fraction and top-2-gram coverage per document, plus the keep/drop
    verdict. The per-document metrics are pure array expressions (codegen,
    no shuffle); the top-n-gram is an explode → two-phase count keyed by
    (doc_id, ngram) — at 100 TB that is one shuffle of n-gram counts (far
    smaller than the corpus after map-side combine), and the doc-level join
    back is AQE-broadcastable per partition of doc stats."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    stats = docs.select(
        "doc_id",
        token_count_expr(t).alias("n_tokens"),
        F.round(dup_token_fraction_expr(t), 6).alias("dup_token_frac"),
    )
    ng = docs.select("doc_id", F.explode(ngrams_expr(t, 2)).alias("ngram"))
    top = (
        ng.groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_2gram_count"))
    )
    denom = F.greatest(F.col("n_tokens") - F.lit(1), F.lit(1))
    frac = F.coalesce(F.col("top_2gram_count"), F.lit(0)) / denom
    return (
        stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_frac",
            F.coalesce(F.col("top_2gram_count"), F.lit(0)).alias(
                "top_2gram_count"
            ),
            F.round(frac, 6).alias("top_2gram_frac"),
            ((F.col("dup_token_frac") <= 0.7) & (frac <= 0.2)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _pii_oracle() -> str:
    pats = {
        "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
        "phone": r"\b\d{3}-\d{4}\b",
    }
    derived = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR)"
        " || '.7 call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    )
    red = "raw"
    for pat, token in (
        (pats["email"], "<EMAIL>"),
        (pats["ip"], "<IP>"),
        (pats["phone"], "<PHONE>"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
    WITH d AS (
      SELECT doc_id, {derived} AS raw FROM documents
    ), r AS (
      SELECT doc_id, raw, {red} AS redacted FROM d
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{pats["email"]}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{pats["ip"]}')) AS INT)    AS n_ips,
           CAST(len(regexp_extract_all(raw, '{pats["phone"]}')) AS INT) AS n_phones,
           CAST(length(redacted) AS INT) AS redacted_len,
           {hash60_sql("redacted")} AS redacted_h
    FROM r ORDER BY doc_id
    """


@_register("pii_redaction", _pii_oracle())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact emails / IPv4s / phone suffixes
    with placeholder tokens. The corpus is synthetic word-soup with no PII,
    so the query first derives a PII-bearing column from doc_id (derivation
    mirrored in the oracle, like the OSM histories derived from events) and
    the redacted output is content-verified via its 60-bit hash. All
    regexp work is JVM codegen on one scan — embarrassingly parallel, the
    ideal 100 TB map-only shape."""
    from ..functions.text import PII_PATTERNS

    docs = fan_out(_t(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    d = docs.select("doc_id", raw.alias("raw"))
    red = redact_pii_expr(F.col("raw"))
    return d.select(
        "doc_id",
        pii_count_expr(F.col("raw"), PII_PATTERNS[0][0]).alias("n_emails"),
        pii_count_expr(F.col("raw"), PII_PATTERNS[1][0]).alias("n_ips"),
        pii_count_expr(F.col("raw"), PII_PATTERNS[2][0]).alias("n_phones"),
        F.length(red).alias("redacted_len"),
        hash60_expr(red).alias("redacted_h"),
    ).orderBy("doc_id")


def _decontamination_oracle() -> str:
    return rf"""
    WITH b AS (
      SELECT doc_id, text,
             {SPLIT_SQL} AS split
      FROM documents
    ), tok AS (
      SELECT doc_id, split,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks
      FROM b WHERE split IN ('train', 'test')
    ), sh AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 4, 0)),
               i -> array_to_string(toks[i:i+4], ' ')))) AS shingle
      FROM tok
    ), train_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE split = 'train'
    ), test_tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM sh WHERE split = 'test' GROUP BY doc_id
    ), hits AS (
      SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      FROM sh s JOIN train_sh t USING (shingle)
      WHERE s.split = 'test' GROUP BY s.doc_id
    )
    SELECT tt.doc_id, tt.n_shingles,
           coalesce(h.n_overlap, 0) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / tt.n_shingles, 6)
             AS contamination,
           (coalesce(h.n_overlap, 0) / tt.n_shingles > 0.8) AS drop_doc
    FROM test_tot tt LEFT JOIN hits h USING (doc_id)
    ORDER BY tt.doc_id
    """


@_register("decontamination", _decontamination_oracle())
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (Brown et al. 2020 appendix C; standard
    in every LLM data pipeline): flag evaluation documents whose 5-gram
    shingles leak from the training split. Reuses dataset_split's
    deterministic hash bucketing, dedupes the train side to DISTINCT
    shingles (the big-but-combinable shuffle), and equi-joins test shingles
    against it — at 100 TB this is the canonical inverted-index shape: no
    all-pairs comparison, one shuffle keyed on the shingle, and the
    test side is typically 100× smaller so AQE broadcasts it."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    split = train_val_test_split()
    sh = (
        docs.select("doc_id", split.alias("split"), "text")
        .filter(F.col("split").isin("train", "test"))
        .select(
            "doc_id",
            "split",
            F.explode(
                F.array_distinct(ngrams_expr(F.col("text"), 5))
            ).alias("shingle"),
        )
    )
    train_sh = sh.filter(F.col("split") == "train").select("shingle").distinct()
    test_sh = sh.filter(F.col("split") == "test")
    totals = test_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        test_sh.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_shingles")
    return staged_sort(
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(frac, 6).alias("contamination"),
            (frac > 0.8).alias("drop_doc"),
        ),
        "doc_id",
    )


def _curation_funnel_oracle() -> str:
    return rf"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks,
             length(text) AS nct,
             length(regexp_replace(text, '[^\w\s]', '', 'g')) AS npn
      FROM documents
    ), m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             {_QUALITY_SIGNALS_SQL}
      FROM t
    ), q AS (
      SELECT *,
             {_QUALITY_SCORE_SQL},
             greatest(s_en, s_de, s_fr, s_es) AS best,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(toks)) / len(toks) END AS dup_frac,
             row_number() OVER (
               PARTITION BY {hash60_sql("text")} ORDER BY doc_id) AS rn
      FROM m
    ), f AS (
      SELECT doc_id,
             (quality >= 0.4 AND n_tokens BETWEEN 10 AND 5000
              AND punct_ratio < 0.25 AND best >= 0.05) AS pass_quality,
             (rn > 1)          AS is_exact_dup,
             (dup_frac > 0.7)  AS is_repetitive,
             {SPLIT_SQL} AS split
      FROM q
    )
    SELECT CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN NOT pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS fail_quality,
           CAST(sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT)  AS exact_dups,
           CAST(sum(CASE WHEN is_repetitive THEN 1 ELSE 0 END) AS BIGINT) AS repetitive,
           CAST(sum(CASE WHEN pass_quality AND NOT is_exact_dup
                          AND NOT is_repetitive THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN pass_quality AND NOT is_exact_dup
                          AND NOT is_repetitive AND split = 'train'
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_train,
           CAST(sum(CASE WHEN pass_quality AND NOT is_exact_dup
                          AND NOT is_repetitive AND split = 'val'
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_val,
           CAST(sum(CASE WHEN pass_quality AND NOT is_exact_dup
                          AND NOT is_repetitive AND split = 'test'
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_test
    FROM f
    """


@_register("curation_funnel", _curation_funnel_oracle())
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``curate`` CLI's funnel report as an oracle-verified query
    (`operators/curation.py::flag_documents`): every gate becomes a flag
    column computed in one scan + one dedup window, and the whole funnel
    reduces to a single aggregation row. This certifies the CLI's exact
    keep/drop arithmetic, not just its pieces."""
    from ..operators.curation import flag_documents

    docs = fan_out(_t(spark, sf_dir, "documents"))
    flagged = flag_documents(docs)
    kept = F.col("keep")
    return flagged.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col("pass_quality")).cast("long")).alias("fail_quality"),
        F.sum(F.col("is_exact_dup").cast("long")).alias("exact_dups"),
        F.sum(F.col("is_repetitive").cast("long")).alias("repetitive"),
        F.sum(kept.cast("long")).alias("kept"),
        *[
            F.sum((kept & (F.col("split") == s)).cast("long")).alias(
                f"kept_{s}"
            )
            for s in ("train", "val", "test")
        ],
    )


def _unigram_logprob_oracle() -> str:
    return rf"""
    WITH b AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks,
             {SPLIT_SQL} AS split
      FROM documents
    ), train_tok AS (
      SELECT unnest(toks) AS token FROM b WHERE split = 'train'
    ), vocab AS (
      SELECT token, count(*) AS c FROM train_tok GROUP BY token
    ), n AS (
      SELECT sum(c) AS total, count(*) AS v FROM vocab
    ), test_tok AS (
      SELECT doc_id, unnest(toks) AS token FROM b WHERE split = 'test'
    ), scored AS (
      SELECT t.doc_id,
             -ln((coalesce(vb.c, 0) + 1.0) / (n.total + n.v + 1.0)) AS nll
      FROM test_tok t LEFT JOIN vocab vb USING (token) CROSS JOIN n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(nll), 6) AS avg_nll,
           round(max(nll), 6) AS max_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


@_register("unigram_logprob_scores", _unigram_logprob_oracle())
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filtering (Wenzek et al. 2020), unigram form: fit
    add-one-smoothed token frequencies on the train split, score every
    test-split document by mean negative log-likelihood — the screen
    that drops gibberish the rule-based gates miss. Plan shape at
    100 TB: one word-count shuffle for the vocab (map-side combined),
    the two scalar normalizers ride along as a broadcast cross join of
    one row, and scoring is a token→vocab equi-join + per-doc agg; the
    vocab (~10^7 rows) broadcasts, so the corpus-sized side never
    shuffles twice."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    split = train_val_test_split()
    tok = docs.select(
        "doc_id",
        split.alias("split"),
        F.explode(tokens_expr(F.col("text"))).alias("token"),
    )
    vocab = (
        tok.filter(F.col("split") == "train")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = vocab.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        tok.filter(F.col("split") == "test")
        .join(vocab, "token", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("total") + F.col("v") + F.lit(1.0))
                )
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
        )
        .orderBy("doc_id")
    )


@_register(
    "corpus_drift",
    r"""
    WITH tok AS (
      SELECT lang,
             unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS token
      FROM documents
    ), lc AS (
      SELECT lang, token, count(*) AS c FROM tok GROUP BY lang, token
    ), tc AS (
      SELECT token, sum(c) AS c_all FROM lc GROUP BY token
    ), v AS (
      SELECT count(*) AS vocab, sum(c_all) AS n_all FROM tc
    ), ln_ AS (
      SELECT lang, sum(c) AS n_lang FROM lc GROUP BY lang
    ), grid AS (
      SELECT l.lang, t.token, t.c_all, coalesce(x.c, 0) AS c_lang
      FROM (SELECT DISTINCT lang FROM lc) l
      CROSS JOIN tc t
      LEFT JOIN lc x ON x.lang = l.lang AND x.token = t.token
    )
    SELECT g.lang,
           CAST(ln_.n_lang AS BIGINT) AS n_tokens,
           round(sum(
             ((g.c_lang + 1.0) / (ln_.n_lang + v.vocab))
             * ln(((g.c_lang + 1.0) / (ln_.n_lang + v.vocab))
                  / ((g.c_all + 1.0) / (v.n_all + v.vocab)))
           ), 6) AS kl_vs_corpus
    FROM grid g JOIN ln_ USING (lang) CROSS JOIN v
    GROUP BY g.lang, ln_.n_lang ORDER BY g.lang
    """,
)
def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitoring: add-one-smoothed KL divergence of
    each language slice's token distribution against the whole corpus —
    the alarm a continuously-ingesting pipeline raises when one source
    starts feeding off-distribution text. Plan shape: one token-count
    shuffle (map-side combined), then a slices×vocab grid built by
    cross-joining the DISTINCT slice keys (a handful of rows, broadcast)
    with the vocab table — the corpus-sized token stream is never
    shuffled a second time."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select(
        "lang", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    lc = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    tc = lc.groupBy("token").agg(F.sum("c").alias("c_all"))
    v = tc.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("c_all").alias("n_all")
    )
    n_lang = lc.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    langs = lc.select("lang").distinct()
    grid = (
        F.broadcast(langs)
        .crossJoin(tc)
        .join(lc, ["lang", "token"], "left")
        .select(
            "lang", "c_all", F.coalesce(F.col("c"), F.lit(0)).alias("c_lang")
        )
    )
    p = (F.col("c_lang") + F.lit(1.0)) / (F.col("n_lang") + F.col("vocab"))
    q = (F.col("c_all") + F.lit(1.0)) / (F.col("n_all") + F.col("vocab"))
    return staged_sort(
        grid.join(F.broadcast(n_lang), "lang")
        .crossJoin(F.broadcast(v))
        .groupBy("lang", "n_lang")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"))
        .select(
            "lang",
            F.col("n_lang").alias("n_tokens"),
            "kl_vs_corpus",
        ),
        "lang",
    )


# --- sequence packing (concat-and-chunk training-data assignment) -----------

_PACK_SEQ_LEN = 512
_PACK_SHARDS = 16


def _packing_base_sql() -> str:
    return f"""
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_PACK_SHARDS} AS shard,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
      FROM documents
    """


def _packing_oracle() -> str:
    return f"""
    WITH t AS ({_packing_base_sql()}),
    o AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM t
    )
    SELECT doc_id, shard, n_tokens, start_off,
           start_off // {_PACK_SEQ_LEN} AS first_seq,
           greatest(start_off + n_tokens - 1, start_off) // {_PACK_SEQ_LEN} AS last_seq,
           greatest(start_off + n_tokens - 1, start_off) // {_PACK_SEQ_LEN}
             - start_off // {_PACK_SEQ_LEN} AS n_splits,
           start_off % {_PACK_SEQ_LEN} AS seq_offset
    FROM o ORDER BY doc_id
    """


@_register("sequence_packing", _packing_oracle())
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing assignment: which fixed-length training
    sequence(s) each document occupies. Shard-local prefix sums (hash
    shard = the write-parallelism unit), so the window partitions by
    shard — no global sort at any scale."""
    from ..operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(
        docs, seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


@_register(
    "packing_stats",
    f"""
    WITH t AS ({_packing_base_sql()})
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(n_tokens) / {_PACK_SEQ_LEN}.0) AS BIGINT) AS n_sequences,
           CAST(CASE WHEN sum(n_tokens) % {_PACK_SEQ_LEN} = 0
                      AND sum(n_tokens) > 0
                     THEN {_PACK_SEQ_LEN}
                     ELSE sum(n_tokens) % {_PACK_SEQ_LEN} END AS BIGINT)
             AS tail_fill,
           CAST(sum(CASE WHEN
                 greatest(start_off + n_tokens - 1, start_off) // {_PACK_SEQ_LEN}
                   > start_off // {_PACK_SEQ_LEN} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_split_docs
    FROM (
      SELECT *,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM t
    ) GROUP BY shard ORDER BY shard
    """,
)
def packing_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing yield: sequences emitted, tail fill, boundary-
    split document count — the numbers a tokenizer-sharding job reports."""
    from ..operators.packing import pack_sequences, packing_stats

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(docs, seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS)
    return packing_stats(packed, seq_len=_PACK_SEQ_LEN).orderBy("shard")


# --- Bloom-filter decontamination --------------------------------------------

_BLOOM_M = 1 << 20
_BLOOM_K = 3


def _bloom_decon_oracle() -> str:
    from ..operators.bloom import positions_sql

    pos = positions_sql("h", _BLOOM_M, _BLOOM_K)
    return rf"""
    WITH b AS (
      SELECT doc_id, text,
             {SPLIT_SQL} AS split
      FROM documents
    ), tok AS (
      SELECT doc_id, split,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks
      FROM b WHERE split IN ('train', 'test')
    ), sh AS (
      SELECT DISTINCT doc_id, split, {hash60_sql('shingle')} AS h
      FROM (
        SELECT doc_id, split,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(toks) - 3, 2)),
                 i -> array_to_string(toks[i : i + 4], ' ')))) AS shingle
        FROM tok
      ) WHERE len(string_split(shingle, ' ')) = 5
    ), bloom AS (
      SELECT DISTINCT unnest({pos}) AS pos FROM sh WHERE split = 'test'
    ), probe AS (
      SELECT doc_id, h FROM sh WHERE split = 'train'
    ), slots AS (
      SELECT doc_id, h, unnest({pos}) AS pos FROM probe
    ), hitc AS (
      SELECT s.doc_id, s.h, count(*) AS nh
      FROM slots s JOIN bloom USING (pos) GROUP BY 1, 2
    ), flagged AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
      FROM hitc WHERE nh = {_BLOOM_K} GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM probe GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(f.n_flagged, 0) AS n_flagged,
           round(COALESCE(f.n_flagged, 0) / t.n_shingles, 6) AS flagged_fraction
    FROM tot t LEFT JOIN flagged f USING (doc_id)
    ORDER BY t.doc_id
    """


@_register("bloom_decontamination", _bloom_decon_oracle())
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout decontamination through a real Bloom filter: the benchmark
    (test-split) shingles fold into ≤ m set-bit positions, broadcast, and
    the big training side is probed map-side — the scale inversion of the
    exact ``decontamination`` join (which shuffles every training shingle).
    False positives only, never false negatives: the flagged set is a
    certified superset of the exact overlap (asserted in
    tests/test_bloom.py). Same split, tokenization, and hash60 bridge as
    the exact query, so the two are directly comparable."""
    from ..operators.bloom import build_bloom, probe_bloom
    from ..operators.dedup import shingles

    docs = fan_out(_t(spark, sf_dir, "documents"))
    split = train_val_test_split()
    tagged = docs.select("doc_id", "text", split.alias("split"))
    test_sh = shingles(
        tagged.filter(F.col("split") == "test"), "doc_id", "text", n=5
    ).select("shingle_hash").distinct()
    bloom = build_bloom(test_sh, "shingle_hash", m=_BLOOM_M, k=_BLOOM_K)
    probe = shingles(
        tagged.filter(F.col("split") == "train"), "doc_id", "text", n=5
    )
    probed = probe_bloom(probe, "shingle_hash", bloom, m=_BLOOM_M, k=_BLOOM_K)
    return (
        probed.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("maybe_member").cast("bigint")).alias("n_flagged"),
        )
        .withColumn(
            "flagged_fraction",
            F.round(F.col("n_flagged") / F.col("n_shingles"), 6),
        )
        .orderBy("doc_id")
    )


# --- temperature-weighted domain mixture resampling --------------------------

_MIX_ALPHA = 0.5      # temperature: 1 = proportional, 0 = uniform over sources
_MIX_TARGET = 200.0   # token-free doc budget for the mixed corpus


def _mixture_oracle() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR) || ':mix'")
    return f"""
    WITH n AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n_docs FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs,
             pow(n_docs, {_MIX_ALPHA}) / sum(pow(n_docs, {_MIX_ALPHA})) OVER () AS weight
      FROM n
    ), r AS (
      SELECT source, n_docs, weight,
             least(1.0, {_MIX_TARGET} * weight / n_docs) AS rate
      FROM w
    ), s AS (
      SELECT d.source, count(*) FILTER (
               WHERE ({h}) % 1000000 < r.rate * 1000000) AS n_sampled
      FROM documents d JOIN r USING (source) GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           round(r.weight, 6) AS weight,
           round(r.rate, 6) AS rate,
           CAST(s.n_sampled AS BIGINT) AS n_sampled
    FROM r JOIN s USING (source)
    ORDER BY r.source
    """


@_register("mixture_resample", _mixture_oracle())
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (the multilingual-sampling rule
    of Conneau & Lample 2019, standard for balancing web-corpus sources):
    per-source weight ∝ count^alpha, per-source sampling rate capped at 1,
    membership decided by a deterministic hash bucket so the sample is
    reproducible at any scale and cluster size. Source dimension is tiny:
    the rate table broadcasts, the doc side is map-only until the final
    per-source count."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # scalar denominator via broadcast 1-row crossJoin (not an unpartitioned
    # window: that plans a single-partition WindowExec even on a tiny dim)
    denom = n.agg(F.sum(F.pow("n_docs", _MIX_ALPHA)).alias("_denom"))
    rates = (
        n.crossJoin(F.broadcast(denom))
        .withColumn("weight", F.pow("n_docs", _MIX_ALPHA) / F.col("_denom"))
        .withColumn(
            "rate", F.least(F.lit(1.0), _MIX_TARGET * F.col("weight") / F.col("n_docs"))
        )
        .drop("_denom")
    )
    bucket = F.pmod(
        hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(1000000),
    )
    sampled = (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.sum((bucket < F.col("rate") * 1000000).cast("bigint")).alias("n_sampled")
        )
    )
    return (
        rates.join(sampled, "source")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round("weight", 6).alias("weight"),
            F.round("rate", 6).alias("rate"),
            "n_sampled",
        )
        .orderBy("source")
    )


# --- overlapping document chunking (RAG indexing shape) ----------------------

_CHUNK_LEN = 64
_CHUNK_STRIDE = 48  # 16-token overlap


@_register(
    "doc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id,
             CAST(i - 1 AS BIGINT) // {_CHUNK_STRIDE} AS chunk_idx,
             array_to_string(toks[i : i + {_CHUNK_LEN} - 1], ' ') AS chunk
      FROM t, UNNEST(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STRIDE})) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
           {hash60_sql('chunk')} AS chunk_hash
    FROM c WHERE chunk <> ''
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (the RAG-indexing prep step):
    64-token windows at a 48-token stride, one output row per chunk with
    its token count and content hash. Pure codegen — sequence/slice/
    transform expressions, a map-only plan with no shuffle at all until
    the presentation sort."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = tokens_expr(F.col("text"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_CHUNK_STRIDE)
    )
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            ((i - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, i, _CHUNK_LEN)).alias("chunk"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk")
        .filter(F.col("chunk") != "")
        .select(
            "doc_id",
            "chunk_idx",
            F.size(F.split(F.col("chunk"), " ")).cast("bigint").alias("n_tokens"),
            hash60_expr(F.col("chunk")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --- distributed BPE merge training ------------------------------------------

_BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    """One BPE round as CTEs over s{r-1}(word, freq, symbols):
    pair counts → deterministic argmax → leftmost-greedy merge.

    Greedy-in-SQL: a match may overlap its neighbor only when
    left = right (proof: matches at i and i+1 force symbols[i+1] to be
    both right and left), so overlap chains are runs of consecutive
    matches; leftmost-greedy = take even offsets within each run
    (gaps-and-islands)."""
    prev = f"s{r - 1}"
    return f"""
    p{r} AS (
      SELECT symbols[i] AS l, symbols[i + 1] AS r, sum(freq) AS pair_count
      FROM {prev}, UNNEST(range(1, len(symbols))) AS u(i)
      GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT l, r, pair_count FROM p{r}
      ORDER BY pair_count DESC, l, r LIMIT 1
    ),
    e{r} AS (
      SELECT word, freq, i, symbols[i] AS sym,
             COALESCE(symbols[i] = b.l AND i < len(symbols)
                      AND symbols[i + 1] = b.r, FALSE) AS m
      FROM {prev} CROSS JOIN b{r} b,
           UNNEST(range(1, len(symbols) + 1)) AS u(i)
    ),
    g{r} AS (
      SELECT *, CASE WHEN m THEN i - row_number()
                 OVER (PARTITION BY word, m ORDER BY i) END AS isl
      FROM e{r}
    ),
    t{r} AS (
      SELECT *, CASE WHEN m THEN
                 (i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0
               ELSE FALSE END AS take
      FROM g{r}
    ),
    s{r} AS (
      SELECT word, freq,
             list(CASE WHEN take THEN b.l || b.r ELSE sym END ORDER BY i)
               AS symbols
      FROM (
        SELECT *, COALESCE(
          lag(take) OVER (PARTITION BY word ORDER BY i), FALSE) AS consumed
        FROM t{r}
      ) CROSS JOIN b{r} b
      WHERE NOT consumed
      GROUP BY word, freq
    )"""


def _bpe_oracle() -> str:
    rounds = ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    finals = " UNION ALL ".join(
        f"""SELECT {r} AS round, b{r}.l AS left, b{r}.r AS right,
            CAST(b{r}.pair_count AS BIGINT) AS pair_count,
            CAST((SELECT sum(freq * len(symbols)) FROM s{r}) AS BIGINT)
              AS n_symbols_after
            FROM b{r}"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH w AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    s0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_filter(string_split(word, ''), x -> x <> '') AS symbols
      FROM w GROUP BY word
    ),
    {rounds}
    SELECT * FROM ({finals}) ORDER BY round
    """


@_register("bpe_merges", _bpe_oracle())
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of distributed BPE training (Sennrich et al. 2016)
    over the corpus word-frequency table: per round, the argmax adjacent
    pair (count-desc, lexicographic tiebreak) and the corpus-weighted
    symbol total after the leftmost-greedy merge — a checksum that every
    occurrence was rewritten. Spark merges via a native array fold; the
    oracle replays each round with the gaps-and-islands greedy trick
    (``operators/bpe.py``)."""
    from ..operators.bpe import bpe_train, word_freqs

    docs = fan_out(_t(spark, sf_dir, "documents"))
    recs = bpe_train(word_freqs(docs), rounds=_BPE_ROUNDS)
    return staged_sort(
        spark.createDataFrame(
        [
            (r["round"], r["left"], r["right"], r["pair_count"], r["n_symbols_after"])
            for r in recs
        ],
        "round int, left string, right string, pair_count bigint, n_symbols_after bigint",
    ),
        "round",
    )


def _bpe_encode_oracle() -> str:
    rounds = ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    return f"""
    WITH dwords AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    w AS (SELECT word FROM dwords),
    s0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             list_filter(string_split(word, ''), x -> x <> '') AS symbols
      FROM w GROUP BY word
    ),
    {rounds}
    SELECT doc_id,
           CAST(count(*) AS BIGINT)            AS n_words,
           CAST(sum(len(word)) AS BIGINT)      AS n_chars,
           CAST(sum(len(symbols)) AS BIGINT)   AS n_tokens,
           round(sum(len(word)) * 1.0 / sum(len(symbols)), 6) AS compression
    FROM dwords JOIN s{_BPE_ROUNDS} USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@_register("bpe_encode_stats", _bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges: encode every document with the
    final symbol table and report per-doc token count and compression.
    The symbol table IS the tokenizer — vocab-sized, broadcast — so
    encoding a 100 TB corpus is a map-side join of the word stream
    against it plus one doc-keyed rollup; the training loop
    (:func:`bpe_train_with_symbols`) runs once, not per document."""
    from ..functions.text import tokens_expr
    from ..operators.bpe import bpe_train_with_symbols, word_freqs

    docs = fan_out(_t(spark, sf_dir, "documents"))
    _, syms = bpe_train_with_symbols(word_freqs(docs), rounds=_BPE_ROUNDS)
    dwords = docs.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("word")
    )
    vocab = syms.select("word", F.size("symbols").alias("_n_sym"))
    return (
        dwords.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("_n_sym").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.length("word")) / F.sum("_n_sym"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


def _bigram_logprob_oracle(k: float = 0.5) -> str:
    return rf"""
    WITH b AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks,
             {SPLIT_SQL} AS split
      FROM documents
    ), bg0 AS (
      SELECT doc_id, split,
             unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
      FROM b
    ), bg AS (
      SELECT doc_id, split, (p).w1 AS w1, (p).w2 AS w2 FROM bg0
    ), c2 AS (
      SELECT w1, w2, count(*) AS c FROM bg WHERE split = 'train' GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, sum(c) AS c FROM c2 GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT w2) AS vocab FROM c2
    ), scored AS (
      SELECT t.doc_id,
             -ln((coalesce(p.c, 0) + {k}) /
                 (coalesce(u.c, 0) + {k} * v.vocab)) AS nll
      FROM bg t
        LEFT JOIN c2 p ON p.w1 = t.w1 AND p.w2 = t.w2
        LEFT JOIN c1 u ON u.w1 = t.w1
        CROSS JOIN v
      WHERE t.split = 'test'
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 6) AS avg_nll,
           round(max(nll), 6) AS max_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


def _dsir_oracle(buckets: int = 1024) -> str:
    h = hash60_sql("w1 || ' ' || w2")
    return rf"""
    WITH b AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> x <> '') AS toks
      FROM documents
    ), bg0 AS (
      SELECT doc_id, lang = 'en' AS is_target,
             unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p
      FROM b
    ), bg AS (
      SELECT doc_id, is_target,
             {h} % {buckets} AS bucket
      FROM (SELECT doc_id, is_target, (p).w1 AS w1, (p).w2 AS w2 FROM bg0)
    ), counts AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS raw_c,
             CAST(count(*) FILTER (WHERE is_target) AS BIGINT) AS tgt_c
      FROM bg GROUP BY bucket
    ), totals AS (
      SELECT sum(raw_c) AS r_total, sum(tgt_c) AS t_total FROM counts
    ), ratios AS (
      SELECT bucket,
             ln((tgt_c + 0.5) / (t.t_total + 0.5 * {buckets}))
             - ln((raw_c + 0.5) / (t.r_total + 0.5 * {buckets})) AS lr
      FROM counts, totals t
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(r.lr), 6) AS importance,
           round(avg(r.lr), 6) AS importance_per_ngram
    FROM bg JOIN ratios r USING (bucket)
    GROUP BY bg.doc_id ORDER BY bg.doc_id
    """


def _dsir_weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body of the DSIR family: per-doc (n_bigrams, UNROUNDED
    importance sum) — consumed by the weights query (rounded projection)
    and by the resampler (Gumbel keys)."""
    buckets = 1024
    docs = fan_out(_t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        tokens_expr(F.col("text")).alias("toks"),
    )
    bg = base.select(
        "doc_id",
        "is_target",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
                " ELSE array() END"
            )
        ).alias("ngram"),
    ).select(
        "doc_id",
        "is_target",
        F.pmod(hash60_expr(F.col("ngram")), F.lit(buckets)).alias("bucket"),
    )
    counts = bg.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.sum(F.col("is_target").cast("bigint")).alias("tgt_c"),
    )
    totals = counts.agg(
        F.sum("raw_c").alias("r_total"), F.sum("tgt_c").alias("t_total")
    )
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_c") + 0.5) / (F.col("t_total") + 0.5 * buckets))
            - F.log((F.col("raw_c") + 0.5) / (F.col("r_total") + 0.5 * buckets))
        ).alias("lr"),
    )
    return (
        bg.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lr").alias("_importance_raw"),
            F.avg("lr").alias("_ipn_raw"),
        )
    )


@_register("dsir_importance_weights", _dsir_oracle())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hashed word-bigram
    features (1024 buckets), bag-of-ngrams log-likelihood ratio between
    the target domain (lang=en) and the raw corpus, summed per document
    — the score a curation pipeline resamples against to shift a raw
    crawl toward a target distribution. Scale shape: the bucket count
    table is fixed-size (1024 rows) and BROADCAST back onto the n-gram
    stream; the only corpus-sized exchange is the per-doc aggregation."""
    return (
        _dsir_weights_df(spark, sf_dir)
        .select(
            "doc_id",
            "n_bigrams",
            F.round("_importance_raw", 6).alias("importance"),
            F.round("_ipn_raw", 6).alias("importance_per_ngram"),
        )
        .orderBy("doc_id")
    )


def _dsir_resample_oracle(m: int = 150, temp: float = 2.0) -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR) || ':dsir'")
    u = f"(({h}) + 1.0) / 1152921504606846977.0"
    body = _dsir_oracle()
    cut = body.index("SELECT bg.doc_id,")
    return (
        body[:cut]
        + f""", weights AS (
      SELECT bg.doc_id, sum(r.lr) AS imp
      FROM bg JOIN ratios r USING (bucket)
      GROUP BY bg.doc_id
    ), keyed AS (
      -- gkey rounded to 9dp BEFORE ordering (round-before-hash convention):
      -- imp is a float aggregate sum whose low bits depend on partial-agg
      -- order, so near-tie unrounded keys could flip selection between
      -- engines/runs
      SELECT doc_id, imp,
             round(imp / {temp!r} + (-ln(-ln({u}))), 9) AS gkey
      FROM weights
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS INT) AS rank,
           round(imp, 6) AS importance
    FROM keyed
    ORDER BY gkey DESC, doc_id
    LIMIT {m}
    """
    )


@_register("dsir_resample", _dsir_resample_oracle())
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 §2): select M
    documents without replacement with probability ∝ exp(importance/T)
    via the Gumbel top-k trick — key = importance/T + Gumbel(0,1), take
    the top M. The Gumbel noise is a deterministic hash-derived uniform
    (u = (hash60(doc_id)+1)/(2^60+1)), so the draw is reproducible and
    SQL-replayable. Scale shape: keys are computed map-side on the
    weights table; the only coordination is the top-M (TakeOrdered — no
    full sort shuffle)."""
    m, temp = 150, 2.0
    w = _dsir_weights_df(spark, sf_dir)
    u = (
        hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":dsir")))
        + F.lit(1.0)
    ) / F.lit(1152921504606846977.0)
    # gkey rounded to 9dp before ordering: the importance sum's low bits are
    # partial-aggregation-order dependent, so the unrounded key could flip
    # near-tie selections run-to-run / engine-to-engine
    keyed = w.select(
        "doc_id",
        F.col("_importance_raw").alias("imp"),
        F.round(
            F.col("_importance_raw") / F.lit(temp) + (-F.log(-F.log(u))), 9
        ).alias("gkey"),
    )
    from pyspark.sql import Window as _W

    # TakeOrdered first (no full-sort shuffle at corpus scale), THEN the
    # global rank window — it only ever sees the M selected rows
    top = keyed.orderBy(F.desc("gkey"), F.col("doc_id")).limit(m)
    return (
        top.withColumn(
            "rank",
            F.row_number().over(_W.orderBy(F.desc("gkey"), F.col("doc_id"))).cast("int"),
        )
        .select("doc_id", "rank", F.round("imp", 6).alias("importance"))
        .orderBy("rank")
    )


@_register("bigram_logprob_scores", _bigram_logprob_oracle())
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM perplexity filtering — the KenLM-shaped upgrade of
    ``unigram_logprob_scores``: add-k-smoothed bigram probabilities fit
    on the train split, test documents scored by mean negative
    log-likelihood. Plan shape at 100 TB: bigram construction is a
    native array transform (no shuffle), the count tables are two
    map-side-combined aggs, scoring is one equi-join per table plus the
    scalar vocab broadcast — the corpus-sized side shuffles once."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    split = train_val_test_split()
    base = docs.select(
        "doc_id", split.alias("split"), tokens_expr(F.col("text")).alias("toks")
    )
    bg = base.select(
        "doc_id",
        "split",
        F.explode(
            # guard: sequence(1, n-1) counts DOWN when n < 2 and toks[i]
            # then throws INVALID_ARRAY_INDEX; short docs emit no bigrams
            # (matching the oracle's empty range(1, len(toks)))
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                " ELSE array() END"
            )
        ).alias("bgr"),
    ).select("doc_id", "split", F.col("bgr.w1").alias("w1"), F.col("bgr.w2").alias("w2"))
    c2 = (
        bg.filter(F.col("split") == "train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c2.agg(F.countDistinct("w2").alias("vocab"))
    k = 0.5
    scored = (
        bg.filter(F.col("split") == "test")
        .join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("vocab"))
                )
            ).alias("nll"),
        )
    )
    return staged_sort(
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
        ),
        "doc_id",
    )


def _vocab_coverage_oracle(top_k: int = 500) -> str:
    return rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS token
      FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token LIMIT {top_k})
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id ORDER BY t.doc_id
    """


@_register("vocab_coverage", _vocab_coverage_oracle())
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document OOV rate against the
    corpus top-500 token vocabulary (the sizing statistic that decides a
    tokenizer's vocab budget). The vocab is orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition top-k + driver merge of k rows,
    NO global sort), then broadcasts; the corpus side aggregates once."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(500)
        .select("token", F.lit(True).alias("_inv"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_inv").isNull().cast("bigint")).alias("n_oov"),
            F.round(
                F.sum(F.col("_inv").isNull().cast("bigint")) / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )
