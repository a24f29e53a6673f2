"""Query registry: every operator from SURVEY.md §2 surfaced as a
(spark, sf_dir) -> DataFrame callable plus an equivalent DuckDB oracle SQL.

Each query exercises real engine code (operators/functions modules), not
ad-hoc SQL: the point is that the driver's DuckDB comparison certifies the
operator implementations. Column names are aligned between both sides;
floating-point outputs are rounded on both sides so value hashes are stable.

The OSM-domain operators run on histories DERIVED deterministically from the
driver's ``events`` table (TESTDATA.md) — the derivation is part of each
query and mirrored in its oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import hash60_expr, hash60_sql
from ..session import fan_out, scratch
from ..sources.testdata import load_table


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def staged_sort(df: DataFrame, *cols) -> DataFrame:
    """Stage ``df`` once, THEN apply the deterministic output ``orderBy``.

    A global sort plans a range exchange, and ``ShuffleExchangeExec`` with
    ``RangePartitioning`` executes its child TWICE: once as the
    bounds-sampling job and once as the real shuffle write (the sampled
    RDD is not cached). Every gate query ends in an ``orderBy`` for
    deterministic output, so an expensive pipeline above it — Python
    decode seams, temporal merges, LSH joins — runs twice per action.
    Staging through :func:`..session.truncate_lineage` (localCheckpoint
    single-process, reliable ``checkpoint()`` on a cluster with a
    checkpoint dir) materializes the pipeline once; the sampling pass and
    the shuffle both read the staged blocks. Measured on
    ``multimodal_avi_frame_sample`` @ sf0.1: 7.0 → 3.9 s median
    (guide §2.4 — remove shuffle-adjacent recomputation; the sort itself
    is part of the query's contract and stays).

    The staged blocks are registered with the session's cache registry,
    so the bench / correctness harness frees them after each consuming
    action (the same lifecycle every other seam uses)."""
    from ..session import truncate_lineage

    return truncate_lineage(df).orderBy(*cols)


def all_queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(ORACLES)


# --- produce-then-query: shared materialized contributions ------------------
#
# The reference's user contract is produce-then-query: the contribution
# pipeline writes a GeoParquet dataset ONCE and every downstream query
# (snapshots, tag stats, member unnesting — docs/useful_queries.md) reads
# the stored table. Re-deriving the full pipeline inside each downstream
# query (as rounds 1-5 did) models the wrong thing and at 100 TB would
# re-run the planet build per query. The first downstream query in a
# session materializes the stream to parquet; the rest scan it with
# column pruning + predicate pushdown, exactly like a real deployment.


def _produce_then_query(
    spark: SparkSession, sf_dir: str, kind: str, build: Callable[[], DataFrame]
) -> DataFrame:
    return spark.read.parquet(
        scratch(f"stage_{kind}", sf_dir, lambda p: build().write.parquet(p))
    )


def media_fixture(
    spark: SparkSession,
    sf_dir: str,
    payload: Callable[..., bytes],
    n_docs: int | None = None,
    cols: tuple[str, ...] = (),
    name: str = "media",
) -> DataFrame:
    """``(doc_id, <name>)`` over the documents table (the first ``n_docs``
    ids when given): ``payload(doc_id, *cols)`` builds each fixture's
    bytes on the executors (Arrow-batched ``mapInPandas``), so they never
    pass through the driver."""
    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id", *cols)
    if n_docs is not None:
        docs = docs.filter(F.col("doc_id") < n_docs)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out[name] = [
                payload(int(d), *rest)
                for d, *rest in zip(pdf["doc_id"], *(pdf[c] for c in cols))
            ]
            yield out

    return docs.mapInPandas(encode, f"doc_id bigint, {name} binary")


def weekly_snapshots(df: DataFrame) -> DataFrame:
    """Join each ``[valid_from, valid_to)`` row of ``df`` to the weekly
    snapshot instants ``snap_ts`` (2024-01-04 .. 2024-02-01) it is live
    at. The snapshot list is broadcast, so the facts never shuffle for
    the join."""
    snaps = df.sparkSession.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return df.join(
        F.broadcast(snaps),
        (F.col("valid_from") <= F.col("snap_ts"))
        & (F.col("snap_ts") < F.col("valid_to")),
    )


# DuckDB twin of ``weekly_snapshots``' instants, as derived table ``s``.
WEEKLY_SNAPS_SQL = """(SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                    TIMESTAMP '2024-02-01',
                                    INTERVAL 7 DAY)) AS snap_ts) s"""


# 60-bit content hash bucket (0..99) of ``doc_id || ':split'``: < 80 is
# train, < 90 val, the rest test. The same membership on any engine at
# any scale, with no RNG state.
SPLIT_BUCKET_SQL = hash60_sql("CAST(doc_id AS VARCHAR) || ':split'") + " % 100"


SPLIT_SQL = (
    f"CASE WHEN {SPLIT_BUCKET_SQL} < 80 THEN 'train'"
    f" WHEN {SPLIT_BUCKET_SQL} < 90 THEN 'val' ELSE 'test' END"
)


def train_val_test_split() -> Column:
    """``SPLIT_SQL``'s train/val/test label as a Spark column."""
    bucket = F.pmod(
        hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_PANDAS_DTYPES = {"int": "Int32", "bigint": "Int64", "double": "float64"}


def decode_fixture(
    media: DataFrame, decode: Callable[[bytes], tuple], schema: str
) -> DataFrame:
    """Append the columns of ``schema`` (``"name type, ..."`` with int,
    bigint or double types) to ``media``, filled per row from the tuple
    ``decode(media_bytes)`` returns, on the executors."""
    fields = [f.split() for f in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode(bytes(p)) for p in pdf["media"]]
            out = pdf.copy()
            for i, (name, typ) in enumerate(fields):
                out[name] = pd.array(
                    [r[i] for r in rows], dtype=_PANDAS_DTYPES[typ]
                )
            yield out

    return media.mapInPandas(run, "doc_id bigint, media binary, " + schema)
