"""applyInPandasWithState operators driven through real micro-batches.

Two parquet files + maxFilesPerTrigger=1 force the state to carry across
batch boundaries; trigger(availableNow) drains deterministically into a
memory sink.
"""

import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ohsome_planet_spark.streaming.stateful import dedup_stream, latest_state_stream

SCHEMA = StructType(
    [
        StructField("doc_key", StringType(), True),
        StructField("doc_id", LongType(), True),
        StructField("version", LongType(), True),
    ]
)


def _write_batches(spark, base, batches):
    os.makedirs(base, exist_ok=True)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            f"{base}/b{i}", mode="overwrite"
        )
    # one input dir containing one file per batch
    merged = f"{base}/in"
    os.makedirs(merged, exist_ok=True)
    n = 0
    for i in range(len(batches)):
        for f in sorted(os.listdir(f"{base}/b{i}")):
            if f.endswith(".parquet"):
                os.rename(f"{base}/b{i}/{f}", f"{merged}/{i:03d}_{n}.parquet")
                n += 1
    return merged


def _run_stream(spark, plan_fn, indir, name):
    import time

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    q = (
        plan_fn(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow normally self-terminates once the input is drained, but
    # a ProcessingTimeTimeout operator (dedup_stream with state_ttl) keeps
    # the query alive waiting on wall-clock timers that never fire in-test
    # — previously this burned the full 120 s awaitTermination. Once two
    # consecutive completed micro-batches read zero rows the input is
    # drained and the memory sink is final, so stop the query instead, but
    # only while the source reports no data available: a timer or watermark
    # no-data batch also reads zero rows with a flush still pending. The
    # poll and the final wait share one 120 s deadline.
    deadline = time.time() + 120
    while time.time() < deadline and q.isActive:
        rp = q.recentProgress
        if (
            len(rp) >= 2
            and all(p["numInputRows"] == 0 for p in rp[-2:])
            and not q.status["isDataAvailable"]
        ):
            q.stop()
            break
        time.sleep(0.2)
    q.awaitTermination(max(0.0, deadline - time.time()))
    return spark.sql(f"SELECT * FROM {name}").collect()


class TestDedupStream:
    def test_first_seen_wins_across_batches(self, spark, tmp_path):
        indir = _write_batches(
            spark,
            str(tmp_path / "dedup"),
            [
                [("a", 1, 1), ("b", 2, 1), ("a", 3, 1)],  # batch 0: a dup in-batch
                [("a", 4, 1), ("c", 5, 1)],  # batch 1: a dup cross-batch
            ],
        )
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        rows = _run_stream(
            spark, lambda s: dedup_stream(s, ["doc_key"], state_ttl=None), indir, name
        )
        got = {r.doc_key: r.doc_id for r in rows}
        assert set(got) == {"a", "b", "c"}
        assert got["b"] == 2 and got["c"] == 5
        assert got["a"] in (1, 3)  # first file's rows, never batch 1's id 4
        assert got["a"] != 4

    def test_ttl_state_schema(self, spark, tmp_path):
        """TTL path wires ProcessingTimeTimeout without error."""
        indir = _write_batches(
            spark, str(tmp_path / "ttl"), [[("x", 1, 1)], [("x", 2, 1)]]
        )
        name = f"ttl_{uuid.uuid4().hex[:8]}"
        rows = _run_stream(
            spark,
            lambda s: dedup_stream(s, ["doc_key"], state_ttl="1 hours"),
            indir,
            name,
        )
        assert [r.doc_id for r in rows] == [1]


class TestLatestStateStream:
    def test_version_advances_only(self, spark, tmp_path):
        indir = _write_batches(
            spark,
            str(tmp_path / "latest"),
            [
                [("n1", 10, 2), ("n1", 11, 1), ("n2", 20, 1)],  # in-batch stale v1
                [("n1", 12, 1), ("n2", 21, 3)],  # n1 late v1 suppressed, n2 advances
                [("n2", 22, 3)],  # duplicate version suppressed
            ],
        )
        name = f"latest_{uuid.uuid4().hex[:8]}"
        rows = _run_stream(
            spark,
            lambda s: latest_state_stream(s, ["doc_key"], "version"),
            indir,
            name,
        )
        emitted = sorted((r.doc_key, r.version, r.doc_id) for r in rows)
        assert emitted == [("n1", 2, 10), ("n2", 1, 20), ("n2", 3, 21)]
