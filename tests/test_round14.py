"""Round-14 guards: the r13 verdict's scale-safety fixes stay fixed.

1. `_stream_conf`'s state-partition heuristic must not collapse to the
   8-partition floor when the input path is not statable from the driver's
   local filesystem (object-store URI at cluster scale) — verdict r13,
   "What's wrong" #1.
2. The tmpfs (/dev/shm) streaming-checkpoint default is node-local and
   only safe under a local master — ADVICE r13.
3. The Catalyst constraint-propagation default-off is guarded: the env
   override restores the stock default, and BOTH conf states produce the
   same results on a nullable-key join — verdict r13, "What's wrong" #3.
4. `ngram_jaccard_pairs(shingle_df=...)` rejects frames that are not a
   shingles() output — ADVICE r13.
"""

import os
import warnings

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.plans.streaming import _path_bytes, _stream_conf


_NO_DEFAULT = object()


class _StubConf:
    # RuntimeConfig.get: a missing key raises unless a default (None
    # included) is given
    def __init__(self, init):
        self.d = dict(init)

    def get(self, k, default=_NO_DEFAULT):
        if k in self.d:
            return self.d[k]
        if default is _NO_DEFAULT:
            raise KeyError(k)
        return default

    def set(self, k, v):
        self.d[k] = v

    def unset(self, k):
        self.d.pop(k, None)


class _StubSpark:
    """Just enough session surface for _stream_conf's conf scoping."""

    def __init__(self, master, shuffle_partitions="32"):
        self.conf = _StubConf(
            {"spark.sql.shuffle.partitions": shuffle_partitions}
        )

        class _SC:
            pass

        self.sparkContext = _SC()
        self.sparkContext.master = master

        class _Streams:
            active = []

        self.streams = _Streams()


def test_path_bytes_zero_for_remote_uri():
    # an object-store URI is not statable locally: the probe has no signal
    assert _path_bytes("s3a://bucket/history/events.parquet") == 0


def test_stream_conf_remote_input_keeps_session_width(tmp_path):
    """Probe returns 0 (non-local path) -> session shuffle width, never
    the 8-partition floor (a 100 TB stream on 8 state partitions)."""
    stub = _StubSpark("local[4]", shuffle_partitions="200")
    with _stream_conf(stub, "s3a://bucket/history") as parts:
        assert parts == 200
        assert stub.conf.d["spark.sql.shuffle.partitions"] == "200"
    # restored on exit
    assert stub.conf.d["spark.sql.shuffle.partitions"] == "200"


def test_stream_conf_local_input_sizes_to_state(tmp_path):
    """A small local input keeps the size-derived floor (8 locally)."""
    d = tmp_path / "sf"
    (d / "events.parquet").mkdir(parents=True)
    (d / "events.parquet" / "part-0.parquet").write_bytes(b"x" * 1024)
    stub = _StubSpark("local[4]", shuffle_partitions="200")
    with _stream_conf(stub, str(d)) as parts:
        assert parts == 8


def test_stream_conf_tmpfs_only_under_local_master(tmp_path, monkeypatch):
    """On a non-local master the node-local /dev/shm default must NOT be
    used: a state partition rescheduled onto another executor would lose
    its checkpoint deltas. Spark's default temp-checkpoint handling (no
    checkpointLocation conf) applies instead, unless the deployment
    points SPARK_GRAFT_STREAM_CKPT at shared storage."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT", raising=False)
    stub = _StubSpark("spark://cluster-master:7077")
    # that default is a driver-local temp dir too, so the deployment is warned
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_STREAM_CKPT"):
        with _stream_conf(stub, "s3a://bucket/history"):
            assert "spark.sql.streaming.checkpointLocation" not in stub.conf.d

    local = _StubSpark("local[4]")
    with _stream_conf(local, "s3a://bucket/history"):
        ckpt = local.conf.d.get("spark.sql.streaming.checkpointLocation")
        assert ckpt is not None and ckpt.startswith("/dev/shm")
    assert "spark.sql.streaming.checkpointLocation" not in local.conf.d

    # explicit override wins regardless of master
    shared = str(tmp_path / "shared_ckpt")
    os.makedirs(shared, exist_ok=True)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", shared)
    remote = _StubSpark("spark://cluster-master:7077")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        with _stream_conf(remote, "s3a://bucket/history"):
            assert remote.conf.d[
                "spark.sql.streaming.checkpointLocation"
            ].startswith(shared)


def test_constraint_prop_conf_override_and_nullable_key_join(spark):
    """The session default is off (planning cost, r13 §7); the
    ``extra_conf`` override must restore the stock behavior, and results on a NULLABLE-key join —
    the exact case the default-off could someday hurt — must be identical
    under both states (constraint propagation only adds inferred
    predicates; an inner join already drops null keys either way)."""
    key = "spark.sql.constraintPropagation.enabled"
    assert spark.conf.get(key) == "false"  # session default (r13 §7)

    left = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c"), (None, "d")], "k int, v string"
    )
    right = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (None, 30.0), (3, 40.0)], "k int, w double"
    )

    def run():
        return sorted(
            (r.k, r.v, r.w)
            for r in left.join(right, "k").select("k", "v", "w").collect()
        )

    try:
        off = run()
        spark.conf.set(key, "true")
        on = run()
    finally:
        spark.conf.set(key, "false")
    assert off == on == [(1, "a", 10.0), (2, "c", 20.0)]

    # the extra_conf override reaches a (re)built session's runtime conf
    from ohsome_planet_spark.session import get_spark

    try:
        s2 = get_spark(app_name="constraint_prop_guard", extra_conf={key: "true"})
        assert s2.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "false")


def test_ngram_jaccard_pairs_rejects_wrong_shingle_frame(spark):
    from ohsome_planet_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id bigint, text string"
    )
    bad = docs.select(F.col("doc_id").alias("doc"), "text")
    with pytest.raises(ValueError, match="shingle"):
        ngram_jaccard_pairs(docs, "doc_id", "text", shingle_df=bad)
