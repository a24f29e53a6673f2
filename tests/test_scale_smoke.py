"""Scale-fidelity smoke for the contribution flagships (round-6 verdict
item #2): pin one point of SCALE.md's scaling curve each round.

The sf0.1 derived way/relation inputs are self-replicated ~10× with
disjoint id offsets (same history shapes, 10× the parents), materialized
to parquet (so both scales enter the pipeline as plain scans — a 10-way
union INPUT plan would inflate the exchange count by plan-branch
arithmetic, not data), and the full pipelines run at 1× and 10×. Two assertions:

- wall grows SUB-QUADRATICALLY (a quadratic operator would be ~100×; the
  bound is generous because sf0.1 walls are driver-bound and ±50% noisy);
- the physical plan gains NO new exchange — no extra shuffle or global
  sort appears when the data grows (fewer is fine: the planner may pick
  more broadcasts from input statistics), i.e. the plan shape is
  scale-invariant and only task counts change.

The measured points are recorded in SCALE_SMOKE.json under pytest's
basetemp (the run prints its path); copying it over the repo-root
SCALE_SMOKE.json refreshes the committed curve.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.operators.contributions import (
    relation_contribution_events,
    synthesize_contributions,
    way_contribution_events,
)

from conftest import SCALE_SMOKE_RECORD

SF_DIR = "/root/testdata/sf0.1"
K = 10
NODE_OFF = 100_000_000
WAY_OFF = 1_000_000
REL_OFF = 10_000

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.1 testdata not present"
)


def _replicate(df, k, id_off, refs_off=None, members_off=None):
    parts = []
    for i in range(k):
        d = df.withColumn("osm_id", F.col("osm_id") + F.lit(i * id_off))
        if refs_off is not None:
            off = i * refs_off
            d = d.withColumn("refs", F.transform("refs", lambda r: r + F.lit(off)))
        if members_off is not None:
            off = i * members_off
            d = d.withColumn(
                "members",
                F.transform(
                    "members",
                    lambda m: F.struct(
                        m["type"].alias("type"),
                        (m["id"] + F.lit(off)).alias("id"),
                        m["role"].alias("role"),
                    ),
                ),
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _stage(df, path):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


# Default runs per point: 1 (round-14). The r9 verdict required n>=3
# medians when SURVEY quoted these numbers as a measured curve; the r13
# verdict requires the whole suite to finish inside the driver's verify
# budget, and the ~30 scale tests' timed portions were ~6 minutes of it.
# The ASSERTION here is structural — ratio < 30 vs a quadratic blowup's
# ~100 — so single draws (±50% noise -> worst-case ~3x ratio error on a
# typically ~2-7x true ratio) cannot flip it; n_runs is recorded in
# SCALE_SMOKE.json so curve readers see the sample size, and
# SCALE_SMOKE_RUNS=3 restores the median protocol for curve-quality runs.
N_RUNS = int(os.environ.get("SCALE_SMOKE_RUNS", "1"))


def _median(xs):
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def _run_median(spark, mk_df):
    """Median wall over N_RUNS full rebuild+execute cycles. The builder
    callable runs INSIDE the timer (streaming queries and driver-looped
    iterations execute during the call, not at the sink) and a fresh
    frame is built per run so checkpoint staging can't warm later runs."""
    from ohsome_planet_spark.plans.run import run_one

    runs = []
    for _ in range(N_RUNS):
        rec = run_one(spark, "scale_smoke", lambda spark, sf_dir: mk_df(), None)
        assert rec.ok, rec.error
        runs.append(round(rec.wall_s, 2))
    return _median(runs), runs


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return plan.count("Exchange")


def _assert_plan_scale_invariant(spark, build, args1, args10):
    """Plan-shape contract: growing the data must not add exchanges to the
    ALGORITHM. Join-strategy flips (broadcast at 1x -> shuffle join at 10x
    once cached-input statistics exceed the broadcast threshold) are
    size-ADAPTIVE planning, not shape regressions — so the comparison is
    made with auto-broadcast disabled, pinning strategy across scales."""
    from ohsome_planet_spark.session import release_cached

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n10 = _exchanges(build(*args10))
        n1 = _exchanges(build(*args1))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        release_cached()
    assert n10 <= n1, f"new exchange appeared at scale ({n1} -> {n10})"


@pytest.fixture(scope="session")
def record(tmp_path_factory, pytestconfig):
    """Record one measured point per flagship in SCALE_SMOKE.json under
    pytest's basetemp; the terminal summary prints its path. The committed
    SCALE_SMOKE.json at the repo root changes only by a deliberate copy of
    that file, never as a side effect of a test run."""
    path = tmp_path_factory.getbasetemp() / "SCALE_SMOKE.json"
    pytestconfig.stash[SCALE_SMOKE_RECORD] = path

    def write(entry: dict) -> None:
        data = json.loads(path.read_text()) if path.exists() else {}
        data[entry.pop("name")] = entry
        path.write_text(json.dumps(data, indent=1, sort_keys=True))

    return write


def test_contrib_ways_scales_subquadratically(spark, tmp_path, record):
    from ohsome_planet_spark.plans.osm_derive import _derived_way_inputs

    ways, nodes = _derived_way_inputs(spark, SF_DIR)
    ways = _stage(ways, str(tmp_path / "w1"))
    nodes = _stage(nodes, str(tmp_path / "n1"))
    w10 = _stage(_replicate(ways, K, WAY_OFF, refs_off=NODE_OFF), str(tmp_path / "w10"))
    n10 = _stage(_replicate(nodes, K, NODE_OFF), str(tmp_path / "n10"))

    build = lambda w, n: synthesize_contributions(way_contribution_events(w, n))
    _assert_plan_scale_invariant(spark, build, (ways, nodes), (w10, n10))

    t1, runs1 = _run_median(spark, lambda: build(ways, nodes))
    t10, runs10 = _run_median(spark, lambda: build(w10, n10))
    ratio = t10 / max(t1, 0.05)
    record({"name": "contrib_ways", "wall_1x": round(t1, 2),
            "wall_10x": round(t10, 2), "runs_1x": runs1, "runs_10x": runs10,
            "n_runs": N_RUNS, "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"10x input cost {ratio:.1f}x wall — super-linear blowup"


def test_contrib_relations_scales_subquadratically(spark, tmp_path, record):
    from ohsome_planet_spark.plans.osm_derive import (
        _derived_relations,
        _derived_way_inputs,
    )

    ways, nodes = _derived_way_inputs(spark, SF_DIR)
    rels = _derived_relations(spark, SF_DIR)
    ways = _stage(ways, str(tmp_path / "w1"))
    nodes = _stage(nodes, str(tmp_path / "n1"))
    rels = _stage(rels, str(tmp_path / "r1"))
    w10 = _stage(_replicate(ways, K, WAY_OFF, refs_off=NODE_OFF), str(tmp_path / "w10"))
    n10 = _stage(_replicate(nodes, K, NODE_OFF), str(tmp_path / "n10"))
    r10 = _stage(_replicate(rels, K, REL_OFF, members_off=WAY_OFF), str(tmp_path / "r10"))

    build = lambda r, w, n: synthesize_contributions(
        relation_contribution_events(r, w, n)
    )
    _assert_plan_scale_invariant(spark, build, (rels, ways, nodes), (r10, w10, n10))

    t1, runs1 = _run_median(spark, lambda: build(rels, ways, nodes))
    t10, runs10 = _run_median(spark, lambda: build(r10, w10, n10))
    ratio = t10 / max(t1, 0.05)
    record({"name": "contrib_relations", "wall_1x": round(t1, 2),
            "wall_10x": round(t10, 2), "runs_1x": runs1, "runs_10x": runs10,
            "n_runs": N_RUNS, "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"10x input cost {ratio:.1f}x wall — super-linear blowup"


# --- round-8: generic replicated-sf-dir smokes ------------------------------
#
# The remaining verdict queries (knn self-join, dedup clustering, bloom
# decontamination, streaming dedup) read their inputs straight from the
# sf_dir tables, so the 10x point is pinned by materializing a replicated
# sf_dir: documents/embeddings/events x10 with disjoint ids. Document text
# is letter-rotated per replica so replicas are NOT near-duplicates of
# each other (otherwise pair GENERATION inside LSH bands grows
# quadratically as a property of the data, not the operator). Centroid
# sampling (every=25) scales the IVF list count with the corpus — the
# documented scale path, so Sum(|list|^2) stays ~ N * listsize.

_ROT = "etaoinshr"


def _rotate(s: str, i: int) -> str:
    return s[i % len(s):] + s[: i % len(s)]


def _build_scaled_sfdir(spark, src: str, dst: str, k: int) -> str:
    from ohsome_planet_spark.sources.testdata import load_table

    os.makedirs(dst, exist_ok=True)
    docs = load_table(spark, src, "documents")
    emb = load_table(spark, src, "embeddings")
    ev = load_table(spark, src, "events")
    d_parts, e_parts, v_parts = [], [], []
    for i in range(k):
        d_parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            .withColumn("text", F.translate("text", _ROT, _rotate(_ROT, i)))
        )
        e_parts.append(
            # deterministic per-replica perturbation: exact copies would
            # all land in the same IVF list (10x denser lists -> the
            # Sum(|list|^2) blow-up is then a data artifact, not the
            # operator's scaling)
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, j: x
                    + F.lit(0.05 * i) * F.sin(j.cast("double") + F.lit(float(i))),
                ),
            )
        )
        v_parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        )
    for name, parts in (
        ("documents", d_parts), ("embeddings", e_parts), ("events", v_parts)
    ):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    return dst


_SCALED_DIRS: dict[int, str] = {}


@pytest.fixture(scope="module")
def scaled_dirs(spark, tmp_path_factory):
    """1x and 10x sf dirs, both Spark-written (plan parity)."""
    if not _SCALED_DIRS:
        root = tmp_path_factory.mktemp("scale_sf")
        _SCALED_DIRS[1] = _build_scaled_sfdir(spark, SF_DIR, str(root / "x1"), 1)
        _SCALED_DIRS[10] = _build_scaled_sfdir(spark, SF_DIR, str(root / "x10"), K)
    return _SCALED_DIRS


def _smoke_query(record, spark, name: str, scaled_dirs, check_exchanges: bool):
    from ohsome_planet_spark.plans.queries import QUERIES

    fn = QUERIES[name]
    if check_exchanges:
        _assert_plan_scale_invariant(
            spark, fn, (spark, scaled_dirs[1]), (spark, scaled_dirs[10])
        )
    t1, runs1 = _run_median(spark, lambda: fn(spark, scaled_dirs[1]))
    t10, runs10 = _run_median(spark, lambda: fn(spark, scaled_dirs[10]))
    ratio = t10 / max(t1, 0.05)
    record({"name": name, "wall_1x": round(t1, 2),
            "wall_10x": round(t10, 2), "runs_1x": runs1, "runs_10x": runs10,
            "n_runs": N_RUNS, "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"10x input cost {ratio:.1f}x wall — super-linear blowup"


def test_knn_self_join_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "knn_self_join", scaled_dirs, check_exchanges=True)


def test_knn_self_join_lsh_scales(spark, scaled_dirs, record):
    # the linear-scale path (multi-table sign-LSH) in its SCALE
    # configuration: occupancy-constant signature width (lsh_nbits_for),
    # the knob that bounds within-bucket pair work as N grows. At fixed
    # nbits the same operator measured 51x at 10x (Σ|bucket|² = N²/2^nbits
    # is quadratic) — which is exactly why the width must scale; the gate
    # row pins correctness at a fixed width instead.
    from ohsome_planet_spark.operators.similarity import (
        knn_self_join_lsh,
        lsh_nbits_for,
    )
    from ohsome_planet_spark.sources.testdata import load_table

    def run(sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        return knn_self_join_lsh(
            emb, k=3, nbits=lsh_nbits_for(emb.count()), ntables=2,
            bucket_cap=32,
        )

    _assert_plan_scale_invariant(
        spark, lambda s, d: run(d), (spark, scaled_dirs[1]),
        (spark, scaled_dirs[10]),
    )
    t1, runs1 = _run_median(spark, lambda: run(scaled_dirs[1]))
    t10, runs10 = _run_median(spark, lambda: run(scaled_dirs[10]))
    ratio = t10 / max(t1, 0.05)
    record({"name": "knn_self_join_lsh", "wall_1x": round(t1, 2),
            "wall_10x": round(t10, 2), "runs_1x": runs1, "runs_10x": runs10,
            "n_runs": N_RUNS, "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"10x input cost {ratio:.1f}x wall — super-linear blowup"


def test_knn_self_join_lsh_pair_counts_linear(spark, scaled_dirs, tmp_path, record):
    """The round-10 verdict's structural fix: the ~linear claim for the
    multi-table LSH self-join is stated from EXACT candidate-pair counts
    (noise-free integers) at 1x/10x/30x, not wall-clock. Under the
    occupancy-constant width policy (lsh_nbits_for), Σ|bucket|² per table
    must grow ~linearly with N; a fixed width would grow it
    quadratically (N²/2^nbits)."""
    from ohsome_planet_spark.operators.similarity import (
        lsh_candidate_pair_counts,
        lsh_nbits_for,
    )
    from ohsome_planet_spark.sources.testdata import load_table

    # 30x point: embeddings-only replica set (the other tables aren't
    # read by this operator), same perturbation as _build_scaled_sfdir
    emb1 = load_table(spark, scaled_dirs[1], "embeddings")
    parts = []
    for i in range(30):
        parts.append(
            emb1.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, j: x
                    + F.lit(0.05 * i)
                    * F.sin(j.cast("double") + F.lit(float(i))),
                ),
            )
        )
    out30 = parts[0]
    for p in parts[1:]:
        out30 = out30.unionByName(p)
    p30 = str(tmp_path / "emb30.parquet")
    out30.write.mode("overwrite").parquet(p30)
    emb30 = spark.read.parquet(p30)

    CAP = 32
    points = {}
    for label, emb in (
        ("1x", emb1),
        ("10x", load_table(spark, scaled_dirs[10], "embeddings")),
        ("30x", emb30),
    ):
        n = emb.count()
        nbits = lsh_nbits_for(n)
        uncapped = lsh_candidate_pair_counts(emb, nbits=nbits, ntables=2)
        capped = lsh_candidate_pair_counts(
            emb, nbits=nbits, ntables=2, bucket_cap=CAP
        )
        points[label] = {
            "n": n,
            "nbits": nbits,
            "pairs_uncapped": sum(t["pairs"] for t in uncapped),
            "max_bucket_uncapped": max(t["max_bucket"] for t in uncapped),
            "pairs": sum(t["pairs"] for t in capped),
            "max_bucket": max(t["max_bucket"] for t in capped),
            "per_table": capped,
        }
    p1, p10, p30c = (points[s]["pairs"] for s in ("1x", "10x", "30x"))
    n1, n10, n30 = (points[s]["n"] for s in ("1x", "10x", "30x"))
    record({"name": "knn_self_join_lsh_pair_counts", "k": K,
            "bucket_cap": CAP, "points": points,
            "pairs_per_vec": {
                s: round(points[s]["pairs"] / points[s]["n"], 3)
                for s in points
            },
            "pairs_per_vec_uncapped": {
                s: round(points[s]["pairs_uncapped"] / points[s]["n"], 3)
                for s in points
            }})
    # STRUCTURAL bound, not a trend: the sub-bucket split caps pair work
    # at ~N·cap per table regardless of data clustering, so per-vector
    # density is bounded by an N-INDEPENDENT ceiling (~ntables·2·cap —
    # 2x headroom covers binomial occupancy wobble around the cap).
    # Measured: density SATURATES toward the ceiling as hot buckets hit
    # the cap (17.7 -> 36 -> 52 per vec at cap=32), while the uncapped
    # counts blow up 17.7 -> 282 -> 2806 — the exact super-linearity the
    # round-10 verdict suspected, now visible and fixed in integers.
    ceiling = 2 * 2 * CAP
    for s in points:
        assert points[s]["pairs"] <= ceiling * points[s]["n"], points[s]
    # saturation, not growth: the 30x/10x density ratio must be tame
    # even where 10x/1x still climbs toward the ceiling
    assert (p30c / n30) / (p10 / n10) <= 1.8, points
    # and emphatically sub-quadratic vs the fixed-width counterfactual
    assert p30c <= 0.25 * (n30 / n1) ** 2 * max(p1, 1), points


def test_bloom_decontamination_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "bloom_decontamination", scaled_dirs, check_exchanges=True)


def test_dedup_clusters_scales(spark, scaled_dirs, record):
    # the fn runs driver-looped CC rounds internally — wall only
    _smoke_query(record, spark, "dedup_clusters", scaled_dirs, check_exchanges=False)


def test_exact_substr_dedup_scales(spark, scaled_dirs, record):
    # ExactSubstr removal: (doc, pos, span_hash) frame is linear in
    # corpus tokens; replicas are letter-rotated so cross-replica spans
    # differ and duplicated-span density stays 1x-like
    _smoke_query(record, spark, "exact_substr_dedup", scaled_dirs, check_exchanges=True)


def test_warc_html_extract_scales(spark, scaled_dirs, record):
    # WARC walk + HTML extraction: pure narrow mapInPandas chain
    _smoke_query(record, spark, "warc_html_extract", scaled_dirs, check_exchanges=True)


def test_semantic_dedup_canonical_scales(spark, scaled_dirs, record):
    # capped LSH -> exact cosine -> driver-looped CC rounds (lineage
    # truncation changes plan shape round-to-round) — wall only
    _smoke_query(
        record, spark, "semantic_dedup_canonical", scaled_dirs,
        check_exchanges=False,
    )


def test_exact_substr_rewrite_scales(spark, scaled_dirs, record):
    # heavier than the dedup it wraps: the segment frame explodes ~2x
    # (word segments + separators), then gaps-and-islands reassembly
    _smoke_query(
        record, spark, "exact_substr_rewrite", scaled_dirs, check_exchanges=True
    )


def test_cc_ingest_envelope_invariance_scales(spark, scaled_dirs, record):
    # two full WARC ingests (plain + enveloped) joined for the hash
    # equality — the narrow mapInPandas chains dominate
    _smoke_query(
        record, spark, "cc_ingest_envelope_invariance", scaled_dirs,
        check_exchanges=True,
    )


def test_ccnet_line_dedup_scales(spark, scaled_dirs, record):
    _smoke_query(
        record, spark, "ccnet_line_dedup", scaled_dirs, check_exchanges=True
    )


def test_ccnet_pipeline_scales(spark, scaled_dirs, record):
    # the full composition: line dedup -> per-language LM -> ntile; the
    # corpus-sized stages are all map-side-combinable aggs + equi-joins
    _smoke_query(
        record, spark, "ccnet_pipeline", scaled_dirs, check_exchanges=True
    )


def test_ccnet_lm_filter_scales(spark, scaled_dirs, record):
    # per-language bigram LM + ntile bucketing; count tables are
    # map-side-combined aggs, the ntile window sorts one row per doc
    _smoke_query(
        record, spark, "ccnet_lm_filter", scaled_dirs, check_exchanges=True
    )


def test_url_dedup_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "url_dedup", scaled_dirs, check_exchanges=True)


def test_ccnet_line_dedup_blank_heavy(spark, scaled_dirs, tmp_path, record):
    """The blank-line bypass is the 100-TB skew story: every blank line
    normalizes to '' and would land in ONE shuffle partition. On a
    corpus where half of all lines are blank, the bypass keeps the 10x
    ratio in the same sub-quadratic band as the normal corpus — and the
    counts prove the blanks never entered the dedup frame."""
    from ohsome_planet_spark.operators.dedup import line_dedup
    from ohsome_planet_spark.sources.testdata import load_table

    paths = {}
    for k, src in ((1, scaled_dirs[1]), (10, scaled_dirs[10])):
        docs = load_table(spark, src, "documents").select(
            "doc_id",
            # every second line blank: text lines interleaved with ''
            F.concat_ws(
                "\n",
                F.col("text"),
                F.lit(""),
                F.concat(F.lit("tail "), F.col("doc_id").cast("string")),
                F.lit(""),
            ).alias("text"),
        )
        p = str(tmp_path / f"blank{k}.parquet")
        docs.write.mode("overwrite").parquet(p)
        paths[k] = p

    def mk(k):
        inp = spark.read.parquet(paths[k])
        return line_dedup(inp, "doc_id", "text")

    t1, runs1 = _run_median(spark, lambda: mk(1))
    t10, runs10 = _run_median(spark, lambda: mk(10))
    ratio = t10 / max(t1, 0.05)
    # structural assertion: blank lines bypass the dedup frame entirely
    inp = spark.read.parquet(paths[1])
    from ohsome_planet_spark.operators.dedup import line_dedup as _ld
    out = _ld(inp, "doc_id", "text")
    row = out.agg(
        F.sum("n_lines").alias("nl"), F.sum("n_kept").alias("nk")
    ).first()
    # blanks (half the corpus lines) are always kept — never deduped
    assert row.nk >= row.nl / 2
    record({"name": "ccnet_line_dedup_blank_heavy",
            "wall_1x": round(t1, 2), "wall_10x": round(t10, 2),
            "runs_1x": runs1, "runs_10x": runs10, "n_runs": N_RUNS,
            "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"blank-heavy 10x cost {ratio:.1f}x"


def test_streaming_dedup_scales(spark, scaled_dirs, record):
    # returned frame is a memory-sink table — plan comparison is
    # meaningless; the bound covers the micro-batch execution itself
    _smoke_query(
        record, spark, "streaming_dedup_within_watermark", scaled_dirs,
        check_exchanges=False,
    )


# --- round-9: the PBF seam (decode -> nested merge -> multipolygon) ---------
#
# contrib_multipolygons_from_pbf was the top wall-clock query in round 8;
# its scaling was assumed, not measured. Pin the 10x point by encoding the
# polygon corpus into REAL .osh.pbf wire bytes at 1x and 10x (small block
# size so the 10x file has many blobs and the decode actually fans out,
# like a real planet file) and running decode -> J2+J3 -> assembly.


def _collect_polygon_corpus(spark):
    from ohsome_planet_spark.plans.osm_derive import (
        _derived_polygon_relations,
        _derived_polygon_ways,
    )

    ways, nodes = _derived_polygon_ways(spark, SF_DIR)
    rels = _derived_polygon_relations(spark, SF_DIR)
    node_rows = [
        dict(osm_id=r.osm_id, version=r.version,
             ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
             uid=0, user="u", visible=True, tags={}, lon=r.lon, lat=r.lat)
        for r in nodes.orderBy("osm_id").collect()
    ]
    way_rows = [
        dict(osm_id=r.osm_id, version=r.version,
             ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
             uid=0, user="u", visible=True, tags=dict(r.tags),
             refs=list(r.refs))
        for r in ways.orderBy("osm_id", "version").collect()
    ]
    rel_rows = [
        dict(osm_id=r.osm_id, version=r.version,
             ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
             uid=0, user="u", visible=True, tags=dict(r.tags),
             members=[{"type": m.type, "id": m.id, "role": m.role}
                      for m in r.members])
        for r in rels.orderBy("osm_id").collect()
    ]
    return node_rows, way_rows, rel_rows


def _replicate_pbf(node_rows, way_rows, rel_rows, k):
    nodes, ways, rels = [], [], []
    for i in range(k):
        for n in node_rows:
            nodes.append({**n, "osm_id": n["osm_id"] + i * NODE_OFF})
        for w in way_rows:
            ways.append({**w, "osm_id": w["osm_id"] + i * WAY_OFF,
                         "refs": [r + i * NODE_OFF for r in w["refs"]]})
        for r in rel_rows:
            rels.append({**r, "osm_id": r["osm_id"] + i * REL_OFF,
                         "members": [{**m, "id": m["id"] + i * WAY_OFF}
                                     for m in r["members"]]})
    return nodes, ways, rels


def test_contrib_multipolygons_pbf_seam_scales(spark, tmp_path, record):
    from ohsome_planet_spark.sources.pbf import read_pbf
    from ohsome_planet_spark.sources.pbf_encoder import write_history_pbf

    corpus = _collect_polygon_corpus(spark)
    p1 = str(tmp_path / "seam_x1.osh.pbf")
    p10 = str(tmp_path / "seam_x10.osh.pbf")
    n1, w1, r1 = _replicate_pbf(*corpus, 1)
    n10, w10, r10 = _replicate_pbf(*corpus, K)
    write_history_pbf(p1, n1, ways=w1, relations=r1, block_size=64)
    write_history_pbf(p10, n10, ways=w10, relations=r10, block_size=64)

    def build(path):
        ents = read_pbf(spark, path)
        nodes = ents.filter(F.col("osm_type") == "node").select(
            "osm_id", "version", "ts", "changeset", "user_id", "user_name",
            "visible", "tags", "lon", "lat")
        ways = ents.filter(F.col("osm_type") == "way").select(
            "osm_id", "version", "ts", "changeset", "user_id", "user_name",
            "visible", "tags", "refs")
        rels = ents.filter(F.col("osm_type") == "relation").select(
            "osm_id", "version", "ts", "changeset", "user_id", "user_name",
            "visible", "tags", "members")
        return synthesize_contributions(
            relation_contribution_events(rels, ways, nodes))

    _assert_plan_scale_invariant(spark, build, (p1,), (p10,))
    t1, runs1 = _run_median(spark, lambda: build(p1))
    t10, runs10 = _run_median(spark, lambda: build(p10))
    ratio = t10 / max(t1, 0.05)
    record({"name": "contrib_multipolygons_from_pbf", "wall_1x": round(t1, 2),
            "wall_10x": round(t10, 2), "runs_1x": runs1, "runs_10x": runs10,
            "n_runs": N_RUNS, "ratio": round(ratio, 2), "k": K})
    assert ratio < 30.0, f"10x input cost {ratio:.1f}x wall — super-linear blowup"


def test_multimodal_h264_probe_scales(spark, scaled_dirs, record):
    # pure narrow encode->parse mapInPandas chain; no shuffle until the
    # final orderBy
    _smoke_query(
        record, spark, "multimodal_h264_probe", scaled_dirs, check_exchanges=True
    )


def test_multimodal_adts_probe_scales(spark, scaled_dirs, record):
    _smoke_query(
        record, spark, "multimodal_adts_probe", scaled_dirs, check_exchanges=True
    )


def test_pdf_text_extract_scales(spark, scaled_dirs, record):
    # typeset -> xref walk -> Flate -> text machine, all inside one
    # Arrow-batched map pass; bytes never shuffle
    _smoke_query(record, spark, "pdf_text_extract", scaled_dirs, check_exchanges=True)


def test_cc_pdf_ingest_scales(spark, scaled_dirs, record):
    # WARC walk + dual-branch extraction re-joined on doc_id: the join
    # is the only exchange and its shape must not change with scale
    _smoke_query(record, spark, "cc_pdf_ingest", scaled_dirs, check_exchanges=True)


def test_robots_url_filter_scales(spark, scaled_dirs, record):
    # broadcast rule dim + regexp pass + map-side-combinable max(struct);
    # the only wide exchange is the groupBy on the URL key
    _smoke_query(record, spark, "robots_url_filter", scaled_dirs, check_exchanges=True)


def test_multimodal_ogg_probe_scales(spark, scaled_dirs, record):
    _smoke_query(
        record, spark, "multimodal_ogg_probe", scaled_dirs, check_exchanges=True
    )


def test_multimodal_webm_probe_scales(spark, scaled_dirs, record):
    _smoke_query(
        record, spark, "multimodal_webm_probe", scaled_dirs, check_exchanges=True
    )


def test_webdataset_ingest_scales(spark, scaled_dirs, record):
    # shard walk + per-shard in-stream sample grouping: zero shuffles
    # between shard bytes and samples
    _smoke_query(record, spark, "webdataset_ingest", scaled_dirs, check_exchanges=True)


def test_subtitle_extract_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "subtitle_extract", scaled_dirs, check_exchanges=True)


def test_id3_tags_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "id3_tags", scaled_dirs, check_exchanges=True)


def test_zip_ingest_scales(spark, scaled_dirs, record):
    _smoke_query(record, spark, "zip_ingest", scaled_dirs, check_exchanges=True)


def test_crawl_frontier_scales(spark, scaled_dirs, record):
    # sitemap explode + broadcast robots admission: the URL-key groupBy
    # and the entry join are the only exchanges
    _smoke_query(record, spark, "crawl_frontier", scaled_dirs, check_exchanges=True)


def test_multimodal_ts_probe_scales(spark, scaled_dirs, record):
    _smoke_query(
        record, spark, "multimodal_ts_probe", scaled_dirs, check_exchanges=True
    )
