"""Minutely-replication operators (SURVEY.md §2.8, R1-R4, J6-J7).

The reference keeps RocksDB latest-state + back-reference stores and
applies one ``.osc.gz`` per micro-batch
(``ohsome-replication-update/.../ContributionUpdater.java``,
``ContributionStateManager.java``). Here every store is a history table,
and the rules are written twice: once relationally, as the spec (and the
registry's ``replication_batch``), and once by key, as the updater runs
them:

- latest-state store  → the newest stored version per (osm_type, osm_id)
  (R4: :func:`latest_state`; by key, :func:`latest_version`);
- back-reference stores → derived on demand from the latest ways/relations
  by their refs/members (J7: :func:`dirty_parents`; by key,
  :func:`referencing`) — no merge-operators, no state maintenance;
- diff application   → the reference's filter semantics (J6): drop
  versions ≤ stored version and deletes that have no before-state
  (``ContributionUpdater.java:338-369``; :func:`filter_diff_against_state`);
- incremental rebuild → rerun the (deterministic) contribution synthesis on
  the affected ids only (R3); counters continue because the full history of
  an affected id participates in the windows.

A batch touches its keys: the diff is parsed on the driver, so its ids are
known before any Spark job, and J6/J7 are keyed reads (one ``osm_id IN
(…)`` expression per key set, :func:`keyed_histories`) that bring back
only ids, versions and ``visible``/``refs``/``members``; the rules then run
in Python, and the rebuilds read the affected ids' histories only. What a
batch plans, shuffles and collects is O(|diff| + |affected histories|).
Each keyed read still scans the store (O(store)) until the history tables
are clustered by key.

One entry point, :meth:`IncrementalUpdater.apply_batch`, serves every
caller (the ``replications`` manager and the bulk ≡ incremental gate):
relations are always in the store, and a batch that affects none builds
no relation pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def latest_state(entities: DataFrame) -> DataFrame:
    """R4: latest version per (osm_type, osm_id); invisible latests are kept
    as tombstones (callers filter ``visible`` when resolving geometry)."""
    w = W.partitionBy("osm_type", "osm_id").orderBy(
        F.desc("version"), F.desc("ts")
    )
    return (
        entities.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_diff_against_state(diff: DataFrame, state: DataFrame) -> DataFrame:
    """J6: keep only genuinely-new versions.

    - versions ≤ the stored latest version are replays → dropped;
    - a delete with no before-state is a no-op → dropped
      (``ContributionUpdater.java:338-369``).
    """
    before = state.select(
        "osm_type",
        "osm_id",
        F.col("version").alias("_before_version"),
    )
    joined = diff.join(before, ["osm_type", "osm_id"], "left")
    keep = (
        F.col("_before_version").isNull()
        & F.col("visible")  # create/modify without before-state is fine
    ) | (F.col("_before_version").isNotNull() & (F.col("version") > F.col("_before_version")))
    return joined.filter(keep).drop("_before_version")


def merge_latest_state(state: DataFrame, new_versions: DataFrame) -> DataFrame:
    """R4 merge: newest version per id wins; expressed as union + window so
    it works on plain Parquet (a Delta MERGE would be the managed-table
    form)."""
    return latest_state(state.unionByName(new_versions))


def node_way_backrefs(latest_ways: DataFrame) -> DataFrame:
    """J7 table: node id → referencing way ids, derived (not maintained)."""
    return (
        latest_ways.filter(F.col("visible"))
        .select(F.col("osm_id").alias("way_id"), F.explode("refs").alias("node_id"))
        .distinct()
    )


def member_relation_backrefs(latest_relations: DataFrame) -> DataFrame:
    """J7 table: (member type, id) → referencing relation ids."""
    return (
        latest_relations.filter(F.col("visible"))
        .select(F.col("osm_id").alias("relation_id"), F.explode("members").alias("m"))
        .select(
            "relation_id",
            F.col("m.type").alias("member_type"),
            F.col("m.id").alias("member_id"),
        )
        .distinct()
    )


def dirty_parents(
    changed_nodes: DataFrame,
    changed_ways: DataFrame,
    latest_ways: DataFrame,
    latest_relations: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """J7: propagate changed node ids to parent ways, then changed/dirty
    ways and changed nodes to parent relations. Returns (dirty_way_ids,
    dirty_relation_ids), excluding ids already in the change set."""
    nw = node_way_backrefs(latest_ways)
    dirty_ways = (
        nw.join(changed_nodes.select(F.col("osm_id").alias("node_id")), "node_id")
        .select(F.col("way_id").alias("osm_id"))
        .distinct()
        .join(changed_ways.select("osm_id"), "osm_id", "left_anti")
    )
    mr = member_relation_backrefs(latest_relations)
    touched_ways = changed_ways.select("osm_id").unionByName(dirty_ways).distinct()
    dirty_rels_via_ways = mr.filter(F.col("member_type") == "way").join(
        touched_ways.select(F.col("osm_id").alias("member_id")), "member_id"
    )
    dirty_rels_via_nodes = mr.filter(F.col("member_type") == "node").join(
        changed_nodes.select(F.col("osm_id").alias("member_id")), "member_id"
    )
    dirty_rels = (
        dirty_rels_via_ways.select(F.col("relation_id").alias("osm_id"))
        .unionByName(dirty_rels_via_nodes.select(F.col("relation_id").alias("osm_id")))
        .distinct()
    )
    return dirty_ways, dirty_rels


def _in_sql(expr: str, ids) -> str:
    if not ids:
        return "false"
    return f"{expr} IN ({', '.join(str(int(i)) for i in sorted(ids))})"


def ids_in(col: str, ids) -> Column:
    """``col IN (…)`` over a driver-side key set as ONE SQL expression, so
    building it is one py4j hop (``isin(*ids)`` makes one per id); Parquet
    min/max statistics and bloom filters can skip row groups on it. An
    empty set is ``false``."""
    return F.expr(_in_sql(col, ids))


def rebuild_affected_nodes(node_history: DataFrame, affected_ids) -> DataFrame:
    """R3 for nodes: rerun the full synthesis on affected ids only. The
    deterministic windows reproduce minor/edits counters exactly, so no
    explicit counter continuation state is needed."""
    from ..operators.contributions import (
        node_contribution_events,
        synthesize_contributions,
    )

    affected = node_history.filter(ids_in("osm_id", affected_ids))
    return synthesize_contributions(node_contribution_events(affected))


def rebuild_affected_ways(
    way_history: DataFrame,
    node_history: DataFrame,
    affected_ids,
    bundled: DataFrame | None = None,
) -> DataFrame:
    from ..operators.contributions import (
        synthesize_contributions,
        way_contribution_events,
    )

    affected = way_history.filter(ids_in("osm_id", affected_ids))
    if bundled is not None:
        bundled = bundled.filter(ids_in("osm_id", affected_ids))
    return synthesize_contributions(
        way_contribution_events(affected, node_history, bundled=bundled)
    )


def rebuild_affected_relations(
    rel_history: DataFrame,
    way_history: DataFrame,
    node_history: DataFrame,
    affected_ids,
    bundled: DataFrame | None = None,
) -> DataFrame:
    """R3 for relations: rerun the nested J2+J3 synthesis on affected
    relation ids. Member way/node histories pass in FULL — the event
    builder semi-join-prunes them to what the affected relations actually
    reference, so the batch touches |affected| + |their members|, never
    the planet. ``bundled`` shares a precomputed way-instant table with
    the way rebuild (the J3 merge is the batch's dominant cost)."""
    from ..operators.contributions import (
        relation_contribution_events,
        synthesize_contributions,
    )

    affected = rel_history.filter(ids_in("osm_id", affected_ids))
    return synthesize_contributions(
        relation_contribution_events(
            affected, way_history, node_history, bundled_ways=bundled
        )
    )


# --- replication state protocol (R1 / S12) -----------------------------------


@dataclass
class ReplicationState:
    sequence: int
    timestamp: str  # ISO-8601

    @classmethod
    def parse(cls, text: str) -> "ReplicationState":
        """Parse an osmosis state.txt (``ReplicationState.java:40-118``)."""
        seq = None
        ts = None
        for line in text.splitlines():
            line = line.strip()
            if line.startswith("#") or "=" not in line:
                continue
            key, val = line.split("=", 1)
            if key == "sequenceNumber":
                seq = int(val)
            elif key == "timestamp":
                ts = val.replace("\\:", ":")
        if seq is None:
            raise ValueError("state.txt missing sequenceNumber")
        return cls(seq, ts or "")

    def format(self) -> str:
        ts = self.timestamp.replace(":", "\\:")
        return f"sequenceNumber={self.sequence}\ntimestamp={ts}\n"


def sequence_path(sequence: int) -> str:
    """NNN/NNN/NNN path for a replication sequence (``Server.java``)."""
    s = f"{sequence:09d}"
    return f"{s[0:3]}/{s[3:6]}/{s[6:9]}"


ACCEPTABLE_CHANGESET_LAG_S = 180.0


def process_until(
    contribution_remote_ts,
    changeset_ts,
    acceptable_lag_s: float = ACCEPTABLE_CHANGESET_LAG_S,
):
    """R2 — changeset-lag holdback ("watermark" across the two replication
    streams): contributions may only be processed up to the changeset
    stream's timestamp, unless the changeset stream lags by more than the
    acceptable delay (``ReplicationManager.java:24,57-75``,
    ``ContributionStateManager.java:121-131``).

    Returns the timestamp up to which contribution sequences may be
    applied; the contribution manager walks its target state back until
    it respects that cutoff. Timestamps are comparable datetimes.
    """
    lag = (contribution_remote_ts - changeset_ts).total_seconds()
    if lag > acceptable_lag_s:
        return contribution_remote_ts
    return changeset_ts


# --- keyed reads: J6/J7 answered by key on the driver -----------------------


def keyed_histories(
    history: DataFrame, ids, cols: tuple[str, ...], touching: str | None = None
) -> dict[int, list]:
    """The stored versions (``cols`` only) of every id in ``ids`` and, with
    a ``touching`` SQL predicate, of every id that has a version matching
    it, grouped by id on the driver. A touching id needs its FULL history,
    since its latest version decides (a way whose latest version dropped
    the moved node is no parent), so it costs a second read: first the
    matching ids, then all their versions."""
    ids = set(ids)
    if touching is not None:
        ids |= {r.osm_id for r in history.filter(touching).select("osm_id").collect()}
    out: dict[int, list] = {}
    if ids:
        for r in history.filter(ids_in("osm_id", ids)).select(*cols).collect():
            out.setdefault(r.osm_id, []).append(r)
    return out


def latest_version(versions: list):
    """R4 over one id's versions, in :func:`latest_state`'s order."""
    return max(versions, key=lambda r: (r["version"], r["ts"]))


def referencing(histories: dict[int, list], field: str, hit) -> set[int]:
    """J7 by key: the ids whose latest version is visible and has an entry
    of ``field`` (``refs`` / ``members``) for which ``hit`` holds."""
    out = set()
    for pid, versions in histories.items():
        latest = latest_version(versions)
        if latest["visible"] and any(hit(x) for x in latest[field] or ()):
            out.add(pid)
    return out


def _j6(diff: list[dict], histories: dict[int, list]) -> list[dict]:
    """J6 by key (:func:`filter_diff_against_state`'s rule): a version
    above the stored latest one, or a visible version of an id the store
    lacks. Replays and deletes without a before-state drop."""
    keep = []
    for r in diff:
        stored = histories.get(r["osm_id"])
        if stored is None:
            if r["visible"]:
                keep.append(r)
        elif r["version"] > max(v["version"] for v in stored):
            keep.append(r)
    return keep


def _arrow_rows(rows: list[dict], schema: StructType):
    """Driver rows → a pyarrow table of ``schema`` (absent keys are
    nulls), the form that becomes a frame (``createDataFrame`` of a table
    runs on the JVM) and a history file alike."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    return pa.Table.from_pylist(
        [{n: r.get(n) for n in names} for r in rows], schema=to_arrow_schema(schema)
    )


TYPES = ("node", "way", "relation")


def with_delta(spark, history: DataFrame, delta) -> DataFrame:
    """``history`` with a batch's J6 delta (a pyarrow table of its schema)
    appended. An empty delta builds no frame."""
    if not delta.num_rows:
        return history
    return history.unionByName(spark.createDataFrame(delta, history.schema))


class Batch(NamedTuple):
    """One applied batch, each field in :data:`TYPES` order."""

    # the rebuilt contributions of the affected ids; the relation frame is
    # None when the batch affects no relation (no relation pipeline built)
    contributions: tuple
    # the affected id sets (frozensets), for a delete-insert merge
    affected: tuple
    # the J6-surviving rows as pyarrow tables, for the caller to append
    # where its history lives
    delta: tuple


# --- incremental update (S12 end-to-end; ContributionUpdater.java) ----------


class IncrementalUpdater:
    """Applies one ``.osc`` batch to node, way and relation history tables
    and re-synthesizes contributions for the affected ids only
    (``ContributionUpdater.java:86-170``, ``ContributionUpdaterTest``).

    The reference keeps a RocksDB latest-state store and continues
    minor/edit counters from stored values; here the *full history* of an
    affected id is kept (a partitioned table at planet scale) and the
    deterministic window synthesis reproduces the continued counters —
    no counter state to maintain or corrupt.

    A batch touches its keys: the diff arrives as driver rows, J6 and J7
    are keyed reads that bring back only ids, versions and
    ``visible``/``refs``/``members`` (:func:`keyed_histories`), and the
    R3 rebuilds read the histories of the affected ids only. Each read
    still scans the store (O(store)) until the history tables are
    clustered by key; what a batch plans, shuffles and brings back is
    O(|diff| + |affected histories|).

    The histories are read, never grown: :meth:`apply_batch` returns the
    J6 delta, and the caller appends it where its history lives before
    the next batch.
    """

    def __init__(
        self,
        spark,
        node_history: DataFrame,
        way_history: DataFrame,
        rel_history: DataFrame,
    ):
        self.spark = spark
        self.node_history = node_history
        self.way_history = way_history
        self.rel_history = rel_history

    def apply_batch(self, rows: list[dict]) -> Batch:
        """One osmChange batch → a :class:`Batch`. ``rows`` is the diff as
        parsed on the driver (:func:`..sources.osmxml.parse_osc_bytes`
        dicts). J6 keeps the genuinely new versions, so re-applying a
        batch is idempotent; J7 finds the ways and relations whose members
        changed. Both are keyed reads of the stored histories, decided in
        Python; the R3 rebuilds then read the histories plus the delta
        (``ContributionStateManager.java:176-245``'s update write
        delete-inserts the rebuilt rows by the affected ids)."""
        diff: dict[str, list[dict]] = {kind: [] for kind in TYPES}
        for r in rows:
            diff[r["osm_type"]].append(r)

        def ids(kind):
            return {r["osm_id"] for r in diff[kind]}

        node_hist = keyed_histories(self.node_history, ids("node"), ("osm_id", "version"))
        new = {"node": _j6(diff["node"], node_hist)}
        changed_nodes = {r["osm_id"] for r in new["node"]}

        # every way in the diff or referencing a changed node, in full
        way_hist = keyed_histories(
            self.way_history, ids("way"), ("osm_id", "version", "ts", "visible", "refs"),
            touching=f"exists(refs, r -> {_in_sql('r', changed_nodes)})"
            if changed_nodes else None,
        )
        new["way"] = _j6(diff["way"], way_hist)
        changed_ways = {r["osm_id"] for r in new["way"]}
        affected_ways = changed_ways | referencing(
            {w: v for w, v in way_hist.items() if w not in changed_ways},
            "refs", changed_nodes.__contains__,
        )

        def hit(m):
            return (m["type"] == "way" and m["id"] in affected_ways) or (
                m["type"] == "node" and m["id"] in changed_nodes
            )

        # every relation in the diff or listing an affected way or a
        # changed node as a member, in full
        rel_hist = keyed_histories(
            self.rel_history, ids("relation"),
            ("osm_id", "version", "ts", "visible", "members"),
            touching="exists(members, m -> "
            f"(m.type = 'way' AND {_in_sql('m.id', affected_ways)})"
            f" OR (m.type = 'node' AND {_in_sql('m.id', changed_nodes)}))"
            if affected_ways or changed_nodes else None,
        )
        new["relation"] = _j6(diff["relation"], rel_hist)
        changed_rels = {r["osm_id"] for r in new["relation"]}
        affected_rels = changed_rels | referencing(rel_hist, "members", hit)

        histories = (self.node_history, self.way_history, self.rel_history)
        delta = tuple(_arrow_rows(new[kind], h.schema) for kind, h in zip(TYPES, histories))
        affected = (frozenset(changed_nodes), frozenset(affected_ways), frozenset(affected_rels))
        nodes, ways, rels = (with_delta(self.spark, h, d) for h, d in zip(histories, delta))
        if affected_rels:
            member_ways = {
                m["id"]
                for versions in [rel_hist.get(r, ()) for r in affected_rels]
                + [new["relation"]]
                for v in versions
                for m in v["members"] or ()
                if m["type"] == "way"
            }
            contributions = _rebuild_with_relations(
                nodes, ways, rels, affected, affected_ways | member_ways
            )
        else:
            way_refs = {
                n
                for versions in [way_hist.get(w, ()) for w in affected_ways] + [new["way"]]
                for v in versions
                for n in v["refs"] or ()
            }
            contributions = _rebuild_without_relations(nodes, ways, affected, way_refs)
        return Batch(contributions, affected, delta)


def _rebuild_without_relations(nodes, ways, affected, way_refs) -> tuple:
    """R3 for a batch that affects no relation: the node and way rebuilds,
    built on concurrent driver threads (each is a long blocking chain of
    py4j planning round-trips); the way rebuild reads only the nodes its
    ways reference (``way_refs``, from every version of them)."""
    from ..session import scope_pool

    changed_nodes, affected_ways, _ = affected
    with scope_pool(2) as ex:
        fut_nodes = ex.submit(rebuild_affected_nodes, nodes, changed_nodes)
        fut_ways = ex.submit(
            rebuild_affected_ways, ways, nodes.filter(ids_in("osm_id", way_refs)),
            affected_ways,
        )
        return fut_nodes.result(), fut_ways.result(), None


def _rebuild_with_relations(nodes, ways, rels, affected, ways_touched) -> tuple:
    """R3 for a batch that affects relations. The way and relation rebuilds
    share ONE J3 way merge (the batch's dominant cost — the reference
    memoizes member way contributions the same way,
    ``Contribution.java:26-28``) over ``ways_touched``: the affected ways
    plus every way any version of an affected relation lists."""
    from ..operators.contributions import bundled_way_instants
    from ..session import scope_pool, truncate_lineage

    changed_nodes, affected_ways, affected_rels = affected
    with scope_pool(3) as ex:
        # the node rebuild does not read the shared table: its construction
        # overlaps the shared build and the way/relation rebuilds
        fut_nodes = ex.submit(rebuild_affected_nodes, nodes, changed_nodes)
        # lineage-cut, not just persist: the shared table is re-embedded in
        # the way rebuild, the relation rebuild AND (through the member
        # merge) the member-event union — persist alone leaves its full
        # logical tree in each, and the optimizer re-walks it per embedding
        bundled = truncate_lineage(
            bundled_way_instants(ways.filter(ids_in("osm_id", ways_touched)), nodes)
        )
        fut_ways = ex.submit(
            rebuild_affected_ways, ways, nodes, affected_ways, bundled=bundled
        )
        fut_rels = ex.submit(
            rebuild_affected_relations, rels, ways, nodes, affected_rels, bundled=bundled
        )
        return fut_nodes.result(), fut_ways.result(), fut_rels.result()
