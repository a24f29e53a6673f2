"""Minutely-replication operators (SURVEY.md §2.8, R1-R4, J6-J7).

The reference keeps RocksDB latest-state + back-reference stores and
applies one ``.osc.gz`` per micro-batch
(``ohsome-replication-update/.../ContributionUpdater.java``,
``ContributionStateManager.java``). The Spark shape replaces every store
with a table + join:

- latest-state store  → a Parquet/Delta table keyed by (osm_type, osm_id),
  updated by an anti-join + union merge (R4);
- back-reference stores → derived on demand from the latest ways/relations
  by exploding refs/members (J7) — no merge-operators, no state maintenance;
- diff application   → equi-join of the batch against the before-state with
  the reference's filter semantics (J6): drop versions ≤ stored version and
  deletes that have no before-state (``ContributionUpdater.java:338-369``);
- incremental rebuild → rerun the (deterministic) contribution synthesis on
  the affected ids only (R3); counters continue because the full history of
  an affected id participates in the windows.

Each batch touches |diff| + |affected parents| rows, never the planet.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..schemas import RELATION_SCHEMA


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


def rebuild_affected_nodes(
    node_history: DataFrame, affected_ids: DataFrame
) -> DataFrame:
    """R3 for nodes: rerun the full synthesis on affected ids only. The
    deterministic windows reproduce minor/edits counters exactly, so no
    explicit counter continuation state is needed."""
    from ..operators.contributions import (
        node_contribution_events,
        synthesize_contributions,
    )

    affected = node_history.join(affected_ids.select("osm_id"), "osm_id", "left_semi")
    return synthesize_contributions(node_contribution_events(affected))


def rebuild_affected_ways(
    way_history: DataFrame,
    node_history: DataFrame,
    affected_ids: DataFrame,
    bundled: DataFrame | None = None,
) -> DataFrame:
    from ..operators.contributions import (
        synthesize_contributions,
        way_contribution_events,
    )

    affected = way_history.join(affected_ids.select("osm_id"), "osm_id", "left_semi")
    if bundled is not None:
        bundled = bundled.join(affected_ids.select("osm_id"), "osm_id", "left_semi")
    return synthesize_contributions(
        way_contribution_events(affected, node_history, bundled=bundled)
    )


def rebuild_affected_relations(
    rel_history: DataFrame,
    way_history: DataFrame,
    node_history: DataFrame,
    affected_ids: DataFrame,
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

    affected = rel_history.join(affected_ids.select("osm_id"), "osm_id", "left_semi")
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


# --- incremental update loop (S12 end-to-end; ContributionUpdater.java) ------


class IncrementalUpdater:
    """Applies ``.osc`` micro-batches to node/way history tables and
    re-synthesizes contributions for the affected ids only
    (``ContributionUpdater.java:86-170``, ``ContributionUpdaterTest``).

    The reference keeps a RocksDB latest-state store and continues
    minor/edit counters from stored values; here the *full history* of an
    affected id is kept (a partitioned table at planet scale) and the
    deterministic window synthesis reproduces the continued counters —
    no counter state to maintain or corrupt. Each batch's cost is
    |diff| + |histories of affected ids|, never the planet.
    """

    def __init__(
        self,
        spark,
        node_history: DataFrame,
        way_history: DataFrame,
        rel_history: DataFrame | None = None,
    ):
        self.spark = spark
        self.node_history = node_history
        self.way_history = way_history
        # relation support is opt-in: with a rel_history table, apply_batch
        # also J6-filters relation rows, propagates member dirtiness to
        # parent relations (J7) and returns a third contribution frame
        self.rel_history = rel_history

    def _typed(self, batch: DataFrame, osm_type: str, history: DataFrame) -> DataFrame:
        """Project the batch onto one type's history schema; columns the
        batch doesn't carry (a node-only .osc slice has no refs/members)
        fill with typed nulls."""
        present = set(batch.columns)
        sel = [
            (F.col(f.name) if f.name in present else F.lit(None).cast(f.dataType)).alias(
                f.name
            )
            for f in history.schema.fields
            if f.name != "osm_type"
        ]
        return batch.filter(F.col("osm_type") == osm_type).select("osm_type", *sel)

    def advance_batch(self, batch: DataFrame):
        """The cheap, ORDER-DEPENDENT half of a batch: J6-filter the diff
        against the latest stored state, append the survivors to the
        histories (which advance in place and are lineage-truncated so
        the next batch plans against leaves), and derive the J7
        affected-id frames. Returns ``(snapshot, affected)``: the
        post-advance (node, way, rel) history triple and the per-type
        affected-id frames. :meth:`build_rebuilds` depends only on the
        snapshot, so callers may run it CONCURRENTLY with later advances
        — wave-pipelined planning (the rebuild construction is the
        batch's dominant, scale-invariant driver cost)."""
        from ..session import register_cached, truncate_lineage_many

        nodes = self._typed(batch, "node", self.node_history)
        ways = self._typed(batch, "way", self.way_history)

        node_state = latest_state(self.node_history)
        way_state = latest_state(self.way_history)
        new_nodes = register_cached(
            filter_diff_against_state(nodes, node_state).persist()
        )
        new_ways = register_cached(
            filter_diff_against_state(ways, way_state).persist()
        )
        # the J6-surviving delta, exposed for callers that append it to a
        # durable history table (ContributionReplicationManager)
        self.last_applied = (new_nodes, new_ways)

        self.node_history = self.node_history.unionByName(new_nodes)
        self.way_history = self.way_history.unionByName(new_ways)

        changed_node_ids = new_nodes.select("osm_id").distinct()
        changed_way_ids = new_ways.select("osm_id").distinct()
        if self.rel_history is not None:
            rels = self._typed(batch, "relation", self.rel_history)
            new_rels = register_cached(
                filter_diff_against_state(
                    rels, latest_state(self.rel_history)
                ).persist()
            )
            self.rel_history = self.rel_history.unionByName(new_rels)
            changed_rel_ids = new_rels.select("osm_id").distinct()
            # truncate in place so BOTH the next advance and this batch's
            # rebuilds plan against leaves (independent frames — plan
            # concurrently)
            cut = truncate_lineage_many(
                [self.node_history, self.way_history, self.rel_history]
            )
            self.node_history, self.way_history, self.rel_history = cut
            latest_rels = latest_state(self.rel_history).select(
                "osm_id", "visible", "members"
            )
        else:
            changed_rel_ids = None
            cut = truncate_lineage_many(
                [self.node_history, self.way_history]
            )
            self.node_history, self.way_history = cut
            latest_rels = self.spark.createDataFrame([], RELATION_SCHEMA).select(
                "osm_id", "visible", "members"
            )
        dirty_ways, dirty_rels = dirty_parents(
            changed_node_ids, changed_way_ids, latest_state(self.way_history), latest_rels
        )
        affected_ways = changed_way_ids.unionByName(dirty_ways).distinct()
        if changed_rel_ids is None:
            affected = (changed_node_ids, affected_ways)
        else:
            affected = (
                changed_node_ids,
                affected_ways,
                changed_rel_ids.unionByName(dirty_rels).distinct(),
            )
        self.last_affected = affected
        snapshot = (self.node_history, self.way_history, self.rel_history)
        return snapshot, affected

    def build_rebuilds(self, snapshot, affected):
        """R3 rebuild pipelines over an advanced snapshot — the heavy,
        order-INDEPENDENT half of a batch. The per-type constructions are
        long blocking chains of py4j planning round-trips, so they run on
        concurrent driver threads; the whole method is also safe to run
        from a worker thread while later batches advance (wave-pipelined
        planning — round-10 verdict, Next #3)."""
        from ..session import scope_pool

        node_history, way_history, rel_history = snapshot
        if len(affected) == 2:
            changed_node_ids, affected_ways = affected
            with scope_pool(2) as ex:
                fut_nodes = ex.submit(
                    rebuild_affected_nodes, node_history, changed_node_ids
                )
                fut_ways = ex.submit(
                    rebuild_affected_ways,
                    way_history, node_history, affected_ways,
                )
                return fut_nodes.result(), fut_ways.result()
        changed_node_ids, affected_ways, affected_rels = affected
        # share ONE J3 way merge between the way and relation rebuilds
        # (the batch's dominant cost — the reference memoizes member way
        # contributions the same way, Contribution.java:26-28): instants
        # for every way the batch touches, i.e. affected ways plus the
        # ways referenced by affected relations.
        from ..operators.contributions import bundled_way_instants

        aff_rel_hist = rel_history.join(affected_rels, "osm_id", "left_semi")
        member_way_ids = (
            aff_rel_hist.select(F.explode("members").alias("m"))
            .filter(F.col("m.type") == "way")
            .select(F.col("m.id").alias("osm_id"))
        )
        touched_way_ids = affected_ways.unionByName(member_way_ids).distinct()
        ways_touched = way_history.join(touched_way_ids, "osm_id", "left_semi")
        # lineage-cut, not just persist: the bundled table is re-embedded in
        # the way rebuild, the relation rebuild AND (through the member
        # merge) the member-event union — persist alone leaves its full
        # logical tree in each, and the optimizer re-walks it per embedding
        # (measured: the member-event seam's planning dominates batch cost)
        from ..session import truncate_lineage

        with scope_pool(3) as ex:
            # node rebuild has no dependency on the bundled table: its
            # construction overlaps the bundled build + way/rel rebuilds
            fut_nodes = ex.submit(
                rebuild_affected_nodes, node_history, changed_node_ids
            )
            bundled = truncate_lineage(
                bundled_way_instants(ways_touched, node_history)
            )
            fut_ways = ex.submit(
                rebuild_affected_ways,
                way_history, node_history, affected_ways, bundled=bundled,
            )
            fut_rels = ex.submit(
                rebuild_affected_relations,
                rel_history, way_history, node_history, affected_rels,
                bundled=bundled,
            )
            return fut_nodes.result(), fut_ways.result(), fut_rels.result()

    def apply_batch(self, batch: DataFrame):
        """One osmChange batch → (node_contribs, way_contribs[, rel_contribs
        when relation support is on]) for the affected ids; histories
        advance in place. The J6 filter drops replayed versions so
        re-applying a batch is idempotent. ``last_affected`` carries the
        per-type affected-id frames so callers can delete-and-insert the
        rebuilt rows into a durable contribution table
        (``ContributionStateManager.java:176-245``'s update write).
        Composition of :meth:`advance_batch` + :meth:`build_rebuilds`;
        multi-batch callers can pipeline the two halves instead."""
        snapshot, affected = self.advance_batch(batch)
        return self.build_rebuilds(snapshot, affected)

    def apply_sequences(self, server, sequences) -> list[tuple[DataFrame, DataFrame]]:
        """Fetch + parse + apply each replication sequence in order via an
        (injectable-transport) :class:`.server.Server`."""
        from ..sources.osmxml import osc_batch

        # advance_batch truncates the histories in place, so the per-batch
        # plan stays O(1) deep — the production loop
        # (ContributionReplicationManager) gets this for free by appending
        # the delta to a durable history table and re-reading it between
        # batches
        return [
            self.apply_batch(osc_batch(self.spark, server.get_replication_file(seq)))
            for seq in sequences
        ]
