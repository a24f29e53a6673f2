"""End-to-end replication catch-up manager (the ``replications`` CLI
command): the loop an operator actually runs to keep a contributions
dataset and a changeset store current.

Reference behavior (re-expressed, not ported):

- ``ohsome-planet-cli/.../cmd/Replications.java:27-130`` — CLI surface:
  contributions-only, changesets-only, or both with cross-stream holdback.
- ``ohsome-replication-update/.../ReplicationManager.java:33-137`` — the
  dual-stream loop: changesets first; contributions advance to the remote
  state, held back to the changeset stream's timestamp unless that stream
  lags by more than ``ACCEPTABLE_DELAY`` (180 s).
- ``ContributionStateManager.java:116-245`` — per-sequence processing:
  fetch state + ``.osc.gz`` → apply the diff → write one
  ``NNN/NNN/NNN.opc.parquet`` + ``NNN.state.txt`` → advance the published
  ``state.txt`` / ``state.csv`` → advance the local state. A crash resumes
  at the last advanced sequence.

Spark shape: the RocksDB latest-state store becomes three append-only
history tables (``<data>/nodes``, ``<data>/ways``, ``<data>/relations``;
a missing table reads as empty, so a store seeded before relations were
kept, or without any, still runs). Each sequence parses its diff on the
driver, answers J6/J7 with keyed reads of the table roots
(:class:`.replication.IncrementalUpdater`), rebuilds the affected ids in
Spark and writes their contributions, then appends its J6-surviving rows,
already on the driver, as one pyarrow file ``seq-NNNNNNNNN.parquet`` per
non-empty table (O(|diff|) I/O, no Spark job). The next sequence re-reads
the roots — a *reliable* staged intermediate, so lineage is truncated by
storage, never by ``localCheckpoint`` (executor loss mid-catch-up replays
from parquet, unlike block-storage checkpoints). The keyed reads still
scan the store, O(store), until the tables are clustered by key. A
sequence first removes the history files an interrupted attempt of it
left, so a crash between the append and the state advance re-runs it
from the same history, to the same delta and the same output. Each
sequence runs in its own run scope, so what it staged is released once
its files are written, however long a ``--continue`` run goes on.

:class:`ContributionReplicationManager` is the one owner of that store:
``seed`` writes it from a bulk extract (the bulk → incremental handoff),
``load`` reads or starts its state row ``<data>/state.txt``, each
sequence appends to the tables, and ``lookup`` answers the
``replication-store`` peek with the R4/J7 rules the update uses.

A pass (:func:`run_replication_update`) catches the changeset stream up
and commits its store first (``ChangesetStateManager`` owns the store and
its state row); the contribution stream then joins the committed store.
Both managers start the same way: ``load(start_sequence)``.
"""

from __future__ import annotations

import csv as _csv
import io
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import (
    NODE_SCHEMA,
    RELATION_SCHEMA,
    WAY_SCHEMA,
    history_schema,
    split_entities,
)
from ..session import empty_frame, run_scope
from .replication import (
    TYPES,
    IncrementalUpdater,
    ReplicationState,
    ids_in,
    keyed_histories,
    latest_version,
    process_until,
    referencing,
    sequence_path,
)
from .server import Server, parse_iso

__all__ = ["ContributionReplicationManager", "run_replication_update"]

NODE_HISTORY_SCHEMA = history_schema(NODE_SCHEMA)
WAY_HISTORY_SCHEMA = history_schema(WAY_SCHEMA)
RELATION_HISTORY_SCHEMA = history_schema(RELATION_SCHEMA)
# the history table of each type, in TYPES order
HISTORIES = (
    ("nodes", NODE_HISTORY_SCHEMA),
    ("ways", WAY_HISTORY_SCHEMA),
    ("relations", RELATION_HISTORY_SCHEMA),
)


def _history_or_empty(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        return spark.read.schema(schema).parquet(path)
    return empty_frame(spark, schema)


def _history_file(seq: int) -> str:
    """The file one sequence appends to a history table."""
    return f"seq-{seq:09d}.parquet"


@dataclass
class ContributionReplicationManager:
    """Drives the contribution stream of the ``replications`` command and
    owns its store in ``data_dir``: the history tables
    ``nodes``/``ways``/``relations`` and the state row ``state.txt``.

    ``server`` is the entity stream (seeding and catch-up need it).
    ``out_dir`` is where per-sequence contribution parquet + published
    state files land (``--parquet-data``, default ``<data>/updates``).
    ``changeset_store`` is the committed changeset store the output is
    enriched from (None: every row gets the default changeset record).
    """

    spark: SparkSession
    data_dir: str
    server: Server | None = None
    out_dir: str | None = None
    max_size: int = 0  # 0 = unlimited, like the reference's --size
    country_features: list | None = None
    changeset_store: DataFrame | None = None
    local_state: ReplicationState | None = None
    applied: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.out_dir is None:
            self.out_dir = os.path.join(self.data_dir, "updates")

    # -- the store on disk --------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.data_dir, name)

    def _history(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """The node, way and relation history tables (each empty until its
        first write)."""
        return tuple(
            _history_or_empty(self.spark, self._path(sub), schema)
            for sub, schema in HISTORIES
        )

    def seed(self, entities: DataFrame) -> ReplicationState:
        """The bulk → incremental handoff (``Contributions2Parquet.java:
        109-201``): the history tables from a bulk extract's entities, then
        the state row (also published in ``out_dir``) at the greatest state
        not after the extract's newest entity. ``ValueError`` for tables
        already there (:meth:`check_empty`), an extract with no entities or
        no state that old; the start is resolved before any write, so a
        refusal leaves no half-seeded store."""
        self.check_empty()
        max_ts = entities.agg(F.max("ts")).first()[0]
        if max_ts is None:
            raise ValueError("extract contains no entities; cannot initialize replication")
        start = self.server.find_start_state_by_timestamp(
            max_ts.replace(tzinfo=timezone.utc), self.fetch_remote_state()
        )
        for (sub, _), history in zip(HISTORIES, split_entities(entities)):
            history.write.parquet(self._path(sub))
        self._advance_local_state(start)
        with open(os.path.join(self.out_dir, "state.txt"), "w") as f:
            f.write(start.format())
        return start

    def check_empty(self) -> None:
        """``ValueError`` when the history tables already hold files
        (``Contributions2Parquet.java:137-141``). It needs no extract, so a
        bulk run checks it before its decode."""
        for sub, _ in HISTORIES:
            if os.path.isdir(self._path(sub)) and os.listdir(self._path(sub)):
                raise ValueError("replication directory is not empty!")

    def lookup(self, osm_type: str, osm_id: int) -> dict:
        """One element as the store holds it (``UpdateStoreRocksDb.query:
        36-57``): its latest version (R4; a tombstone once deleted) and, for
        a node, the ways whose latest version is visible and references it
        (J7). Both are the keyed reads :class:`IncrementalUpdater` answers
        J6/J7 with, so a lookup reads only the row groups whose stats admit
        the id."""
        histories = dict(zip(TYPES, self._history()))
        history, ways = histories[osm_type], histories["way"]
        versions = history.filter(ids_in("osm_id", [osm_id])).collect()
        row = latest_version(versions) if versions else None
        entry = {
            "entity": None
            if row is None
            else {**row.asDict(recursive=True), "ts": row.ts.isoformat()}
        }
        if osm_type == "node":
            # the latest version of every way that ever referenced the node
            # decides, including ones that since dropped it or were deleted
            parents = keyed_histories(
                ways, (), ("osm_id", "version", "ts", "visible", "refs"),
                touching=f"array_contains(refs, {int(osm_id)})",
            )
            entry["ways"] = sorted(referencing(parents, "refs", lambda n: n == osm_id))
        return entry

    # -- state row (ContributionStateManager.java:80-114) ------------------

    def load(self, start_sequence: int | None = None) -> None:
        """Read the state row; without one, start it at ``start_sequence``
        (``--start-sequence``)."""
        if os.path.exists(self._path("state.txt")):
            with open(self._path("state.txt")) as f:
                self.local_state = ReplicationState.parse(f.read())
        elif start_sequence is not None:
            self._advance_local_state(ReplicationState(start_sequence, ""))
        else:
            raise FileNotFoundError(
                f"{self._path('state.txt')} missing: seed it with the sequence "
                "the bulk contributions run ended at (reference: state.txt is "
                "written by the initial planet import)"
            )

    def _advance_local_state(self, state: ReplicationState) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        with open(self._path("state.txt"), "w") as f:
            f.write(state.format())
        self.local_state = state

    def fetch_remote_state(self) -> ReplicationState:
        return self.server.get_latest_remote_state()

    # -- catch-up (ContributionStateManager.java:116-157) ------------------

    def update_to_remote_state(
        self,
        remote: ReplicationState | None = None,
        process_until: datetime | None = None,
    ) -> int:
        """Apply every sequence in (local, target]; returns how many were
        applied. ``process_until`` is the changeset-stream holdback (R2):
        the target walks back from the remote state until its timestamp
        respects the cutoff (``updateToRemoteState(Instant, …)``)."""
        if self.local_state is None:
            self.load()
        target = remote or self.fetch_remote_state()
        if process_until is not None:
            while (
                self.local_state.sequence < target.sequence
                and parse_iso(target.timestamp) > process_until
            ):
                target = self.server.get_remote_state(target.sequence - 1)

        seqs = list(range(self.local_state.sequence + 1, target.sequence + 1))
        if self.max_size > 0:
            seqs = seqs[: self.max_size]
        for seq in seqs:
            # whatever a sequence stages is released once its files are
            # written
            with run_scope():
                self._process(self.server.get_remote_state(seq))
        return len(seqs)

    def _process(self, state: ReplicationState) -> None:
        """One sequence: fetch → parse → J6/J7 apply → R3 rebuild → write
        parquet + state files → advance (``ContributionStateManager
        .java:177-245``)."""
        from ..operators.contributions import enrich_contributions
        from ..sources.geoparquet import write_contributions
        from ..sources.osmxml import parse_osc_bytes

        seq = state.sequence
        # the history files an interrupted attempt of this sequence
        # appended: without them the keyed reads see the history it started
        # from, so the re-run recomputes the same delta and the same output
        for sub, _ in HISTORIES:
            stale = os.path.join(self._path(sub), _history_file(seq))
            if os.path.exists(stale):
                os.remove(stale)
        batch = IncrementalUpdater(self.spark, *self._history()).apply_batch(
            parse_osc_bytes(self.server.get_replication_file(seq))
        )

        contribs, *rest = [c for c in batch.contributions if c is not None]
        for frame in rest:
            contribs = contribs.unionByName(frame, allowMissingColumns=True)
        # the reference drops contributions with no tags before or after
        # (F5 tag-less updates, ContributionStateManager.java:202-204)
        contribs = contribs.filter(
            (F.size(F.coalesce("tags", F.create_map())) > 0)
            | (F.size(F.coalesce("tags_before", F.create_map())) > 0)
        )
        contribs = enrich_contributions(
            contribs, self.changeset_store, self.country_features
        )

        out_path = os.path.join(self.out_dir, f"{sequence_path(seq)}.opc.parquet")
        write_contributions(
            contribs.sortWithinPartitions("osm_id", "valid_from"),
            out_path,
            bloom_filter_columns=("osm_id",),
            split_latest=False,
        )

        # durable history append (the RocksDB-commit analog,
        # ``updater.updateStore()``): the J6-surviving delta is already on
        # the driver, so each non-empty table becomes one file, and the
        # next sequence plans against the re-read table roots
        for (sub, _), delta in zip(HISTORIES, batch.delta):
            if delta.num_rows:
                self._append_history(sub, seq, delta)

        self._publish_state(state, out_path)
        self._advance_local_state(state)
        self.applied.append(seq)

    def _append_history(self, sub: str, seq: int, delta) -> None:
        """One history file for one sequence's delta, written beside the
        table under a hidden name (Spark lists no dot-files) and renamed
        into place, so a crash never leaves a half-written file."""
        import pyarrow.parquet as pq

        root = self._path(sub)
        os.makedirs(root, exist_ok=True)
        name = _history_file(seq)
        tmp = os.path.join(root, f".{name}.tmp")
        pq.write_table(delta, tmp, compression="zstd")
        os.replace(tmp, os.path.join(root, name))

    def _publish_state(self, state: ReplicationState, parquet_path: str) -> None:
        """Published artifacts next to the parquet: per-sequence
        ``NNN.state.txt`` plus top-level ``state.txt`` / ``state.csv``
        (``ContributionStateManager.java:217-233``)."""
        rel = sequence_path(state.sequence)
        data = state.format()
        per_seq = os.path.join(self.out_dir, f"{rel}.state.txt")
        os.makedirs(os.path.dirname(per_seq), exist_ok=True)
        with open(per_seq, "w") as f:
            f.write(data)
        with open(os.path.join(self.out_dir, "state.txt"), "w") as f:
            f.write(data)
        buf = io.StringIO()
        w = _csv.writer(buf)
        w.writerow(["sequence_number", "timestamp", "path"])
        w.writerow([state.sequence, state.timestamp, parquet_path])
        with open(os.path.join(self.out_dir, "state.csv"), "w") as f:
            f.write(buf.getvalue())


def run_replication_update(
    contribution_manager: ContributionReplicationManager | None,
    changeset_manager=None,
    now: datetime | None = None,
) -> None:
    """One pass of the dual-stream loop (``ReplicationManager.update``,
    non-continuous): the changeset stream catches up and commits its store
    first, then contributions advance against the committed store, held
    back by the R2 rule (:func:`.replication.process_until`) to the
    changeset stream's remote timestamp unless that stream lags by more
    than ``ACCEPTABLE_DELAY`` (``ReplicationManager.java:57-75``).
    ``--continue`` wraps this in a sleep/retry loop.
    """
    remote_cs = None
    if changeset_manager is not None:
        remote_cs = changeset_manager.server.get_latest_remote_state()
        changeset_manager.catch_up(remote_cs, now or datetime.now(timezone.utc))
    if contribution_manager is None:
        return
    remote_c = contribution_manager.fetch_remote_state()
    until = None
    if remote_cs is not None:
        contribution_manager.changeset_store = changeset_manager.store
        until = process_until(parse_iso(remote_c.timestamp), parse_iso(remote_cs.timestamp))
    contribution_manager.update_to_remote_state(remote_c, process_until=until)
