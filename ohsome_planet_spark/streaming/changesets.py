"""Changeset replication (R5): minutely batch ingest + upsert-merge +
open-changeset reconciliation.

Reference behavior being re-expressed:

- ``ohsome-changesets/.../ChangesetDB.java:131-186`` — the upsert is
  ``INSERT … ON CONFLICT (id) DO UPDATE SET … WHERE changesets.open``:
  a changeset that the store already saw **closed** is immutable; open
  rows are replaced by the newest replica. Because JDBC ``executeBatch``
  applies rows in order, *within* one batch the first row that closes a
  changeset freezes it — later rows for the same id in the same batch are
  no-ops. The Spark shape is a single full-outer merge (one shuffle per
  side) after a window picks each id's within-batch winner; on a managed
  table this is exactly a ``MERGE INTO … WHEN MATCHED AND target.open``.
- ``ChangesetDB.java:276-296`` — ``pendingChangesets``: placeholder rows
  (epoch-2000 created_at, open) inserted with ``ON CONFLICT DO NOTHING``
  for ids referenced by contributions before their changeset replica
  arrived.
- ``ChangesetDB.java:250-266`` — open changesets older than two hours are
  re-fetched from the API (they may have closed without a replication
  entry) — ``ChangesetStateManager.java:118-140``.
- ``ChangesetStateManager.java:79-115`` — catch-up loop: sequences are
  processed in batches of 500; each batch's files are fetched
  concurrently, parsed, upserted, and the local state row advances to the
  batch's last sequence (so a crash resumes at a batch boundary).

Scale shape: the store is a DataFrame/table keyed by ``id``; each batch
touches |batch| + |matching ids| rows. The full-outer merge shuffles the
*batch* (small) and the state once — on a bucketed/Delta table the state
side is co-located and the merge is shuffle-free on the big side.

On disk the store is ``<data>/changesets`` (parquet, the one changeset
table ``sources.osmxml.CHANGESET_SCHEMA``) plus its state row
``<data>/changeset_state.txt``, both owned by :class:`ChangesetStateManager`.
The bulk load ``changesets --out <data>/changesets`` seeds the store, and
every batch here is built by the same ``sources.osmxml.changeset_frame``.
``load`` starts the stream from the state row, ``--changeset-start-sequence``
or, like the reference, the newest changeset already in the store (the
same ``load(start_sequence)`` start as the contribution stream's manager),
and a pass that advanced the stream commits the store before the
contribution stream reads it, like the reference's ``ReplicationManager``
commits the changeset database first (``ReplicationManager.java:57-75``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import empty_frame
from ..sources.osmxml import CHANGESET_SCHEMA, changeset_frame, parse_changesets_bytes
from .replication import ReplicationState
from .server import Server

__all__ = [
    "batch_winner",
    "upsert_changesets",
    "pending_changesets",
    "open_changesets_older_than",
    "ChangesetStateManager",
]

_PLACEHOLDER_CREATED_AT = "2000-01-01 00:00:00"


def batch_winner(batch: DataFrame, pos_col: str = "_pos") -> DataFrame:
    """Per id, the row that survives sequential ``ON CONFLICT … WHERE
    open`` application of the batch: the **first closing** row if any row
    closes the changeset (everything after it is blocked), else the
    **last** row. ``pos_col`` is the apply order (sequence-major, then
    position within the replication file)."""
    order = F.when(F.col("open"), -F.col(pos_col)).otherwise(F.col(pos_col))
    w = W.partitionBy("id").orderBy(F.col("open").asc(), order.asc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", pos_col)
    )


def upsert_changesets(
    state: DataFrame, batch: DataFrame, pos_col: str = "_pos"
) -> DataFrame:
    """The ``ON CONFLICT (id) DO UPDATE … WHERE changesets.open`` merge
    (``ChangesetDB.java:131-160``) as one full-outer join:

    - id only in the batch → inserted;
    - id in the store and **closed** → store row kept (immutable);
    - id in the store and open → batch winner replaces it;
    - id only in the store → kept.
    """
    if pos_col in batch.columns:
        batch = batch_winner(batch, pos_col)
    cols = [c for c in state.columns if c != "id"]
    s = state.select("id", F.struct(*cols).alias("_s"))
    b = batch.select("id", F.struct(*cols).alias("_b"))
    merged = s.join(b, "id", "full_outer").select(
        "id",
        F.when(
            F.col("_s").isNotNull() & ~F.col("_s.open"), F.col("_s")
        )
        .otherwise(F.coalesce("_b", "_s"))
        .alias("_r"),
    )
    return merged.select("id", *[F.col(f"_r.{c}").alias(c) for c in cols])


def pending_changesets(state: DataFrame, ids: DataFrame) -> DataFrame:
    """``ChangesetDB.pendingChangesets`` (``:276-296``): insert open
    placeholder rows (created_at = 2000-01-01, empty user/tags) for ids not
    yet in the store — ``ON CONFLICT (id) DO NOTHING`` = left-anti + union.
    ``ids`` needs a single ``id`` column."""
    missing = ids.select("id").distinct().join(state.select("id"), "id", "left_anti")
    placeholders = missing.select(
        "id",
        F.lit(0).cast("bigint").alias("user_id"),
        F.lit(_PLACEHOLDER_CREATED_AT).cast("timestamp").alias("created_at"),
        F.lit(None).cast("timestamp").alias("closed_at"),
        F.lit(True).alias("open"),
        F.lit("").alias("user_name"),
        F.create_map().cast("map<string,string>").alias("tags"),
        F.array().cast("array<string>").alias("hashtags"),
        *[
            F.lit(None).cast("double").alias(c)
            for c in ("min_lon", "min_lat", "max_lon", "max_lat")
        ],
        F.lit(None).cast("binary").alias("geom"),
    )
    return state.unionByName(placeholders.select(*state.columns))


def open_changesets_older_than(
    state: DataFrame, now: datetime, hours: float = 2.0
) -> DataFrame:
    """Ids of open changesets created more than ``hours`` ago
    (``ChangesetDB.java:250-266`` — candidates for API reconciliation)."""
    cutoff = now - timedelta(hours=hours)
    return state.filter(
        F.col("open") & (F.col("created_at") < F.lit(cutoff.replace(tzinfo=None)))
    ).select("id")


@dataclass
class ChangesetStateManager:
    """Driver-side orchestration of the changeset stream
    (``ChangesetStateManager.java``) and the one owner of its store.

    ``update_to_remote_state`` / ``update_unclosed_changesets`` are pure
    DataFrame-in/out steps over a store frame. With a working ``data_dir``
    the manager also owns the store on disk: :meth:`load` recovers and
    reads it, and :meth:`catch_up` runs both steps and commits the result
    (store, then ``changeset_state.txt``) only when the stream advanced."""

    server: Server
    spark: SparkSession
    data_dir: str | None = None
    local_state: ReplicationState | None = None
    batch_size: int = 500
    api_batch_size: int = 100
    # the committed store (set by load and _commit)
    store: DataFrame | None = None

    # -- the store on disk --------------------------------------------------

    @property
    def _store_path(self) -> str:
        return os.path.join(self.data_dir, "changesets")

    @property
    def _state_path(self) -> str:
        return os.path.join(self.data_dir, "changeset_state.txt")

    def load(self, start_sequence: int | None = None) -> None:
        """Repair a crashed commit, read the committed store (an empty one
        before the first commit), then the state row: ``changeset_state.txt``,
        else ``start_sequence`` (``--changeset-start-sequence``), else the
        published state the store's newest changeset falls in
        (``ChangesetStateManager.java:44-57``). An empty store with neither
        raises ``ValueError``."""
        self._recover()
        if os.path.isdir(self._store_path):
            self.store = self.spark.read.parquet(self._store_path)
        else:
            self.store = empty_frame(self.spark, CHANGESET_SCHEMA)
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                self.local_state = ReplicationState.parse(f.read())
        elif start_sequence is not None:
            self.local_state = ReplicationState(start_sequence, "")
        else:
            newest = self.store.agg(F.max("created_at")).first()[0]
            if newest is None:
                raise ValueError(
                    "empty changeset store and no state: run the bulk changeset "
                    "load first (reference: 'run changeset command first')"
                )
            self.local_state = self.server.find_start_state_by_timestamp(
                newest, self.server.get_latest_remote_state()
            )

    def catch_up(self, remote: ReplicationState, now: datetime) -> None:
        """One pass of the stream: apply (local, remote], reconcile stale
        open changesets and commit. A stream already at ``remote`` writes
        nothing."""
        if self.local_state is not None and remote.sequence == self.local_state.sequence:
            return
        store = self.update_to_remote_state(self.store, remote)
        self._commit(self.update_unclosed_changesets(store, now))

    def _commit(self, store: DataFrame) -> None:
        """Write the store once, beside the live one (the write reads the
        live store, so it cannot target it directly), swap it in by two
        renames, then advance the state row. Until the swap the live store
        stays whole, and :meth:`_recover` repairs a crash between the
        renames. This is the local-mode analog of the reference's
        PostgreSQL commit (the S16 JDBC sink is the drop-in for one)."""
        path = self._store_path
        tmp, old = path + ".tmp", path + ".old"
        store.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self.store = self.spark.read.parquet(path)
        with open(self._state_path, "w") as f:
            f.write(self.local_state.format())

    def _recover(self) -> None:
        """Finish or undo a commit a crashed pass left behind: a missing
        store with a ``.old`` beside it died between the renames, and that
        ``.old`` is the store ``changeset_state.txt`` (written after the
        swap) matches. Any ``.tmp`` is an unswapped write, and a ``.old``
        next to a live store was already replaced; both are dropped."""
        path = self._store_path
        old = path + ".old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        for leftover in (path + ".tmp", old):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)

    # -- catch-up loop (ChangesetStateManager.java:79-115) -----------------

    def update_to_remote_state(
        self, state: DataFrame, remote: ReplicationState | None = None
    ) -> DataFrame:
        """Apply every sequence in (local, remote] in batches of
        ``batch_size``; each batch is one upsert-merge and one state
        advance. Returns the new store DataFrame."""
        if self.local_state is None:
            raise ValueError("no local state: load first")
        remote = remote or self.server.get_latest_remote_state()
        first = self.local_state.sequence + 1 + self.server.replication_offset
        steps = remote.sequence - self.local_state.sequence
        seqs = list(range(first, first + steps))
        for i in range(0, len(seqs), self.batch_size):
            state = self._update_batch(state, seqs[i : i + self.batch_size])
        return state

    def _update_batch(self, state: DataFrame, batch: Sequence[int]) -> DataFrame:
        rows: list[dict] = []
        for seq in batch:  # files are km-scale; fetch serially on the driver
            rows.extend(parse_changesets_bytes(self.server.get_replication_file(seq)))
        batch_df = changeset_frame(self.spark, rows, with_pos=True)
        state = upsert_changesets(state, batch_df)
        self.local_state = self.server.get_remote_state(batch[-1])
        return state

    # -- >2h reconciliation (ChangesetStateManager.java:118-140) -----------

    def update_unclosed_changesets(
        self,
        state: DataFrame,
        now: datetime,
        api_fetch: Callable[[Iterable[int]], bytes] | None = None,
    ) -> DataFrame:
        """Re-fetch open changesets older than two hours from the API in
        id-batches of 100 and upsert the replies (they may have closed
        without a replication entry). ``api_fetch(ids) -> bytes`` is the
        injectable equivalent of the reference's
        ``/api/0.6/changesets?closed=true&changesets=…`` GET."""
        if api_fetch is None:
            api_fetch = self._osm_api_fetch
        ids = [r.id for r in open_changesets_older_than(state, now).collect()]
        rows: list[dict] = []
        for i in range(0, len(ids), self.api_batch_size):
            chunk = ids[i : i + self.api_batch_size]
            try:
                rows.extend(parse_changesets_bytes(api_fetch(chunk)))
            except FileNotFoundError:
                # API endpoint not reachable through this transport (offline
                # mirror / tests): leave the rows open, reconcile next pass
                continue
        if rows:
            batch_df = changeset_frame(self.spark, rows, with_pos=True)
            state = upsert_changesets(state, batch_df)
        return state

    def _osm_api_fetch(self, ids: Iterable[int]) -> bytes:
        url = (
            "https://www.openstreetmap.org/api/0.6/changesets?closed=true"
            "&changesets=" + ",".join(str(i) for i in ids)
        )
        return self.server.fetch(url)
