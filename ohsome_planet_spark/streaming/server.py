"""Replication server client (S12, ``ohsome-replication/.../Server.java``).

Driver-side component: it fetches tiny state files and one ``.osc.gz`` /
``.osm.gz`` per replication sequence — kilobytes to a few megabytes each —
so it runs on the driver and hands the *parsed batch* to Spark as a
DataFrame. The cluster-scale work (diff application, state merge, rebuild)
stays in :mod:`.replication` / :mod:`.changesets` as DataFrame plans.

Network access is abstracted behind an injectable ``fetch(url) -> bytes``
callable so every code path (including retry/backoff and 404 handling) is
testable offline; production callers pass ``urllib_fetch``. The retry loop
mirrors ``Server.java:111-132``: exponential backoff starting at 2 s,
doubling, capped at 60 s; a missing file (HTTP 404 / ``FileNotFoundError``)
propagates immediately — it means "sequence not published yet", which
callers treat as the end of the stream, not a transient fault.

Timestamp→sequence discovery ports the pyosmium algorithm the reference
vendors (``Server.java:190-275``): probe the earliest available state,
then interpolate on elapsed-seconds-per-sequence until the bracket
collapses. A target older than every available state fails loudly
instead of starting after it.
"""

from __future__ import annotations

import gzip
import time as _time
import urllib.error
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from .replication import ReplicationState, sequence_path

__all__ = [
    "Server",
    "entity_server",
    "changeset_server",
    "urllib_fetch",
    "file_fetch",
    "parse_iso",
    "server_for",
]


def urllib_fetch(url: str, cookie: str | None = None, timeout: float = 600.0) -> bytes:
    """Production transport: one GET, 10-minute timeout
    (``Server.java:118-119``). 404 → ``FileNotFoundError`` so the retry
    loop lets it propagate."""
    req = urllib.request.Request(url)
    if cookie:
        req.add_header("Cookie", cookie)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.read()
    except urllib.error.HTTPError as e:
        if e.code == 404:
            raise FileNotFoundError(url) from e
        raise


def file_fetch(base_dir: str):
    """Transport over a local directory laid out like a replication server
    (used with the vendored public fixtures). Maps ``<endpoint>/<path>`` to
    ``<base_dir>/<path>``."""

    def fetch(url: str) -> bytes:
        rel = url.split("://", 1)[-1].split("/", 1)[-1] if "://" in url else url
        try:
            with open(f"{base_dir}/{rel}", "rb") as f:
                return f.read()
        except OSError as e:
            raise FileNotFoundError(url) from e

    return fetch


def parse_iso(ts: str) -> datetime:
    """ISO-8601 timestamps of the entity server (``2025-10-22T09:04:45Z``)
    and of ``ReplicationState.timestamp``; a naive value is UTC."""
    d = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return d if d.tzinfo else d.replace(tzinfo=timezone.utc)


def _parse_changeset_ts(ts: str) -> datetime:
    """Changeset-server timestamps: ``2016-10-11 00:47:02.043685000 +00:00``
    (``Server.java:50-52`` pattern ``yyyy-MM-dd HH:mm:ss.SSSSSSSSS XXX``) —
    nanoseconds truncated to microseconds for ``datetime``."""
    date, clock, tz = ts.strip().split(" ")
    if "." in clock:
        main, frac = clock.split(".")
        clock = f"{main}.{frac[:6]}"
    return datetime.fromisoformat(f"{date}T{clock}{tz}")


@dataclass
class Server:
    """One replication endpoint (entity minutely stream or changeset
    stream); differences between the two are data, not code
    (``Server.java:34-67``)."""

    endpoint: str
    top_level_file: str
    sequence_key: str
    timestamp_key: str
    replication_file_suffix: str
    replication_offset: int
    timestamp_parser: Callable[[str], datetime]
    fetch: Callable[[str], bytes] = urllib_fetch
    sleep: Callable[[float], None] = _time.sleep
    max_attempts: int | None = None  # None = retry forever, like the reference

    # --- transport with retry/backoff (Server.java:111-132) ---------------

    def _get(self, url: str) -> bytes:
        backoff = 2.0
        attempt = 0
        while True:
            try:
                return self.fetch(url)
            except FileNotFoundError:
                raise
            except Exception:
                attempt += 1
                if self.max_attempts is not None and attempt >= self.max_attempts:
                    raise
                self.sleep(backoff)
                backoff = min(backoff * 2, 60.0)

    # --- state files ------------------------------------------------------

    def _parse_state(self, text: str) -> ReplicationState:
        """Both ``state.txt`` (``key=value``) and the changeset stream's
        ``state.yaml`` (``key: value``) — the reference reads both with
        ``java.util.Properties``, which accepts either separator."""
        seq = None
        ts: datetime | None = None
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith(("#", "---")):
                continue
            sep = "=" if "=" in line else ":"
            key, val = line.split(sep, 1)
            key, val = key.strip(), val.strip().replace("\\:", ":")
            if key == self.sequence_key:
                seq = int(val)
            elif key == self.timestamp_key:
                ts = self.timestamp_parser(val)
        if seq is None:
            raise ValueError(f"state file missing {self.sequence_key}")
        return ReplicationState(seq, ts.isoformat() if ts else "")

    def get_latest_remote_state(self) -> ReplicationState:
        return self._parse_state(
            self._get(f"{self.endpoint}{self.top_level_file}").decode()
        )

    def get_remote_state(self, sequence: int) -> ReplicationState:
        url = f"{self.endpoint}{sequence_path(sequence)}.state.txt"
        return self._parse_state(self._get(url).decode())

    # --- replication payloads --------------------------------------------

    def get_replication_file(self, sequence: int) -> bytes:
        """Fetch + gunzip one replication payload
        (``Server.java:162-164``)."""
        url = f"{self.endpoint}{sequence_path(sequence)}{self.replication_file_suffix}"
        return gzip.decompress(self._get(url))

    # --- timestamp -> sequence discovery (Server.java:190-275) ------------

    def _state_ts(self, state: ReplicationState) -> datetime:
        return parse_iso(state.timestamp)

    def find_start_state_by_timestamp(
        self, target: datetime, remote_state: ReplicationState
    ) -> ReplicationState:
        """Greatest published state whose timestamp is ≤ ``target``.
        Raises ``ValueError`` when every available state is newer: a later
        start would silently skip the diffs in between."""
        if target.tzinfo is None:
            target = target.replace(tzinfo=timezone.utc)
        if self._state_ts(remote_state) <= target:
            return remote_state
        lower, upper = self._states_around(remote_state, target)
        if self._state_ts(lower) > target:
            raise ValueError(
                f"no replication state at or before {target.isoformat()}: the "
                f"earliest available is sequence {lower.sequence} ({lower.timestamp})"
            )
        if self._state_ts(lower) == target:
            return lower
        while True:
            est = self.get_remote_state(self._estimate_seq(target, lower, upper))
            est_ts = self._state_ts(est)
            if est_ts < target:
                lower = est
            elif int(est_ts.timestamp()) == int(target.timestamp()):
                return est
            else:
                upper = est
            if lower.sequence + 1 >= upper.sequence:
                return lower

    def _states_around(
        self, upper: ReplicationState, target: datetime
    ) -> tuple[ReplicationState, ReplicationState]:
        while True:
            lower = self._earliest_available(upper)
            if (
                self._state_ts(lower) < target
                or lower.sequence == 0
                or lower.sequence + 1 >= upper.sequence
            ):
                return lower, upper
            upper = lower

    def _earliest_available(self, upper: ReplicationState) -> ReplicationState:
        """Probe from sequence 0 upward; on a gap (expired state file),
        bisect toward the known-good upper (``Server.java:247-263``). Once
        the midpoint cannot move past the last probe, nothing below
        ``upper`` is available and ``upper`` is returned (pyosmium's
        ``newid <= lowerid`` rule)."""
        seq = 0
        while True:
            try:
                return self.get_remote_state(seq + self.replication_offset)
            except FileNotFoundError:
                mid = (upper.sequence + seq) // 2
                if mid <= seq:
                    return upper
                seq = mid

    def _estimate_seq(
        self, target: datetime, lower: ReplicationState, upper: ReplicationState
    ) -> int:
        lo_ts, hi_ts = self._state_ts(lower), self._state_ts(upper)
        secs_to_target = (target - lo_ts).total_seconds()
        secs_between = (hi_ts - lo_ts).total_seconds() or 1.0
        seqs_between = upper.sequence - lower.sequence
        import math

        base = lower.sequence + math.ceil(secs_to_target * seqs_between / secs_between)
        return (
            min(max(base, lower.sequence + 1), upper.sequence - 1)
            + self.replication_offset
        )


def entity_server(
    endpoint: str,
    fetch: Callable[[str], bytes] = urllib_fetch,
    sleep: Callable[[float], None] = _time.sleep,
    max_attempts: int | None = None,
) -> Server:
    """Minutely OSM entity diffs: ``state.txt`` + ``NNN/NNN/NNN.osc.gz``
    (``Server.java:54-67``)."""
    if not endpoint.endswith("/"):
        endpoint += "/"
    return Server(
        endpoint, "state.txt", "sequenceNumber", "timestamp", ".osc.gz", 0,
        parse_iso, fetch, sleep, max_attempts,
    )


def changeset_server(
    endpoint: str,
    fetch: Callable[[str], bytes] = urllib_fetch,
    sleep: Callable[[float], None] = _time.sleep,
    max_attempts: int | None = None,
) -> Server:
    """Minutely changeset stream: ``state.yaml`` + ``NNN/NNN/NNN.osm.gz``,
    replication offset 1 (``Server.java:34-47``)."""
    if not endpoint.endswith("/"):
        endpoint += "/"
    return Server(
        endpoint, "state.yaml", "sequence", "last_run", ".osm.gz", 1,
        _parse_changeset_ts, fetch, sleep, max_attempts,
    )


def server_for(endpoint: str, factory: Callable[..., Server]) -> Server:
    """``factory`` (:func:`entity_server` / :func:`changeset_server`) over
    ``endpoint``: ``file://DIR`` reads a local mirror through
    :func:`file_fetch` (offline mirrors, tests); anything else uses urllib
    with the reference's retry/backoff."""
    if endpoint.startswith("file://"):
        return factory("local://mirror/", fetch=file_fetch(endpoint[len("file://"):]))
    return factory(endpoint)
