"""Polling cadence for the continuous replication loop — the reference's
``Waiter`` (``ohsome-replication-update/.../utils/Waiter.java:11-47``,
behavior pinned by its ``WaiterTest.java``):

- interruptible sleep at 1-second granularity so a shutdown request is
  honored mid-wait (graceful stop, not a killed JVM);
- exponential retry backoff 5 → 60 s (doubling, capped) when a pass
  found nothing new, reset to 5 s as soon as progress happens.

The waiter only paces the loop. Holding contributions back for the
changeset stream is one rule, ``replication.process_until``.
"""

from __future__ import annotations

import threading

BASE_RETRY_S = 5
MAX_RETRY_S = 60


class Waiter:
    def __init__(self, shutdown_event: threading.Event | None = None, clock=None):
        self._shutdown = shutdown_event or threading.Event()
        self._sleep1 = clock or (lambda: threading.Event().wait(1))
        self.retry_seconds = BASE_RETRY_S
        self.waits: list[tuple[int, str]] = []  # observable for tests/logs

    def sleep(self, seconds: int, reason: str) -> None:
        """Wait ``seconds``, checking the shutdown flag every second;
        raises InterruptedError on shutdown (the graceful-stop contract)."""
        self.waits.append((int(seconds), reason))
        for _ in range(int(seconds)):
            self._sleep1()
            if self._shutdown.is_set():
                raise InterruptedError(
                    "interrupted during waiting; shutting down"
                )

    def wait_for_retry(self) -> None:
        self.sleep(self.retry_seconds, "any state to change")
        self.retry_seconds = min(MAX_RETRY_S, self.retry_seconds * 2)

    def reset_retry(self) -> None:
        self.retry_seconds = BASE_RETRY_S
