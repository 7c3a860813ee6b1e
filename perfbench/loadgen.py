"""The benchmark's own load generator: deterministic payloads derived
from the workload seed, and an open-loop sender.

Open loop: message ``i`` is due at ``t0 + (i + jitter[i]) * period``
whatever the engine is doing, so a stall makes the generator late
instead of quietly lowering the offered load.  Each send is stamped with its due
time; the lateness of every send is kept so a run where the generator
itself fell behind can be reported instead of compared."""

from __future__ import annotations

import hashlib
import random
import threading
import time
import zlib

N_EVENTS = 8


def event_name(seed: int, k: int) -> str:
    return f"ev{(k * 31 + seed) % N_EVENTS}"


def _body_len(seed: int, k: int) -> int:
    return 75 + (k * 7919 + seed) % 68


def message(seed: int, k: int) -> str:
    """JSON payload of message ``k``: about 100-180 bytes, content and
    length both vary with ``k``.  ``message_columns`` builds the very
    same string inside Spark for the bulk writer."""
    h = hashlib.sha256(f"{seed}:{k}".encode()).hexdigest()
    body = (h + h[::-1])[: _body_len(seed, k)]
    return f'{{"k":{k},"seed":{seed},"body":"{body}"}}'


def message_columns(seed: int, k_col):
    """(event, message) Spark columns equal to ``event_name`` and
    ``message`` for the long key column ``k_col``."""
    from pyspark.sql import functions as F

    h = F.sha2(F.concat(F.lit(f"{seed}:"), k_col.cast("string")), 256)
    n = ((k_col * F.lit(7919) + F.lit(seed)) % F.lit(68) + F.lit(75)).cast("int")
    body = F.concat(h, F.reverse(h)).substr(F.lit(1), n)
    msg = F.concat(
        F.lit('{"k":'),
        k_col.cast("string"),
        F.lit(f',"seed":{seed},"body":"'),
        body,
        F.lit('"}'),
    )
    ev = F.concat(
        F.lit("ev"), ((k_col * F.lit(31) + F.lit(seed)) % F.lit(N_EVENTS)).cast("string")
    )
    return ev.alias("event"), msg.alias("message")


def fingerprint(messages) -> tuple[int, int]:
    """Order-insensitive (count, crc32 sum) of message payloads."""
    n = s = 0
    for m in messages:
        n += 1
        s += zlib.crc32(m.encode())
    return n, s


def jitter(seed: int, count: int) -> list[float]:
    """Where in its period each message is due, as a share of the period,
    derived from the seed.  A message at the same point of every period
    met the engine's own periodic work (the subscribers' polling) at the
    same phase for a whole run, so a run measured that one phase."""
    rng = random.Random(f"jitter:{seed}")
    return [rng.random() for _ in range(count)]


class OpenLoop:
    """Calls ``send(i, due)`` for ``i`` in ``range(count)`` at
    ``t0 + (i + jitter[i]) * period`` on one thread (no jitter: at the
    start of each period), never waiting for the engine to catch up
    beyond the call itself.  ``late_s[i]`` is how late send ``i``
    started."""

    def __init__(
        self, send, period: float, count: int, name: str = "loadgen", jitter=None
    ):
        self.send = send
        self.period = period
        self.count = count
        self.jitter = list(jitter) if jitter is not None else [0.0] * count
        self.late_s: list[float] = []
        self.errors: list[BaseException] = []
        self.t0 = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name=name, daemon=True)

    def due(self, i: int) -> float:
        return self.t0 + (i + self.jitter[i]) * self.period

    def start(self, t0: float | None = None) -> "OpenLoop":
        self.t0 = time.perf_counter() if t0 is None else t0
        self._thread.start()
        return self

    def _run(self) -> None:
        for i in range(self.count):
            if self._stop.is_set():
                return
            due = self.due(i)
            wait = due - time.perf_counter()
            if wait > 0:
                self._stop.wait(wait)
            self.late_s.append(max(0.0, time.perf_counter() - due))
            try:
                self.send(i, due)
            except Exception as exc:  # counted by the workload as a failed send
                self.errors.append(exc)

    @property
    def running(self) -> bool:
        return self._thread.is_alive()

    def stop(self) -> None:
        self._stop.set()

    def join(self, timeout: float | None = None) -> bool:
        self._thread.join(timeout)
        return not self._thread.is_alive()
