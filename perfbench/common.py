"""Pieces the workloads share: the result record and the round loop."""

from __future__ import annotations

import pathlib
import time
from dataclasses import dataclass, field


@dataclass
class Result:
    """What a workload hands back to run.py.

    ``metrics`` holds the end-to-end values plus ``warmup_s`` (run.py adds
    the session start to it to make ``setup_s``). ``errors`` lists every
    output that disagreed with its independent check; ``correct`` is true
    when there is none.
    """

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return not self.errors

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def attempt(self, log, what: str, fn):
        """Run one operation; return (output or None if it raised, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted, reported, and the round goes on
            self.failed += 1
            first = (str(e).strip().splitlines() or [""])[0]
            log(f"FAILED {what}: {type(e).__name__}: {first[:300]}")
            return None, time.perf_counter() - t
        return out, time.perf_counter() - t

    def fail(self, log, what: str, why: str) -> None:
        """Count an operation that returned, but whose output has a known
        fault of the program (README.md, known faults), as failed."""
        self.failed += 1
        log(f"FAILED {what}: {why}")


def rounds(seconds: float):
    """Yield round numbers until ``seconds`` have passed; always at least
    two rounds, so that a median is never one sample of a round that a
    burst of load on the shared machine slowed, and a round is never cut
    short."""
    t0 = time.perf_counter()
    k = 0
    while True:
        yield k
        k += 1
        if k >= 2 and time.perf_counter() - t0 >= seconds:
            return


def dir_bytes(path: pathlib.Path) -> int:
    """Bytes of every regular file under ``path`` (what sits on disk)."""
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
