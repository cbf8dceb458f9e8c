"""Pure bookkeeping for the benchmark: percentiles and the tail-sample rule,
the ledger-to-latency mapping for open-loop streams, and failure accounting.

Nothing here imports Spark, so the self-tests (``selftest.py``) run in
seconds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# strictly beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of an empty sample")
    ordered = sorted(values)
    n = len(ordered)
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


def tail(values: list[float], q: float) -> tuple[float | None, int]:
    """The q-th percentile and the number of samples strictly beyond it.

    The value is None when fewer than ``TAIL_MIN_BEYOND`` samples lie beyond
    it: such a percentile is one or two observations, not a tail."""
    if not values:
        return None, 0
    p = percentile(values, q)
    beyond = sum(1 for v in values if v > p)
    return (p if beyond >= TAIL_MIN_BEYOND else None), beyond


@dataclass
class LedgerEntry:
    """One generated input file: when it was due, when it became visible in
    the source directory, and how many rows it holds."""

    due: float
    created: float
    rows: int


@dataclass
class Trigger:
    """One micro-batch as the benchmark saw it: rows in (from Spark's
    progress event), trigger start (progress timestamp), and the wall time
    the ``foreachBatch`` sink returned."""

    batch_id: int
    rows: int
    start: float
    commit: float


@dataclass
class FileLatency:
    due: float
    created: float
    rows: int
    batch_id: int
    latency_s: float  # sink commit - due time
    queue_wait_s: float  # trigger start - creation, floored at 0


def map_latencies(ledger: list[LedgerEntry], triggers: list[Trigger]) -> list[FileLatency]:
    """Assign each ledger file to the trigger that consumed it.

    Triggers consume whole files in creation order, so walking the ledger
    oldest-first against each trigger's input-row count places every file.
    A trigger whose rows do not end on a file boundary, or rows left over
    at either end, means the mapping is not the one the stream ran, and
    raises ``ValueError``."""
    out: list[FileLatency] = []
    i = 0
    for trig in sorted(triggers, key=lambda t: t.batch_id):
        remaining = trig.rows
        while remaining > 0:
            if i >= len(ledger):
                raise ValueError(f"batch {trig.batch_id} read rows beyond the ledger")
            entry = ledger[i]
            if entry.rows > remaining:
                raise ValueError(
                    f"batch {trig.batch_id} ends inside file #{i} "
                    f"({remaining} of {entry.rows} rows)"
                )
            out.append(
                FileLatency(
                    due=entry.due,
                    created=entry.created,
                    rows=entry.rows,
                    batch_id=trig.batch_id,
                    latency_s=trig.commit - entry.due,
                    queue_wait_s=max(0.0, trig.start - entry.created),
                )
            )
            remaining -= entry.rows
            i += 1
    if i != len(ledger):
        raise ValueError(f"{len(ledger) - i} ledger files were never consumed")
    return out


@dataclass
class Outcome:
    """Attempts and failures for one run. ``failed`` counts units (queries
    or micro-batches) that raised or whose output disagreed with the
    reference; ``problems`` keeps a readable line for each."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int = 0, problem: str | None = None) -> None:
        if failed > attempted:
            raise ValueError("more failures than attempts")
        self.attempted += attempted
        self.failed += failed
        if problem:
            self.problems.append(problem)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def ok(self) -> bool:
        return self.attempted > 0 and self.failed == 0 and not self.problems


def exit_code(outcome: Outcome, valid: bool) -> int:
    """0 only for a run whose outputs all matched and whose generator kept
    its schedule; 1 otherwise."""
    return 0 if outcome.ok and valid else 1
